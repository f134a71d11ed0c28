"""PII redaction (operators/redaction.py): full-corpus Spark == DuckDB
equality (the patterns are pinned to the Java/RE2 common subset),
idempotence, ordering (card runs before phone), and the JVM-side
no-shuffle plan contract."""

import random
import string

import duckdb
import pytest
from pyspark.sql import functions as F

from web_content_extraction_benchmark_spark.operators.redaction import (
    PII_RULES,
    redact_pii,
    redact_pii_sql,
)

PLANTED = [
    "reach me at dev.lead+spam@host7.example.org today",
    "server 10.0.254.3 rejected card 4012-8888-8888-1881",
    "fax 030-555-0101 cell +49-151-555-0102 pin 4532015112830366",
    "a@b.io 1.2.3.4 0000 0000 0000 0000",
    "",
    # r6: IPv6 (full + ::-compressed) and space-separated intl phone
    "node fe80:1:2:3:4:5:6:7 and 2001:db8::8a2e:370:7334 up",
    "call +44 20 7946 0958 now",
    # v4-mapped/NAT64 tails: one <IP6>, never a leaked quad (review r6)
    "nat64 64:ff9b::1.2.3.4 mapped 2001:db8::ffff:10.0.0.9 done",
    "leading ::ffff:192.168.1.20 form",
    # MALFORMED 7-hex-group + quad: redacted whole, no '.2.3.4' tail
    # leak from the 8-group rule eating the first octet (ADVICE r6)
    "bad 1:2:3:4:5:6:7:1.2.3.4 blob",
]

# deliberately NOT redacted — the operator's pinned exclusion list
# (see the module docstring's contract)
NOT_PII = [
    "build 1.2.3.999 shipped as 999.999.999.999",
    "loopback ::1 and fe80:: are link-local",
    "row 415 555 2671 total",
]


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    planted = spark.createDataFrame(
        [(10_000_000 + i, t) for i, t in enumerate(PLANTED)],
        "doc_id long, text string",
    )
    # also splice PII INTO real corpus text (mid-document positions)
    spliced = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"),
        F.concat_ws(
            " ", F.col("text"), F.lit("ops@crawl.example 172.16.0.9")
        ).alias("text"),
    )
    return docs.unionByName(planted).unionByName(spliced).cache()


def test_redaction_matches_duckdb_corpus_wide(corpus, sf_dir):
    got = {
        r.doc_id: r.text for r in redact_pii(corpus).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?)",
        [(r.doc_id, r.text) for r in corpus.collect()],
    )
    want = dict(
        con.execute(
            f"SELECT doc_id, {redact_pii_sql('text')} FROM t"
        ).fetchall()
    )
    assert len(got) == len(want) > 500
    assert got == want
    # the planted rows actually redacted (the test bites)
    assert "<EMAIL>" in got[10_000_000]
    assert "<IP>" in got[10_000_001] and "<CC>" in got[10_000_001]
    assert "<PHONE>" in got[10_000_002] and "<CC>" in got[10_000_002]
    # the +country prefix is consumed by the match — no stray '+'
    # before the placeholder (review finding r5)
    assert "+<PHONE>" not in got[10_000_002]
    assert "cell <PHONE>" in got[10_000_002]
    # bounded octets: 1.2.3.4 still redacts
    assert "<IP>" in got[10_000_003]
    # r6 rules: full + compressed IPv6, space-separated intl phone
    assert got[10_000_005] == "node <IP6> and <IP6> up"
    assert got[10_000_006] == "call <PHONE> now"
    # v4-mapped tails are ONE token — no '.2.3.4' leak after the <IP6>
    assert got[10_000_007] == "nat64 <IP6> mapped <IP6> done"
    # ::-leading v4-mapped: the quad still redacts (prefix remains —
    # documented exclusion)
    assert got[10_000_008] == "leading ::ffff:<IP> form"
    # malformed 7-group + quad: one <IP6>, never '<IP6>.2.3.4'
    assert got[10_000_009] == "bad <IP6> blob"


def test_redaction_pinned_exclusions(spark):
    """The contract's NOT-redacted list stays byte-untouched — these are
    deliberate exclusions (version strings, ::-leading IPv6, bare
    space-separated number triplets), not missed PII."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(NOT_PII)], "doc_id long, text string"
    )
    got = {r.doc_id: r.text for r in redact_pii(df).collect()}
    for i, t in enumerate(NOT_PII):
        assert got[i] == t, (got[i], t)


def test_redaction_idempotent_and_ordered(spark):
    df = spark.createDataFrame(
        [(1, " ".join(t for t in PLANTED if t))], "doc_id long, text string"
    )
    once = redact_pii(df).collect()[0].text
    twice = redact_pii(redact_pii(df)).collect()[0].text
    assert once == twice
    # grouped card runs become ONE <CC>, never a phone fragment
    assert "<CC>" in once and "4012" not in once
    # placeholders survive (no rule matches the bracketed tokens)
    assert once.count("<EMAIL>") == 2


def test_redaction_plan_is_jvm_side(corpus):
    plan = redact_pii(corpus)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Exchange" not in plan


def test_rules_are_java_re2_common_subset():
    """Guard the dialect contract: no backreferences, no lookaround,
    no possessive quantifiers — the constructs whose semantics differ
    between java.util.regex and RE2-family engines."""
    for pattern, _ in PII_RULES:
        for banned in ("(?=", "(?!", "(?<", "\\1", "++", "*+", "?+"):
            assert banned not in pattern, (pattern, banned)


# Seeded adversarial fuzz: random digit/colon/dot/@-laden strings must
# scrub byte-identically in Spark and DuckDB (one batched run per
# engine) and be idempotent.
N_CASES = 400


def _rng_strings(seed: int, alphabet: str, prefixes: list[str]) -> list[str]:
    rng = random.Random(seed)
    out = []
    for i in range(N_CASES):
        body = "".join(
            rng.choice(alphabet) for _ in range(rng.randrange(0, 60))
        )
        out.append(rng.choice(prefixes) + body)
    return out


@pytest.fixture(scope="module")
def duck():
    return duckdb.connect()


def test_redaction_fuzz_cross_engine(spark, duck):
    from web_content_extraction_benchmark_spark.operators.redaction import (
        redact_pii,
        redact_pii_sql,
    )

    cases = _rng_strings(
        911,
        string.digits + "abcdefABCDEF.:-+ @x" + string.ascii_lowercase[:6],
        ["", "ip ", "+", "::", "fe80:", "4012-", "a@b."],
    )
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "i long, text string"
    )
    once = redact_pii(df)
    got = {r.i: r.text for r in once.collect()}
    duck.execute("CREATE OR REPLACE TABLE fuzz_pii(i BIGINT, text VARCHAR)")
    duck.executemany(
        "INSERT INTO fuzz_pii VALUES (?,?)", list(enumerate(cases))
    )
    want = dict(
        duck.execute(
            f"SELECT i, {redact_pii_sql('text')} FROM fuzz_pii"
        ).fetchall()
    )
    diffs = {
        i: (cases[i], got[i], want[i]) for i in got if got[i] != want[i]
    }
    assert not diffs, list(diffs.items())[:3]
    # idempotence (placeholders never re-match)
    twice = {r.i: r.text for r in redact_pii(once).collect()}
    assert twice == got
