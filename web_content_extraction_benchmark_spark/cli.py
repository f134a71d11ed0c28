"""``wceb-spark`` — CLI parity wrapper over the Spark plans.

Mirrors the reference's ``wceb`` click CLI surface (cli/extract.py:22-68,
cli/eval.py, cli/complexity.py: ``extract``, ``convert-datasets``,
``eval score``, ``eval aggregate``, ``complexity calculate``) with a thin
argparse layer — each subcommand only parses flags and calls the same
plan functions the driver queries use.

Run as ``python -m web_content_extraction_benchmark_spark.cli <cmd> ...``
or via the repo-root ``wceb-spark`` launcher.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .sources.raw_datasets import FORMATS

ANSWERS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("model", T.StringType(), False),
        T.StructField("plaintext", T.StringType(), True),
    ]
)

SCORES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("model", T.StringType(), False),
        T.StructField("dataset", T.StringType(), True),
        T.StructField("dist", T.DoubleType(), True),
        T.StructField("prec", T.DoubleType(), True),
        T.StructField("rec", T.DoubleType(), True),
        T.StructField("f1", T.DoubleType(), True),
    ]
)

# every --format name: the FORMATS table (the eight annotated datasets,
# each layout written down once in sources/raw_datasets.py) plus the two
# container formats, whose converters have no truth side
RAW_FORMATS = (*FORMATS, "pdf", "warc")


def _spark(args: argparse.Namespace) -> SparkSession:
    from .session import get_spark

    spark = get_spark(
        "wceb-spark-cli",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _models(args: argparse.Namespace) -> list[str]:
    from .extractors import list_extractors

    avail = list_extractors() + ["neural"]
    models = args.model or ["main_content"]
    unknown = sorted(set(models) - set(avail) - {"all"})
    if unknown:
        raise SystemExit(
            f"unknown model(s) {unknown}; available: {avail}"
        )
    if "all" in models:
        explicit = [m for m in models if m != "all"]
        expansion = [m for m in avail if m != "neural"]
        models = expansion + [m for m in explicit if m not in expansion]
    return models


def cmd_extract(args: argparse.Namespace) -> None:
    """Reference ``wceb extract``: run extractors, write sorted JSONL."""
    from .extractors.neural import neural_extract_answers
    from .plans.pipeline import extract_answers, repartition_salted
    from .sources.jsonl import write_jsonl
    from .sources.pages import synthesize_pages

    spark = _spark(args)
    models = _models(args)
    pages = synthesize_pages(spark, args.sf_dir)
    if args.salt_partitions:
        pages = repartition_salted(pages, args.salt_partitions)
    parts = []
    classic = [m for m in models if m != "neural"]
    if classic:
        parts.append(
            extract_answers(pages, classic).select("url", "model", "plaintext")
        )
    if "neural" in models:
        parts.append(
            neural_extract_answers(pages).select(
                "url", F.lit("neural").alias("model"), "plaintext"
            )
        )
    answers = parts[0]
    for p in parts[1:]:
        answers = answers.unionByName(p)
    if getattr(args, "wet", False):
        # publish as Common-Crawl-WET-style conversion records (one
        # model only — WET has no model axis)
        if len(models) != 1:
            raise SystemExit("--wet requires exactly one -m model")
        from .sources.warc import write_wet

        manifest = write_wet(answers.select("url", "plaintext"),
                             args.output)
        n = sum(m["n_records"] for m in manifest)
        print(f"wrote {n} WET conversion records "
              f"({len(manifest)} files) -> {args.output}")
        return
    write_jsonl(answers.select("url", "model", "plaintext"), args.output,
                sort_by=["url", "model"], golden=args.golden)
    print(f"wrote answers for models={models} -> {args.output}")


def cmd_convert_datasets(args: argparse.Namespace) -> None:
    """Reference ``wceb convert-datasets``: raw tree -> combined JSONL."""
    from .sources import raw_datasets as rd
    from .sources.jsonl import write_jsonl

    spark = _spark(args)
    root = args.input
    fmt = args.format
    if fmt in FORMATS:
        df = rd.convert_dataset(spark, fmt, root)
    elif fmt == "pdf":
        df = rd.convert_pdf(spark, root)
    elif fmt == "warc":
        # container ingest -> content-type-routed extraction (a crawl
        # is not all HTML: application/pdf responses go through the PDF
        # parser, everything else through the HTML kernel); the key
        # falls back to the full url when the crawl's urls don't end in
        # a numeric doc id
        from .plans.pipeline import extract_mixed
        from .sources.warc import read_warc

        src = F.regexp_extract("url", r"/(\d+)$", 1)
        # keep the error column: with skip-style crawls a per-row parse
        # failure (plaintext null, error set) must stay distinguishable
        # from a genuinely empty extraction in the JSONL output
        df = extract_mixed(read_warc(spark, root)) \
            .select(F.when(src != "", src).otherwise(F.col("url"))
                    .alias("source"), "url", "kind", "plaintext", "error")
    write_jsonl(df, args.output,
                sort_by=[c for c in ("source", "url") if c in df.columns],
                golden=args.golden)
    print(f"converted {fmt} -> {args.output}")


def cmd_eval_score(args: argparse.Namespace) -> None:
    """Reference ``wceb eval score``: per-page metrics vs ground truth."""
    from .plans.pipeline import score_answers
    from .sources.jsonl import read_jsonl, write_jsonl
    from .sources.pages import synthesize_pages, truth_table

    spark = _spark(args)
    answers = read_jsonl(spark, args.answers, ANSWERS_SCHEMA)
    if args.model:
        answers = answers.filter(F.col("model").isin(args.model))
    truth = truth_table(synthesize_pages(spark, args.sf_dir))
    scores = score_answers(answers, truth)
    write_jsonl(scores, args.output, sort_by=["url", "model"],
                golden=args.golden)
    print(f"scored {args.answers} -> {args.output}")


def cmd_eval_aggregate(args: argparse.Namespace) -> None:
    """Reference ``wceb eval aggregate``: mean/median per (model,
    dataset) + _micro/_macro rollups, exported as CSV/markdown/LaTeX,
    plus the histogram/box-plot distribution tables behind the
    reference's plots."""
    from .plans.pipeline import aggregate_scores
    from .sources.jsonl import read_jsonl
    from .sources.reports import (
        export_report,
        score_boxplot_stats,
        score_histogram,
    )

    spark = _spark(args)
    scores = read_jsonl(spark, args.scores, SCORES_SCHEMA).persist()
    agg = aggregate_scores(scores)
    rounded = agg.select(
        "model", "dataset",
        *[F.round(c, 6).alias(c) for c in agg.columns[2:]],
    )
    paths = export_report(rounded, args.output_dir, name=args.name)
    paths.update(
        {
            f"hist_{k}": v
            for k, v in export_report(
                score_histogram(scores, args.score_col),
                args.output_dir, name=f"{args.name}_hist",
            ).items()
        }
    )
    paths.update(
        {
            f"box_{k}": v
            for k, v in export_report(
                score_boxplot_stats(scores, args.score_col),
                args.output_dir, name=f"{args.name}_box",
            ).items()
        }
    )
    scores.unpersist()
    for kind, path in sorted(paths.items()):
        print(f"{kind}: {path}")


def cmd_complexity_calculate(args: argparse.Namespace) -> None:
    """Reference ``wceb complexity calculate``: per-page complexity +
    quantile table."""
    from .operators.relational import complexity_quantiles, page_complexity
    from .sources.jsonl import write_jsonl
    from .sources.pages import synthesize_pages, truth_table

    spark = _spark(args)
    pages = synthesize_pages(spark, args.sf_dir)
    cx = page_complexity(pages, truth_table(pages)).persist()
    write_jsonl(
        cx.select("url", F.round("complexity", 6).alias("complexity")),
        args.output, sort_by="url", golden=args.golden,
    )
    for row in complexity_quantiles(cx).collect():
        print(row.asDict())
    cx.unpersist()
    print(f"complexities -> {args.output}")


def cmd_dedup_append(args: argparse.Namespace) -> None:
    """Beyond-reference: append a JSONL/parquet batch of (doc_id, text)
    to a persisted incremental near-dup index (operators/
    incremental_dedup.NearDupIndex) — signs only the batch, dedups it
    against everything committed, prints the pair/cluster deltas."""
    from .operators.incremental_dedup import NearDupIndex

    spark = _spark(args)
    reader = spark.read
    batch = (
        reader.json(args.batch) if args.batch.endswith((".jsonl", ".json"))
        else reader.parquet(args.batch)
    ).select(
        F.col(args.id_col).cast("long").alias("doc_id"),
        F.col(args.text_col).alias("text"),
    )
    # fresh index: unset flags take the PRODUCTION LSH shape (128/16
    # OPH at 0.8), not the library's oracle-fixture defaults; existing
    # index: unset flags load the persisted config, and a conflicting
    # explicit flag raises (the config is part of the index).  The
    # fresh-vs-existing decision lives in NearDupIndex.open — one probe,
    # one place.
    idx = NearDupIndex.open(
        args.index,
        fresh_defaults={"num_hashes": 128, "bands": 16,
                        "jaccard_threshold": 0.8, "hash_fn": "oph"},
        num_hashes=args.num_hashes,
        bands=args.bands,
        jaccard_threshold=args.threshold,
        hash_fn=args.hash_fn,
        signature=args.signature,
        max_hamming=args.max_hamming,
        emb_dim=args.emb_dim,
    )
    pairs = idx.add_batch(batch)
    n_pairs = pairs.count()
    # add_batch returns a PERSISTED DataFrame (caller-must-unpersist
    # contract); a daemon looping this command path would otherwise
    # accumulate one cached pair set per batch for the session lifetime
    pairs.unpersist()
    version = idx.assert_consistent()
    labels = idx.labels(spark)
    n_clusters = labels.select("component").distinct().count()
    print(
        f"index {args.index} now at v{version}: batch added "
        f"{batch.count()} docs, {n_pairs} new near-dup pairs; "
        f"{n_clusters} clusters / {labels.count()} clustered docs total"
    )


def _open_existing_index(path: str):
    """Maintenance commands operate on an EXISTING index only — opening
    a typo'd path would silently create empty store directories and
    report a no-op success."""
    from .operators.incremental_dedup import NearDupIndex

    if NearDupIndex._read_meta(path) is None:
        raise SystemExit(
            f"no index at {path} (no index_meta.json) — maintenance "
            "needs a committed index; create one with 'dedup append'"
        )
    return NearDupIndex.open(path)


def cmd_dedup_compact(args: argparse.Namespace) -> None:
    """Maintenance: re-bound the index stores' files-per-bucket (each
    append lands one file per touched bucket, so a daily-append
    deployment otherwise grows probe open/task counts with the append
    count, not the data)."""
    spark = _spark(args)
    idx = _open_existing_index(args.index)
    rewritten = idx.compact(
        spark, max_files_per_bucket=args.max_files_per_bucket
    )
    version = idx.assert_consistent()
    print(
        f"index {args.index} at v{version}: buckets rewritten "
        f"{rewritten} (bound: {args.max_files_per_bucket} files/bucket)"
    )


def cmd_dedup_expire(args: argparse.Namespace) -> None:
    """Maintenance: drop index snapshot history past --keep-last and
    delete the data files nothing retained references (superseded
    label rewrites and crashed-write orphans otherwise accumulate
    forever under daily appends)."""
    idx = _open_existing_index(args.index)
    stats = idx.expire(keep_last=args.keep_last)
    version = idx.assert_consistent()
    removed = {name: s["files_removed"] for name, s in stats.items()}
    print(
        f"index {args.index} at v{version}: kept last {args.keep_last} "
        f"snapshots, data files removed {removed}"
    )


def cmd_dedup_export(args: argparse.Namespace) -> None:
    """Write the deduplicated view (one canonical doc per cluster) of
    everything committed to the index."""
    from .operators.incremental_dedup import NearDupIndex
    from .sources.jsonl import write_jsonl

    spark = _spark(args)
    idx = NearDupIndex.open(args.index)
    uniq = idx.unique_docs(spark)
    write_jsonl(uniq, args.output, sort_by="doc_id")
    print(f"{uniq.count()} unique docs -> {args.output}")


def cmd_linkgraph(args: argparse.Namespace) -> None:
    """Host link-graph exports over the synthesized pages: WAT-style
    per-page link metadata, host->host edges, or PageRank scores."""
    from .operators.linkgraph import (
        extract_outlinks_raw,
        host_edges,
        page_links_raw,
        pagerank_hosts,
        wat_records,
        wat_records_full,
    )
    from .sources.jsonl import write_jsonl
    from .sources.pages import synthesize_pages

    spark = _spark(args)
    pages = synthesize_pages(spark, args.sf_dir)
    if args.what == "wat-full":
        out = wat_records_full(page_links_raw(pages))
        write_jsonl(out, args.output, sort_by="url", golden=args.golden)
        print(f"wrote {args.what} ({out.count()} records) -> {args.output}")
        return
    outlinks = extract_outlinks_raw(pages)
    if args.what == "wat":
        out = wat_records(outlinks)
        write_jsonl(out, args.output, sort_by="url", golden=args.golden)
    elif args.what == "edges":
        out = host_edges(outlinks)
        write_jsonl(out, args.output, sort_by=["src_host", "dst_host"],
                    golden=args.golden)
    else:
        out = pagerank_hosts(host_edges(outlinks),
                             iterations=args.iterations)
        write_jsonl(out, args.output, sort_by="host", golden=args.golden)
    print(f"wrote {args.what} ({out.count()} records) -> {args.output}")


def build_parser() -> argparse.ArgumentParser:
    from .operators.dedup import HASH_FNS

    parser = argparse.ArgumentParser(
        prog="wceb-spark",
        description="PySpark web-content-extraction benchmark CLI",
    )
    parser.add_argument("--master", default="local[*]")
    parser.add_argument("--shuffle-partitions", type=int, default=32)
    sub = parser.add_subparsers(dest="command", required=True)

    p = sub.add_parser("extract", help="run extractors, write JSONL answers")
    p.add_argument("-m", "--model", action="append",
                   help="model name or 'all' (repeatable)")
    p.add_argument("--sf-dir", required=True)
    p.add_argument("-o", "--output", required=True)
    p.add_argument("--salt-partitions", type=int, default=0,
                   help="salted repartition width (0 = keep input layout)")
    p.add_argument("--golden", action="store_true",
                   help="single sorted file (test/golden mode)")
    p.add_argument("--wet", action="store_true",
                   help="write WET-style WARC conversion records "
                        "instead of JSONL (one model only)")
    p.set_defaults(fn=cmd_extract)

    p = sub.add_parser("convert-datasets",
                       help="convert a raw dataset tree to combined JSONL")
    p.add_argument("--format", required=True, choices=RAW_FORMATS)
    p.add_argument("-i", "--input", required=True)
    p.add_argument("-o", "--output", required=True)
    p.add_argument("--golden", action="store_true")
    p.set_defaults(fn=cmd_convert_datasets)

    pe = sub.add_parser("eval", help="score / aggregate model answers")
    esub = pe.add_subparsers(dest="eval_command", required=True)

    p = esub.add_parser("score", help="per-page metrics vs ground truth")
    p.add_argument("--answers", required=True)
    p.add_argument("--sf-dir", required=True)
    p.add_argument("-m", "--model", action="append")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("--golden", action="store_true")
    p.set_defaults(fn=cmd_eval_score)

    p = esub.add_parser("aggregate",
                        help="mean/median + micro/macro rollup report")
    p.add_argument("--scores", required=True)
    p.add_argument("-o", "--output-dir", required=True)
    p.add_argument("--name", default="scores")
    p.add_argument("--score-col", default="f1",
                   help="main score column for distribution tables")
    p.set_defaults(fn=cmd_eval_aggregate)

    pd_ = sub.add_parser(
        "dedup", help="incremental near-dup index (beyond-reference)"
    )
    dsub = pd_.add_subparsers(dest="dedup_command", required=True)

    p = dsub.add_parser("append", help="dedup a new batch against the "
                        "committed index and commit it")
    p.add_argument("--index", required=True,
                   help="index directory (created on first append)")
    p.add_argument("--batch", required=True,
                   help="parquet dir or .jsonl file of (doc_id, text)")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    # None = fresh index takes the production shape (128/16 oph @0.8);
    # existing index loads its persisted config
    p.add_argument("--threshold", type=float, default=None)
    p.add_argument("--hash-fn", default=None,
                   choices=HASH_FNS)
    p.add_argument("--num-hashes", type=int, default=None)
    p.add_argument("--bands", type=int, default=None)
    p.add_argument("--signature", default=None,
                   choices=["minhash", "simhash", "embedding"],
                   help="fresh index only: signature family (default "
                        "minhash; existing indexes load theirs).  "
                        "embedding treats --text-col as a float-vector "
                        "column, banded by seeded hyperplane LSH and "
                        "verified by exact cosine >= --threshold")
    p.add_argument("--max-hamming", type=int, default=None,
                   help="simhash verify bound (default 3)")
    p.add_argument("--emb-dim", type=int, default=None,
                   help="embedding signature only: vector width (the "
                        "seeded hyperplanes are drawn at this shape)")
    p.set_defaults(fn=cmd_dedup_append)

    p = dsub.add_parser("compact", help="re-bound the index stores' "
                        "files-per-bucket (run between append batches)")
    p.add_argument("--index", required=True)
    p.add_argument("--max-files-per-bucket", type=int, default=8)
    p.set_defaults(fn=cmd_dedup_compact)

    p = dsub.add_parser("expire", help="drop snapshot history past "
                        "--keep-last and delete unreferenced data files")
    p.add_argument("--index", required=True)
    p.add_argument("--keep-last", type=int, default=2)
    p.set_defaults(fn=cmd_dedup_expire)

    p = dsub.add_parser("export", help="write one canonical doc per "
                        "near-dup cluster (sorted JSONL)")
    p.add_argument("--index", required=True)
    p.add_argument("-o", "--output", required=True)
    p.set_defaults(fn=cmd_dedup_export)

    p = sub.add_parser("linkgraph", help="WAT-style link metadata, "
                       "host edges, or PageRank over the pages")
    p.add_argument("--sf-dir", required=True)
    p.add_argument("-o", "--output", required=True)
    p.add_argument("--what",
                   choices=("wat", "wat-full", "edges", "pagerank"),
                   default="wat")
    p.add_argument("--iterations", type=int, default=5,
                   help="PageRank iterations (pagerank only)")
    p.add_argument("--golden", action="store_true",
                   help="single sorted file (test/golden mode)")
    p.set_defaults(fn=cmd_linkgraph)

    pc = sub.add_parser("complexity", help="page extraction complexity")
    csub = pc.add_subparsers(dest="complexity_command", required=True)
    p = csub.add_parser("calculate", help="per-page complexity + quantiles")
    p.add_argument("--sf-dir", required=True)
    p.add_argument("-o", "--output", required=True)
    p.add_argument("--golden", action="store_true")
    p.set_defaults(fn=cmd_complexity_calculate)

    return parser


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main(sys.argv[1:])
