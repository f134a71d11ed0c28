"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[N]`` in one JVM, but every knob here is chosen
for the 1000-executor / 100 TB case: AQE on (post-shuffle coalescing + skew
join splitting), Arrow-batched Python execution with bounded batch sizes
(giant HTML documents must not blow one Arrow batch), and a shuffle
partition count that callers can override per data size.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# Arrow batch sizing is THE throughput lever for Python-heavy stages:
# too small (512) and per-batch overhead dominates (measured 2.6x slower
# than 4096 on ~1.5 kB pages); too big and one batch of MB-scale pages
# blows executor memory.  Default suits ~1-100 kB documents; for
# giant-page corpora pass get_spark(extra_conf=...) either
# spark.sql.execution.arrow.maxRecordsPerBatch ~ 256 MB / p99_page_bytes
# or a byte cap via spark.sql.execution.arrow.maxBytesPerBatch.
ARROW_MAX_RECORDS_PER_BATCH = 4096

# Python workers import the package through their own sys.path, which
# the driver's sys.path edits never reach; without this entry they
# found it only when the JVM's working directory held the package.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WORKER_PYTHONPATH = "spark.executorEnv.PYTHONPATH"

_WARMED_APP_IDS: set[str] = set()


def _warm_session(spark: SparkSession) -> None:
    """One small synthetic job exercising the JVM execution machinery —
    shuffle writer/reader, hash aggregation, broadcast build, sort,
    whole-stage codegen + JIT of the row/serializer hot paths — so the
    FIRST real query of a session measures steady state instead of
    absorbing one-time initialization (guide §1: the first shuffle of a
    session was measured to charge ~2 s of setup to whichever query runs
    it; the per-query cost is ~1.2 s warm).  The same reasoning the
    bench applies to Python workers ("warm-up ... so q1 measures steady
    state") extended to the JVM side.  Touches no input data and no
    operator of this package — 100k synthetic longs, discarded."""
    from pyspark.sql import functions as F

    app_id = spark.sparkContext.applicationId
    if app_id in _WARMED_APP_IDS:
        return
    _WARMED_APP_IDS.add(app_id)
    df = spark.range(0, 100_000, 1, 16).select(
        "id",
        F.concat(F.lit("w"), (F.col("id") % 1024).cast("string")).alias("k"),
        # pmod-bounded: ANSI mode is on, sum() of raw xxhash64 overflows
        F.pmod(F.xxhash64("id"), F.lit(1_000_000)).alias("h"),
    )
    small = spark.range(0, 256).select(
        (F.col("id")).alias("sid"), F.md5(F.col("id").cast("string")).alias("m")
    )
    (
        df.repartition(16, "k")
        .join(F.broadcast(small), F.col("id") % 256 == F.col("sid"))
        .groupBy("k")
        .agg(F.count("*").alias("n"), F.sum("h").alias("s"),
             F.max("m").alias("m"))
        .orderBy(F.desc("n"), "k")
        .limit(64)
        .agg(F.sum("s"), F.max("m"))
        .collect()
    )


def get_spark(
    app_name: str = "wceb-spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[*]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    conf = dict(extra_conf or {})
    conf[_WORKER_PYTHONPATH] = os.pathsep.join(
        p for p in (conf.get(_WORKER_PYTHONPATH), _PACKAGE_ROOT) if p)
    for key, value in conf.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    _warm_session(spark)
    return spark
