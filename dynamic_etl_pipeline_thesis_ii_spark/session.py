"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]``; the conf below is chosen so the same
logical plans survive a 1000-executor cluster: AQE on (runtime shuffle
coalescing + skew-join splitting), broadcast threshold generous enough to
broadcast every TPC-H-ish dimension, Arrow enabled for every pandas-UDF
boundary, UTC session timezone so date/timestamp semantics match the
DuckDB oracle exactly.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS: dict[str, str] = {
    # Adaptive execution: coalesce post-shuffle partitions at small SF,
    # split skewed joins at large SF. Essential for a 100 TB plan to
    # survive without hand-tuned partition counts.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dimension tables (region/nation/customer/supplier/part at test SF)
    # should always broadcast; at cluster scale AQE re-decides from
    # runtime stats.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for every pandas interchange (applyInPandas / mapInPandas /
    # pandas_udf) — 10-100x over row-at-a-time pickling.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Deterministic time semantics shared with the oracle.
    "spark.sql.session.timeZone": "UTC",
    # Local-mode shuffle width; on a real cluster AQE coalesces upward
    # from a larger initial number.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    "spark.sql.parquet.compression.codec": "zstd",
    # The driver's synthetic parquet carries TIMESTAMP(NANOS) which Spark
    # rejects by default; read as long and let the Catalog convert
    # (sources/registry.py) to TimestampType at microsecond precision.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Parquet timestamps written without isAdjustedToUTC would otherwise
    # load as TIMESTAMP_NTZ, a second timestamp type downstream operators
    # would have to handle. Load them as session-UTC TimestampType — the
    # same interpretation DuckDB applies to the same file. The Catalog
    # additionally normalizes NTZ for sessions built without this conf.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # PySpark 4 wraps every DataFrame/Column method to ship the Python
    # call site to the JVM for error context (PySparkCurrentOrigin.set +
    # clear = 2 py4j round trips + a Python stack walk PER METHOD CALL).
    # Plan construction for the wide composite queries makes tens of
    # thousands of such calls; disabling the capture cut headline plan
    # construction ~2.5 s (dedup_neardup_pairs build 4.1->3.0 s,
    # ann_topk 1.3->0.75 s measured at sf0.1). Driver-side latency only;
    # errors lose the "called from <file>:<line>" frame, nothing else.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Generated-code classes are cached by their source; Spark's default
    # cache holds 100, and the engine's working set is larger: the 49
    # registry queries compile 884 distinct classes at sf0.01, one
    # four-op NL pass (chunk, census, corpus_to_shards, finance) about
    # 180, corpus_to_shards alone 142. With 100 entries LRU eviction
    # dropped every class before its next use, so each warm pass
    # recompiled its whole set (~178 Janino compiles per NL pass, ~175
    # per perfbench registry pass, at 25-45 ms of driver CPU each).
    # 2000 covers both with room; warm passes compile 0 classes. Cost:
    # metaspace. After a GC following two passes of all 49 queries it
    # held 185.6 MB against 178.3 MB with the default cache (about 9 KB
    # per retained class). A static conf: it takes effect at JVM start.
    "spark.sql.codegen.cache.maxEntries": "2000",
}


def get_spark(app_name: str = "dynamic-etl-pipeline-spark", master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) the engine SparkSession."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(master or f"local[{cpus}]")
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
