"""Sinks (reference S13–S15, SURVEY.md §2.1).

The reference writes per-output CSVs (``validator/validator.py:507-566``)
and SQLite tables with append/replace/fail modes + row-count verification
(``transform/load.py:24-218``), plus per-run JSON artifact reports
(``backend/app/services/pipeline_service.py:130-239``).

Spark-first equivalents: parquet is the primary format (columnar,
splittable, predicate-pushdown-able — CSV is offered for parity only);
``if_exists`` maps onto Spark save modes; verification re-reads the
written data lazily (a count, not a full materialization)."""

from __future__ import annotations

import json
import os
import time
from typing import Iterable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dynamic_etl_pipeline_thesis_ii_spark.scope import cache_scope, persist_scoped

_MODES = {"append": "append", "replace": "overwrite", "fail": "error"}


class SinkError(RuntimeError):
    pass


def write_table(df: DataFrame, path: str, fmt: str = "parquet",
                if_exists: str = "replace", verify: bool = True,
                partition_by: Optional[list[str]] = None) -> dict:
    """Write one frame with reference ``if_exists`` semantics
    (``transform/load.py:143-150``) and optional row-count verification
    (``load.py:282-286``). Returns a load report dict."""
    if if_exists not in _MODES:
        raise SinkError(f"invalid if_exists: {if_exists!r} (append|replace|fail)")
    t0 = time.perf_counter()
    writer = df.write.mode(_MODES[if_exists]).format(fmt)
    if fmt == "csv":
        writer = writer.option("header", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)
    report = {"path": path, "format": fmt, "mode": if_exists,
              "elapsed_sec": round(time.perf_counter() - t0, 3)}
    if verify:
        reader = df.sparkSession.read
        back = (reader.option("header", "true").csv(path) if fmt == "csv"
                else reader.format(fmt).load(path))
        report["rows_written"] = back.count()
    return report


def save_outputs(dfs: Iterable[DataFrame], out_dir: str, prefix: str = "result",
                 fmt: str = "parquet") -> list[dict]:
    """Per-output numbered sink (``validator/validator.py:507-566``)."""
    os.makedirs(out_dir, exist_ok=True)
    return [write_table(df, os.path.join(out_dir, f"{prefix}_{i}"), fmt=fmt)
            for i, df in enumerate(dfs)]


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Filesystem-agnostic existence check through the JVM Hadoop
    FileSystem (works for local paths, HDFS, s3a, ... — os.path only
    covers local)."""
    jvm = spark._jvm
    jsc = spark._jsc
    conf = jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf).exists(p)


def read_if_present(spark: SparkSession, path: str, read):
    """``read(path)`` when ``path`` exists, else None. A missing store is
    its bootstrap state; one that exists but cannot be read raises a
    :class:`SinkError` naming the path, chained to the read error, instead
    of reading as absent."""
    if not _path_exists(spark, path):
        return None
    try:
        return read(path)
    except Exception as exc:  # noqa: BLE001 — any failed read of a present store
        raise SinkError(f"unreadable store at {path}: {exc}") from exc


def append_new_keys(df: DataFrame, path: str, key_cols: list[str],
                    fmt: str = "parquet") -> dict:
    """Idempotent append: only rows whose key is absent from the sink
    are written (left-anti join against the existing data), so
    re-running an ingestion batch never duplicates rows — the batch
    twin of streaming dropDuplicatesWithinWatermark. The anti-join
    reads only the key columns of the existing data (column pruning);
    at scale, partition the sink by a key prefix so the probe prunes
    partitions too.

    Only a genuinely-missing sink path is treated as "first write" — any
    other probe failure (permissions, corrupt footer, transient IO) is
    re-raised rather than silently overwriting an existing sink with
    just the current batch."""
    spark = df.sparkSession
    if _path_exists(spark, path):
        existing = spark.read.format(fmt).load(path).select(*key_cols)
        fresh = df.join(existing, on=key_cols, how="left_anti")
        mode = "append"
    else:  # first write: nothing to probe
        fresh = df
        mode = "overwrite"
    report = write_table(fresh, path, fmt=fmt,
                         if_exists="append" if mode == "append" else "replace")
    report["mode"] = "idempotent_append"
    return report


def compact_snapshot(spark, path: str, dest: str,
                     key_cols: list[str], target_rows_per_file: int = 5_000_000,
                     fmt: str = "parquet") -> dict:
    """Compact an append-grown snapshot (keys/bands stores): after N
    epochs of :func:`append_new_keys` the sink holds N small file
    batches — the classic small-file problem that makes every probe
    open thousands of footers at 100 TB. One pass rewrites it:
    DISTINCT on the key columns (appends are idempotent but belt and
    braces across manual writes), range-repartitioned and sorted
    WITHIN files on the first key so parquet min/max stats prune
    probe scans, sized at ``target_rows_per_file`` of the DEDUPED
    count (sizing from the raw count would under-fill every file by
    the store's duplication factor). Writes to
    ``dest`` (never in place — a failed in-place rewrite would eat
    the snapshot; callers swap paths or update their pointer on the
    returned success). Returns {rows, files_before, files_after}."""
    from pyspark.sql import functions as F

    df = spark.read.format(fmt).load(path)
    files_before = df.inputFiles()
    rows = df.count()
    # size files from the DEDUPED count: an append-heavy store can
    # hold many copies per key, and sizing from the raw count would
    # leave every output file under-filled by the duplication factor.
    # The distinct is cached so the count and the write share one
    # dedup shuffle instead of running it twice.
    with cache_scope():
        deduped = persist_scoped(df.dropDuplicates(key_cols))
        n_distinct = deduped.count()
        n_files = max(1, -(-n_distinct // target_rows_per_file))
        out = (deduped
               .repartitionByRange(n_files, *[F.col(c) for c in key_cols])
               .sortWithinPartitions(*key_cols))
        out.write.format(fmt).mode("overwrite").save(dest)
    back = spark.read.format(fmt).load(dest)
    return {"rows": back.count(), "rows_before": rows,
            "files_before": len(files_before),
            "files_after": len(back.inputFiles()),
            "path": dest}


def write_bucketed(df: DataFrame, table: str, bucket_cols: list[str],
                   n_buckets: int = 16, sort_cols: Optional[list[str]] = None,
                   if_exists: str = "replace") -> None:
    """Bucketed managed table (scale path for co-located joins): two
    tables bucketed on the same keys with the same bucket count join
    WITHOUT a shuffle — at 100 TB, pre-bucketing fact tables on their
    join keys removes the dominant exchange from every downstream join.
    (Parquet-file bucketing requires saveAsTable — plain ``save`` paths
    cannot record bucket metadata.)"""
    if if_exists not in _MODES:
        raise SinkError(f"invalid if_exists: {if_exists!r}")
    writer = (df.write.mode(_MODES[if_exists]).format("parquet")
              .bucketBy(n_buckets, *bucket_cols))
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_jdbc(df: DataFrame, url: str, table: str,
               if_exists: str = "replace", driver: Optional[str] = None,
               verify: bool = True,
               properties: Optional[dict[str, str]] = None) -> dict:
    """JDBC sink (S14 — reference ``transform/load.py:24-218``): the
    reference loads frames into SQLite with append/replace/fail modes
    and post-write row-count verification; here the same contract goes
    through Spark's JDBC writer, so any JDBC database works (tested
    against Derby embedded, which ships in Spark's own classpath —
    SQLite itself has no JDBC driver jar in this environment).

    Each partition writes over its own connection — at scale the
    parallel-writer count is the frame's partition count; coalesce
    first when the target can't take that many sessions. Verification
    is a lazy ``read.jdbc`` count, not a full materialization;
    ``rows_written`` is the TOTAL row count readable in the table after
    the write (the reference's post-load verification semantics,
    ``load.py:282-286``) — under ``append`` that is prior rows + this
    batch, not the batch size."""
    if if_exists not in _MODES:
        raise SinkError(f"invalid if_exists: {if_exists!r} (append|replace|fail)")
    t0 = time.perf_counter()

    def _opts(rw):
        rw = rw.option("url", url).option("dbtable", table)
        if driver:
            rw = rw.option("driver", driver)
        for k, v in (properties or {}).items():
            rw = rw.option(k, v)
        return rw

    _opts(df.write.mode(_MODES[if_exists]).format("jdbc")).save()
    report = {"url": url, "table": table, "mode": if_exists,
              "elapsed_sec": round(time.perf_counter() - t0, 3)}
    if verify:
        back = _opts(df.sparkSession.read.format("jdbc")).load()
        report["rows_written"] = back.count()
    return report


def write_run_artifacts(out_dir: str, reports: dict) -> str:
    """Per-run JSON artifact report
    (``pipeline_service.py:130-239``): one ``report.json`` holding the
    stage reports (validation/transformation/enrichment)."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "report.json")
    with open(path, "w") as f:
        json.dump(reports, f, indent=2, default=str)
    return path


def write_shards(df: DataFrame, path: str, n_shards: int,
                 key_col: str, fmt: str = "parquet",
                 max_records_per_file: Optional[int] = None,
                 if_exists: str = "replace",
                 shuffle_salt: Optional[str] = None,
                 verify: bool = True,
                 manifest: bool = False) -> dict:
    """Balanced shard writer for curated training corpora: exactly
    ``n_shards`` output shard DIRECTORIES (``shard=0..n-1`` via
    ``partitionBy``), each a deterministic hash slice of ``key_col`` —
    re-running the job reproduces the same doc→shard assignment, and
    downstream loaders can address shards individually.

    Scale design: one round-robin-free `repartition(n_shards, shard)`
    shuffle keyed on the md5-derived shard id (uniform — no skewed
    shards even when ``key_col`` values cluster), optionally capped by
    ``maxRecordsPerFile`` so a hot shard still splits into
    loader-friendly files. Note ``repartition`` HASH-partitions the
    shard id, so distinct shard values can collide into one Spark task
    (leaving others empty): directory placement stays exact, but writer
    parallelism is ≤ ``n_shards``, not pinned to it — acceptable
    because the write is one pass and ``partitionBy`` splits files per
    directory regardless. The shard id is persisted as a column so a
    reader can verify placement without re-hashing.

    ``shuffle_salt`` additionally orders rows WITHIN each shard by the
    salted key hash — the deterministic corpus shuffle training runs
    need (a different salt draws an independent permutation per epoch;
    re-running with the same salt reproduces byte-identical shards).
    Sharding already hash-scatters docs across shards, so the within-
    shard sort completes the permutation with zero extra shuffles — a
    ``sortWithinPartitions``, never a global ``orderBy``.

    ``verify=False`` skips the read-back per-shard count: the verify
    scans everything AT the path, so under ``append`` its cost grows
    with the accumulated corpus, not this batch — high-frequency
    append loops should disable it (or verify out-of-band) once the
    sink is large.

    ``manifest=True`` additionally writes the order-insensitive
    per-shard integrity manifest (:func:`shard_manifest` over the
    READ-BACK data) to ``<path>_manifest`` — the receiving side of a
    data shipment re-runs :func:`verify_shard_manifest` against it to
    prove no row was lost, duplicated, or corrupted, without
    re-sorting the corpus. One extra aggregation pass over the
    written data.
    """
    from pyspark.sql import functions as F

    from dynamic_etl_pipeline_thesis_ii_spark.operators.dedup import hash32
    if n_shards <= 0:
        raise SinkError(f"n_shards must be positive, got {n_shards}")
    if if_exists not in _MODES:
        raise SinkError(f"invalid if_exists: {if_exists!r} (append|replace|fail)")
    t0 = time.perf_counter()
    sharded = (df.withColumn("shard", (hash32(F.col(key_col).cast("string"))
                                       % n_shards).cast("int"))
               .repartition(n_shards, "shard"))
    if shuffle_salt is not None:
        order = hash32(F.concat(F.col(key_col).cast("string"),
                                F.lit(shuffle_salt)))
        # lead with the partition column: partitionBy() writes require
        # an ordering on it and would otherwise insert their own
        # (non-stable) sort on top, destroying the permutation
        sharded = sharded.sortWithinPartitions(
            F.col("shard"), order, F.col(key_col))
    writer = sharded.write.mode(_MODES[if_exists]).format(fmt)
    if fmt == "csv":
        writer = writer.option("header", "true")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.partitionBy("shard").save(path)
    if not verify and not manifest:
        return {"path": path, "format": fmt, "n_shards": n_shards,
                "elapsed_sec": round(time.perf_counter() - t0, 3)}
    # read-back verification mirrors the writer's options (header for
    # CSV); note rows_written counts everything AT the path, so in
    # append mode it includes rows from earlier runs — same semantics
    # as write_table's verify.
    man_path = path + "_manifest"
    fold = (manifest and _MODES[if_exists] == "append"
            and _path_exists(df.sparkSession, man_path))
    out = {"path": path, "format": fmt, "n_shards": n_shards}
    if verify or (manifest and not fold):
        # the read-back scans everything AT the path; the fold path
        # deliberately avoids it so verify=False append loops stay
        # batch-cost (the verify docstring's recommendation)
        reader = df.sparkSession.read
        if fmt == "csv":
            reader = reader.option("header", "true")
        # explicit schema: an all-filtered input writes ZERO part
        # files (only _SUCCESS), and schema inference on that raises
        # UNABLE_TO_INFER_SCHEMA — an empty corpus must verify as
        # rows_written=0, not crash the run
        back = reader.format(fmt).schema(sharded.schema).load(path)
    if verify:
        per_shard = {int(r["shard"]): r["n"] for r in
                     back.groupBy("shard")
                     .agg(F.count(F.lit(1)).alias("n")).collect()}
        out["rows_written"] = sum(per_shard.values())
        out["shard_rows"] = per_shard
    if manifest:
        if fold:
            # the manifest is MERGEABLE by design: fold this batch's
            # fingerprints (computed from the exact frame written)
            # onto the stored ones at BATCH cost — recomputing over
            # everything AT the path would grow with the accumulated
            # corpus, the same trap the verify docstring warns about.
            # Parquet round-trips values exactly, so batch-frame
            # hashes equal read-back hashes; CSV callers should
            # verify with the writer's reader options.
            prior = df.sparkSession.read.parquet(man_path)
            folded = (prior.unionByName(shard_manifest(sharded))
                      .groupBy("shard")
                      .agg(F.sum("n_rows").alias("n_rows"),
                           F.sum("content_hash").alias("content_hash")))
            rows = folded.collect()   # materialize BEFORE overwrite
            df.sparkSession.createDataFrame(rows, prior.schema) \
                .coalesce(1).write.mode("overwrite").parquet(man_path)
        else:
            # bootstrap / replace: compute from the read-back so a
            # manifest enabled mid-life of an append store still
            # covers rows written before manifests were on
            shard_manifest(back).write.mode("overwrite") \
                .parquet(man_path)
        out["manifest_path"] = man_path
    out["elapsed_sec"] = round(time.perf_counter() - t0, 3)
    return out


def shard_manifest(df: DataFrame,
                   content_cols: Optional[list] = None,
                   shard_col: str = "shard") -> DataFrame:
    """Per-shard integrity manifest: ``(shard, n_rows, content_hash)``
    where ``content_hash`` is the SUM (in ``decimal(38,0)`` — exact,
    no wrap) of each row's ``hash32`` over its key + content columns.
    Order-INSENSITIVE by construction (sums commute), so the manifest
    of a written shard set equals the manifest of the frame that
    produced it regardless of task scheduling, file order, or reader
    parallelism — and sums are mergeable, so an append batch's
    manifest folds onto a stored one. This is the data-shipping
    verification story at 100 TB: recompute the manifest on the
    receiving side and compare three numbers per shard instead of
    re-sorting terabytes; any dropped/duplicated/bit-flipped row
    moves the sum. One aggregation, no shuffle beyond the groupBy.
    ``content_cols`` defaults to every column except the shard id;
    nulls fold to a sentinel (NULL concat would zero the row out).
    Engine-portable (md5-derived hash32): :func:`SQL_SHARD_MANIFEST`
    is the DuckDB twin."""
    from pyspark.sql import functions as F

    from dynamic_etl_pipeline_thesis_ii_spark.operators.dedup import hash32
    if content_cols is None:
        content_cols = [c for c in df.columns if c != shard_col]
    payload = F.concat_ws(
        "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                  for c in content_cols])
    row_h = hash32(payload).cast("decimal(38,0)")
    return (df.groupBy(F.col(shard_col))
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(row_h).alias("content_hash")))


def SQL_SHARD_MANIFEST(table: str, content_cols: list,
                       shard_col: str = "shard") -> str:
    """DuckDB twin of :func:`shard_manifest` (differential pytest)."""
    payload = " || chr(31) || ".join(
        f"coalesce({c}::VARCHAR, chr(0))" for c in content_cols)
    return f"""
SELECT {shard_col} AS shard, count(*)::BIGINT AS n_rows,
       sum(('0x' || substr(md5({payload}), 1, 8))::BIGINT)::HUGEINT
         AS content_hash
FROM {table} GROUP BY {shard_col}
"""


def verify_shard_manifest(spark: SparkSession, path: str,
                          manifest: DataFrame,
                          content_cols: Optional[list] = None,
                          fmt: str = "parquet") -> dict:
    """Receiving-side check: recompute :func:`shard_manifest` over the
    shard set AT ``path`` and diff it against the stored/shipped
    ``manifest``. Returns ``{ok, n_shards, mismatched}`` where
    ``mismatched`` lists shard ids whose (n_rows, content_hash)
    disagree — including shards present on only one side (a lost or
    extra shard directory is a mismatch, not a skip)."""
    back = spark.read.format(fmt).load(path)
    got = {int(r["shard"]): (r["n_rows"], r["content_hash"])
           for r in shard_manifest(
               back, content_cols=content_cols).collect()}
    want = {int(r["shard"]): (r["n_rows"], r["content_hash"])
            for r in manifest.collect()}
    bad = sorted(s for s in set(got) | set(want)
                 if got.get(s) != want.get(s))
    return {"ok": not bad, "n_shards": len(want), "mismatched": bad}


def zorder_key(df: DataFrame, cols: list[str], bits: int = 8,
               quantile_error: float = 0.001) -> DataFrame:
    """Append a ``__zkey`` column: the Z-order (Morton) interleave of
    per-column QUANTILE bucket ids — the multi-dimensional clustering
    key behind :func:`zorder_write`.

    Per column, ``2^bits - 1`` quantile boundaries come from one
    ``approxQuantile`` pass (driver holds ``2^bits`` doubles per
    column — bounded, never data-sized) and the bucket id is a
    literal-array fold (``F.aggregate`` over the boundary array —
    pure column expressions, whole-stage codegen, no UDF). Quantile
    buckets instead of uniform ``width_bucket`` ranges make the key
    skew-robust: every bucket holds ~1/2^bits of the rows no matter
    the value distribution. Bit interleaving takes bucket bit ``i``
    of column ``j`` to key bit ``i * n_cols + j``, so a range
    predicate on ANY of the columns maps to ~``2^((n-1)/n)`` of the
    key space — the property that makes min/max file stats prune on
    every dimension at once instead of only the leading sort column."""
    k = len(cols)
    if k < 1:
        raise ValueError("zorder_key needs at least one column")
    probs = [i / (1 << bits) for i in range(1, 1 << bits)]

    def _bucket(col_name: str, arr):
        # closure factory: F.aggregate introspects the merge lambda's
        # arity, so the column name must be captured, not defaulted
        return F.aggregate(
            arr, F.lit(0),
            lambda acc, b: acc + F.when(
                F.col(col_name).cast("double") >= b, 1).otherwise(0))

    buckets = []
    for c in cols:
        casted = df.select(F.col(c).cast("double").alias(c))
        bnds = casted.stat.approxQuantile(c, probs, quantile_error)
        arr = F.array(*[F.lit(float(b)) for b in bnds])
        buckets.append(_bucket(c, arr))
    z = F.lit(0)
    for i in range(bits):
        for j, bcol in enumerate(buckets):
            z = z + F.shiftleft(
                F.shiftright(bcol, i).bitwiseAND(F.lit(1)), i * k + j)
    return df.withColumn("__zkey", z.cast("long"))


def zorder_write(df: DataFrame, path: str, cols: list[str],
                 bits: int = 8, n_files: Optional[int] = None,
                 target_rows_per_file: int = 5_000_000,
                 fmt: str = "parquet") -> dict:
    """Z-order-clustered write: range-partition + sort ON the Morton
    key (:func:`zorder_key`) so each parquet file covers a compact
    HYPERCUBE of the value space rather than a slab of the leading
    sort column. Min/max footer stats then prune scans filtered on
    ANY clustered column — the layout-level answer to "this table is
    queried by time AND by entity" that a single-column sort
    structurally cannot give (the Delta/Iceberg OPTIMIZE ZORDER
    shape, built from plain repartitionByRange + parquet).

    One extra shuffle over a plain write (the range partitioning);
    the quantile pass is a driver-bounded sample scan. Sizing follows
    :func:`compact_snapshot`'s convention (``target_rows_per_file``
    of the actual count) unless ``n_files`` pins it. The key column
    is dropped before the write — the layout, not the value, is the
    product. Returns {rows, n_files, cols, bits}."""
    keyed = zorder_key(df, cols, bits=bits)
    if n_files is None:
        n_rows = df.count()
        n_files = max(1, -(-n_rows // target_rows_per_file))
    out = (keyed.repartitionByRange(n_files, F.col("__zkey"))
           .sortWithinPartitions("__zkey")
           .drop("__zkey"))
    out.write.format(fmt).mode("overwrite").save(path)
    back = df.sparkSession.read.format(fmt).load(path)
    return {"rows": back.count(), "n_files": len(back.inputFiles()),
            "cols": list(cols), "bits": bits}


# ---------------------------------------------------------------------------
# bucketed corpus store with MERGE INTO (SK5): the mutable-corpus
# maintenance primitive — continuous-ingest pipelines re-crawl,
# re-score and re-clean documents, and "replace these keys, insert
# those" must not cost a corpus rewrite
# ---------------------------------------------------------------------------

def save_corpus_store(df: DataFrame, path: str, key_col: str = "doc_id",
                      n_buckets: int | None = None,
                      rows_per_bucket: int = 100_000) -> dict:
    """Write a hash-bucketed corpus store: rows land in directory
    partition ``bucket = pmod(xxhash64(key), n_buckets)`` so a later
    :func:`merge_into_corpus` reads and rewrites ONLY the buckets
    holding batch keys (Hive-style partition pruning does the file
    skipping; everything else is never opened). ``n_buckets``
    derives corpus-proportionally by default (constant rows per
    bucket — the ``derive_n_buckets`` curve): at 100 TB the rewrite
    unit must stay batch-scale, and with FIXED buckets it would grow
    with the corpus instead. The (key_col, n_buckets) geometry lands
    in a ``<path>_meta`` sidecar — merges must bucket with the
    store's own geometry, exactly like the hamming-snapshot probes
    reuse the snapshot's banding. Returns {rows, n_buckets}."""
    n_rows = df.count()
    if n_buckets is None:
        n_buckets = max(8, n_rows // max(1, rows_per_bucket))
    out = df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(key_col)),
                         F.lit(n_buckets)).cast("int"))
    out.write.mode("overwrite").partitionBy("bucket").parquet(path)
    spark = df.sparkSession
    # rows_per_bucket rides along so later merges can estimate
    # geometry growth against the store's own derive curve (older
    # 2-column metas read fine — merge falls back to the default)
    spark.createDataFrame(
        [(key_col, int(n_buckets), int(rows_per_bucket))],
        "key_col string, n_buckets int, rows_per_bucket int") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(path.rstrip("/") + "_meta")
    return {"rows": n_rows, "n_buckets": int(n_buckets)}


def merge_into_corpus(spark: SparkSession, path: str,
                      batch: DataFrame) -> dict:
    """MERGE the batch into a :func:`save_corpus_store` store by key:
    batch rows REPLACE same-key store rows and INSERT otherwise (the
    Delta/Iceberg ``MERGE INTO ... WHEN MATCHED UPDATE / WHEN NOT
    MATCHED INSERT`` shape from plain Spark + parquet).

    Cost model — the 100 TB contract: the batch buckets with the
    store's own geometry; only the TOUCHED buckets (<= batch-key
    count, usually far fewer) are read back, anti-joined against the
    broadcast batch key set, unioned with the batch and rewritten
    through dynamic partition overwrite — untouched bucket
    directories are never opened, never rewritten, byte-identical
    after the merge (pinned in tests). Survivor rows pin via
    localCheckpoint BEFORE the overwrite commits so the rewrite
    never reads the files it is replacing. Returns
    {buckets_touched, rows_updated, rows_inserted, rows_kept}."""
    base = path.rstrip("/")
    meta = spark.read.parquet(base + "_meta").first()
    key_col, n_buckets = meta["key_col"], meta["n_buckets"]
    store_cols = [c for c in spark.read.parquet(base).columns
                  if c != "bucket"]
    if set(batch.columns) != set(store_cols):
        raise SinkError(
            f"batch schema {sorted(batch.columns)} does not match "
            f"the store's {sorted(store_cols)} — a silent column "
            f"drop would corrupt merged rows")
    batchb = (batch.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(key_col)),
                         F.lit(n_buckets)).cast("int"))
        .localCheckpoint())
    touched = sorted(r["bucket"] for r in
                     batchb.select("bucket").distinct().collect())
    if not touched:          # empty batch: nothing to read or write
        return {"buckets_touched": 0, "rows_updated": 0,
                "rows_inserted": 0, "rows_kept": 0,
                "est_rows_per_bucket": 0}
    batch_keys = batchb.select(key_col).distinct()
    existing = (spark.read.parquet(base)
                .filter(F.col("bucket").isin(touched)))
    n_existing = existing.count()
    keep = (existing.join(F.broadcast(batch_keys), key_col,
                          "left_anti")
            .localCheckpoint())       # pin BEFORE the overwrite
    n_keep = keep.count()
    n_batch = batchb.count()
    merged = keep.unionByName(batchb.select(*keep.columns))
    # a writer option, not the session conf: concurrent runs on the
    # shared session keep their own (static) overwrite semantics
    merged.write.mode("overwrite") \
        .option("partitionOverwriteMode", "dynamic") \
        .partitionBy("bucket").parquet(base)
    report = {"buckets_touched": len(touched),
              "rows_updated": n_existing - n_keep,
              "rows_inserted": n_batch - (n_existing - n_keep),
              "rows_kept": n_keep}
    # Geometry-growth advisory: the store's bucket count is frozen at
    # save time, so a store grown far past its save-time size carries
    # per-bucket rewrite units that grow with the corpus. Estimate
    # rows/bucket from the buckets THIS merge already read (batch-cost
    # — no full-store scan) and flag when it exceeds 4x the derive
    # curve; the fix is :func:`rebucket_corpus_store`.
    rows_per_bucket = (meta["rows_per_bucket"]
                       if "rows_per_bucket" in meta.__fields__
                       and meta["rows_per_bucket"] is not None
                       else 100_000)
    est = (n_keep + report["rows_updated"]) / len(touched)
    report["est_rows_per_bucket"] = int(est)
    if est > 4 * rows_per_bucket:
        report["geometry_advisory"] = (
            f"store averages ~{int(est)} rows/bucket across the "
            f"{len(touched)} buckets this merge touched — over 4x the "
            f"~{rows_per_bucket}/bucket derive curve. Merge rewrite "
            f"units grow with the corpus under frozen geometry; run "
            f"rebucket_corpus_store to restore constant-size buckets.")
    return report


def rebucket_corpus_store(spark: SparkSession, path: str, dest: str,
                          rows_per_bucket: int | None = None) -> dict:
    """Re-derive a :func:`save_corpus_store` store's bucket geometry
    from its CURRENT row count and rewrite it to ``dest`` (never in
    place — the :func:`compact_snapshot` discipline: a failed
    in-place rewrite would eat the store; callers swap paths on the
    returned success). The SK2-for-SK5 face: ``merge_into_corpus``
    honors frozen save-time geometry — correct per merge, but a store
    grown N× through merges keeps its stale bucket count, so
    per-bucket rewrite units grow N×. One full-store pass restores
    the constant rows/bucket contract; afterwards merges against
    ``dest`` are batch-cost again. ``rows_per_bucket`` defaults to the
    STORE's own saved derive curve (the meta sidecar) so the rebucket
    restores the geometry the store was built with, not a generic
    default. Returns the new geometry plus the before/after
    rows-per-bucket so callers can verify the ratio dropped."""
    import os as _os

    base = path.rstrip("/")
    # compare RESOLVED paths, not strings: '/data//store', a relative
    # alias or a symlink would slip past a string check and the
    # overwrite would eat the very files the lazy read still needs.
    # A dest NESTED inside the store is just as fatal in a different
    # way: it plants a non-'bucket=' directory inside the partitioned
    # layout, breaking every later partition-discovery read of the
    # original store — reject descendants too (commonpath).
    real_base = _os.path.realpath(base)
    real_dest = _os.path.realpath(dest.rstrip("/"))
    if (dest.rstrip("/") == base or real_dest == real_base
            or _os.path.commonpath([real_dest, real_base]) == real_base):
        raise SinkError(
            "rebucket must write to a NEW path outside the store — an "
            "in-place rewrite would read the files it is replacing "
            "and eat the store on failure, and a dest nested inside "
            "the store plants a foreign directory in the partitioned "
            "layout that breaks later partition-discovery reads; pass "
            "a fresh sibling dest and swap pointers on success")
    meta = spark.read.parquet(base + "_meta").first()
    key_col, old_buckets = meta["key_col"], meta["n_buckets"]
    if rows_per_bucket is None:
        rows_per_bucket = (meta["rows_per_bucket"]
                           if "rows_per_bucket" in meta.__fields__
                           and meta["rows_per_bucket"] is not None
                           else 100_000)
    df = spark.read.parquet(base).drop("bucket")
    report = save_corpus_store(df, dest.rstrip("/"), key_col=key_col,
                               rows_per_bucket=rows_per_bucket)
    return {"rows": report["rows"],
            "n_buckets_before": int(old_buckets),
            "n_buckets_after": report["n_buckets"],
            "rows_per_bucket_before": report["rows"] // max(1, old_buckets),
            "rows_per_bucket_after":
                report["rows"] // max(1, report["n_buckets"]),
            "path": dest}


WDS_MANIFEST_SCHEMA = ("shard int, file string, rows long, "
                       "members long, n_bytes long, sha256 string")


def write_webdataset(df: DataFrame, path: str, key_col: str = "doc_id",
                     n_shards: Optional[int] = None,
                     text_col: Optional[str] = "text",
                     binary_col: Optional[str] = None,
                     ext_col: Optional[str] = None,
                     meta_cols: Optional[list[str]] = None,
                     target_shard_mb: float = 256,
                     check_unique: bool = True,
                     if_exists: str = "replace") -> dict:
    """WebDataset tar-shard sink — the delivery format multimodal
    training loaders (webdataset/torchdata-style) stream: ``path/
    shard-%06d.tar`` files whose members group by key — ``{key}.json``
    (metadata, always present so every row survives a read-back),
    ``{key}.txt`` (``text_col``, when non-null) and ``{key}.{ext}``
    (``binary_col`` bytes with the per-row ``ext_col`` extension,
    when non-null). The write-side twin of the ZIP/TAR ingestion door
    (``sources/archives.py`` reads these shards back member-per-row).

    Scale design, the 100 TB contract:

    - **One shuffle.** ``shard = hash32(key) % n_shards`` (the
      :func:`write_shards` discipline — uniform, reproducible,
      reader-recomputable), ``repartition(n_shards, shard)`` then a
      ``sortWithinPartitions`` — shards arrive CONTIGUOUS and sorted
      inside each task, so the tar kernel streams rows through open
      file handles at O(arrow-batch) memory, never holding a shard.
    - **JVM-side serialization.** The metadata member is built with
      ``F.to_json(F.struct(...))`` in whole-stage codegen; the Python
      kernel only moves bytes into tars.
    - **Deterministic bytes.** Member order is fixed (json, txt,
      payload; rows sorted by key), tar metadata is zeroed
      (mtime=0, uid/gid=0, mode 0644), so the same corpus produces
      byte-identical shards under ANY input partitioning — re-runs
      and elastic retries converge, and the manifest sha256 is a
      meaningful shipment fingerprint.
    - **Atomic shards.** Each tar lands via write-to-temp +
      ``os.replace`` (temp name carries the pid so speculative
      attempts never clobber each other mid-write); a killed job
      leaves no half-written ``.tar``. Assumes a POSIX-renameable
      shared filesystem at ``path`` (local/NFS/fuse-mounted object
      store); for raw object stores, stage locally and upload.
    - **Sized shards.** ``n_shards=None`` derives from corpus bytes
      (one column-pruned aggregate) to hit ``target_shard_mb`` per
      shard — loader-friendly units that stay constant as the corpus
      grows, the ``derive_n_buckets`` philosophy.
    - **Manifest.** Per-shard (rows, members, bytes, sha256) lands at
      ``<path>_manifest`` (parquet) — the receiving side proves a
      shipment complete file-by-file without opening tars.

    WebDataset keys must be unique (a duplicate silently merges two
    rows' members into one sample); ``check_unique=True`` spends one
    key-only aggregate to reject duplicates actionably. Keys are
    sanitized (path separators → ``_``) since the key is a tar member
    basename. Writer parallelism is ≤ ``n_shards`` (hash collisions
    can co-locate shard ids in one task — same caveat as
    ``write_shards``).
    """
    import glob as _glob
    import os as _os

    from dynamic_etl_pipeline_thesis_ii_spark.operators.dedup import hash32

    if if_exists not in ("replace", "fail"):
        raise SinkError(f"invalid if_exists: {if_exists!r} (replace|fail)")
    cols = df.columns
    for c, label in ((key_col, "key_col"), (text_col, "text_col"),
                     (binary_col, "binary_col"), (ext_col, "ext_col")):
        if c is not None and c not in cols:
            raise SinkError(f"{label} {c!r} not in frame columns {cols}")
    t0 = time.perf_counter()
    key = F.regexp_replace(F.col(key_col).cast("string"), r"[/\\]", "_")
    if check_unique:
        dups = (df.select(key.alias("k"))
                .groupBy("k").agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") > 1))
        bad = dups.limit(3).collect()
        if bad:
            raise SinkError(
                "duplicate webdataset keys (keys must be unique per "
                "sample): e.g. "
                + ", ".join(f"{r['k']!r}×{r['n']}" for r in bad)
                + " — dedup on the key column first, or disable "
                  "check_unique if pre-validated")
    if meta_cols is None:
        meta_cols = [c for c in cols
                     if c not in (key_col, text_col, binary_col, ext_col)]
    meta_cols = sorted(meta_cols)
    if n_shards is None:
        sz = [F.sum(F.coalesce(F.octet_length(F.col(text_col)),
                               F.lit(0)))] if text_col else []
        if binary_col:
            sz.append(F.sum(F.coalesce(
                F.octet_length(F.col(binary_col)), F.lit(0))))
        # + ~256 B/row of json+tar-header overhead so metadata-only
        # corpora still split; the count also caps n_shards (a shard
        # per row is the most a derive can usefully ask for)
        sz.append(F.count(F.lit(1)).alias("n_rows__"))
        agg = df.agg(*sz).first()
        n_rows = int(agg["n_rows__"] or 0)
        total = sum(r or 0 for r in agg[:-1]) + 256 * n_rows
        per_shard = max(1, int(float(target_shard_mb) * (1 << 20)))
        n_shards = min(max(1, -(-int(total) // per_shard)),
                       max(1, n_rows))
    mjson = (F.to_json(F.struct(*[F.col(c) for c in meta_cols]))
             if meta_cols else F.lit("{}"))
    sel = [(hash32(key) % n_shards).cast("int").alias("shard"),
           key.alias("key__"), F.coalesce(mjson, F.lit("{}")).alias("mjson")]
    has_text = text_col is not None
    has_bin = binary_col is not None
    if has_text:
        sel.append(F.col(text_col).alias("wtext"))
    if has_bin:
        sel.append(F.col(binary_col).alias("payload"))
        pext = (F.coalesce(F.col(ext_col), F.lit("bin")) if ext_col
                else F.lit("bin"))
        sel.append(F.lower(F.regexp_replace(pext.cast("string"),
                                            r"[^0-9A-Za-z]", "")
                           ).alias("pext"))
    sharded = (df.select(*sel)
               .repartition(n_shards, "shard")
               .sortWithinPartitions("shard", "key__"))

    base = path.rstrip("/")
    _os.makedirs(base, exist_ok=True)
    stale = _glob.glob(_os.path.join(base, "shard-*.tar"))
    if stale and if_exists == "fail":
        raise SinkError(f"webdataset shards already exist at {base}")
    for p in stale:
        _os.remove(p)

    def _kernel(batches):
        import hashlib
        import tarfile

        import pandas as pd

        state = {"shard": None, "tar": None, "tmp": None, "final": None,
                 "rows": 0, "members": 0}
        done = []

        def _close():
            if state["tar"] is None:
                return
            state["tar"].close()
            _os.replace(state["tmp"], state["final"])
            h = hashlib.sha256()
            with open(state["final"], "rb") as fh:
                for chunk in iter(lambda: fh.read(1 << 20), b""):
                    h.update(chunk)
            done.append({
                "shard": state["shard"],
                "file": _os.path.basename(state["final"]),
                "rows": state["rows"], "members": state["members"],
                "n_bytes": _os.path.getsize(state["final"]),
                "sha256": h.hexdigest()})
            state.update(shard=None, tar=None, rows=0, members=0)

        def _add(name, data):
            info = tarfile.TarInfo(name=name)
            info.size = len(data)
            info.mtime = 0
            info.mode = 0o644
            info.uid = info.gid = 0
            info.uname = info.gname = ""
            state["tar"].addfile(info, io.BytesIO(data))
            state["members"] += 1

        import io
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                sh = int(row.shard)
                if sh != state["shard"]:
                    _close()
                    final = _os.path.join(base, f"shard-{sh:06d}.tar")
                    tmp = f"{final}.{_os.getpid()}.inprogress"
                    state.update(shard=sh,
                                 tar=tarfile.open(tmp, "w"),
                                 tmp=tmp, final=final)
                k = row.key__
                _add(k + ".json", row.mjson.encode("utf-8"))
                if has_text and isinstance(row.wtext, str):
                    _add(k + ".txt", row.wtext.encode("utf-8"))
                if has_bin and row.payload is not None:
                    _add(f"{k}.{row.pext or 'bin'}", bytes(row.payload))
                state["rows"] += 1
        _close()
        yield pd.DataFrame(
            done, columns=["shard", "file", "rows", "members",
                           "n_bytes", "sha256"])

    manifest = sharded.mapInPandas(_kernel, WDS_MANIFEST_SCHEMA)
    rows = manifest.collect()                 # n_shards-bounded
    spark = df.sparkSession
    man_path = base + "_manifest"
    man = spark.createDataFrame(rows, WDS_MANIFEST_SCHEMA) \
        if rows else spark.createDataFrame([], WDS_MANIFEST_SCHEMA)
    man.coalesce(1).write.mode("overwrite").parquet(man_path)
    return {"path": base, "manifest_path": man_path,
            "n_shards": int(n_shards),
            "shards_written": len(rows),
            "rows_written": int(sum(r["rows"] for r in rows)),
            "members_written": int(sum(r["members"] for r in rows)),
            "bytes_written": int(sum(r["n_bytes"] for r in rows)),
            "elapsed_sec": round(time.perf_counter() - t0, 3)}


def verify_webdataset(spark: SparkSession, path: str,
                      manifest: DataFrame) -> dict:
    """Receiving-side check for a WebDataset shipment: recompute each
    tar shard's (size, sha256) and diff against the stored
    :func:`write_webdataset` manifest. Returns ``{ok, n_shards,
    mismatched}`` where ``mismatched`` lists shard FILES whose bytes
    disagree — including files present on only one side (a lost or
    extra tar is a mismatch, not a skip).

    Scale shape: the hashing is DISTRIBUTED and JVM-side — one
    ``binaryFile`` scan with ``F.sha2(content, 256)`` in the
    projection (no Python in the loop, no driver I/O); the driver
    compares |shards| tiny tuples. Verifying a 100 TB shipment costs
    one parallel read of the tars, nothing else."""
    want = {r["file"]: (int(r["n_bytes"]), r["sha256"])
            for r in manifest.collect()}
    try:
        files = spark.read.format("binaryFile") \
            .load(path.rstrip("/") + "/shard-*.tar")
        got = {r["f"]: (int(r["length"]), r["h"]) for r in
               files.select(
                   F.element_at(F.split("path", "/"), -1).alias("f"),
                   "length",
                   F.lower(F.sha2(F.col("content"), 256)).alias("h"))
               .collect()}
    except Exception:
        got = {}                       # no tars at path: every
        # manifest entry below reports as mismatched (lost shipment)
    bad = sorted(f for f in set(got) | set(want)
                 if got.get(f) != want.get(f))
    return {"ok": not bad, "n_shards": len(want), "mismatched": bad}
