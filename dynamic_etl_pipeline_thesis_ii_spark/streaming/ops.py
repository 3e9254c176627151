"""Streaming operators: windowed OHLCV rollup, stateful dedup,
sessionization (SURVEY.md §2.9 — a capability extension; the reference
has no data-plane streaming).

Design: streams carry the same canonical bar/event schemas as the batch
engine; every operator is expressed on the streaming DataFrame API so
the SAME code path (Catalyst incrementalization) handles both. Event
time + watermark bound state; all aggregations are partial-aggregatable
(min/max/sum/count/min_by/max_by), so state per (key, window) is O(1)
regardless of input volume — the property that keeps a 100 TB/day
stream's state bounded.

Testing uses file sources + ``trigger(availableNow)`` — deterministic,
no timing races (see tests/test_streaming.py).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

TICK_SCHEMA = StructType([
    StructField("ticker", StringType()),
    StructField("ts", TimestampType()),
    StructField("price", DoubleType()),
    StructField("size", LongType()),
])

EVENT_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("ts", TimestampType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
])


def read_tick_stream(spark: SparkSession, path: str,
                     fmt: str = "json",
                     schema: StructType = TICK_SCHEMA,
                     max_files_per_trigger: Optional[int] = None) -> DataFrame:
    """File-based tick stream (the production slot for Kafka/Kinesis —
    swap ``format``; the downstream operators are source-agnostic)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def windowed_ohlcv(ticks: DataFrame, window: str = "1 hour",
                   watermark: str = "2 hours",
                   ts_col: str = "ts") -> DataFrame:
    """Tumbling-window OHLCV rollup with late-data handling.

    open/close come from ``min_by``/``max_by`` on event time — partial
    aggregatable, so map-side combine applies and per-window state stays
    constant-size. The watermark drops events later than its horizon and
    lets completed windows emit + evict."""
    w = ticks.withWatermark(ts_col, watermark)
    return (w.groupBy(F.window(ts_col, window).alias("win"), "ticker")
            .agg(F.min_by("price", ts_col).alias("open"),
                 F.max("price").alias("high"),
                 F.min("price").alias("low"),
                 F.max_by("price", ts_col).alias("close"),
                 F.sum("size").alias("volume"),
                 F.count(F.lit(1)).alias("ticks"))
            .select(F.col("win.start").alias("window_start"),
                    F.col("win.end").alias("window_end"),
                    "ticker", "open", "high", "low", "close",
                    "volume", "ticks"))


def sliding_vwap(ticks: DataFrame, window: str = "1 hour",
                 slide: str = "15 minutes", watermark: str = "2 hours",
                 ts_col: str = "ts") -> DataFrame:
    """Sliding-window VWAP: overlapping windows, one state entry per
    (ticker, window) — sliding windows multiply state by
    window/slide, which the watermark still bounds."""
    w = ticks.withWatermark(ts_col, watermark)
    return (w.groupBy(F.window(ts_col, window, slide).alias("win"), "ticker")
            .agg((F.sum(F.col("price") * F.col("size"))
                  / F.sum("size")).alias("vwap"),
                 F.sum("size").alias("volume"))
            .select(F.col("win.start").alias("window_start"),
                    F.col("win.end").alias("window_end"),
                    "ticker", F.round("vwap", 6).alias("vwap"), "volume"))


def stateful_dedup(events: DataFrame, keys: list[str],
                   watermark: str = "1 hour", ts_col: str = "ts") -> DataFrame:
    """Exactly-once-per-key dedup with bounded state:
    ``dropDuplicatesWithinWatermark`` evicts seen-keys older than the
    watermark horizon, so state never grows unboundedly (the batch
    engine's exact dedup A5, made streamable)."""
    return events.withWatermark(ts_col, watermark) \
                 .dropDuplicatesWithinWatermark(keys)


def session_windows(events: DataFrame, gap: str = "30 minutes",
                    watermark: str = "1 hour", ts_col: str = "ts",
                    key: str = "user_id") -> DataFrame:
    """Session windows (dynamic-gap sessionization): a session closes
    after ``gap`` of inactivity per key. Native ``session_window`` —
    state merges adjacent events server-side, no Python."""
    w = events.withWatermark(ts_col, watermark)
    return (w.groupBy(F.session_window(ts_col, gap).alias("win"), key)
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 6).alias("total_value"))
            .select(F.col("win.start").alias("session_start"),
                    F.col("win.end").alias("session_end"),
                    key, "n_events", "total_value"))


def streaming_ema(ticks: DataFrame, span: int = 20,
                  key: str = "ticker", ts_col: str = "ts",
                  value_col: str = "price") -> DataFrame:
    """Custom stateful operator: per-key streaming EMA via
    ``applyInPandasWithState`` — the escape hatch for operators Spark's
    built-in streaming aggregates can't express (EMA is recursive:
    y_t = (1-a)·y_{t-1} + a·x_t, so each batch needs the previous
    batch's final value).

    State per key is ONE float (the running EMA) — constant regardless
    of stream length; exactly the batch engine's ewm(adjust=False)
    semantics (functions/compiler pandas path), so a stream fully
    drained equals the batch computation on the same data."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    alpha = 2.0 / (span + 1.0)
    out_schema = StructType([
        StructField(key, StringType()),
        StructField(ts_col, TimestampType()),
        StructField(value_col, DoubleType()),
        StructField("ema", DoubleType()),
    ])
    state_schema = StructType([StructField("ema", DoubleType())])

    def fn(group_key, batches, state: "GroupState"):
        import pandas as pd
        prev = state.get[0] if state.exists else None
        frames = []
        for pdf in batches:
            pdf = pdf.sort_values(ts_col)
            emas = []
            for x in pdf[value_col]:
                prev = x if prev is None else (1 - alpha) * prev + alpha * x
                emas.append(prev)
            frames.append(pd.DataFrame({
                key: group_key[0], ts_col: pdf[ts_col],
                value_col: pdf[value_col], "ema": emas}))
        state.update((float(prev),))
        yield pd.concat(frames) if frames else pd.DataFrame(
            columns=[key, ts_col, value_col, "ema"])

    return ticks.groupBy(key).applyInPandasWithState(
        fn, outputStructType=out_schema, stateStructType=state_schema,
        outputMode="append", timeoutConf=GroupStateTimeout.NoTimeout)


def interval_join(left: DataFrame, right: DataFrame,
                  key: str = "ticker", ts_col: str = "ts",
                  band_seconds: int = 300,
                  watermark: str = "1 hour") -> DataFrame:
    """Stream-stream inner join within a time band: right-side rows
    within ``band_seconds`` BEFORE each left row, same key. Both sides
    carry watermarks + the time-range predicate, so Spark can bound the
    join state and evict rows past the horizon — the two conditions
    stream-stream joins require for finite state."""
    l = left.withWatermark(ts_col, watermark).alias("l")
    r = right.withWatermark(ts_col, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{ts_col}") <= F.col(f"l.{ts_col}"))
        & (F.col(f"r.{ts_col}") >= F.col(f"l.{ts_col}")
           - F.expr(f"INTERVAL {band_seconds} SECONDS"))
    )
    return l.join(r, cond, "inner")


def streaming_asof_join(left: DataFrame, right: DataFrame,
                        key: str = "ticker", ts_col: str = "ts",
                        band_seconds: int = 300, watermark: str = "1 hour",
                        right_prefix: str = "r_") -> DataFrame:
    """Stream-stream AS-OF join: for every distinct left row, attach the
    LATEST right row with the same key within ``band_seconds`` before it
    — the streaming twin of the batch ``asof_join`` query.

    Composition of two chained stateful operators (supported in append
    mode since Spark 3.5): a banded stream-stream inner join (same
    watermark + time-range bounds as :func:`interval_join`, so join
    state is evictable), then a ``max_by`` aggregation grouped on the
    left columns — the watermarked ``l.ts`` among them is the event-time
    clock the downstream stateful aggregation emits+evicts on. Exactly
    identical left rows therefore collapse to one output row (the batch
    ``asof_join`` preserves such duplicates). Right columns come back
    ``right_prefix``-renamed (done BEFORE the join so the two
    same-schema streams never produce ambiguous names)."""
    rts = right_prefix + ts_col
    r = right.select([F.col(c).alias(right_prefix + c) for c in right.columns])
    l = left.withWatermark(ts_col, watermark)
    r = r.withWatermark(rts, watermark)
    cond = (
        (F.col(key) == F.col(right_prefix + key))
        & (F.col(rts) <= F.col(ts_col))
        & (F.col(rts) >= F.col(ts_col)
           - F.expr(f"INTERVAL {band_seconds} SECONDS"))
    )
    joined = l.join(r, cond, "inner")
    # The join output carries TWO watermarked event-time columns (l.ts
    # and r_ts); a downstream stateful aggregation requires exactly one.
    # Convert the right-side timestamp to plain epoch-micros — the value
    # survives for max_by ordering and for the output, but the event-time
    # tag (which must stay on l.ts, the emission clock) does not.
    joined = (joined.withColumn("__rts", F.unix_micros(F.col(rts)))
              .drop(rts))
    rcols = [c for c in joined.columns
             if c.startswith(right_prefix) and c != right_prefix + key]
    best = F.max_by(F.struct("__rts", *rcols), F.col("__rts")).alias("__best")
    return (joined.groupBy(*left.columns)
            .agg(best)
            .select(*left.columns,
                    F.timestamp_micros(F.col("__best.__rts")).alias(rts),
                    *[F.col(f"__best.{c}").alias(c) for c in rcols]))


def foreach_batch_sink(stream: DataFrame, batch_fn=None,
                       path: Optional[str] = None, fmt: str = "parquet",
                       checkpoint_dir: Optional[str] = None):
    """``foreachBatch`` sink: drain the stream by routing every
    micro-batch through an arbitrary BATCH writer — the standard bridge
    to sinks Structured Streaming lacks natively (JDBC, idempotent
    keyed append, multi-sink fan-out). ``batch_fn(batch_df, batch_id)``
    does the writing; the default appends to ``path`` as ``fmt``.
    With a checkpoint dir, batch ids are stable across restarts, so an
    idempotent ``batch_fn`` (e.g. ``sinks.append_new_keys``, or a JDBC
    upsert keyed on batch_id) gives end-to-end exactly-once."""
    if batch_fn is None:
        if path is None:
            raise ValueError("foreach_batch_sink needs batch_fn or path")

        def batch_fn(batch_df, batch_id):  # noqa: ARG001 — foreachBatch shape
            batch_df.write.mode("append").format(fmt).save(path)

    writer = (stream.writeStream.foreachBatch(batch_fn)
              .trigger(availableNow=True))
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    q.awaitTermination()
    return q


def run_available_now(stream: DataFrame, query_name: str,
                      output_mode: str = "append",
                      checkpoint_dir: Optional[str] = None):
    """Drain everything currently available into an in-memory table and
    stop — deterministic test/batch-backfill execution of a streaming
    plan (Trigger.AvailableNow preserves watermark semantics across
    restarts, unlike the deprecated Trigger.Once)."""
    writer = (stream.writeStream.format("memory")
              .queryName(query_name).outputMode(output_mode)
              .trigger(availableNow=True))
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    q.awaitTermination()
    return q


DOC_STREAM_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("ts", TimestampType()),
    StructField("text", StringType()),
])


def streaming_incremental_dedup(docs: DataFrame, seen_keys: DataFrame,
                                watermark: str = "1 hour",
                                ts_col: str = "ts",
                                text_col: str = "text",
                                bloom=None) -> DataFrame:
    """Continuous corpus ingest dedup: the streaming face of
    ``operators.dedup.incremental_exact``. New documents drop when
    their normalized content hash already exists in the persisted
    corpus snapshot (stream-static LEFT ANTI join — the static side is
    re-read per micro-batch, so snapshot updates between batches are
    picked up), then dedup within the stream itself via
    ``dropDuplicatesWithinWatermark`` on the same content key (bounded
    seen-key state, evicted past the watermark horizon).

    ``seen_keys`` is a static frame with a ``key`` column — the output
    of ``operators.dedup.content_keys`` over the existing corpus.

    ``bloom`` (an ``operators.dedup.BloomFilter`` over the snapshot
    keys, e.g. reloaded from the ``<snapshot>_bloom`` store the batch
    NL target maintains) swaps the pre-filter in for every
    micro-batch: bloom-negative rows are CERTAINLY unseen and skip
    the stream-static anti-join entirely, so each micro-batch
    shuffles only the bloom-positive sliver (~true dups + fpp)
    against the snapshot instead of its full row set — the same
    ~(1-fpp) shuffle saving the batch path gets, and the answer is
    identical because positives are still confirmed by the exact
    anti-join (parity pinned in ``test_streaming.py``). Rebroadcast
    the filter at snapshot epochs (restart or foreachBatch reload) to
    track snapshot growth."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.dedup import (
        bloom_snapshot_fresh,
        snapshot_fresh,
    )
    if bloom is not None:
        fresh = bloom_snapshot_fresh(docs, seen_keys, text_col,
                                     bloom=bloom)
    else:
        fresh = snapshot_fresh(docs, seen_keys, text_col)
    return (fresh.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["__k"])
            .drop("__k"))


def streaming_neardup_flags(docs: DataFrame, seen_bands: DataFrame,
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            k: int = 3, n_hashes: int = 16,
                            bands: int = 4,
                            ts_col: Optional[str] = "ts",
                            watermark: str = "1 hour") -> DataFrame:
    """Near-dup flagging against the corpus snapshot, streaming face of
    ``operators.dedup.incremental_neardup_pairs``: band each stream
    document with the SAME MinHash-LSH parameters the batch path used
    to build ``seen_bands`` (the persisted (id, band, slice) table) and
    stream-static inner-join on (band, slice). Output: distinct
    ``(id_new, id_seen)`` collision pairs per micro-batch — route them
    to review/drop via the usual sinks. A pair colliding in several
    bands would repeat — with ``ts_col`` set (default) the repeats are
    removed by ``dropDuplicatesWithinWatermark`` on the pair key, so
    dedup state stays bounded by the watermark horizon (a plain
    ``distinct`` on a stream keeps every key forever); pass
    ``ts_col=None`` on batch frames to get an ordinary ``distinct``.

    The signature is computed with the EXPRESSION-level minhash
    (:func:`~...operators.dedup.minhash_signature` — per-row
    higher-order functions, no aggregation): a streaming groupBy over
    exploded shingles would be a stateful aggregation with
    output-mode/watermark complications, while the per-row expression
    keeps the stream stateless end-to-end (the only shuffle is the
    stream-static join). The two formulations are value-identical —
    pinned by ``test_streaming_neardup_flags_matches_batch_bands``;
    per-row cost is higher, which is the right trade at stream rates
    (items/sec, not TB/scan). Zero-shingle (empty) docs produce null
    band slices and never collide, matching the batch path."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.dedup import (
        minhash_signature,
    )
    r = n_hashes // bands
    sig = minhash_signature(F.col(text_col), k, n_hashes)
    ts = [F.col(ts_col)] if ts_col else []
    banded = docs.select(
        F.col(id_col).alias("id_new"), *ts,
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.slice(sig, b * r + 1, r).alias("slice"))
            for b in range(bands)
        ])).alias("bs"),
    ).select("id_new", *([ts_col] if ts_col else []),
             F.col("bs.band").alias("band"), F.col("bs.slice").alias("slice"))
    pairs = (banded.join(seen_bands.withColumnRenamed("id", "id_seen"),
                         ["band", "slice"])
             .select("id_new", "id_seen", *([ts_col] if ts_col else [])))
    if ts_col:
        return (pairs.withWatermark(ts_col, watermark)
                .dropDuplicatesWithinWatermark(["id_new", "id_seen"])
                .drop(ts_col))
    return pairs.distinct()


def checkpoint_instance_id(spark, checkpoint_dir: str) -> str:
    """Identity of a checkpoint INSTANCE, not its path: the streaming
    query id Spark writes to ``<checkpoint_dir>/metadata`` at query
    start, suffixed onto the path. Deleting and recreating the same
    checkpoint directory restarts batch numbering at 0 AND mints a
    new query id, so replay marks keyed on the instance id can never
    mistake the new incarnation's early batches for replays of the
    old one (a path-keyed mark would silently skip them). Read via
    the Hadoop FS API so any checkpoint filesystem (local/HDFS/S3A)
    resolves; when no metadata exists yet the bare path returns —
    documented fallback with the pre-instance-id semantics (delete
    the ``_meta`` sidecar together with the checkpoint dir). Metadata
    that exists but cannot be read raises ``SinkError`` naming it,
    instead of silently falling back to the path-keyed mark."""
    import json as _json

    from dynamic_etl_pipeline_thesis_ii_spark.sources.sinks import (
        read_if_present,
    )
    jvm = spark.sparkContext._jvm

    def _query_id(path):
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration())
        stream = fs.open(jpath)
        try:
            raw = bytes(
                jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
        finally:
            stream.close()
        return _json.loads(raw.decode("utf-8"))["id"]

    qid = read_if_present(spark, checkpoint_dir.rstrip("/") + "/metadata",
                          _query_id)
    return checkpoint_dir if qid is None else f"{checkpoint_dir}#{qid}"


def census_fold(census_path: str, strata: tuple = ("lang", "source"),
                stream_id: Optional[str] = None,
                histogram: bool = False):
    """Build the foreachBatch fold for :func:`streaming_census_sink`
    (factored out so the replay semantics are directly testable).

    Replay safety: with a ``stream_id`` (the checkpoint dir — batch
    ids are monotone PER CHECKPOINT), the fold persists a high-water
    mark ``(stream_id, max_batch_id)`` in a ``<census_path>_meta``
    sidecar AFTER the census write, and skips any batch at-or-below
    the mark for the same stream — so a foreachBatch re-invocation
    after a crash-before-checkpoint-commit (Structured Streaming's
    at-least-once window) folds each batch's counts exactly once.
    The mark only ever advances after a completed census write, so a
    crash BETWEEN the two writes re-folds that one batch — the
    residual at-least-once window shrinks from 'any replayed batch'
    to 'a crash inside the two driver-side writes of a micro-batch'.
    A DIFFERENT stream_id (new checkpoint, restarted batch numbering)
    ignores the mark and starts advancing its own.

    The mark is keyed on the checkpoint INSTANCE, not its path: at
    first fold the ``stream_id`` dir resolves through
    :func:`checkpoint_instance_id` (the query id in the checkpoint's
    own ``metadata`` file rides the key), so a user who deletes and
    recreates the same checkpoint directory — restarting batch ids
    at 0 while the ``_meta`` sidecar survives — gets a fresh mark
    instead of silently losing every batch up to the old high water.

    With ``histogram=True`` the fold also maintains the power-of-two
    token-length histogram (``operators.text.census_histogram`` —
    same exact-integer-sum merge law) in a ``<census_path>_hist``
    sidecar, folded in the SAME batch under the SAME high-water mark.
    Both folded row sets are computed BEFORE either store is
    overwritten, so the residual crash window where the two sidecars
    could disagree is the gap between the two driver-side writes —
    the same one-batch at-least-once residual the census alone
    already carries (documented above); a crash inside that gap
    re-folds the batch into the census but not the histogram on
    replay."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.text import (
        census_histogram,
        corpus_census,
        merge_census,
        merge_histogram,
    )

    stores = [(census_path,
               lambda b: corpus_census(b, strata=strata), merge_census)]
    if histogram:
        stores.append((census_path.rstrip("/") + "_hist",
                       lambda b: census_histogram(b, strata=strata),
                       merge_histogram))
    return marked_fold(census_path.rstrip("/") + "_meta", stores,
                       stream_id)


def marked_fold(meta_path: str, stores: list, stream_id: Optional[str]):
    """Generic replay-safe read-merge-rewrite fold over one or more
    tiny mergeable stores — the machinery of :func:`census_fold`
    factored out so ANY mergeable telemetry (document census,
    histogram, media census) shares one high-water-mark
    implementation. ``stores`` is a list of ``(path, fresh_fn,
    merge_fn)``: per batch, every store's merged rows materialize
    BEFORE any store is overwritten (a crash can't leave one sidecar
    folded from a half-written other), and the ``(stream_id,
    max_batch_id)`` mark at ``meta_path`` advances only after all
    writes (see :func:`census_fold` for the residual one-batch
    window). ``stream_id`` resolves through
    :func:`checkpoint_instance_id` on first fold. A missing store or
    mark is the bootstrap state; one that exists but cannot be read
    raises instead of restarting the fold."""
    from dynamic_etl_pipeline_thesis_ii_spark.sources.sinks import (
        read_if_present,
    )

    def _collected(spark, path):
        return read_if_present(
            spark, path, lambda p: spark.read.parquet(p).collect()) or []

    def _folded_rows(spark, path, fresh, merge):
        prior_rows = _collected(spark, path)
        if prior_rows:
            prior = spark.createDataFrame(prior_rows, fresh.schema)
            fresh = merge(prior, fresh)
        return fresh.collect(), fresh.schema

    resolved: list = []             # one-shot instance-id cache

    def fold(batch_df, batch_id):
        spark = batch_df.sparkSession
        if stream_id is not None:
            if not resolved:        # resolve once per fold lifetime —
                # by batch 0 the query has already written its
                # checkpoint metadata, so the instance id is stable
                resolved.append(checkpoint_instance_id(spark, stream_id))
            sid = resolved[0]
            if any(r["stream_id"] == sid
                   and batch_id <= r["max_batch_id"]
                   for r in _collected(spark, meta_path)):
                return              # replayed batch: already folded
        pending = [(path, *_folded_rows(spark, path, fresh_fn(batch_df),
                                        merge_fn))
                   for path, fresh_fn, merge_fn in stores]
        for path, rows, schema in pending:   # all reads done; now write
            spark.createDataFrame(rows, schema) \
                .coalesce(1).write.mode("overwrite").parquet(path)
        if stream_id is not None:   # advance the mark AFTER the writes
            spark.createDataFrame(
                [(resolved[0], int(batch_id))],
                "stream_id string, max_batch_id long") \
                .coalesce(1).write.mode("overwrite").parquet(meta_path)

    return fold


def streaming_media_census_sink(media: DataFrame, census_path: str,
                                checkpoint_dir: Optional[str] = None):
    """Continuous-ingest telemetry for a MEDIA stream: fold each
    micro-batch's per-kind item/byte census
    (``operators.multimodal.media_census``) into the store at
    ``census_path`` — the media face of :func:`streaming_census_sink`,
    riding the identical :func:`marked_fold` replay machinery (same
    instance-keyed high-water mark, same crash window)."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.multimodal import (
        media_census,
        merge_media_census,
    )
    return foreach_batch_sink(
        media,
        batch_fn=marked_fold(
            census_path.rstrip("/") + "_meta",
            [(census_path, media_census, merge_media_census)],
            checkpoint_dir),
        checkpoint_dir=checkpoint_dir)


def streaming_census_sink(docs: DataFrame, census_path: str,
                          checkpoint_dir: Optional[str] = None,
                          strata: tuple = ("lang", "source"),
                          histogram: bool = False):
    """Continuous-ingest telemetry: maintain the mergeable corpus
    census (``operators.text.corpus_census``) under a document stream
    via ``foreachBatch`` — each micro-batch's census folds into the
    stored one and the parquet at ``census_path`` always equals a
    full recompute over everything ingested so far.

    The merge is driver-side on purpose: a census is at most
    |langs| + |sources| + 1 rows, so read-merge-rewrite is microseconds
    and sidesteps the read-overwrite-same-path hazard entirely (the
    prior rows are materialized BEFORE the overwrite). With a
    checkpoint dir, a ``<census_path>_meta`` high-water mark keyed by
    the checkpoint identity makes replayed batches fold exactly once
    (see :func:`census_fold` for the one-batch residual window);
    without a checkpoint there is no stable batch numbering to key
    on, so pair the sink with exactly-once upstream when exact counts
    matter."""
    return foreach_batch_sink(
        docs,
        batch_fn=census_fold(census_path, strata=strata,
                             stream_id=checkpoint_dir,
                             histogram=histogram),
        checkpoint_dir=checkpoint_dir)


def streaming_contamination_flags(docs: DataFrame, bench_sets: DataFrame,
                                 text_col: str = "text",
                                 id_col: str = "doc_id",
                                 k: int = 5, min_overlap: int = 1,
                                 ts_col: Optional[str] = "ts",
                                 watermark: str = "1 hour") -> DataFrame:
    """Benchmark-contamination flagging on a document stream — the
    streaming face of ``operators.dedup.contamination_pairs``. Each
    arriving doc shingles per-row (``word_shingles`` expression — no
    aggregation, the stream stays STATELESS) and checks its overlap
    against every benchmark doc's pre-built shingle set via
    ``array_intersect``: output ``(id_new, id_bench, overlap)`` rows
    with ``overlap >= min_overlap``.

    ``bench_sets`` is the static ``(id, shingles)`` frame from
    :func:`bench_shingle_sets` — build it ONCE from the benchmark
    (eval sets are MBs; the frame broadcasts) with the SAME ``k`` and
    df-cap the batch path uses, so stream verdicts match
    ``contamination_pairs`` exactly (parity pinned in
    ``test_streaming.py``).

    The join is a broadcast nested-loop (every stream doc scores
    against every benchmark doc) — per-item cost is |bench| array
    intersections, which is the right trade at stream rates
    (items/sec, not TB/scan), and the batch equi-join path remains
    the bulk-scan shape. A stateful streaming groupBy over exploded
    shingles would need output-mode/watermark machinery for strictly
    worse per-item cost at eval-set benchmark sizes."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.dedup import (
        word_shingles,
    )
    ts = [F.col(ts_col)] if ts_col else []
    scored = (docs.select(F.col(id_col).alias("id_new"), *ts,
                          word_shingles(F.col(text_col), k)
                          .alias("__sh"))
              .crossJoin(F.broadcast(
                  bench_sets.select(F.col("id").alias("id_bench"),
                                    F.col("shingles").alias("__bs"))))
              .select("id_new", "id_bench",
                      F.size(F.array_intersect("__sh", "__bs"))
                      .alias("overlap"),
                      *([ts_col] if ts_col else []))
              .filter(F.col("overlap") >= min_overlap))
    if ts_col:
        return (scored.withWatermark(ts_col, watermark)
                .dropDuplicatesWithinWatermark(["id_new", "id_bench"])
                .drop(ts_col))
    return scored


def bench_shingle_sets(benchmark: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 5,
                       max_bench_df: int = 100) -> DataFrame:
    """Static (id, shingles) benchmark table for
    :func:`streaming_contamination_flags`: exploded distinct shingles
    with the SAME benchmark-side df-cap as
    ``contamination_pairs`` (shingles in more than ``max_bench_df``
    benchmark docs are boilerplate stop-shingles), re-collected to
    one sorted array per benchmark doc. Persist it beside the
    benchmark and rebuild only when the benchmark changes."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.dedup import (
        shingle_rows,
    )
    from pyspark.sql import Window as _W
    return (shingle_rows(benchmark, text_col, id_col, k)
            .withColumn("__df",
                        F.count(F.lit(1)).over(_W.partitionBy("s")))
            .filter(F.col("__df") <= max_bench_df)
            .groupBy("id")
            .agg(F.array_sort(F.collect_list("s")).alias("shingles")))


def streaming_image_flags(media: DataFrame, seen_banded: DataFrame,
                          max_hamming: int = 6, n_blocks: int = 8,
                          key_blocks: Optional[int] = None,
                          ts_col: Optional[str] = "ts",
                          watermark: str = "1 hour") -> DataFrame:
    """Perceptual near-dup flagging for an IMAGE stream against the
    persisted hamming-space snapshot (``dedup.hamming_band_keys`` over
    corpus dhash fingerprints) — the image face of
    :func:`streaming_neardup_flags`, sharing
    ``dedup.incremental_hamming_pairs`` with the batch probe so the
    two faces cannot drift: dhash each arriving payload in the
    stateless Arrow kernel (event-time column rides through), band
    with the SAME geometry the snapshot was built with (pass the
    snapshot's ``n_blocks``/``key_blocks`` — geometry is part of its
    identity, a mismatch silently kills recall), stream-static
    inner-join on (band, key), verify exact hamming. A pair colliding
    in several bands repeats — with ``ts_col`` set the repeats are
    removed by ``dropDuplicatesWithinWatermark`` on the pair key so
    state stays bounded by the watermark horizon; ``ts_col=None``
    (batch frames) gets a plain distinct. The stream-static join
    re-reads the snapshot per micro-batch (Spark's stream-static
    contract) — keep the snapshot compacted/partitioned by (band, key)
    so each probe prunes to matching files. Output:
    ``(id_new, id_seen, hamming)``."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.multimodal import (
        image_dhash,
    )
    return _streaming_fingerprint_flags(
        media, seen_banded, image_dhash, max_hamming=max_hamming,
        n_blocks=n_blocks, key_blocks=key_blocks, ts_col=ts_col,
        watermark=watermark)


def streaming_audio_flags(media: DataFrame, seen_banded: DataFrame,
                          max_hamming: int = 6, n_blocks: int = 8,
                          key_blocks: Optional[int] = None,
                          ts_col: Optional[str] = "ts",
                          watermark: str = "1 hour") -> DataFrame:
    """Perceptual near-dup flagging for an AUDIO stream against the
    persisted hamming snapshot — the aHash face of
    :func:`streaming_image_flags`, sharing the identical
    fingerprint-then-probe core so the two modalities (and their
    batch siblings) cannot drift. Same snapshot-layout and watermark
    contracts; output ``(id_new, id_seen, hamming)``."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.multimodal import (
        audio_ahash,
    )
    return _streaming_fingerprint_flags(
        media, seen_banded, audio_ahash, max_hamming=max_hamming,
        n_blocks=n_blocks, key_blocks=key_blocks, ts_col=ts_col,
        watermark=watermark)


def streaming_video_flags(media: DataFrame, seen_banded: DataFrame,
                          max_hamming: int = 6, n_blocks: int = 8,
                          key_blocks: Optional[int] = None,
                          ts_col: Optional[str] = "ts",
                          watermark: str = "1 hour") -> DataFrame:
    """Perceptual near-dup flagging for a VIDEO stream against the
    persisted hamming snapshot — the vHash face of
    :func:`streaming_image_flags` / :func:`streaming_audio_flags`,
    sharing the identical fingerprint-then-probe core so all three
    modalities (and their batch siblings) cannot drift. Same
    snapshot-layout and watermark contracts; output
    ``(id_new, id_seen, hamming)``."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.multimodal import (
        video_vhash,
    )
    return _streaming_fingerprint_flags(
        media, seen_banded, video_vhash, max_hamming=max_hamming,
        n_blocks=n_blocks, key_blocks=key_blocks, ts_col=ts_col,
        watermark=watermark)


def streaming_containment_flags(media: DataFrame,
                                seen_banded: DataFrame,
                                modality: str = "video",
                                max_hamming: int = 6,
                                n_blocks: int = 8,
                                key_blocks: Optional[int] = None,
                                ts_col: Optional[str] = "ts",
                                watermark: str = "1 hour") -> DataFrame:
    """FRAME/WINDOW-level containment flagging for a media stream
    against a persisted PACKED-ID hamming snapshot (the store the NL
    containment build face persists — ``id·4096 + idx`` band rows):
    each arriving video's frame hashes (or audio clip's onset-window
    hashes) probe the snapshot, so a stream item CONTAINING known
    content flags even when its whole-clip hash doesn't. Output:
    ``(id_new, idx_new, id_seen, idx_seen, hamming)`` — one row per
    matched sub-item pair, watermark-deduped. The ≥k shared-frames
    threshold is an aggregation over this stream; apply it in
    ``foreachBatch`` with
    ``multimodal.incremental_containment_pairs``-style rollup (a
    global streaming groupBy per item pair would hold unbounded
    state for exactly-one-row output)."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.dedup import (
        incremental_hamming_pairs,
    )
    from dynamic_etl_pipeline_thesis_ii_spark.operators.multimodal import (
        audio_window_hashes,
        video_frame_hashes,
    )
    if modality not in ("video", "audio"):
        raise ValueError(f"modality must be 'video' or 'audio', "
                         f"got {modality!r}")
    hashes_fn = (video_frame_hashes if modality == "video"
                 else audio_window_hashes)
    extras = (ts_col,) if ts_col else ()
    fh = hashes_fn(media, extra_cols=extras)
    idx_col = fh.columns[1]             # frame_idx / idx
    packed = fh.select(
        (F.col("id") * 4096 + F.col(idx_col)).alias("id"), "sim",
        *extras)
    pairs = incremental_hamming_pairs(
        packed, seen_banded, max_hamming=max_hamming,
        n_blocks=n_blocks, key_blocks=key_blocks,
        extra_new_cols=extras, distinct=False, prune=False)
    unpacked = pairs.select(
        F.expr("id_new div 4096").alias("id_new"),
        (F.col("id_new") % 4096).cast("int").alias("idx_new"),
        F.expr("id_seen div 4096").alias("id_seen"),
        (F.col("id_seen") % 4096).cast("int").alias("idx_seen"),
        "hamming", *extras)
    key = ["id_new", "idx_new", "id_seen", "idx_seen"]
    if ts_col:
        return (unpacked.withWatermark(ts_col, watermark)
                .dropDuplicatesWithinWatermark(key)
                .drop(ts_col))
    return unpacked.dropDuplicates(key)


def _streaming_fingerprint_flags(media, seen_banded, fingerprint_fn,
                                 max_hamming, n_blocks, key_blocks,
                                 ts_col, watermark) -> DataFrame:
    """Shared stream-static probe core of
    :func:`streaming_image_flags` / :func:`streaming_audio_flags`:
    fingerprint each arriving payload in the stateless Arrow kernel
    (event time rides through), band with the snapshot's geometry,
    stream-static inner-join, verify exact hamming, watermark-bound
    the multi-band repeats."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.dedup import (
        incremental_hamming_pairs,
    )

    fps = fingerprint_fn(media, extra_cols=(ts_col,) if ts_col else ())
    pairs = incremental_hamming_pairs(
        fps, seen_banded, max_hamming=max_hamming, n_blocks=n_blocks,
        key_blocks=key_blocks,
        extra_new_cols=(ts_col,) if ts_col else (),
        distinct=False, prune=False)
    if ts_col:
        return (pairs.withWatermark(ts_col, watermark)
                .dropDuplicatesWithinWatermark(["id_new", "id_seen"])
                .drop(ts_col))
    return pairs.distinct()


def streaming_passage_flags(docs: DataFrame, seen_windows: DataFrame,
                            w: int, text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Passage flagging against a window snapshot, streaming face of
    ``operators.dedup.incremental_substring_spans``: hash every
    ``w``-token rolling window of each stream document (the SAME
    pure-expression kernel as the batch path —
    ``substring_window_rows`` is stateless, so it lifts onto a
    stream unchanged) and stream-static semi-join against the
    persisted distinct-hash table. Output: ``(id, pos)`` per flagged
    window occurrence — each (id, pos) is already unique within a
    document, so the stream stays stateless end-to-end (the only
    shuffle is the stream-static join; a whash-sorted snapshot
    prunes by footer stats).

    Span ASSEMBLY (gaps-and-islands) is a window function and so a
    per-micro-batch concern: pipe this stream into ``foreachBatch``
    and call ``operators.dedup.merge_window_spans`` on each batch —
    value-identical to the batch probe, pinned in tests. ``w`` must
    be the snapshot's own geometry (the ``_meta`` sidecar of
    ``save_window_snapshot``)."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.dedup import (
        substring_window_rows,
    )

    wins = substring_window_rows(docs, w, text_col, id_col)
    return wins.join(seen_windows.select("whash"), "whash",
                     "left_semi").select("id", "pos")


def streaming_corpus_upsert_sink(docs: DataFrame, store_path: str,
                                 checkpoint_dir: Optional[str] = None):
    """Continuous ingest INTO a bucketed corpus store
    (``sources.sinks.save_corpus_store``): each micro-batch MERGEs by
    key via ``sinks.merge_into_corpus`` — batch rows replace
    same-key store rows and insert otherwise, touching only the
    buckets holding batch keys. Replay-safe WITHOUT a high-water
    mark: a merge is IDEMPOTENT (re-merging a batch re-updates the
    same keys to the same values — pinned in ``test_sinks``), so a
    crash-replayed micro-batch converges to the identical store
    state; the checkpoint only bounds how much work a replay
    repeats, never correctness. The mutable-corpus streaming twin of
    the append-only ``append_new_keys`` sink."""
    from dynamic_etl_pipeline_thesis_ii_spark.sources.sinks import (
        merge_into_corpus,
    )

    def upsert(batch_df, batch_id):  # noqa: ARG001 — foreachBatch shape
        if batch_df.isEmpty():
            return
        merge_into_corpus(batch_df.sparkSession, store_path, batch_df)

    return foreach_batch_sink(docs, batch_fn=upsert,
                              checkpoint_dir=checkpoint_dir)


def streaming_webdataset_sink(docs: DataFrame, path: str,
                              key_col: str = "doc_id",
                              text_col: str = "text",
                              target_shard_mb: float = 256,
                              checkpoint_dir: Optional[str] = None):
    """Continuous WebDataset export: each micro-batch lands as its
    own tar-shard set under ``path/batch-<id>/`` via
    ``sinks.write_webdataset`` — the streaming face of the SK6 export
    door, for pipelines that hand landed documents straight to a
    training loader as they arrive.

    Batch isolation is the replay story: a micro-batch owns its
    ``batch-<id>`` directory outright, shard bytes are DETERMINISTIC
    for a given batch content, and the writer replaces the directory's
    tars — so a crash-replayed batch (same checkpointed id, same
    source offsets → same rows) rewrites byte-identical files and the
    sink converges, the ``streaming_corpus_upsert_sink`` idempotence
    contract without a high-water mark. Shard count derives per batch
    from the mb target; each batch dir carries its own sha256
    manifest, so ``verify_webdataset`` covers a shipment batch-by-
    batch, and the read face consumes the whole sink with one glob
    (``read_webdataset(spark, path + '/batch-*/shard-*.tar')``).
    Keys must be unique WITHIN a batch (checked); cross-batch
    repeats are the caller's dedup story — run the stream through
    ``streaming_dedup``/``incremental_dedup`` first if exactly-once
    keys matter downstream."""
    from dynamic_etl_pipeline_thesis_ii_spark.sources.sinks import (
        write_webdataset,
    )

    def export(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        write_webdataset(
            batch_df, f"{path.rstrip('/')}/batch-{batch_id:08d}",
            key_col=key_col, text_col=text_col,
            n_shards=None, target_shard_mb=target_shard_mb)

    return foreach_batch_sink(docs, batch_fn=export,
                              checkpoint_dir=checkpoint_dir)
