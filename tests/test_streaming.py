"""Streaming operator tests: file source + availableNow trigger =
deterministic; every streaming result is cross-checked against the
equivalent batch computation on the same data."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from dynamic_etl_pipeline_thesis_ii_spark.streaming import ops as S


def _write_json(path: str, rows: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


@pytest.fixture()
def tick_dir(tmp_path):
    rows = []
    for m, (price, size) in enumerate([(10.0, 5), (11.0, 3), (9.5, 2),
                                       (10.5, 4), (12.0, 1), (8.0, 6)]):
        rows.append({"ticker": "AAPL", "ts": f"2024-01-01T10:{m:02d}:00.000Z",
                     "price": price, "size": size})
    # second hour + second ticker
    rows.append({"ticker": "AAPL", "ts": "2024-01-01T11:30:00.000Z",
                 "price": 20.0, "size": 7})
    rows.append({"ticker": "MSFT", "ts": "2024-01-01T10:15:00.000Z",
                 "price": 100.0, "size": 10})
    d = str(tmp_path / "ticks")
    _write_json(os.path.join(d, "part-0.json"), rows)
    return d


def test_windowed_ohlcv(spark, tick_dir):
    stream = S.read_tick_stream(spark, tick_dir)
    assert stream.isStreaming
    out = S.windowed_ohlcv(stream, window="1 hour", watermark="2 hours")
    S.run_available_now(out, "ohlcv_test", output_mode="complete")
    got = {(r["ticker"], r["window_start"].hour): r
           for r in spark.table("ohlcv_test").collect()}
    aapl10 = got[("AAPL", 10)]
    assert aapl10["open"] == 10.0   # earliest tick
    assert aapl10["close"] == 8.0   # latest tick
    assert aapl10["high"] == 12.0 and aapl10["low"] == 8.0
    assert aapl10["volume"] == 21 and aapl10["ticks"] == 6
    assert got[("AAPL", 11)]["open"] == 20.0
    assert got[("MSFT", 10)]["volume"] == 10


def test_sliding_vwap_matches_batch(spark, tick_dir):
    stream = S.read_tick_stream(spark, tick_dir)
    out = S.sliding_vwap(stream, window="1 hour", slide="30 minutes")
    S.run_available_now(out, "vwap_test", output_mode="complete")
    got = spark.table("vwap_test")
    batch = spark.read.schema(S.TICK_SCHEMA).json(tick_dir)
    expected = (batch.groupBy(F.window("ts", "1 hour", "30 minutes"), "ticker")
                .agg((F.sum(F.col("price") * F.col("size")) / F.sum("size")).alias("v"))
                .count())
    assert got.count() == expected
    # spot-check one full window
    row = got.filter((F.col("ticker") == "AAPL")
                     & (F.col("window_start") == "2024-01-01 10:00:00")).first()
    batch_vwap = round((10*5 + 11*3 + 9.5*2 + 10.5*4 + 12*1 + 8*6) / 21, 6)
    assert row["vwap"] == batch_vwap


def test_stateful_dedup(spark, tmp_path):
    rows = [
        {"event_id": 1, "ts": "2024-01-01T10:00:00.000Z", "user_id": 1,
         "event_type": "click", "value": 1.0},
        {"event_id": 1, "ts": "2024-01-01T10:00:05.000Z", "user_id": 1,
         "event_type": "click", "value": 1.0},   # dup within watermark
        {"event_id": 2, "ts": "2024-01-01T10:01:00.000Z", "user_id": 2,
         "event_type": "view", "value": 2.0},
    ]
    d = str(tmp_path / "events")
    _write_json(os.path.join(d, "part-0.json"), rows)
    stream = S.read_tick_stream(spark, d, schema=S.EVENT_SCHEMA)
    out = S.stateful_dedup(stream, ["event_id"], watermark="1 hour")
    S.run_available_now(out, "dedup_test",
                        checkpoint_dir=str(tmp_path / "ckpt"))
    got = spark.table("dedup_test").collect()
    assert sorted(r["event_id"] for r in got) == [1, 2]


def test_session_windows(spark, tmp_path):
    rows = [
        # user 1: two sessions separated by > 30 min
        {"event_id": 1, "ts": "2024-01-01T10:00:00.000Z", "user_id": 1,
         "event_type": "click", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01T10:10:00.000Z", "user_id": 1,
         "event_type": "view", "value": 2.0},
        {"event_id": 3, "ts": "2024-01-01T12:00:00.000Z", "user_id": 1,
         "event_type": "click", "value": 3.0},
        # user 2: one session
        {"event_id": 4, "ts": "2024-01-01T10:05:00.000Z", "user_id": 2,
         "event_type": "click", "value": 4.0},
    ]
    d = str(tmp_path / "sess")
    _write_json(os.path.join(d, "part-0.json"), rows)
    stream = S.read_tick_stream(spark, d, schema=S.EVENT_SCHEMA)
    out = S.session_windows(stream, gap="30 minutes")
    S.run_available_now(out, "sess_test", output_mode="complete")
    got = spark.table("sess_test").collect()
    by_user = {}
    for r in got:
        by_user.setdefault(r["user_id"], []).append(r)
    assert len(by_user[1]) == 2
    first = min(by_user[1], key=lambda r: r["session_start"])
    assert first["n_events"] == 2 and first["total_value"] == 3.0
    assert len(by_user[2]) == 1


def test_streaming_ema_matches_batch_recursion(spark, tmp_path):
    """Stateful EMA across MULTIPLE micro-batches (maxFilesPerTrigger=1
    forces one batch per file, so state must carry between batches)
    equals the batch ewm(adjust=False) recursion on the same data."""
    rows1 = [{"ticker": "AAPL", "ts": f"2024-01-01T10:{m:02d}:00.000Z",
              "price": float(10 + m), "size": 1} for m in range(5)]
    rows2 = [{"ticker": "AAPL", "ts": f"2024-01-01T11:{m:02d}:00.000Z",
              "price": float(30 + m), "size": 1} for m in range(5)]
    d = str(tmp_path / "ema_ticks")
    p0, p1 = os.path.join(d, "part-0.json"), os.path.join(d, "part-1.json")
    _write_json(p0, rows1)
    _write_json(p1, rows2)
    # the file source orders micro-batches by mtime — make it explicit
    os.utime(p0, (1000000000, 1000000000))
    os.utime(p1, (1000000100, 1000000100))
    stream = S.read_tick_stream(spark, d, max_files_per_trigger=1)
    out = S.streaming_ema(stream, span=4)
    S.run_available_now(out, "ema_test", checkpoint_dir=str(tmp_path / "ck"))
    got = {r["ts"]: r["ema"]
           for r in spark.table("ema_test").collect()}
    assert len(got) == 10

    import pandas as pd
    prices = pd.Series([r["price"] for r in rows1 + rows2])
    expected = prices.ewm(span=4, adjust=False).mean()
    ordered = [got[k] for k in sorted(got)]
    for g, e in zip(ordered, expected):
        assert abs(g - e) < 1e-9


def test_windowed_rollup_feeds_feature_dsl(spark, tick_dir, tmp_path):
    """The streaming OHLCV rollup output lands in the same canonical bar
    schema the feature DSL consumes — stream rollup -> batch table ->
    sma through the registry/validator/compiler path."""
    from dynamic_etl_pipeline_thesis_ii_spark.functions.compiler import apply_features
    from dynamic_etl_pipeline_thesis_ii_spark.functions.dsl import validate_dsl
    from dynamic_etl_pipeline_thesis_ii_spark.functions.registry import FEATURE_REGISTRY

    stream = S.read_tick_stream(spark, tick_dir)
    out = S.windowed_ohlcv(stream, window="30 minutes", watermark="2 hours")
    S.run_available_now(out, "bars_for_dsl", output_mode="complete")
    bars = spark.table("bars_for_dsl").withColumnRenamed("window_start", "ts")
    dsl, errors = validate_dsl(
        {"features": [{"name": "sma", "params": {"on": "close", "window": 2}}]},
        FEATURE_REGISTRY)
    assert not errors
    enriched = apply_features(bars, dsl, entity_col="ticker", ts_col="ts")
    rows = enriched.filter(F.col("ticker") == "AAPL").orderBy("ts").collect()
    assert "sma_close_2" in enriched.columns
    assert rows[0]["sma_close_2"] is None          # min_periods guard
    assert rows[1]["sma_close_2"] is not None


def test_interval_join_matches_batch(spark, tick_dir, tmp_path):
    """Stream-stream band join (both sides watermarked, time-range
    predicate) equals the batch band join on the same files."""
    ticks = S.read_tick_stream(spark, tick_dir)
    quotes = S.read_tick_stream(spark, tick_dir)  # self-join shape
    out = S.interval_join(ticks, quotes, band_seconds=120)
    pairs = out.select(F.col("l.ts").alias("lts"), F.col("r.ts").alias("rts"),
                       F.col("l.ticker").alias("tk"))
    S.run_available_now(pairs, "ij_test", checkpoint_dir=str(tmp_path / "ck2"))
    got = spark.table("ij_test").count()

    batch = spark.read.schema(S.TICK_SCHEMA).json(tick_dir)
    b = batch.alias("l").join(
        batch.alias("r"),
        (F.col("l.ticker") == F.col("r.ticker"))
        & (F.col("r.ts") <= F.col("l.ts"))
        & (F.col("r.ts") >= F.col("l.ts") - F.expr("INTERVAL 120 SECONDS")),
        "inner").count()
    assert got == b > 0


def test_foreach_batch_sink_to_jdbc(spark, tick_dir, tmp_path):
    """foreachBatch bridges the stream to batch-only sinks: every
    micro-batch lands in an embedded-Derby table through the JDBC sink,
    and the drained table equals the full input."""
    from dynamic_etl_pipeline_thesis_ii_spark.sources import sinks as SK

    url = f"jdbc:derby:{tmp_path}/stream_db;create=true"
    seen_batches = []

    def to_jdbc(batch_df, batch_id):
        seen_batches.append(batch_id)
        SK.write_jdbc(batch_df, url, "ticks", if_exists="append",
                      verify=False)

    stream = S.read_tick_stream(spark, tick_dir)
    S.foreach_batch_sink(stream, batch_fn=to_jdbc,
                         checkpoint_dir=str(tmp_path / "ckpt"))
    assert seen_batches  # at least one micro-batch ran
    back = (spark.read.format("jdbc")
            .option("url", url).option("dbtable", "ticks").load())
    assert back.count() == spark.read.schema(S.TICK_SCHEMA).json(tick_dir).count()


def test_foreach_batch_sink_default_parquet(spark, tick_dir, tmp_path):
    out = str(tmp_path / "out_parquet")
    stream = S.read_tick_stream(spark, tick_dir)
    S.foreach_batch_sink(stream, path=out,
                         checkpoint_dir=str(tmp_path / "ckpt2"))
    assert (spark.read.parquet(out).count()
            == spark.read.schema(S.TICK_SCHEMA).json(tick_dir).count())


def test_streaming_asof_join_matches_batch(spark, tmp_path):
    """Stream-stream as-of (interval join + windowed max_by) drained
    fully equals the batch as-of on the same data."""
    quotes = [
        {"ticker": "AAPL", "ts": "2024-01-01T10:00:00.000Z", "price": 10.0, "size": 1},
        {"ticker": "AAPL", "ts": "2024-01-01T10:02:00.000Z", "price": 11.0, "size": 1},
        {"ticker": "AAPL", "ts": "2024-01-01T10:04:30.000Z", "price": 12.0, "size": 1},
        {"ticker": "MSFT", "ts": "2024-01-01T10:01:00.000Z", "price": 99.0, "size": 1},
    ]
    trades = [
        {"ticker": "AAPL", "ts": "2024-01-01T10:03:00.000Z", "price": 10.9, "size": 5},
        {"ticker": "AAPL", "ts": "2024-01-01T10:05:00.000Z", "price": 12.1, "size": 2},
        {"ticker": "MSFT", "ts": "2024-01-01T10:02:00.000Z", "price": 99.5, "size": 3},
    ]
    qd, td = str(tmp_path / "quotes"), str(tmp_path / "trades")
    _write_json(os.path.join(qd, "part-0.json"), quotes)
    _write_json(os.path.join(td, "part-0.json"), trades)
    # append mode only emits groups the watermark has passed: a
    # far-future flush row on EACH input advances the global watermark
    # beyond all real rows (the no-data micro-batch after the last file
    # then finalizes them). The flush ticker never joins, so it adds no
    # output.
    def flush(tkr):
        return [{"ticker": tkr, "ts": "2024-01-03T00:00:00.000Z",
                 "price": 0.0, "size": 0}]
    _write_json(os.path.join(qd, "part-1-flush.json"), flush("ZZQ"))
    _write_json(os.path.join(td, "part-1-flush.json"), flush("ZZT"))

    out = S.streaming_asof_join(
        S.read_tick_stream(spark, td, max_files_per_trigger=1),
        S.read_tick_stream(spark, qd, max_files_per_trigger=1),
        band_seconds=300)
    S.run_available_now(out, "asof_stream", output_mode="append")
    got = {(r["ticker"], r["ts"].minute): r["r_price"]
           for r in spark.table("asof_stream").collect()}
    # each trade sees the newest quote <= its ts within 5 minutes
    assert got == {("AAPL", 3): 11.0,   # 10:02 quote, not 10:00
                   ("AAPL", 5): 12.0,   # 10:04:30 quote
                   ("MSFT", 2): 99.0}

    # batch cross-check: identical max_by composition on static frames
    bt = spark.read.schema(S.TICK_SCHEMA).json(td)
    bq = spark.read.schema(S.TICK_SCHEMA).json(qd)
    joined = bt.alias("l").join(
        bq.alias("r"),
        (F.col("l.ticker") == F.col("r.ticker"))
        & (F.col("r.ts") <= F.col("l.ts"))
        & (F.col("r.ts") >= F.col("l.ts") - F.expr("INTERVAL 300 SECONDS")))
    batch = {(r["ticker"], r["ts"].minute): r["r_price"]
             for r in joined.groupBy(F.col("l.ticker").alias("ticker"),
                                     F.col("l.ts").alias("ts"))
             .agg(F.max_by(F.col("r.price"), F.col("r.ts")).alias("r_price"))
             .collect()}
    assert got == batch


def test_text_quality_composes_on_stream(spark, tmp_path):
    """Batch text operators are pure column expressions, so the SAME
    code path runs on a stream unchanged — drained results equal the
    batch computation."""
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    from dynamic_etl_pipeline_thesis_ii_spark.operators.text import (
        lang_id, quality_features)

    rows = [{"doc_id": 1, "text": "the cat and the dog sat for it"},
            {"doc_id": 2, "text": "der hund ist nicht ein tier, und das!"},
            {"doc_id": 3, "text": "zz qq xx"}]
    d = str(tmp_path / "docs")
    _write_json(os.path.join(d, "part-0.json"), rows)
    schema = StructType([StructField("doc_id", LongType()),
                         StructField("text", StringType())])

    def enrich(df):
        feats = quality_features(F.col("text"))
        return df.select("doc_id",
                         feats["quality_score"].alias("q"),
                         lang_id(F.col("text")).alias("lang"))

    stream = enrich(spark.readStream.schema(schema).json(d))
    assert stream.isStreaming
    S.run_available_now(stream, "text_stream")
    got = {r["doc_id"]: (r["q"], r["lang"])
           for r in spark.table("text_stream").collect()}
    batch = {r["doc_id"]: (r["q"], r["lang"])
             for r in enrich(spark.read.schema(schema).json(d)).collect()}
    assert got == batch
    assert got[1][1] == "en" and got[2][1] == "de" and got[3][1] == "und"


def test_streaming_incremental_dedup(spark, tmp_path):
    from dynamic_etl_pipeline_thesis_ii_spark.operators import dedup as D

    corpus = spark.createDataFrame(
        [(1, "already ingested document one"),
         (2, "already ingested document two")],
        "doc_id long, text string")
    seen = D.content_keys(corpus)

    rows = [
        # dup of snapshot doc 1 (case/whitespace noise)
        {"doc_id": 10, "ts": "2024-01-01T10:00:00.000Z",
         "text": "Already  INGESTED document one"},
        {"doc_id": 11, "ts": "2024-01-01T10:01:00.000Z",
         "text": "a brand new document"},
        # in-stream dup of 11
        {"doc_id": 12, "ts": "2024-01-01T10:02:00.000Z",
         "text": "a  brand NEW document"},
        {"doc_id": 13, "ts": "2024-01-01T10:03:00.000Z",
         "text": "another new document"},
    ]
    d = str(tmp_path / "docs")
    _write_json(os.path.join(d, "part-0.json"), rows)
    stream = (spark.readStream.format("json")
              .schema(S.DOC_STREAM_SCHEMA).load(d))
    out = S.streaming_incremental_dedup(stream, seen)
    S.run_available_now(out, "inc_dedup_test",
                        checkpoint_dir=str(tmp_path / "ckpt_inc"))
    kept = {r["doc_id"] for r in spark.table("inc_dedup_test").collect()}
    assert kept == {11, 13}

    # batch equivalence: same rows through the batch operator
    batch = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rows], "doc_id long, text string")
    batch_kept = {r["doc_id"]
                  for r in D.incremental_exact(batch, seen).collect()}
    assert batch_kept == kept

    # bloom path parity: the broadcast pre-filter changes the PLAN
    # (each micro-batch shuffles only the bloom-positive sliver
    # against the snapshot), never the answer
    bf = D.BloomFilter.fit(seen.select("key"), "key", fpp=0.01)
    outb = S.streaming_incremental_dedup(stream, seen, bloom=bf)
    S.run_available_now(outb, "inc_dedup_bloom_test",
                        checkpoint_dir=str(tmp_path / "ckpt_inc_bloom"))
    kept_bloom = {r["doc_id"]
                  for r in spark.table("inc_dedup_bloom_test").collect()}
    assert kept_bloom == kept


def test_streaming_neardup_flags_matches_batch_bands(spark):
    """The expression-level minhash the stream path uses must produce
    the SAME band keys as the aggregate-path minhash_band_keys that
    built the snapshot — otherwise stream probes silently miss
    collisions. Pinned on a batch frame (ts_col=None)."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "one two three four five six seven"),
         (3, None), (4, "")],
        "doc_id long, text string")
    batch = {(r["id"], r["band"], tuple(r["slice"]))
             for r in D.minhash_band_keys(docs, k=2).collect()}
    # stream formulation over the same docs, probed against itself:
    # every non-empty doc must collide with its own snapshot row
    flags = {(r["id_new"], r["id_seen"])
             for r in S.streaming_neardup_flags(
                 docs, D.minhash_band_keys(docs, k=2), k=2,
                 ts_col=None).collect()}
    assert (1, 1) in flags and (2, 2) in flags
    assert all(a not in (3, 4) and b not in (3, 4) for a, b in flags)
    # and the expression path emits band keys drawn from the same set
    assert batch  # non-vacuous


def test_streaming_neardup_flags_end_to_end(spark, tmp_path):
    from dynamic_etl_pipeline_thesis_ii_spark.operators import dedup as D

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "completely different historical text")],
        "doc_id long, text string")
    bands = D.minhash_band_keys(corpus, k=2)

    rows = [
        # shares shingles with corpus doc 1 -> must flag (20, 1)
        {"doc_id": 20, "ts": "2024-01-01T10:00:00.000Z",
         "text": "alpha beta gamma delta epsilon zeta eta"},
        {"doc_id": 21, "ts": "2024-01-01T10:01:00.000Z",
         "text": "wholly unrelated fresh content words"},
    ]
    d = str(tmp_path / "docs")
    _write_json(os.path.join(d, "part-0.json"), rows)
    stream = (spark.readStream.format("json")
              .schema(S.DOC_STREAM_SCHEMA).load(d))
    out = S.streaming_neardup_flags(stream, bands, k=2)
    assert out.isStreaming
    S.run_available_now(out, "neardup_flags_test",
                        checkpoint_dir=str(tmp_path / "ckpt_nd"))
    flags = {(r["id_new"], r["id_seen"])
             for r in spark.table("neardup_flags_test").collect()}
    assert (20, 1) in flags
    assert all(idn != 21 for idn, _ in flags)
    # within-watermark pair dedup: each colliding pair appears once
    rows_n = spark.table("neardup_flags_test").count()
    assert rows_n == len(flags)


def test_stateless_curation_exprs_stream(spark, tmp_path):
    """The expression-level curation ops (URL normalization + domain
    extraction, overlapping chunking) run unchanged on a stream —
    they're narrow column transforms / generators, so the streaming
    plan is the batch plan; results must match batch exactly."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators import web as W
    from dynamic_etl_pipeline_thesis_ii_spark.operators.text import (
        chunk_documents,
    )
    rows = [{"doc_id": 1, "url": "HTTPS://User@Example.COM:443/a/?utm_x=1",
             "text": " ".join(f"w{i}" for i in range(7))},
            {"doc_id": 2, "url": "http://sub.site.co.uk:80/b#frag",
             "text": "short doc"}]
    d = str(tmp_path / "docs")
    _write_json(os.path.join(d, "part-0.json"), rows)
    schema = "doc_id long, url string, text string"
    stream = spark.readStream.schema(schema).json(d)
    assert stream.isStreaming

    curated = stream.select(
        "doc_id",
        W.normalize_url(F.col("url")).alias("norm_url"),
        W.registered_domain(W.url_host(W.normalize_url(F.col("url"))))
        .alias("domain"))
    S.run_available_now(curated, "stream_url_test")
    got = {r["doc_id"]: (r["norm_url"], r["domain"])
           for r in spark.sql("SELECT * FROM stream_url_test").collect()}
    batch = spark.createDataFrame([(r["doc_id"], r["url"]) for r in rows],
                                  "doc_id long, url string")
    want = {r["doc_id"]: (r["n"], r["d"]) for r in batch.select(
        "doc_id", W.normalize_url(F.col("url")).alias("n"),
        W.registered_domain(W.url_host(W.normalize_url(F.col("url"))))
        .alias("d")).collect()}
    assert got == want
    assert got[1] == ("https://User@example.com/a", "example.com")

    chunked = chunk_documents(stream, size=4, stride=3)
    S.run_available_now(chunked, "stream_chunk_test")
    sgot = sorted((r["id"], r["chunk_idx"], r["chunk_text"])
                  for r in spark.sql(
                      "SELECT * FROM stream_chunk_test").collect())
    bwant = sorted((r["id"], r["chunk_idx"], r["chunk_text"])
                   for r in chunk_documents(
                       spark.createDataFrame(
                           [(r["doc_id"], r["text"]) for r in rows],
                           "doc_id long, text string"),
                       size=4, stride=3).collect())
    assert sgot == bwant and len(sgot) == 3  # 2 chunks doc1 + 1 doc2


def test_quality_classifier_scores_stream(spark, tmp_path):
    """A trained quality model transforms a stream row-wise (no
    aggregation in the pipeline), so scoring works unchanged on
    Structured Streaming and matches batch scores exactly."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators import quality as Q
    clean = ("the quick brown fox jumps over the lazy dog and then "
             "runs through the field while the sun sets slowly " * 3)
    rows = [{"doc_id": 1, "text": clean},
            {"doc_id": 2, "text": "zz qq ### ... 0x1 kpl " * 5}]
    train = Q.weak_labels_from_gopher(spark.createDataFrame(
        [(i, clean + f" v{i}") for i in range(10)]
        + [(100 + i, f"xx qq ### {i} " * 6) for i in range(10)],
        ["doc_id", "text"]))
    model = Q.train_quality_classifier(train, n_features=1 << 12)

    d = str(tmp_path / "qdocs")
    _write_json(os.path.join(d, "part-0.json"), rows)
    stream = spark.readStream.schema("doc_id long, text string").json(d)
    scored = Q.score_quality(stream, model)
    assert scored.isStreaming
    S.run_available_now(scored, "stream_quality_test")
    got = {r["id"]: r["quality_prob"] for r in
           spark.sql("SELECT * FROM stream_quality_test").collect()}
    batch = {r["id"]: r["quality_prob"] for r in Q.score_quality(
        spark.createDataFrame([(r["doc_id"], r["text"]) for r in rows],
                              "doc_id long, text string"), model).collect()}
    assert got == batch and got[1] > got[2]


def test_streaming_crawl_ingest_matches_batch(spark, tmp_path):
    """Continuous crawl ingestion: read_warc_stream (the WARC kernel
    over the binaryFile STREAM source) + the html_to_lines projection
    turn a landing directory of .warc files into a continuously-
    growing documents table; results must equal the batch read of the
    same directory."""
    import gzip
    import sys
    sys.path.insert(0, os.path.dirname(__file__))
    from test_warc import _warc_bytes

    from dynamic_etl_pipeline_thesis_ii_spark.operators.text import (
        html_to_lines,
    )
    from dynamic_etl_pipeline_thesis_ii_spark.sources import warc as W

    d = tmp_path / "crawl"
    d.mkdir()
    (d / "a.warc").write_bytes(_warc_bytes())
    (d / "b.warc.gz").write_bytes(gzip.compress(_warc_bytes()))

    def curate(records):
        return (records
                .filter((F.col("warc_type") == "response")
                        & (F.col("http_status") == 200)
                        & F.col("text").isNotNull())
                .select("warc_path", "target_uri",
                        html_to_lines(F.col("text")).alias("text")))

    stream = W.read_warc_stream(spark, str(d))
    assert stream.isStreaming
    S.run_available_now(curate(stream), "stream_crawl_test")
    got = sorted((r["warc_path"].rsplit("/", 1)[-1], r["text"])
                 for r in spark.sql(
                     "SELECT * FROM stream_crawl_test").collect())
    want = sorted((r["warc_path"].rsplit("/", 1)[-1], r["text"])
                  for r in curate(W.read_warc(spark, str(d))).collect())
    assert got == want and len(got) == 2
    assert all("Hello & bye" in t.split("\n") for _, t in got)


def test_streaming_census_sink_equals_batch_recompute(spark, tmp_path):
    """foreachBatch census maintenance: after draining two file
    drops, the stored census equals corpus_census over ALL rows — the
    running-telemetry contract, and the second drain folds (not
    overwrites) the first."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.text import (
        corpus_census,
    )

    schema = ("doc_id long, text string, lang string, source string")
    d = str(tmp_path / "docs")
    census_path = str(tmp_path / "census")
    ckpt = str(tmp_path / "ckpt_census")
    rows1 = [{"doc_id": i, "text": f"w{i} body text", "lang": f"l{i % 2}",
              "source": "s0"} for i in range(8)]
    rows2 = [{"doc_id": 100 + i, "text": "x y z", "lang": "l2",
              "source": f"s{i % 3}"} for i in range(5)]
    _write_json(os.path.join(d, "drop-0.json"), rows1)

    def drain():
        stream = (spark.readStream.format("json").schema(schema).load(d)
                  .select("doc_id", "text", "lang", "source"))
        S.streaming_census_sink(stream, census_path, checkpoint_dir=ckpt)

    drain()
    _write_json(os.path.join(d, "drop-1.json"), rows2)
    drain()                      # checkpoint: drop-0 is NOT re-folded

    all_rows = spark.createDataFrame(
        [(r["doc_id"], r["text"], r["lang"], r["source"])
         for r in rows1 + rows2], schema)
    want = sorted(map(tuple, corpus_census(all_rows).collect()))
    got = sorted(map(tuple, spark.read.parquet(census_path).collect()))
    assert got == want


def test_census_fold_replayed_batch_folds_exactly_once(spark, tmp_path):
    """Checkpoint-replay safety: re-invoking the fold with an
    already-folded batch_id (Structured Streaming's at-least-once
    window — foreachBatch reruns a batch whose commit never landed)
    leaves the census unchanged; a NEW batch_id folds, and a different
    stream identity (new checkpoint, restarted numbering) keeps its
    own mark instead of skipping on the stale one."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.text import (
        corpus_census,
        merge_census,
    )

    schema = "doc_id long, text string, lang string, source string"
    b0 = spark.createDataFrame(
        [(i, f"w{i} body", f"l{i % 2}", "s0") for i in range(6)], schema)
    b1 = spark.createDataFrame(
        [(100 + i, "x y", "l2", "s1") for i in range(4)], schema)
    census_path = str(tmp_path / "census")
    fold = S.census_fold(census_path, stream_id="ckpt-A")

    fold(b0, 0)
    once = sorted(map(tuple, spark.read.parquet(census_path).collect()))
    fold(b0, 0)                              # replay: skipped
    assert sorted(map(tuple,
                      spark.read.parquet(census_path).collect())) == once

    fold(b1, 1)                              # fresh batch folds
    want = sorted(map(tuple, merge_census(
        corpus_census(b0), corpus_census(b1)).collect()))
    assert sorted(map(tuple,
                      spark.read.parquet(census_path).collect())) == want
    fold(b1, 1)                              # replay of batch 1: skipped
    fold(b0, 0)                              # late replay of batch 0: skipped
    assert sorted(map(tuple,
                      spark.read.parquet(census_path).collect())) == want

    # a different stream identity restarts batch numbering: its batch 0
    # must FOLD (the mark is per-stream), not skip on stream A's mark
    b2 = spark.createDataFrame([(200, "q r", "l3", "s2")], schema)
    fold_b = S.census_fold(census_path, stream_id="ckpt-B")
    fold_b(b2, 0)
    want2 = sorted(map(tuple, merge_census(
        merge_census(corpus_census(b0), corpus_census(b1)),
        corpus_census(b2)).collect()))
    assert sorted(map(tuple,
                      spark.read.parquet(census_path).collect())) == want2


@pytest.mark.parametrize("suffix,stream_id", [("", None),
                                              ("_meta", "ckpt-A")],
                         ids=["store", "mark"])
def test_census_fold_rejects_unreadable_sidecar(spark, tmp_path, suffix,
                                                stream_id):
    """Only a MISSING census store or replay mark is the bootstrap
    state; one that exists but cannot be read raises, naming it, instead
    of restarting the cumulative census from one batch (store) or
    folding a replayed batch twice (mark)."""
    import re

    from dynamic_etl_pipeline_thesis_ii_spark.sources.sinks import SinkError

    census_path = str(tmp_path / "census")
    with open(census_path + suffix, "wb") as fh:
        fh.write(b"not a parquet file")
    b0 = spark.createDataFrame([(1, "a b", "en", "s0")],
                               "doc_id long, text string, lang string, "
                               "source string")
    with pytest.raises(SinkError, match=re.escape(
            f"unreadable store at {census_path}{suffix}: ")) as err:
        S.census_fold(census_path, stream_id=stream_id)(b0, 0)
    assert err.value.__cause__ is not None


def test_checkpoint_instance_id_rejects_unreadable_metadata(spark,
                                                            tmp_path):
    """Checkpoint metadata that exists but is not JSON raises naming
    it, instead of falling back to the path-keyed replay mark (which
    would skip a recreated checkpoint's early batches)."""
    import re

    from dynamic_etl_pipeline_thesis_ii_spark.sources.sinks import SinkError

    ckpt = tmp_path / "ckpt"
    ckpt.mkdir()
    (ckpt / "metadata").write_text("not json")
    with pytest.raises(SinkError, match=re.escape(
            f"unreadable store at {ckpt}/metadata: ")) as err:
        S.checkpoint_instance_id(spark, str(ckpt))
    assert err.value.__cause__ is not None


def test_census_fold_recreated_checkpoint_is_a_new_instance(
        spark, tmp_path):
    """A user deletes and recreates the SAME checkpoint directory:
    batch ids restart at 0 while the census _meta sidecar survives.
    The mark is keyed on the checkpoint INSTANCE (the query id in the
    checkpoint's own metadata file), so the new incarnation's batch 0
    must FOLD — a path-keyed mark would silently skip every batch up
    to the old high water and undercount the census."""
    import json as _json
    import shutil

    from dynamic_etl_pipeline_thesis_ii_spark.operators.text import (
        corpus_census,
        merge_census,
    )

    ckpt = tmp_path / "ckpt"

    def incarnate(qid: str):
        ckpt.mkdir()
        (ckpt / "metadata").write_text(_json.dumps({"id": qid}))

    schema = "doc_id long, text string, lang string, source string"
    b0 = spark.createDataFrame(
        [(i, f"w{i} body", "l0", "s0") for i in range(5)], schema)
    b1 = spark.createDataFrame([(200, "q r", "l1", "s1")], schema)
    census_path = str(tmp_path / "census")

    incarnate("query-uuid-1")
    # the instance id resolves through the Hadoop FS path, suffixing
    # the query id — two incarnations of one path are distinct streams
    iid1 = S.checkpoint_instance_id(spark, str(ckpt))
    assert iid1.endswith("#query-uuid-1")
    fold = S.census_fold(census_path, stream_id=str(ckpt))
    fold(b0, 0)
    fold(b0, 3)                       # advance the mark past batch 0

    shutil.rmtree(ckpt)               # delete + recreate the SAME path
    incarnate("query-uuid-2")
    assert S.checkpoint_instance_id(spark, str(ckpt)) != iid1
    fold2 = S.census_fold(census_path, stream_id=str(ckpt))
    fold2(b1, 0)                      # restarted numbering: MUST fold
    want = sorted(map(tuple, merge_census(
        merge_census(corpus_census(b0), corpus_census(b0)),
        corpus_census(b1)).collect()))
    assert sorted(map(tuple,
                      spark.read.parquet(census_path).collect())) == want
    # no metadata file (direct/batch callers): the bare path returns,
    # preserving the documented pre-instance-id fallback semantics
    assert S.checkpoint_instance_id(
        spark, str(tmp_path / "nowhere")) == str(tmp_path / "nowhere")


def test_streaming_contamination_flags_matches_batch(spark, sf_dir):
    """Stream-path verdicts == contamination_pairs on the same data
    (batch frame, ts_col=None): same (id_new, id_bench) pairs, same
    distinct-shingle overlap counts, df-cap included."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators import dedup as D
    from dynamic_etl_pipeline_thesis_ii_spark.sources.registry import Catalog

    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 13 == 0)
    corpus = docs.filter(F.col("doc_id") % 13 != 0).unionByName(
        bench.select((F.col("doc_id") + 300000).alias("doc_id"),
                     F.col("text")))   # planted exact copies
    batch = {(r["id_a"], r["id_b"], r["overlap"])
             for r in D.contamination_pairs(corpus, bench, k=5,
                                            min_overlap=3).collect()}
    sets_ = S.bench_shingle_sets(bench, k=5)
    stream = {(r["id_new"], r["id_bench"], r["overlap"])
              for r in S.streaming_contamination_flags(
                  corpus, sets_, k=5, min_overlap=3,
                  ts_col=None).collect()}
    assert stream == batch and batch      # non-vacuous


def test_streaming_contamination_flags_end_to_end(spark, tmp_path):
    """Real stream drain: a doc repeating a benchmark doc's text flags
    against it; an unrelated doc doesn't; repeats across micro-batch
    replays are deduped within the watermark."""
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog today"),
         (101, "completely different benchmark sentence with words")],
        "doc_id long, text string")
    sets_ = S.bench_shingle_sets(bench, k=5)

    rows = [
        {"doc_id": 1, "ts": "2024-01-01T10:00:00.000Z",
         "text": "prefix the quick brown fox jumps over the lazy dog "
                 "today suffix"},
        {"doc_id": 2, "ts": "2024-01-01T10:01:00.000Z",
         "text": "wholly unrelated fresh content words nothing shared"},
    ]
    d = str(tmp_path / "docs")
    _write_json(os.path.join(d, "part-0.json"), rows)
    stream = (spark.readStream.format("json")
              .schema(S.DOC_STREAM_SCHEMA).load(d))
    flags = S.streaming_contamination_flags(stream, sets_, k=5,
                                            min_overlap=3)
    S.run_available_now(flags, "contam_flags",
                        checkpoint_dir=str(tmp_path / "ck"))
    got = {(r["id_new"], r["id_bench"])
           for r in spark.sql("SELECT * FROM contam_flags").collect()}
    assert got == {(1, 100)}


def test_streaming_semantic_contamination_stream_static(spark, sf_dir,
                                                        tmp_path):
    """semantic_contamination is stream-static-compatible as-is (sign
    buckets are per-row expressions, the benchmark side broadcasts):
    draining a stream of corpus vectors against a static benchmark
    yields the same pairs as the batch operator."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.similarity import (
        semantic_contamination,
    )
    from dynamic_etl_pipeline_thesis_ii_spark.sources.registry import Catalog

    emb = Catalog(spark, sf_dir).embeddings
    bench = emb.filter(F.col("vec_id") % 7 == 0)
    # stream side: planted scaled copies (cosine 1) + clean vectors,
    # written as parquet and re-read as a file stream
    planted = bench.select((F.col("vec_id") + 500000).alias("vec_id"),
                           F.transform(F.col("embedding")
                                       .cast("array<double>"),
                                       lambda x: x * 1.001)
                           .alias("embedding"))
    corpus = (emb.filter(F.col("vec_id") % 7 != 0)
              .select("vec_id", F.col("embedding").cast("array<double>")
                      .alias("embedding"))
              .unionByName(planted))
    src = str(tmp_path / "vec_stream")
    corpus.write.parquet(src)
    stream = (spark.readStream.schema(corpus.schema).parquet(src))
    pairs = semantic_contamination(stream, bench, threshold=0.95)
    S.run_available_now(pairs, "sem_flags",
                        checkpoint_dir=str(tmp_path / "ck2"))
    got = {(r["id_a"], r["id_b"], r["cos"])
           for r in spark.sql("SELECT * FROM sem_flags").collect()}
    batch = {(r["id_a"], r["id_b"], r["cos"])
             for r in semantic_contamination(corpus, bench,
                                             threshold=0.95).collect()}
    assert got == batch and batch


def test_streaming_census_histogram_sidecar(spark, tmp_path):
    """census_fold(histogram=True): the <census>_hist sidecar folds
    under the SAME high-water mark as the census — after two batches
    it equals census_histogram over all rows, and a replayed batch
    changes neither store."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.text import (
        census_histogram,
        corpus_census,
    )

    schema = "doc_id long, text string, lang string, source string"
    b0 = spark.createDataFrame(
        [(i, "w " * (i % 5 + 1), f"l{i % 2}", "s0") for i in range(6)],
        schema)
    b1 = spark.createDataFrame(
        [(100 + i, "x y z q r s t u", "l2", "s1") for i in range(4)],
        schema)
    census_path = str(tmp_path / "census")
    fold = S.census_fold(census_path, stream_id="ckpt-H", histogram=True)
    fold(b0, 0)
    fold(b1, 1)
    fold(b1, 1)                  # replay: must be a no-op for BOTH
    both = b0.unionByName(b1)
    assert sorted(map(tuple,
                      spark.read.parquet(census_path).collect())) == \
        sorted(map(tuple, corpus_census(both).collect()))
    assert sorted(map(tuple,
                      spark.read.parquet(census_path + "_hist")
                      .collect())) == \
        sorted(map(tuple, census_histogram(both).collect()))


def test_streaming_sharded_sink_with_manifest_fold(spark, tmp_path):
    """Streaming face of the manifested shard store: foreachBatch
    routes each micro-batch through write_shards(append, manifest=True,
    verify=False) — bootstrap computes the manifest once, later
    batches FOLD at batch cost, and after two drains the stored
    manifest equals a full recompute over everything at the path."""
    from dynamic_etl_pipeline_thesis_ii_spark.sources.sinks import (
        shard_manifest,
        write_shards,
    )

    schema = "doc_id long, text string"
    d = str(tmp_path / "docs")
    shards = str(tmp_path / "shards")
    ckpt = str(tmp_path / "ckpt_shards")
    rows1 = [{"doc_id": i, "text": f"alpha {i}"} for i in range(40)]
    rows2 = [{"doc_id": 100 + i, "text": f"beta {i}"} for i in range(25)]
    _write_json(os.path.join(d, "drop-0.json"), rows1)

    def drain():
        stream = (spark.readStream.format("json").schema(schema).load(d)
                  .select("doc_id", "text"))
        S.foreach_batch_sink(
            stream,
            batch_fn=lambda batch, _i: write_shards(
                batch, shards, n_shards=2, key_col="doc_id",
                if_exists="append", manifest=True, verify=False),
            checkpoint_dir=ckpt)

    drain()
    _write_json(os.path.join(d, "drop-1.json"), rows2)
    drain()                      # checkpoint: drop-0 not re-written

    back = spark.read.parquet(shards)
    assert back.count() == 65
    stored = spark.read.parquet(shards + "_manifest")
    assert sorted(map(tuple, stored.collect())) == \
        sorted(map(tuple, shard_manifest(back).collect()))


def test_streaming_cluster_assignment_matches_batch(spark, tmp_path):
    """The cluster map works on a STREAM as-is: assign_to_centers is
    stateless (broadcast-GEMM pandas UDF + stream-static broadcast
    join), so a drained embedding stream gets exactly the batch
    path's assignments — epoch N+1 maps continuously with zero
    refit."""
    import json as _json

    from dynamic_etl_pipeline_thesis_ii_spark.operators.similarity import (
        assign_to_centers,
        cluster_embeddings,
    )

    emb_rows = [(i, [float((i * 7 + j * 3) % 11) for j in range(8)])
                for i in range(60)]
    emb = spark.createDataFrame(emb_rows,
                                "vec_id long, embedding array<double>")
    assign, centers = cluster_embeddings(emb, n_clusters=3)
    want = sorted(map(tuple, assign.collect()))

    d = str(tmp_path / "vecs")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "drop-0.json"), "w") as fh:
        for i, v in emb_rows:
            fh.write(_json.dumps({"vec_id": i, "embedding": v}) + "\n")
    stream = (spark.readStream.format("json")
              .schema("vec_id long, embedding array<double>").load(d))
    out = str(tmp_path / "assigned")
    q = (assign_to_centers(stream, centers)
         .writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert got == want


def test_streaming_image_flags_matches_incremental_batch(spark, tmp_path):
    """Image near-dup flagging on a media stream against the persisted
    hamming snapshot: a drained stream's flags equal the batch
    incremental probe's (id_new, id_seen, hamming) verdicts."""
    import base64
    import json as _json

    import numpy as np

    from dynamic_etl_pipeline_thesis_ii_spark.operators import (
        dedup as D,
        multimodal as M,
    )

    rng = np.random.default_rng(5)
    grad = np.linspace(0, 200, 32, dtype=np.uint8)

    def img(shift):
        x = ((rng.integers(0, 256, (32, 32, 3)).astype(int)
              + np.roll(grad, shift)[None, :, None]) // 2)
        return x.astype(np.uint8)

    a, b = img(0), img(16)
    seen = spark.createDataFrame(
        [(1, "image", bytes(M.write_bmp(a))),
         (2, "image", bytes(M.write_bmp(b)))],
        "media_id long, kind string, payload binary")
    bands_path = str(tmp_path / "img_bands")
    D.hamming_band_keys(M.image_dhash(seen), max_hamming=6,
                        n_blocks=8).write.parquet(bands_path)
    seen_banded = spark.read.parquet(bands_path)

    a_noisy = a.copy()
    a_noisy[::9, ::6] = np.clip(a_noisy[::9, ::6].astype(int) + 10,
                                0, 255).astype(np.uint8)
    batch_rows = [(10, "image", bytes(M.write_png(a_noisy)),
                   "2024-01-01T00:00:00"),
                  (11, "image", bytes(M.write_bmp(img(8))),
                   "2024-01-01T00:01:00")]
    batch = spark.createDataFrame(
        [(i, k, p) for i, k, p, _ in batch_rows],
        "media_id long, kind string, payload binary")
    want = sorted(map(tuple, D.incremental_hamming_pairs(
        M.image_dhash(batch), seen_banded,
        max_hamming=6, n_blocks=8).collect()))

    d = str(tmp_path / "media_stream")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "drop-0.json"), "w") as fh:
        for i, k, p, ts in batch_rows:
            fh.write(_json.dumps({
                "media_id": i, "kind": k,
                "payload": base64.b64encode(p).decode(), "ts": ts}) + "\n")
    stream = (spark.readStream.format("json")
              .schema("media_id long, kind string, payload string,"
                      " ts timestamp").load(d)
              .withColumn("payload", F.unbase64("payload")))
    out = str(tmp_path / "flags")
    q = (S.streaming_image_flags(stream, seen_banded,
                                 max_hamming=6, n_blocks=8)
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt_img"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert got == want and len(got) >= 1


def test_streaming_audio_flags_matches_incremental_batch(spark, tmp_path):
    """Audio near-dup flagging on a media stream against the persisted
    hamming snapshot (the aHash face of streaming_image_flags, same
    shared core): a drained stream's flags equal the batch incremental
    probe's verdicts, and the planted re-encode flags its original."""
    import base64
    import json as _json

    import numpy as np

    from dynamic_etl_pipeline_thesis_ii_spark.operators import (
        dedup as D,
        multimodal as M,
    )

    def chirp(seed, rate=16000):
        rng = np.random.default_rng(seed)
        t = np.arange(rate * 2) / rate
        clip = (np.sin(2 * np.pi * (200 + 90 * seed
                                    + (400 + 50 * seed) * t) * t)
                * (0.5 + 0.5 * np.sin(2 * np.pi * (1.3 + 0.4 * seed) * t))
                + 0.2 * rng.standard_normal(len(t)) * (t % 0.7 < 0.35))
        return (np.clip(clip, -1, 1) * 20000).astype("<i2")

    a, b = chirp(0), chirp(5)
    wav_a, wav_b = bytes(M.write_wav(a, 16000)), bytes(M.write_wav(b, 16000))
    seen = spark.createDataFrame(
        [(1, "audio", wav_a), (2, "audio", wav_b)],
        "media_id long, kind string, payload binary")
    bands_path = str(tmp_path / "aud_bands")
    D.hamming_band_keys(M.audio_ahash(seen), max_hamming=6,
                        n_blocks=8).write.parquet(bands_path)
    seen_banded = spark.read.parquet(bands_path)

    batch_rows = [(10, "audio", bytes(M.resample_wav(wav_a, 8000)),
                   "2024-01-01T00:00:00"),
                  (11, "audio", bytes(M.write_wav(chirp(9), 16000)),
                   "2024-01-01T00:01:00")]
    batch = spark.createDataFrame(
        [(i, k, p) for i, k, p, _ in batch_rows],
        "media_id long, kind string, payload binary")
    want = sorted(map(tuple, D.incremental_hamming_pairs(
        M.audio_ahash(batch), seen_banded,
        max_hamming=6, n_blocks=8).collect()))
    assert any(r[0] == 10 and r[1] == 1 for r in want)

    d = str(tmp_path / "aud_stream")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "drop-0.json"), "w") as fh:
        for i, k, p, ts in batch_rows:
            fh.write(_json.dumps({
                "media_id": i, "kind": k,
                "payload": base64.b64encode(p).decode(), "ts": ts}) + "\n")
    stream = (spark.readStream.format("json")
              .schema("media_id long, kind string, payload string,"
                      " ts timestamp").load(d)
              .withColumn("payload", F.unbase64("payload")))
    out = str(tmp_path / "aud_flags")
    q = (S.streaming_audio_flags(stream, seen_banded,
                                 max_hamming=6, n_blocks=8)
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt_aud"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert got == want and len(got) >= 1


def test_streaming_media_census_sink_folds_batches(spark, tmp_path):
    """The media-census sink folds micro-batches into a store that
    equals a full recompute over everything ingested (marked_fold's
    replay machinery shared with the document census — one replayed
    batch folds exactly once)."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.multimodal import (
        media_census,
        merge_media_census,
    )

    schema = "media_id long, kind string, payload binary"
    b0 = spark.createDataFrame(
        [(i, "image" if i % 2 else "audio", b"p" * (10 + i))
         for i in range(6)], schema)
    b1 = spark.createDataFrame([(100, "video", b"q" * 9)], schema)
    census_path = str(tmp_path / "mcensus")

    fold = S.marked_fold(
        census_path + "_meta",
        [(census_path, media_census, merge_media_census)],
        stream_id="ckpt-M")
    fold(b0, 0)
    fold(b1, 1)
    fold(b0, 0)          # replay: must be a no-op
    want = sorted(map(tuple, merge_media_census(
        media_census(b0), media_census(b1)).collect()))
    got = sorted(map(tuple, spark.read.parquet(census_path).collect()))
    assert got == want

    # the sink face drives the same fold from a real stream
    import base64
    import json as _json
    import os as _os
    d = str(tmp_path / "media_in")
    _os.makedirs(d, exist_ok=True)
    with open(_os.path.join(d, "drop-0.json"), "w") as fh:
        for i in range(4):
            fh.write(_json.dumps({
                "media_id": 200 + i, "kind": "image",
                "payload": base64.b64encode(b"r" * 8).decode()}) + "\n")
    stream = (spark.readStream.format("json")
              .schema("media_id long, kind string, payload string")
              .load(d).withColumn("payload", F.unbase64("payload")))
    out_census = str(tmp_path / "mcensus2")
    q = S.streaming_media_census_sink(
        stream, out_census, checkpoint_dir=str(tmp_path / "ckpt_mc"))
    q.awaitTermination(120)
    rows = {(r["kind"], r["stratum"]): (r["n_items"], r["n_bytes"])
            for r in spark.read.parquet(out_census).collect()}
    assert rows[("__total__", "__total__")] == (4, 32)
    assert rows[("media_kind", "image")] == (4, 32)


def test_streaming_neardup_flags_respect_represented_snapshot(
        spark, tmp_path):
    """The uncapped stream-static join stays bounded when the band
    snapshot was built in represent mode: a streaming flood copy
    flags exactly once — against the flood's min-id representative —
    instead of fanning out by the flood size."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators import dedup as D

    boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit"
    corpus = spark.createDataFrame(
        [(i, boiler) for i in range(40)]
        + [(100, "a unique seed document about alpine botany and "
                 "glacier meltwater chemistry")],
        "doc_id long, text string")
    snap = str(tmp_path / "rep_bands")
    D.minhash_band_keys(corpus, max_bucket=10, cap_mode="represent") \
        .write.parquet(snap)

    d = str(tmp_path / "nd_stream")
    _write_json(os.path.join(d, "part-0.json"),
                [{"doc_id": 500, "text": boiler,
                  "ts": "2024-01-01T00:00:00.000Z"}])
    stream = (spark.readStream.format("json")
              .schema("doc_id long, text string, ts timestamp").load(d))
    out = str(tmp_path / "nd_out")
    q = (S.streaming_neardup_flags(stream,
                                   spark.read.parquet(snap))
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt_nd"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["id_new"], r["id_seen"]) for r in
           spark.read.parquet(out).collect()}
    assert got == {(500, 0)}


def test_streaming_video_flags_matches_incremental_batch(spark, tmp_path):
    """Video near-dup flagging on a media stream against the persisted
    hamming snapshot (the vHash face of streaming_image_flags, same
    shared core): a drained stream's flags equal the batch incremental
    probe's verdicts, and the planted transcode flags its original."""
    import base64
    import json as _json

    import numpy as np

    from dynamic_etl_pipeline_thesis_ii_spark.operators import (
        dedup as D,
        multimodal as M,
    )

    def clip(n=12, phase=0.0, fps=12.0, codec="DIB "):
        frames = []
        for t in range(n):
            y, x = np.mgrid[0:48, 0:64].astype(float)
            g = (x * 2 + y * 3 + (t + phase) * 4) % 256
            cx = 64 * (0.2 + 0.6 * (t + phase) / 24)
            blob = 120 * np.exp(-(((x - cx) ** 2 + (y - 24) ** 2) / 80))
            c = np.clip(g + blob, 0, 255).astype(np.uint8)
            frames.append(np.stack(
                [c, (c // 2 + 40).astype(np.uint8), 255 - c], axis=2))
        return M.write_avi(frames, fps=fps, codec=codec)

    seen = spark.createDataFrame(
        [(1, "video", clip()), (2, "video", clip(phase=7.0))],
        "media_id long, kind string, payload binary")
    bands_path = str(tmp_path / "vid_bands")
    D.hamming_band_keys(M.video_vhash(seen), max_hamming=6,
                        n_blocks=8).write.parquet(bands_path)
    seen_banded = spark.read.parquet(bands_path)

    batch_rows = [(10, "video", clip(codec="MJPG"),
                   "2024-01-01T00:00:00"),
                  (11, "video", clip(phase=31.0),
                   "2024-01-01T00:01:00")]
    batch = spark.createDataFrame(
        [(i, k, p) for i, k, p, _ in batch_rows],
        "media_id long, kind string, payload binary")
    want = sorted(map(tuple, D.incremental_hamming_pairs(
        M.video_vhash(batch), seen_banded,
        max_hamming=6, n_blocks=8).collect()))
    assert any(r[0] == 10 and r[1] == 1 for r in want)

    d = str(tmp_path / "vid_stream")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "drop-0.json"), "w") as fh:
        for i, k, p, ts in batch_rows:
            fh.write(_json.dumps({
                "media_id": i, "kind": k,
                "payload": base64.b64encode(p).decode(), "ts": ts}) + "\n")
    stream = (spark.readStream.format("json")
              .schema("media_id long, kind string, payload string,"
                      " ts timestamp").load(d)
              .withColumn("payload", F.unbase64("payload")))
    out = str(tmp_path / "vid_flags")
    q = (S.streaming_video_flags(stream, seen_banded,
                                 max_hamming=6, n_blocks=8)
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt_vid"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert got == want and len(got) >= 1


def test_streaming_containment_flags_matches_batch(spark, tmp_path):
    """Frame-level containment flagging on a video stream against the
    packed hamming snapshot: a drained stream's sub-item flags equal
    the batch probe's raw pairs, and a TRIM of stored content flags
    even though its whole-clip vHash would not."""
    import base64
    import json as _json

    import numpy as np

    from dynamic_etl_pipeline_thesis_ii_spark.operators import (
        dedup as D,
        multimodal as M,
    )

    def frames(n=24, phase=0.0):
        out = []
        for t in range(n):
            y, x = np.mgrid[0:48, 0:64].astype(float)
            g = (x * 2 + y * 3 + (t + phase) * 4) % 256
            cx = 64 * (0.2 + 0.6 * (t + phase) / 24)
            blob = 120 * np.exp(-(((x - cx) ** 2 + (y - 24) ** 2) / 80))
            c = np.clip(g + blob, 0, 255).astype(np.uint8)
            out.append(np.stack(
                [c, (c // 2 + 40).astype(np.uint8), 255 - c], axis=2))
        return out

    fa = frames(24)
    seen = spark.createDataFrame(
        [(1, "video", M.write_avi(fa, fps=12.0))],
        "media_id long, kind string, payload binary")
    fh = M.video_frame_hashes(seen)
    packed = fh.select((F.col("id") * 4096
                        + F.col("frame_idx")).alias("id"), "sim")
    bands_path = str(tmp_path / "cont_bands")
    D.hamming_band_keys(packed, max_hamming=6, n_blocks=8) \
        .write.parquet(bands_path)
    seen_banded = spark.read.parquet(bands_path)

    trim = M.write_avi(fa[9:16], fps=12.0, codec="MJPG")
    fresh = M.write_avi([np.roll(f[::-1], 20, axis=1).copy()
                         for f in frames(8, phase=7.0)], fps=8.0)
    batch_rows = [(10, "video", trim, "2024-01-01T00:00:00"),
                  (11, "video", fresh, "2024-01-01T00:01:00")]
    batch = spark.createDataFrame(
        [(i, k, p) for i, k, p, _ in batch_rows],
        "media_id long, kind string, payload binary")
    want_items = {(r["id_new"], r["id_seen"]): r["shared_frames"]
                  for r in M.incremental_containment_pairs(
                      M.video_frame_hashes(batch), seen_banded,
                      min_shared=2, max_hamming=6, n_blocks=8)
                  .collect()}
    assert (10, 1) in want_items and 11 not in \
        {k[0] for k in want_items}

    d = str(tmp_path / "cont_stream")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "drop-0.json"), "w") as fh2:
        for i, k, p, ts in batch_rows:
            fh2.write(_json.dumps({
                "media_id": i, "kind": k,
                "payload": base64.b64encode(p).decode(), "ts": ts}) + "\n")
    stream = (spark.readStream.format("json")
              .schema("media_id long, kind string, payload string,"
                      " ts timestamp").load(d)
              .withColumn("payload", F.unbase64("payload")))
    out = str(tmp_path / "cont_stream_flags")
    q = (S.streaming_containment_flags(stream, seen_banded,
                                       modality="video",
                                       max_hamming=6, n_blocks=8)
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt_cont"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    # frame-level flags roll up to the same item verdicts
    rolled = {(r["id_new"], r["id_seen"]) for r in
              (got.groupBy("id_new", "id_seen")
               .agg(F.least(F.countDistinct("idx_new"),
                            F.countDistinct("idx_seen"))
                    .alias("shared"))
               .filter("shared >= 2")).collect()}
    assert rolled == {k for k in want_items}
    assert got.filter("id_new = 11").count() == 0


def test_streaming_containment_flags_audio_modality(spark, tmp_path):
    """The audio face of streaming containment (same shared core): an
    arbitrary-offset TRIM of stored audio flags against the packed
    onset-window snapshot on a drained stream, matching the batch
    probe; modality validation rejects unknowns."""
    import base64
    import json as _json

    import numpy as np
    import pytest as _pytest

    from dynamic_etl_pipeline_thesis_ii_spark.operators import (
        dedup as D,
        multimodal as M,
    )

    rate = 16000
    rng = np.random.default_rng(3)
    t = np.arange(rate * 20) / rate
    tones = np.sin(2 * np.pi * np.geomspace(140, 3400, 8)[:, None]
                   * t[None, :])
    seg = (np.arange(len(t)) * 80) // len(t)
    env = 0.1 + 0.9 * rng.random((80, 8))
    pcm = (np.clip((tones * env[seg].T).sum(axis=0) / 8.0, -1, 1)
           * 20000).astype("<i2")
    full = bytes(M.write_wav(pcm, rate))
    seen = spark.createDataFrame(
        [(1, "audio", full)],
        "media_id long, kind string, payload binary")
    wh = M.audio_window_hashes(seen)
    packed = wh.select((F.col("id") * 4096 + F.col("idx")).alias("id"),
                       "sim")
    bands_path = str(tmp_path / "aud_cont_bands")
    D.hamming_band_keys(packed, max_hamming=6, n_blocks=8) \
        .write.parquet(bands_path)
    seen_banded = spark.read.parquet(bands_path)

    trim = bytes(M.write_wav(pcm[int(5.3217 * rate):
                                 int(13.77 * rate)], rate))
    env2 = 0.1 + 0.9 * np.random.default_rng(77).random((80, 8))
    fresh = bytes(M.write_wav(
        (np.clip((tones * env2[seg].T).sum(axis=0) / 8.0, -1, 1)
         * 20000).astype("<i2"), rate))
    batch_rows = [(10, "audio", trim, "2024-01-01T00:00:00"),
                  (11, "audio", fresh, "2024-01-01T00:01:00")]
    batch = spark.createDataFrame(
        [(i, k, p) for i, k, p, _ in batch_rows],
        "media_id long, kind string, payload binary")
    want = {(r["id_new"], r["id_seen"]) for r in
            M.incremental_containment_pairs(
                M.audio_window_hashes(batch), seen_banded,
                min_shared=2, shared_col="shared_windows",
                max_hamming=6, n_blocks=8).collect()}
    assert want == {(10, 1)}

    d = str(tmp_path / "aud_cont_stream")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "drop-0.json"), "w") as fh:
        for i, k, p, ts in batch_rows:
            fh.write(_json.dumps({
                "media_id": i, "kind": k,
                "payload": base64.b64encode(p).decode(), "ts": ts}) + "\n")
    stream = (spark.readStream.format("json")
              .schema("media_id long, kind string, payload string,"
                      " ts timestamp").load(d)
              .withColumn("payload", F.unbase64("payload")))
    with _pytest.raises(ValueError):
        S.streaming_containment_flags(stream, seen_banded,
                                      modality="text")
    out = str(tmp_path / "aud_cont_flags")
    q = (S.streaming_containment_flags(stream, seen_banded,
                                       modality="audio",
                                       max_hamming=6, n_blocks=8)
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt_acont"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    rolled = {(r["id_new"], r["id_seen"]) for r in
              (got.groupBy("id_new", "id_seen")
               .agg(F.least(F.countDistinct("idx_new"),
                            F.countDistinct("idx_seen"))
                    .alias("shared"))
               .filter("shared >= 2")).collect()}
    assert rolled == want
    assert got.filter("id_new = 11").count() == 0


def test_streaming_passage_flags_end_to_end(spark, tmp_path):
    """ExactSubstr streaming face: stream docs probe the window
    snapshot stream-static; per-micro-batch span assembly via
    merge_window_spans in foreachBatch equals the batch incremental
    probe's spans."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators import dedup as D

    boiler = ("this license text is repeated verbatim in many "
              "documents exactly")
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta " + boiler + " epsilon zeta"),
         (2, "completely different historical text body here")],
        "doc_id long, text string")
    snap = str(tmp_path / "snap")
    rep = D.save_window_snapshot(corpus, snap, w=5)
    seen = spark.read.parquet(snap)

    rows = [
        {"doc_id": 20, "ts": "2024-01-01T10:00:00.000Z",
         "text": "one two three four five " + boiler + " six seven"},
        {"doc_id": 21, "ts": "2024-01-01T10:01:00.000Z",
         "text": "wholly unrelated fresh content words that differ"},
    ]
    d = str(tmp_path / "docs")
    _write_json(os.path.join(d, "part-0.json"), rows)
    stream = (spark.readStream.format("json")
              .schema(S.DOC_STREAM_SCHEMA).load(d))
    hits = S.streaming_passage_flags(stream, seen, w=rep["w"])
    assert hits.isStreaming

    spans_out = []

    def fold(batch_df, _bid):
        spans_out.extend(
            tuple(r) for r in
            D.merge_window_spans(batch_df, rep["w"]).collect())

    q = (hits.writeStream.foreachBatch(fold)
         .option("checkpointLocation", str(tmp_path / "ckpt_pf"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    # batch incremental probe over the same frame = same spans
    batch = spark.createDataFrame(
        [(20, rows[0]["text"]), (21, rows[1]["text"])],
        "doc_id long, text string")
    want_spans, _fresh = D.incremental_substring_spans(
        batch, spark, snap, include_batch=False)
    assert sorted(spans_out) == sorted(
        tuple(r) for r in want_spans.collect())
    assert len(spans_out) == 1 and spans_out[0][0] == 20


def test_streaming_corpus_upsert_sink(spark, tmp_path):
    """A document stream MERGEs into the bucketed corpus store per
    micro-batch: updates replace, inserts add, untouched rows
    survive, and the final store equals the batch-merge result."""
    from dynamic_etl_pipeline_thesis_ii_spark.sources import sinks as SK

    store = str(tmp_path / "store")
    base = spark.createDataFrame(
        [(i, f"text {i}") for i in range(50)],
        "doc_id long, text string")
    SK.save_corpus_store(base, store, n_buckets=8)

    rows = [
        {"doc_id": 5, "ts": "2024-01-01T10:00:00.000Z",
         "text": "updated five"},
        {"doc_id": 500, "ts": "2024-01-01T10:01:00.000Z",
         "text": "brand new"},
    ]
    d = str(tmp_path / "docs")
    _write_json(os.path.join(d, "part-0.json"), rows)
    stream = (spark.readStream.format("json")
              .schema(S.DOC_STREAM_SCHEMA).load(d)
              .select("doc_id", "text"))
    S.streaming_corpus_upsert_sink(
        stream, store, checkpoint_dir=str(tmp_path / "ckpt_up"))
    back = {r["doc_id"]: r["text"]
            for r in spark.read.parquet(store).collect()}
    assert len(back) == 51
    assert back[5] == "updated five" and back[500] == "brand new"
    assert back[7] == "text 7"


def test_streaming_hash_embed_parity(spark, tmp_path):
    """hash_embed is one stateless Arrow scan, so it lifts onto a
    stream unchanged — streaming vectors == batch vectors
    bit-for-bit."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.similarity import (
        hash_embed,
    )

    rows = [
        {"doc_id": 1, "ts": "2024-01-01T10:00:00.000Z",
         "text": "alpha beta gamma delta epsilon"},
        {"doc_id": 2, "ts": "2024-01-01T10:01:00.000Z",
         "text": "completely different words here now"},
    ]
    d = str(tmp_path / "docs")
    _write_json(os.path.join(d, "part-0.json"), rows)
    stream = (spark.readStream.format("json")
              .schema(S.DOC_STREAM_SCHEMA).load(d)
              .select("doc_id", "text"))
    out = hash_embed(stream, dim=32)
    assert out.isStreaming
    S.run_available_now(out, "embed_stream_test",
                        checkpoint_dir=str(tmp_path / "ckpt_he"))
    got = {r["id"]: tuple(r["embedding"])
           for r in spark.table("embed_stream_test").collect()}
    batch = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rows],
        "doc_id long, text string")
    want = {r["id"]: tuple(r["embedding"])
            for r in hash_embed(batch, dim=32).collect()}
    assert got == want and len(got) == 2


def test_streaming_license_scan_parity(spark, tmp_path):
    """license_scan (T19) is pure column expressions — it lifts onto
    a stream unchanged: per-doc flags + most-restrictive class match
    the batch run row-for-row."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.text import (
        license_scan,
    )

    rows = [
        {"doc_id": 1, "ts": "2024-01-01T10:00:00.000Z",
         "text": "code under the MIT License, see LICENSE"},
        {"doc_id": 2, "ts": "2024-01-01T10:01:00.000Z",
         "text": "GNU General Public License v3 applies"},
        {"doc_id": 3, "ts": "2024-01-01T10:02:00.000Z",
         "text": "plain prose with no markers at all"},
    ]
    d = str(tmp_path / "docs")
    _write_json(os.path.join(d, "part-0.json"), rows)
    stream = (spark.readStream.format("json")
              .schema(S.DOC_STREAM_SCHEMA).load(d)
              .select("doc_id", "text"))
    out = license_scan(stream)
    assert out.isStreaming
    S.run_available_now(out, "license_stream_test",
                        checkpoint_dir=str(tmp_path / "ckpt_lic"))
    got = {tuple(r) for r in spark.table("license_stream_test").collect()}
    batch = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rows],
        "doc_id long, text string")
    want = {tuple(r) for r in license_scan(batch).collect()}
    assert got == want and len(got) == 3
    classes = {r[0]: r for r in spark.table("license_stream_test")
               .select("id", "license_class").collect()}
    assert classes[1]["license_class"] == "permissive"
    assert classes[2]["license_class"] == "copyleft"


def test_streaming_webdataset_sink(spark, tmp_path):
    """A document stream exports per-micro-batch tar shards: members
    land under batch-<id>/ with exact text parity through the sample
    read face, each batch dir carries a verifiable manifest, and a
    replayed batch (same checkpoint, rerun over the same source)
    leaves the sink byte-identical."""
    import glob
    import hashlib

    from dynamic_etl_pipeline_thesis_ii_spark.sources.archives import (
        read_webdataset,
    )
    from dynamic_etl_pipeline_thesis_ii_spark.sources.sinks import (
        verify_webdataset,
    )

    rows = [
        {"doc_id": 1, "ts": "2024-01-01T10:00:00.000Z",
         "text": "streamed alpha"},
        {"doc_id": 2, "ts": "2024-01-01T10:01:00.000Z",
         "text": "streamed beta"},
    ]
    d = str(tmp_path / "docs")
    _write_json(os.path.join(d, "part-0.json"), rows)
    sink = str(tmp_path / "wds_sink")

    def _run(ckpt):
        stream = (spark.readStream.format("json")
                  .schema(S.DOC_STREAM_SCHEMA).load(d)
                  .select("doc_id", "text"))
        S.streaming_webdataset_sink(
            stream, sink, checkpoint_dir=ckpt)

    _run(str(tmp_path / "ckpt1"))
    tars = glob.glob(sink + "/batch-*/shard-*.tar")
    assert len(tars) >= 1
    back = {r["key"]: r["text"] for r in
            read_webdataset(spark, sink + "/batch-*/shard-*.tar")
            .collect()}
    assert back == {"1": "streamed alpha", "2": "streamed beta"}
    # every batch dir's manifest verifies against its tars
    for bdir in glob.glob(sink + "/batch-*"):
        if bdir.endswith("_manifest"):
            continue
        man = spark.read.parquet(bdir + "_manifest")
        chk = verify_webdataset(spark, bdir, man)
        assert chk["ok"], (bdir, chk)
    digest = {f: hashlib.sha256(open(f, "rb").read()).hexdigest()
              for f in tars}
    # replay with a FRESH checkpoint (same source offsets -> same
    # batch rows and ids): the sink converges byte-identically
    _run(str(tmp_path / "ckpt2"))
    digest2 = {f: hashlib.sha256(open(f, "rb").read()).hexdigest()
               for f in glob.glob(sink + "/batch-*/shard-*.tar")}
    assert digest == digest2
