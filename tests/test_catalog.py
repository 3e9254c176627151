"""Catalog timestamp normalization (sources/registry.py).

The driver's testdata has been written with several parquet timestamp
flavors across rounds: TIMESTAMP(NANOS) (loads as long under
nanosAsLong) and tz-naive TIMESTAMP(MICROS) (loads as TIMESTAMP_NTZ
under default confs). The Catalog must present ONE type —
session-UTC TimestampType — regardless of how the upstream parquet was
written, so every downstream operator (unix_millis, sessionize, window
trims) sees a single timestamp type.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from dynamic_etl_pipeline_thesis_ii_spark.operators.relational import sessionize
from dynamic_etl_pipeline_thesis_ii_spark.sources.registry import Catalog

_ROWS = [
    dt.datetime(2024, 1, 1, 0, 0, 0),
    dt.datetime(2024, 1, 1, 0, 10, 0),
    dt.datetime(2024, 1, 1, 2, 0, 0),
]


def _write_events(tmp_path, ts_type):
    tbl = pa.table({
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "ts": pa.array(_ROWS, ts_type),
        "user_id": pa.array([7, 7, 7], pa.int64()),
    })
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    return str(tmp_path)


@pytest.mark.parametrize("unit", ["us", "ms"])
def test_catalog_normalizes_ntz_parquet(spark, tmp_path, unit):
    """tz-naive parquet timestamps surface as TimestampType with UTC
    wall-clock semantics, even when the session would load them NTZ."""
    sf = _write_events(tmp_path, pa.timestamp(unit))
    # Force the NTZ-inferring read path so the Catalog's own
    # normalization (not session.py's conf) is what's under test.
    old = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    try:
        ev = Catalog(spark, sf).table("events")
        assert isinstance(ev.schema["ts"].dataType, TimestampType)
        millis = [r[0] for r in
                  ev.select(F.unix_millis("ts")).orderBy("event_id").collect()]
        epoch = dt.datetime(1970, 1, 1)
        assert millis == [
            int((t - epoch).total_seconds() * 1000) for t in _ROWS]
    finally:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", old)


def test_catalog_normalizes_utc_parquet(spark, tmp_path):
    """tz-aware micros (the 'normal' flavor) pass through untouched."""
    sf = _write_events(tmp_path, pa.timestamp("us", tz="UTC"))
    ev = Catalog(spark, sf).table("events")
    assert isinstance(ev.schema["ts"].dataType, TimestampType)
    assert ev.count() == 3


def test_sessionize_is_ntz_safe(spark, tmp_path):
    """sessionize works even on a raw NTZ column (no Catalog in front)."""
    sf = _write_events(tmp_path, pa.timestamp("us"))
    old = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    try:
        raw = spark.read.parquet(sf + "/events.parquet")
        assert raw.schema["ts"].dataType.typeName() == "timestamp_ntz"
        out = sessionize(raw, key="user_id", ts_col="ts", gap_seconds=1800)
        sessions = [r["session_id"] for r in out.orderBy("event_id").collect()]
        assert sessions == [1, 1, 2]
    finally:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", old)


def _census_docs(spark, src, out):
    """n_docs of a 'census the corpus' NL run over ``src``."""
    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        FixtureFetcher,
        Pipeline,
    )

    res = Pipeline(spark, FixtureFetcher(spark, src)).run_dataops(
        "census the corpus", src, out)
    assert res["status"] == "complete", res
    return res["reports"]["n_docs"]


def test_relation_memo_follows_an_append(spark, sf_dir, tmp_path):
    """Two runs in one session over a table appended to in between:
    the second run counts the appended rows (the session-lived
    relation memo must not pin the first run's file listing)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "src" / "documents.parquet")
    docs.limit(40).write.parquet(path)
    src = str(tmp_path / "src")
    assert _census_docs(spark, src, str(tmp_path / "c1")) == 40
    (docs.limit(25).withColumn("doc_id", F.col("doc_id") + 1_000_000)
     .write.mode("append").parquet(path))
    assert _census_docs(spark, src, str(tmp_path / "c2")) == 65
