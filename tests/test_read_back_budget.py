"""One statistics action per sink read-back, and the warm job budgets
of the pinned interactive ops that follow from it.

Every Spark action costs at least two AQE jobs, so a handler derives
all of a read-back's report fields from one action:
``Pipeline._stats`` fuses a corpus-sized read-back's counts into one
aggregate, and a strata-sized census is collected once.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
    FixtureFetcher,
    Pipeline,
)
from dynamic_etl_pipeline_thesis_ii_spark.scope import cache_scope

# Spark jobs of a warm run over the sf0.001 fixture in the test
# session (local[8], 8 shuffle partitions). Before the census was
# collected once it took 7; before integrate stopped caching a lone
# unioned group the finance query took 4.
CENSUS_JOB_BUDGET = 4
FINANCE_JOB_BUDGET = 3


def _warm_jobs(spark, run) -> list[int]:
    """Jobs submitted by each of two runs of ``run(i)``."""
    tracker = spark.sparkContext.statusTracker()
    counts = []
    for i in range(2):
        before = set(tracker.getJobIdsForGroup(None))
        with cache_scope():
            res = run(i)
        assert res["status"] == "complete", res
        counts.append(len(set(tracker.getJobIdsForGroup(None)) - before))
    return counts


def test_corpus_census_warm_job_budget(spark, sf_dir, tmp_path):
    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    counts = _warm_jobs(spark, lambda i: pipe.run_dataops(
        "census the corpus", sf_dir, str(tmp_path / f"census{i}")))
    assert counts[1] <= CENSUS_JOB_BUDGET, counts


def test_finance_warm_job_budget(spark, sf_dir):
    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    counts = _warm_jobs(spark, lambda i: pipe.run(
        "Get AAPL daily stock prices with 20-day SMA and RSI"))
    assert counts[1] <= FINANCE_JOB_BUDGET, counts


def test_fused_stats_match_separate_actions(spark, tmp_path):
    """Over a read-back with duplicate and NULL keys (and NaN, -0.0),
    the one-action statistics equal ``count()`` and
    ``select(k).distinct().count()``, which counts NULL as a value."""
    rows = [(1, "a", 0.0), (1, "a", -0.0), (2, None, math.nan),
            (None, None, math.nan), (None, "b", None), (3, "b", 1.5),
            (3, "c", 1.5)]
    path = str(tmp_path / "back")
    spark.createDataFrame(rows, "i long, s string, d double") \
        .write.parquet(path)
    back = spark.read.parquet(path)
    for frame in (back, back.filter("i is not null"), back.limit(0)):
        got = Pipeline._stats(frame, "i", "s", "d")
        assert got["rows"] == frame.count()
        for k in ("i", "s", "d"):
            assert got[k] == frame.select(k).distinct().count(), k
    got = Pipeline._stats(back, "s", top=F.max("i"))
    assert (got["rows"], got["s"], got["top"]) == (7, 4, 3)
