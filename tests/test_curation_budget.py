"""The curation path's driver-resolved near-dup drop set and its job
budget.

When the pair list is small enough for the driver union-find,
``dedup.component_drop_set`` also ranks each component on the driver
and returns the drop ids as a sized ``LocalRelation``. These tests pin
that it equals the rank-window formulation on random pair graphs, that
the plans it enables stay broadcast/reused, and that a warm
``corpus_to_shards`` run stays inside its Spark-job budget.
"""

from __future__ import annotations

import math
import random

import pyarrow as pa
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from dynamic_etl_pipeline_thesis_ii_spark.operators import dedup as D
from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
    FixtureFetcher,
    Pipeline,
)
from dynamic_etl_pipeline_thesis_ii_spark.queries import dataops_suite as Q

LONG_MAX = 2 ** 63 - 1

# Spark jobs of a warm `corpus_to_shards` run over the sf0.001 fixture
# in the test session (local[8], 8 shuffle partitions). Before the
# drop set was resolved on the driver it was 34 or 36, as on the
# benchmark's 500-doc inputs.
WARM_JOB_BUDGET = 29


def _frames(spark, pairs_rows, score_rows):
    """(pairs, score) as local frames: no Python-worker stage per
    action keeps the many small differential runs cheap."""
    def frame(rows, names, types):
        cols = list(zip(*rows)) or [[] for _ in names]
        return spark.createDataFrame(pa.table(
            [pa.array(c, t) for c, t in zip(cols, types)], names=names))

    return (frame(pairs_rows, ["id_a", "id_b"], [pa.int64(), pa.int64()]),
            frame(score_rows, ["id", "score"], [pa.int64(), pa.float64()]))


def _window_drop(pairs, score):
    """The rank-window drop set, written out independently: max score
    per clustered id, then highest score (NULL last), ties to the
    lowest id; everything but rank 1 drops."""
    comp = D.min_label_components(pairs)
    if score is None:
        return {r["id"] for r in
                comp.filter(F.col("id") != F.col("comp")).collect()}
    scored = (comp.join(score, "id", "left")
              .groupBy("id", "comp").agg(F.max("score").alias("score")))
    w = Window.partitionBy("comp").orderBy(
        F.col("score").desc_nulls_last(), F.col("id").asc())
    return {r["id"] for r in
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") > 1).collect()}


def _random_graph(rng):
    """Dozens of disjoint chains, stars and random clusters over fresh
    ids, plus a score list with ties, NULLs, NaNs, ids missing and ids
    repeated (the fan-out case)."""
    pairs, nodes, nxt = [], [], 1
    for _ in range(rng.randint(30, 60)):
        size = rng.randint(2, 7)
        ids = list(range(nxt, nxt + size))
        nxt += size + rng.randint(0, 3)
        rng.shuffle(ids)
        shape = rng.choice(("chain", "star", "random"))
        if shape == "chain":
            edges = list(zip(ids, ids[1:]))
        elif shape == "star":
            edges = [(ids[0], x) for x in ids[1:]]
        else:
            edges = [(ids[i], ids[rng.randrange(i)])
                     for i in range(1, size)]
            edges += [tuple(rng.sample(ids, 2))
                      for _ in range(rng.randint(0, 3))]
        pairs += [(min(a, b), max(a, b)) for a, b in edges]
        nodes += ids
    pool = [None, math.nan, 0.1, 0.5, 0.5, 0.9, 0.9, -0.0, 0.0]
    score = []
    for x in nodes:
        for _ in range(rng.choice((0, 1, 1, 1, 2, 3))):
            score.append((x, rng.choice(pool)))
    return pairs, score


def test_driver_drop_set_matches_rank_window(spark):
    rng = random.Random(20261019)
    cases = [_random_graph(rng) for _ in range(3)]
    cases.append(([], [(1, 0.5)]))                  # clean corpus
    cases.append(([(1, 2), (2, 3)], [(1, math.nan), (3, math.nan),
                                     (2, 7.0)]))     # NaN outranks 7.0
    for i, (pairs_rows, score_rows) in enumerate(cases):
        pairs, score = _frames(spark, pairs_rows, score_rows)
        for s in (score, None):
            got = D.component_drop_set(pairs, score=s)
            plan = got._jdf.queryExecution().optimizedPlan()
            assert plan.getClass().getSimpleName() == "LocalRelation", i
            assert plan.stats().sizeInBytes() < LONG_MAX, i
            assert {r["id"] for r in got.collect()} == \
                _window_drop(pairs, s), (i, s is None)
    # the NaN case, pinned: 1 and 3 tie on NaN above 7.0, 1 keeps
    assert {r["id"] for r in D.component_drop_set(
        pairs, score=score).collect()} == {2, 3}


def test_over_threshold_drop_set_keeps_window(spark, monkeypatch):
    """Over the driver threshold the distributed components feed the
    rank window; the answer is the same set."""
    pairs, score = _frames(spark, *_random_graph(random.Random(7)))
    want = {r["id"] for r in D.component_drop_set(pairs, score).collect()}
    monkeypatch.setattr(D, "_DRIVER_EDGES", 0)
    got = D.component_drop_set(pairs, score)
    assert got._jdf.queryExecution().optimizedPlan().getClass() \
        .getSimpleName() != "LocalRelation"
    assert {r["id"] for r in got.collect()} == want


def test_components_frame_is_sized_local_relation(spark):
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)],
                                  "id_a long, id_b long")
    for p in (pairs, pairs.limit(0)):
        comp = D.min_label_components(p)
        plan = comp._jdf.queryExecution().optimizedPlan()
        assert plan.getClass().getSimpleName() == "LocalRelation"
        assert plan.stats().sizeInBytes() < LONG_MAX
        assert comp.dtypes == [("id", "bigint"), ("comp", "bigint")]


@pytest.fixture(scope="module")
def curation_plans(spark, sf_dir):
    """Run the curation query once, keeping the pair frame ``_curate``
    fed the drop-set arm."""
    seen = {}
    orig = D.component_drop_set

    def spy(pairs, score=None):
        seen["pairs"] = pairs
        return orig(pairs, score=score)

    mp = pytest.MonkeyPatch()
    mp.setattr(D, "component_drop_set", spy)
    try:
        cur = Q.q_corpus_curation(spark, sf_dir)
        initial = cur._jdf.queryExecution().executedPlan().toString()
        cur.collect()
        seen["pairs"].collect()
        lsh = seen["pairs"]._jdf.queryExecution().executedPlan().toString()
    finally:
        mp.undo()
        Q.release_shared_caches()
    return initial, lsh


def test_decon_anti_join_is_planned_broadcast(curation_plans):
    initial, _ = curation_plans
    assert "BroadcastHashJoin" in initial and "LeftAnti, BuildRight" in initial
    # the checkpointed decon side is never shuffled
    assert "Exchange hashpartitioning" not in initial, initial


def test_lsh_self_join_reuses_its_exchange(curation_plans):
    _, lsh = curation_plans
    final = lsh.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert "TableCacheQueryStage" not in final, final
    join = final.index("Join [band")   # the (band, slice) self-join
    assert "ReusedExchange" in final[join:], final


def test_corpus_to_shards_warm_job_budget(spark, sf_dir, tmp_path):
    tracker = spark.sparkContext.statusTracker()
    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    counts = []
    for i in range(2):
        before = set(tracker.getJobIdsForGroup(None))
        res = pipe.run_dataops("dedup and shard the training corpus",
                               sf_dir, str(tmp_path / f"shards{i}"))
        assert res["status"] == "complete", res
        counts.append(len(set(tracker.getJobIdsForGroup(None)) - before))
    assert counts[1] <= WARM_JOB_BUDGET, counts
