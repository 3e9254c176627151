"""Unit tests for the union engine + similarity join semantics
(mirrors the reference's validator tests, ``validator/test.py``)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dynamic_etl_pipeline_thesis_ii_spark.config import EngineConfig
from dynamic_etl_pipeline_thesis_ii_spark.operators import similarity_join as SJ
from dynamic_etl_pipeline_thesis_ii_spark.operators import union_engine as U
from dynamic_etl_pipeline_thesis_ii_spark.operators.integration import integrate

CFG = EngineConfig()


# ---------------------------------------------------------------------------
# union engine
# ---------------------------------------------------------------------------

def test_name_similarity_identity():
    assert U.name_similarity("close", "Close ") == 1.0


def test_hybrid_score_no_model_fallback():
    # 0.85 * ratio + 0.15 * 0.5 — reference union.py:104-112
    s = U.hybrid_score("open", "open", CFG)
    assert abs(s - (0.85 + 0.075)) < 1e-12


def test_find_column_mapping_threshold():
    mapping, avg = U.find_column_mapping(
        ["c_custkey", "c_acctbal"], ["custkey", "zzz"], CFG)
    assert mapping == {"custkey": "c_custkey"}
    assert avg > 0.72


def test_coverage_harmonic_mean():
    m = {"b1": "a1", "b2": "a2"}
    cov = U.coverage(m, ["a1", "a2", "a3", "a4"], ["b1", "b2"])
    # harmonic(2/4, 2/2) = 2*(0.5*1)/(1.5)
    assert abs(cov - 2 * 0.5 / 1.5) < 1e-12
    assert U.coverage({}, ["a"], ["b"]) == 0.0


def test_execute_union_pads_and_orders(spark):
    a = spark.createDataFrame([(1, "x")], ["k", "only_a"])
    b = spark.createDataFrame([(2, 9.5)], ["kk", "only_b"])
    out = U.execute_union(a, b, {"kk": "k"})
    assert out.columns == ["k", "only_a", "only_b"]
    rows = {r["k"]: r for r in out.collect()}
    assert rows[1]["only_b"] is None and rows[2]["only_a"] is None


def test_sequential_union_groups(spark):
    a = spark.createDataFrame([(1, 10.0)], ["key", "value"])
    b = spark.createDataFrame([(2, 20.0)], ["key", "value"])
    c = spark.createDataFrame([("abc", 1, 2, 3, 4)],
                              ["zzz", "w1", "w2", "w3", "w4"])
    groups, ops = U.sequential_union([a, b, c], CFG)
    assert len(groups) == 2
    assert groups[0].count() == 2  # a+b folded
    assert len(ops) == 1 and ops[0]["operation"] == "union"


def test_sequential_union_input_cap(spark):
    one = spark.createDataFrame([(1,)], ["a"])
    with pytest.raises(ValueError):
        U.sequential_union([one] * 11, CFG)


def test_version_split_roundtrip(spark):
    df = spark.createDataFrame([(1, 2.0, 3.0, "s")],
                               ["k", "v_x", "v_y", "tag"])
    vx, vy = U.version_split(df)
    assert vx.columns == ["k", "tag", "v"] and vy.columns == ["k", "tag", "v"]
    assert vx.first()["v"] == 2.0 and vy.first()["v"] == 3.0


def test_version_split_passthrough(spark):
    df = spark.createDataFrame([(1,)], ["plain"])
    out = U.version_split(df)
    assert len(out) == 1 and out[0] is df


# ---------------------------------------------------------------------------
# similarity join
# ---------------------------------------------------------------------------

def _mk(spark, rows, cols):
    return spark.createDataFrame(rows, cols)


def test_align_numeric_grand_mean_padding(spark):
    a = _mk(spark, [(1, 10.0, 20.0)], ["id", "x", "y"])
    b = _mk(spark, [(2, 30.0, 7.0)], ["id", "x", "z"])
    pa, pb, cols = SJ.align_numeric(a, b, keep1=["id"], keep2=["id"])
    assert cols == ["x", "y", "z"]
    ra, rb = pa.first(), pb.first()
    assert ra["z"] == 15.0  # grand mean of a's numerics (10+20)/2
    assert rb["y"] == 18.5  # (30+7)/2


def test_pair_features_identical_rows(spark):
    a = _mk(spark, [(1, 5.0, 7.0, 9.0)], ["id_a", "x", "y", "z"])
    b = _mk(spark, [(2, 5.0, 7.0, 9.0)], ["id_b", "x", "y", "z"])
    pairs = SJ.candidate_pairs(a, b, ["x", "y", "z"])
    feats = SJ.pair_features(pairs, ["x", "y", "z"], CFG).first()
    assert feats["absdiff_mean"] == 0.0
    assert feats["L2_raw"] == 0.0
    assert feats["n_close"] == 3.0 and feats["n_very_close"] == 3.0
    assert feats["correlation"] == 1.0
    assert feats["sign_agreement"] == 1.0
    assert feats["n_features"] == 3.0


def test_score_separates_match_from_noise(spark):
    a = _mk(spark, [(1, 5.0, 7.0, 9.0)], ["id_a", "x", "y", "z"])
    b = _mk(spark, [(2, 5.0, 7.0, 9.0), (3, 500.0, -3.0, 9000.0)],
            ["id_b", "x", "y", "z"])
    pairs = SJ.candidate_pairs(a, b, ["x", "y", "z"])
    scored = SJ.score_pairs(SJ.pair_features(pairs, ["x", "y", "z"], CFG),
                            ["x", "y", "z"], CFG)
    probs = {r["id_b"]: r["prob"] for r in scored.collect()}
    assert probs[2] >= CFG.join_row_threshold
    assert probs[3] < CFG.join_row_threshold


def test_assign_greedy_caps(spark):
    cands = _mk(spark, [
        (1, 10, 0.9), (1, 11, 0.8), (1, 12, 0.7),
        (2, 10, 0.6),
    ], ["id_a", "id_b", "prob"])
    out = SJ.assign_greedy(cands, max_matches=2)
    # id_a=1 takes its top-2; (1,12) blocked by id_a cap; (2,10) fine
    assert out == [(1, 10, 0.9), (1, 11, 0.8), (2, 10, 0.6)]
    assert len(SJ.assign_greedy(cands, max_matches=0)) == 4


def test_assign_topk_two_sided(spark):
    cands = _mk(spark, [
        (1, 10, 0.9), (2, 10, 0.8), (3, 10, 0.7),
    ], ["id_a", "id_b", "prob"])
    kept = SJ.assign_topk(cands, 2).collect()
    assert {(r["id_a"], r["id_b"]) for r in kept} == {(1, 10), (2, 10)}


def test_retention():
    assert SJ.retention(5, 10, 20) == 0.5
    assert SJ.retention(0, 10) == 0.0
    assert SJ.retention(3, 0) == 0.0


def test_similarity_join_end_to_end(spark):
    rows_a = [(i, float(i * 10), float(i % 5), 100.0 + i) for i in range(20)]
    rows_b = [(i + 100, float(i * 10) + 0.001, float(i % 5), 100.0 + i)
              for i in range(20)]
    a = _mk(spark, rows_a, ["ida", "x", "y", "z"])
    b = _mk(spark, rows_b, ["idb", "x", "y", "z"])
    joined, report = SJ.similarity_join(a, b, "ida", "idb", CFG)
    assert report["status"] == "joined"
    assert report["retention"] >= CFG.join_retention_threshold
    got = {(r["ida"], r["idb"]) for r in joined.select("ida", "idb").collect()}
    # every row finds its perturbed twin
    assert all((i, i + 100) in got for i in range(20))


def test_similarity_join_rejects_noise(spark):
    rows_a = [(i, float(i), float(i * 7 % 13)) for i in range(10)]
    rows_b = [(i + 100, float(i * 997 % 91) * 1e6, float(i * 31 % 17) - 1e5)
              for i in range(10)]
    a = _mk(spark, rows_a, ["ida", "x", "y"])
    b = _mk(spark, rows_b, ["idb", "x", "y"])
    joined, report = SJ.similarity_join(a, b, "ida", "idb", CFG)
    assert joined is None


def test_profiles_move_thresholds():
    hv = EngineConfig(quality_profile="high_volume")
    hq = EngineConfig(quality_profile="high_quality")
    assert hv.max_matches_per_row == 0 and hq.max_matches_per_row == 2
    assert hv.join_retention_threshold < hq.join_retention_threshold
    assert EngineConfig(quality_profile="nope").quality_profile == "balanced"


def test_detect_join_keys(spark):
    from dynamic_etl_pipeline_thesis_ii_spark.operators.integration import (
        detect_join_keys,
    )
    a = _mk(spark, [(1, "T", 1.0)], ["c_custkey", "ticker", "open"])
    b = _mk(spark, [(1, "T", 2.0)], ["c_custkey", "ticker", "rev"])
    assert detect_join_keys(a, b) == ["c_custkey", "ticker"]
    c = _mk(spark, [(1.0,)], ["open"])
    assert detect_join_keys(a, c) == []


def test_integrate_equijoin_fast_path(spark):
    """Union-incompatible frames sharing key columns take the native
    equi-join, not the similarity join."""
    bars = _mk(spark, [("AAPL", 1, 10.0, 11.0), ("AAPL", 2, 11.0, 12.0),
                       ("MSFT", 1, 20.0, 21.0)],
               ["ticker", "ts", "open_px", "close_px"])
    funds = _mk(spark, [("AAPL", 1, 5.0, 7.0, 9.0, 11.0, 13.0, 1.0, 2.0, 3.0),
                        ("AAPL", 2, 6.0, 8.0, 9.5, 11.5, 13.5, 1.1, 2.1, 3.1),
                        ("MSFT", 1, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0)],
                ["ticker", "ts", "revenue_m", "ebitda_m", "assets_m",
                 "liab_m", "equity_m", "eps_q", "dps_q", "capex_m"])
    outputs, reports = integrate([bars, funds], CFG)
    joins = [r for r in reports if r["operation"] == "join_stage1"]
    assert joins and joins[0]["method"] == "equi"
    assert len(outputs) == 1
    out = outputs[0]
    assert out.count() == 3
    assert {"ticker", "ts", "open_px", "revenue_m"} <= set(out.columns)


def test_integrate_early_termination(spark):
    a = _mk(spark, [(1, 1.0)], ["key", "value"])
    b = _mk(spark, [(2, 2.0)], ["key", "value"])
    outputs, reports = integrate([a, b], CFG)
    assert len(outputs) == 1
    assert any(r["operation"] == "early_termination" for r in reports)


def test_integrate_caches_only_groups_it_reads_twice(spark):
    """A lone unioned group is read once, by the caller, so integrate
    leaves it uncached; with two groups the denominator count and the
    pair evaluations reread them, so they stay cached until the
    caller's scope exits."""
    from dynamic_etl_pipeline_thesis_ii_spark.scope import cache_scope

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    a = _mk(spark, [(1, 1.0)], ["key", "value"])
    b = _mk(spark, [(2, 2.0)], ["key", "value"])
    with cache_scope():
        outputs, reports = integrate([a, b], CFG)
        assert cache.isEmpty()
        assert any(r["operation"] == "early_termination" for r in reports)
        assert outputs[0].count() == 2
    bars = _mk(spark, [("AAPL", 1, 10.0, 11.0), ("MSFT", 1, 20.0, 21.0)],
               ["ticker", "ts", "open_px", "close_px"])
    funds = _mk(spark, [("AAPL", 1, 5.0, 7.0, 9.0, 11.0, 13.0, 1.0, 2.0,
                         3.0)],
                ["ticker", "ts", "revenue_m", "ebitda_m", "assets_m",
                 "liab_m", "equity_m", "eps_q", "dps_q", "capex_m"])
    with cache_scope():
        outputs, reports = integrate([bars, funds], CFG)
        assert not any(r["operation"] == "early_termination"
                       for r in reports)
        assert not cache.isEmpty()
        assert outputs[0].count() == 1
        assert not cache.isEmpty()
    assert cache.isEmpty()


def test_trigram_scorer_behaves():
    assert U.trigram_scorer("close", "close") == 1.0
    assert U.trigram_scorer("close_price", "closeprice") > 0.5
    assert U.trigram_scorer("close", "volume") < 0.2
    assert U.trigram_scorer("", "") == 0.0


def test_union_with_trigram_semantic_scorer(spark):
    a = spark.createDataFrame([(1, 10.0)], ["cust_key", "acct_bal"])
    b = spark.createDataFrame([(2, 20.0)], ["custkey", "acctbal"])
    ok, cov, mapping = U.check_compatibility(
        a, b, CFG, semantic_scorer=U.trigram_scorer)
    assert ok and mapping == {"custkey": "cust_key", "acctbal": "acct_bal"}


def test_drop_nan_features(spark):
    a = _mk(spark, [(1, 1.0, 2.0)], ["id_a", "x", "y"])
    b = _mk(spark, [(2, 1.0, 2.0), (3, float("nan"), 5.0)],
            ["id_b", "x", "y"])
    feats = SJ.pair_features(SJ.candidate_pairs(a, b, ["x", "y"]),
                             ["x", "y"], CFG)
    kept = SJ.drop_nan_features(feats).select("id_b").collect()
    assert {r["id_b"] for r in kept} == {2}


def test_score_pairs_with_model_broadcast(spark):
    """An injected model callable scores Arrow batches; a hand-rolled
    logistic over n_close/absdiff_mean separates match from noise."""
    import numpy as np

    def model(X):
        # columns follow FEATURE_NAMES order: absdiff_mean=0, n_close=24
        return 1.0 / (1.0 + np.exp(-(3.0 * X[:, 24] - X[:, 0] - 2.0)))

    a = _mk(spark, [(1, 5.0, 7.0)], ["id_a", "x", "y"])
    b = _mk(spark, [(2, 5.0, 7.0), (3, 900.0, -60.0)], ["id_b", "x", "y"])
    feats = SJ.pair_features(SJ.candidate_pairs(a, b, ["x", "y"]),
                             ["x", "y"], CFG)
    scored = SJ.score_pairs_with_model(feats, model)
    probs = {r["id_b"]: r["prob"] for r in scored.collect()}
    assert probs[2] > 0.9 and probs[3] < 0.2


def test_mapping_is_injective_and_union_survives_near_duplicate_names(spark):
    """'price' and 'prices' in df2 both map best to df1's 'price'; the
    mapping must keep only the better candidate so the rename never
    produces duplicate/ambiguous column names (ADVICE r01)."""
    cfg = EngineConfig()
    df1 = spark.createDataFrame([(1, 10.0)], ["id", "price"])
    df2 = spark.createDataFrame([(2, 11.0, 12.0)], ["id", "price", "prices"])
    mapping, _ = U.find_column_mapping(df1.columns, df2.columns, cfg)
    assert list(mapping.values()).count("price") == 1
    ok, _, mapping = U.check_compatibility(df1, df2, cfg)
    out = U.execute_union(df1, df2, mapping)
    assert out.columns.count("price") == 1
    assert out.count() == 2  # materializes without AMBIGUOUS_REFERENCE
    groups, _ = U.sequential_union([df1, df2], cfg)
    for g in groups:
        g.collect()


def test_execute_union_skips_rename_colliding_with_existing_column(spark):
    """A mapping whose target name already exists (unrenamed) in df2
    must not be applied blindly — the source column unions as itself."""
    cfg = EngineConfig()
    df1 = spark.createDataFrame([(10.0,)], ["price"])
    df2 = spark.createDataFrame([(9.0, 11.0)], ["price", "cost"])
    out = U.execute_union(df1, df2, {"cost": "price"})
    assert out.columns.count("price") == 1
    assert out.columns.count("cost") == 1  # rename skipped, kept as-is
    out.collect()


# ---------------------------------------------------------------------------
# ex-registry rows-only query faces (moved to pytest-only in round 12 so
# the driver registry stays inside its 50-row CORRECTNESS window — see
# queries/__init__.all_queries)
# ---------------------------------------------------------------------------

def test_pipeline_e2e_query_face(spark, sf_dir):
    """The full NL lifecycle query face still runs end-to-end and
    produces the enriched OHLCV+SMA+RSI frame."""
    from dynamic_etl_pipeline_thesis_ii_spark.queries.integration_suite import (
        q_pipeline_e2e,
    )
    out = q_pipeline_e2e(spark, sf_dir)
    assert out.columns == ["ticker", "timestamp", "close",
                           "sma_close_20", "rsi_close_14"]
    assert out.count() > 0


def test_greedy_tail_query_face(spark, sf_dir):
    """Both rows-only branches (exact greedy simjoin + integrate
    orchestration) still execute and contribute rows."""
    from dynamic_etl_pipeline_thesis_ii_spark.queries.integration_suite import (
        q_greedy_tail,
    )
    out = q_greedy_tail(spark, sf_dir)
    branches = {r["branch"] for r in out.select("branch").distinct().collect()}
    assert branches == {"simjoin_full", "integrate"}
