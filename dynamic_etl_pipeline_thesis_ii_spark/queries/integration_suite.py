"""Integration-engine suite: schema-matched union (U1-U6), similarity
join (J1-J6) and the two-stage orchestrator (J7-J8) over fixtures
derived from the synthetic tables.

The 26 pair features and the calibrated logistic score are generated
from ONE formula template in two SQL dialects
(``operators/similarity_join.feature_sql``), so the DuckDB oracle runs
numerically identical math — the differential check covers the formulas
themselves, not just the plumbing. Greedy assignment and the full
orchestrator are order-dependent sequential algorithms (reference
``join.py:724-767``) — not SQL-expressible, so those queries take the
driver's rows-only check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dynamic_etl_pipeline_thesis_ii_spark.config import EngineConfig
from dynamic_etl_pipeline_thesis_ii_spark.operators import similarity_join as SJ
from dynamic_etl_pipeline_thesis_ii_spark.operators import union_engine as U
from dynamic_etl_pipeline_thesis_ii_spark.operators.integration import integrate
from dynamic_etl_pipeline_thesis_ii_spark.scope import run_arms
from dynamic_etl_pipeline_thesis_ii_spark.sources.registry import Catalog

CFG = EngineConfig()  # balanced profile

# ---------------------------------------------------------------------------
# union engine
# ---------------------------------------------------------------------------

def _union_fixture(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Two 'API views' of customers: canonical names vs stripped names
    + one unmappable extra column (loyalty_tier)."""
    cust = Catalog(spark, sf_dir).customer
    a = cust.select("c_custkey", "c_name", "c_acctbal", "c_nationkey", "c_mktsegment")
    b = (cust.filter(F.col("c_custkey") % 3 == 0)
         .select((F.col("c_custkey") + 500000).alias("custkey"),
                 F.col("c_name").alias("name"),
                 (F.col("c_acctbal") + 1.0).alias("acctbal"),
                 F.col("c_nationkey").alias("nationkey"),
                 F.concat(F.lit("tier_"), (F.col("c_custkey") % 4).cast("string"))
                  .alias("loyalty_tier")))
    return a, b


def q_union_schema_match(spark, sf_dir):
    """U1-U6 as ONE branch-tagged entry (registry window discipline,
    see ``queries/__init__.all_queries``): part='union' is the hybrid
    name-similarity schema-matched union (U1-U5); part='split' is the
    joined-shape _x/_y version split (U6, formerly its own
    `union_version_split` entry, folded in round 12)."""
    a, b = _union_fixture(spark, sf_dir)
    groups, ops = U.sequential_union([a, b], CFG)
    assert len(groups) == 1, f"expected one union group, got {len(groups)}"
    matched = groups[0].withColumn("part", F.lit("union"))

    orders = Catalog(spark, sf_dir).orders
    joined_shape = orders.select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("totalprice_x"),
        (F.col("o_totalprice") * 2).alias("totalprice_y"))
    vx, vy = U.version_split(joined_shape)
    split = (vx.withColumn("version", F.lit("x"))
             .unionByName(vy.withColumn("version", F.lit("y")))
             .withColumn("part", F.lit("split")))
    return matched.unionByName(split, allowMissingColumns=True)


ORACLE_UNION_SCHEMA_MATCH = """
SELECT 'union' AS part, c_custkey, c_name, c_acctbal, c_nationkey,
       c_mktsegment, loyalty_tier,
       NULL::BIGINT AS o_orderkey, NULL::VARCHAR AS status,
       NULL::DOUBLE AS totalprice, NULL::VARCHAR AS version
FROM (
  SELECT c_custkey, c_name, c_acctbal, c_nationkey, c_mktsegment,
         NULL AS loyalty_tier
  FROM customer
  UNION
  SELECT c_custkey + 500000, c_name, c_acctbal + 1.0, c_nationkey,
         NULL AS c_mktsegment, 'tier_' || cast(c_custkey % 4 AS varchar)
  FROM customer WHERE c_custkey % 3 = 0
)
UNION ALL
SELECT 'split', NULL, NULL, NULL, NULL, NULL, NULL,
       o_orderkey, status, totalprice, version
FROM (
  SELECT o_orderkey, o_orderstatus AS status,
         o_totalprice AS totalprice, 'x' AS version
  FROM orders
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice * 2, 'y' FROM orders
)
"""


# ---------------------------------------------------------------------------
# similarity join
# ---------------------------------------------------------------------------

_SJ_COLS = ["cust", "mon", "price", "pri"]  # candidate_pairs order


def _sj_sides(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Side A: first 2001 orders. Side B: the same entities through a
    'different API' — perturbed price, shifted ids. Ground truth: each
    A row should match its B copy."""
    orders = Catalog(spark, sf_dir).orders.filter(F.col("o_orderkey") <= 2000)
    a = orders.select(
        F.col("o_orderkey").alias("id_a"),
        F.col("o_custkey").cast("double").alias("cust"),
        F.month("o_orderdate").cast("double").alias("mon"),
        F.col("o_totalprice").alias("price"),
        F.length("o_orderpriority").cast("double").alias("pri"))
    b = orders.select(
        (F.col("o_orderkey") + 1000000).alias("id_b"),
        F.col("o_custkey").cast("double").alias("cust"),
        F.month("o_orderdate").cast("double").alias("mon"),
        (F.col("o_totalprice") * 1.0001).alias("price"),
        F.length("o_orderpriority").cast("double").alias("pri"))
    return a, b


_SQL_SJ_SIDES = """
A AS (
  SELECT o_orderkey AS id_a, o_custkey::DOUBLE AS cust,
         month(o_orderdate)::DOUBLE AS mon, o_totalprice AS price,
         length(o_orderpriority)::DOUBLE AS pri
  FROM orders WHERE o_orderkey <= 2000
),
B AS (
  SELECT o_orderkey + 1000000 AS id_b, o_custkey::DOUBLE AS cust,
         month(o_orderdate)::DOUBLE AS mon, o_totalprice * 1.0001 AS price,
         length(o_orderpriority)::DOUBLE AS pri
  FROM orders WHERE o_orderkey <= 2000
),
p AS (
  SELECT id_a, id_b,
         a.cust AS a_cust, a.mon AS a_mon, a.price AS a_price, a.pri AS a_pri,
         b.cust AS b_cust, b.mon AS b_mon, b.price AS b_price, b.pri AS b_pri
  FROM A a JOIN B b ON floor(a.price / 1000) = floor(b.price / 1000)
)
"""


def _sj_pairs(spark, sf_dir) -> DataFrame:
    a, b = _sj_sides(spark, sf_dir)
    return SJ.candidate_pairs(a, b, _SJ_COLS,
                              block1=F.floor(F.col("price") / 1000),
                              block2=F.floor(F.col("price") / 1000))


def q_simjoin_pair_features(spark, sf_dir):
    """Blocked candidate pairs with all 26 features + probability."""
    feats = SJ.pair_features(_sj_pairs(spark, sf_dir), _SJ_COLS, CFG)
    return SJ.score_pairs(feats, _SJ_COLS, CFG)


def _oracle_pair_features() -> str:
    fs = SJ.feature_sql(_SJ_COLS, "duckdb", cfg=CFG)
    # "+ 0.0" mirrors pair_features' -0.0 normalization (bitwise hash gate).
    feat_cols = ", ".join(f"round({sql}, 6) + 0.0 AS {name}"
                          for name, sql in fs.items())
    prob = SJ.score_sql(_SJ_COLS, CFG)
    return f"""
WITH {_SQL_SJ_SIDES},
f AS (SELECT id_a, id_b,
             a_cust, a_mon, a_price, a_pri, b_cust, b_mon, b_price, b_pri,
             {feat_cols}
      FROM p)
SELECT *, round({prob}, 6) + 0.0 AS prob FROM f
"""


def q_simjoin_matches_topk(spark, sf_dir):
    """Threshold at 0.44 then two-sided top-K (K=5, balanced) — the
    scalable assignment (windows, no driver state)."""
    scored = q_simjoin_pair_features(spark, sf_dir)
    cands = scored.filter(F.col("prob") >= CFG.join_row_threshold)
    return SJ.assign_topk(cands, CFG.max_matches_per_row).select("id_a", "id_b", "prob")


def _oracle_matches_topk() -> str:
    base = _oracle_pair_features()
    return f"""
WITH scored AS ({base}),
cand AS (SELECT id_a, id_b, prob FROM scored WHERE prob >= {CFG.join_row_threshold}),
ranked AS (
  SELECT *,
    row_number() OVER (PARTITION BY id_a ORDER BY prob DESC, id_b) AS ra,
    row_number() OVER (PARTITION BY id_b ORDER BY prob DESC, id_a) AS rb
  FROM cand
)
SELECT id_a, id_b, prob FROM ranked
WHERE ra <= {CFG.max_matches_per_row} AND rb <= {CFG.max_matches_per_row}
"""


def q_simjoin_full(spark, sf_dir):
    """Full J1-J6 pass with exact greedy assignment and retention gate.
    Greedy is sequential (reference join.py:724-767) — rows-only check."""
    a, b = _sj_sides(spark, sf_dir)
    joined, report = SJ.similarity_join(
        a, b, "id_a", "id_b", CFG,
        block1=F.floor(F.col("price") / 1000),
        block2=F.floor(F.col("price") / 1000))
    assert joined is not None, f"similarity join failed: {report}"
    return joined.select("id_a", "id_b", "cust_x", "cust_y", "price_x", "price_y")


def q_integrate_pipeline(spark, sf_dir):
    """Full union->join->split orchestration over three API views:
    two union-compatible customer frames + one orders frame (joins with
    neither — no numeric-name overlap, grand-mean-padded features score
    below threshold). Rows-only check (driver-side control flow)."""
    a, b = _union_fixture(spark, sf_dir)
    orders = Catalog(spark, sf_dir).orders.filter(F.col("o_orderkey") < 200) \
        .select("o_orderkey", "o_custkey", "o_totalprice")
    outputs, reports = integrate([a.filter(F.col("c_custkey") < 200),
                                  b.filter(F.col("custkey") < 500200),
                                  orders], CFG)
    # stable summary: one row per output frame with row/col counts —
    # all counts in ONE job (union of aggregates over the persisted
    # groups) instead of one action per frame (guide §5 driver)
    from dynamic_etl_pipeline_thesis_ii_spark.operators.integration import (
        group_counts,
    )
    counts = group_counts(outputs)
    rows = [(i, counts[i], len(out.columns))
            for i, out in enumerate(outputs)]
    return spark.createDataFrame(rows, ["output_idx", "n_rows", "n_cols"])


def q_greedy_tail(spark, sf_dir):
    """The two rows-only greedy/orchestration surfaces as ONE branch-tagged
    entry (driver records only the first 50 registry entries — see
    ``queries/__init__.all_queries``; folding these keeps the registry at
    <= 49 so nothing silently drops out of CORRECTNESS_r{N}):

    - branch='simjoin_full': J1-J6 with exact greedy assignment +
      retention gate (reference join.py:724-767; order-dependent, not
      SQL-expressible) — key = 'id_a:id_b', v1..v4 = cust_x, cust_y,
      price_x, price_y;
    - branch='integrate': J7-J8 union->join->split orchestration summary
      — key = output index, v1..v2 = row/col counts.

    Pair-for-pair fidelity of both branches is pinned by
    ``tests/test_greedy_differential.py`` against a line-faithful
    re-implementation of the reference algorithm."""
    # The two branches are independent driver-orchestrated pipelines,
    # each with its own eager actions (simjoin: the greedy-assignment
    # collect; integrate: union counts + pair evaluation + summary), so
    # run_arms overlaps them. The simjoin branch is eager-checkpointed;
    # the integrate branch's summary is a 3-row driver frame already.
    def _sj_branch():
        return (q_simjoin_full(spark, sf_dir).select(
            F.lit("simjoin_full").alias("branch"),
            F.concat_ws(":", F.col("id_a"), F.col("id_b")).alias("key"),
            F.col("cust_x").cast("double").alias("v1"),
            F.col("cust_y").cast("double").alias("v2"),
            F.col("price_x").cast("double").alias("v3"),
            F.col("price_y").cast("double").alias("v4"))
            .localCheckpoint(eager=True))

    def _integ_branch():
        return q_integrate_pipeline(spark, sf_dir).select(
            F.lit("integrate").alias("branch"),
            F.col("output_idx").cast("string").alias("key"),
            F.col("n_rows").cast("double").alias("v1"),
            F.col("n_cols").cast("double").alias("v2"),
            F.lit(None).cast("double").alias("v3"),
            F.lit(None).cast("double").alias("v4"))

    sj, integ = run_arms(_sj_branch, _integ_branch)
    return sj.unionByName(integ)


def q_pipeline_e2e(spark, sf_dir):
    """Full NL-query lifecycle: rule planner -> typed plan -> parameter
    validation -> offline fetch -> union integration -> clean -> DSL
    enrichment. Rows-only check (LLM-free deterministic run of the
    reference's entry-point-B flow, pipeline.py:8-34)."""
    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        FixtureFetcher,
        Pipeline,
    )
    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    result = pipe.run("Get AAPL daily stock prices with 20-day SMA and RSI")
    assert result["status"] == "complete", result
    out = result["outputs"][0]
    return out.select("ticker", "timestamp", "close", "sma_close_20",
                      "rsi_close_14")


# `pipeline_e2e` and `greedy_tail` are deliberately NOT registry
# entries: both are rows-only (order-dependent greedy / driver-side
# orchestration — no SQL oracle), so a driver row adds nothing beyond
# the pytest coverage they already have (`test_greedy_differential.py`
# pins greedy pair-for-pair against a line-faithful reference
# re-implementation; `tests/test_integration_engine.py::
# test_pipeline_e2e_query_face` / `test_greedy_tail_query_face` run
# both query faces end-to-end). Keeping them out leaves the
# registry at 49 so every ORACLE-backed entry lands inside the
# driver's 50-row CORRECTNESS window. bench.py still times
# pipeline_e2e as a headline (it imports q_pipeline_e2e directly).
INTEGRATION_QUERIES = {
    "union_schema_match": q_union_schema_match,
    "simjoin_pair_features": q_simjoin_pair_features,
    "simjoin_matches_topk": q_simjoin_matches_topk,
}

INTEGRATION_ORACLES = {
    "union_schema_match": ORACLE_UNION_SCHEMA_MATCH,
    "simjoin_pair_features": _oracle_pair_features(),
    "simjoin_matches_topk": _oracle_matches_topk(),
}
