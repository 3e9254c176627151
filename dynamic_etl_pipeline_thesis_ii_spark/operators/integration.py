"""Two-stage integration orchestrator (reference ``validator/validator.py:199-444``).

``integrate(dfs)`` reproduces the reference's Validator.process control
flow on Spark DataFrames:

1. UNION stage: greedy schema-matched grouping
   (``union.py:266-367`` — see :mod:`union_engine`).
2. Early termination when everything folded into one group
   (``validator.py:274-310``).
3. JOIN stage 1 — best-partner: for each group i evaluate every j > i
   with the similarity join; keep the partner with the best retention;
   untouched groups pass through (``join.py:886-983``).
4. JOIN stage 2 — join-the-joined: pairwise over stage-1 outputs,
   first compatible wins, each output used at most once; skipped
   entirely when stage 1 made no joins (``join.py:985-1053``,
   ``validator.py:353-391``).
5. Version split of any ``_x``/``_y`` outputs
   (``validator.py:107-197``).

The driver-side loops iterate over <= max_dataframes groups (10), i.e.
O(100) pair evaluations of LAZY plans — each evaluation triggers the
similarity join's blocked pair scoring, which is where the data-scale
work happens (and where blocking keeps 100 TB inputs from going
quadratic). Row ids for the pair scoring are synthesized per group,
when the caller does not name an id column, as a 64-bit ``xxhash64``
content hash plus a ``row_number`` within each hash-collision group —
distributed (no single-partition window) and stable across
repartitioning.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dynamic_etl_pipeline_thesis_ii_spark.config import EngineConfig
from dynamic_etl_pipeline_thesis_ii_spark.operators import similarity_join as SJ
from dynamic_etl_pipeline_thesis_ii_spark.operators import union_engine as U
from dynamic_etl_pipeline_thesis_ii_spark.scope import persist_scoped

_ROW_ID = "__row_id"

# column names that identify rows of an entity-keyed time series
_KEY_HINTS = ("ticker", "symbol", "ts", "timestamp", "date", "id", "key")


def detect_join_keys(df1: DataFrame, df2: DataFrame) -> list[str]:
    """Shared key-like columns (SURVEY §2.3: the reference's similarity
    join solves what is really an equi-join problem — same-ticker
    same-date rows from two APIs; when both sides carry key-named
    columns, a hash/broadcast equi-join is the right physical plan)."""
    shared = set(df1.columns) & set(df2.columns)
    return sorted(c for c in shared
                  if any(h == c.lower() or c.lower().endswith("_" + h)
                         or c.lower().endswith(h) and h in ("key", "id")
                         for h in _KEY_HINTS))


def key_equijoin(df1: DataFrame, df2: DataFrame, keys: list[str]) -> DataFrame:
    """Equi-join on detected keys with _x/_y suffixing of the non-key
    shared columns — same output contract as the similarity join's
    materialization, but a native hash/broadcast join (Catalyst picks)."""
    shared = (set(df1.columns) & set(df2.columns)) - set(keys)
    a = df1.select(*keys, *[F.col(c).alias(f"{c}_x" if c in shared else c)
                            for c in df1.columns if c not in keys])
    b = df2.select(*keys, *[F.col(c).alias(f"{c}_y" if c in shared else c)
                            for c in df2.columns if c not in keys])
    return a.join(b, on=keys, how="inner")


def with_row_id(df: DataFrame, id_col: str = _ROW_ID) -> DataFrame:
    """Deterministic synthetic row id, fully distributed: a 64-bit
    content hash over all columns plus a ``row_number`` *within* the
    (tiny) hash-collision group to disambiguate duplicates. The window
    partitions by the hash, so the plan contains no single-partition
    exchange — identical ids on both evaluation passes (candidate
    scoring and materialization) without caching. (The reference uses
    positional indices of the pandas frames — positions are not stable
    in a distributed setting, so we define identity by content;
    ``validator/join.py`` relies on ``reset_index`` positions.)"""
    cols = [F.col(c) for c in sorted(df.columns)]
    h = F.xxhash64(*cols)
    w = Window.partitionBy(h).orderBy(*cols)
    return df.withColumn(
        id_col, F.format_string("%d#%d", h, F.row_number().over(w)))


def group_counts(groups: list[DataFrame]) -> list[int]:
    """Row counts of several (persisted) frames in ONE Spark job: a
    union of per-frame count() aggregates instead of k sequential
    ``g.count()`` actions — each action is a full driver→scheduler
    round trip (~0.2 s of fixed latency locally, and a cluster round
    trip at scale), and the k subtrees read the group caches
    concurrently instead of one after another (guide §5 driver /
    §2.6 overlap). Counts are identical to ``g.count()`` by
    construction."""
    if not groups:
        return []
    if len(groups) == 1:
        return [groups[0].count()]
    counted = None
    for i, g in enumerate(groups):
        c = g.groupBy().agg(F.count(F.lit(1)).alias("__n")) \
             .select(F.lit(i).alias("__gi"), "__n")
        counted = c if counted is None else counted.unionByName(c)
    by_idx = {r["__gi"]: r["__n"] for r in counted.collect()}
    return [by_idx[i] for i in range(len(groups))]


def _join_pair(gi: DataFrame, gj: DataFrame, cfg: EngineConfig,
               denominator: Optional[int] = None,
               ) -> tuple[Optional[DataFrame], dict]:
    """Join two groups: equi-join fast path on detected keys (retention-
    gated like the similarity path), else the 26-feature similarity
    join. ``denominator`` is the orchestrator's GLOBAL retention
    denominator (``validator.py:323-325``). Returns (joined | None,
    report)."""
    keys = detect_join_keys(gi, gj)
    if keys:
        joined = key_equijoin(gi, gj, keys)
        n_matched = joined.count()
        denom = denominator if denominator is not None \
            else min(gi.count(), gj.count())
        ret = SJ.retention(n_matched, denom)
        if ret >= cfg.join_retention_threshold:
            return joined, {"status": "joined", "method": "equi",
                            "keys": keys, "retention": ret}
        # keys exist but don't line up — fall through to similarity
    a = with_row_id(gi, "__ida")
    b = with_row_id(gj, "__idb")
    joined, rep = SJ.similarity_join(a, b, "__ida", "__idb", cfg,
                                     denominator=denominator)
    if joined is not None:
        joined = joined.drop("__ida_x", "__idb_y", "__ida", "__idb")
        rep = {**rep, "method": "similarity"}
    return joined, rep


def _best_partner_join(groups: list[DataFrame], cfg: EngineConfig,
                       reports: list[dict],
                       denominator: Optional[int] = None,
                       join_pair=None) -> tuple[list[DataFrame], bool]:
    """Stage 1 (``join.py:886-983``): EVERY group i seeks its
    best-retention partner among j > i. Partners are NOT consumed — the
    reference tracks only exact (i, j) pairs, so one group may appear
    in several stage-1 joins (its ``created_pairs`` set / "A dataframe
    can appear in multiple joins" contract); ties keep the FIRST best
    (strictly-greater comparison). Groups that never appear in any join
    pass through AFTER the joined outputs, preserving the reference's
    output order. ``join_pair`` is injectable for differential tests."""
    jp = join_pair or (lambda a, b: _join_pair(a, b, cfg, denominator))
    out: list[DataFrame] = []
    created: set[tuple[int, int]] = set()
    any_joined = False
    for i in range(len(groups)):
        best_j, best_ret, best_df, best_rep = None, 0.0, None, None
        for j in range(i + 1, len(groups)):
            if (i, j) in created or (j, i) in created:
                continue
            joined, rep = jp(groups[i], groups[j])
            if joined is not None and rep["retention"] > best_ret:
                best_j, best_ret, best_df, best_rep = \
                    j, rep["retention"], joined, rep
        if best_j is not None:
            created.add((i, best_j))
            out.append(best_df)
            reports.append({"operation": "join_stage1", "left": i,
                            "right": best_j, "retention": best_ret,
                            "method": best_rep.get("method")})
            any_joined = True
    appeared = {k for pair in created for k in pair}
    for i, g in enumerate(groups):
        if i not in appeared:
            out.append(g)
            reports.append({"operation": "join_stage1_passthrough",
                            "group": i})
    return out, any_joined


def _join_the_joined(frames: list[DataFrame], cfg: EngineConfig,
                     reports: list[dict],
                     denominator: Optional[int] = None,
                     join_pair=None) -> list[DataFrame]:
    """Stage 2 (``join.py:985-1053``): pairwise over stage-1 outputs in
    (i, j) scan order, first compatible wins, each output used at most
    once; joined results come first, then untouched frames — the
    reference's ``processed``-set semantics and output order."""
    jp = join_pair or (lambda a, b: _join_pair(a, b, cfg, denominator))
    used = [False] * len(frames)
    out: list[DataFrame] = []
    for i in range(len(frames)):
        if used[i]:
            continue
        for j in range(i + 1, len(frames)):
            if used[j]:
                continue
            joined, rep = jp(frames[i], frames[j])
            if joined is not None:
                used[i] = used[j] = True
                out.append(joined)
                reports.append({"operation": "join_stage2", "left": i,
                                "right": j, "retention": rep["retention"],
                                "method": rep.get("method")})
                break
    for i, f in enumerate(frames):
        if not used[i]:
            out.append(f)
    return out


def integrate(dfs: list[DataFrame], cfg: Optional[EngineConfig] = None,
              ) -> tuple[list[DataFrame], list[dict]]:
    """Full union → join(stage1) → join(stage2) → version-split flow.
    Returns (output frames, operation reports)."""
    cfg = cfg or EngineConfig()
    if not dfs:
        return [], []
    if len(dfs) > cfg.max_dataframes:
        raise ValueError(f"too many DataFrames: {len(dfs)} > {cfg.max_dataframes}")

    reports: list[dict] = []
    groups, union_ops = U.sequential_union(dfs, cfg)
    reports.extend(union_ops)
    if len(groups) == 1:
        reports.append({"operation": "early_termination",
                        "reason": "all inputs unioned into one group"})
        return groups, reports

    # cache a group only where this function reads it twice: with k >= 2
    # groups the denominator count and the O(k^2) stage-1/2 pair
    # evaluations all read the same k frames (uncached, the 2-group
    # fixture launches ~8 jobs, each re-running the union +
    # dropDuplicates). A lone group, returned above, is read once, by
    # the caller: caching it costs a fill job and pins every read at
    # spark.sql.shuffle.partitions tasks, since AQE does not coalesce a
    # cached plan. The frames are returned lazily and live until the
    # caller's cache scope is released.
    for g in groups:
        persist_scoped(g)

    # fixed GLOBAL retention denominator for every stage-1/2 pair:
    # min row count over the unioned groups (validator.py:323-325).
    # The reference's min INCLUDES empty groups, and check_compatibility
    # returns retention 0.0 when the denominator is 0 (join.py:809) —
    # so one empty group disables every join. Faithful but surprising:
    # surface it loudly in the report instead of leaving only silently
    # pass-through groups.
    denominator = min(group_counts(groups))
    reports.append({"operation": "join_denominator", "rows": denominator})
    if denominator == 0:
        reports.append({
            "operation": "join_denominator_zero",
            "reason": "an empty unioned group sets the global retention "
                      "denominator to 0, so no stage-1/2 join can pass "
                      "the gate (reference semantics, validator.py:324 "
                      "+ join.py:809)"})

    stage1, any_joined = _best_partner_join(groups, cfg, reports,
                                            denominator)
    if any_joined and len(stage1) > 1:
        stage2 = _join_the_joined(stage1, cfg, reports, denominator)
    else:
        if not any_joined:
            reports.append({"operation": "skip_stage2",
                            "reason": "no stage-1 join succeeded"})
        stage2 = stage1

    outputs: list[DataFrame] = []
    for frame in stage2:
        outputs.extend(U.version_split(frame))
    return outputs, reports
