"""Deterministic sampling for training-data curation: hash sampling,
stratified rates, and target-mixture rebalancing.

Large-corpus pipelines need *reproducible* sampling — re-running a job
(or running it on another engine) must keep exactly the same rows, and
the decision must be makeable per-row with no RNG state, no global
sort, and no shuffle. The standard trick: hash a stable row key and
keep the row when ``hash % mod`` falls under a rate threshold. One
narrow scan at any scale; the only non-scan work is the tiny per-stratum
count aggregate the rebalancer needs (collected to the driver — the
stratum cardinality is small — and folded back in as literals, so the
filter pass stays shuffle-free).

All decisions use the md5-based :func:`~.dedup.hash32` primitive shared
with the DuckDB oracles, so every operator here is exactly
oracle-checkable (same rows, not just same counts).
"""

from __future__ import annotations

import math
from typing import Mapping, Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dynamic_etl_pipeline_thesis_ii_spark.operators.dedup import (
    SQL_HASH32,
    SQL_NORMALIZE,
    hash32,
    normalize_text,
)

DEFAULT_MOD = 1_000_000


def _bucket(key: Column, salt: str, mod: int) -> Column:
    return hash32(F.concat(key.cast("string"), F.lit(salt))) % mod


def SQL_BUCKET(x: str, salt: str, mod: int = DEFAULT_MOD) -> str:
    """DuckDB twin of :func:`_bucket` (same md5 hash, same mixing)."""
    h = SQL_HASH32.format(x=f"({x})::VARCHAR || '{salt}'")
    return f"({h} % {mod})"


def hash_sample(df: DataFrame, rate: float, key_col: str,
                salt: str = "", mod: int = DEFAULT_MOD) -> DataFrame:
    """Keep ~``rate`` of rows, decided by content hash — reproducible
    across runs, engines and partitionings; different ``salt`` values
    draw independent samples from the same corpus."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    return df.filter(_bucket(F.col(key_col), salt, mod)
                     < int(math.floor(rate * mod)))


def stratified_hash_sample(df: DataFrame, strata_col: str,
                           rates: Mapping[str, float], key_col: str,
                           default_rate: float = 0.0, salt: str = "",
                           mod: int = DEFAULT_MOD) -> DataFrame:
    """Per-stratum hash sampling: each stratum value gets its own keep
    rate (absent strata fall back to ``default_rate``). The rate table
    compiles to a CASE expression — still a single narrow scan."""
    thresh: Column = F.lit(int(math.floor(default_rate * mod)))
    for value, rate in sorted(rates.items()):
        thresh = F.when(F.col(strata_col) == value,
                        F.lit(int(math.floor(rate * mod)))).otherwise(thresh)
    return df.filter(_bucket(F.col(key_col), salt, mod) < thresh)


def rebalance_mix(df: DataFrame, strata_col: str,
                  target_shares: Mapping[str, float], key_col: str,
                  salt: str = "", mod: int = DEFAULT_MOD,
                  counts: Optional[Mapping[str, int]] = None) -> DataFrame:
    """Downsample strata toward a target mixture (the domain-mix step of
    corpus curation): find the largest total T with
    ``share_g * T <= n_g`` for every stratum g — ``T* = min_g(n_g /
    share_g)`` — then keep each stratum at rate ``share_g * T* / n_g``
    via the deterministic hash. Strata outside ``target_shares`` drop.

    One tiny count aggregate (or pass ``counts`` precomputed), then one
    shuffle-free filter scan. Thresholds are floored integer bucket
    bounds computed with the exact formula the SQL oracle uses, so the
    kept row set is engine-exact, not just approximately sized.

    Target strata with zero input rows are *excluded* from the ``t*``
    minimum (they can never be filled, so they don't force the whole
    output empty) — the same semantics as the SQL twin, whose
    ``counts JOIN shares`` simply drops absent strata."""
    if counts is None:
        rows = (df.filter(F.col(strata_col).isin(list(target_shares)))
                .groupBy(strata_col).count().collect())
        counts = {r[strata_col]: r["count"] for r in rows}
    t_star = min((counts[g] / share
                  for g, share in target_shares.items()
                  if share > 0 and counts.get(g)),
                 default=0.0)
    rates = {g: (share * t_star / counts[g]) if counts.get(g) else 0.0
             for g, share in target_shares.items()}
    return stratified_hash_sample(df, strata_col, rates, key_col,
                                  default_rate=0.0, salt=salt, mod=mod)


def temperature_mix(df: DataFrame, strata_col: str, alpha: float,
                    key_col: str, salt: str = "", mod: int = DEFAULT_MOD,
                    counts: Optional[Mapping[str, int]] = None) -> DataFrame:
    """Temperature ("alpha") sampling: flatten the natural stratum
    mixture p toward p^alpha — the multilingual-LLM practice (mBERT /
    XLM-R / T5 all alpha-sample languages so low-resource strata
    aren't drowned). alpha=1 keeps the natural mix (no-op rates),
    alpha=0 targets uniform, alpha in between up-weights tails.

    Because the hash-threshold rates of :func:`rebalance_mix` are
    INVARIANT to scaling of the target shares, the p^alpha target
    collapses to a closed form with no normalization sums:
    ``rate_g = (n_min / n_g) ** (1 - alpha)`` (the smallest stratum
    keeps everything). No order-dependent float accumulation exists
    anywhere in the formula, so the DuckDB twin is bit-exact at
    alpha=0.5 (IEEE sqrt of an exact ratio) and at the endpoints;
    other alphas are exact wherever both engines' pow agree (they
    round identically in practice, but IEEE leaves pow 1-ulp free).

    One tiny count aggregate (or pass ``counts``), then one
    shuffle-free filter scan — the standard sampling shape."""
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    if counts is None:
        rows = df.groupBy(strata_col).count().collect()
        counts = {r[strata_col]: r["count"] for r in rows}
    counts = {g: c for g, c in counts.items() if g is not None and c}
    if not counts:
        return df.filter(F.lit(False))
    n_min = min(counts.values())
    if alpha == 0.5:
        rates = {g: math.sqrt(n_min / c) for g, c in counts.items()}
    else:
        rates = {g: (n_min / c) ** (1.0 - alpha)
                 for g, c in counts.items()}
    return stratified_hash_sample(df, strata_col, rates, key_col,
                                  default_rate=0.0, salt=salt, mod=mod)


def SQL_TEMPERATURE_MIX(table: str, strata: str, key: str, alpha: float,
                        salt: str = "", mod: int = DEFAULT_MOD) -> str:
    """DuckDB twin of :func:`temperature_mix` (alpha=0.5 via sqrt —
    the bit-exact path; other alphas via pow)."""
    bucket = SQL_BUCKET(key, salt, mod)
    ratio = f"((SELECT min(n) FROM counts)::DOUBLE / c.n)"
    rate = (f"sqrt({ratio})" if alpha == 0.5
            else "1.0::DOUBLE" if alpha == 1.0
            else f"pow({ratio}, {1.0 - alpha})")
    return f"""
WITH base AS (SELECT * FROM {table} WHERE {strata} IS NOT NULL),
counts AS (SELECT {strata} AS g, count(*)::BIGINT AS n
           FROM base GROUP BY {strata})
SELECT b.* FROM base b JOIN counts c ON b.{strata} = c.g
WHERE {bucket} < floor(({rate}) * {mod})
"""


def split_assign(df: DataFrame, splits: Mapping[str, float], key_col: str,
                 salt: str = "split", mod: int = DEFAULT_MOD) -> DataFrame:
    """Deterministic train/valid/test assignment: append a ``split``
    column chosen by the salted content hash against cumulative weight
    thresholds — every engine and every re-run assigns each row to the
    same split, rows never leak between splits when the corpus is
    re-partitioned or appended to (a doc's assignment depends only on
    its key), and changing ``salt`` draws an independent partition.
    One narrow scan, no shuffle. ``splits`` maps split name to a
    weight; weights are normalized, iteration over SORTED names makes
    the threshold layout engine-exact."""
    total = float(sum(splits.values()))
    if total <= 0 or any(w < 0 for w in splits.values()):
        raise ValueError(f"split weights must be non-negative with a "
                         f"positive sum, got {splits}")
    bucket = _bucket(F.col(key_col), salt, mod)
    expr: Optional[Column] = None
    cum = 0.0
    names = sorted(splits)
    for name in names[:-1]:
        cum += splits[name] / total
        thresh = int(math.floor(cum * mod))
        step = F.when(bucket < thresh, F.lit(name))
        expr = step if expr is None else expr.when(bucket < thresh,
                                                   F.lit(name))
    last = F.lit(names[-1])
    out = last if expr is None else expr.otherwise(last)
    return df.withColumn("split", out)


def SQL_SPLIT_ASSIGN(splits: Mapping[str, float], key: str,
                     salt: str = "split", mod: int = DEFAULT_MOD) -> str:
    """DuckDB twin of :func:`split_assign`: the ``split`` CASE
    expression (same hash, same cumulative floor thresholds)."""
    total = float(sum(splits.values()))
    bucket = SQL_BUCKET(key, salt, mod)
    names = sorted(splits)
    arms, cum = [], 0.0
    for name in names[:-1]:
        cum += splits[name] / total
        arms.append(f"WHEN {bucket} < {int(math.floor(cum * mod))} "
                    f"THEN '{name}'")
    if not arms:
        return f"'{names[-1]}'"
    return f"(CASE {' '.join(arms)} ELSE '{names[-1]}' END)"


def leakage_safe_split(df: DataFrame, splits: Mapping[str, float],
                       pairs: DataFrame, id_col: str = "doc_id",
                       salt: str = "split",
                       mod: int = DEFAULT_MOD) -> DataFrame:
    """:func:`split_assign` at near-dup COMPONENT granularity: every
    member of a connected near-dup cluster lands in the SAME split, so
    eval rows are never near-duplicates of training rows — the
    train/test leakage that per-document hashing cannot prevent (a doc
    and its near-copy hash independently and straddle the boundary
    ~2·p·(1−p) of the time).

    ``pairs`` is any candidate near-dup pair list ``(id_a, id_b)`` —
    MinHash-LSH, SimHash, embedding near-dup — resolved to components
    via :func:`~.dedup.min_label_components`; docs appearing in no
    pair are their own singleton component (id = component, the common
    case — no row inflation). The split is then the salted hash of the
    COMPONENT id, keeping every per-key determinism guarantee of
    :func:`split_assign` (re-runs, appends, engine changes), now at
    cluster granularity. Output: the input plus ``component`` and
    ``split`` columns.

    Scale shape: the component table is bounded by the EDGE-TOUCHED
    docs (LSH already collapsed the corpus), one hash join against the
    corpus on id; the assignment itself is a narrow scan."""
    from .dedup import min_label_components

    comp = (min_label_components(pairs)
            .select(F.col("id").alias("__cid"),
                    F.col("comp").alias("__comp")))
    anchored = (df.join(comp, F.col(id_col) == F.col("__cid"), "left")
                .withColumn("component",
                            F.coalesce(F.col("__comp"), F.col(id_col)))
                .drop("__cid", "__comp"))
    return split_assign(anchored, splits, key_col="component",
                        salt=salt, mod=mod)


def cumulative_value_table(df: DataFrame, score_col: str,
                           group_col: Optional[str],
                           weight_col: Optional[str] = None,
                           ) -> tuple[DataFrame, DataFrame]:
    """Shared skeleton of the value-based cut operators
    (:func:`select_token_budget`, ``text.lm_quality_buckets``):
    synthesize the group key, aggregate to the COMPACT (group, score)
    value table (scores are rounded upstream, so distinct values are
    bounded far below the row count) and window each value's
    score-descending cumulative weight (row count, or ``weight_col``'s
    sum). Returns ``(rows, vals)``: the input with its ``__g`` column,
    and the value table with ``__cum`` / group-total ``__n``.

    Rows with a NULL group or NULL score cannot be ranked: they carry
    no usable (group, score) key and fall out of the equality join
    every consumer performs — i.e. they are EXCLUDED from cut results.
    Filter or impute upstream if they must survive."""
    g = F.col(group_col) if group_col else F.lit("(all)")
    s = df.withColumn("__g", g)
    weight = (F.count(F.lit(1)) if weight_col is None
              else F.sum(weight_col))
    vals = s.groupBy("__g", score_col).agg(weight.alias("__w"))
    w = Window.partitionBy("__g").orderBy(F.col(score_col).desc())
    vals = (vals.withColumn("__cum", F.sum("__w").over(w))
            .withColumn("__n", F.sum("__w").over(Window.partitionBy("__g"))))
    return s, vals


def select_token_budget(df: DataFrame, budget: int,
                        score_col: str, tokens_col: str,
                        group_col: Optional[str] = None) -> DataFrame:
    """Keep the highest-``score_col`` documents whose cumulative
    ``tokens_col`` fits ``budget`` — the data-constrained-scaling
    selection step ("give me the best N tokens"), per ``group_col``
    when given (each group gets its own budget).

    No global sort: scores are rounded upstream (4-6 dp), so documents
    aggregate to a COMPACT (group, score) value table; a window over
    that small table computes each value's cumulative token count in
    score-descending order, and the kept-value set broadcasts back as a
    semi-join. Documents sharing a score value are kept or dropped
    TOGETHER (value-based cut — deterministic, engine-exact, may
    undershoot the budget by up to one value clump rather than split a
    tie arbitrarily). Rows with a NULL group or score are excluded
    (see :func:`cumulative_value_table`)."""
    if budget < 0:
        raise ValueError(f"budget must be non-negative, got {budget}")
    s, vals = cumulative_value_table(df, score_col, group_col,
                                     weight_col=tokens_col)
    kept_vals = vals.filter(F.col("__cum") <= budget).select("__g", score_col)
    return (s.join(F.broadcast(kept_vals), ["__g", score_col], "left_semi")
            .drop("__g"))


def SQL_SELECT_TOKEN_BUDGET(rows_cte: str, budget: int,
                            score: str, tokens: str,
                            group: Optional[str] = None) -> str:
    """DuckDB twin of :func:`select_token_budget`: same value-table
    cumulative cut. ``rows_cte`` names a CTE holding the docs; ``group``
    is a column name of that CTE (or ``None`` for one global budget).
    Returns a SELECT of the CTE's rows surviving the budget."""
    gexpr = group if group else "'(all)'"
    join_g = f"r.{group} = k.g" if group else "TRUE"
    return f"""
SELECT r.* FROM {rows_cte} r
SEMI JOIN (
  SELECT g, {score} FROM (
    SELECT g, {score},
           sum(t) OVER (PARTITION BY g ORDER BY {score} DESC) AS cum
    FROM (SELECT {gexpr} AS g, {score}, sum({tokens}) AS t
          FROM {rows_cte} GROUP BY 1, 2))
  WHERE cum <= {budget}
) k ON {join_g} AND r.{score} = k.{score}
"""


# ---------------------------------------------------------------------------
# SM7: DSIR — data selection via importance resampling (hashed n-grams)
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 4096


def _gram_explode(df: DataFrame, text_col: str,
                  keep: list) -> DataFrame:
    """``keep`` columns + one ``gram`` row per unigram AND bigram of
    the normalized text. The token array is MATERIALIZED in its own
    projection before the bigram zip — referencing the split chain
    from inside a higher-order lambda re-evaluates it per element
    (O(L²) per doc; measured 14x slower at sf0.1) because lambda
    bodies defeat Catalyst's common-subexpression elimination.
    Bigrams come from zip_with over the array and its shift-by-one
    slice — every expression touches ``__toks`` exactly once.
    Empty/NULL texts contribute no grams."""
    toks = F.filter(
        F.split(normalize_text(F.coalesce(F.col(text_col), F.lit(""))), " "),
        lambda t: t != "")
    t = df.select(*keep, toks.alias("__toks"))
    n = F.size("__toks")
    bis = F.when(
        n >= 2,
        F.zip_with(F.slice("__toks", 1, F.greatest(n - 1, F.lit(1))),
                   F.slice(F.col("__toks"), 2,
                           F.greatest(n - 1, F.lit(1))),
                   lambda a, b: F.concat_ws(" ", a, b))
    ).otherwise(F.array().cast("array<string>"))
    return t.select(*keep,
                    F.explode(F.concat(F.col("__toks"), bis)).alias("gram"))


def _gram_buckets(df: DataFrame, text_col: str, id_col: str,
                  n_buckets: int, carry: tuple = ()) -> DataFrame:
    """(id, *carry, bucket) rows: every uni/bigram hashed into
    ``n_buckets`` with the engine-portable md5-based
    :func:`~.dedup.hash32`. One narrow scan; the explode is the only
    expansion. ``carry`` names extra ``df`` columns to thread through
    the explode (the shared-grams face: a caller persisting ONE gram
    frame for both the :func:`dsir_logratio_table` fit and the
    :func:`dsir_weights` scoring carries the fit's flag column here)."""
    g = _gram_explode(df.select(F.col(id_col).alias("id"),
                                *[F.col(c) for c in carry],
                                F.col(text_col)), text_col,
                      [F.col("id"), *[F.col(c) for c in carry]])
    return g.select("id", *carry,
                    (hash32(F.col("gram")) % n_buckets).alias("bucket"))


def dsir_gram_buckets(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      n_buckets: int = DSIR_BUCKETS,
                      carry: tuple = ()) -> DataFrame:
    """Public face of the DSIR gram explode — build it ONCE, persist,
    and feed BOTH :func:`dsir_logratio_table` (pass the fit's flag
    column via ``carry``) and :func:`dsir_weights` through their
    ``grams=`` parameter; the corpus then pays one explode + one
    md5-hash pass instead of two (the ``shingles=`` convention of
    ``dedup.minhash_lsh_pairs``)."""
    return _gram_buckets(df, text_col, id_col, n_buckets, carry=carry)


def dsir_logratio_table(raw: DataFrame, target: DataFrame | None = None,
                        text_col: str = "text", id_col: str = "doc_id",
                        n_buckets: int = DSIR_BUCKETS,
                        target_flag: str | None = None,
                        grams: DataFrame | None = None) -> DataFrame:
    """The DSIR importance model (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): fit hashed bag-of-
    n-gram (uni+bi) models on the TARGET domain and the RAW pool, and
    emit per-bucket ``logratio_micro`` = round(1e6 * (ln p_target(b) -
    ln p_raw(b))) with Laplace smoothing over the fixed bucket space.

    The micro-scaled BIGINT is the determinism contract: document
    weights downstream are exact integer sums, so they are invariant
    to aggregation order and engine (a raw double sum would be
    order-dependent in the last bits). ln() itself is libm on both
    engines; a 1-ulp disagreement is ~1e-9 after scaling — far below
    the 0.5 rounding threshold.

    Scale shape: gram-count aggregates bounded at ``n_buckets`` rows
    out + one ``spark.range(n_buckets)`` spine so zero-count buckets
    still carry the smoothing mass. The result is a tiny (bucket,
    logratio_micro) table meant to be broadcast — the 100 TB pool is
    only ever touched by the one scoring scan in :func:`dsir_weights`.

    Two calling conventions: pass ``target`` (an arbitrary DataFrame)
    for independent corpora — two explode scans; or, when the target
    is a SUBSET of the raw pool, pass ``target_flag`` (a boolean
    column of ``raw``) and ONE explode scan feeds both sides via
    conditional counts — the cheaper plan for the standard "select
    from the pool toward an in-pool domain" use."""
    if (target is None) == (target_flag is None):
        raise ValueError("pass exactly one of target / target_flag")
    spine = raw.sparkSession.range(n_buckets).select(
        F.col("id").cast("long").alias("bucket"))

    def ratio(cnt: DataFrame) -> DataFrame:
        # cnt: (bucket, n_r, n_t) partial; spine fills absent buckets
        tot = cnt.agg(F.sum("n_r").alias("tot_r"),
                      F.sum("n_t").alias("tot_t"))
        p_t = ((F.coalesce(F.col("n_t"), F.lit(0)) + 1).cast("double")
               / (F.coalesce(F.col("tot_t"), F.lit(0)) + n_buckets)
               .cast("double"))
        p_r = ((F.coalesce(F.col("n_r"), F.lit(0)) + 1).cast("double")
               / (F.coalesce(F.col("tot_r"), F.lit(0)) + n_buckets)
               .cast("double"))
        return (spine.join(cnt, "bucket", "left")
                .crossJoin(F.broadcast(tot))
                .select("bucket",
                        F.round((F.log(p_t) - F.log(p_r)) * 1e6)
                        .cast("long").alias("logratio_micro")))

    if target_flag is not None:
        if grams is not None:
            # shared-grams fast path: a :func:`dsir_gram_buckets`
            # frame carrying the flag column (persisted by the caller,
            # also feeding dsir_weights) — no second corpus explode
            cnt = (grams.groupBy("bucket")
                   .agg(F.count(F.lit(1)).alias("n_r"),
                        F.sum(F.col(target_flag).cast("long"))
                        .alias("n_t")))
            return ratio(cnt)
        g = _gram_explode(
            raw.select(F.col(target_flag).alias("__t"), F.col(text_col)),
            text_col, [F.col("__t")])
        cnt = (g.select("__t",
                        (hash32(F.col("gram")) % n_buckets).alias("bucket"))
               .groupBy("bucket")
               .agg(F.count(F.lit(1)).alias("n_r"),
                    F.sum(F.col("__t").cast("long")).alias("n_t")))
        return ratio(cnt)

    r_cnt = (_gram_buckets(raw, text_col, id_col, n_buckets)
             .groupBy("bucket").agg(F.count(F.lit(1)).alias("n_r")))
    t_cnt = (_gram_buckets(target, text_col, id_col, n_buckets)
             .groupBy("bucket").agg(F.count(F.lit(1)).alias("n_t")))
    return ratio(r_cnt.join(t_cnt, "bucket", "full_outer"))


def dsir_weights(df: DataFrame, logratio: DataFrame,
                 text_col: str = "text", id_col: str = "doc_id",
                 n_buckets: int = DSIR_BUCKETS,
                 grams: DataFrame | None = None) -> DataFrame:
    """Score every document of ``df`` against a fitted
    :func:`dsir_logratio_table`: ``weight_micro`` = exact BIGINT sum of
    the log-ratio micros over the doc's hashed uni+bigrams, ``n_grams``
    = the gram count. Positive weight = the doc looks more like the
    target domain than the raw pool — the deterministic selection rule
    (the paper adds Gumbel noise for a stochastic sample; a salted
    :func:`hash_sample` on top reproduces that without RNG state).

    One explode scan + a broadcast join against the ``n_buckets``-row
    table + one groupBy(id) — the lang-ID shape; nothing here grows
    faster than the corpus. Docs with no grams (empty text) emit no
    row, mirroring the SQL twin. Pass ``grams`` (a persisted
    :func:`dsir_gram_buckets` frame) to reuse the fit's explode."""
    if grams is None:
        grams = _gram_buckets(df, text_col, id_col, n_buckets)
    return (grams.select("id", "bucket").join(F.broadcast(logratio), "bucket")
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("n_grams"),
                 F.sum("logratio_micro").alias("weight_micro")))


def SQL_DSIR_WEIGHTS(raw_table: str, target_where: str,
                     text_col: str = "text", id_col: str = "doc_id",
                     n_buckets: int = DSIR_BUCKETS) -> str:
    """DuckDB twin of :func:`dsir_logratio_table` +
    :func:`dsir_weights` over ``raw_table`` (the raw pool is the whole
    table; the target domain is ``WHERE target_where``). Same hash,
    same smoothing, same micro-scaled integer sums; bigrams come off a
    lead() window over in-doc token positions — equivalent to the
    array construction because normalized text has no empty interior
    tokens. Returns (id, n_grams, weight_micro)."""
    norm = SQL_NORMALIZE.format(x=f"coalesce({text_col}, '')")
    bucket = SQL_HASH32.format(x="gram")
    return f"""
WITH toks AS (
  SELECT id, pos, tok FROM (
    SELECT {id_col} AS id,
           unnest(string_split({norm}, ' ')) AS tok,
           unnest(range(1, len(string_split({norm}, ' ')) + 1)) AS pos
    FROM {raw_table}
  ) WHERE tok <> ''
),
grams AS (
  SELECT id, tok AS gram FROM toks
  UNION ALL
  SELECT id, gram FROM (
    SELECT id, tok || ' ' || lead(tok) OVER (PARTITION BY id ORDER BY pos)
           AS gram
    FROM toks
  ) WHERE gram IS NOT NULL
),
gb AS (SELECT id, ({bucket} % {n_buckets}) AS bucket FROM grams),
tgt_ids AS (SELECT {id_col} AS id FROM {raw_table} WHERE {target_where}),
tcnt AS (SELECT bucket, count(*)::BIGINT AS n FROM gb
         SEMI JOIN tgt_ids USING (id) GROUP BY bucket),
rcnt AS (SELECT bucket, count(*)::BIGINT AS n FROM gb GROUP BY bucket),
spine AS (SELECT unnest(range({n_buckets})) AS bucket),
ratio AS (
  SELECT s.bucket,
         round((ln((coalesce(t.n, 0) + 1)::DOUBLE
                   / ((SELECT coalesce(sum(n), 0) FROM tcnt) + {n_buckets}))
              - ln((coalesce(r.n, 0) + 1)::DOUBLE
                   / ((SELECT coalesce(sum(n), 0) FROM rcnt) + {n_buckets})))
               * 1e6)::BIGINT AS logratio_micro
  FROM spine s
  LEFT JOIN tcnt t ON s.bucket = t.bucket
  LEFT JOIN rcnt r ON s.bucket = r.bucket
)
SELECT g.id, count(*)::BIGINT AS n_grams,
       sum(x.logratio_micro)::BIGINT AS weight_micro
FROM gb g JOIN ratio x ON g.bucket = x.bucket
GROUP BY g.id
"""


# ---------------------------------------------------------------------------
# SM8: deterministic weighted sampling without replacement (E-S A-Res)
# ---------------------------------------------------------------------------

def weighted_hash_topk(df: DataFrame, weight_col: str, k: int,
                       key_col: str, salt: str = "",
                       group_col: Optional[str] = None) -> DataFrame:
    """Weighted random sample of ``k`` rows WITHOUT replacement, with
    no RNG state: Efraimidis-Spirakis A-Res keys ``r = ln(u) / w``
    with the uniform ``u`` derived from the salted content hash
    (``(hash32+1) / 2^32`` in (0, 1]); the k largest r win — the
    inclusion law equals sequential weighted draws without
    replacement, so inclusion probability rises with ``w`` and
    ``salt`` indexes independent samples. Rows with NULL or
    non-positive weight are excluded (they can never win a weighted
    draw).

    This is the deterministic materialization of stochastic
    importance RESAMPLING: feed it ``w = exp(beta *
    weight_micro/1e6)`` from :func:`dsir_weights` and ``k`` docs come
    back Gumbel-top-k-distributed toward the target domain, exactly
    reproducibly.

    Scale shape: global top-k compiles to TakeOrderedAndProject
    (per-partition heads, no full sort shuffle); per-``group_col``
    top-k is a ``row_number() <= k`` window that Spark plans with a
    partial ``WindowGroupLimit`` below the window's exchange, so each
    scan partition keeps k rows per group and the exchange moves
    ~n_partitions·k rows per group instead of the group's full
    membership — at 100 TB with a handful of giant language groups
    the one-stage window is a per-group global sort. The partial
    limit applies only for k up to
    ``spark.sql.optimizer.windowGroupLimitThreshold`` (default
    1000); above it the window shuffles whole groups. No engine
    caller passes such a k."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    u = ((_bucket(F.col(key_col), salt, 1 << 32) + 1).cast("double")
         / float(1 << 32))
    w = F.col(weight_col).cast("double")
    keyed = (df.filter(w.isNotNull() & (w > 0))
             .withColumn("__r", F.log(u) / w))
    if group_col is None:
        return (keyed.orderBy(F.col("__r").desc(), F.col(key_col).asc())
                .limit(k).drop("__r"))
    win = Window.partitionBy(group_col).orderBy(
        F.col("__r").desc(), F.col(key_col).asc())
    return (keyed.withColumn("__rk", F.row_number().over(win))
            .filter(F.col("__rk") <= k).drop("__r", "__rk"))


def _validate_unimax(budget_tokens: int, max_epochs: int) -> None:
    if budget_tokens < 0:
        raise ValueError(f"budget_tokens must be >= 0, got {budget_tokens}")
    if not isinstance(max_epochs, int) or max_epochs <= 0:
        raise ValueError(
            f"max_epochs must be a positive int (exact integer caps keep "
            f"the allocation engine-exact), got {max_epochs!r}")


def unimax_epochs(token_counts: Mapping[str, int], budget_tokens: int,
                  max_epochs: int) -> dict:
    """The UniMax waterfill closed form on a per-stratum token-count
    dict — the pure-arithmetic core of :func:`unimax_allocation`,
    exposed so consumers that ALREADY hold the counts (the data-card
    census, a mixing report) can derive the allocation without
    another corpus scan. Returns ``{stratum: epochs}`` (<= max_epochs,
    empty when no stratum has tokens); exact integer prefix
    arithmetic, one IEEE division for the equal share — identical to
    what the operator compiles into its scan and what
    :func:`SQL_UNIMAX_COPIES` recomputes in SQL."""
    _validate_unimax(budget_tokens, max_epochs)
    toks = {g: int(n) for g, n in token_counts.items()
            if g is not None and n}
    if not toks:
        return {}
    order = sorted(toks.items(), key=lambda kv: (kv[1] * max_epochs,
                                                 str(kv[0])))
    big_l, budget = len(order), int(budget_tokens)
    csum = k = csum_k = 0
    for i, (_, n) in enumerate(order, 1):
        cap = n * max_epochs
        csum += cap
        if cap * (big_l - i) + csum <= budget:
            k, csum_k = i, csum
        else:
            break  # condition is monotone in i — the prefix ends here
    t = (budget - csum_k) / (big_l - k) if k < big_l else 0.0
    epochs: dict = {}
    for i, (g, n) in enumerate(order, 1):
        alloc = float(n * max_epochs) if i <= k else t
        epochs[g] = alloc / n
    return epochs


def unimax_allocation(df: DataFrame, budget_tokens: int, max_epochs: int,
                      strata_col: str = "lang", text_col: str = "text",
                      key_col: str = "doc_id", salt: str = "unimax",
                      mod: int = DEFAULT_MOD,
                      token_counts: Optional[Mapping[str, int]] = None,
                      ) -> DataFrame:
    """UniMax language sampling (Chung et al. 2023, "UniMax: Fairer and
    More Effective Language Sampling for Large-Scale Multilingual
    Pretraining"): spread a total token budget across languages as
    uniformly as possible while capping every language at
    ``max_epochs`` passes over its data. Small languages keep their
    full (epoch-capped) corpus; the rest of the budget splits EQUALLY
    among the others — one interpretable knob (the epoch cap) instead
    of temperature sampling's tuned alpha, and no language is ever
    repeated past the cap where memorization outpaces transfer.

    The paper's allocation walks languages smallest-first, granting
    ``min(cap_g, remaining / langs_left)``. Ascending caps make the
    saturated languages a PREFIX of that order, and the equal share is
    invariant once a language stops saturating (granting ``B_i/r_i``
    leaves ``B_{i+1}/r_{i+1}`` unchanged), so the loop collapses to a
    closed form this implementation computes exactly: sort languages
    by ``cap = toks_g * max_epochs`` ascending (id tie-break), take
    the longest prefix k with ``cap_i*(L-i) + cumsum_i <= B`` in
    EXACT integer arithmetic (the condition is monotone — the
    increment is ``(L-i)*(cap_{i+1}-cap_i) >= 0``), and give every
    later language the equal share ``t = (B - cumsum_k)/(L-k)``.

    Per-document output ``(key, strata, epochs, n_copies)``:
    ``epochs = alloc_g / toks_g`` (the language's pass count over its
    data, <= max_epochs) and ``n_copies`` the document's multiplicity
    in the mixed corpus — ``floor(epochs)`` full passes plus one more
    when the document's deterministic content hash falls under the
    fractional-epoch share. The fractional draw reuses the module's
    md5 bucket primitive, so the full multiplicity VECTOR (not just
    per-language totals) is reproducible across runs, engines and
    partitionings, and exactly oracle-checkable
    (:func:`SQL_UNIMAX_COPIES`).

    Scale shape: one tiny per-language token-sum aggregate (collected
    to the driver — language cardinality is small), then one
    shuffle-free projection scan; the standard sampling shape. The
    prefix arithmetic runs in Python ints (no overflow); the SQL twin
    runs it in BIGINT, whose ``cap*(L-i)+cumsum`` bound stays inside
    int64 up to ~1e14 tokens x 4 epochs x 10k languages.
    """
    _validate_unimax(budget_tokens, max_epochs)
    if token_counts is None:
        rows = (df.filter(F.col(strata_col).isNotNull())
                .groupBy(strata_col)
                .agg(F.sum(F.size(F.split(normalize_text(F.col(text_col)),
                                          " ")).cast("long")).alias("n"))
                .collect())
        token_counts = {r[strata_col]: r["n"] for r in rows}
    epochs = unimax_epochs(token_counts, budget_tokens, max_epochs)
    if not epochs:
        return df.filter(F.lit(False)).select(
            F.col(key_col), F.col(strata_col),
            F.lit(0.0).alias("epochs"),
            F.lit(0).cast("long").alias("n_copies"))
    # compile the per-language plan into CASE literals (the
    # stratified_hash_sample convention): floor/threshold math happens
    # ONCE here on the same IEEE doubles the SQL twin derives, so the
    # projection scan is pure codegen expressions
    ep_col: Column = F.lit(0.0)
    nf_col: Column = F.lit(0).cast("long")
    th_col: Column = F.lit(0)
    for g in sorted(epochs, key=str):
        e = epochs[g]
        nfull = int(math.floor(e))
        thr = int(math.floor((e - nfull) * mod))
        ep_col = F.when(F.col(strata_col) == g, F.lit(e)).otherwise(ep_col)
        nf_col = F.when(F.col(strata_col) == g,
                        F.lit(nfull).cast("long")).otherwise(nf_col)
        th_col = F.when(F.col(strata_col) == g, F.lit(thr)).otherwise(th_col)
    return (df.filter(F.col(strata_col).isin(list(epochs)))
            .select(F.col(key_col), F.col(strata_col),
                    F.round(ep_col, 6).alias("epochs"),
                    (nf_col + F.when(
                        _bucket(F.col(key_col), salt, mod) < th_col,
                        F.lit(1)).otherwise(F.lit(0))).cast("long")
                    .alias("n_copies")))


def SQL_UNIMAX_COPIES(table: str, budget_tokens: int, max_epochs: int,
                      strata: str = "lang", text: str = "text",
                      key: str = "doc_id", salt: str = "unimax",
                      mod: int = DEFAULT_MOD) -> str:
    """DuckDB twin of :func:`unimax_allocation` — the waterfill prefix
    in BIGINT window arithmetic, the equal share and per-doc
    fractional-epoch draw with the same IEEE operations in the same
    order, so rows, epochs AND multiplicities are engine-exact."""
    ntoks = f"len(string_split({SQL_NORMALIZE.format(x=text)}, ' '))"
    bucket = SQL_BUCKET(key, salt, mod)
    return f"""
WITH toks AS (
  SELECT {strata} AS g, sum(({ntoks})::BIGINT) AS n
  FROM {table} WHERE {strata} IS NOT NULL
  GROUP BY {strata} HAVING sum(({ntoks})::BIGINT) > 0
),
ord AS (
  SELECT g, n, n * {max_epochs} AS cap,
         row_number() OVER (ORDER BY n * {max_epochs}, g) AS i,
         sum(n * {max_epochs}) OVER (
             ORDER BY n * {max_epochs}, g
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS csum,
         count(*) OVER () AS l
  FROM toks
),
pfx AS (
  SELECT coalesce(max(i), 0) AS k, coalesce(max(csum), 0) AS csum_k
  FROM ord WHERE cap * (l - i) + csum <= {budget_tokens}
),
eps AS (
  SELECT o.g,
         CASE WHEN o.i <= p.k THEN o.cap::DOUBLE / o.n
              ELSE (({budget_tokens} - p.csum_k)::DOUBLE
                    / nullif(o.l - p.k, 0)) / o.n
         END AS epochs
  FROM ord o CROSS JOIN pfx p
)
SELECT d.{key} AS {key}, d.{strata} AS {strata},
       round(e.epochs, 6) AS epochs,
       (floor(e.epochs)::BIGINT
        + CASE WHEN {bucket} < floor((e.epochs - floor(e.epochs)) * {mod})
               THEN 1 ELSE 0 END) AS n_copies
FROM {table} d JOIN eps e ON d.{strata} = e.g
"""


def shuffle_order(df: DataFrame, key_col: str = "doc_id",
                  salt: str = "shuffle", epoch: int = 0,
                  n_buckets: int = 1024,
                  mod: int = DEFAULT_MOD) -> DataFrame:
    """Deterministic global training order — the tokenize-and-shuffle
    stage every LLM data pipeline ends with: examples must reach the
    trainer in a shuffled order that is REPRODUCIBLE (re-runs, other
    engines, elastic restarts all see the same sequence) and cheap to
    compute at corpus scale. The order key is the salted content hash
    (``hash(key || salt || epoch)``), so each ``epoch`` value is an
    independent permutation of the same corpus with no RNG state.

    Returns ``(key, epoch, bucket, rank)`` with ``rank`` the 0-based
    GLOBAL position in the shuffled order. A single window over the
    whole corpus would compute it in one partition; instead the rank
    is assembled scalably in two phases: hash-RANGE buckets
    (``bucket = h * n_buckets / mod`` in exact integer arithmetic —
    monotone in ``h``, so per-bucket order concatenates to the global
    order), per-bucket counts -> cumulative offsets on the
    |n_buckets|-row aggregate, broadcast back, plus an intra-bucket
    row_number. One narrow shuffle on the bucket key + one tiny
    aggregate; per-bucket window memory is corpus/n_buckets rows —
    size ``n_buckets`` so a bucket fits an executor (65k buckets at
    100 TB keeps buckets ~1.5 GB).

    Engine-exact: rank equals DuckDB's
    ``row_number() OVER (ORDER BY h, key) - 1``
    (:func:`SQL_SHUFFLE_ORDER`), hash ties broken by key."""
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    if epoch < 0:
        raise ValueError(f"epoch must be >= 0, got {epoch}")
    h = _bucket(F.col(key_col), f"{salt}e{epoch}", mod)
    base = df.select(F.col(key_col), h.alias("__h"),
                     ((h * n_buckets) / mod).cast("long")
                     .alias("bucket"))
    counts = base.groupBy("bucket").agg(F.count(F.lit(1)).alias("__n"))
    w_off = (Window.orderBy("bucket")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = counts.select(
        "bucket", F.coalesce(F.sum("__n").over(w_off), F.lit(0))
        .alias("__off"))
    w_in = Window.partitionBy("bucket").orderBy(F.col("__h").asc(),
                                                F.col(key_col).asc())
    return (base.join(F.broadcast(offsets), "bucket")
            .select(F.col(key_col), F.lit(epoch).alias("epoch"),
                    F.col("bucket"),
                    (F.col("__off") + F.row_number().over(w_in) - 1)
                    .cast("long").alias("rank")))


def SQL_SHUFFLE_ORDER(table: str, key: str = "doc_id",
                      salt: str = "shuffle", epoch: int = 0,
                      n_buckets: int = 1024,
                      mod: int = DEFAULT_MOD) -> str:
    """DuckDB twin of :func:`shuffle_order` — the single global
    row_number the engine's two-phase offsets+window assembly must
    reproduce exactly."""
    h = SQL_BUCKET(key, f"{salt}e{epoch}", mod)
    return f"""
SELECT {key}, {epoch} AS epoch,
       (({h}) * {n_buckets}) // {mod} AS bucket,
       row_number() OVER (ORDER BY {h}, {key}) - 1 AS rank
FROM {table}
"""
