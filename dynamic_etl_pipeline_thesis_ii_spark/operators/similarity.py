"""Similarity search over embedding columns (``array<float>``).

Training-data-pipeline extension (not in the reference): brute-force
cosine top-k as the exact baseline, and a sign-bit LSH bucketed variant
as the scale path (the bucketing hyperplanes are the first ``b``
coordinate axes — a deterministic, engine-portable random-hyperplane
LSH). All dot products are JVM-side ``zip_with``/``aggregate`` — no
Python in the hot path.

Scale notes: brute-force is O(|Q|·|C|) — fine for small query sets
against bucketed candidates; the LSH variant shuffles once on the
bucket id, so each query only scans its own bucket (~|C|/2^b rows).
For 100 TB embeddings stores, raise ``b`` and add multi-probe by
flipping low-margin bits.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dynamic_etl_pipeline_thesis_ii_spark.scope import cache_scope, persist_scoped


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def l2norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


def cosine_prenormed(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine with per-vector norms precomputed BEFORE the pair join:
    the higher-order-function passes are interpreted per element, so
    evaluating each vector's norm once per VECTOR instead of once per
    PAIR drops 2 of the 3 array passes from the per-pair hot path
    (same arithmetic, bit-identical result)."""
    return dot(a, b) / (na * nb)


def _lloyd_numpy(X, k: int, iters: int = 20):
    """Deterministic driver-side Lloyd over a bounded training sample
    (the :func:`pq_train` discipline, applied to the coarse
    quantizer): maximin (farthest-point) init — the first point in
    lexicographic order seeds, each next center is the sample point
    farthest from its nearest chosen center (deterministic, and
    unlike evenly-spaced-in-sort-order it cannot seed two centers
    inside one dense cluster and merge blobs) — then Lloyd with one
    BLAS GEMM per iteration; empty clusters keep their previous
    center. Cost is sample·k·d per iteration (init is one extra
    Lloyd-iteration equivalent) — independent of the corpus size."""
    import numpy as np

    order = np.lexsort(X.T[::-1])
    cent = np.empty((k, X.shape[1]), dtype=X.dtype)
    cent[0] = X[order[0]]
    # expanded ||x-c||^2 = ||x||^2 - 2 x·c + ||c||^2 per init step:
    # one GEMV instead of materializing an (n, d) difference temp per
    # center — the init is k such passes and was half the fit cost at
    # large k
    xn = (X * X).sum(axis=1)
    d2min = xn - 2.0 * (X @ cent[0]) + (cent[0] * cent[0]).sum()
    for j in range(1, k):
        cent[j] = X[d2min.argmax()]
        d2min = np.minimum(
            d2min, xn - 2.0 * (X @ cent[j])
            + (cent[j] * cent[j]).sum())
    for _ in range(iters):
        # ||x||^2 constant per row — can't change the argmin, skip it
        d2 = (cent * cent).sum(axis=1)[None, :] - 2.0 * (X @ cent.T)
        assign = d2.argmin(axis=1)
        # vectorized mean update: a per-cluster boolean-mask loop is
        # O(k·n·d) and dominated the fit at large k (measured 2.2 s
        # at k=256/n=16k — the superlinear term in the cluster scale
        # probe); scatter-add + bincount is O(n·d), independent of k
        sums = np.zeros_like(cent)
        np.add.at(sums, assign, X)
        counts = np.bincount(assign, minlength=k)
        nonempty = counts > 0
        cent[nonempty] = (sums[nonempty]
                          / counts[nonempty, None].astype(X.dtype))
    return cent


def ivf_build(candidates: DataFrame, n_clusters: int = 16, seed: int = 42,
              c_vec: str = "c_vec", max_fit_per_cluster: int = 64,
              max_fit_vectors: int = 262_144) -> tuple[DataFrame, DataFrame]:
    """Build the IVF index ONCE: k-means coarse quantizer over the
    candidate set. Returns ``(centers, bucketed)`` — a tiny
    (__cluster, __center) frame and the candidate frame with its
    assigned ``__cluster`` and precomputed ``__cn`` norm. Both are
    plain DataFrames: write them to parquet and reload for later query
    batches instead of refitting (index build is the expensive step at
    100 TB; searches should amortize it).

    Scale shape (the r11 carve-out, closed): consumers hold cluster
    SIZE roughly constant (``derive_n_clusters`` sets k ∝ n/2000), so
    an unbounded distributed fit is O(n·k·d) = O(n²·d/2000) per Lloyd
    iteration — quadratic in the corpus, probe-confirmed superlinear.
    The fit is therefore TRAINED on a bounded sample of
    ``min(n, max_fit_per_cluster·k, max_fit_vectors)`` vectors (the
    faiss convention — it, too, trains its quantizers on a sample):

    - ``n <= cap``: the full-corpus ``pyspark.ml`` KMeans fit, exactly
      as before (bit-identical to the unbounded behavior);
    - ``n > cap``: the sample is drawn by a content-hash threshold
      (``pmod(hash(vec, seed), 1e6)`` — one narrow filter, no sort/
      shuffle; reproducible across runs, partitionings and cluster
      sizes, independent draws per ``seed``), landed on the driver
      via Arrow ``toPandas`` (≤ max_fit_vectors·d doubles of REAL
      footprint — numpy buffers, not boxed Row floats; index-build
      metadata, the :func:`pq_train` precedent) and fit with
      :func:`_lloyd_numpy`;
      the FULL corpus is then assigned in ONE narrow Arrow pass via
      the :func:`ivfpq_assign` broadcast-GEMM kernel (same squared-L2
      argmin KMeans assigns by). No iteration ever scans the corpus,
      so index build is one filter + one assignment pass — linear.

    ``max_fit_per_cluster=64`` keeps the sample above faiss's 39-
    points-per-centroid training floor; ``max_fit_vectors`` bounds
    driver memory when k itself is huge (2^18 × d=64 doubles ≈ 128 MB
    — raise it on a fat driver if k·64 exceeds it, or accept the
    gracefully-degraded per-cluster sample). Pass
    ``max_fit_per_cluster=0`` to force the full-corpus fit."""
    cap = (min(max_fit_per_cluster * n_clusters,
               max_fit_vectors or float("inf"))
           if max_fit_per_cluster else float("inf"))
    if cap != float("inf"):
        # keep the expected sample meaningfully above k even when a
        # small max_fit_vectors collides with a huge n_clusters —
        # ~1 point/cluster would be a degenerate fit, not a bounded one
        cap = max(cap, 4 * n_clusters)
    n = candidates.count() if cap != float("inf") else 0
    spark = candidates.sparkSession

    if n > max(cap, n_clusters):
        import numpy as np

        # 31-bit modulus: a 10^6 modulus underflows the threshold to
        # 0 (empty sample -> silent fall-through to the quadratic
        # full fit) once n > cap*10^6; 2^31 pushes that past 10^14
        # vectors, and the max(1, ...) keeps the draw non-empty even
        # there (expected size then degrades toward n/2^31 ~ cap/2)
        mod = 1 << 31
        # Arrow toPandas, NOT collect(): Row objects wrap each vector
        # as a Python list of boxed floats (~10-20x the raw doubles —
        # 262,144 x d=64 would be gigabytes of driver heap, not the
        # ~128 MB the cap prices). Arrow lands the sample as numpy
        # buffers, so driver cost is ~max_fit_vectors*d*8 bytes plus
        # small constant overhead.
        sample = (candidates
                  .filter(F.pmod(F.hash(F.col(c_vec), F.lit(seed)),
                                 F.lit(mod))
                          < max(1, int(cap / n * mod)))
                  .select(F.col(c_vec).cast("array<double>").alias("v"))
                  .toPandas())
        if len(sample) >= n_clusters:
            X = np.stack(sample["v"].to_numpy()).astype(np.float64,
                                                        copy=False)
            # collect order follows partitioning — lexsort the sample
            # so float summation order (hence the centers) is
            # bit-stable across layouts of the same content
            X = X[np.lexsort(X.T[::-1])]
            cent = _lloyd_numpy(X, n_clusters)
            centers_df = spark.createDataFrame(
                [(i, [float(x) for x in c]) for i, c in enumerate(cent)],
                ["__cluster", "__center"])
            bucketed = (ivfpq_assign(candidates, centers_df,
                                     vec_col=c_vec)
                        .withColumn("__cn", l2norm(
                            F.col(c_vec).cast("array<double>"))))
            return centers_df, bucketed
        if n > 16 * cap:
            # a short draw on a HUGE corpus means the sampling is
            # misconfigured (e.g. max_fit_vectors << k) — falling
            # through would silently run the O(n²·d) full fit the
            # bound exists to prevent
            raise ValueError(
                f"ivf_build sample drew {len(sample)} < k={n_clusters}"
                f" vectors from n={n} (cap={int(cap)}); raise "
                f"max_fit_vectors/max_fit_per_cluster instead of "
                f"falling back to the full-corpus fit")
        # short draw on a smallish corpus (n <= 16*cap): the full
        # distributed fit is affordable — fall through

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    cand_ml = candidates.withColumn(
        "__features", array_to_vector(F.col(c_vec).cast("array<double>")))
    km = KMeans(k=n_clusters, seed=seed, featuresCol="__features",
                predictionCol="__cluster")
    model = km.fit(cand_ml)
    bucketed = (model.transform(cand_ml).drop("__features")
                .withColumn("__cn",
                            l2norm(F.col(c_vec).cast("array<double>"))))
    centers = model.clusterCenters()
    centers_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
        ["__cluster", "__center"])
    return centers_df, bucketed


def ivf_search(centers_df: DataFrame, bucketed: DataFrame,
               queries: DataFrame, k: int, n_probe: int = 2,
               q_id: str = "q_id", c_id: str = "c_id",
               q_vec: str = "q_vec", c_vec: str = "c_vec") -> DataFrame:
    """Search a prebuilt IVF index (:func:`ivf_build`, possibly
    round-tripped through parquet): each query scans only its
    ``n_probe`` nearest clusters (~n_probe/n_clusters of the corpus) —
    a broadcast of the tiny query->cluster probe list against the
    cluster-bucketed candidates; at 100 TB the clusters are the
    partitioning, so a probe touches only its own partitions. The rank
    window's partial ``WindowGroupLimit`` cuts each scan partition to
    k rows per query before the exchange."""
    q_scored = (queries.crossJoin(F.broadcast(centers_df))
                .withColumn("__cdist", cosine(
                    F.col(q_vec).cast("array<double>"),
                    F.col("__center").cast("array<double>"))))
    wq = Window.partitionBy(q_id).orderBy(F.col("__cdist").desc(),
                                          F.col("__cluster"))
    probes = (q_scored.withColumn("__pr", F.row_number().over(wq))
              .filter(F.col("__pr") <= n_probe)
              .withColumn("__qn", l2norm(F.col(q_vec).cast("array<double>")))
              .select(q_id, q_vec, "__qn", "__cluster"))

    joined = probes.join(bucketed, "__cluster")
    scored = joined.select(
        F.col(q_id), F.col(c_id),
        F.round(cosine_prenormed(
            F.col(q_vec).cast("array<double>"),
            F.col(c_vec).cast("array<double>"),
            F.col("__qn"), F.col("__cn")), 6).alias("cos"))
    w = Window.partitionBy(q_id).orderBy(F.col("cos").desc(), F.col(c_id).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(q_id, c_id, "cos", "rank"))


def ivf_topk(queries: DataFrame, candidates: DataFrame, k: int,
             n_clusters: int = 16, n_probe: int = 2, seed: int = 42,
             q_id: str = "q_id", c_id: str = "c_id",
             q_vec: str = "q_vec", c_vec: str = "c_vec") -> DataFrame:
    """One-shot IVF ANN: :func:`ivf_build` + :func:`ivf_search`.
    Approximate: recall depends on n_probe (tested >= 0.9 @ n_probe=2,
    16 clusters on the synthetic embeddings). For repeated query
    batches, build once and call :func:`ivf_search` directly."""
    centers_df, bucketed = ivf_build(candidates, n_clusters, seed, c_vec)
    return ivf_search(centers_df, bucketed, queries, k, n_probe,
                      q_id, c_id, q_vec, c_vec)


def brute_force_topk(queries: DataFrame, candidates: DataFrame, k: int,
                     q_id: str = "q_id", c_id: str = "c_id",
                     q_vec: str = "q_vec", c_vec: str = "c_vec") -> DataFrame:
    """Exact top-k by cosine for each query vector. The candidate side
    streams through a broadcast of the (small) query set; ranking uses a
    window over rounded cosine (6dp) with id tie-break for determinism.
    Spark plans the ``row_number() <= k`` filter as a partial
    ``WindowGroupLimit`` below the window's exchange, so each scan
    partition keeps k rows per query and the rank window shuffles
    ~n_partitions·|Q|·k rows instead of the full |C|·|Q| product."""
    qn = queries.withColumn("__qn", l2norm(F.col(q_vec).cast("array<double>")))
    cn = candidates.withColumn("__cn", l2norm(F.col(c_vec).cast("array<double>")))
    joined = cn.crossJoin(F.broadcast(qn))
    scored = joined.select(
        F.col(q_id), F.col(c_id),
        F.round(cosine_prenormed(
            F.col(q_vec).cast("array<double>"),
            F.col(c_vec).cast("array<double>"),
            F.col("__qn"), F.col("__cn")), 6).alias("cos"))
    w = Window.partitionBy(q_id).orderBy(F.col("cos").desc(), F.col(c_id).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(q_id, c_id, "cos", "rank"))


def sign_bucket(vec: Column, bits: int = 8) -> Column:
    """Sign-bit LSH bucket: bit d = 1 iff vec[d] >= 0, d < bits."""
    out = F.lit(0)
    for d in range(bits):
        out = out + F.when(F.element_at(vec, d + 1) >= 0, F.lit(1 << d)).otherwise(0)
    return out


def lsh_topk(queries: DataFrame, candidates: DataFrame, k: int, bits: int = 6,
             q_id: str = "q_id", c_id: str = "c_id",
             q_vec: str = "q_vec", c_vec: str = "c_vec") -> DataFrame:
    """Approximate top-k: candidates pre-bucketed by sign-bit LSH; each
    query searches only its own bucket. One broadcast probe into the
    bucketed candidates instead of a cross product; the scored stream
    is cut to k rows per query by Spark's partial ``WindowGroupLimit``
    before the rank window's exchange (same two-stage shape as
    :func:`pq_topk`)."""
    qb = (queries.withColumn("bucket", sign_bucket(F.col(q_vec), bits))
          .withColumn("__qn", l2norm(F.col(q_vec).cast("array<double>"))))
    cb = (candidates.withColumn("bucket", sign_bucket(F.col(c_vec), bits))
          .withColumn("__cn", l2norm(F.col(c_vec).cast("array<double>"))))
    joined = cb.join(F.broadcast(qb), "bucket")
    scored = joined.select(
        F.col(q_id), F.col("bucket"), F.col(c_id),
        F.round(cosine_prenormed(
            F.col(q_vec).cast("array<double>"),
            F.col(c_vec).cast("array<double>"),
            F.col("__qn"), F.col("__cn")), 6).alias("cos"))
    w = Window.partitionBy(q_id).orderBy(F.col("cos").desc(), F.col(c_id).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(q_id, "bucket", c_id, "cos", "rank"))


def lsh_topk_multiprobe(queries: DataFrame, candidates: DataFrame, k: int,
                        bits: int = 8, probe_dims: int = 3,
                        q_id: str = "q_id", c_id: str = "c_id",
                        q_vec: str = "q_vec", c_vec: str = "c_vec") -> DataFrame:
    """Multi-probe sign-bit LSH top-k (perturbation-set style): each
    query searches its own bucket plus every bucket reachable by
    flipping any subset of its ``probe_dims`` lowest-margin sign bits —
    the dimensions where ``|q[d]|`` is smallest are exactly the bits a
    true near neighbor is most likely to disagree on, and real flips
    cluster there, so 2^probe_dims targeted probes recover what would
    otherwise need all C(bits, h) hamming-h buckets.

    Candidates stay bucketed ONCE (one shuffle, reusable across query
    batches); the probe list is 2^probe_dims rows per query, exploded
    and broadcast into the bucket join — the scan still touches only
    ~2^probe_dims/2^bits of the corpus. Each candidate lives in exactly
    one bucket, so probes never produce duplicate (query, candidate)
    pairs. The rank window's partial ``WindowGroupLimit`` keeps k rows
    per query and scan partition before the exchange."""
    cb = (candidates.withColumn("bucket", sign_bucket(F.col(c_vec), bits))
          .withColumn("__cn", l2norm(F.col(c_vec).cast("array<double>"))))
    base = (queries.withColumn("bucket", sign_bucket(F.col(q_vec), bits))
            .withColumn("__qn", l2norm(F.col(q_vec).cast("array<double>"))))
    # (margin, dim) pairs sorted ascending -> the probe_dims lowest-margin
    # dims; probe buckets XOR any subset of those sign bits
    margins = F.array(*[
        F.struct(F.abs(F.element_at(F.col(q_vec), d + 1)).cast("double").alias("m"),
                 F.lit(d).alias("d"))
        for d in range(bits)])
    lows = F.slice(F.array_sort(margins), 1, probe_dims)

    def bitval(j: int):  # 2^(dim of the j-th lowest margin)
        return F.pow(F.lit(2.0), F.element_at(lows, j + 1)["d"]).cast("int")

    probe_cols = []
    for mask in range(1 << probe_dims):
        x = F.col("bucket")
        for j in range(probe_dims):
            if mask & (1 << j):
                x = x.bitwiseXOR(bitval(j))
        probe_cols.append(x)
    qp = (base.withColumn("probe", F.explode(F.array_distinct(F.array(*probe_cols))))
          .select(q_id, q_vec, "__qn", F.col("probe").alias("bucket")))
    joined = cb.join(F.broadcast(qp), "bucket")
    scored = joined.select(
        F.col(q_id), F.col(c_id),
        F.round(cosine_prenormed(
            F.col(q_vec).cast("array<double>"),
            F.col(c_vec).cast("array<double>"),
            F.col("__qn"), F.col("__cn")), 6).alias("cos"))
    w = Window.partitionBy(q_id).orderBy(F.col("cos").desc(), F.col(c_id).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(q_id, c_id, "cos", "rank"))


def cosine_neardup_pairs(df: DataFrame, id_col: str = "vec_id",
                         vec_col: str = "embedding", threshold: float = 0.9,
                         bits: int = 6) -> DataFrame:
    """Embedding near-duplicate pairs: sign-bucket blocking, then exact
    cosine within buckets (id_a < id_b, cosine >= threshold)."""
    b = df.select(F.col(id_col).alias("id"),
                  F.col(vec_col).cast("array<double>").alias("v"),
                  sign_bucket(F.col(vec_col), bits).alias("bucket"),
                  l2norm(F.col(vec_col).cast("array<double>")).alias("n"))
    pairs = (b.alias("x").join(b.alias("y"),
                               (F.col("x.bucket") == F.col("y.bucket"))
                               & (F.col("x.id") < F.col("y.id")))
             .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"),
                     F.round(cosine_prenormed(
                         F.col("x.v"), F.col("y.v"),
                         F.col("x.n"), F.col("y.n")), 6).alias("cos")))
    return pairs.filter(F.col("cos") >= threshold)


# ---------------------------------------------------------------------------
# Product quantization (PQ): compressed codes + asymmetric-distance search
# ---------------------------------------------------------------------------
#
# The 100 TB memory story for similarity search: a 64-dim float vector
# is 256 bytes; its PQ code is m small ints. Candidates are encoded
# ONCE (one scan) and searches run against the CODES with a per-query
# lookup table (ADC, Jegou et al. 2011) — the full vectors never enter
# the search join. `pq_grid_codebooks` is a deterministic closed-form
# codebook (engine-portable, used by the oracle-checked query branch);
# `pq_train` learns a data-adapted one with per-subspace k-means
# (pytest-covered — k-means is iterative, not SQL-expressible).

def pq_grid_codebooks(dim: int, m: int = 4, k: int = 8,
                      lo: float = -0.5, hi: float = 0.5) -> list:
    """[m][k][dim/m] diagonal grid codebook: centroid j of every
    subspace is the constant vector lo + (j+0.5)*(hi-lo)/k."""
    if dim % m:
        raise ValueError(f"dim={dim} must be divisible by m={m}")
    dsub = dim // m
    vals = [lo + (j + 0.5) * (hi - lo) / k for j in range(k)]
    return [[[v] * dsub for v in vals] for _ in range(m)]


def _flit(x: float) -> str:
    """A float as a SQL double literal. repr() round-trips exactly for
    finite doubles; NaN/inf (a trained centroid inherits them from any
    NaN input vector through pq_train's mean) would render as nanD/infD
    and raise an opaque ParseException JVM-side — fail loudly here with
    the actual cause instead."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(
            f"non-finite codebook constant {x!r}: PQ centroids must be "
            f"finite (check the training vectors for NaN/inf components)")
    return f"{x!r}D"


def _subdist(sub: str, centroid: list[float]) -> str:
    """Squared L2 distance of a subvector to a literal centroid,
    rounded to 6 dp (the same cross-engine granularity the cosine
    oracles use) so argmin choices are engine-portable. Emits SQL
    text (see :func:`pq_codes` for why)."""
    cvec = "array(" + ", ".join(_flit(c) for c in centroid) + ")"
    return (f"round(aggregate(zip_with({sub}, {cvec}, "
            f"(x, y) -> (x - y) * (x - y)), 0.0D, (acc, x) -> acc + x), 6)")


def _pq_subspace(vec: str, codebooks: list, s: int, emit) -> str:
    """SQL text that folds subspace ``s`` of ``vec`` into
    ``emit(dists)``, where ``dists`` are the k centroid distances as
    SQL text. CONSTANT-vector centroids (the grid codebook) share the
    subvector's sum and sum of squares, via ||x - c·1||² = q - 2c·s +
    dsub·c²: ONE struct-accumulator ``aggregate`` folds (s, q) in a
    single pass and its finish lambda forms all k distances from those
    two scalars, so each subvector is read once per row whatever k
    is. The DuckDB twin uses the SAME formula and the same
    left-to-right folds, so the 6-dp-rounded doubles stay
    engine-identical (the constants are Python floats formatted with
    repr, which round-trips exactly). Trained (non-constant)
    codebooks take the general per-centroid pass."""
    dsub = len(codebooks[0][0])
    sub = f"slice({vec}, {s * dsub + 1}, {dsub})"
    if all(len(set(c)) == 1 for c in codebooks[s]):
        dists = [f"round(a.q - ({_flit(2.0 * c[0])}) * a.s "
                 f"+ ({_flit(dsub * c[0] * c[0])}), 6)"
                 for c in codebooks[s]]
        return (f"aggregate({sub}, named_struct('s', 0.0D, 'q', 0.0D), "
                f"(a, x) -> named_struct('s', a.s + x, 'q', a.q + x * x), "
                f"a -> {emit(dists)})")
    return emit([_subdist(sub, c) for c in codebooks[s]])


def _pq_expr(vec: str, codebooks: list, emit) -> Column:
    """``array(emit(subspace dists) for each subspace)`` as ONE SQL
    string parsed JVM-side in a single py4j round trip — the
    Column-method formulation made ~400 round trips per call (~0.5 s
    of driver latency per invocation, measured in r13 — the resolved
    trees are identical). A vector whose length is not m·dsub fails
    the query with both lengths named; slicing it would silently
    encode short or empty subspaces."""
    m, dsub = len(codebooks), len(codebooks[0][0])
    body = ", ".join(_pq_subspace(vec, codebooks, s, emit)
                     for s in range(m))
    return F.expr(
        f"CASE WHEN size({vec}) <> {m * dsub} THEN raise_error(concat("
        f"'PQ vector length ', cast(size({vec}) as string), ' does not "
        f"match the codebook dimension {m * dsub} (m={m} x dsub={dsub})'))"
        f" ELSE array({body}) END")


def _argmin(dists: list[str]) -> str:
    """Index of the smallest distance, lowest index on ties: the min
    of (distance, index) structs orders by distance, then index."""
    return ("array_min(array(" + ", ".join(
        f"named_struct('d', {d}, 'i', {j})" for j, d in enumerate(dists))
        + ")).i")


def pq_codes(vec: str, codebooks: list) -> Column:
    """array<int> of per-subspace nearest-centroid indexes (0-based;
    ties take the lowest index on every engine). ``vec`` is a SQL
    expression string (a column name or e.g. ``cast(v as
    array<double>)``); see :func:`_pq_expr`."""
    return _pq_expr(vec, codebooks, _argmin)


def pq_lut(qvec: str, codebooks: list) -> Column:
    """Per-query ADC lookup table: array<array<double>> of
    [m][k] subspace-to-centroid squared distances. ``qvec`` is a SQL
    expression string (see :func:`pq_codes`)."""
    return _pq_expr(qvec, codebooks,
                    lambda dists: "array(" + ", ".join(dists) + ")")


def pq_topk(queries: DataFrame, candidates: DataFrame, codebooks: list,
            k: int, q_id: str = "q_id", q_vec: str = "q_vec",
            c_id: str = "c_id", c_vec: str = "c_vec") -> DataFrame:
    """ADC top-k: candidates reduce to (id, codes) in one scan, the
    (small) query side broadcasts with its lookup tables, and the
    search join touches codes only. Output ``(q_id, c_id, adc, rank)``
    with adc = approximate squared L2 distance, rank ascending.

    Two-stage top-k: Spark plans the ``row_number() <= k`` filter as a
    partial ``WindowGroupLimit`` that keeps k rows per query WITHIN
    each scan partition, below the rank window's exchange, so the
    window shuffles ~n_partitions·|Q|·k rows instead of the full
    |C|·|Q| product — at 10⁹ candidates × 10³ queries the one-stage
    window would shuffle 10¹² rows for a top-10 answer. The whole
    search stays in the JVM. A NULL vector scores NULL and ranks
    last."""
    cand = candidates.select(
        F.col(c_id).alias("c_id"),
        pq_codes(f"cast(`{c_vec}` as array<double>)", codebooks)
        .alias("codes"))
    qs = queries.select(
        F.col(q_id).alias("q_id"),
        pq_lut(f"cast(`{q_vec}` as array<double>)", codebooks).alias("lut"))
    adc = F.round(F.aggregate(
        F.zip_with(F.col("lut"), F.col("codes"),
                   lambda l, c: F.element_at(l, c + 1)),
        F.lit(0.0), lambda acc, x: acc + x), 6)
    scored = (cand.join(F.broadcast(qs))
              .select("q_id", "c_id", adc.alias("adc")))
    w = Window.partitionBy("q_id").orderBy(F.col("adc").asc_nulls_last(),
                                           F.col("c_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def semantic_pairs(df: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding", threshold: float = 0.95,
                   n_clusters: int = 16, seed: int = 42,
                   bucketed: DataFrame | None = None) -> DataFrame:
    """SemDeDup candidate pairs (Abbas et al. 2023 §3): k-means the
    embedding space, then EXACT cosine within each cluster —
    ``(id_a, id_b, cos)`` with id_a < id_b and cos >= threshold.
    Cross-cluster duplicates are missed by design; that is the
    SemDeDup trade (the paper runs 50k clusters on LAION), so
    ``n_clusters`` must grow with the corpus — the pair join is
    per-cluster quadratic, sum(|cluster|²), never corpus-quadratic.
    Pass a prebuilt ``bucketed`` frame (:func:`ivf_build`'s second
    return, with ``__cluster``/``__cn``) to reuse one clustering
    across pairs + scores."""
    if bucketed is None:
        _, bucketed = ivf_build(
            df.select(F.col(id_col).alias("c_id"),
                      F.col(vec_col).alias("c_vec")), n_clusters, seed)
    b = bucketed.select(F.col("c_id").alias("id"),
                        F.col("c_vec").cast("array<double>").alias("v"),
                        "__cluster", F.col("__cn").alias("n"))
    return (b.alias("x").join(
        b.alias("y"),
        (F.col("x.__cluster") == F.col("y.__cluster"))
        & (F.col("x.id") < F.col("y.id")))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"),
                F.round(cosine_prenormed(F.col("x.v"), F.col("y.v"),
                                         F.col("x.n"), F.col("y.n")),
                        6).alias("cos"))
        .filter(F.col("cos") >= threshold))


def semantic_dedup(df: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding", threshold: float = 0.95,
                   n_clusters: int = 16, seed: int = 42,
                   keep: str = "far") -> DataFrame:
    """SemDeDup: drop all but one member of every semantic-duplicate
    group (connected components over :func:`semantic_pairs`).
    ``keep="far"`` keeps the group member FARTHEST from its k-means
    centroid — the paper's choice (the far member carries the most
    information the cluster doesn't already have); ``keep="min"``
    keeps the lowest id. Reuses the near-dup machinery end to end:
    star components + the quality-aware canonical keep
    (``dedup_by_components(score=)``), so the grouping scales exactly
    like text near-dup — cluster-bounded pair join, O(log n)
    component rounds, anti-join prune."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.dedup import (
        dedup_by_components,
    )

    if keep not in ("far", "min"):
        raise ValueError(f"keep must be 'far' or 'min', got {keep!r}")
    # the expensive step (KMeans FIT) happens once inside ivf_build;
    # the bucketed frame itself is a cheap lazy transform, re-scanned
    # by the pairs and score consumers without a persist
    centers_df, bucketed = ivf_build(
        df.select(F.col(id_col).alias("c_id"),
                  F.col(vec_col).alias("c_vec")), n_clusters, seed)
    pairs = semantic_pairs(df, id_col, vec_col, threshold,
                           n_clusters, seed, bucketed=bucketed)
    score = None
    if keep == "far":
        score = (bucketed.join(F.broadcast(centers_df), "__cluster")
                 .select(F.col("c_id").alias("id"),
                         (-F.round(cosine(
                             F.col("c_vec").cast("array<double>"),
                             F.col("__center").cast("array<double>")),
                             6)).alias("score")))
    return dedup_by_components(df, pairs, id_col=id_col, score=score)


def _sq_l2(a: Column, b: Column) -> Column:
    """Squared L2 distance of two equal-length double arrays."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0.0), lambda acc, x: acc + x)


def ivfpq_build(candidates: DataFrame, n_clusters: int = 16, m: int = 4,
                k: int = 8, seed: int = 42, c_id: str = "c_id",
                c_vec: str = "c_vec", sample: int = 10_000,
                iters: int = 10,
                rotation: list | None = None) -> tuple[DataFrame, list, DataFrame]:
    """Build an IVF-PQ index (the faiss IVFADC layout, Jegou et al.
    2011 §III): a KMeans coarse quantizer splits the corpus into
    ``n_clusters`` inverted lists, and per-subspace PQ codebooks are
    trained on the RESIDUALS (vec − assigned center) — residual
    magnitudes are far smaller than raw coordinates, so the same
    k·m codebook budget buys much finer quantization than raw-vector
    PQ. Returns ``(centers_df, codebooks, coded)`` where coded =
    (c_id, __cluster, codes) — at 100 TB this is the ONLY per-vector
    state a search touches (m small ints per vector instead of the
    full float array); write centers/coded to parquet, partitioned by
    ``__cluster``, and reload for later query batches.

    ``rotation`` (from :func:`opq_rotation`) builds the index in the
    OPQ-rotated space: the orthogonal R leaves every L2 distance —
    and therefore the IVF probe order and the exact rerank tier —
    unchanged, while the residual subspaces PQ quantizes become
    decorrelated, tightening ADC at the same code budget. Persist R
    beside the centers and pass the SAME value to
    :func:`ivfpq_search` (queries must live in the index's space)."""
    if rotation is not None:
        candidates = rotate_vectors(candidates, rotation, vec_col=c_vec)
    centers_df, bucketed = ivf_build(candidates, n_clusters, seed, c_vec)
    resid = (bucketed.join(F.broadcast(centers_df), "__cluster")
             .withColumn("__resid", F.zip_with(
                 F.col(c_vec).cast("array<double>"),
                 F.col("__center").cast("array<double>"),
                 lambda x, c: x - c)))
    books = pq_train(resid, vec_col="__resid", m=m, k=k,
                     sample=sample, iters=iters)
    coded = resid.select(F.col(c_id).alias("c_id"), "__cluster",
                         pq_codes("__resid", books).alias("codes"))
    return centers_df, books, coded


def ivfpq_search(centers_df: DataFrame, codebooks: list, coded: DataFrame,
                 queries: DataFrame, k: int, n_probe: int = 2,
                 rerank: int = 0, candidates: DataFrame | None = None,
                 q_id: str = "q_id", q_vec: str = "q_vec",
                 c_id: str = "c_id", c_vec: str = "c_vec",
                 rotation: list | None = None,
                 broadcast_queries: bool = True) -> DataFrame:
    """Search a prebuilt IVF-PQ index: each query ranks the coarse
    centers by SQUARED L2 (the metric ADC approximates — an IVF probe
    ranked by a different metric would probe the wrong lists), takes
    its ``n_probe`` nearest, and builds one residual lookup table per
    probed list from (q − center). The (|Q|·n_probe) probe frame
    joins into the codes scan, ADC-scores only the probed lists and
    ranks; the rank window's partial ``WindowGroupLimit`` keeps
    ``max(k, rerank)`` rows per query and scan partition before the
    exchange.
    Output ``(q_id, c_id, adc, rank)``.

    ``rerank=R`` (with ``candidates``) adds the standard exact
    re-rank tier: the ADC top-R per query joins back the TRUE vectors
    (R·|Q| rows — the only point full vectors re-enter) and re-ranks
    by exact squared L2; output ``(q_id, c_id, dist, rank)`` with
    dist exact. ADC compression error then affects only which R
    survive, not their final order.

    ``rotation`` must be the value the index was BUILT with: queries
    (and the rerank tier's true vectors) rotate into the index's
    space; exact distances are unchanged (orthogonal R).

    ``broadcast_queries`` picks the join strategy for every |Q|-sized
    frame (the probe LUTs, the rerank shortlist, the rerank query
    vectors). True — the default, right for interactive batches —
    broadcasts them; each LUT row is m·k doubles, so a corpus-sized
    query set (self-kNN) would ship |Q|·n_probe LUTs to every
    executor and OOM. False runs those joins as SHUFFLE joins keyed
    on ``__cluster``/``c_id``/``q_id`` — both sides exchange once,
    nothing materializes per executor, which is the 100-TB-safe shape
    when |Q| grows with the corpus. Same rows either way; only the
    physical plan changes."""
    _maybe_bc = F.broadcast if broadcast_queries else (lambda df: df)
    if rotation is not None:
        queries = rotate_vectors(queries, rotation, vec_col=q_vec)
        if candidates is not None:
            candidates = rotate_vectors(candidates, rotation,
                                        vec_col=c_vec)
    qd = F.col(q_vec).cast("array<double>")
    q_scored = (queries.crossJoin(F.broadcast(centers_df))
                .withColumn("__cdist", F.round(
                    _sq_l2(qd, F.col("__center").cast("array<double>")), 6)))
    wq = Window.partitionBy(q_id).orderBy(F.col("__cdist").asc(),
                                          F.col("__cluster"))
    probes = (q_scored.withColumn("__pr", F.row_number().over(wq))
              .filter(F.col("__pr") <= n_probe)
              .withColumn("__qres", F.zip_with(
                  qd, F.col("__center").cast("array<double>"),
                  lambda x, c: x - c))
              .select(F.col(q_id).alias("q_id"), "__cluster",
                      pq_lut("__qres", codebooks).alias("lut")))
    adc = F.round(F.aggregate(
        F.zip_with(F.col("lut"), F.col("codes"),
                   lambda l, c: F.element_at(l, c + 1)),
        F.lit(0.0), lambda acc, x: acc + x), 6)
    scored = (coded.join(_maybe_bc(probes), "__cluster")
              .select("q_id", "c_id", adc.alias("adc")))
    keep = max(k, rerank)
    w = Window.partitionBy("q_id").orderBy(F.col("adc").asc_nulls_last(),
                                           F.col("c_id").asc())
    ranked = (scored.withColumn("rank", F.row_number().over(w))
              .filter(F.col("rank") <= keep))
    if not rerank:
        return ranked
    if candidates is None:
        raise ValueError("rerank > 0 needs the candidates frame "
                         "(true vectors for the exact tier)")
    shortlist = (candidates.select(F.col(c_id).alias("c_id"),
                                   F.col(c_vec).cast("array<double>")
                                   .alias("__cv"))
                 .join(_maybe_bc(ranked.select("q_id", "c_id")), "c_id")
                 .join(_maybe_bc(queries.select(
                     F.col(q_id).alias("q_id"), qd.alias("__qv"))), "q_id")
                 .withColumn("dist", F.round(_sq_l2(F.col("__qv"),
                                                    F.col("__cv")), 6)))
    w2 = Window.partitionBy("q_id").orderBy(F.col("dist").asc(),
                                            F.col("c_id").asc())
    return (shortlist.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select("q_id", "c_id", "dist", "rank"))


def ivfpq_topk(queries: DataFrame, candidates: DataFrame, k: int,
               n_clusters: int = 16, m: int = 4, kk: int = 8,
               n_probe: int = 2, rerank: int = 0, seed: int = 42,
               q_id: str = "q_id", q_vec: str = "q_vec",
               c_id: str = "c_id", c_vec: str = "c_vec",
               opq: bool = False) -> DataFrame:
    """One-shot IVF-PQ ANN: :func:`ivfpq_build` + :func:`ivfpq_search`.
    For repeated query batches build once and search the persisted
    index instead. ``opq=True`` fits the parametric OPQ rotation
    (:func:`opq_rotation`) and threads it through build and search —
    same answers exactly on the rerank tier, tighter ADC on the
    approximate tier."""
    rotation = opq_rotation(
        candidates.select(F.col(c_vec).alias("embedding")),
        m=m) if opq else None
    centers_df, books, coded = ivfpq_build(candidates, n_clusters, m, kk,
                                           seed, c_id, c_vec,
                                           rotation=rotation)
    return ivfpq_search(centers_df, books, coded, queries, k, n_probe,
                        rerank, candidates, q_id, q_vec, c_id, c_vec,
                        rotation=rotation)


def pq_train(df: DataFrame, vec_col: str = "embedding", m: int = 4,
             k: int = 8, sample: int = 10_000, iters: int = 10) -> list:
    """Data-adapted PQ codebooks: per-subspace k-means on a driver-
    side sample (bounded by ``sample`` — the standard practice; faiss
    trains on samples too). Deterministic across partition layouts:
    the sample is the first ``sample`` rows in CONTENT-hash order (a
    bare ``limit`` would take whichever partitions answered first),
    and init takes evenly-spaced sorted points."""
    import numpy as np

    rows = (df.select(F.col(vec_col).cast("array<double>").alias("v"))
            .orderBy(F.md5(F.col("v").cast("string")))
            .limit(sample).collect())
    if len(rows) < k:
        raise ValueError(
            f"pq_train needs at least k={k} vectors, got {len(rows)}")
    X = np.array([r["v"] for r in rows])
    if X.shape[1] % m:
        raise ValueError(
            f"dim={X.shape[1]} must be divisible by m={m} — trailing "
            f"dimensions would silently drop out of every code")
    dsub = X.shape[1] // m
    books = []
    for s in range(m):
        sub = X[:, s * dsub:(s + 1) * dsub]
        order = np.lexsort(sub.T[::-1])
        init_idx = order[np.linspace(0, len(sub) - 1, k).astype(int)]
        cent = sub[init_idx].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(k):
                pts = sub[assign == j]
                if len(pts):
                    cent[j] = pts.mean(axis=0)
        books.append([list(map(float, c)) for c in cent])
    return books


def pq_reconstruction_mse(df: DataFrame, books: list,
                          vec_col: str = "embedding") -> float:
    """Mean squared PQ reconstruction error of a vector column under
    ``books`` — the quantization-quality number an OPQ rotation is
    judged by (Ge et al. 2013 report exactly this delta). One Arrow
    pass: each partition emits a scalar ``(n, sse)`` partial
    (per-subspace min distance to its codebook, summed), the driver
    sums scalars — no d² term, no per-row collect."""
    import numpy as np
    import pandas as pd

    m, dsub = len(books), len(books[0][0])
    B = [np.asarray(b, dtype=np.float64) for b in books]

    def kernel(batches):
        n, sse = 0, 0.0
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf.iloc[:, 0].to_numpy())
            for s in range(m):
                sub = X[:, s * dsub:(s + 1) * dsub]
                d2 = ((sub[:, None, :] - B[s][None, :, :]) ** 2).sum(axis=2)
                sse += float(d2.min(axis=1).sum())
            n += len(X)
        if n:
            yield pd.DataFrame({"n": [n], "sse": [sse]})

    parts = (df.select(F.col(vec_col).cast("array<double>"))
             .mapInPandas(kernel, schema="n long, sse double").collect())
    if not parts:
        raise ValueError("pq_reconstruction_mse: empty input")
    return sum(p["sse"] for p in parts) / sum(p["n"] for p in parts)


# ---------------------------------------------------------------------------
# N7: parametric OPQ — PCA rotation + eigenvalue allocation for PQ
# ---------------------------------------------------------------------------

_MOMENT_SCHEMA = "n long, s array<double>, g array<double>"


def _moment_sum_kernel(batches):
    """Fold (n, Σx, ΣxxT-flat) partial rows within a partition into at
    most one row — the combine step of the moments tree-reduce."""
    import numpy as np
    import pandas as pd

    n, s, g = 0, None, None
    for pdf in batches:
        for ni, si, gi in zip(pdf["n"], pdf["s"], pdf["g"]):
            n += int(ni)
            si, gi = np.asarray(si), np.asarray(gi)
            s = si if s is None else s + si
            g = gi if g is None else g + gi
    if s is not None:
        yield pd.DataFrame({"n": [n], "s": [s.tolist()],
                            "g": [g.tolist()]})


def moment_partials(df: DataFrame, vec_col: str = "embedding",
                    fanin: int = 64) -> DataFrame:
    """Distributed (n, Σx, ΣxxT) moments of an embedding column,
    folded to a SINGLE row before it ever reaches the driver: an
    Arrow kernel emits one partial row per batch, then a tree of
    partition-local sums (``coalesce(ceil(p/fanin))`` per level)
    combines them until one partition — and therefore exactly one
    row — remains. Each tree task touches at most ``fanin`` partial
    rows (~fanin × d² doubles), and the driver's collect is ONE row
    of d² doubles (~4.7 MB at d=768) no matter how many input
    partitions the scan produced — at 100 TB with tens of thousands
    of partitions, a flat per-partition collect would be 50+ GB on
    the driver; the tree keeps it constant."""
    import numpy as np
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf.iloc[:, 0].to_numpy())
            yield pd.DataFrame({
                "n": [len(X)],
                "s": [X.sum(axis=0).tolist()],
                "g": [(X.T @ X).ravel().tolist()]})

    part = (df.select(F.col(vec_col).cast("array<double>"))
            .mapInPandas(kernel, schema=_MOMENT_SCHEMA))
    # each level yields ≤1 row per coalesced partition; loop until the
    # whole tree has folded into a single partition
    p = max(1, df.rdd.getNumPartitions())
    while p > 1:
        p = -(-p // fanin)      # ceil
        part = part.coalesce(p).mapInPandas(_moment_sum_kernel,
                                            schema=_MOMENT_SCHEMA)
    return part


def corpus_moments(df: DataFrame, vec_col: str = "embedding"):
    """Moments of an embedding column via :func:`moment_partials`'
    tree-reduce — the driver collects exactly one (n, Σx, ΣxxT) row
    regardless of input partitioning. Returns ``(n, mean[d],
    cov[d][d])`` as numpy, covariance about the mean (population,
    ÷n)."""
    import numpy as np

    parts = moment_partials(df, vec_col).collect()
    if not parts:
        raise ValueError("corpus_moments: empty input")
    assert len(parts) == 1, "moments tree-reduce must yield one row"
    row = parts[0]
    n = row["n"]
    s = np.asarray(row["s"])
    d = len(s)
    g = np.asarray(row["g"]).reshape(d, d)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    return n, mean, cov


def opq_rotation(df: DataFrame, vec_col: str = "embedding",
                 m: int = 4) -> list:
    """Parametric OPQ rotation (Ge et al., "Optimized Product
    Quantization", CVPR 2013 — the closed-form variant): PCA the
    corpus covariance, then EIGENVALUE ALLOCATION assigns principal
    directions to the ``m`` PQ subspaces so each subspace carries a
    balanced share of the variance (greedy min-log-product — the
    paper's allocation rule). Rotating vectors by the returned R
    before :func:`pq_codes`/:func:`pq_train` decorrelates the
    subspaces PQ quantizes independently, cutting ADC quantization
    error on correlated (real) embeddings; R is ORTHOGONAL, so every
    L2 distance — and therefore the exact-rerank tier and the
    brute-force oracle — is unchanged.

    Scale: moments via :func:`corpus_moments` (one scan, tree-reduced
    to a single d²-double row on the driver), eigh on the driver
    (d ≤ a few thousand — trivial).
    Returns R as a row-major [d][d] list; apply with
    :func:`rotate_vectors`."""
    import numpy as np

    _, _, cov = corpus_moments(df, vec_col)
    evals, evecs = np.linalg.eigh(cov)          # ascending
    evals, evecs = evals[::-1], evecs[:, ::-1]  # descending variance
    d = len(evals)
    if d % m:
        raise ValueError(f"dim={d} must be divisible by m={m}")
    dsub = d // m
    # greedy allocation: next-largest eigenvalue goes to the non-full
    # subspace with the smallest current log-variance product
    buckets: list[list[int]] = [[] for _ in range(m)]
    logs = [0.0] * m
    for i in range(d):
        cands = [b for b in range(m) if len(buckets[b]) < dsub]
        b = min(cands, key=lambda j: (logs[j], j))
        buckets[b].append(i)
        logs[b] += float(np.log(max(evals[i], 1e-12)))
    order = [i for b in buckets for i in b]
    # rows of R are the allocated principal directions: y = R @ x
    # puts each subspace's directions contiguous for the PQ slicer.
    # Sign convention: flip each eigenvector so its largest-magnitude
    # entry is positive (eigh's signs are arbitrary — this pins R
    # across BLAS builds).
    R = evecs[:, order].T
    flip = np.sign(R[np.arange(d), np.abs(R).argmax(axis=1)])
    R = R * flip[:, None]
    return [[float(v) for v in row] for row in R]


def rotate_vectors(df: DataFrame, rotation: list,
                   vec_col: str = "embedding",
                   out_col: str | None = None) -> DataFrame:
    """Apply ``y = R @ x`` to an embedding column (Arrow-batched
    matmul — one numpy GEMM per batch, no per-row Python). Orthogonal
    R preserves every pairwise L2 distance exactly, so downstream
    exact tiers need no compensation."""
    import numpy as np
    import pandas as pd

    out_col = out_col or vec_col
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(
        np.asarray(rotation, dtype=np.float64))

    def _rot(s):
        X = np.stack(s.to_numpy())
        return pd.Series(list((X @ bc.value.T).tolist()))

    _rot.__annotations__ = {"s": pd.Series, "return": pd.Series}
    rot = F.pandas_udf(_rot, "array<double>")
    return df.withColumn(out_col,
                         rot(F.col(vec_col).cast("array<double>")))


def save_rotation(spark, rotation: list, path: str) -> None:
    """Persist an OPQ rotation beside the IVF-PQ index artifacts
    (centers/coded parquet): one row per matrix row — plain data, any
    reader reloads it. A search against a rotated index MUST use the
    same R (:func:`ivfpq_search`'s ``rotation=``), so it belongs in
    the index store, not the caller's memory."""
    spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(rotation)],
        "row_idx int, row array<double>") \
        .write.mode("overwrite").parquet(path)


def load_rotation(spark, path: str) -> list:
    rows = spark.read.parquet(path).orderBy("row_idx").collect()
    return [list(r["row"]) for r in rows]


# ---------------------------------------------------------------------------
# Incremental index maintenance: encode new vectors against a FROZEN
# IVF-PQ index (the epoch-N+1 story — mirrors the Bloom snapshot store
# in operators/dedup.py: crawl epoch N+1 ships ONLY its new vectors;
# the existing 100 TB of codes is never rescanned and the quantizers
# are never retrained)
# ---------------------------------------------------------------------------

def ivfpq_assign(vectors: DataFrame, centers_df: DataFrame,
                 vec_col: str = "c_vec") -> DataFrame:
    """Assign each vector to its nearest coarse center by SQUARED L2
    (the metric k-means itself assigns by, so assignment here matches
    ``KMeans.transform`` on the same centers; ties break to the lower
    ``__cluster`` id, numpy argmin's first-minimum scan order). The
    centers collect to the driver once (n_clusters × d doubles —
    index metadata, not data) and ship as a broadcast numpy matrix
    into an Arrow-batched kernel: one GEMM per batch computes every
    (vector, center) distance and argmins row-wise. The plan is
    NARROW — no join, no window, no shuffle; a crossJoin+row_number
    formulation would exchange n_rows × n_clusters rows keyed by a
    per-row id, which is exactly the shape that dies at 100 TB."""
    import numpy as np
    import pandas as pd

    rows = centers_df.select("__cluster", "__center") \
                     .orderBy("__cluster").collect()
    ids = np.asarray([r["__cluster"] for r in rows], dtype=np.int32)
    C = np.asarray([list(r["__center"]) for r in rows],
                   dtype=np.float64)
    cn = (C * C).sum(axis=1)
    spark = vectors.sparkSession
    bc = spark.sparkContext.broadcast((ids, C, cn))

    def _assign(s):
        cids, cc, ccn = bc.value
        X = np.stack(s.to_numpy())
        # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2; ||x||^2 is constant
        # per row so it can't change the argmin — skip it
        d2 = ccn[None, :] - 2.0 * (X @ cc.T)
        return pd.Series(cids[np.argmin(d2, axis=1)])

    _assign.__annotations__ = {"s": pd.Series, "return": pd.Series}
    # IntegerType to match ivfpq_build's coded.__cluster (KMeans
    # prediction column) — appended rows parquet-append cleanly
    assign = F.pandas_udf(_assign, "int")
    return vectors.withColumn(
        "__cluster", assign(F.col(vec_col).cast("array<double>")))


def ivfpq_append(centers_df: DataFrame, codebooks: list,
                 new_candidates: DataFrame, c_id: str = "c_id",
                 c_vec: str = "c_vec",
                 rotation: list | None = None) -> DataFrame:
    """Encode NEW vectors against a frozen IVF-PQ index: rotate into
    the index's space (if it was built with OPQ), assign to the
    nearest existing coarse center, PQ-code the residual with the
    EXISTING codebooks. Returns ``(c_id, __cluster, codes)`` rows
    shaped exactly like :func:`ivfpq_build`'s ``coded`` — append them
    to the stored codes parquet and later searches see the new
    vectors with zero retraining and zero rescan of the old corpus.

    Cost is one narrow Arrow assign kernel + one broadcast join (the
    residual's center lookup) over ONLY the new batch. The approximation contract is unchanged — codes from this
    path are bit-identical to what ``ivfpq_build`` would emit for the
    same vector under the same centers/codebooks (pinned by
    ``test_ivfpq_append_parity``). Quantizer drift is the operator's
    honest caveat: if the new epoch's distribution shifts far from
    the training corpus, residuals grow and ADC loosens — monitor
    with :func:`pq_reconstruction_mse` on a sample and rebuild when
    it degrades, exactly like the Bloom store refits past capacity."""
    if rotation is not None:
        new_candidates = rotate_vectors(new_candidates, rotation,
                                        vec_col=c_vec)
    assigned = ivfpq_assign(new_candidates, centers_df, vec_col=c_vec)
    resid = (assigned.join(F.broadcast(centers_df), "__cluster")
             .withColumn("__resid", F.zip_with(
                 F.col(c_vec).cast("array<double>"),
                 F.col("__center").cast("array<double>"),
                 lambda x, c: x - c)))
    return resid.select(F.col(c_id).alias("c_id"), "__cluster",
                        pq_codes("__resid", codebooks).alias("codes"))


def exact_l2_topk(queries: DataFrame, candidates: DataFrame, k: int,
                  q_id: str = "q_id", c_id: str = "c_id",
                  q_vec: str = "q_vec", c_vec: str = "c_vec",
                  broadcast_queries: bool = True) -> DataFrame:
    """Exact squared-L2 top-k — the ground truth an ANN tier is
    judged against (IVF-PQ probes and ranks by squared L2, so its
    recall must be measured against the same metric, not cosine).
    The :func:`brute_force_topk` plan shape: candidates stream
    through a broadcast of the (small) query set, the scored stream
    is cut to k rows per query and scan partition by Spark's partial
    ``WindowGroupLimit`` (vectors never leave the scan), then one
    constant-size rank window."""
    q = queries.select(q_id,
                       F.col(q_vec).cast("array<double>").alias("__qv"))
    c = candidates.select(c_id,
                          F.col(c_vec).cast("array<double>").alias("__cv"))
    j = c.join(F.broadcast(q) if broadcast_queries else q)
    scored = j.select(F.col(q_id), F.col(c_id),
                      F.round(_sq_l2(F.col("__qv"), F.col("__cv")), 6)
                      .alias("dist"))
    w = Window.partitionBy(q_id).orderBy(F.col("dist").asc_nulls_last(),
                                         F.col(c_id).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def ann_recall_estimate(centers_df: DataFrame, codebooks: list,
                        coded: DataFrame, queries: DataFrame,
                        candidates: DataFrame, k: int = 10,
                        n_probe: int = 2,
                        rotation: list | None = None,
                        rerank: int | None = None,
                        return_hits: bool = False):
    """Recall@k telemetry for a prebuilt IVF-PQ index: the fraction
    of the exact squared-L2 top-k the index search returns over a
    QUERY SAMPLE — the production drift monitor that says when to
    raise ``n_probe`` or rebuild, pairing with
    :func:`pq_reconstruction_mse` exactly as faiss users watch
    recall alongside quantization error. The measured pipeline is
    the SERVED one — ADC pre-ranking plus the exact rerank tier
    (``rerank`` defaults to 4·k, the ``_run_ann_search`` shape;
    pass ``rerank=0`` to grade raw ADC ranking instead), so the
    number answers "of the true top-k, how many does a user see".
    The sample should be small (tens of queries): exact ground truth
    costs one corpus scan per batch (|Q| broadcast), so the estimate
    is cheap while the index keeps serving at codes-only cost.
    Returns ``{recall_at_k, k, n_probe, rerank, n_queries,
    pairs_exact, pairs_hit}`` — pairs_exact can fall short of |Q|·k
    on corpora smaller than k. With ``return_hits=True`` returns
    ``(report, hits)`` where hits is the index-search frame the
    estimate graded, cached in the caller's cache scope — callers that
    also want to persist the sampled answers reuse it instead of
    re-running the search."""
    if rerank is None:
        rerank = 4 * k
    # both frames feed two actions each (the hit join + their own
    # counts) — cache so the corpus pays ONE exact scan and ONE index
    # search, as the docstring prices it
    approx = ivfpq_search(centers_df, codebooks, coded, queries,
                          k=k, n_probe=n_probe, rotation=rotation,
                          rerank=rerank,
                          candidates=candidates if rerank else None)
    if return_hits:
        approx = persist_scoped(approx)
    with cache_scope():
        if not return_hits:
            approx = persist_scoped(approx)
        exact = persist_scoped(exact_l2_topk(queries, candidates, k))
        pairs_hit = (approx.select("q_id", "c_id")
                     .join(exact.select("q_id", "c_id"),
                           ["q_id", "c_id"]).count())
        pairs_exact = exact.count()
    n_queries = queries.select("q_id").distinct().count()
    report = {"recall_at_k": round(pairs_hit / pairs_exact, 4)
              if pairs_exact else None,
              "k": k, "n_probe": n_probe, "rerank": rerank,
              "n_queries": n_queries,
              "pairs_exact": pairs_exact, "pairs_hit": pairs_hit}
    return (report, approx) if return_hits else report


def ann_nprobe_tune(centers_df: DataFrame, codebooks: list,
                    coded: DataFrame, queries: DataFrame,
                    candidates: DataFrame, k: int = 10,
                    target_recall: float = 0.9,
                    rotation: list | None = None,
                    rerank: int | None = None) -> dict:
    """Auto-tune ``n_probe`` for a recall target — the knob faiss
    users turn by hand, closed into a loop: double n_probe
    (1, 2, 4, … up to the list count) measuring recall@k against ONE
    exact ground-truth scan (computed once, cached, shared by every
    step — each extra step costs only a codes-only index search over
    the query sample), stop at the first n_probe meeting
    ``target_recall``. Returns ``{chosen_n_probe, target_recall,
    achieved_recall, target_met, curve}`` with the full
    (n_probe → recall) curve so callers see the marginal gain per
    doubling; when even exhaustive probing misses the target (ADC
    quantization is the ceiling — raise ``rerank`` or rebuild with
    more lists/finer codebooks) ``target_met`` is False and the
    exhaustive setting is returned."""
    if rerank is None:
        rerank = 4 * k
    n_lists = centers_df.count()
    curve = []
    chosen, achieved = None, None
    with cache_scope():
        exact = persist_scoped(exact_l2_topk(queries, candidates, k))
        pairs_exact = exact.count()
        p = 1
        while True:
            p = min(p, n_lists)
            approx = ivfpq_search(
                centers_df, codebooks, coded, queries, k=k,
                n_probe=p, rotation=rotation, rerank=rerank,
                candidates=candidates if rerank else None)
            hit = (approx.select("q_id", "c_id")
                   .join(exact.select("q_id", "c_id"),
                         ["q_id", "c_id"]).count())
            rec = round(hit / pairs_exact, 4) if pairs_exact else None
            curve.append({"n_probe": p, "recall": rec})
            chosen, achieved = p, rec
            if rec is not None and rec >= target_recall:
                break
            if p >= n_lists:
                break
            p *= 2
    return {"chosen_n_probe": chosen,
            "target_recall": target_recall,
            "achieved_recall": achieved,
            "target_met": achieved is not None
            and achieved >= target_recall,
            "k": k, "rerank": rerank, "curve": curve}


# ---------------------------------------------------------------------------
# Embedding-space decontamination: the semantic complement of the
# n-gram contamination_pairs/decontaminate in operators/dedup.py —
# catches paraphrased benchmark leakage that shares no 8-gram
# ---------------------------------------------------------------------------

def semantic_contamination(corpus: DataFrame, benchmark: DataFrame,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           threshold: float = 0.9,
                           bits: int = 6) -> DataFrame:
    """Cross-frame cosine-threshold pairs ``(id_a, id_b, cos)`` —
    ``id_a`` from the corpus, ``id_b`` from the benchmark — via the
    same sign-bucket blocking as :func:`cosine_neardup_pairs`: both
    sides bucket on the sign pattern of their first ``bits``
    coordinates, exact cosine only within a bucket. At 100 TB the
    benchmark side is tiny (eval sets are thousands of rows) so its
    bucketed form broadcasts; the corpus side streams through one
    broadcast hash join — no corpus shuffle, no pair explosion
    (pairs are bucket-local). Same recall caveat as every sign-LSH
    blocker: a near-dup pair straddling a sign flip in the first
    ``bits`` dims is missed; lower ``bits`` to trade cost for
    recall."""
    def _side(df, out):
        return df.select(
            F.col(id_col).alias(out),
            F.col(vec_col).cast("array<double>").alias(f"__v_{out}"),
            sign_bucket(F.col(vec_col), bits).alias("__bucket"),
            l2norm(F.col(vec_col).cast("array<double>"))
            .alias(f"__n_{out}"))
    cx = _side(corpus, "id_a")
    bx = _side(benchmark, "id_b")
    pairs = (cx.join(F.broadcast(bx), "__bucket")
             .select("id_a", "id_b",
                     F.round(cosine_prenormed(
                         F.col("__v_id_a"), F.col("__v_id_b"),
                         F.col("__n_id_a"), F.col("__n_id_b")), 6)
                     .alias("cos")))
    return pairs.filter(F.col("cos") >= threshold)


def semantic_decontaminate(corpus: DataFrame, benchmark: DataFrame,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           threshold: float = 0.9,
                           bits: int = 6) -> DataFrame:
    """Drop corpus rows whose embedding is ≥ ``threshold`` cosine to
    ANY benchmark vector: :func:`semantic_contamination` distinct'd
    to flagged ids, then one left-anti join (broadcast — the flagged
    set is bounded by the benchmark's neighborhood, not the corpus)."""
    flagged = (semantic_contamination(corpus, benchmark, id_col,
                                      vec_col, threshold, bits)
               .select(F.col("id_a").alias(id_col)).distinct())
    return corpus.join(F.broadcast(flagged), id_col, "left_anti")


def save_ivfpq_index(spark, centers_df: DataFrame, codebooks: list,
                     coded: DataFrame, path: str,
                     rotation: list | None = None) -> None:
    """Persist a complete IVF-PQ index store as plain parquet under
    ``path`` — ``centers/`` (coarse quantizer), ``books/`` (PQ
    codebooks as (m_idx, k_idx, centroid) rows), ``codes/`` (the only
    per-vector state), ``rotation/`` (optional OPQ matrix). Everything
    is data, no pickle: any Spark (or non-Spark parquet) reader
    reloads it, and the codes dir is the append point for
    :func:`ivfpq_append` output — epoch N+1 writes mode('append')
    there and the index serves the union."""
    centers_df.write.mode("overwrite").parquet(path + "/centers")
    rows = [(m, j, [float(x) for x in c])
            for m, book in enumerate(codebooks)
            for j, c in enumerate(book)]
    spark.createDataFrame(
        rows, "m_idx int, k_idx int, centroid array<double>") \
        .write.mode("overwrite").parquet(path + "/books")
    coded.write.mode("overwrite").parquet(path + "/codes")
    if rotation is not None:
        save_rotation(spark, rotation, path + "/rotation")


def load_ivfpq_index(spark, path: str):
    """Reload a :func:`save_ivfpq_index` store. Returns
    ``(centers_df, codebooks, coded, rotation)`` — rotation is None
    when the index was built without OPQ. The codebooks are driver
    lists (index metadata: m·k·dsub doubles); centers and codes stay
    DataFrames. A ``rotation/`` that exists but cannot be read raises
    (an OPQ index searched unrotated returns wrong neighbours)."""
    from dynamic_etl_pipeline_thesis_ii_spark.sources.sinks import (
        read_if_present,
    )
    centers = spark.read.parquet(path + "/centers")
    brows = spark.read.parquet(path + "/books") \
                 .orderBy("m_idx", "k_idx").collect()
    books: list = []
    for r in brows:
        if r["m_idx"] == len(books):
            books.append([])
        books[r["m_idx"]].append(list(r["centroid"]))
    coded = spark.read.parquet(path + "/codes")
    rotation = read_if_present(spark, path + "/rotation",
                               lambda p: load_rotation(spark, p))
    return centers, books, coded, rotation


def save_index_tuning(spark, path: str, tuning: dict) -> None:
    """Persist an :func:`ann_nprobe_tune` outcome into the index
    store's ``_meta`` sidecar (one-row parquet at ``path + "/_meta"``)
    — the tuner's whole point is closing the loop, so the chosen
    ``n_probe`` must OUTLIVE the tuning run: a later search of the
    same store defaults to the tuned setting instead of a static
    guess. Plain parquet like the rest of the store (no pickle; any
    reader reloads it); overwrite-on-retune, so the sidecar always
    reflects the latest tuning."""
    spark.createDataFrame(
        [(int(tuning["chosen_n_probe"]),
          float(tuning["achieved_recall"])
          if tuning.get("achieved_recall") is not None else None,
          float(tuning["target_recall"]), int(tuning["k"]),
          bool(tuning["target_met"]))],
        "tuned_n_probe int, achieved_recall double, "
        "target_recall double, k int, target_met boolean") \
        .write.mode("overwrite").parquet(path + "/_meta")


def load_index_tuning(spark, path: str) -> dict | None:
    """Reload the :func:`save_index_tuning` sidecar; ``None`` when the
    store has never been tuned (callers fall back to their static
    default and say so — an untuned store is a normal state, not an
    error). A ``_meta`` that exists but cannot be read raises
    ``SinkError`` naming the path."""
    from dynamic_etl_pipeline_thesis_ii_spark.sources.sinks import (
        read_if_present,
    )
    row = read_if_present(spark, path + "/_meta",
                          lambda p: spark.read.parquet(p).first())
    return dict(row.asDict()) if row is not None else None


def cluster_embeddings(emb: DataFrame, n_clusters: int, seed: int = 42,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding"):
    """Standalone corpus clustering — the data-map / topic-discovery
    view of the embedding space (the same k-means that quantizes the
    IVF index, exposed as a first-class result instead of an index
    internal). Returns ``(assignments, centers)``:

    - ``assignments``: ``(id, cluster, center_cos)`` — every vector's
      cluster and its cosine to the cluster center (a per-row
      coherence score; low values mark outliers / mixed clusters);
    - ``centers``: the tiny ``(cluster, center)`` frame — persist it
      to assign FUTURE batches to the same map via
      :func:`ivfpq_assign`-style nearest-center encoding without
      refitting.

    Scale shape: the k-means fit is the only iterative step
    (`pyspark.ml` KMeans — distributed Lloyd's); the scoring join
    broadcasts the (n_clusters x d) center frame, so the corpus is
    touched in ONE pass with no shuffle beyond the fit's own."""
    centers, bucketed = ivf_build(emb.select(id_col, vec_col),
                                  n_clusters=n_clusters, seed=seed,
                                  c_vec=vec_col)
    scored = (bucketed.join(F.broadcast(centers), "__cluster")
              .select(
                  F.col(id_col),
                  F.col("__cluster").alias("cluster"),
                  F.round(cosine_prenormed(
                      F.col(vec_col).cast("array<double>"),
                      F.col("__center"),
                      F.col("__cn"), l2norm(F.col("__center"))),
                      6).alias("center_cos")))
    return scored, centers.select(F.col("__cluster").alias("cluster"),
                                  F.col("__center").alias("center"))


def assign_to_centers(emb: DataFrame, centers: DataFrame,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Map a NEW batch of vectors onto a persisted cluster map (the
    ``(cluster, center)`` frame :func:`cluster_embeddings` returns) —
    the data-map twin of the frozen-index append path: nearest center
    by squared L2 through the same narrow Arrow GEMM kernel
    (:func:`ivfpq_assign` — broadcast center matrix, per-batch argmin,
    NO join/window/shuffle), then one broadcast join for the
    cosine-coherence score. Output schema equals
    :func:`cluster_embeddings`' assignments, and for the fit corpus
    itself the assignment is IDENTICAL to fit-time (k-means assigns by
    the same metric — parity-pinned in tests), so epoch N+1 maps at
    batch cost with zero refit and zero rescan of the old corpus."""
    c = centers.select(F.col("cluster").alias("__cluster"),
                       F.col("center").alias("__center"))
    assigned = ivfpq_assign(emb.select(id_col, vec_col), c,
                            vec_col=vec_col)
    return (assigned
            .withColumn("__cn", l2norm(F.col(vec_col)
                                       .cast("array<double>")))
            .join(F.broadcast(c), "__cluster")
            .select(F.col(id_col),
                    F.col("__cluster").alias("cluster"),
                    F.round(cosine_prenormed(
                        F.col(vec_col).cast("array<double>"),
                        F.col("__center"),
                        F.col("__cn"), l2norm(F.col("__center"))),
                        6).alias("center_cos")))


# ---------------------------------------------------------------------------
# hybrid retrieval: reciprocal-rank fusion of the lexical (BM25) and
# dense (cosine) arms — the standard two-tower retrieval stack
# ---------------------------------------------------------------------------

def rrf_fuse(ranked_arms: list, k: int = 10, k_rrf: int = 60,
             query_col: str = "query_id", id_col: str = "id",
             rank_col: str = "rank") -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of any number of
    per-query ranked lists: each arm contributes ``1/(k_rrf + rank)``
    per (query, item); contributions sum, round to 6 dp, and re-rank
    (rrf desc, id asc) to top ``k``. ``n_arms`` counts how many lists
    surfaced the item — the standard "found by both towers" signal.

    Rank fusion deliberately ignores the arms' incomparable score
    scales (BM25 sums vs cosine), which is exactly why RRF is the
    robust default for hybrid search. Scale shape: each arm is
    already top-k_pool per query, so the union is |Q|·k_pool·n_arms
    rows — eval-sized; one groupBy + one window, both on query_id."""
    contribs = [arm.select(F.col(query_col).alias("query_id"),
                           F.col(id_col).alias("id"),
                           (F.lit(1.0) / (F.lit(k_rrf)
                                          + F.col(rank_col)))
                           .alias("contrib"))
                for arm in ranked_arms]
    allc = contribs[0]
    for c in contribs[1:]:
        allc = allc.unionByName(c)
    fused = (allc.groupBy("query_id", "id")
             .agg(F.round(F.sum("contrib"), 6).alias("rrf"),
                  F.count(F.lit(1)).alias("n_arms")))
    w = Window.partitionBy("query_id").orderBy(F.col("rrf").desc(),
                                               F.col("id").asc())
    return (fused.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "id", "rrf", "n_arms"))


def hybrid_topk(docs: DataFrame, candidates: DataFrame,
                queries: DataFrame, k: int = 10, k_pool: int = 20,
                k_rrf: int = 60, text_col: str = "text",
                id_col: str = "doc_id", dense_index=None,
                n_probe: int = 2) -> DataFrame:
    """Hybrid retrieval: BM25 over ``docs`` + a dense tower over
    ``candidates`` (c_id, c_vec), fused by :func:`rrf_fuse` — the
    lexical tower catches exact-term matches the embedding space
    blurs, the dense tower catches paraphrases BM25 cannot see; RAG
    selection and retrieval-based decontamination both want the
    union. ``queries`` carries (query_id, query_text, query_vec) —
    one row per query, both representations.

    ``dense_index`` swaps the dense tower's exact cosine scan for a
    prebuilt IVF-PQ store (the :func:`load_ivfpq_index` tuple) — the
    billion-vector scale path the fusion contract was designed for
    (it only needs (query_id, id, rank)): the search probes
    ``n_probe`` inverted lists with codes-only ADC and exact-reranks
    the top ``k_pool`` against the TRUE vectors in ``candidates``,
    so dense cost is probed-lists-sized, not corpus-sized. On
    L2-normalized vectors the exact-rerank ordering (squared L2)
    equals the brute arm's cosine ordering, so a full-probe search
    reproduces the brute ranking exactly; un-normalized vectors rank
    by distance, the standard ANN-store contract.

    Scale: the query set broadcasts into BOTH towers (the corpus
    never shuffles on anything but its own aggregates — see
    bm25_topk / brute_force_topk / ivfpq_search); fusion is
    eval-sized."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.text import (
        bm25_topk,
    )

    lex = bm25_topk(docs, queries.select("query_id", "query_text"),
                    text_col=text_col, id_col=id_col, k=k_pool)
    qv = queries.select(F.col("query_id").alias("q_id"),
                       F.col("query_vec").alias("q_vec"))
    if dense_index is not None:
        centers, books, coded, rotation = dense_index
        den = ivfpq_search(centers, books, coded, qv, k=k_pool,
                           n_probe=n_probe, rerank=k_pool,
                           candidates=candidates, rotation=rotation)
    else:
        den = brute_force_topk(qv, candidates, k=k_pool)
    return rrf_fuse(
        [lex, den.withColumnRenamed("q_id", "query_id")
                 .withColumnRenamed("c_id", "id")],
        k=k, k_rrf=k_rrf)


# ---------------------------------------------------------------------------
# built-in document embedding (N12): hashed random projection — the
# featurizer that makes the whole dense tier (N1-N11, SemDeDup,
# semantic decontamination, hybrid retrieval) self-sufficient on
# text-only corpora, no external embedding model required
# ---------------------------------------------------------------------------

def hash_embed(df: DataFrame, dim: int = 64,
               text_col: str = "text", id_col: str = "doc_id",
               seed: str = "embed") -> DataFrame:
    """Deterministic bag-of-words embedding by signed random
    projection (the SimHash construction kept DENSE instead of
    collapsed to sign bits): every token hashes to a fixed
    Rademacher ±1 vector, a document is the tf-weighted sum of its
    tokens' vectors, L2-normalized. Johnson-Lindenstrauss gives the
    usual guarantee — token-overlap cosine is approximately
    preserved at ``dim`` dimensions — which is exactly the geometry
    MinHash/Jaccard already measure, now in the shape the dense tier
    consumes: the output is a drop-in ``embeddings`` table
    (id, embedding float array) for IVF-PQ/SemDeDup/hybrid search.
    NOT a semantic model (paraphrases with disjoint vocabulary stay
    far apart) — it is the deterministic, dependency-free baseline,
    and the contract (id + array<float>) is what a real encoder
    plugs into.

    Scale shape: the ``apply_bpe`` kernel discipline — one Arrow
    ``mapInPandas`` scan, a per-EXECUTOR token-vector cache (md5 of
    ``token || seed`` seeds the ±1 pattern, so vectors are identical
    on every executor and every run with no broadcast model), per
    document O(tokens · dim) adds. No shuffle at all: embed is a
    projection, partition-for-partition."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType, FloatType, LongType, StructField, StructType,
    )

    schema = StructType([
        StructField("id", LongType(), False),
        StructField("embedding", ArrayType(FloatType()), False)])
    norm_re = r"\s+"

    def kernel(batches):
        import hashlib

        cache: dict = {}

        def tok_vec(tok: str):
            v = cache.get(tok)
            if v is None:
                # md5(token||seed) -> 16 bytes -> seed a generator
                # for dim Rademacher signs; deterministic everywhere
                h = hashlib.md5((tok + seed).encode()).digest()
                rng = np.random.default_rng(
                    int.from_bytes(h[:8], "big"))
                v = rng.integers(0, 2, size=dim).astype(
                    np.float32) * 2.0 - 1.0
                if len(cache) < 200_000:     # bounded executor cache
                    cache[tok] = v
            return v

        for pdf in batches:
            ids, vecs = [], []
            for rid, text in zip(pdf["id"], pdf["text"]):
                acc = np.zeros(dim, dtype=np.float32)
                if isinstance(text, str) and text.strip():
                    import re as _re
                    for tok in _re.split(norm_re,
                                         text.strip().lower()):
                        if tok:
                            acc += tok_vec(tok)
                n = float(np.linalg.norm(acc))
                if n > 0:
                    acc = acc / n
                ids.append(int(rid))
                vecs.append(acc.tolist())
            yield pd.DataFrame({"id": ids, "embedding": vecs})

    return (df.select(F.col(id_col).alias("id"),
                      F.col(text_col).alias("text"))
            .mapInPandas(kernel, schema=schema))
