"""Document deduplication for large-scale training-data pipelines.

Beyond the reference's exact dedup (``validator/union.py:343-367``,
``transform/data_cleaning.py:342-350``) this module adds the standard
near-dup family — exact hash, MinHash+LSH, SimHash, n-gram Jaccard —
each built from deterministic, engine-portable primitives (md5-derived
32-bit hashes, integer modular arithmetic) so results are reproducible
and oracle-checkable bit-for-bit.

Scale design:
- everything is expression-level (whole-stage codegen), no Python UDFs;
- MinHash-LSH shuffles once on (band, band-signature) — candidate pairs
  only ever materialize within buckets, never the full cross product;
- n-gram Jaccard generates candidates by shared-shingle blocking with a
  per-shingle document-frequency cap to bound hot buckets (stop-shingle
  removal), the standard guard against quadratic blowup at 100 TB.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dynamic_etl_pipeline_thesis_ii_spark.scope import persist_scoped

H32_PRIME = 4294967311  # smallest prime > 2^32


def hash32(col: Column) -> Column:
    """Deterministic 32-bit hash shared with the SQL oracle:
    first 8 hex digits of md5, as an unsigned bigint."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 8), 16, 10).cast("long")


SQL_HASH32 = "(('0x' || substr(md5({x}), 1, 8))::bigint)"


def normalize_text(col: Column) -> Column:
    """lower + collapse whitespace — canonical form before hashing."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


SQL_NORMALIZE = "trim(regexp_replace(lower({x}), '\\s+', ' ', 'g'))"


def shingle_set(col: Column, k: int) -> Column:
    """Distinct (unsorted) k-word shingles — the explode-path variant:
    every consumer aggregates order-insensitively, so skipping the
    per-document array sort saves one O(m log m) pass per doc."""
    words = F.split(normalize_text(col), " ")
    n = F.size(words)
    shingles = F.transform(
        F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)),
    )
    return F.array_distinct(F.when(n >= k, shingles).otherwise(F.array()))


def word_shingles(col: Column, k: int) -> Column:
    """Distinct, sorted k-word shingles of normalized text (sorted so
    array contents are engine-order-independent)."""
    return F.array_sort(shingle_set(col, k))


def shingle_rows(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """(id, s) exploded distinct shingle rows — the shared prelude of
    every dedup operator.

    Shingling runs through ``pyspark.ml.feature.NGram`` (JVM sliding
    n-grams, space-joined — byte-identical output to the expression
    formulation) because the higher-order-function variant
    (:func:`shingle_set`) is interpreted per element: measured 5.5s vs
    0.7s warm for 288k shingles. No extra shuffle either way."""
    from pyspark.ml.feature import NGram
    # null text coalesces to "" BEFORE the split: the JVM NGram UDF
    # throws on a null array, and a null-text doc should simply produce
    # zero shingles (dropping out downstream), not fail the job
    words = df.select(
        F.col(id_col).alias("id"),
        F.split(normalize_text(F.coalesce(F.col(text_col), F.lit(""))),
                " ").alias("__w"))
    ng = NGram(n=k, inputCol="__w", outputCol="__ng")
    # the s != '' filter matters only at k=1, where the null->'' doc
    # would otherwise emit one empty shingle (and pair every null doc
    # with every other); k>=2 never produces an empty n-gram
    return (ng.transform(words)
            .select("id", F.explode(F.array_distinct("__ng")).alias("s"))
            .filter(F.col("s") != ""))


def SQL_WORD_SHINGLES(x: str, k: int) -> str:
    words = f"string_split({SQL_NORMALIZE.format(x=x)}, ' ')"
    return (
        f"list_sort(list_distinct(CASE WHEN len({words}) >= {k} THEN "
        f"list_transform(range(1, len({words}) - {k} + 2), "
        f"i -> array_to_string({words}[i:i+{k}-1], ' ')) "
        f"ELSE [] END))"
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def bucket_cap_stats(marked: DataFrame, max_bucket: int) -> dict:
    """Telemetry for the hot-bucket guard — the engine's own "no
    silent caps" discipline applied to its hottest knob: every banding
    path that drops over-cap ``(band, key)`` buckets can now COUNT
    what it dropped (at ~10⁸ images the 16-bit hamming band keys push
    the AVERAGE bucket over the default cap, and recall loss must be
    visible in run reports, not silent).

    ``marked`` is a band table carrying the per-bucket row count as
    ``__bn`` (``cap_mode="mark"``). One tiny aggregate over rows the
    window pass already counted — callers persist the marked frame, so
    this adds no second shuffle. Bucket count without a distinct
    aggregate: every row of a bucket carries the same ``__bn``, so
    summing ``1/__bn`` over capped rows contributes exactly 1 per
    bucket (rounded to kill float residue)."""
    over = F.col("__bn") > max_bucket
    r = marked.agg(
        F.coalesce(F.sum(F.when(over, 1)), F.lit(0)).alias("rows"),
        F.round(F.coalesce(F.sum(F.when(over, 1.0 / F.col("__bn"))),
                           F.lit(0.0)), 0).cast("long").alias("buckets"),
        F.coalesce(F.max("__bn"), F.lit(0)).alias("largest"),
    ).first()
    return {"max_bucket": int(max_bucket),
            "capped_buckets": int(r["buckets"]),
            "capped_rows": int(r["rows"]),
            "largest_bucket": int(r["largest"])}


def dedup_exact(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id document per exact normalized-text group.
    Content-hash groupBy: one shuffle on the 32-bit hash + min-id pick;
    at scale the hash key distributes uniformly (no skew)."""
    key = hash32(normalize_text(F.col(text_col)))
    return (df.withColumn("__k", key)
            .withColumn("__keep", F.min(id_col).over(Window.partitionBy("__k")))
            .filter(F.col(id_col) == F.col("__keep"))
            .drop("__k", "__keep"))


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signature(col: Column, k: int, n_hashes: int) -> Column:
    """Array of ``n_hashes`` minhash values over k-word shingles.
    Hash family: h_i(x) = ((2i+1) * hash32(x) + 12345*i + 17) mod P —
    odd multipliers, integer-exact in any engine."""
    shingles = word_shingles(col, k)
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_hashes - 1)),
        lambda i: F.array_min(F.transform(
            shingles,
            lambda s: ((F.lit(2) * i + 1) * hash32(s) + F.lit(12345) * i + 17) % F.lit(H32_PRIME),
        )),
    )


def SQL_MINHASH(x: str, k: int, n_hashes: int) -> str:
    sh = SQL_WORD_SHINGLES(x, k)
    h = SQL_HASH32.format(x="s")
    return (
        f"list_transform(range(0, {n_hashes}), "
        f"i -> list_min(list_transform({sh}, "
        f"s -> ((2*i + 1) * {h} + 12345*i + 17) % {H32_PRIME})))"
    )


def minhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       k: int = 3, n_hashes: int = 16,
                       shingles: DataFrame | None = None) -> DataFrame:
    """(id, sig) per document with at least one shingle — the scale path.

    Explode shingles to rows, md5 ONCE per shingle, then one hash-aggregate
    with ``n_hashes`` integer min()s. Stays in whole-stage codegen end to
    end; the equivalent higher-order-function formulation
    (:func:`minhash_signature`) is interpreted per array element and
    measured ~20x slower.

    ``shingles`` accepts a pre-exploded (id, s) frame (usually a
    persisted :func:`shingle_rows` shared with :func:`jaccard_pairs`)
    so multi-method pipelines shingle the corpus once.
    """
    ex = shingles if shingles is not None \
        else shingle_rows(df, text_col, id_col, k)
    # SQL-string expressions: one py4j round trip per aggregate instead
    # of ~6 Column-method calls each (r13 — driver plan-construction
    # latency; the resolved trees are identical)
    hashed = ex.selectExpr(
        "id",
        "cast(conv(substring(md5(cast(s as binary)), 1, 8), 16, 10) "
        "as bigint) as h")
    mins = [F.expr(f"min(({2 * i + 1} * h + {12345 * i + 17}) "
                   f"% {H32_PRIME})").alias(f"m{i}")
            for i in range(n_hashes)]
    sigs = hashed.groupBy("id").agg(*mins)
    return sigs.selectExpr(
        "id",
        f"array({', '.join(f'm{i}' for i in range(n_hashes))}) as sig")


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      k: int = 3, n_hashes: int = 16, bands: int = 4,
                      max_bucket: int | None = 2000,
                      shingles: DataFrame | None = None,
                      cap_report: dict | None = None,
                      hot_policy: str = "drop") -> DataFrame:
    """Candidate near-dup pairs via banded LSH over minhash signatures.

    rows-per-band r = n_hashes/bands; two docs collide if any band's
    signature slice matches exactly. One shuffle on (band, slice); pair
    explosion happens only inside buckets.

    ``max_bucket`` is the hot-bucket guard (same role as ``max_df`` in
    :func:`jaccard_pairs`): a boilerplate-heavy real corpus can put
    thousands of docs in one (band, signature) bucket, and the self-join
    then explodes O(b²) pairs inside it. Buckets larger than the cap are
    dropped — near-identical boilerplate is better handled by exact
    dedup first, and a >cap bucket contributes cap²/2-scale pairs of
    almost no ranking value. ``None`` disables the guard.
    ``cap_report`` (dict, filled in place) makes the guard auditable:
    :func:`bucket_cap_stats` over the marked band table records the
    buckets/rows dropped — one tiny EAGER aggregate over a persisted
    frame the self-join reuses anyway (see :func:`hamming_band_pairs`).

    ``hot_policy="star"`` recovers over-cap buckets at LINEAR cost
    instead of dropping them: each hot (band, slice) bucket
    contributes (min-id hub, member) pairs — component-equivalent to
    the O(b²) clique it replaces, and the SAME evidence level as any
    normal candidate (a candidate IS a single-band collision), so a
    near-identical boilerplate flood larger than the cap still
    collapses to one kept doc downstream rather than sailing through
    dedup untouched. Default stays ``"drop"`` (the classic guard).
    Returns distinct (id_a < id_b) candidate pairs.
    """
    if hot_policy not in ("drop", "star"):
        raise ValueError(
            f"hot_policy must be 'drop' or 'star', got {hot_policy!r}")
    banded = minhash_band_keys(df, text_col, id_col, k, n_hashes, bands,
                               shingles)
    star = None
    if max_bucket is not None:
        # window on the same (band, slice) keys the join shuffles on —
        # the exchange is shared, so the guard costs no extra shuffle
        banded = banded.withColumn(
            "__bn", F.count(F.lit(1)).over(Window.partitionBy("band", "slice")))
        if cap_report is not None or hot_policy == "star":
            banded = persist_scoped(banded)
        if cap_report is not None:
            cap_report.update(bucket_cap_stats(banded, max_bucket))
        if hot_policy == "star":
            hub = F.min("id").over(Window.partitionBy("band", "slice"))
            star = (banded.filter(F.col("__bn") > max_bucket)
                    .withColumn("__hub", hub)
                    .filter(F.col("id") != F.col("__hub"))
                    .select(F.col("__hub").alias("id_a"),
                            F.col("id").alias("id_b")))
        banded = banded.filter(F.col("__bn") <= max_bucket).drop("__bn")
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (a.join(b, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.slice") == F.col("b.slice"))
                    & (F.col("a.id") < F.col("b.id")))
             .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")))
    if star is not None:
        pairs = pairs.unionByName(star)
    return pairs.distinct()


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash64(col: Column, k: int = 1) -> Column:
    """64-bit SimHash over word shingles: bit j of the fingerprint is 1
    iff more than half the shingles have bit j set in their 64-bit hash
    (two md5-derived 32-bit halves, engine-portable).

    Single aggregate pass: per-shingle bit vectors summed with zip_with
    into 64 counters, then folded into one signed long.
    """
    shingles = word_shingles(col, k)
    n = F.size(shingles)

    # md5 once per shingle (lo/hi 32-bit halves); the per-bit expansion
    # below is then pure integer shifts. Inlining the hash into the bit
    # lambda would re-evaluate md5 64x per shingle (measured 60x slower).
    hashes = F.transform(
        shingles,
        lambda s: F.struct(
            hash32(s).alias("lo"),
            F.conv(F.substring(F.md5(s.cast("binary")), 9, 8), 16, 10).cast("long").alias("hi")))

    def bits_of(h: Column) -> Column:
        return F.array(*[F.shiftright(h["lo"], j) % 2 for j in range(32)],
                       *[F.shiftright(h["hi"], j) % 2 for j in range(32)])

    zeros = F.array_repeat(F.lit(0).cast("long"), 64)
    counts = F.aggregate(hashes, zeros,
                         lambda acc, h: F.zip_with(acc, bits_of(h), lambda a, b: a + b))
    # Fold majority bits into a signed 64-bit long (bit 63 via two's complement).
    signed_bit = lambda j: (F.lit(-(1 << 63)) if j == 63 else F.lit(1 << j))
    out = F.lit(0).cast("long")
    for j in range(64):
        out = out + F.when(F.element_at(counts, j + 1) * 2 > n, signed_bit(j)).otherwise(F.lit(0))
    return F.when(n > 0, out)


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_fingerprints(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                         k: int = 1) -> DataFrame:
    """(id, sim) 64-bit SimHash per document — the scale path.

    Explode shingles to rows, md5 ONCE per shingle (lo/hi 32-bit halves),
    then ONE hash-aggregate with 64 conditional-sum bit counters + count,
    and a final projection folding majority bits into a signed long.
    All whole-stage codegen; the array-lambda formulation
    (:func:`simhash64`) is interpreted and measured ~60x slower.
    Documents with zero shingles drop out (no rows after explode).
    """
    ex = shingle_rows(df, text_col, id_col, k)
    # md5 ONCE per shingle: both 32-bit halves derive from one hex
    # column in a separate projection. Inlining hash32(s) + an
    # explicit md5 for the high half leaves TWO md5 calls that
    # whole-stage codegen does not subexpression-eliminate across the
    # conv/substring wrappers — measured ~20% of the fingerprint
    # stage at sf0.1 (1.83 s -> 1.47 s warm).
    # Expressions are built as SQL strings (one py4j round trip each
    # via expr/selectExpr, parsed JVM-side) — the Column-method
    # formulation made ~450 py4j calls for the 64 bit counters + the
    # 64-term majority fold, ~1 s of pure driver latency per
    # invocation at default py4j throughput (r13, measured; the
    # resolved expression trees are identical either way).
    hexed = ex.selectExpr("id", "md5(cast(s as binary)) as h")
    hashed = hexed.selectExpr(
        "id",
        "cast(conv(substring(h, 1, 8), 16, 10) as bigint) as lo",
        "cast(conv(substring(h, 9, 8), 16, 10) as bigint) as hi")
    bit_sums = [
        F.expr(f"sum(shiftright({'lo' if j < 32 else 'hi'}, {j % 32}) & 1)")
        .alias(f"c{j}")
        for j in range(64)
    ]
    counts = hashed.groupBy("id").agg(F.expr("count(1)").alias("n"),
                                      *bit_sums)
    # bit 63 via shiftleft(1L, 63) = Long.MIN_VALUE (two's complement);
    # the literal -9223372036854775808 does not parse as one token
    signed_bit = lambda j: (f"shiftleft(cast(1 as bigint), 63)"
                            if j == 63 else f"{1 << j}")
    sim = " + ".join(f"if(c{j} * 2 > n, cast({signed_bit(j)} as bigint), "
                     f"cast(0 as bigint))" for j in range(64))
    return counts.selectExpr("id", f"({sim}) as sim")


def simhash_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  max_hamming: int = 3, shingle_k: int = 2,
                  max_bucket: int | None = 2000,
                  n_blocks: int = 6,
                  key_blocks: int | None = None,
                  cap_report: dict | None = None,
                  hot_policy: str = "drop") -> DataFrame:
    """Near-dup pairs by SimHash with banded blocking (Manku et al.,
    "Detecting Near-Duplicates for Web Crawling"): split the 64-bit
    fingerprint into ``n_blocks`` blocks and key each band on a
    combination of ``n_blocks - max_hamming`` blocks — a pair within
    ``max_hamming`` differing bits has at least that many untouched
    blocks, so some band key matches exactly (pigeonhole) and the join
    stays an equi-join on (band, key), never a quadratic pair scan.

    ``n_blocks`` trades band-table size against random-collision rate.
    The DEFAULT is 6 (C(6,3)=20 bands keyed on three blocks, ~32-bit
    keys): unrelated fingerprints collide at rate ~2^-32, so the
    candidate stage stays ~linear in the corpus — bench.py's
    scale_probe measured 168→331→697 candidates at 1×/2×/4× docs.
    ``n_blocks=4`` (four bands keyed on one 16-bit block each) is the
    cheapest complete scheme — 4 band rows/doc instead of 20 — but its
    2^-16 chance-collision term is quadratic (probe: 1,588→17,271 at
    4× docs) and dominates beyond ~10M docs; use it only as a
    small-corpus fast path. Any complete scheme returns the SAME final
    pair set (candidates are exact-hamming verified); only the
    candidate volume differs.

    ``max_bucket`` drops (band, key) buckets above the cap — the same
    hot-bucket guard as :func:`minhash_lsh_pairs` (``None`` disables).

    ``shingle_k`` defaults to word bigrams: unigram fingerprints of
    same-domain prose collide heavily (<=3 hamming for ~3% of ALL pairs
    on the test corpus — 171k candidates from 5.5k docs at sf0.1),
    while bigrams keep candidate counts in the low thousands with the
    same banding; this mirrors standard SimHash practice of shingling
    features rather than bag-of-words.

    ``key_blocks`` overrides the blocks-per-key count (default
    ``n_blocks - max_hamming``, the completeness bound, floored at 1
    single-block keys when ``max_hamming >= n_blocks`` — candidate
    recall is then banding-limited, the pre-generalization behavior;
    raise ``n_blocks`` above ``max_hamming`` for a complete scheme).
    Measurement harnesses set ``max_hamming=64`` to count raw
    candidates and pass ``key_blocks`` explicitly to pin the banding
    under test.
    """
    docs = simhash_fingerprints(df, text_col, id_col, k=shingle_k)
    # The band table self-joins below, and each side would otherwise
    # recompute the WHOLE fingerprint pipeline (shingle explode + md5 +
    # the 64-counter aggregate — the dominant cost of this operator).
    # A lazy localCheckpoint materializes the tiny (id, sim) frame once
    # on first action and both sides reuse it; same executor-loss
    # caveat as the star_components checkpoints (swap for a reliable
    # checkpoint dir on long-lived clusters).
    docs = docs.localCheckpoint(eager=False)
    return hamming_band_pairs(docs, max_hamming=max_hamming,
                              max_bucket=max_bucket, n_blocks=n_blocks,
                              key_blocks=key_blocks,
                              cap_report=cap_report,
                              hot_policy=hot_policy)


def hamming_band_pairs(docs: DataFrame, max_hamming: int = 3,
                       max_bucket: int | None = 2000,
                       n_blocks: int = 6,
                       key_blocks: int | None = None,
                       cap_report: dict | None = None,
                       hot_policy: str = "drop") -> DataFrame:
    """Manku banding over an arbitrary ``(id, sim)`` 64-bit
    fingerprint frame — the blocking engine factored out of
    :func:`simhash_pairs` so OTHER hamming-space fingerprints reuse it
    (perceptual image hashes ride this for image near-dup). Same
    completeness bound, hot-bucket cap and verified-hamming output:
    ``(id_a, id_b, hamming)`` with ``hamming <= max_hamming``.

    Pass ``cap_report`` (a dict, filled in place) to make the
    hot-bucket cap AUDITABLE: the band table materializes once
    (persisted — the self-join reuses it) and
    :func:`bucket_cap_stats` records how many buckets/rows the cap
    dropped before the filter applies. Telemetry costs one tiny
    aggregate over the already-computed band table and is EAGER (the
    numbers exist when this returns); the default ``None`` keeps the
    fully lazy plan.

    ``hot_policy`` decides what happens to over-cap buckets:
    ``"drop"`` (default) discards them — the classic guard;
    ``"reband"`` recovers their recall at bounded cost by splitting
    each hot bucket on one more block (:func:`_reband_hot_pairs` —
    sub-bucket joins, identical-fingerprint star, capped
    representative pairs), so a dense perceptual cluster LARGER than
    the cap still links into one dedup component instead of silently
    passing through."""
    if hot_policy not in ("drop", "reband"):
        raise ValueError(
            f"hot_policy must be 'drop' or 'reband', got {hot_policy!r}")
    need_mark = max_bucket is not None and (
        cap_report is not None or hot_policy == "reband")
    hot = None
    if need_mark:
        marked = persist_scoped(
            hamming_band_keys(docs, max_hamming=max_hamming,
                              max_bucket=max_bucket, n_blocks=n_blocks,
                              key_blocks=key_blocks, cap_mode="mark")
            .select("id", "sim", "band", "key", "__bn"))
        if cap_report is not None:
            cap_report.update(bucket_cap_stats(marked, max_bucket))
        banded = (marked.filter(F.col("__bn") <= max_bucket)
                  .drop("__bn"))
        if hot_policy == "reband":
            hot = (marked.filter(F.col("__bn") > max_bucket)
                   .drop("__bn"))
    else:
        banded = hamming_band_keys(docs, max_hamming=max_hamming,
                                   max_bucket=max_bucket,
                                   n_blocks=n_blocks,
                                   key_blocks=key_blocks) \
            .select("id", "sim", "band", "key")  # extras would fan the join
    pairs = (banded.alias("a").join(
                banded.alias("b"),
                (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key"))
                & (F.col("a.id") < F.col("b.id")))
             .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                     hamming64(F.col("a.sim"), F.col("b.sim")).alias("hamming"))
             .distinct())
    pairs = pairs.filter(F.col("hamming") <= max_hamming)
    if hot is not None:
        pairs = pairs.unionByName(_reband_hot_pairs(
            hot, n_blocks=n_blocks, max_hamming=max_hamming,
            key_blocks=key_blocks, max_bucket=max_bucket)).distinct()
    return pairs



def hamming_band_keys(docs: DataFrame, max_hamming: int = 3,
                      max_bucket: int | None = 2000,
                      n_blocks: int = 6,
                      key_blocks: int | None = None,
                      cap_mode: str = "drop") -> DataFrame:
    """The banded ``(id, sim, band, key)`` table itself — the
    persistable HALF of :func:`hamming_band_pairs`, mirroring what
    ``minhash_band_keys`` is to ``minhash_lsh_pairs``: write it to
    parquet as the hamming-space snapshot and probe NEW batches
    against it (:func:`incremental_hamming_pairs`) at batch cost,
    never re-fingerprinting the corpus.

    Block b covers widths[b] bits starting at offsets[b] (LSB-first);
    bands enumerate the (n_blocks - max_hamming)-block combinations in
    itertools order — for n_blocks=4/max_hamming=3 this is exactly the
    four single 16-bit blocks the DuckDB oracle mirrors.

    ``cap_mode="mark"`` keeps EVERY row and exposes the per-bucket
    count as ``__bn`` instead of filtering — the telemetry face: the
    caller decides what to do with over-cap buckets (count them via
    :func:`bucket_cap_stats`, drop them, or re-band them) without a
    second window pass. ``cap_mode="represent"`` keeps under-cap
    buckets whole and reduces each over-cap bucket to its MIN-ID row —
    the snapshot-store mode: a persisted band table stays
    |corpus|-bounded under duplicate floods, yet a later batch probing
    a flood bucket still collides with its representative and
    hamming-verifies against a real member instead of silently
    missing (the probe-side face of the reband/star recovery)."""
    widths, offsets, combos = _band_geometry(n_blocks, max_hamming,
                                             key_blocks)

    # One SQL string for the whole band table (r13): inline() explodes
    # the array-of-structs straight into (band, key) columns in a
    # single py4j round trip; the per-band Column-method loop cost
    # ~100 round trips of driver latency per invocation.
    def block_val(b: int) -> str:
        return (f"(shiftright(sim, {offsets[b]}) & "
                f"{(1 << widths[b]) - 1})")

    entries = []
    for i, combo in enumerate(combos):
        key: str | None = None
        for b in combo:
            key = block_val(b) if key is None else (
                f"(shiftleft({key}, {widths[b]}) | {block_val(b)})")
        entries.append(f"struct({i} as band, cast({key} as bigint) as key)")
    extras = [c for c in docs.columns if c not in ("id", "sim")]
    banded = docs.selectExpr(
        "id", "sim", *[f"`{c}`" for c in extras],
        f"inline(array({', '.join(entries)}))")
    if cap_mode not in ("drop", "mark", "represent"):
        raise ValueError(f"cap_mode must be 'drop', 'mark' or "
                         f"'represent', got {cap_mode!r}")
    if cap_mode == "mark":
        return banded.withColumn(
            "__bn", F.count(F.lit(1)).over(Window.partitionBy("band", "key")))
    if max_bucket is not None:
        w = Window.partitionBy("band", "key")
        banded = banded.withColumn("__bn", F.count(F.lit(1)).over(w))
        if cap_mode == "represent":
            # both windows ride ONE (band, key) exchange; over-cap
            # buckets shrink to their min-id member
            banded = (banded.withColumn("__min", F.min("id").over(w))
                      .filter((F.col("__bn") <= max_bucket)
                              | (F.col("id") == F.col("__min")))
                      .drop("__bn", "__min"))
        else:
            banded = (banded.filter(F.col("__bn") <= max_bucket)
                      .drop("__bn"))
    return banded


def _band_geometry(n_blocks: int, max_hamming: int,
                   key_blocks: int | None) -> tuple:
    """Shared Manku-banding geometry: per-block bit widths/offsets
    (LSB-first, 64 bits split as evenly as n_blocks allows) and the
    band combinations (itertools order). Raises on invalid shapes —
    the single validation point for every banding consumer."""
    if not 2 <= n_blocks <= 64:
        raise ValueError(f"n_blocks must be in [2, 64], got {n_blocks}")
    pick = (max(1, n_blocks - max_hamming) if key_blocks is None
            else key_blocks)
    if not 1 <= pick <= n_blocks:
        raise ValueError(
            f"key_blocks must be in [1, {n_blocks}], got {pick}")
    widths = [64 // n_blocks + (1 if i < 64 % n_blocks else 0)
              for i in range(n_blocks)]
    offsets = [sum(widths[:i]) for i in range(n_blocks)]
    combos = list(combinations(range(n_blocks), pick))
    return widths, offsets, combos


def _reband_hot_pairs(hot: DataFrame, n_blocks: int, max_hamming: int,
                      key_blocks: int | None,
                      max_bucket: int) -> DataFrame:
    """Recall recovery for over-cap buckets (the ``hot_policy=
    "reband"`` arm of :func:`hamming_band_pairs`): instead of
    dropping a hot ``(band, key)`` bucket, RE-BAND its rows on one
    more block — each row explodes over its band's residual blocks
    and the key extends by that block's bits, splitting the bucket
    ~2^width ways. Three tiers, all bounded:

    1. sub-buckets that come under the cap self-join normally
       (exact-hamming verified, like any band);
    2. sub-buckets STILL over the cap collapse identical
       fingerprints by a star join (min-id hub per sim — LINEAR in
       bucket size, component-equivalent to the all-pairs clique,
       the exact-duplicate flood case);
    3. the distinct fingerprints of a still-hot sub-bucket pair
       through one REPRESENTATIVE per sim (min id), re-capped at
       ``max_bucket`` representatives — cross-group edges survive at
       linear cost, and components match the full quadratic join's.

    Residual recall loss after all three: a pair whose EVERY shared
    band is hot, whose every residual block differs, in sub-buckets
    past the representative cap — vanishingly rare for the dense
    near-identical clusters hot buckets actually contain.
    Input ``hot``: (id, sim, band, key) rows of over-cap buckets;
    output: (id_a, id_b, hamming) with id_a < id_b, verified."""
    widths, offsets, combos = _band_geometry(n_blocks, max_hamming,
                                             key_blocks)
    residuals = [[b for b in range(n_blocks) if b not in c]
                 for c in combos]

    def block_val(b: int) -> Column:
        return (F.shiftright(F.col("sim"), offsets[b])
                .bitwiseAND(F.lit((1 << widths[b]) - 1)))

    res_of_band = F.element_at(
        F.array(*[F.array(*[F.lit(b) for b in r]) for r in residuals]),
        F.col("band") + 1)
    sub = hot.select("id", "sim", "band", "key",
                     F.explode(res_of_band).alias("extra"))
    bv = F.element_at(F.array(*[block_val(b).cast("long")
                                for b in range(n_blocks)]),
                      F.col("extra") + 1)
    mult = F.element_at(F.array(*[F.lit(1 << widths[b])
                                  for b in range(n_blocks)]),
                        F.col("extra") + 1)
    sub = persist_scoped(
        sub.withColumn("key2", F.col("key") * mult + bv)
        .withColumn("__bn2", F.count(F.lit(1)).over(
            Window.partitionBy("band", "extra", "key2"))))

    ok = sub.filter(F.col("__bn2") <= max_bucket) \
        .select("id", "sim", "band", "extra", "key2")
    pairs1 = (ok.alias("a").join(
                 ok.alias("b"),
                 (F.col("a.band") == F.col("b.band"))
                 & (F.col("a.extra") == F.col("b.extra"))
                 & (F.col("a.key2") == F.col("b.key2"))
                 & (F.col("a.id") < F.col("b.id")))
              .select(F.col("a.id").alias("id_a"),
                      F.col("b.id").alias("id_b"),
                      hamming64(F.col("a.sim"), F.col("b.sim"))
                      .alias("hamming")))

    still = sub.filter(F.col("__bn2") > max_bucket)
    # tier 2: identical-fingerprint star (global over still-hot rows —
    # a sim group appearing in several sub-buckets stars once)
    members = still.select("id", "sim").distinct()
    hub = members.withColumn(
        "__hub", F.min("id").over(Window.partitionBy("sim")))
    star = (hub.filter(F.col("id") != F.col("__hub"))
            .select(F.col("__hub").alias("id_a"),
                    F.col("id").alias("id_b"),
                    F.lit(0).alias("hamming")))
    # tier 3: one representative per distinct sim per sub-bucket,
    # re-capped — cross-group edges at linear member cost
    reps = (still.groupBy("band", "extra", "key2", "sim")
            .agg(F.min("id").alias("rid"))
            .withColumn("__rn", F.count(F.lit(1)).over(
                Window.partitionBy("band", "extra", "key2")))
            .filter(F.col("__rn") <= max_bucket)
            .select("band", "extra", "key2", "sim", "rid"))
    pairs2 = (reps.alias("a").join(
                 reps.alias("b"),
                 (F.col("a.band") == F.col("b.band"))
                 & (F.col("a.extra") == F.col("b.extra"))
                 & (F.col("a.key2") == F.col("b.key2"))
                 & (F.col("a.rid") < F.col("b.rid")))
              .select(F.col("a.rid").alias("id_a"),
                      F.col("b.rid").alias("id_b"),
                      hamming64(F.col("a.sim"), F.col("b.sim"))
                      .alias("hamming")))
    return (pairs1.unionByName(star).unionByName(pairs2)
            .filter(F.col("hamming") <= max_hamming).distinct())


def incremental_hamming_pairs(new_fps: DataFrame, seen_banded: DataFrame,
                              max_hamming: int = 3,
                              n_blocks: int = 6,
                              key_blocks: int | None = None,
                              extra_new_cols: tuple = (),
                              distinct: bool = True,
                              prune: bool = True) -> DataFrame:
    """Probe a NEW batch's ``(id, sim)`` fingerprints against a
    persisted :func:`hamming_band_keys` snapshot — the hamming-space
    face of :func:`incremental_neardup_pairs`: band the batch with the
    SAME scheme the snapshot was built with (band geometry — n_blocks
    AND key_blocks — is part of the snapshot's identity), equi-join on
    (band, key), verify exact hamming. With ``prune`` (the batch
    default) the snapshot is first LEFT-SEMI-joined against the
    batch's broadcast (band, key) probe set, so only snapshot rows
    sharing a probe key move — cost scales with the batch, never the
    corpus (the same pruning the MinHash sibling does). Returns
    ``(id_new, *extra_new_cols, id_seen, hamming)``; like the MinHash
    siblings there is NO id-equality exclusion — independent id
    namespaces may legitimately collide on equal ids, and a re-ingest
    of a seen image SHOULD flag against itself.

    Streaming callers (:func:`streaming/ops.streaming_image_flags`)
    pass ``prune=False`` (a broadcast built from a stream is not a
    supported plan) and ``distinct=False`` (stream dedup needs a
    watermark), and carry the event-time column via
    ``extra_new_cols``."""
    new_banded = hamming_band_keys(new_fps, max_hamming=max_hamming,
                                   max_bucket=None, n_blocks=n_blocks,
                                   key_blocks=key_blocks)
    seen = seen_banded
    if prune:
        probe_keys = F.broadcast(
            new_banded.select("band", "key").distinct())
        seen = seen.join(probe_keys, ["band", "key"], "left_semi")
    extras = [F.col(f"a.{c}") for c in extra_new_cols]
    pairs = (new_banded.alias("a").join(
                seen.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.key") == F.col("b.key")))
             .select(F.col("a.id").alias("id_new"), *extras,
                     F.col("b.id").alias("id_seen"),
                     hamming64(F.col("a.sim"), F.col("b.sim"))
                     .alias("hamming"))
             .filter(F.col("hamming") <= max_hamming))
    return pairs.distinct() if distinct else pairs


# ---------------------------------------------------------------------------
# cluster resolution
# ---------------------------------------------------------------------------

def star_components(pairs: DataFrame, max_iter: int = 30) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — the billion-edge scale path: converges in O(log n) rounds
    versus O(graph diameter) for plain min-label propagation, with two
    shuffles per round.

    large-star: every node u sends its neighbors v > u to
    m(u) = min(Γ(u) ∪ {u}); small-star: u and its neighbors v < u attach
    to m(u). At the fixed point the graph is a star forest, so
    m(u) = the smallest reachable id. Contract: (id, comp) — identical
    to :func:`min_label_components`."""
    # symmetric directed edge list (u, v); kept symmetric each round.
    # Each round ends in an EAGER localCheckpoint: iterative graph
    # algorithms must truncate lineage or every round re-derives all
    # prior rounds (exponential plan growth). On a cluster with flaky
    # executors swap localCheckpoint for a reliable checkpoint dir.
    e0 = pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    edges = (e0.unionByName(e0.select(F.col("v").alias("u"),
                                      F.col("u").alias("v")))
             .distinct().localCheckpoint())

    def min_nbr(E: DataFrame) -> DataFrame:
        return E.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))

    def symmetrize(em: DataFrame) -> DataFrame:
        und = em.filter(F.col("a") != F.col("b")).distinct()
        return (und.select(F.col("a").alias("u"), F.col("b").alias("v"))
                .unionByName(und.select(F.col("b").alias("u"),
                                        F.col("a").alias("v"))).distinct())

    labels = None
    for _ in range(max_iter):
        mn = min_nbr(edges)
        # large-star: (v, m(u)) for v in Γ(u), v > u
        big = (edges.join(mn, "u").filter(F.col("v") > F.col("u"))
               .select(F.col("v").alias("a"), F.col("m").alias("b")))
        edges2 = symmetrize(big).localCheckpoint()
        mn2 = min_nbr(edges2)
        # small-star: (v, m(u)) for v in Γ(u), v < u, plus (u, m(u))
        small = (edges2.join(mn2, "u").filter(F.col("v") < F.col("u"))
                 .select(F.col("v").alias("a"), F.col("m").alias("b"))
                 .unionByName(mn2.select(F.col("u").alias("a"),
                                         F.col("m").alias("b"))))
        new_edges = symmetrize(small).localCheckpoint()
        new_labels = min_nbr(new_edges).localCheckpoint()
        if labels is not None:
            changed = (new_labels.alias("n")
                       .join(labels.alias("o"), F.col("n.u") == F.col("o.u"))
                       .filter(F.col("n.m") != F.col("o.m")).count())
        else:
            changed = -1
        edges, labels = new_edges, new_labels
        if changed == 0:
            break
    # a node that became a pure component root keeps (root, root) via the
    # small-star (u, m) emission, so every input id gets a row.
    return labels.select(F.col("u").alias("id"), F.col("m").alias("comp"))


def _union_find_labels(pairs: DataFrame, driver_threshold: int) -> dict | None:
    """``{id: smallest reachable id}`` from a driver-side union-find
    over the collected pairs, or ``None`` when the pair list has more
    than ``driver_threshold`` edges. One action: it fetches up to
    threshold+1 pairs, and a full result means the graph is big (the
    caller falls through to a distributed loop, recomputing the pair
    plan once — the rare branch)."""
    rows = pairs.select("id_a", "id_b").limit(driver_threshold + 1).collect()
    if len(rows) > driver_threshold:
        return None
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        a, b = find(r[0]), find(r[1])
        if a != b:
            # min-id root so component == smallest reachable id
            lo, hi = (a, b) if a < b else (b, a)
            parent[hi] = lo
    nodes = sorted({x for r in rows for x in (r[0], r[1])})
    return {x: find(x) for x in nodes}


def _local_frame(pairs: DataFrame, columns: dict[str, list]) -> DataFrame:
    """A driver-built id frame, every column typed like ``pairs.id_a``.
    Built from Arrow it plans as a ``LocalRelation`` with its real
    ``sizeInBytes``, so joins against it broadcast when the query is
    planned; ``createDataFrame(list)`` would plan an unsizable
    ``LogicalRDD`` behind a Python-worker ``parallelize`` stage."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructField, StructType

    dtype = pairs.schema["id_a"].dataType
    schema = StructType([StructField(c, dtype) for c in columns])
    return pairs.sparkSession.createDataFrame(
        pa.Table.from_pydict(columns, schema=to_arrow_schema(schema)))


_DRIVER_EDGES = 5_000_000


def min_label_components(pairs: DataFrame,
                         driver_threshold: int = _DRIVER_EDGES) -> DataFrame:
    """Connected components over a near-dup pair list: (id, component)
    with component = the smallest doc id reachable — the step that turns
    pairwise matches into dedup groups (keep one doc per component).

    Hybrid execution: the pair list is the SMALL side of dedup (LSH has
    already collapsed the corpus), so below ``driver_threshold`` edges
    the components come from a driver-side union-find over the collected
    pairs: one pair-collect action, then microseconds of Python, and
    the result enters the plan as a sized ``LocalRelation`` (no further
    job). Above it, large-star/small-star contraction
    (:func:`star_components`, O(log n) rounds — the billion-edge path).
    The contract stays (id, component)."""
    labels = _union_find_labels(pairs, driver_threshold)
    if labels is None:
        return star_components(pairs)
    return _local_frame(pairs, {"id": list(labels),
                                "comp": list(labels.values())})


def _above(a, b) -> bool:
    """``a > b`` in Spark's ordering of non-null values: NaN sorts
    above every number and equals itself."""
    if b != b:
        return False
    return a != a or a > b


def _driver_drop_ids(labels: dict, score: dict) -> list:
    """Every clustered id but its component's winner: the highest
    score (NULL last), ties to the lowest id — the order of
    :func:`component_drop_set`'s window."""
    winner: dict = {}
    for x, c in labels.items():
        w = winner.get(c)
        if w is None:
            winner[c] = x
            continue
        sx, sw = score.get(x), score.get(w)
        if sx is None:
            better = sw is None and x < w
        elif sw is None or _above(sx, sw):
            better = True
        else:
            better = not _above(sw, sx) and x < w
        if better:
            winner[c] = x
    return [x for x, c in labels.items() if winner[c] != x]


def component_drop_set(pairs: DataFrame,
                       score: DataFrame | None = None) -> DataFrame:
    """The ``(id)`` drop set of :func:`dedup_by_components`, factored
    out so callers can overlap the component resolution (which runs an
    eager pair collect, :func:`min_label_components`) with other
    independent jobs (guide §2.6) and attach the anti-join themselves.

    When the union-find runs on the driver, so does the ranking: one
    broadcast semi-join collects the component nodes' scores, and the
    drop ids return as a sized ``LocalRelation``, so the caller's
    anti-join is planned as a broadcast with no exchange on its big
    side. Over the driver threshold the rank window below runs
    instead; both give the same set."""
    labels = _union_find_labels(pairs, _DRIVER_EDGES)
    if labels is not None:
        best: dict = {}
        if score is not None and labels:
            nodes = _local_frame(pairs, {"id": list(labels)})
            # max() per id, as the window path's collapse does
            for i, s in (score.select("id", "score")
                         .join(F.broadcast(nodes), "id", "left_semi")
                         .collect()):
                if s is not None and (i not in best or _above(s, best[i])):
                    best[i] = s
        return _local_frame(pairs, {"id": _driver_drop_ids(labels, best)})
    comp = star_components(pairs)
    if score is None:
        return comp.filter(F.col("id") != F.col("comp")).select("id")
    # collapse to one score per clustered id BEFORE ranking: a score
    # frame with duplicate ids (e.g. built by a fanning-out join)
    # would otherwise rank the same id twice and the rn>1 copy would
    # drop the cluster WINNER too; max() makes the collapse
    # deterministic
    scored = (comp.join(score, "id", "left")
              .groupBy("id", "comp").agg(F.max("score").alias("score")))
    w = Window.partitionBy("comp").orderBy(
        F.col("score").desc_nulls_last(), F.col("id").asc())
    return (scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") > 1).select("id"))


def dedup_by_components(df: DataFrame, pairs: DataFrame,
                        id_col: str = "doc_id",
                        score: DataFrame | None = None) -> DataFrame:
    """Keep ONE document per near-dup cluster (documents in no cluster
    pass through) — the end-to-end dedup contract.

    Default canonical = lowest id. Pass ``score`` — an ``(id, score)``
    frame covering the docs appearing in ``pairs`` — to keep the
    HIGHEST-score doc instead (ties → lowest id; docs missing from
    ``score`` rank last). Quality-aware keep is the curation-grade
    policy: near-dup copies differ (boilerplate-wrapped vs clean
    crawls), so keep the best copy, not the earliest id. The ranking
    window partitions by component — cluster-sized groups, never a
    global sort — and the drop set is component-membership-sized, tiny
    next to the corpus the anti-join prunes."""
    drop = component_drop_set(pairs, score=score)
    return df.join(drop, df[id_col] == drop["id"], "left_anti")


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------

def jaccard_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  k: int = 3, threshold: float = 0.5,
                  max_df: int = 100,
                  shingles: DataFrame | None = None) -> DataFrame:
    """k-shingle Jaccard over the document-frequency-capped shingle
    universe (count-based — no array materialization).

    Shingles appearing in more than ``max_df`` docs are stop-shingles:
    they only create hot buckets at scale, so they are excluded from the
    universe and Jaccard is DEFINED over each document's capped shingle
    set. With that definition the whole computation is counting:
    |A∩B| = the pair's row count in the shingle self-join,
    |A∪B| = size_A + size_B − |A∩B| — one groupBy over the pair rows,
    never a distinct-then-rejoin of shingle arrays (measured 8x faster,
    and the per-pair state is two ints regardless of document size).
    """
    # document frequency and per-doc set size via windows (not
    # groupBy+rejoin): the whole prelude is ONE linear pipeline, so the
    # two self-join branches are identical subplans and Spark's
    # ReuseExchange computes the (expensive) shingle explode once.
    ex = shingles if shingles is not None \
        else shingle_rows(df, text_col, id_col, k)
    sized = (ex
             .withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("s")))
             .filter(F.col("df") <= max_df)
             .withColumn("size", F.count(F.lit(1)).over(Window.partitionBy("id")))
             .select("id", "s", "size"))
    # both self-join branches consume `sized`; persist so the shingle
    # explode + two window shuffles compute once (AQE's staged execution
    # defeats ReuseExchange canonicalization here — measured 2x).
    sized = persist_scoped(sized)
    # alias-style self-join (not pre-renamed selects): both branches
    # stay canonically identical, so ReuseExchange computes the shared
    # prelude once.
    counts = (sized.alias("a").join(
                  sized.alias("b"),
                  (F.col("a.s") == F.col("b.s"))
                  & (F.col("a.id") < F.col("b.id")))
              .groupBy(F.col("a.id").alias("id_a"),
                       F.col("b.id").alias("id_b"),
                       F.col("a.size").alias("size_a"),
                       F.col("b.size").alias("size_b"))
              .agg(F.count(F.lit(1)).alias("inter")))
    jac = F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter"))
    return (counts.withColumn("jaccard", F.round(jac, 6))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


# ---------------------------------------------------------------------------
# cross-document exact-substring dedup (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better" — the ExactSubstr family)
# ---------------------------------------------------------------------------

def substring_window_rows(df: DataFrame, w: int,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """(id, pos, whash) for every ``w``-token rolling window of the
    normalized token stream — the shared first stage of the
    ExactSubstr operators. Window construction is pure column
    expressions (sequence/slice/concat_ws in ONE projection, then
    posexplode of the per-token hash array); only 20-byte rows leave
    this stage, regardless of ``w``. Docs shorter than ``w`` tokens
    produce no rows."""
    toks_arr = F.filter(F.split(normalize_text(F.col(text_col)), " "),
                        lambda x: x != "")
    base = df.select(F.col(id_col).alias("id"), toks_arr.alias("toks"))
    return (base.filter(F.size("toks") >= w)
            .select("id", F.posexplode(F.transform(
                F.sequence(F.lit(0), F.size("toks") - F.lit(w)),
                lambda i: F.xxhash64(F.concat_ws(
                    " ", F.slice(F.col("toks"), i + F.lit(1),
                                 F.lit(w))))))
                .alias("pos", "whash")))


def merge_window_spans(dup: DataFrame, w: int) -> DataFrame:
    """Merge flagged (id, pos) window occurrences into maximal
    ``[span_start, span_end)`` token spans per document —
    gaps-and-islands on the running coverage maximum (one window
    shuffle on the id). Shared by the batch and incremental span
    faces."""
    ws = Window.partitionBy("id").orderBy("pos")
    prev_end = F.max(F.col("pos") + F.lit(w)).over(
        ws.rowsBetween(Window.unboundedPreceding, -1))
    flagged = dup.withColumn(
        "brk", F.when(prev_end.isNull()
                      | (F.col("pos") > prev_end), 1).otherwise(0))
    islands = flagged.withColumn("island", F.sum("brk").over(ws))
    return (islands.groupBy("id", "island")
            .agg(F.min("pos").cast("long").alias("span_start"),
                 (F.max("pos") + F.lit(w)).cast("long")
                 .alias("span_end"),
                 F.count(F.lit(1)).alias("n_windows"))
            .select("id", "span_start", "span_end", "n_windows"))


def substring_duplicate_spans(df: DataFrame, w: int = 50,
                              text_col: str = "text",
                              id_col: str = "doc_id") -> DataFrame:
    """Token spans duplicated VERBATIM anywhere else in the corpus —
    the span-level complement of the document-level near-dup tiers:
    MinHash/SimHash flag whole documents that look alike, this flags
    the boilerplate/license/quote passages that repeat inside
    otherwise-distinct documents (the ExactSubstr signal the Lee et
    al. suffix-array pipeline computes; re-expressed here as rolling
    ``w``-token window hashing, the shuffle-friendly equivalent — any
    duplicated run of >= w tokens is covered by at least one
    duplicated window, and maximal runs reassemble from overlapping
    windows in the island merge below).

    Semantics: every ``w``-token window of the normalized token
    stream is keyed; a window occurring more than once corpus-wide
    (across documents OR repeated within one) keeps its FIRST
    occurrence in (id, pos) order as canonical and marks every later
    occurrence duplicated. Per document, overlapping/adjacent
    duplicated windows merge into maximal ``[span_start, span_end)``
    token spans (gaps-and-islands on the running coverage maximum).
    Returns (id, span_start, span_end, n_windows), one row per
    maximal span; documents shorter than ``w`` tokens never flag.

    Scale shape: window CONSTRUCTION is pure column expressions
    (sequence/slice/concat_ws inside one projection — no UDF, no
    explode of w-wide arrays); only (id, pos, xxhash64) rows ever
    shuffle — 20 bytes per token regardless of ``w``. Two shuffles
    total: one on the window hash (occurrence ranking), one on the
    document id (island merge), both key-partitioned with no
    driver state. A 64-bit key collision could merge two unrelated
    windows (P ~ n^2/2^64 — negligible at any corpus size that fits
    a cluster)."""
    wins = substring_window_rows(df, w, text_col, id_col)
    wp = Window.partitionBy("whash")
    marked = (wins
              .withColumn("rn", F.row_number().over(
                  wp.orderBy("id", "pos")))
              .withColumn("cnt", F.count(F.lit(1)).over(wp)))
    dup = (marked.filter((F.col("cnt") >= 2) & (F.col("rn") > 1))
           .select("id", "pos"))
    return merge_window_spans(dup, w)


def exact_substring_dedup(df: DataFrame, w: int = 50,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Remove the duplicated spans :func:`substring_duplicate_spans`
    finds, keeping each passage's canonical (first) occurrence — the
    corpus-rewrite face of ExactSubstr dedup. Returns (id, text,
    n_removed): ``text`` is the NORMALIZED token stream with span
    tokens dropped (the Lee et al. tools operate on the token
    stream, not original bytes — documented contract), ``n_removed``
    the token count cut. Documents with no flagged span pass through
    with their normalized text and n_removed = 0.

    Scale: the spans table is bounded by flagged tokens, groups to
    one small array per affected doc, and joins back broadcast-style
    on the id — the corpus-side cost is the same one token scan."""
    spans = substring_duplicate_spans(df, w, text_col, id_col)
    return apply_span_removal(df, spans, text_col, id_col)


def apply_span_removal(df: DataFrame, spans: DataFrame,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Cut ``[span_start, span_end)`` token spans out of each
    document — the shared rewrite face behind ExactSubstr dedup and
    span-level decontamination. Returns (id, text, n_removed) over
    the NORMALIZED token stream; docs without spans pass through
    with n_removed = 0. The spans table groups to one small array
    per affected doc and joins back on the id; corpus-side cost is
    one token scan."""
    per_doc = spans.groupBy("id").agg(
        F.collect_list(F.struct("span_start", "span_end"))
        .alias("spans"))
    toks_arr = F.filter(F.split(normalize_text(F.col(text_col)), " "),
                        lambda x: x != "")
    base = df.select(F.col(id_col).alias("id"), toks_arr.alias("toks"))
    kept = F.when(F.col("spans").isNull(), F.col("toks")).otherwise(
        F.filter(F.col("toks"), lambda x, i: ~F.exists(
            F.col("spans"),
            lambda s: (i >= s["span_start"]) & (i < s["span_end"]))))
    return (base.join(per_doc, "id", "left")
            .withColumn("kept", kept)
            .select("id",
                    F.concat_ws(" ", F.col("kept")).alias("text"),
                    (F.coalesce(F.size("toks"), F.lit(0))
                     - F.coalesce(F.size("kept"), F.lit(0)))
                    .cast("long").alias("n_removed")))


def benchmark_span_flags(corpus: DataFrame, benchmark: DataFrame,
                         w: int = 20, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Span-LEVEL benchmark contamination (D19): every corpus token
    run of >= w tokens that appears VERBATIM in the benchmark, as
    maximal (id, span_start, span_end, n_windows) spans — the
    surgical complement of document-level decontamination (D7 drops
    whole documents; a 50k-token book quoting one eval question
    should lose the quote, not the book).

    Scale shape — the inverse of the snapshot probes: the BENCHMARK
    is eval-sized, so its window-hash set broadcasts; the corpus
    pays ONE window-hash projection (the substring_window_rows
    kernel, 20-byte rows) and a broadcast semi-join — no corpus
    shuffle at all before the island merge, which only sees flagged
    occurrences."""
    bench_hashes = (substring_window_rows(benchmark, w, text_col,
                                          id_col)
                    .select("whash").distinct())
    hits = (substring_window_rows(corpus, w, text_col, id_col)
            .join(F.broadcast(bench_hashes), "whash", "left_semi")
            .select("id", "pos"))
    return merge_window_spans(hits, w)


def remove_benchmark_spans(corpus: DataFrame, benchmark: DataFrame,
                           w: int = 20, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Rewrite face of :func:`benchmark_span_flags`: corpus documents
    with every benchmark-leaked span cut (id, text, n_removed) —
    decontamination that keeps the document."""
    spans = benchmark_span_flags(corpus, benchmark, w, text_col,
                                 id_col)
    return apply_span_removal(corpus, spans, text_col, id_col)


def SQL_BENCH_SPANS(w: int, corpus_table: str = "documents",
                    bench_table: str = "bench",
                    id_col: str = "doc_id",
                    text_col: str = "text") -> str:
    """DuckDB twin of :func:`benchmark_span_flags` — windows matched
    on the STRING, same island merge."""
    norm = SQL_NORMALIZE.format(x=text_col)
    return f"""
WITH ct AS (
  SELECT {id_col} AS id,
         list_filter(string_split({norm}, ' '), x -> x <> '') AS toks
  FROM {corpus_table}
),
bt AS (
  SELECT list_filter(string_split({norm}, ' '), x -> x <> '') AS toks
  FROM {bench_table}
),
bw AS (
  SELECT DISTINCT array_to_string(toks[pos + 1:pos + {w}], ' ') AS win
  FROM (SELECT toks, unnest(generate_series(0, len(toks) - {w}))
               AS pos
        FROM bt WHERE len(toks) >= {w})
),
cw AS (
  SELECT id, pos, array_to_string(toks[pos + 1:pos + {w}], ' ') AS win
  FROM (SELECT id, toks,
               unnest(generate_series(0, len(toks) - {w})) AS pos
        FROM ct WHERE len(toks) >= {w})
),
d AS (SELECT id, pos FROM cw WHERE win IN (SELECT win FROM bw)),
g AS (
  SELECT id, pos, max(pos + {w}) OVER (
           PARTITION BY id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM d
),
b AS (
  SELECT id, pos,
         CASE WHEN prev_end IS NULL OR pos > prev_end
              THEN 1 ELSE 0 END AS brk
  FROM g
),
i AS (
  SELECT id, pos,
         sum(brk) OVER (PARTITION BY id ORDER BY pos) AS island
  FROM b
)
SELECT id, min(pos)::BIGINT AS span_start,
       (max(pos) + {w})::BIGINT AS span_end,
       count(*)::BIGINT AS n_windows
FROM i GROUP BY id, island
"""


def SQL_SUBSTRING_SPANS(w: int, table: str = "documents",
                        id_col: str = "doc_id",
                        text_col: str = "text") -> str:
    """DuckDB twin of :func:`substring_duplicate_spans` — groups on
    the window STRING (no hash), same occurrence ranking and island
    merge."""
    norm = SQL_NORMALIZE.format(x=text_col)
    return f"""
WITH t AS (
  SELECT {id_col} AS id,
         list_filter(string_split({norm}, ' '), x -> x <> '') AS toks
  FROM {table}
),
w0 AS (
  SELECT id, toks, unnest(generate_series(0, len(toks) - {w})) AS pos
  FROM t WHERE len(toks) >= {w}
),
wn AS (
  SELECT id, pos, array_to_string(toks[pos + 1:pos + {w}], ' ') AS win
  FROM w0
),
m AS (
  SELECT id, pos,
         row_number() OVER (PARTITION BY win ORDER BY id, pos) AS rn,
         count(*) OVER (PARTITION BY win) AS cnt
  FROM wn
),
d AS (SELECT id, pos FROM m WHERE cnt >= 2 AND rn > 1),
g AS (
  SELECT id, pos, max(pos + {w}) OVER (
           PARTITION BY id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM d
),
b AS (
  SELECT id, pos,
         CASE WHEN prev_end IS NULL OR pos > prev_end
              THEN 1 ELSE 0 END AS brk
  FROM g
),
i AS (
  SELECT id, pos,
         sum(brk) OVER (PARTITION BY id ORDER BY pos) AS island
  FROM b
)
SELECT id, min(pos)::BIGINT AS span_start,
       (max(pos) + {w})::BIGINT AS span_end,
       count(*)::BIGINT AS n_windows
FROM i GROUP BY id, island
"""


def save_window_snapshot(df: DataFrame, path: str, w: int = 50,
                         text_col: str = "text",
                         id_col: str = "doc_id",
                         n_files: int = 32) -> dict:
    """Persist the corpus's DISTINCT window hashes — the passage
    snapshot behind incremental ExactSubstr dedup, twin of the
    MinHash band / hamming snapshots: build pays the corpus scan
    once, every later batch probes at batch cost. Layout: ``whash``
    range-partitioned AND sorted — the compact_snapshot discipline.
    Honest scale note: xxhash64 values are UNIFORM, so a probe's
    hash set spans the whole range and parquet min/max stats cannot
    skip files the way the tok-sorted BM25 postings can; what the
    probe actually buys is that the snapshot NEVER SHUFFLES (one
    broadcast semi-join over this narrow 8-byte column scan) and
    that epoch-grown stores stay dedup-compactable on a sorted key.
    The window geometry ``w`` rides a ``<path>_meta`` sidecar so
    probes tokenize with the SNAPSHOT's window size, never a
    caller-supplied one. Returns {n_windows, w}."""
    wins = (substring_window_rows(df, w, text_col, id_col)
            .select("whash").distinct())
    (wins.repartitionByRange(n_files, F.col("whash"))
     .sortWithinPartitions("whash")
     .write.mode("overwrite").parquet(path))
    spark = df.sparkSession
    spark.createDataFrame([(int(w),)], "w int") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(path.rstrip("/") + "_meta")
    return {"n_windows": spark.read.parquet(path).count(),
            "w": int(w)}


def incremental_substring_spans(new_docs: DataFrame, spark,
                                path: str, text_col: str = "text",
                                id_col: str = "doc_id",
                                include_batch: bool = True):
    """Spans of batch documents duplicated against a
    :func:`save_window_snapshot` store (and, with ``include_batch``,
    within the batch itself) — continuous-ingest ExactSubstr: 'which
    passages of today's crawl already exist in the corpus'. Returns
    (spans, fresh_hashes): the maximal flagged spans per batch doc,
    and the batch's window hashes NOT in the snapshot — parquet-
    append ``fresh_hashes`` to grow the store at batch cost (the
    epoch-grow step; append-only, so a failed job leaves the store
    intact).

    Scale shape — the incremental-dedup discipline: the batch's
    window hashes broadcast-semi-join INTO the snapshot scan (the
    snapshot never shuffles; the range layout prunes files by
    footer stats), the collision sliver broadcasts back against the
    batch, and only batch-sized frames reach the island merge. The
    snapshot's own ``w`` rides the ``_meta`` sidecar."""
    w = int(spark.read.parquet(path.rstrip("/") + "_meta")
            .first()["w"])
    wins = (substring_window_rows(new_docs, w, text_col, id_col)
            .localCheckpoint())       # pin BEFORE the store grows
    batch_hashes = wins.select("whash").distinct()
    seen = (spark.read.parquet(path)
            .join(F.broadcast(batch_hashes), "whash", "left_semi")
            .localCheckpoint())
    hits = wins.join(F.broadcast(seen), "whash", "left_semi")
    if include_batch:
        wp = Window.partitionBy("whash")
        batch_dups = (wins
                      .withColumn("rn", F.row_number().over(
                          wp.orderBy("id", "pos")))
                      .withColumn("cnt", F.count(F.lit(1)).over(wp))
                      .filter((F.col("cnt") >= 2) & (F.col("rn") > 1))
                      .select("id", "pos"))
        flagged = (hits.select("id", "pos").unionByName(batch_dups)
                   .distinct())
    else:
        flagged = hits.select("id", "pos").distinct()
    spans = merge_window_spans(flagged, w)
    fresh = batch_hashes.join(F.broadcast(seen), "whash", "left_anti")
    return spans, fresh


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------

def contamination_pairs(corpus: DataFrame, benchmark: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        k: int = 5, min_overlap: int = 1,
                        max_bench_df: int = 100) -> DataFrame:
    """Train/eval contamination check: (corpus doc, benchmark doc) pairs
    sharing at least ``min_overlap`` distinct k-word shingles — the
    standard n-gram decontamination step of LLM training pipelines
    (GPT-3 used 13-gram overlap; default here is k=5 for the short
    synthetic docs).

    Output: ``(id_a, id_b, overlap)`` with ``id_a`` from the corpus,
    ``id_b`` from the benchmark, ``overlap`` = number of shared distinct
    shingles.

    Scale design: the benchmark side is always tiny relative to a
    100 TB corpus (eval suites are MBs), so its shingle table is
    BROADCAST — the corpus side is a single scan + broadcast hash join
    with no corpus shuffle at all; the only shuffle is the pair-count
    aggregation, keyed on (corpus id, benchmark id), which is uniform.
    Shingles appearing in more than ``max_bench_df`` benchmark docs are
    stop-shingles (boilerplate) and excluded, bounding per-corpus-row
    fan-out by ``max_bench_df``.
    """
    c = shingle_rows(corpus, text_col, id_col, k) \
        .withColumnRenamed("id", "id_a")
    b = (shingle_rows(benchmark, text_col, id_col, k)
         .withColumnRenamed("id", "id_b")
         .withColumn("__df", F.count(F.lit(1)).over(Window.partitionBy("s")))
         .filter(F.col("__df") <= max_bench_df)
         .select("id_b", "s"))
    return (c.join(F.broadcast(b), "s")
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("overlap"))
            .filter(F.col("overlap") >= min_overlap))


def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  k: int = 5, min_overlap: int = 1,
                  max_bench_df: int = 100) -> DataFrame:
    """Drop corpus docs flagged by :func:`contamination_pairs` (left
    anti-join on the flagged id set — the removal step of
    decontamination)."""
    flagged = (contamination_pairs(corpus, benchmark, text_col, id_col,
                                   k, min_overlap, max_bench_df)
               .select(F.col("id_a").alias("__flag")).distinct())
    return corpus.join(flagged, corpus[id_col] == flagged["__flag"],
                       "left_anti")


# ---------------------------------------------------------------------------
# incremental dedup (new batch vs corpus snapshot)
# ---------------------------------------------------------------------------

def _content_key(text_col: str) -> Column:
    """Content hash of normalized text, with null text coalesced to ''
    FIRST — the one key definition shared by :func:`content_keys`,
    :func:`snapshot_fresh` and the streaming path. A null-text doc must
    hash to a real key, not NULL: a NULL key never matches in the
    anti-join (so empty docs would re-ingest every batch) while still
    grouping together in the min-id window (collapsing distinct
    null-text docs) — the '' coalesce makes both paths treat all
    empty/null docs as exact duplicates of one another, consistent with
    :func:`shingle_rows`'s null handling."""
    return hash32(normalize_text(F.coalesce(F.col(text_col), F.lit(""))))


def content_keys(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """(id, key) content-hash rows — the snapshot a corpus maintains
    between ingest batches so later batches can dedup against history
    without rereading the corpus. Persist this (one long per doc) and
    feed it back as ``seen`` in :func:`incremental_exact`."""
    return df.select(F.col(id_col).alias("id"),
                     _content_key(text_col).alias("key"))


def snapshot_fresh(new_docs: DataFrame, seen: DataFrame,
                   text_col: str = "text") -> DataFrame:
    """New docs whose normalized content hash is NOT in the snapshot's
    ``key`` column (left anti-join), with the content hash retained as
    ``__k``. The single definition of "already ingested" shared by the
    batch (:func:`incremental_exact`) and streaming
    (``streaming.ops.streaming_incremental_dedup``) paths — the two
    must never diverge on the key or the snapshots they write/read
    stop interoperating."""
    keyed = new_docs.withColumn("__k", _content_key(text_col))
    return keyed.join(seen.select(F.col("key").alias("__k")).distinct(),
                      "__k", "left_anti")


def corpus_diff(old: DataFrame, new: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Snapshot diff between two corpus versions, the data-versioning
    primitive under dataset releases: ``(doc_id, status)`` with status
    in added / removed / changed / unchanged, judged on the SAME
    normalized content key the exact/incremental dedup paths use
    (:func:`_content_key` — whitespace/case noise is not a change).

    Scale design: each side reduces to (id, 32-bit content key) in its
    own scan, then ONE full-outer shuffle join on the id. No text
    moves through the shuffle."""
    o = old.select(F.col(id_col).alias("doc_id"),
                   _content_key(text_col).alias("__ko"))
    n = new.select(F.col(id_col).alias("doc_id"),
                   _content_key(text_col).alias("__kn"))
    status = (F.when(F.col("__ko").isNull(), F.lit("added"))
              .when(F.col("__kn").isNull(), F.lit("removed"))
              .when(F.col("__ko") == F.col("__kn"), F.lit("unchanged"))
              .otherwise(F.lit("changed")))
    return (o.join(n, "doc_id", "full_outer")
            .select("doc_id", status.alias("status")))


def incremental_exact(new_docs: DataFrame, seen: DataFrame,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Exact incremental dedup: drop new docs whose normalized content
    was already ingested (anti-join on the snapshot's ``key`` column),
    then exact-dedup within the batch itself (min-id keep).

    Scale design: two shuffles on the uniform 32-bit content hash — the
    anti-join against the snapshot and the within-batch min-id window.
    The snapshot side carries one long per historical doc, so even a
    billion-doc history is a few GB and AQE will often broadcast it for
    a small incremental batch.
    """
    fresh = snapshot_fresh(new_docs, seen, text_col)
    keep = F.min(id_col).over(Window.partitionBy("__k"))
    return (fresh.withColumn("__keep", keep)
            .filter(F.col(id_col) == F.col("__keep"))
            .drop("__k", "__keep"))


def minhash_band_keys(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 3,
                      n_hashes: int = 16, bands: int = 4,
                      shingles: DataFrame | None = None,
                      max_bucket: int | None = None,
                      cap_mode: str = "keep") -> DataFrame:
    """(id, band, slice) LSH band rows — the near-dup snapshot format:
    a corpus persists its band table; an incremental batch probes it
    for bucket collisions instead of re-pairing the whole corpus.

    ``cap_mode="represent"`` (with ``max_bucket``) shrinks each
    over-cap (band, slice) bucket to its MIN-ID member at build time —
    the flood-proof snapshot mode (the MinHash twin of
    ``hamming_band_keys``' represent mode): a boilerplate flood stays
    one row per band in the store, a later batch/stream copy still
    collides with the representative, and — critically for
    ``streaming_neardup_flags``, whose stream-static join applies NO
    probe-time cap — per-item join fan-out is bounded by the cap
    instead of the flood size. Default ``"keep"`` stores every row
    (probe-time caps then govern)."""
    if cap_mode not in ("keep", "represent"):
        raise ValueError(f"cap_mode must be 'keep' or 'represent', "
                         f"got {cap_mode!r}")
    r = n_hashes // bands
    sigs = minhash_signatures(df, text_col, id_col, k, n_hashes, shingles)
    out = sigs.selectExpr(
        "id",
        "inline(array({}))".format(", ".join(
            f"struct({b} as band, slice(sig, {b * r + 1}, {r}) as slice)"
            for b in range(bands))))
    if cap_mode == "represent" and max_bucket is not None:
        w = Window.partitionBy("band", "slice")
        out = (out.withColumn("__bn", F.count(F.lit(1)).over(w))
               .withColumn("__min", F.min("id").over(w))
               .filter((F.col("__bn") <= max_bucket)
                       | (F.col("id") == F.col("__min")))
               .drop("__bn", "__min"))
    return out


def incremental_neardup_pairs(new_docs: DataFrame, seen_bands: DataFrame,
                              text_col: str = "text",
                              id_col: str = "doc_id", k: int = 3,
                              n_hashes: int = 16, bands: int = 4,
                              max_bucket: int | None = 2000,
                              cap_report: dict | None = None,
                              hot_policy: str = "drop") -> DataFrame:
    """Near-dup candidates BETWEEN a new batch and the corpus snapshot:
    band the batch with the same LSH parameters and equi-join against
    the persisted band table. Output (id_new, id_seen) distinct pairs.

    Unlike :func:`minhash_lsh_pairs` this never self-joins the corpus —
    cost scales with the batch size, not the corpus size, which is what
    makes continuous ingest of a 100 TB corpus tractable: the snapshot
    is first semi-joined to the batch's (band, slice) probe keys (a
    broadcast of a few rows per batch doc), so both the hot-bucket cap
    and the pair join only ever touch snapshot rows in probed buckets.
    The cap applies to the snapshot side (boilerplate buckets); bucket
    counts on the pruned set equal full-table counts because pruning
    keeps or drops whole buckets.

    ``hot_policy="star"``: a batch doc probing an over-cap snapshot
    bucket still flags — against ONE representative (the bucket's
    min-id member) instead of the whole flood, so the pair volume
    stays |batch|-bounded while a new boilerplate copy no longer
    sails past the snapshot unflagged (the drop policy's silent
    recall hole on exactly the densest duplicate clusters)."""
    if hot_policy not in ("drop", "star"):
        raise ValueError(
            f"hot_policy must be 'drop' or 'star', got {hot_policy!r}")
    nb = minhash_band_keys(new_docs, text_col, id_col, k, n_hashes, bands)
    probe_keys = nb.select("band", "slice").distinct()
    sb = seen_bands.join(F.broadcast(probe_keys), ["band", "slice"],
                         "left_semi")
    star = None
    if max_bucket is not None:
        sb = sb.withColumn(
            "__bn", F.count(F.lit(1)).over(Window.partitionBy("band", "slice")))
        if cap_report is not None or hot_policy == "star":
            sb = persist_scoped(sb)
        if cap_report is not None:
            # stats over the PROBED buckets only — the buckets this
            # batch actually loses recall in (pruning keeps or drops
            # whole buckets, so these counts equal full-table counts
            # for every probed bucket)
            cap_report.update(bucket_cap_stats(sb, max_bucket))
        if hot_policy == "star":
            reps = (sb.filter(F.col("__bn") > max_bucket)
                    .groupBy("band", "slice")
                    .agg(F.min("id").alias("id")))
            star = (nb.alias("n").join(
                        reps.alias("s"),
                        (F.col("n.band") == F.col("s.band"))
                        & (F.col("n.slice") == F.col("s.slice")))
                    .select(F.col("n.id").alias("id_new"),
                            F.col("s.id").alias("id_seen")))
        sb = sb.filter(F.col("__bn") <= max_bucket).drop("__bn")
    pairs = (nb.alias("n").join(
                sb.alias("s"),
                (F.col("n.band") == F.col("s.band"))
                & (F.col("n.slice") == F.col("s.slice")))
             .select(F.col("n.id").alias("id_new"),
                     F.col("s.id").alias("id_seen")))
    if star is not None:
        pairs = pairs.unionByName(star)
    return pairs.distinct()


# ---------------------------------------------------------------------------
# D10: Bloom-filter-accelerated incremental dedup
# ---------------------------------------------------------------------------

class BloomFilter:
    """Broadcastable Bloom filter over 64-bit keys, built distributed.

    Build shape (all DataFrame ops): an Arrow ``mapInPandas`` kernel
    turns each partition's keys into its SET (word_idx, word) pairs
    (numpy double hashing, k positions per key, local OR within the
    batch), one ``groupBy(word_idx).agg(bit_or)`` merges partitions,
    and the driver materializes the sparse words into a dense
    ``uint64`` array. The collect is bounded by the FILTER size, not
    the corpus size — a 10^9-key snapshot at 1% fpp is a ~1.2 GB bit
    array, the broadcast cost any engine pays for a bloom join of
    that cardinality (Spark's own runtime-filter bloom joins
    broadcast the same way); the corpus itself never leaves the
    executors.

    Membership math is numpy ``uint64`` double hashing
    (splitmix64-style mixers; index_i = (h1 + i*h2) mod m) executed
    identically at build and probe time, so negatives are CERTAIN —
    the exactness contract of :func:`bloom_snapshot_fresh`."""

    def __init__(self, words, n_bits: int, k: int,
                 n_items: int = 0, capacity: int = 0, fpp: float = 0.01):
        import numpy as np
        self.words = np.asarray(words, dtype=np.uint64)
        self.n_bits = int(n_bits)
        self.k = int(k)
        # capacity = the n the filter was SIZED for; n_items tracks
        # the approximate current fill so callers know when growth has
        # eaten the fpp margin and a refit is due
        self.n_items = int(n_items)
        self.capacity = int(capacity or n_items)
        self.fpp = float(fpp)

    @staticmethod
    def _positions(keys, n_bits: int, k: int):
        import numpy as np
        x = keys.astype(np.uint64, copy=False)
        with np.errstate(over="ignore"):
            h1 = x * np.uint64(0x9E3779B97F4A7C15)
            h1 ^= h1 >> np.uint64(31)
            h1 *= np.uint64(0xBF58476D1CE4E5B9)
            h1 ^= h1 >> np.uint64(27)
            h2 = x * np.uint64(0xC2B2AE3D27D4EB4F)
            h2 ^= h2 >> np.uint64(29)
            h2 |= np.uint64(1)  # odd stride: full cycle mod any m
            i = np.arange(k, dtype=np.uint64)[:, None]
            return (h1[None, :] + i * h2[None, :]) % np.uint64(n_bits)

    @classmethod
    def sizing(cls, n_items: int, fpp: float) -> tuple[int, int]:
        """Standard (m, k): m = -n ln p / ln2^2, k = (m/n) ln2 — with
        floors so a tiny or empty snapshot still yields a valid
        filter."""
        import math as _m
        n = max(1, n_items)
        m = int(_m.ceil(-n * _m.log(fpp) / (_m.log(2) ** 2)))
        m = max(64, (m + 63) // 64 * 64)
        k = max(1, round(m / n * _m.log(2)))
        return m, min(k, 16)

    @classmethod
    def fit(cls, keys_df: DataFrame, key_col: str = "key",
            fpp: float = 0.01, n_items: int | None = None,
            capacity: int | None = None) -> "BloomFilter":
        """Distributed build over ``keys_df[key_col]`` (integral). One
        DISTINCT count job when ``n_items`` isn't supplied (snapshot
        metadata normally carries it) — sizing from a raw count over
        non-distinct keys would oversize m for nothing, since
        duplicate keys set identical bits. ``capacity`` sizes the
        filter for FUTURE growth (continuous ingest adds keys via
        :meth:`add_keys` until capacity is reached, then refits)."""
        import numpy as np
        if n_items is None:
            n_items = keys_df.select(key_col).distinct().count()
        capacity = max(int(n_items), int(capacity or 0))
        n_bits, k = cls.sizing(capacity, fpp)
        dense = np.zeros(n_bits // 64, dtype=np.uint64)
        for r in cls._sparse_words(keys_df, key_col, n_bits, k):
            dense[r["word_idx"]] = np.uint64(r["word"] & 0xFFFFFFFFFFFFFFFF)
        return cls(dense, n_bits, k, n_items=n_items, capacity=capacity,
                   fpp=fpp)

    @classmethod
    def _sparse_words(cls, keys_df: DataFrame, key_col: str,
                      n_bits: int, k: int) -> list:
        """Distributed (word_idx, word) OR-merge of the keys' bit
        positions: an Arrow kernel emits each partition's locally
        OR-ed words, one ``groupBy.bit_or`` merges partitions, and
        the collect is bounded by the FILTER size, never the corpus."""
        import numpy as np
        import pandas as pd

        def kernel(batches):
            for pdf in batches:
                keys = pdf.iloc[:, 0].to_numpy(np.uint64)
                if not len(keys):
                    continue
                pos = np.sort(cls._positions(keys, n_bits, k).ravel())
                bitvals = np.uint64(1) << (pos & np.uint64(63))
                # local OR, fully vectorized: one word row per
                # distinct word per batch via sorted reduceat
                widx, starts = np.unique(pos >> np.uint64(6),
                                         return_index=True)
                words = np.bitwise_or.reduceat(bitvals, starts)
                yield pd.DataFrame({
                    "word_idx": widx.astype(np.int64),
                    "word": words.view(np.int64)})

        return (keys_df.select(F.col(key_col).cast("long"))
                .mapInPandas(kernel, schema="word_idx long, word long")
                .groupBy("word_idx")
                .agg(F.bit_or("word").alias("word"))
                .collect())

    def add_keys(self, keys_df: DataFrame, key_col: str = "key",
                 n_new: int | None = None) -> "BloomFilter":
        """OR new keys' bits into the filter in place (Bloom inserts
        are idempotent unions) — the continuous-ingest grow step:
        batch-sized work, never a snapshot rebuild. ``n_items``
        advances by ``n_new`` (one distinct count when not supplied)
        so callers can watch fill vs :attr:`capacity`; past capacity
        the advertised fpp no longer holds and a refit is due."""
        import numpy as np
        if n_new is None:
            n_new = keys_df.select(key_col).distinct().count()
        for r in self._sparse_words(keys_df, key_col, self.n_bits, self.k):
            self.words[r["word_idx"]] |= np.uint64(
                r["word"] & 0xFFFFFFFFFFFFFFFF)
        self.n_items += int(n_new)
        return self

    # -- persistence: the filter is a snapshot-store artifact ---------
    # Layout: plain parquet, one row per NONZERO word plus one meta
    # row at word_idx = -1 packing (k, n_items, capacity, n_words,
    # fpp_micro) — re-loadable by any Spark/DuckDB reader, no pickle.
    def save(self, spark: SparkSession, path: str) -> None:
        import pandas as pd
        import numpy as np
        nz = np.nonzero(self.words)[0]
        meta = pd.DataFrame({
            "word_idx": [-1, -2, -3, -4, -5],
            "word": [self.k, self.n_items, self.capacity,
                     len(self.words), int(round(self.fpp * 1e6))]})
        body = pd.DataFrame({"word_idx": nz.astype(np.int64),
                             "word": self.words[nz].view(np.int64)})
        (spark.createDataFrame(pd.concat([meta, body], ignore_index=True))
         .write.mode("overwrite").parquet(path))

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "BloomFilter":
        import numpy as np
        rows = spark.read.parquet(path).collect()
        meta = {r["word_idx"]: r["word"] for r in rows if r["word_idx"] < 0}
        n_words = int(meta[-4])
        dense = np.zeros(n_words, dtype=np.uint64)
        for r in rows:
            if r["word_idx"] >= 0:
                dense[r["word_idx"]] = np.uint64(
                    r["word"] & 0xFFFFFFFFFFFFFFFF)
        return cls(dense, n_words * 64, int(meta[-1]),
                   n_items=int(meta[-2]), capacity=int(meta[-3]),
                   fpp=meta[-5] / 1e6)

    def might_contain(self, keys):
        """Vectorized membership: False is CERTAIN absence."""
        import numpy as np
        pos = self._positions(np.asarray(keys, dtype=np.uint64),
                              self.n_bits, self.k)
        bits = (self.words[(pos >> np.uint64(6)).astype(np.int64)]
                >> (pos & np.uint64(63))) & np.uint64(1)
        return bits.all(axis=0)


def bloom_snapshot_fresh(new_docs: DataFrame, seen: DataFrame,
                         text_col: str = "text", fpp: float = 0.01,
                         bloom: BloomFilter | None = None) -> DataFrame:
    """:func:`snapshot_fresh` with a broadcast Bloom pre-filter — the
    continuous-ingest fast path: rows whose content key the filter
    rejects are DEFINITELY unseen and skip the anti-join entirely;
    only the bloom-positive sliver (true dups + ~fpp of the batch)
    shuffles against the snapshot. Same output as
    :func:`snapshot_fresh` row-for-row (bloom negatives are certain;
    positives are confirmed by the exact anti-join) — the filter
    changes the PLAN, never the answer.

    At 100 TB this is the difference between shuffling every
    incremental batch against a 10^9-row snapshot and shuffling ~1%
    of it: the snapshot is read once to build the reusable filter
    (pass ``bloom`` in from the snapshot store on subsequent batches)
    and thereafter only bloom-positive keys touch it."""
    import pandas as pd

    if bloom is None:
        bloom = BloomFilter.fit(seen.select("key").distinct(), "key", fpp)
    spark = new_docs.sparkSession
    bc = spark.sparkContext.broadcast(bloom)

    def _maybe(s):
        import numpy as np
        return pd.Series(bc.value.might_contain(s.to_numpy(np.uint64)))

    # real class objects as annotations: the module-level
    # `from __future__ import annotations` would stringify inline
    # hints into names pyspark's type-hint resolver can't see
    _maybe.__annotations__ = {"s": pd.Series, "return": pd.Series}
    maybe_seen = F.pandas_udf(_maybe, "boolean")

    keyed = (new_docs.withColumn("__k", _content_key(text_col))
             .withColumn("__maybe", maybe_seen(F.col("__k"))))
    definite_new = keyed.filter(~F.col("__maybe")).drop("__maybe")
    confirmed = (keyed.filter(F.col("__maybe")).drop("__maybe")
                 .join(seen.select(F.col("key").alias("__k")).distinct(),
                       "__k", "left_anti"))
    return definite_new.unionByName(confirmed)


def save_hamming_snapshot(banded: DataFrame, path: str,
                          max_hamming: int, n_blocks: int,
                          key_blocks: int | None = None,
                          n_files: int | None = None) -> None:
    """Persist a :func:`hamming_band_keys` table WITH its band
    geometry: the banding parameters are part of the snapshot's
    identity (probing with different geometry silently loses recall),
    so they ride a one-row ``<path>_meta`` sidecar exactly like the
    Bloom store persists its sizing — a later epoch cannot misband.
    Plain parquet, no pickle.

    Layout: range-partitioned + sorted on (band, key) — exactly the
    layout ``compact_snapshot`` produces and the stream-static probe
    (``streaming_image_flags``) depends on: each parquet file covers a
    narrow (band, key) range, so the per-micro-batch equi-join's
    pushed filters prune on footer min/max stats from day one instead
    of after a manual compaction. ``n_files`` pins the file count;
    the default lets AQE right-size the range shuffle (a tiny
    snapshot coalesces to one file, a 10⁹-row one spreads)."""
    parts = ([n_files] if n_files else [])
    (banded.repartitionByRange(*parts, "band", "key")
           .sortWithinPartitions("band", "key")
           .write.mode("overwrite").parquet(path))
    banded.sparkSession.createDataFrame(
        [(int(max_hamming), int(n_blocks),
          int(key_blocks) if key_blocks is not None else None)],
        "max_hamming int, n_blocks int, key_blocks int") \
        .coalesce(1).write.mode("overwrite").parquet(path + "_meta")


def load_hamming_snapshot(spark, path: str):
    """Reload a :func:`save_hamming_snapshot` store. Returns
    ``(banded, geometry)`` where geometry is the kwargs dict to pass
    to :func:`incremental_hamming_pairs` /
    ``streaming_image_flags`` — callers band new batches with the
    snapshot's OWN parameters instead of re-stating them."""
    banded = spark.read.parquet(path)
    m = spark.read.parquet(path + "_meta").first()
    return banded, {"max_hamming": m["max_hamming"],
                    "n_blocks": m["n_blocks"],
                    "key_blocks": m["key_blocks"]}


def minhash_band_plan(threshold: float, max_hashes: int = 64,
                      fp_weight: float = 1.0, fn_weight: float = 1.0,
                      grid: int = 200) -> dict:
    """LSH parameter advisor: choose ``(bands b, rows-per-band r)``
    for a target Jaccard ``threshold`` — the knob users actually
    think in — instead of hand-picking banding geometry. The banded
    collision probability is the classic S-curve
    ``P(s) = 1 - (1 - s^r)^b`` (Leskovec/Rajaraman/Ullman, MMDS
    §3.4); the advisor scores every ``(b, r)`` with ``b·r ≤
    max_hashes`` by the weighted error area — false-positive mass
    ``∫₀ᵗ P(s) ds`` (pairs below the threshold that still collide →
    wasted verification work) plus false-negative mass ``∫ₜ¹ (1-P(s))
    ds`` (true near-dups the banding misses → recall loss) — and
    returns the minimizer. Raise ``fp_weight`` when verification is
    the 100 TB cost center (candidate volume is the thing banding
    exists to bound); raise ``fn_weight`` for recall-critical decon.

    Pure driver arithmetic (≤ ``max_hashes²/2`` candidates × ``grid``
    trapezoid points — milliseconds); nothing touches the corpus.
    Returns ``{bands, rows_per_band, n_hashes, threshold,
    est_threshold, fp_area, fn_area, curve}`` where ``est_threshold =
    (1/b)^(1/r)`` is the curve's inflection and ``curve`` samples
    P(s) at s = 0.1..0.9 so a report can show what the chosen
    geometry actually does."""
    if not (0.0 < threshold < 1.0):
        raise ValueError(
            f"threshold must be in (0, 1), got {threshold}")
    if max_hashes < 2:
        raise ValueError(f"max_hashes must be >= 2, got {max_hashes}")
    best = None
    for r in range(1, max_hashes + 1):
        for b in range(1, max_hashes // r + 1):
            fp = fn = 0.0
            for i in range(grid):
                s = (i + 0.5) / grid
                p = 1.0 - (1.0 - s ** r) ** b
                if s < threshold:
                    fp += p
                else:
                    fn += 1.0 - p
            fp /= grid
            fn /= grid
            cost = fp_weight * fp + fn_weight * fn
            # ties (exact cost match) break toward the cheaper
            # signature, then toward fewer bands (fewer shufflekeys)
            key = (cost, b * r, b)
            if best is None or key < best[0]:
                best = (key, b, r, fp, fn)
    _, b, r, fp, fn = best
    return {"bands": b, "rows_per_band": r, "n_hashes": b * r,
            "threshold": threshold,
            "est_threshold": round((1.0 / b) ** (1.0 / r), 4),
            "fp_area": round(fp, 4), "fn_area": round(fn, 4),
            "curve": {round(0.1 * i, 1):
                      round(1.0 - (1.0 - (0.1 * i) ** r) ** b, 4)
                      for i in range(1, 10)}}


def band_table_geometry(bands: DataFrame) -> tuple[int, int]:
    """Infer ``(bands, n_hashes)`` from a persisted band table's OWN
    rows — rows-per-band is the stored slice length, band count is
    ``max(band) + 1``. Probes and epoch-grow appends MUST band their
    batch with the snapshot's geometry (a mismatched banding silently
    collides with nothing), and inferring it from the data means a
    tuned-geometry snapshot (:func:`minhash_band_plan`) needs no
    sidecar and an old default-geometry snapshot keeps working. One
    column-pruned aggregate over two small columns of the snapshot —
    the probe's semi-join scans the same table anyway."""
    row = bands.agg(F.max(F.size("slice")).alias("r"),
                    F.max("band").alias("bmax")).first()
    if row["r"] is None:
        return 4, 16                      # empty table: the defaults
    b = int(row["bmax"]) + 1
    return b, b * int(row["r"])
