"""Text analysis for training-data pipelines: token counting, quality
scoring, language identification, document fingerprinting.

All pure column expressions (whole-stage codegen; no UDFs) built from
engine-portable primitives so every operator is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from dynamic_etl_pipeline_thesis_ii_spark.operators.dedup import hash32, normalize_text

# Tiny per-language stopword sets for the n-gram/stopword-hit heuristic.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "for", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "fr": ["le", "la", "et", "les", "des", "en", "un", "du", "que", "pour"],
}


def tokens(col: Column) -> Column:
    """Whitespace tokenization of normalized text."""
    return F.split(normalize_text(col), " ")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column) -> Column:
    """Sub-word-ish token estimate: alphanumeric runs + punctuation marks
    each count as one token (a regex stand-in for BPE tokenizers)."""
    return F.size(F.regexp_extract_all(F.lower(col), F.lit(r"[a-z0-9]+|[^a-z0-9\s]"), 0))


def word_list_hits(toks: Column, words: list[str]) -> Column:
    """Count of DISTINCT words from ``words`` present in ``toks``."""
    return F.size(F.array_intersect(
        F.array_distinct(toks), F.array(*[F.lit(w) for w in words])))


def stopword_hits(col: Column, lang: str) -> Column:
    return word_list_hits(tokens(col), LANG_STOPWORDS[lang])


def mean_word_len(toks: Column) -> Column:
    """Unrounded mean token length (callers round per their contract)."""
    return (F.aggregate(toks, F.lit(0.0), lambda a, t: a + F.length(t))
            / F.greatest(F.size(toks), F.lit(1)).cast("double"))


def quality_features(col: Column) -> dict[str, Column]:
    """Length / punctuation / stopword features + a composite score in
    [0,1] (the reference has no text-quality stage; formula documented
    here is the oracle contract)."""
    n_chars = F.length(col)
    toks = tokens(col)
    n_tokens = F.size(toks)
    n_punct = F.size(F.regexp_extract_all(col, F.lit(r"[^\w\s]"), 0))
    punct_ratio = F.round(n_punct.cast("double") / F.greatest(n_chars, F.lit(1)), 6)
    mean_wl = F.round(mean_word_len(toks), 6)
    stop_ratio = F.round(
        stopword_hits(col, "en").cast("double") / F.lit(len(LANG_STOPWORDS["en"])), 6)
    score = F.round(
        F.lit(0.4) * F.least(n_tokens.cast("double") / 100.0, F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - F.least(punct_ratio * 5, F.lit(1.0)))
        + F.lit(0.3) * stop_ratio, 6)
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "punct_ratio": punct_ratio,
        "mean_word_len": mean_wl,
        "stopword_ratio": stop_ratio,
        "quality_score": score,
    }


# The Gopher rule set (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", Table A1) — the
# standard hand-tuned keep/drop gate web corpora are filtered with.
GOPHER_STOPWORDS: list[str] = [
    "the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(col: Column) -> dict[str, Column]:
    """Per-rule boolean flags + the conjunction ``gopher_pass``.

    Token-level rules run on the normalized whitespace tokens (shared
    with every other text operator); line-level rules (bullets,
    ellipsis endings) split the RAW text on newlines, which
    normalization would destroy. Pure column expressions throughout —
    thresholds compare doubles derived from identical integer counts on
    both engines, so the flags are oracle-exact with no rounding
    ladder."""
    toks = tokens(col)
    n_tok = F.size(toks)
    n_tok_d = F.greatest(n_tok, F.lit(1)).cast("double")
    mean_wl = mean_word_len(toks)
    n_symbol = (F.regexp_count(col, F.lit("#"))
                + F.regexp_count(col, F.lit(r"\.\.\."))
                + F.regexp_count(col, F.lit("…")))
    lines = F.split(col, "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    n_bullet = F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]")))
    n_ell_end = F.size(F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$")))
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    stops = word_list_hits(toks, GOPHER_STOPWORDS)
    rules = {
        "g_word_count": (n_tok >= 50) & (n_tok <= 100_000),
        "g_mean_word_len": (mean_wl >= 3.0) & (mean_wl <= 10.0),
        "g_symbol_ratio": n_symbol / n_tok_d <= 0.1,
        "g_bullet_lines": n_bullet / n_lines <= 0.9,
        "g_ellipsis_lines": n_ell_end / n_lines <= 0.3,
        "g_alpha_words": n_alpha / n_tok_d >= 0.8,
        "g_stopwords": stops >= 2,
    }
    gate = F.lit(True)
    for r in rules.values():
        gate = gate & r
    rules["gopher_pass"] = gate
    return rules


def SQL_GOPHER_RULES(x: str) -> dict[str, str]:
    """DuckDB twins of :func:`gopher_rules` (same counts, same
    thresholds, same null propagation)."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.dedup import SQL_NORMALIZE
    toks = f"string_split({SQL_NORMALIZE.format(x=x)}, ' ')"
    n_tok = f"len({toks})"
    n_tok_d = f"greatest({n_tok}, 1)::double"
    mean_wl = (f"(list_sum(list_transform({toks}, t -> length(t)))::double"
               f" / {n_tok_d})")
    n_symbol = (f"(len(regexp_extract_all({x}, '#'))"
                f" + len(regexp_extract_all({x}, '\\.\\.\\.'))"
                f" + len(regexp_extract_all({x}, '…')))")
    lines = f"string_split({x}, chr(10))"
    n_lines = f"greatest(len({lines}), 1)::double"
    n_bullet = (f"len(list_filter({lines},"
                f" l -> regexp_matches(l, '^\\s*[-*•]')))")
    n_ell_end = (f"len(list_filter({lines},"
                 f" l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$')))")
    n_alpha = f"len(list_filter({toks}, t -> regexp_matches(t, '[a-z]')))"
    stop_list = "[" + ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS) + "]"
    stops = f"len(list_intersect(list_distinct({toks}), {stop_list}))"
    rules = {
        "g_word_count": f"({n_tok} >= 50 AND {n_tok} <= 100000)",
        "g_mean_word_len": f"({mean_wl} >= 3.0 AND {mean_wl} <= 10.0)",
        "g_symbol_ratio": f"({n_symbol} / {n_tok_d} <= 0.1)",
        "g_bullet_lines": f"({n_bullet} / {n_lines} <= 0.9)",
        "g_ellipsis_lines": f"({n_ell_end} / {n_lines} <= 0.3)",
        "g_alpha_words": f"({n_alpha} / {n_tok_d} >= 0.8)",
        "g_stopwords": f"({stops} >= 2)",
    }
    rules["gopher_pass"] = "(" + " AND ".join(rules.values()) + ")"
    return rules


def lang_id(col: Column) -> Column:
    """Stopword-hit argmax over the language table; ties break by
    language code order (deterministic); no hits → 'und'."""
    best_lang = F.lit("und")
    best_hits = F.lit(0)
    for lang in sorted(LANG_STOPWORDS):
        # alphabetical iteration + strict > : earliest language wins ties
        h = stopword_hits(col, lang)
        cond = h > best_hits
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(cond, h).otherwise(best_hits)
    return best_lang


def _char_ngrams(text: Column, n: int) -> Column:
    """Char n-grams of lowercased, whitespace-collapsed text (array;
    empty for texts shorter than n)."""
    t = F.trim(F.regexp_replace(F.lower(F.coalesce(text, F.lit(""))),
                                r"\s+", " "))
    hi = F.length(t) - (n - 1)
    # transform over a position sequence keeps this a pure expression
    # (Column.substr accepts Column start/length). The hi >= 1 guard
    # matters: Spark's sequence(1, 0) counts DOWN, it isn't empty.
    return F.when(hi >= 1, F.transform(
        F.sequence(F.lit(1), hi), lambda i: t.substr(i, F.lit(n)))) \
        .otherwise(F.array().cast("array<string>"))


def train_lang_ngrams(df, text_col: str = "text", lang_col: str = "lang",
                      n: int = 3, top_k: int = 500):
    """Char-n-gram language profiles (Cavnar & Trenkle's textcat
    method, re-expressed as a naive-Bayes weight table instead of
    rank out-of-place so classification stays one join + one
    aggregate): per language, the add-one-smoothed log p(gram|lang)
    over its ``top_k`` most frequent char n-grams. Returns
    ``(weights_df, floors)`` — a (gram, lang, logp) DataFrame meant
    to be BROADCAST (|langs|·top_k rows, vocabulary-sized) and a
    per-language OOV floor dict.

    Scale shape: ONE distributed (lang, gram) count shuffle over the
    labeled corpus; the per-lang ranking window partitions by
    language over the count table; only the top-k profile rows reach
    the driver. Trains on a labeled sample, classifies everywhere —
    the same train-once contract as the quality classifier."""
    import math as _math

    from pyspark.sql import Window as _W

    ex = df.select(F.col(lang_col).alias("lang"),
                   F.explode(_char_ngrams(F.col(text_col), n))
                   .alias("gram"))
    counts = ex.groupBy("lang", "gram").agg(F.count(F.lit(1)).alias("c"))
    w = _W.partitionBy("lang").orderBy(F.desc("c"), "gram")
    top = (counts.withColumn("__rn", F.row_number().over(w))
           .filter(F.col("__rn") <= top_k).select("lang", "gram", "c")
           .collect())
    vocab = len({r["gram"] for r in top})
    totals: dict[str, int] = {}
    for r in top:
        totals[r["lang"]] = totals.get(r["lang"], 0) + r["c"]
    rows = [(r["gram"], r["lang"],
             _math.log((r["c"] + 1) / (totals[r["lang"]] + vocab)))
            for r in top]
    floors = {lang: _math.log(1.0 / (t + vocab))
              for lang, t in totals.items()}
    weights_df = df.sparkSession.createDataFrame(
        rows, "gram string, lang string, logp double")
    return weights_df, floors


def lang_id_ngram(df, weights_df, floors: dict, text_col: str = "text",
                  id_col: str = "doc_id", n: int = 3):
    """Classify every document with trained n-gram profiles:
    ``(id, lang, score)`` where lang = argmax over languages of
    sum(matched logp) + (n_grams − matched)·floor(lang) — naive
    Bayes with per-language OOV floors, so a language can't win just
    by matching fewer grams. One explode scan, one BROADCAST join of
    the vocabulary-sized weight table, one per-(doc, lang) aggregate;
    ties and no-gram/no-match docs resolve deterministically
    (alphabetically-earliest language / 'und')."""
    base = (df.select(F.col(id_col).alias("id"),
                      _char_ngrams(F.col(text_col), n).alias("__g"))
            .select("id", F.size("__g").alias("__total"),
                    F.explode_outer("__g").alias("gram")))
    floor_map = F.create_map(*[F.lit(x) for lang in sorted(floors)
                               for x in (lang, floors[lang])])
    per = (base.join(F.broadcast(weights_df), "gram")
           .groupBy("id", "__total", "lang")
           .agg(F.sum("logp").alias("__s"), F.count(F.lit(1)).alias("__c"))
           .withColumn("score", F.round(
               F.col("__s") + (F.col("__total") - F.col("__c"))
               * floor_map[F.col("lang")], 6)))
    # struct min: largest score wins, ties -> smallest language code
    best = (per.groupBy("id")
            .agg(F.min(F.struct((-F.col("score")).alias("ns"),
                                F.col("lang").alias("lang"))).alias("b"))
            .select("id", F.col("b.lang").alias("lang"),
                    (-F.col("b.ns")).alias("score")))
    ids = df.select(F.col(id_col).alias("id")).distinct()
    return (ids.join(best, "id", "left")
            .select("id", F.coalesce("lang", F.lit("und")).alias("lang"),
                    "score"))


def fingerprint(col: Column) -> Column:
    """Order-sensitive rolling hash over word hashes:
    acc = (acc * 131 + hash32(word)) mod 1e9+7 — integer-exact in any
    engine, stable under whitespace normalization."""
    return F.aggregate(
        tokens(col),
        F.lit(0).cast("long"),
        lambda acc, t: (acc * 131 + hash32(t)) % F.lit(1000000007),
    )


# PII patterns restricted to syntax shared by Java regex (Spark) and
# RE2 (DuckDB) so the scrub is exactly oracle-checkable. Order matters:
# emails first (they contain dots+digits), SSN-shaped before phone.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("EMAIL", r"[\w.+-]+@[\w-]+\.[\w.-]+"),
    ("SSN", r"\b\d{3}-\d{2}-\d{4}\b"),
    ("PHONE", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"),
    ("IPV4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
)


def pii_scrub(col: Column,
              patterns: tuple[tuple[str, str], ...] = PII_PATTERNS,
              ) -> dict[str, Column]:
    """PII redaction for training corpora: each pattern is counted on
    the progressively-scrubbed text (so a match consumed by an earlier
    pattern is never double-counted) and replaced with its ``<TAG>``
    placeholder. Pure ``regexp_replace``/``regexp_extract_all`` column
    expressions — whole-stage codegen, one scan, no UDFs."""
    scrubbed = col
    total: Column = F.lit(0)
    for tag, pattern in patterns:
        total = total + F.size(F.regexp_extract_all(scrubbed, F.lit(pattern), 0))
        scrubbed = F.regexp_replace(scrubbed, pattern, f"<{tag}>")
    return {"text_scrubbed": scrubbed, "pii_count": total.cast("long")}


def SQL_PII_SCRUB(x: str,
                  patterns: tuple[tuple[str, str], ...] = PII_PATTERNS,
                  ) -> tuple[str, str]:
    """DuckDB twin of :func:`pii_scrub`: (scrubbed_expr, count_expr)."""
    scrubbed = x
    counts = []
    for tag, pattern in patterns:
        counts.append(f"len(regexp_extract_all({scrubbed}, '{pattern}'))")
        scrubbed = f"regexp_replace({scrubbed}, '{pattern}', '<{tag}>', 'g')"
    return scrubbed, "(" + " + ".join(counts) + ")"


def token_rows(df, text_col: str = "text", id_col: str = "doc_id"):
    """Explode normalized whitespace tokens to (id, token) rows — the
    shared first stage of the corpus-statistics operators below. One
    narrow scan; everything downstream is hash aggregates."""
    return (df.select(F.col(id_col).alias("id"),
                      F.explode(tokens(F.col(text_col))).alias("tok"))
            .filter(F.col("tok") != ""))


def tfidf_top_terms(df, text_col: str = "text", id_col: str = "doc_id",
                    k: int = 5, broadcast_vocab: bool = True):
    """Per-document top-k TF-IDF terms — the classic corpus-relevance
    signal for boilerplate detection and topic sampling.

    idf = ln((N+1)/(df+1)) + 1 (smoothed); score = tf * idf, rounded
    to 6 dp BEFORE ranking so the (score desc, term asc) order — and
    therefore the selected rows — is engine-exact.

    Scale shape: three hash aggregates; the doc count N is a LAZY
    1-row scalar reduce cross-joined in via broadcast (no eager job at
    construction). The ``tf ⋈ df`` join keys on the token — a classic
    hot-key join (stopwords) — so the vocab-sized df side broadcasts by
    default, turning it into a skew-immune map-side join; set
    ``broadcast_vocab=False`` for corpora whose vocabulary outgrows the
    broadcast budget and rely on AQE skew-join splitting instead. The
    per-doc ranking window shuffles on the document id, which is the
    natural partitioning of every downstream consumer."""
    toks = token_rows(df, text_col, id_col)
    n_docs = df.agg(F.count_distinct(F.col(id_col)).alias("__n_docs"))
    tf = toks.groupBy("id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    # df == tf's per-tok row count (one row per (id, tok)): deriving
    # it from tf shares the (id, tok) exchange via ReuseExchange —
    # one corpus tokenize pass instead of two. Exact integer counts.
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    if broadcast_vocab:
        dfreq = F.broadcast(dfreq)
    scored = (tf.join(dfreq, "tok")
              .crossJoin(F.broadcast(n_docs))
              .withColumn("tfidf", F.round(
                  F.col("tf") * (F.log((F.col("__n_docs") + 1)
                                       / (F.col("df") + 1))
                                 + F.lit(1.0)), 6))
              .drop("__n_docs"))
    w = Window.partitionBy("id").orderBy(F.col("tfidf").desc(),
                                         F.col("tok").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("id", "rank", "tok", "tf", "df", "tfidf"))


def bm25_topk(df, queries, text_col: str = "text", id_col: str = "doc_id",
              query_id_col: str = "query_id",
              query_text_col: str = "query_text",
              k1: float = 1.2, b: float = 0.75, k: int = 10,
              broadcast_vocab: bool = True):
    """Per-query BM25 top-k retrieval over the corpus — the sparse
    lexical complement of the dense ANN tier (N1-N9): quality-by-
    retrievability scoring, retrieval-based decontamination, and
    RAG-corpus selection all reduce to "score every document against
    a query set and keep the best k".

    Okapi BM25 with the Lucene non-negative idf:
    ``idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))``, per-term
    contribution ``idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))``
    rounded to 6 dp, per-(query, doc) sum rounded to 4 dp BEFORE the
    (bm25 desc, id asc) ranking — the same engine-exactness ladder as
    :func:`bigram_logprob`. ``N``/``avgdl`` count documents with >= 1
    token (empty docs can never score, so they don't dilute avgdl).
    Distinct query terms score once each (standard qtf=1 BM25).

    Scale shape: the query set is eval-sized and BROADCASTS into the
    tf frame — the corpus never shuffles on anything but its own
    (id, tok) aggregate; the candidate frame after that semi-join is
    bounded by the df of the query's terms, not by N. The df side is
    vocab-sized (broadcast by default, ``broadcast_vocab=False`` +
    AQE for open-vocab corpora), N/avgdl ride one lazy 1-row scalar
    broadcast, and the final top-k window partitions on query_id —
    bounded work because only term-matching docs reach it. No
    per-row Python anywhere."""
    toks = token_rows(df, text_col, id_col)
    tf = toks.groupBy("id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    # dl, stats and df are all RE-aggregations of tf (sum of tf per
    # id == token count per id; tf has one row per (id, tok) so its
    # per-tok row count == document frequency), so every consumer
    # shares tf's (id, tok) exchange via ReuseExchange: the corpus
    # is scanned + tokenized + shuffled ONCE instead of five times.
    # Exact integer counts — values identical to the direct forms.
    dl = tf.groupBy("id").agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    stats = dl.agg(F.count(F.lit(1)).alias("__n_docs"),
                   F.avg("dl").alias("__avgdl"))
    if broadcast_vocab:
        dfreq = F.broadcast(dfreq)
    qterms = (queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(tokens(F.col(query_text_col))).alias("tok"))
        .filter(F.col("tok") != "").distinct())
    idf = F.log(F.lit(1.0) + (F.col("__n_docs") - F.col("df")
                              + F.lit(0.5)) / (F.col("df") + F.lit(0.5)))
    denom = (F.col("tf") + F.lit(k1)
             * (F.lit(1.0) - F.lit(b)
                + F.lit(b) * F.col("dl") / F.col("__avgdl")))
    contrib = F.round(idf * (F.col("tf") * F.lit(k1 + 1.0)) / denom, 6)
    scored = (tf.join(F.broadcast(qterms), "tok")
              .join(dfreq, "tok")
              .join(dl, "id")
              .crossJoin(F.broadcast(stats))
              .withColumn("contrib", contrib)
              .groupBy("query_id", "id")
              .agg(F.round(F.sum("contrib"), 4).alias("bm25"),
                   F.count(F.lit(1)).alias("n_terms")))
    w = Window.partitionBy("query_id").orderBy(F.col("bm25").desc(),
                                               F.col("id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "id", "bm25", "n_terms"))


def save_bm25_index(df, path: str, text_col: str = "text",
                    id_col: str = "doc_id", n_files: int = 32) -> dict:
    """Persist the BM25 inverted index — the retrieval twin of the
    ANN index / Bloom / band-snapshot stores: build once (the
    expensive corpus scan), search every later query batch at
    QUERY cost, never corpus cost.

    Layout: ``<path>/tf`` (id, tok, tf) range-partitioned AND sorted
    on ``tok`` so parquet min/max footer stats prune a term lookup to
    the files actually holding that term (the same layout discipline
    as ``save_hamming_snapshot``); ``<path>/df`` (tok, df) the
    vocab-sized table; ``<path>/dl`` (id, dl) doc lengths;
    ``<path>/stats`` the 1-row (n_docs, avgdl, sum_dl) scalar.

    Every sidecar is MERGEABLE by design so :func:`append_bm25_index`
    can grow the store at batch cost: df rows fold by ``sum(df)
    GROUP BY tok``, stats rows fold by summing ``n_docs``/``sum_dl``
    (the integer sum makes the merged avgdl exact — avg-of-avgs
    would not be), and tf/dl are pure per-doc appends. Returns
    {n_docs, n_postings, n_terms}."""
    toks = token_rows(df, text_col, id_col)
    tf = toks.groupBy("id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    (tf.repartitionByRange(n_files, F.col("tok"))
     .sortWithinPartitions("tok")
     .write.mode("overwrite").parquet(path.rstrip("/") + "/tf"))
    dfreq = (toks.select("id", "tok").distinct()
             .groupBy("tok").agg(F.count(F.lit(1)).alias("df")))
    dfreq.write.mode("overwrite").parquet(path.rstrip("/") + "/df")
    dl = toks.groupBy("id").agg(F.count(F.lit(1)).alias("dl"))
    dl.write.mode("overwrite").parquet(path.rstrip("/") + "/dl")
    spark = df.sparkSession
    dl_back = spark.read.parquet(path.rstrip("/") + "/dl")
    stats = dl_back.agg(F.count(F.lit(1)).alias("n_docs"),
                        F.avg("dl").alias("avgdl"),
                        F.sum("dl").alias("sum_dl"))
    stats.write.mode("overwrite").parquet(path.rstrip("/") + "/stats")
    return {"n_docs": dl_back.count(),
            "n_postings": spark.read.parquet(
                path.rstrip("/") + "/tf").count(),
            "n_terms": spark.read.parquet(
                path.rstrip("/") + "/df").count()}


def search_bm25_index(spark, path: str, queries,
                      query_id_col: str = "query_id",
                      query_text_col: str = "query_text",
                      k1: float = 1.2, b: float = 0.75,
                      k: int = 10):
    """Search a :func:`save_bm25_index` store: IDENTICAL scores and
    rounding ladder to :func:`bm25_topk` (parity pinned in tests),
    but the corpus never rescans — the term filter pushes into the
    tok-sorted tf parquet, so a query batch touches only the files
    whose min/max tok range covers its terms. The df/dl/stats sides
    broadcast (vocab-/corpus-row-sized respectively; dl is the one
    id-keyed join and stays a shuffle join past broadcast size)."""
    qterms = (queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(tokens(F.col(query_text_col))).alias("tok"))
        .filter(F.col("tok") != "").distinct())
    terms = [r["tok"] for r in qterms.select("tok").distinct().collect()]
    tf = (spark.read.parquet(path.rstrip("/") + "/tf")
          .filter(F.col("tok").isin(terms)))
    # the df/stats sidecars are append-grown by append_bm25_index:
    # fold them here (sum per tok; integer dl sums -> exact merged
    # avgdl) so a store at epoch N answers with epoch-N corpus stats.
    # On a fresh single-epoch store both folds are identity.
    dfreq = F.broadcast(
        spark.read.parquet(path.rstrip("/") + "/df")
        .groupBy("tok").agg(F.sum("df").alias("df")))
    dl = spark.read.parquet(path.rstrip("/") + "/dl")
    stats_raw = spark.read.parquet(path.rstrip("/") + "/stats")
    if "sum_dl" not in stats_raw.columns:    # pre-append-era store
        stats_raw = stats_raw.withColumn(
            "sum_dl", F.col("n_docs") * F.col("avgdl"))
    stats = stats_raw.agg(
        F.sum("n_docs").alias("__n_docs"),
        (F.sum("sum_dl") / F.sum("n_docs")).alias("__avgdl"))
    idf = F.log(F.lit(1.0) + (F.col("__n_docs") - F.col("df")
                              + F.lit(0.5)) / (F.col("df") + F.lit(0.5)))
    denom = (F.col("tf") + F.lit(k1)
             * (F.lit(1.0) - F.lit(b)
                + F.lit(b) * F.col("dl") / F.col("__avgdl")))
    contrib = F.round(idf * (F.col("tf") * F.lit(k1 + 1.0)) / denom, 6)
    scored = (tf.join(F.broadcast(qterms), "tok")
              .join(dfreq, "tok")
              .join(dl, "id")
              .crossJoin(F.broadcast(stats))
              .withColumn("contrib", contrib)
              .groupBy("query_id", "id")
              .agg(F.round(F.sum("contrib"), 4).alias("bm25"),
                   F.count(F.lit(1)).alias("n_terms")))
    w = Window.partitionBy("query_id").orderBy(F.col("bm25").desc(),
                                               F.col("id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "id", "bm25", "n_terms"))


def append_bm25_index(spark, path: str, df, text_col: str = "text",
                      id_col: str = "doc_id", n_files: int = 8) -> dict:
    """Grow a :func:`save_bm25_index` store by one document batch —
    the lexical epoch-N+1 step, twin of Bloom ``add_keys`` / ANN
    ``ivfpq_append``: the batch pays ITS OWN tokenize/aggregate cost
    and the existing corpus never rescans.

    Every write is a parquet APPEND (new files only, through the
    commit protocol — a failed job leaves the store intact): fresh
    postings land in ``/tf`` tok-sorted like the build's (footer
    pruning holds file-by-file), the batch's per-term df rows land in
    ``/df`` as DELTAS and its (n_docs, avgdl, sum_dl) as one more
    ``/stats`` row — :func:`search_bm25_index` folds both sidecars at
    query time (vocab-sized + O(epochs) work), so a search after
    append scores with the merged corpus statistics and equals a
    full rebuild EXACTLY (integer df/dl sums, no avg-of-avgs; parity
    pinned in tests). Old docs' scores legitimately move across
    epochs — idf and avgdl are corpus-level quantities.

    Already-indexed ids are skipped, not double-counted: the id-only
    projection of ``/dl`` is semi-joined against the broadcast batch
    id set (collision-sized output), and the batch anti-joins that —
    the incremental-dedup broadcast-prune discipline, never a
    corpus-side shuffle. Returns {n_batch, n_skipped_existing,
    n_new_docs, n_new_postings}."""
    base = path.rstrip("/")
    batch = df.select(F.col(id_col).alias("id"),
                      F.col(text_col).alias(text_col))
    batch_ids = batch.select("id").distinct()
    collide = (spark.read.parquet(base + "/dl").select("id")
               .join(F.broadcast(batch_ids), "id", "left_semi")
               .localCheckpoint())    # pin BEFORE the store mutates
    fresh = (batch.join(F.broadcast(collide), "id", "left_anti")
             .localCheckpoint())
    n_batch = batch_ids.count()
    n_collide = collide.count()
    toks = token_rows(fresh, text_col, "id")
    tf = toks.groupBy("id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    (tf.repartitionByRange(n_files, F.col("tok"))
     .sortWithinPartitions("tok")
     .write.mode("append").parquet(base + "/tf"))
    dfreq = (toks.select("id", "tok").distinct()
             .groupBy("tok").agg(F.count(F.lit(1)).alias("df")))
    dfreq.write.mode("append").parquet(base + "/df")
    dl = toks.groupBy("id").agg(F.count(F.lit(1)).alias("dl"))
    dl.write.mode("append").parquet(base + "/dl")
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                   F.avg("dl").alias("avgdl"),
                   F.sum("dl").alias("sum_dl"))
    n_new = stats.first()
    if n_new["n_docs"] > 0:           # all-dup batch: no stats row
        stats.write.mode("append").parquet(base + "/stats")
    return {"n_batch": n_batch,
            "n_skipped_existing": n_collide,
            "n_new_docs": n_new["n_docs"] or 0,
            "n_new_postings": tf.count()}


def SQL_BM25_TOPK(queries: list, table: str = "documents",
                  id_col: str = "doc_id", text_col: str = "text",
                  k1: float = 1.2, b: float = 0.75, k: int = 10) -> str:
    """DuckDB twin of :func:`bm25_topk` (same idf, same rounding
    ladder, same expression association). ``queries`` is a list of
    (query_id, query_text) literals — the broadcast side inlined as a
    VALUES CTE."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.dedup import (
        SQL_NORMALIZE,
    )
    toks = (f"SELECT {id_col} AS id, unnest(string_split("
            f"{SQL_NORMALIZE.format(x=text_col)}, ' ')) AS tok "
            f"FROM {table}")
    vals = ", ".join(f"({qid}, '{qtext}')" for qid, qtext in queries)
    return f"""
WITH toks AS (SELECT * FROM ({toks}) WHERE tok <> ''),
dl AS (SELECT id, count(*)::BIGINT AS dl FROM toks GROUP BY id),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT id, tok, count(*)::BIGINT AS tf FROM toks GROUP BY id, tok),
dfreq AS (SELECT tok, count(DISTINCT id)::BIGINT AS df FROM toks GROUP BY tok),
q(query_id, query_text) AS (VALUES {vals}),
qterms AS (
  SELECT * FROM (
    SELECT DISTINCT query_id, unnest(string_split(
      {SQL_NORMALIZE.format(x='query_text')}, ' ')) AS tok FROM q
  ) WHERE tok <> ''
),
scored AS (
  SELECT qterms.query_id, tf.id,
         round(sum(round(
           ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * {k1 + 1.0!r}) / (tf.tf + {k1!r}
              * (1.0 - {b!r} + {b!r} * dl.dl / stats.avgdl)), 6)), 4)
           AS bm25,
         count(*)::BIGINT AS n_terms
  FROM tf JOIN qterms USING (tok) JOIN dfreq USING (tok)
       JOIN dl ON tf.id = dl.id CROSS JOIN stats
  GROUP BY qterms.query_id, tf.id
),
ranked AS (
  SELECT query_id, id, bm25, n_terms,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY bm25 DESC, id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, id, bm25, n_terms FROM ranked WHERE rank <= {k}
"""


def vocab_oov(df, text_col: str = "text", id_col: str = "doc_id",
              vocab_size: int = 1000):
    """Vocabulary induction + per-document OOV rate: the top
    ``vocab_size`` corpus tokens (by count, term-asc tie-break) form
    the vocab; each document reports its fraction of out-of-vocab
    token OCCURRENCES. The induced vocab is a count aggregate + top-k
    (broadcastable at any realistic vocab size); the per-doc pass is
    one aggregate over the exploded tokens with a broadcast semi-join
    against the vocab."""
    toks = token_rows(df, text_col, id_col)
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    # global top-V via orderBy+limit -> TakeOrderedAndProject (per-
    # partition top-V + single merge), NOT a single-partition window
    vocab = (counts.orderBy(F.col("n").desc(), F.col("tok").asc())
             .limit(vocab_size).select("tok"))
    flagged = toks.join(F.broadcast(vocab.withColumn("__in", F.lit(1))),
                        "tok", "left")
    return (flagged.groupBy("id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.round(F.sum(F.when(F.col("__in").isNull(), 1)
                               .otherwise(0)) / F.count(F.lit(1)), 6)
                 .alias("oov_rate")))


def unigram_logprob(df, text_col: str = "text", id_col: str = "doc_id",
                    broadcast_vocab: bool = True):
    """Per-document mean unigram log-probability under the corpus's own
    (add-one-smoothed) unigram distribution — the standard cheap LM
    quality score: gibberish and boilerplate-heavy documents sit in the
    tails. P(tok) = (count(tok)+1) / (total+|V|); the per-token log is
    rounded to 6 dp before averaging so the mean is engine-exact.

    Scale shape: two hash aggregates (corpus counts, per-doc mean); the
    (total, |V|) normalizer is a LAZY 1-row scalar reduce cross-joined
    via broadcast — no eager job at construction. The tokens ⋈ logp
    join keys on the token (stopword hot keys), so the vocab-sized logp
    side broadcasts by default — skew-immune; ``broadcast_vocab=False``
    falls back to a shuffle join under AQE skew splitting for
    outsized vocabularies. The final aggregate shuffles on the doc
    id."""
    toks = token_rows(df, text_col, id_col)
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    totals = counts.agg(F.sum("n").alias("total"),
                        F.count(F.lit(1)).alias("v"))
    logp = F.round(F.log((F.col("n") + 1)
                         / (F.col("total") + F.col("v")).cast("double")), 6)
    logp_tbl = (counts.crossJoin(F.broadcast(totals))
                .withColumn("logp", logp).select("tok", "logp"))
    if broadcast_vocab:
        logp_tbl = F.broadcast(logp_tbl)
    return (toks.join(logp_tbl, "tok")
            .groupBy("id")
            # the mean is rounded one notch coarser (4 dp) than the
            # per-token logps (6 dp): float summation ORDER differs per
            # engine, and a 6-dp boundary sits within that error for
            # ~1/1e6 docs
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.round(F.avg("logp"), 4).alias("mean_logprob")))


def bigram_rows(df, text_col: str = "text", id_col: str = "doc_id"):
    """(id, w1, w2) consecutive-token pair rows — one scan via
    arrays_zip of two shifted slices, no self-join. Docs with fewer
    than two tokens produce no rows."""
    words = F.split(normalize_text(F.coalesce(F.col(text_col),
                                              F.lit(""))), " ")
    ln = F.greatest(F.size(words) - 1, F.lit(0))
    zipped = F.arrays_zip(F.slice(words, 1, ln).alias("w1"),
                          F.slice(words, 2, ln).alias("w2"))
    return (df.select(F.col(id_col).alias("id"),
                      F.explode(zipped).alias("bg"))
            .select("id", F.col("bg.w1").alias("w1"),
                    F.col("bg.w2").alias("w2")))


def bigram_logprob(df, text_col: str = "text", id_col: str = "doc_id",
                   pairs=None):
    """Per-document mean CONDITIONAL bigram log-probability with
    add-one smoothing — the next step up from :func:`unigram_logprob`
    in the CCNet-style LM-quality ladder (word-salad text scores like
    its unigrams; real prose scores higher because its transitions
    repeat): ``p(w2|w1) = (c(w1 w2) + 1) / (c(w1·) + |V|)`` with
    ``c(w1·)`` the bigram-prefix count and ``|V|`` the distinct
    continuation vocabulary. Per-pair logs are rounded to 6 dp before
    averaging (4 dp), same engine-exactness discipline as the unigram
    scorer. Output: ``(id, n_bigrams, mean_bigram_logprob)``; docs
    with < 2 tokens have no rows — callers left-join.

    Scale shape: the pair frame feeds FOUR consumers (bigram counts,
    prefix counts, the |V| scalar, and the final join's left side) —
    pass ``pairs`` as a PERSISTED :func:`bigram_rows` frame so the
    corpus scans/explodes once (q_text_corpus_stats does, via its
    scoped-cache convention); unpersisted, each consumer re-derives
    the explosion. Two hash aggregates, a lazy 1-row |V| scalar
    broadcast, and the pairs ⋈ logp join keyed on the bigram — unlike
    the unigram logp table, the bigram table can exceed broadcast size
    at corpus scale, so it stays a shuffle join on near-uniform
    (w1, w2) keys."""
    if pairs is None:
        pairs = bigram_rows(df, text_col, id_col)
    c2 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))
    c1 = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("n1"))
    v = pairs.agg(F.countDistinct("w2").alias("v"))
    logp = F.round(F.log((F.col("n2") + 1)
                         / (F.col("n1") + F.col("v")).cast("double")), 6)
    logp_tbl = (c2.join(c1, "w1").crossJoin(F.broadcast(v))
                .withColumn("logp", logp)
                .select("w1", "w2", "logp"))
    return (pairs.join(logp_tbl, ["w1", "w2"])
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.round(F.avg("logp"), 4).alias("mean_bigram_logprob")))


def SQL_BIGRAM_LOGPROB(table: str = "documents", id_col: str = "doc_id",
                       text_col: str = "text") -> str:
    """DuckDB twin of :func:`bigram_logprob` (same smoothing, same
    rounding ladder; parallel unnest of the two shifted slices)."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.dedup import (
        SQL_NORMALIZE,
    )
    toks = f"string_split({SQL_NORMALIZE.format(x=text_col)}, ' ')"
    return f"""
WITH t AS (SELECT {id_col} AS id, {toks} AS toks FROM {table}),
bg AS (
  SELECT id, unnest(toks[1:len(toks) - 1]) AS w1,
         unnest(toks[2:len(toks)]) AS w2
  FROM t WHERE len(toks) >= 2
),
c2 AS (SELECT w1, w2, count(*)::BIGINT AS n2 FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, count(*)::BIGINT AS n1 FROM bg GROUP BY w1),
vv AS (SELECT count(DISTINCT w2)::BIGINT AS v FROM bg),
logp AS (
  SELECT c2.w1, c2.w2,
         round(ln((n2 + 1) / (n1 + vv.v)::DOUBLE), 6) AS logp
  FROM c2 JOIN c1 USING (w1) CROSS JOIN vv
)
SELECT bg.id, count(*)::BIGINT AS n_bigrams,
       round(avg(l.logp), 4) AS mean_bigram_logprob
FROM bg JOIN logp l ON bg.w1 = l.w1 AND bg.w2 = l.w2
GROUP BY bg.id
"""


def lm_quality_buckets(scores, score_col: str = "mean_logprob",
                       group_col: str | None = None,
                       cuts: tuple[float, float] = (1 / 3, 2 / 3)):
    """CCNet-style head/middle/tail quality split: rank documents by an
    LM score (:func:`unigram_logprob`'s ``mean_logprob``) and cut at
    corpus fractions — CCNet buckets per language, so pass
    ``group_col`` (the split runs independently per group).

    Engine-exact and scale-safe by construction: instead of a global
    percent_rank sort over the corpus, aggregate to the COMPACT
    (group, score) value table (scores are 4-dp rounded, so distinct
    values are bounded far below the doc count), compute each value's
    cumulative doc fraction with a window over that small table, and
    broadcast the value->bucket map back onto the corpus. Docs sharing
    a score share a bucket (value-based cut — deterministic, no
    tie-break ambiguity); a doc lands in 'head' when the fraction of
    docs scoring >= its value is <= cuts[0], 'middle' through cuts[1],
    else 'tail'. Docs with a NULL group or score are excluded (see
    :func:`~.sampling.cumulative_value_table`)."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.sampling import (
        cumulative_value_table)
    s, vals = cumulative_value_table(scores, score_col, group_col)
    cf = F.col("__cum") / F.col("__n")
    bucket = (F.when(cf <= cuts[0], "head")
              .when(cf <= cuts[1], "middle")
              .otherwise("tail"))
    cutmap = vals.select("__g", score_col, bucket.alias("lm_bucket"))
    return (s.join(F.broadcast(cutmap), ["__g", score_col])
            .drop("__g"))


def SQL_LM_BUCKETS(scores_cte: str, score: str = "mean_logprob",
                   group: str = "__g",
                   cuts: tuple[float, float] = (1 / 3, 2 / 3)) -> str:
    """DuckDB twin of :func:`lm_quality_buckets`: same value-table
    cumulative fraction, same cuts. ``scores_cte`` names a CTE with
    (``group``, ``score``) columns; returns a joinable
    (group, score, lm_bucket) SELECT."""
    return f"""
SELECT {group}, {score},
  CASE WHEN cum::double / n <= {cuts[0]!r} THEN 'head'
       WHEN cum::double / n <= {cuts[1]!r} THEN 'middle'
       ELSE 'tail' END AS lm_bucket
FROM (
  SELECT {group}, {score},
    sum(c) OVER (PARTITION BY {group} ORDER BY {score} DESC) AS cum,
    sum(c) OVER (PARTITION BY {group}) AS n
  FROM (SELECT {group}, {score}, count(*) AS c
        FROM {scores_cte} GROUP BY 1, 2))
"""


def repetition_features(df, text_col: str = "text", id_col: str = "doc_id"):
    """Repetition/diversity signals — the standard spam/boilerplate
    filters for training corpora:

    - ``distinct_token_ratio``: |unique tokens| / |tokens|
    - ``rep_2gram``: 1 − |unique 2-grams| / |2-gram slots| (high →
      repeated phrases)
    - ``token_entropy``: Shannon entropy (nats) of the token
      distribution — low entropy = keyword stuffing
    - ``dup_line_fraction`` / ``dup_line_char_fraction``: the Gopher
      repetition signals (Rae et al. Table A1) — the share of LINES
      that repeat an earlier line, by count and by character mass
      (boilerplate navigation/footer spam repeats whole lines; a line
      occurring c times contributes c−1 duplicates and (c−1)·len
      duplicated chars, i.e. total − distinct on raw newline splits)

    Entropy needs per-(doc, token) counts: one explode + two hash
    aggregates, all codegen; ratios are pure expressions."""
    from pyspark.sql import DataFrame, Window

    toks = tokens(F.col(text_col))
    n_tok = F.size(toks)
    lines = F.split(F.col(text_col), "\n")
    dlines = F.array_distinct(lines)
    line_chars = F.aggregate(lines, F.lit(0), lambda a, l: a + F.length(l))
    dist_chars = F.aggregate(dlines, F.lit(0), lambda a, l: a + F.length(l))
    base = df.select(
        F.col(id_col),
        F.round((F.size(lines) - F.size(dlines))
                / F.greatest(F.size(lines), F.lit(1)).cast("double"), 6)
         .alias("dup_line_fraction"),
        F.round((line_chars - dist_chars)
                / F.greatest(line_chars, F.lit(1)).cast("double"), 6)
         .alias("dup_line_char_fraction"),
        F.round(F.size(F.array_distinct(toks)) / F.greatest(n_tok, F.lit(1)), 6)
         .alias("distinct_token_ratio"),
        F.when(n_tok >= 2,
               F.round(1 - F.size(F.array_distinct(
                   F.expr(f"transform(sequence(1, size(split(trim(regexp_replace("
                          f"lower({text_col}), '\\\\s+', ' ')), ' ')) - 1), "
                          f"i -> concat_ws(' ', element_at(split(trim(regexp_replace("
                          f"lower({text_col}), '\\\\s+', ' ')), ' '), i), "
                          f"element_at(split(trim(regexp_replace(lower({text_col}), "
                          f"'\\\\s+', ' ')), ' '), i + 1)))")))
                   / (n_tok - 1), 6))
         .otherwise(0.0).alias("rep_2gram"))

    ex = df.select(F.col(id_col), F.explode(toks).alias("tok"))
    counts = ex.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("c"))
    n = counts.withColumn("n", F.sum("c").over(Window.partitionBy(id_col)))
    ent = (n.withColumn("term", -(F.col("c") / F.col("n"))
                        * F.log(F.col("c") / F.col("n")))
           .groupBy(id_col).agg(F.round(F.sum("term"), 6).alias("token_entropy")))
    return base.join(ent, id_col)


# ---------------------------------------------------------------------------
# document normalization (pre-dedup cleanup)
# ---------------------------------------------------------------------------

# common named entities; applied AFTER tag removal so '&lt;b&gt;' does
# not become a live tag. RE2-safe patterns (no backreferences) so the
# same regexes run in the DuckDB oracle.
_HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
)
# 1:1 unicode punctuation folds (curly quotes, dashes, ellipsis, NBSP)
_UNICODE_FROM = "‘’“”–—… "
_UNICODE_TO = "''\"\"--. "


def strip_html(col: Column) -> Column:
    """Remove script/style blocks, then all tags, then decode common
    entities — the minimum de-markup a crawled corpus needs before
    shingling. Pure ``regexp_replace`` chain, one scan."""
    out = F.regexp_replace(col, r"(?is)<script[^>]*>.*?</script>", " ")
    out = F.regexp_replace(out, r"(?is)<style[^>]*>.*?</style>", " ")
    out = F.regexp_replace(out, r"(?s)<[^>]+>", " ")
    for ent, rep in _HTML_ENTITIES:
        out = F.regexp_replace(out, ent, rep)
    return out


# block-level elements whose CLOSE marks a line boundary when HTML is
# flattened to text (the newline feeds remove_boilerplate_lines, whose
# unit of work is the rendered line, not the source line)
_HTML_BLOCK_CLOSE = (r"(?is)</(?:p|div|li|ul|ol|h1|h2|h3|h4|h5|h6|tr|"
                     r"table|thead|tbody|section|article|header|footer|"
                     r"nav|aside|blockquote|pre|title)\s*>")
_HTML_BR = r"(?is)<(?:br|hr)\s*/?\s*>"
_HTML_COMMENT = r"(?s)<!--.*?-->"


def html_to_lines(col: Column) -> Column:
    """Block-aware HTML -> text: script/style/comments dropped, ``<br>``
    and closing block tags become newlines, remaining tags become
    spaces, common entities decode, horizontal whitespace collapses
    per line, and blank lines collapse — the RENDERED line structure
    survives, which is what :func:`remove_boilerplate_lines` needs
    (``strip_html`` flattens to one line and would make every nav menu
    and footer invisible to the line-frequency pass). Pure
    ``regexp_replace`` chain (RE2-safe, shared verbatim with the
    DuckDB twin), one scan, no UDF."""
    out = F.regexp_replace(col, r"(?is)<script[^>]*>.*?</script>", " ")
    out = F.regexp_replace(out, r"(?is)<style[^>]*>.*?</style>", " ")
    out = F.regexp_replace(out, _HTML_COMMENT, " ")
    out = F.regexp_replace(out, _HTML_BR, "\n")
    out = F.regexp_replace(out, _HTML_BLOCK_CLOSE, "\n")
    out = F.regexp_replace(out, r"(?s)<[^>]+>", " ")
    for ent, rep in _HTML_ENTITIES:
        out = F.regexp_replace(out, ent, rep)
    out = F.regexp_replace(out, r"[ \t\r\f]+", " ")
    out = F.regexp_replace(out, r" ?\n ?", "\n")
    out = F.regexp_replace(out, r"\n{2,}", "\n")
    return F.trim(F.regexp_replace(out, r"^\n+|\n+$", ""))


def SQL_HTML_TO_LINES(x: str) -> str:
    """DuckDB twin of :func:`html_to_lines` (same regexes, same entity
    order, same collapse sequence)."""
    out = f"regexp_replace({x}, '(?is)<script[^>]*>.*?</script>', ' ', 'g')"
    out = f"regexp_replace({out}, '(?is)<style[^>]*>.*?</style>', ' ', 'g')"
    out = f"regexp_replace({out}, '{_HTML_COMMENT}', ' ', 'g')"
    out = f"regexp_replace({out}, '{_HTML_BR}', chr(10), 'g')"
    out = f"regexp_replace({out}, '{_HTML_BLOCK_CLOSE}', chr(10), 'g')"
    out = f"regexp_replace({out}, '(?s)<[^>]+>', ' ', 'g')"
    for ent, rep in _HTML_ENTITIES:
        sql_rep = rep.replace("'", "''")
        out = f"replace({out}, '{ent}', '{sql_rep}')"
    out = f"regexp_replace({out}, '[ \\t\\r\\f]+', ' ', 'g')"
    out = f"regexp_replace({out}, ' ?\\n ?', chr(10), 'g')"
    out = f"regexp_replace({out}, '\\n{{2,}}', chr(10), 'g')"
    return f"trim(regexp_replace({out}, '^\\n+|\\n+$', '', 'g'), ' ')"


def fold_unicode(col: Column) -> Column:
    """Fold typographic unicode punctuation to ASCII equivalents
    (curly quotes, en/em dashes, ellipsis, NBSP) — one ``translate``
    pass; unmapped characters pass through untouched."""
    return F.translate(col, _UNICODE_FROM, _UNICODE_TO)


def normalize_doc(col: Column) -> Column:
    """Full document normalization: strip markup, fold unicode
    punctuation, collapse whitespace, trim. The canonical pre-dedup
    cleanup — run BEFORE shingling/hashing so markup and typography
    differences don't defeat near-dup detection."""
    return F.trim(F.regexp_replace(fold_unicode(strip_html(col)),
                                   r"\s+", " "))


def SQL_NORMALIZE_DOC(x: str) -> str:
    """DuckDB twin of :func:`normalize_doc` (same regexes — RE2-safe —
    same entity order, same translate fold)."""
    out = f"regexp_replace({x}, '(?is)<script[^>]*>.*?</script>', ' ', 'g')"
    out = f"regexp_replace({out}, '(?is)<style[^>]*>.*?</style>', ' ', 'g')"
    out = f"regexp_replace({out}, '(?s)<[^>]+>', ' ', 'g')"
    for ent, rep in _HTML_ENTITIES:
        sql_rep = rep.replace("'", "''")
        out = f"replace({out}, '{ent}', '{sql_rep}')"
    sql_to = _UNICODE_TO.replace("'", "''")
    out = f"translate({out}, '{_UNICODE_FROM}', '{sql_to}')"
    return f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"


# ---------------------------------------------------------------------------
# unicode script detection
# ---------------------------------------------------------------------------

# \x{...} range syntax parses identically in Java regex (Spark) and RE2
# (DuckDB), so the pattern strings are shared verbatim with the oracle.
SCRIPT_PATTERNS: tuple[tuple[str, str], ...] = (
    ("latin", r"[A-Za-z\x{00C0}-\x{024F}]"),
    ("cyrillic", r"[\x{0400}-\x{04FF}]"),
    ("cjk", r"[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}\x{AC00}-\x{D7AF}]"),
    ("arabic", r"[\x{0600}-\x{06FF}]"),
)


def script_ratios(col: Column) -> dict[str, Column]:
    """Per-script character ratios (latin/cyrillic/cjk/arabic over total
    chars) — the writing-system signal multilingual pipelines route on
    before (or instead of) stopword language-ID: a CJK document scores
    zero on every Latin stopword list, but its script ratio identifies
    it in one regexp pass. Pure column expressions."""
    n = F.greatest(F.length(col), F.lit(1))
    return {
        f"{name}_ratio": F.round(
            F.size(F.regexp_extract_all(col, F.lit(pat), 0)) / n, 6)
        for name, pat in SCRIPT_PATTERNS
    }


def SQL_SCRIPT_RATIOS(x: str) -> dict[str, str]:
    """DuckDB twin of :func:`script_ratios` (same patterns, same
    rounding)."""
    return {
        f"{name}_ratio": (
            f"round(len(regexp_extract_all({x}, '{pat}'))::double"
            f" / greatest(length({x}), 1), 6)")
        for name, pat in SCRIPT_PATTERNS
    }


# ---------------------------------------------------------------------------
# corpus-level boilerplate line removal
# ---------------------------------------------------------------------------

def remove_boilerplate_lines(df, text_col: str = "text",
                             id_col: str = "doc_id",
                             max_line_df: int = 5,
                             min_line_chars: int = 2):
    """Corpus-level line dedup (the RefinedWeb/CCNet boilerplate pass):
    a line whose normalized form appears in more than ``max_line_df``
    places across the corpus is boilerplate (nav menus, footers,
    cookie banners) and is dropped from every document; lines shorter
    than ``min_line_chars`` after normalization are structure (blank
    separators), never counted as boilerplate. Output: one row per
    input document — ``(id, text_out, n_removed)`` with surviving
    lines rejoined in original order (documents whose every line is
    boilerplate keep an empty ``text_out`` rather than disappearing).

    Scale shape: posexplode lines → ONE window count keyed on the
    32-bit hash of the normalized line (hashing first keeps the
    shuffle key fixed-width instead of shuffling full line text; a
    2^-32 collision merges two unrelated lines' counts, which only
    makes the conservative cap trip marginally earlier) → one groupBy
    per doc to reassemble. Two shuffles total at any corpus size.
    Short/blank lines — whose count is never consulted because the
    keep-rule exempts them — get a per-row UNIQUE window key: keying
    them on hash32('') would funnel every blank line in the corpus
    into one skew partition (the same null-key trap
    :func:`remove_repeated_spans` engineers away for tail grams)."""
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")),
                             "\n")).alias("pos", "line"))
    norm = normalize_text(F.col("line"))
    structural = F.length(norm) < min_line_chars
    key = F.when(~structural, hash32(norm)).otherwise(
        hash32(F.concat_ws("#", F.col("id").cast("string"),
                           F.col("pos").cast("string"), F.lit("blank"))))
    counted = lines.withColumn("__s", structural).withColumn(
        "__df", F.count(F.lit(1)).over(Window.partitionBy(key)))
    keep = (F.col("__df") <= max_line_df) | F.col("__s")
    kept = counted.withColumn("__keep", keep)
    return (kept.groupBy("id")
            .agg(F.concat_ws("\n", F.transform(
                     F.array_sort(F.collect_list(
                         F.when(F.col("__keep"),
                                F.struct(F.col("pos"), F.col("line"))))),
                     lambda s: s["line"])).alias("text_out"),
                 F.sum(F.when(~F.col("__keep"), 1).otherwise(0))
                  .cast("long").alias("n_removed")))


def SQL_REMOVE_BOILERPLATE_LINES(table: str, max_line_df: int = 5,
                                 min_line_chars: int = 2,
                                 id_col: str = "doc_id",
                                 text_col: str = "text") -> str:
    """DuckDB twin of :func:`remove_boilerplate_lines` (same hash key
    incl. the unique-key exemption for structural lines, same cap,
    same reassembly order)."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.dedup import (
        SQL_HASH32, SQL_NORMALIZE,
    )
    norm = SQL_NORMALIZE.format(x="line")
    h = SQL_HASH32.format(x=norm)
    hu = SQL_HASH32.format(
        x="(id)::VARCHAR || '#' || (pos)::VARCHAR || '#blank'")
    key = (f"CASE WHEN length({norm}) >= {min_line_chars} "
           f"THEN {h} ELSE {hu} END")
    return f"""
SELECT id,
       coalesce(string_agg(CASE WHEN keep THEN line END, chr(10)
                           ORDER BY pos), '') AS text_out,
       sum(CASE WHEN keep THEN 0 ELSE 1 END)::BIGINT AS n_removed
FROM (
  SELECT id, pos, line,
         (count(*) OVER (PARTITION BY {key}) <= {max_line_df}
          OR length({norm}) < {min_line_chars}) AS keep
  FROM (
    SELECT {id_col} AS id,
           unnest(range(1, len(string_split(coalesce({text_col}, ''),
                                            chr(10))) + 1)) AS pos,
           unnest(string_split(coalesce({text_col}, ''), chr(10))) AS line
    FROM {table}
  )
)
GROUP BY id
"""


# ---------------------------------------------------------------------------
# repeated-span removal (exact substring dedup)
# ---------------------------------------------------------------------------

def remove_repeated_spans(df, text_col: str = "text",
                          id_col: str = "doc_id",
                          k: int = 10, max_span_df: int = 2):
    """Token-level exact-substring dedup (the Lee et al. "Deduplicating
    Training Data Makes Language Models Better" step, approximated at
    k-token granularity): any k-token window whose exact content
    appears more than ``max_span_df`` times across the corpus is a
    repeated span, and every token covered by at least one such window
    is removed from its document. Output: ``(id, text_out,
    n_removed)`` — surviving tokens rejoined in order; docs shorter
    than ``k`` tokens pass through untouched.

    Scale shape: posexplode tokens → per-doc window with ``k-1``
    ``lead()``s builds each start position's k-gram (cluster-friendly:
    partitions by doc id, never global) → ONE corpus shuffle keyed on
    the 32-bit k-gram hash counts span frequency (incomplete tail
    starts get a per-row unique key so they don't pile into one null
    partition) → a per-doc ``max() over rows between -(k-1) and 0``
    marks covered tokens → per-doc reassembly. Three shuffles total,
    all on bounded or uniform keys."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(normalize_text(
            F.coalesce(F.col(text_col), F.lit(""))), " "))
        .alias("pos", "tok"))
    wdoc = Window.partitionBy("id").orderBy("pos")
    gram_parts = [F.col("tok")] + [F.lead("tok", j).over(wdoc)
                                   for j in range(1, k)]
    complete = gram_parts[-1].isNotNull()
    gram = F.concat_ws(" ", *gram_parts)
    # incomplete tail starts hash to a per-row unique key: a shared
    # NULL key would funnel (k-1) rows per doc into one skew partition
    gh = F.when(complete, hash32(gram)).otherwise(
        hash32(F.concat_ws("#", F.col("id").cast("string"),
                           F.col("pos").cast("string"), F.lit("tail"))))
    grams = toks.withColumn("__complete", complete).withColumn("__gh", gh)
    counted = grams.withColumn(
        "__df", F.count(F.lit(1)).over(Window.partitionBy("__gh")))
    freq_start = (F.col("__complete")
                  & (F.col("__df") > max_span_df)).cast("int")
    cover = Window.partitionBy("id").orderBy("pos") \
        .rowsBetween(-(k - 1), 0)
    flagged = counted.withColumn(
        "__rm", F.max(freq_start).over(cover) == 1)
    return (flagged.groupBy("id")
            .agg(F.concat_ws(" ", F.transform(
                     F.array_sort(F.collect_list(
                         F.when(~F.col("__rm"),
                                F.struct(F.col("pos"), F.col("tok"))))),
                     lambda s: s["tok"])).alias("text_out"),
                 F.sum(F.when(F.col("__rm"), 1).otherwise(0))
                  .cast("long").alias("n_removed")))


def SQL_REMOVE_REPEATED_SPANS(table: str, k: int = 10,
                              max_span_df: int = 2,
                              id_col: str = "doc_id",
                              text_col: str = "text") -> str:
    """DuckDB twin of :func:`remove_repeated_spans` (same k-gram hash,
    same coverage window, same reassembly)."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.dedup import (
        SQL_HASH32, SQL_NORMALIZE,
    )
    leads = ", ".join(f"lead(tok, {j}) OVER w AS t{j}"
                      for j in range(1, k))
    parts = ", ".join(["tok"] + [f"t{j}" for j in range(1, k)])
    gram_hash = SQL_HASH32.format(x="concat_ws(' ', " + parts + ")")
    tail_hash = SQL_HASH32.format(
        x="(id)::VARCHAR || '#' || (pos)::VARCHAR || '#tail'")
    return f"""
SELECT id,
       coalesce(string_agg(CASE WHEN NOT rm THEN tok END, ' '
                           ORDER BY pos), '') AS text_out,
       sum(CASE WHEN rm THEN 1 ELSE 0 END)::BIGINT AS n_removed
FROM (
  SELECT id, pos, tok,
         max(freq) OVER (PARTITION BY id ORDER BY pos
                         ROWS BETWEEN {k - 1} PRECEDING AND CURRENT ROW)
           = 1 AS rm
  FROM (
    SELECT id, pos, tok,
           CASE WHEN complete AND
                     count(*) OVER (PARTITION BY gh) > {max_span_df}
                THEN 1 ELSE 0 END AS freq
    FROM (
      SELECT id, pos, tok, complete,
             CASE WHEN complete THEN {gram_hash}
                  ELSE {tail_hash} END AS gh
      FROM (
        SELECT id, pos, tok, {leads},
               t{k - 1} IS NOT NULL AS complete
        FROM (
          SELECT {id_col} AS id,
                 unnest(range(1, len(string_split(
                     {SQL_NORMALIZE.format(x=f"coalesce({text_col}, '')")},
                     ' ')) + 1)) AS pos,
                 unnest(string_split(
                     {SQL_NORMALIZE.format(x=f"coalesce({text_col}, '')")},
                     ' ')) AS tok
          FROM {table}
        )
        WINDOW w AS (PARTITION BY id ORDER BY pos)
      )
    )
  )
)
GROUP BY id
"""


# ---------------------------------------------------------------------------
# T13: overlapping document chunking (RAG / context-window splitting)
# ---------------------------------------------------------------------------

def chunk_documents(df, size: int = 128, stride: int = 96,
                    text_col: str = "text", id_col: str = "doc_id"):
    """Split each document into overlapping token windows — the
    RAG-indexing / context-window-splitting primitive: chunk i covers
    tokens [i*stride, i*stride + size). Output ``(id, chunk_idx,
    chunk_text, n_tokens)``; the final chunk may be shorter, docs with
    zero tokens produce no rows, ``stride == size`` degrades to
    disjoint chunks, and a tail start whose window is FULLY CONTAINED
    in the previous chunk (previous start already covered to the end)
    is dropped — contained tails are pure duplicates in a retrieval
    index.

    Scale shape: one narrow scan — tokenize, ``sequence`` the start
    offsets, posexplode, ``slice`` per start. No shuffle, no UDF; the
    1->N expansion is bounded by ceil(n_tokens / stride) rows per
    doc."""
    if not 0 < stride <= size:
        raise ValueError(
            f"need 0 < stride <= size, got stride={stride} size={size}")
    toks = F.filter(tokens(F.coalesce(F.col(text_col), F.lit(""))),
                    lambda t: t != "")
    base = df.select(F.col(id_col).alias("id"), toks.alias("__toks"),
                     F.size(toks).alias("__n"))
    starts = F.sequence(F.lit(0), F.greatest(F.col("__n") - 1, F.lit(0)),
                        F.lit(stride))
    ex = (base.select("id", "__toks", "__n",
                      F.posexplode(starts).alias("chunk_idx", "__start"))
          .filter((F.col("__start") < F.col("__n"))
                  # drop contained tails: the previous start covered
                  # through the end already
                  & ((F.col("__start") == 0)
                     | (F.col("__start") - stride + size < F.col("__n")))))
    chunk = F.slice(F.col("__toks"), F.col("__start") + 1, F.lit(size))
    return ex.select(
        "id", "chunk_idx",
        F.array_join(chunk, " ").alias("chunk_text"),
        F.least(F.lit(size), F.col("__n") - F.col("__start"))
        .cast("long").alias("n_tokens"))


def SQL_CHUNK_DOCUMENTS(table: str, size: int, stride: int,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> str:
    """DuckDB twin of :func:`chunk_documents`."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.dedup import (
        SQL_NORMALIZE,
    )
    toks = (f"list_filter(string_split("
            f"{SQL_NORMALIZE.format(x=f'coalesce({text_col}, ' + chr(39) * 2 + ')')}"
            f", ' '), x -> x != '')")
    return f"""
SELECT id, (start // {stride})::INT AS chunk_idx,
       array_to_string(t[start + 1:least(start + {size}, n)], ' ')
         AS chunk_text,
       least({size}, n - start)::BIGINT AS n_tokens
FROM (
  SELECT {id_col} AS id, {toks} AS t, len({toks}) AS n FROM {table}
), unnest(range(0, greatest(n, 1), {stride})) AS u(start)
WHERE start < n AND (start = 0 OR start - {stride} + {size} < n)
"""


# ---------------------------------------------------------------------------
# Mergeable corpus census — snapshot-store telemetry for continuous ingest
# ---------------------------------------------------------------------------

def corpus_census(df, strata: tuple = ("lang", "source"),
                  text_col: str = "text"):
    """Per-stratum corpus census as a NARROW mergeable table:
    ``(kind, stratum, n_docs, n_tokens, n_chars)`` with one row per
    value of each ``strata`` column plus a ``__total__`` row. All
    three measures are exact integer SUMS, so two census frames merge
    associatively (:func:`merge_census`) — the continuous-ingest
    telemetry that rides the snapshot store: each epoch folds the
    fresh batch's census in at BATCH cost, and the running census
    equals a full recompute over everything ever ingested, without
    ever re-scanning the corpus. ONE scan + one shuffle for every
    kind via GROUPING SETS ((lang), (source), ..., ()) — the per-kind
    union-of-aggregates formulation reads the corpus once per stratum
    column, which at 100 TB is N extra full scans for nothing.
    ``F.grouping`` distinguishes a genuinely-NULL stratum value
    (kept, folded to ``__null__``) from a grouping-set placeholder."""
    toks = token_count(F.coalesce(F.col(text_col), F.lit("")))
    chars = F.length(F.coalesce(F.col(text_col), F.lit("")))
    gsets = [[c] for c in strata] + [[]]
    kind = F.lit("__total__")
    stratum = F.lit("__total__")
    for c in reversed(strata):
        active = F.grouping(c) == 0
        kind = F.when(active, F.lit(c)).otherwise(kind)
        stratum = F.when(active,
                         F.coalesce(F.col(c).cast("string"),
                                    F.lit("__null__"))).otherwise(stratum)
    return (df.groupingSets(gsets, *[F.col(c) for c in strata])
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(toks).alias("n_tokens"),
                 F.sum(chars.cast("long")).alias("n_chars"),
                 kind.alias("kind"), stratum.alias("stratum"))
            .select("kind", "stratum", "n_docs", "n_tokens", "n_chars"))


def merge_census(a, b):
    """Associative census merge: union + per-(kind, stratum) integer
    sums. ``merge(census(A), census(B)) == census(A ∪ B)`` exactly
    (disjoint A/B — the incremental-ingest shape, where B is the
    batch's FRESH rows)."""
    return (a.unionByName(b)
            .groupBy("kind", "stratum")
            .agg(F.sum("n_docs").alias("n_docs"),
                 F.sum("n_tokens").alias("n_tokens"),
                 F.sum("n_chars").alias("n_chars")))


def census_histogram(df, strata: tuple = ("lang", "source"),
                     text_col: str = "text"):
    """Token-length distribution census: one row per
    ``(kind, stratum, bucket)`` where ``bucket = floor(log2(n_tokens))``
    (power-of-two length classes; empty docs land in bucket ``-1``),
    measures ``(n_docs, n_tokens)`` — EXACT integer sums, so two
    histogram frames merge associatively exactly like the scalar
    census (:func:`merge_histogram`). This is the distribution-shaped
    companion to :func:`corpus_census`: the scalar census answers
    "how many tokens per language", the histogram answers "how are
    they distributed" (short-doc spam floods, truncation cliffs, a
    source suddenly shipping 10x longer pages) — still a bounded
    narrow table: |strata values + 1| x ~64 buckets, mergeable at
    batch cost under continuous ingest without re-scanning the
    corpus. Same ONE-scan GROUPING SETS shape as the census; bucket
    rides every grouping set as a plain key. Token counts here drop
    empty-string tokens (``split('') -> ['']``), matching the
    chunk/vocab oracle convention — an empty doc has 0 tokens and
    lands in bucket -1."""
    toks = F.size(F.array_remove(
        tokens(F.coalesce(F.col(text_col), F.lit(""))), ""))
    # materialize the token count ONCE: bucket and the n_tokens sum
    # both read __n_toks, so the normalize+split pipeline runs one
    # pass per row, not two
    base = df.withColumn("__n_toks", toks).withColumn(
        "__bucket",
        F.when(F.col("__n_toks") <= 0, F.lit(-1))
        .otherwise(F.floor(F.log2(F.col("__n_toks").cast("double"))))
        .cast("int"))
    gsets = [[c, "__bucket"] for c in strata] + [["__bucket"]]
    kind = F.lit("__total__")
    stratum = F.lit("__total__")
    for c in reversed(strata):
        active = F.grouping(c) == 0
        kind = F.when(active, F.lit(c)).otherwise(kind)
        stratum = F.when(active,
                         F.coalesce(F.col(c).cast("string"),
                                    F.lit("__null__"))).otherwise(stratum)
    return (base.groupingSets(
                gsets, *[F.col(c) for c in strata], F.col("__bucket"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("__n_toks").alias("n_tokens"),
                 kind.alias("kind"), stratum.alias("stratum"))
            .select("kind", "stratum",
                    F.col("__bucket").alias("bucket"),
                    "n_docs", "n_tokens"))


def merge_histogram(a, b):
    """Associative histogram merge: union + per-(kind, stratum,
    bucket) integer sums — ``merge(hist(A), hist(B)) == hist(A ∪ B)``
    exactly for disjoint A/B."""
    return (a.unionByName(b)
            .groupBy("kind", "stratum", "bucket")
            .agg(F.sum("n_docs").alias("n_docs"),
                 F.sum("n_tokens").alias("n_tokens")))


def SQL_CENSUS_HISTOGRAM(table: str, strata: tuple = ("lang", "source"),
                         text_col: str = "text") -> str:
    """DuckDB twin of :func:`census_histogram` (differential pytest —
    the census family is snapshot telemetry, not a registry query)."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.dedup import (
        SQL_NORMALIZE,
    )
    toks = (f"len(list_filter(string_split("
            f"{SQL_NORMALIZE.format(x=f'coalesce({text_col}, ' + chr(39) * 2 + ')')}"
            f", ' '), x -> x != ''))")
    kind = "CASE"
    stratum = "CASE"
    for c in strata:
        kind += f" WHEN grouping({c}) = 0 THEN '{c}'"
        stratum += (f" WHEN grouping({c}) = 0 THEN"
                    f" coalesce({c}::VARCHAR, '__null__')")
    kind += " ELSE '__total__' END"
    stratum += " ELSE '__total__' END"
    gsets = ", ".join(f"({c}, bucket)" for c in strata) + ", (bucket)"
    return f"""
WITH measured AS (
  SELECT {', '.join(strata)}, {toks} AS n_toks,
         CASE WHEN {toks} <= 0 THEN -1
              ELSE floor(log2({toks}::DOUBLE))::INT END AS bucket
  FROM {table}
)
SELECT {kind} AS kind, {stratum} AS stratum, bucket,
       count(*)::BIGINT AS n_docs, sum(n_toks)::BIGINT AS n_tokens
FROM measured
GROUP BY GROUPING SETS ({gsets})
"""


def census_distinct(df, value_col: str,
                    strata: tuple = ("lang", "source"),
                    lg_k: int = 12):
    """Mergeable DISTINCT-count census via HyperLogLog sketches: one
    row per ``(kind, stratum)`` carrying ``(sketch binary, n_rows)``.
    Exact distinct counts are NOT mergeable as integer sums (the same
    value can appear in many batches), so the snapshot-telemetry
    store keeps the SKETCH — ``hll_union_agg`` folds epoch N+1's
    sketches into the stored ones at batch cost, and
    :func:`estimate_distinct` reads estimates off the merged frame
    (datasketches HLL, ~±2% at lg_k=12, fixed ~2^lg_k-byte state per
    stratum regardless of corpus size). Use: distinct fingerprints
    per language (dedup-rate telemetry), distinct registered domains
    per source (crawl diversity) — questions the exact-sum census
    cannot answer incrementally."""
    gsets = [[c] for c in strata] + [[]]
    kind = F.lit("__total__")
    stratum = F.lit("__total__")
    for c in reversed(strata):
        active = F.grouping(c) == 0
        kind = F.when(active, F.lit(c)).otherwise(kind)
        stratum = F.when(active,
                         F.coalesce(F.col(c).cast("string"),
                                    F.lit("__null__"))).otherwise(stratum)
    return (df.groupingSets(gsets, *[F.col(c) for c in strata])
            .agg(F.hll_sketch_agg(F.col(value_col).cast("string"),
                                  F.lit(lg_k)).alias("sketch"),
                 F.count(F.lit(1)).alias("n_rows"),
                 kind.alias("kind"), stratum.alias("stratum"))
            .select("kind", "stratum", "sketch", "n_rows"))


def merge_distinct(a, b):
    """Associative sketch merge: ``hll_union_agg`` per (kind, stratum).
    Estimates off the merged frame equal (within sketch determinism —
    datasketches unions are order-insensitive) a fresh
    :func:`census_distinct` over the union of the inputs."""
    return (a.unionByName(b)
            .groupBy("kind", "stratum")
            .agg(F.hll_union_agg("sketch").alias("sketch"),
                 F.sum("n_rows").alias("n_rows")))


def estimate_distinct(census):
    """Read ``n_distinct`` estimates off a :func:`census_distinct`
    frame (kept separate so the stored table keeps raw sketches —
    estimates are derived, sketches are the mergeable state)."""
    return census.select(
        "kind", "stratum",
        F.hll_sketch_estimate("sketch").alias("n_distinct"), "n_rows")


def histogram_quantiles(hist, quantiles: tuple = (0.5, 0.9, 0.99),
                        kind: str = "__total__") -> dict:
    """Approximate token-length quantiles read off a stored
    :func:`census_histogram` frame — per stratum of ``kind``, with
    uniform interpolation inside each power-of-two bucket. Answers
    'what's the p99 document length per language' from the BOUNDED
    histogram table (|strata| x ~64 rows) with NO corpus scan — the
    point of keeping the mergeable histogram around. Resolution is
    the bucket width: the estimate is exact at bucket boundaries and
    within a factor of 2 worst-case inside one (uniform-fill
    assumption), which is the right fidelity for telemetry cut
    decisions. Returns ``{stratum: {q: est_tokens}}``; empty-doc
    bucket -1 counts at length 0. ``hist`` may also be the frame's
    collected rows, so a caller that needs other kinds too reads the
    table in one action."""
    if not isinstance(hist, list):
        hist = (hist.filter(F.col("kind") == kind)
                .select("kind", "stratum", "bucket", "n_docs").collect())
    by_stratum: dict = {}
    for r in hist:
        if r["kind"] == kind:
            by_stratum.setdefault(r["stratum"], []).append(
                (r["bucket"], r["n_docs"]))
    out: dict = {}
    for stratum, buckets in by_stratum.items():
        buckets.sort()
        total = sum(n for _, n in buckets)
        ests = {}
        for q in quantiles:
            target = q * total
            seen = 0.0
            est = 0.0
            for b, n in buckets:
                if seen + n >= target:
                    lo = 0.0 if b < 0 else float(2 ** b)
                    hi = 0.0 if b < 0 else float(2 ** (b + 1))
                    frac = (target - seen) / n if n else 0.0
                    est = lo + frac * (hi - lo)
                    break
                seen += n
            else:
                b = buckets[-1][0]
                est = 0.0 if b < 0 else float(2 ** (b + 1))
            ests[q] = round(est, 3)
        out[stratum] = ests
    return out


# Code-likeness keywords: language-defining word tokens that survive
# normalization and rarely appear in prose (deliberately NO if/else/
# for/while — common English words that would false-hit prose).
CODE_KEYWORDS: list[str] = [
    "def", "return", "import", "class", "function", "var", "const",
    "void", "int", "public", "static", "lambda", "struct", "typedef"]


def code_features(col) -> dict:
    """Code-vs-prose signals + a composite code-likeness score in
    [0,1] — the training-mix telemetry corpora use to route documents
    to code vs text pipelines (symbol density, indentation discipline
    and language keywords are the standard cheap discriminators).
    Pure column expressions; the formula documented here IS the
    oracle contract (:func:`SQL_CODE_FEATURES`):

    - ``symbol_density``: count of ``{}()[];=<>`` chars / n_chars
    - ``indent_ratio``: raw lines opening with a tab or 2+ spaces /
      n_lines (prose wraps, code indents)
    - ``code_kw_hits``: DISTINCT :data:`CODE_KEYWORDS` present
    - ``code_score`` = 0.4·min(8·symbol_density, 1)
      + 0.3·indent_ratio + 0.3·min(kw_hits/3, 1), rounded like
      ``quality_score`` (rounded intermediates on both engines)."""
    n_chars = F.greatest(F.length(col), F.lit(1))
    n_symbols = F.size(F.regexp_extract_all(
        col, F.lit(r"[{}()\[\];=<>]"), 0))
    symbol_density = F.round(
        n_symbols.cast("double") / n_chars.cast("double"), 6)
    lines = F.split(col, "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    n_indented = F.size(F.filter(lines, lambda l: l.rlike(r"^(\t|  )")))
    indent_ratio = F.round(n_indented.cast("double") / n_lines, 6)
    kw = word_list_hits(tokens(col), CODE_KEYWORDS)
    score = F.round(
        F.lit(0.4) * F.least(symbol_density * 8, F.lit(1.0))
        + F.lit(0.3) * indent_ratio
        + F.lit(0.3) * F.least(kw.cast("double") / 3.0, F.lit(1.0)), 6)
    return {
        "symbol_density": symbol_density,
        "indent_ratio": indent_ratio,
        "code_kw_hits": kw.cast("long"),
        "code_score": score,
    }


def SQL_CODE_FEATURES(x: str) -> dict[str, str]:
    """DuckDB twins of :func:`code_features` (same counts, same
    rounded intermediates)."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.dedup import (
        SQL_NORMALIZE,
    )
    toks = f"string_split({SQL_NORMALIZE.format(x=x)}, ' ')"
    n_chars = f"greatest(length({x}), 1)"
    n_symbols = f"len(regexp_extract_all({x}, '[{{}}()\\[\\];=<>]'))"
    symbol_density = f"round({n_symbols}::double / {n_chars}, 6)"
    lines = f"string_split({x}, chr(10))"
    n_lines = f"greatest(len({lines}), 1)::double"
    n_indented = (f"len(list_filter({lines},"
                  f" l -> regexp_matches(l, '^(\\t|  )')))")
    indent_ratio = f"round({n_indented} / {n_lines}, 6)"
    kw_list = "[" + ", ".join(f"'{s}'" for s in CODE_KEYWORDS) + "]"
    kw = f"len(list_intersect(list_distinct({toks}), {kw_list}))"
    score = (f"round(0.4 * least({symbol_density} * 8, 1.0)"
             f" + 0.3 * {indent_ratio}"
             f" + 0.3 * least({kw}::double / 3.0, 1.0), 6)")
    return {
        "symbol_density": symbol_density,
        "indent_ratio": indent_ratio,
        "code_kw_hits": f"cast({kw} AS bigint)",
        "code_score": score,
    }


# ---------------------------------------------------------------------------
# license / compliance detection (T19): corpus-governance scan — code
# and web corpora carry license markers, and training-data pipelines
# filter or segregate by license class before anything else touches
# the data
# ---------------------------------------------------------------------------

# (tag, lowercase regex) — deliberately restricted to the Java/RE2
# common dialect (no lookarounds) so the Spark rlike and the DuckDB
# oracle run the IDENTICAL pattern against lower(text)
LICENSE_PATTERNS = [
    ("spdx", r"spdx-license-identifier"),
    ("cc", r"creative commons|\bcc[- ]by(?:[- ](?:sa|nc|nd))*\b"),
    ("permissive", r"\bmit license\b|\bapache license\b"
                   r"|\bbsd license\b|\bpublic domain\b"
                   r"|\bunlicense\b"),
    ("copyleft", r"\bgnu (?:general|lesser|affero) public license\b"
                 r"|\bgpl[- ]?v?[23]\b|\bmozilla public license\b"),
    ("rights_reserved", r"\ball rights reserved\b"),
    ("copyright", r"(?:copyright|\(c\)|©) ?(?:19|20)\d\d"),
]

# class priority, most restrictive wins: a doc carrying both an MIT
# grant and a GPL notice classifies copyleft — governance decisions
# take the conservative reading
_LICENSE_CLASS_ORDER = [
    ("copyleft", "copyleft"),
    ("cc", "cc"),
    ("permissive", "permissive"),
    ("rights_reserved", "restricted"),
    ("copyright", "restricted"),
    ("spdx", "permissive"),
]


def license_flags(col: Column) -> dict:
    """One boolean per license marker family, matched on
    lowercased text."""
    low = F.lower(F.coalesce(col, F.lit("")))
    return {f"has_{tag}": low.rlike(pat)
            for tag, pat in LICENSE_PATTERNS}


def license_class(col: Column) -> Column:
    """'copyleft' | 'cc' | 'permissive' | 'restricted' | 'unmarked'
    — most-restrictive-wins fold of :data:`LICENSE_PATTERNS` (the
    conservative governance reading; a bare SPDX tag with no
    recognized grant reads permissive-by-declaration)."""
    flags = license_flags(col)
    out = F.lit("unmarked")
    for tag, cls in reversed(_LICENSE_CLASS_ORDER):
        out = F.when(flags[f"has_{tag}"], F.lit(cls)).otherwise(out)
    return out


def license_scan(df, text_col: str = "text",
                 id_col: str = "doc_id"):
    """Per-document license audit: one row per doc with every marker
    flag plus the folded class — pure column expressions riding a
    single scan (whole-stage codegen; zero shuffles), so it composes
    into any curation DAG for free. Filter on ``license_class`` to
    segregate corpora by license before training."""
    flags = license_flags(F.col(text_col))
    return df.select(
        F.col(id_col).alias("id"),
        *[v.alias(k) for k, v in flags.items()],
        license_class(F.col(text_col)).alias("license_class"))


def SQL_LICENSE_SCAN(table: str = "documents", id_col: str = "doc_id",
                     text_col: str = "text") -> str:
    """DuckDB twin of :func:`license_scan` — identical patterns via
    regexp_matches on lower(text), identical most-restrictive fold."""
    low = f"lower(coalesce({text_col}, ''))"
    flags = ", ".join(
        f"regexp_matches({low}, '{pat}') AS has_{tag}"
        for tag, pat in LICENSE_PATTERNS)
    case = "CASE"
    for tag, cls in _LICENSE_CLASS_ORDER:
        case += f" WHEN has_{tag} THEN '{cls}'"
    case += " ELSE 'unmarked' END"
    return f"""
WITH f AS (SELECT {id_col} AS id, {flags} FROM {table})
SELECT id, has_spdx, has_cc, has_permissive, has_copyleft,
       has_rights_reserved, has_copyright,
       {case} AS license_class
FROM f
"""
