"""Training-data-pipeline operator suite: dedup (exact / MinHash-LSH /
SimHash / n-gram Jaccard), ANN similarity search (brute-force + sign-bit
LSH), text analysis (quality, language-ID, fingerprint), multimodal
binary plumbing.

The synthetic documents are random word salads with no real near-dups,
so the corpus is augmented with deterministic perturbed/exact copies in
BOTH engines — every operator then has guaranteed positives to find.
All hashing is md5-derived integer arithmetic → bit-exact parity.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dynamic_etl_pipeline_thesis_ii_spark.operators import dedup as D
from dynamic_etl_pipeline_thesis_ii_spark.operators import multimodal as M
from dynamic_etl_pipeline_thesis_ii_spark.operators import packing as PK
from dynamic_etl_pipeline_thesis_ii_spark.operators import sampling as SA
from dynamic_etl_pipeline_thesis_ii_spark.operators import similarity as S
from dynamic_etl_pipeline_thesis_ii_spark.operators import text as T
from dynamic_etl_pipeline_thesis_ii_spark.operators import web as WB
# release_shared_caches is re-exported: harnesses release between queries
from dynamic_etl_pipeline_thesis_ii_spark.scope import (  # noqa: F401
    persist_scoped,
    release_shared_caches,
    run_arms,
)
from dynamic_etl_pipeline_thesis_ii_spark.sources.registry import Catalog

# ---------------------------------------------------------------------------
# corpora
# ---------------------------------------------------------------------------

def _neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ perturbed copies (every 10th doc + 3 extra words)."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    pert = (docs.filter(F.col("doc_id") % 10 == 0)
            .select((F.col("doc_id") + 100000).alias("doc_id"),
                    F.concat(F.col("text"), F.lit(" extra padding tokens")).alias("text")))
    return docs.unionByName(pert)


_SQL_NEARDUP = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text || ' extra padding tokens' AS text
  FROM documents WHERE doc_id % 10 = 0
)
"""


def _exactdup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ exact copies of every 7th doc (whitespace-case noise)."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    copies = (docs.filter(F.col("doc_id") % 7 == 0)
              .select((F.col("doc_id") + 200000).alias("doc_id"),
                      F.upper(F.col("text")).alias("text")))
    return docs.unionByName(copies)


_SQL_EXACTDUP = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, upper(text) AS text
  FROM documents WHERE doc_id % 7 = 0
)
"""

_H32 = D.SQL_HASH32
_NORM = D.SQL_NORMALIZE


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    """Exact dedup (min-id keep per normalized content) + corpus
    snapshot diff in one tagged union. The diff branch versions the
    documents table against a deterministically-mutated successor
    (every 13th doc removed, every 17th changed, every 19th gaining a
    fresh +300000 twin) and must label every id added / removed /
    changed / unchanged on the same content key the dedup uses."""
    dd = (D.dedup_exact(_exactdup_corpus(spark, sf_dir))
          .select(F.lit("dedup").alias("op"), "doc_id",
                  F.lit("keep").alias("status")))
    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    new = (docs.filter(F.col("doc_id") % 13 != 0)
           .withColumn("text",
                       F.when(F.col("doc_id") % 17 == 0,
                              F.concat(F.col("text"), F.lit(" edited v2")))
                       .otherwise(F.col("text"))))
    added = (docs.filter(F.col("doc_id") % 19 == 0)
             .select((F.col("doc_id") + 300000).alias("doc_id"),
                     F.concat(F.lit("brand new "), F.col("text"))
                     .alias("text")))
    diff = (D.corpus_diff(docs, new.unionByName(added))
            .select(F.lit("diff").alias("op"), "doc_id", "status"))
    return dd.unionByName(diff)


ORACLE_DEDUP_EXACT = f"""
WITH {_SQL_EXACTDUP},
new AS (
  SELECT doc_id,
         CASE WHEN doc_id % 17 = 0 THEN text || ' edited v2'
              ELSE text END AS text
  FROM documents WHERE doc_id % 13 != 0
  UNION ALL
  SELECT doc_id + 300000, 'brand new ' || text
  FROM documents WHERE doc_id % 19 = 0
),
ko AS (SELECT doc_id, {{h_old}} AS k FROM documents),
kn AS (SELECT doc_id, {{h_new}} AS k FROM new)
SELECT 'dedup' AS op, min(doc_id) AS doc_id, 'keep' AS status FROM corpus
GROUP BY {_NORM.format(x='text')}
UNION ALL
SELECT 'diff', coalesce(ko.doc_id, kn.doc_id),
       CASE WHEN ko.k IS NULL THEN 'added'
            WHEN kn.k IS NULL THEN 'removed'
            WHEN ko.k = kn.k THEN 'unchanged'
            ELSE 'changed' END
FROM ko FULL OUTER JOIN kn ON ko.doc_id = kn.doc_id
""".format(h_old=_H32.format(x=_NORM.format(x="coalesce(text, '')")),
           h_new=_H32.format(x=_NORM.format(x="coalesce(text, '')")))


# 12-token passage planted verbatim in front of every 17th document's
# +700000 twin: the cross-doc duplicated substring the span detector
# must recover (the twin's copied body text also flags — original
# stays canonical)
_SUBSTR_BOILER = ("this content is provided as is without warranty of "
                  "any kind whatsoever")


def q_dedup_substring(spark, sf_dir):
    """Cross-document exact-substring dedup (D18, the Lee et al.
    ExactSubstr family): maximal duplicated >=8-token spans over
    documents ∪ boilerplate-prefixed twins. Window hashing + island
    merge — two key-partitioned shuffles, no UDF (operator
    docstring has the 100 TB shape)."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    copies = (docs.filter(F.col("doc_id") % 17 == 0)
              .select((F.col("doc_id") + 700000).alias("doc_id"),
                      F.concat(F.lit(_SUBSTR_BOILER + " "),
                               F.col("text")).alias("text")))
    return D.substring_duplicate_spans(docs.unionByName(copies), w=8)


ORACLE_DEDUP_SUBSTRING = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 700000, '{_SUBSTR_BOILER} ' || text
  FROM documents WHERE doc_id % 17 = 0
)
SELECT * FROM ({D.SQL_SUBSTRING_SPANS(8, table='corpus')})
"""


def q_dedup_minhash_lsh(spark, sf_dir):
    return D.minhash_lsh_pairs(_neardup_corpus(spark, sf_dir),
                               k=3, n_hashes=16, bands=4)


def _sql_minhash_lsh(k: int = 3, n_hashes: int = 16, bands: int = 4,
                     max_bucket: int = 2000) -> str:
    # Mirrors minhash_signatures: unnest once, hash once, 16 min() aggs;
    # `capped` mirrors the hot-bucket guard (drop buckets > max_bucket).
    sh = D.SQL_WORD_SHINGLES("text", k)
    h = D.SQL_HASH32.format(x="s")
    r = n_hashes // bands
    mins = ", ".join(
        f"min(({2 * i + 1} * h + {12345 * i + 17}) % {D.H32_PRIME}) AS m{i}"
        for i in range(n_hashes))
    band_rows = "\n  UNION ALL ".join(
        f"SELECT id, {b} AS band, [{', '.join(f'm{b * r + j}' for j in range(r))}] AS slc FROM sigs"
        for b in range(bands))
    return f"""
WITH {_SQL_NEARDUP},
ex AS (SELECT doc_id AS id, unnest({sh}) AS s FROM corpus),
hashed AS (SELECT id, {h} AS h FROM ex),
sigs AS (SELECT id, {mins} FROM hashed GROUP BY id),
banded AS (
  {band_rows}
),
capped AS (
  SELECT id, band, slc FROM banded
  QUALIFY count(*) OVER (PARTITION BY band, slc) <= {max_bucket}
)
SELECT DISTINCT a.id AS id_a, b.id AS id_b
FROM capped a JOIN capped b ON a.band = b.band AND a.slc = b.slc AND a.id < b.id
"""


def q_dedup_simhash(spark, sf_dir):
    # default banding = the corpus-scale n_blocks=6 Manku scheme (the
    # scale_probe-verified linear path); the oracle mirrors the same
    # 20-band/3-block combinatorics below
    return D.simhash_pairs(_neardup_corpus(spark, sf_dir), max_hamming=3)


def _sql_simhash(n_blocks: int = 6, max_hamming: int = 3,
                 max_bucket: int = 2000) -> str:
    # Mirrors simhash_fingerprints: unnest once, md5 once per shingle,
    # 64 conditional-sum bit counters in one GROUP BY. Bigram shingles
    # in lockstep with simhash_pairs' shingle_k=2 default. The banding
    # arms are generated from the SAME combinatorics as simhash_pairs
    # (itertools.combinations over n_blocks, pick = n_blocks -
    # max_hamming, LSB-first block widths with the remainder on the
    # first blocks) so candidate sets — not just verified pairs —
    # match the engine bit-for-bit.
    sh = D.SQL_WORD_SHINGLES("text", 2)
    hlo = _H32.format(x="s")
    hhi = "(('0x' || substr(md5(s), 9, 8))::bigint)"
    bit_sums = ", ".join(
        f"sum(({'lo' if j < 32 else 'hi'} >> {j % 32}) & 1) AS c{j}"
        for j in range(64))
    fold = " + ".join(
        f"CASE WHEN 2 * c{j} > n THEN "
        + ("-9223372036854775807 - 1" if j == 63 else f"(1::BIGINT << {j})")
        + " ELSE 0 END"
        for j in range(64))
    pick = max(1, n_blocks - max_hamming)
    widths = [64 // n_blocks + (1 if i < 64 % n_blocks else 0)
              for i in range(n_blocks)]
    offsets = [sum(widths[:i]) for i in range(n_blocks)]

    def block_sql(b: int) -> str:
        return f"((sim >> {offsets[b]}) & {(1 << widths[b]) - 1})"

    arms = []
    for i, combo in enumerate(combinations(range(n_blocks), pick)):
        key = None
        for b in combo:
            key = block_sql(b) if key is None else \
                f"(({key} << {widths[b]}) | {block_sql(b)})"
        arms.append(f"SELECT id, sim, {i} AS band, {key} AS key FROM fp")
    band_rows = "\n  UNION ALL ".join(arms)
    return f"""
WITH {_SQL_NEARDUP},
ex AS (SELECT doc_id AS id, unnest({sh}) AS s FROM corpus),
hashed AS (SELECT id, {hlo} AS lo, {hhi} AS hi FROM ex),
counts AS (SELECT id, count(*) AS n, {bit_sums} FROM hashed GROUP BY id),
fp AS (SELECT id, cast({fold} AS bigint) AS sim FROM counts),
banded AS (
  {band_rows}
),
capped AS (
  SELECT id, sim, band, key FROM banded
  QUALIFY count(*) OVER (PARTITION BY band, key) <= {max_bucket}
)
SELECT id_a, id_b, hamming FROM (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         bit_count(xor(a.sim, b.sim)) AS hamming
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.key = b.key AND a.id < b.id
) WHERE hamming <= {max_hamming}
"""


def q_dedup_components(spark, sf_dir):
    """Near-dup cluster resolution: MinHash-LSH candidate pairs folded
    into connected components (id -> smallest reachable id). Spark side
    is iterative min-label propagation; the oracle computes the same
    fixed point with a recursive transitive-closure CTE (tractable at
    the smoke pair counts)."""
    pairs = D.minhash_lsh_pairs(_neardup_corpus(spark, sf_dir),
                                k=3, n_hashes=16, bands=4)
    return D.min_label_components(pairs).withColumnRenamed("comp", "component")


def _sql_components() -> str:
    base = _sql_minhash_lsh()
    return f"""
WITH RECURSIVE pairs AS ({base}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS id, least(src, min(dst)) AS component
FROM reach GROUP BY src
"""


def q_dedup_ngram_jaccard(spark, sf_dir):
    return D.jaccard_pairs(_neardup_corpus(spark, sf_dir),
                           k=3, threshold=0.4, max_df=100)


def _sql_jaccard() -> str:
    # Mirrors jaccard_pairs: count-based Jaccard over the df-capped
    # shingle universe — |A∩B| from the pair group count, no arrays.
    sh = D.SQL_WORD_SHINGLES("text", 3)
    return f"""
WITH {_SQL_NEARDUP},
ex AS (SELECT doc_id AS id, unnest({sh}) AS s FROM corpus),
rare AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 100),
capped AS (SELECT e.id, e.s FROM ex e JOIN rare r ON e.s = r.s),
sized AS (SELECT id, s, count(*) OVER (PARTITION BY id) AS size FROM capped),
counts AS (
  SELECT a.id AS id_a, b.id AS id_b, a.size AS size_a, b.size AS size_b,
         count(*) AS inter
  FROM sized a JOIN sized b ON a.s = b.s AND a.id < b.id
  GROUP BY a.id, b.id, a.size, b.size
)
SELECT id_a, id_b,
       round(inter::double / (size_a + size_b - inter), 6) AS jaccard
FROM counts
WHERE round(inter::double / (size_a + size_b - inter), 6) >= 0.4
"""


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def q_ann_cosine_topk(spark, sf_dir):
    emb = Catalog(spark, sf_dir).embeddings
    queries = (emb.filter(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")))
    cands = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    return S.brute_force_topk(queries, cands, k=3)


_SQL_COS = ("round(list_dot_product(qv, cv) / "
            "(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6)")

ORACLE_ANN_COSINE_TOPK = f"""
WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS cv FROM embeddings),
s AS (SELECT q_id, c_id, {_SQL_COS} AS cos FROM q, c)
SELECT q_id, c_id, cos, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rank FROM s
) WHERE rank <= 3
"""


def q_ann_lsh_bucket(spark, sf_dir):
    emb = Catalog(spark, sf_dir).embeddings
    queries = (emb.filter(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")))
    cands = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    return S.lsh_topk(queries, cands, k=2, bits=6)


_SQL_BUCKET = ("(" + " + ".join(
    f"CASE WHEN v[{d+1}] >= 0 THEN {1 << d} ELSE 0 END" for d in range(6)) + ")")

ORACLE_ANN_LSH_BUCKET = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, {_SQL_BUCKET} AS bucket FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS qv, bucket FROM e WHERE vec_id < 10),
c AS (SELECT vec_id AS c_id, v AS cv, bucket FROM e),
s AS (SELECT q_id, c.bucket AS bucket, c_id, {_SQL_COS} AS cos
      FROM q JOIN c ON q.bucket = c.bucket)
SELECT q_id, bucket, c_id, cos, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rank FROM s
) WHERE rank <= 2
"""


def q_embedding_neardup(spark, sf_dir):
    """Near-dup vectors: embeddings ∪ perturbed copies (x + 0.05)."""
    emb = Catalog(spark, sf_dir).embeddings
    pert = (emb.filter(F.col("vec_id") % 10 == 0)
            .select((F.col("vec_id") + 100000).alias("vec_id"),
                    F.transform(F.col("embedding").cast("array<double>"),
                                lambda x: x + F.lit(0.05)).alias("embedding")))
    corpus = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")) \
                .unionByName(pert)
    return S.cosine_neardup_pairs(corpus, threshold=0.8, bits=6)


ORACLE_EMBEDDING_NEARDUP = f"""
WITH corpus AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, list_transform(embedding::DOUBLE[], x -> x + 0.05)
  FROM embeddings WHERE vec_id % 10 = 0
),
b AS (SELECT vec_id AS id, v, {_SQL_BUCKET} AS bucket FROM corpus)
SELECT x.id AS id_a, y.id AS id_b,
  round(list_dot_product(x.v, y.v) /
        (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6) AS cos
FROM b x JOIN b y ON x.bucket = y.bucket AND x.id < y.id
WHERE round(list_dot_product(x.v, y.v) /
      (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6) >= 0.8
"""


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def q_text_metrics(spark, sf_dir):
    """All per-document text analyses in one scan: quality scoring,
    language-ID, fingerprint/token counts, repetition/entropy signals.
    One shuffle total (the entropy aggregate inside repetition_features);
    everything else is pure column expressions."""
    docs = Catalog(spark, sf_dir).documents
    feats = T.quality_features(F.col("text"))
    scripts = T.script_ratios(F.col("text"))
    gopher = T.gopher_rules(F.col("text"))
    code = T.code_features(F.col("text"))
    base = docs.select(
        "doc_id", "lang",
        *[v.alias(k) for k, v in feats.items()],
        T.lang_id(F.col("text")).alias("pred_lang"),
        T.fingerprint(F.col("text")).alias("fp"),
        T.bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
        *[v.alias(k) for k, v in scripts.items()],
        *[v.alias(k) for k, v in gopher.items()],
        *[v.alias(k) for k, v in code.items()])
    rep = T.repetition_features(docs)
    return base.join(rep, "doc_id")


_SQL_TOKENS = f"string_split({_NORM.format(x='text')}, ' ')"

ORACLE_TEXT_QUALITY = f"""
WITH t AS (
  SELECT doc_id, text, {_SQL_TOKENS} AS toks,
    length(text) AS n_chars,
    len({_SQL_TOKENS}) AS n_tokens,
    len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
    len(list_intersect(list_distinct({_SQL_TOKENS}),
        ['the','and','of','to','a','in','is','that','for','it'])) AS stop_hits
  FROM documents
)
SELECT doc_id,
  cast(n_chars AS bigint) AS n_chars,
  cast(n_tokens AS bigint) AS n_tokens,
  round(n_punct::double / greatest(n_chars, 1), 6) AS punct_ratio,
  round(cast(list_sum(list_transform(toks, x -> length(x))) AS double)
        / greatest(n_tokens, 1)::double, 6) AS mean_word_len,
  round(stop_hits::double / 10, 6) AS stopword_ratio,
  round(0.4 * least(n_tokens::double / 100.0, 1.0)
      + 0.3 * (1.0 - least(round(n_punct::double / greatest(n_chars, 1), 6) * 5, 1.0))
      + 0.3 * round(stop_hits::double / 10, 6), 6) AS quality_score
FROM t
"""


def _sql_lang_id() -> str:
    hit_exprs = {
        lang: (f"len(list_intersect(list_distinct({_SQL_TOKENS}), "
               f"[{', '.join(repr(w) for w in T.LANG_STOPWORDS[lang])}]))")
        for lang in sorted(T.LANG_STOPWORDS)
    }
    hits_cols = ", ".join(f"{e} AS h_{lang}" for lang, e in hit_exprs.items())
    langs = sorted(T.LANG_STOPWORDS)
    max_h = "greatest(" + ", ".join(f"h_{la}" for la in langs) + ")"
    chain = " ".join(f"WHEN h_{la} = mx THEN '{la}'" for la in langs[:-1])
    return f"""
WITH h AS (SELECT doc_id, lang, {hits_cols} FROM documents),
m AS (SELECT *, {max_h} AS mx FROM h)
SELECT doc_id, lang,
  CASE WHEN mx = 0 THEN 'und' {chain} ELSE '{langs[-1]}' END AS pred_lang
FROM m
"""


ORACLE_TEXT_REPETITION = f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKENS} AS toks, len({_SQL_TOKENS}) AS n,
         string_split(text, chr(10)) AS lines,
         list_distinct(string_split(text, chr(10))) AS dlines
  FROM documents
),
base AS (
  SELECT doc_id,
    round((len(lines) - len(dlines))::double
          / greatest(len(lines), 1), 6) AS dup_line_fraction,
    round((list_sum(list_transform(lines, l -> length(l)))
           - list_sum(list_transform(dlines, l -> length(l))))::double
          / greatest(list_sum(list_transform(lines, l -> length(l))), 1), 6)
      AS dup_line_char_fraction,
    round(len(list_distinct(toks))::double / greatest(n, 1), 6) AS distinct_token_ratio,
    CASE WHEN n >= 2 THEN round(1 - len(list_distinct(
        list_transform(range(1, n), i -> toks[i] || ' ' || toks[i+1])))::double
        / (n - 1), 6)
    ELSE 0.0 END AS rep_2gram
  FROM t
),
ex AS (SELECT doc_id, unnest(toks) AS tok FROM t),
cnt AS (SELECT doc_id, tok, count(*) AS c FROM ex GROUP BY doc_id, tok),
tot AS (SELECT doc_id, tok, c, sum(c) OVER (PARTITION BY doc_id) AS n FROM cnt),
ent AS (
  SELECT doc_id, round(sum(-(c::double / n) * ln(c::double / n)), 6) AS token_entropy
  FROM tot GROUP BY doc_id
)
SELECT base.doc_id, dup_line_fraction, dup_line_char_fraction,
       distinct_token_ratio, rep_2gram, token_entropy
FROM base JOIN ent ON base.doc_id = ent.doc_id
"""


ORACLE_TEXT_FINGERPRINT = f"""
SELECT doc_id,
  list_reduce(list_prepend(0::BIGINT, list_transform({_SQL_TOKENS},
      s -> {_H32.format(x='s')})),
    (acc, x) -> (acc * 131 + x) % 1000000007) AS fp,
  cast(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]')) AS bigint) AS n_bpe_tokens
FROM documents
"""


_SQL_SCRIPTS = ", ".join(
    f"{expr} AS {name}"
    for name, expr in T.SQL_SCRIPT_RATIOS("text").items())

_SQL_GOPHER = ", ".join(
    f"{expr} AS {name}"
    for name, expr in T.SQL_GOPHER_RULES("text").items())

_SQL_CODE = ", ".join(
    f"{expr} AS {name}"
    for name, expr in T.SQL_CODE_FEATURES("text").items())

ORACLE_TEXT_METRICS = f"""
SELECT q.doc_id, l.lang, l.pred_lang,
       q.n_chars, q.n_tokens, q.punct_ratio, q.mean_word_len,
       q.stopword_ratio, q.quality_score,
       f.fp, f.n_bpe_tokens,
       s.latin_ratio, s.cyrillic_ratio, s.cjk_ratio, s.arabic_ratio,
       g.g_word_count, g.g_mean_word_len, g.g_symbol_ratio,
       g.g_bullet_lines, g.g_ellipsis_lines, g.g_alpha_words,
       g.g_stopwords, g.gopher_pass,
       c.symbol_density, c.indent_ratio, c.code_kw_hits, c.code_score,
       r.dup_line_fraction, r.dup_line_char_fraction,
       r.distinct_token_ratio, r.rep_2gram, r.token_entropy
FROM ({ORACLE_TEXT_QUALITY}) q
JOIN ({_sql_lang_id()}) l ON q.doc_id = l.doc_id
JOIN ({ORACLE_TEXT_FINGERPRINT}) f ON q.doc_id = f.doc_id
JOIN (SELECT doc_id, {_SQL_SCRIPTS} FROM documents) s ON q.doc_id = s.doc_id
JOIN (SELECT doc_id, {_SQL_GOPHER} FROM documents) g ON q.doc_id = g.doc_id
JOIN (SELECT doc_id, {_SQL_CODE} FROM documents) c ON q.doc_id = c.doc_id
JOIN ({ORACLE_TEXT_REPETITION}) r ON q.doc_id = r.doc_id
"""


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------

def q_multimodal_features(spark, sf_dir):
    docs = Catalog(spark, sf_dir).documents
    media = M.attach_media(docs)
    feats = M.extract_features(media)
    return feats.select(
        "media_id", "kind", "n_bytes",
        F.element_at("feat", 1).alias("f_len"),
        F.element_at("feat", 2).alias("f_first"),
        F.element_at("feat", 3).alias("f_last"),
        F.element_at("feat", 4).alias("f_checksum"),
        "decoder",
    )


ORACLE_MULTIMODAL_FEATURES = """
SELECT doc_id AS media_id,
  CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
  cast(octet_length(text::BLOB) AS bigint) AS n_bytes,
  cast(octet_length(text::BLOB) AS double) AS f_len,
  cast(ascii(substr(text, 1, 1)) AS double) AS f_first,
  cast(ascii(substr(text, length(text), 1)) AS double) AS f_last,
  cast(cast(list_sum(list_transform(range(1, least(length(text), 16) + 1),
      i -> ascii(substr(text, i::int, 1)))) AS bigint) % 256 AS double) AS f_checksum,
  'fake' AS decoder
FROM documents
"""


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------

def _contam_corpora(spark, sf_dir):
    """benchmark = every 13th doc; corpus = the rest ∪ planted
    contaminated copies (every 39th doc's text + trailing noise) —
    guaranteed positives, deterministically reproduced in the oracle."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 13 == 0)
    planted = (docs.filter(F.col("doc_id") % 39 == 0)
               .select((F.col("doc_id") + 300000).alias("doc_id"),
                       F.concat(F.col("text"),
                                F.lit(" trailing noise words appended"))
                       .alias("text")))
    corpus = docs.filter(F.col("doc_id") % 13 != 0).unionByName(planted)
    return corpus, bench


def q_dedup_contamination(spark, sf_dir):
    corpus, bench = _contam_corpora(spark, sf_dir)
    return D.contamination_pairs(corpus, bench, k=5, min_overlap=3)


def _semantic_contam_corpora(spark, sf_dir):
    """Embedding-space twin of :func:`_contam_corpora`: benchmark =
    every 7th embedding; corpus = the rest ∪ planted scaled copies
    (×1.001 — cosine to the source is exactly 1) of every 21st vector
    under shifted ids. Deterministic, oracle-reproducible."""
    emb = Catalog(spark, sf_dir).embeddings
    bench = emb.filter(F.col("vec_id") % 7 == 0)
    planted = (emb.filter(F.col("vec_id") % 21 == 0)
               .select((F.col("vec_id") + 500000).alias("vec_id"),
                       F.transform(F.col("embedding").cast("array<double>"),
                                   lambda x: x * 1.001).alias("embedding")))
    corpus = (emb.filter(F.col("vec_id") % 7 != 0)
              .select("vec_id", F.col("embedding").cast("array<double>")
                      .alias("embedding"))
              .unionByName(planted))
    return corpus, bench


def q_semantic_decontam(spark, sf_dir):
    """Embedding-space decontamination (operators/similarity.py
    semantic_contamination/semantic_decontaminate): 'pair' rows are
    the cross-frame cosine hits, 'kept' rows the corpus ids that
    survive the anti-join."""
    corpus, bench = _semantic_contam_corpora(spark, sf_dir)
    # compute the cross-frame pair join ONCE (scoped persist) and
    # derive the kept side from it — the anti-join end below is
    # literally semantic_decontaminate's body (flagged = distinct
    # id_a, broadcast left_anti; parity pinned in test_scale_paths),
    # re-using the persisted pairs instead of re-running the join
    pairs = persist_scoped(
        S.semantic_contamination(corpus, bench, threshold=0.95))
    flagged = pairs.select(F.col("id_a").alias("vec_id")).distinct()
    kept = corpus.join(F.broadcast(flagged), "vec_id", "left_anti")
    return (pairs.withColumn("kind", F.lit("pair"))
            .unionByName(kept.select(
                F.col("vec_id").alias("id_a"),
                F.lit(None).cast("long").alias("id_b"),
                F.lit(None).cast("double").alias("cos"),
                F.lit("kept").alias("kind"))))


def _sql_semantic_decontam(threshold: float = 0.95) -> str:
    return f"""
WITH bench AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 7 = 0
),
corpus AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 7 <> 0
  UNION ALL
  SELECT vec_id + 500000, list_transform(embedding::DOUBLE[], x -> x * 1.001)
  FROM embeddings WHERE vec_id % 21 = 0
),
cb AS (SELECT vec_id AS id_a, v, {_SQL_BUCKET} AS bucket FROM corpus),
bb AS (SELECT vec_id AS id_b, v, {_SQL_BUCKET} AS bucket FROM bench),
p AS (
  SELECT cb.id_a, bb.id_b,
         round(list_dot_product(cb.v, bb.v) /
               (sqrt(list_dot_product(cb.v, cb.v)) *
                sqrt(list_dot_product(bb.v, bb.v))), 6) AS cos
  FROM cb JOIN bb ON cb.bucket = bb.bucket
),
hits AS (SELECT * FROM p WHERE cos >= {threshold})
SELECT id_a, id_b, cos, 'pair' AS kind FROM hits
UNION ALL
SELECT c.vec_id, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), 'kept'
FROM corpus c
WHERE c.vec_id NOT IN (SELECT id_a FROM hits)
"""


def _sql_contamination(k: int = 5, min_overlap: int = 3,
                       max_bench_df: int = 100) -> str:
    # Mirrors contamination_pairs: benchmark-side df cap, equi-join on
    # shingle, pair-count aggregate with the min_overlap floor.
    sh = D.SQL_WORD_SHINGLES("text", k)
    return f"""
WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 13 = 0),
corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 13 <> 0
  UNION ALL
  SELECT doc_id + 300000 AS doc_id,
         text || ' trailing noise words appended' AS text
  FROM documents WHERE doc_id % 39 = 0
),
cx AS (SELECT doc_id AS id_a, unnest({sh}) AS s FROM corpus),
bx AS (SELECT doc_id AS id_b, unnest({sh}) AS s FROM bench),
rare AS (SELECT s FROM bx GROUP BY s HAVING count(*) <= {max_bench_df}),
bdf AS (SELECT b.id_b, b.s FROM bx b JOIN rare r ON b.s = r.s)
SELECT cx.id_a, bdf.id_b, count(*) AS overlap
FROM cx JOIN bdf ON cx.s = bdf.s
GROUP BY cx.id_a, bdf.id_b
HAVING count(*) >= {min_overlap}
"""


# ---------------------------------------------------------------------------
# merged registry entries (the driver gate records only the first 50
# registry entries — same-family queries union/join into one tagged
# result so every oracle-backed operator stays inside the window)
# ---------------------------------------------------------------------------

def q_dedup_neardup_pairs(spark, sf_dir):
    """All the near-dup/overlap detectors (MinHash-LSH, SimHash,
    n-gram Jaccard, embedding-cosine, n-gram benchmark contamination,
    embedding-space semantic decontamination) in one tagged union —
    one registry entry covering D2/D3/D4/N3/D7/D13; each branch is
    the unchanged single-method pipeline. The semantic arm carries
    both its 'pair' hits and its 'semantic_kept' survivors so the
    anti-join end of semantic_decontaminate is oracle-checked too."""
    null_metric = F.lit(None).cast("double").alias("metric")
    # Shared-scan note (r13, measured): persisting the base
    # documents/embeddings/corpus frames here made the composite
    # SLOWER (7.6->8.1 s at sf0.1) — the parquet scans are cheap and
    # a full-row cache defeats column pruning. The r12 curation win
    # came from persisting an expensive COMPUTED intermediate; the
    # only such intermediate the arms share is the k=3 shingle table
    # below. Per-arm profile: simhash 4.0 s, mh+ja 2.8 s, the other
    # four arms ~2.5 s combined.
    corpus = _neardup_corpus(spark, sf_dir)
    # minhash and jaccard both consume k=3 shingles of the same corpus:
    # explode + NGram once, persist (scoped — released with the
    # caller's cache scope), feed both branches.
    sh3 = persist_scoped(D.shingle_rows(corpus, "text", "doc_id", 3))

    # The detector arms share no lineage except sh3, so they run as
    # concurrent jobs (run_arms; the 64-counter simhash aggregate alone
    # is ~1 s of per-invocation doExecute, r13 bisection) and the union
    # reads the six tiny checkpointed pair lists. minhash+jaccard share
    # one arm so the sh3 cache fills once instead of racing.
    def _mh_ja():
        mh = (D.minhash_lsh_pairs(corpus, k=3, n_hashes=16, bands=4,
                                  shingles=sh3)
              .select(F.lit("minhash").alias("method"), "id_a", "id_b",
                      null_metric))
        ja = (D.jaccard_pairs(corpus, k=3, threshold=0.4, max_df=100,
                              shingles=sh3)
              .select(F.lit("jaccard").alias("method"), "id_a", "id_b",
                      F.col("jaccard").cast("double").alias("metric")))
        return (mh.localCheckpoint(eager=True),
                ja.localCheckpoint(eager=True))

    def _sh():
        return (q_dedup_simhash(spark, sf_dir)
                .select(F.lit("simhash").alias("method"), "id_a", "id_b",
                        F.col("hamming").cast("double").alias("metric"))
                .localCheckpoint(eager=True))

    def _em():
        return (q_embedding_neardup(spark, sf_dir)
                .select(F.lit("embedding").alias("method"), "id_a",
                        "id_b", F.col("cos").cast("double").alias("metric"))
                .localCheckpoint(eager=True))

    def _ct():
        return (q_dedup_contamination(spark, sf_dir)
                .select(F.lit("contam").alias("method"), "id_a", "id_b",
                        F.col("overlap").cast("double").alias("metric"))
                .localCheckpoint(eager=True))

    def _sd():
        return (q_semantic_decontam(spark, sf_dir)
                .select(F.when(F.col("kind") == "pair", F.lit("semantic"))
                        .otherwise(F.lit("semantic_kept")).alias("method"),
                        "id_a", "id_b", F.col("cos").alias("metric"))
                .localCheckpoint(eager=True))

    (mh, ja), sh, em, ct, sd = run_arms(_mh_ja, _sh, _em, _ct, _sd)
    return (mh.unionByName(sh).unionByName(ja).unionByName(em)
            .unionByName(ct).unionByName(sd))


def _sql_neardup_pairs() -> str:
    return f"""
SELECT 'minhash' AS method, id_a, id_b, CAST(NULL AS DOUBLE) AS metric
FROM ({_sql_minhash_lsh()})
UNION ALL
SELECT 'simhash', id_a, id_b, hamming::DOUBLE FROM ({_sql_simhash()})
UNION ALL
SELECT 'jaccard', id_a, id_b, jaccard::DOUBLE FROM ({_sql_jaccard()})
UNION ALL
SELECT 'embedding', id_a, id_b, cos::DOUBLE FROM ({ORACLE_EMBEDDING_NEARDUP})
UNION ALL
SELECT 'contam', id_a, id_b, overlap::DOUBLE FROM ({_sql_contamination()})
UNION ALL
SELECT CASE WHEN kind = 'pair' THEN 'semantic' ELSE 'semantic_kept' END,
       id_a, id_b, cos::DOUBLE
FROM ({_sql_semantic_decontam()})
"""


_PQ_M, _PQ_K, _PQ_DIM = 4, 8, 64


def q_ann_pq(spark, sf_dir):
    """Product-quantization ADC search (N4): candidates reduce to
    4-subspace codes against the deterministic grid codebook, queries
    broadcast their lookup tables, top-3 by asymmetric distance. The
    ``cos`` slot carries -adc so the union schema and DESC ranking
    direction line up with the cosine branches."""
    emb = Catalog(spark, sf_dir).embeddings
    queries = (emb.filter(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    cands = emb.select(F.col("vec_id").alias("c_id"),
                       F.col("embedding").alias("c_vec"))
    books = S.pq_grid_codebooks(_PQ_DIM, m=_PQ_M, k=_PQ_K)
    out = S.pq_topk(queries, cands, books, k=3)
    return out.select("q_id", "c_id",
                      (F.round(-F.col("adc"), 6) + F.lit(0.0)).alias("cos"),
                      "rank")


def q_ann_l2(spark, sf_dir):
    """Exact squared-L2 top-k (N13's ground-truth scan as its own
    oracle-checked arm): same 10 queries, k=3; the ``cos`` slot
    carries -dist so the union schema and DESC ranking direction line
    up with the cosine branches (the pq-arm convention)."""
    emb = Catalog(spark, sf_dir).embeddings
    queries = (emb.filter(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    cands = emb.select(F.col("vec_id").alias("c_id"),
                       F.col("embedding").alias("c_vec"))
    out = S.exact_l2_topk(queries, cands, k=3)
    return out.select("q_id", "c_id",
                      (F.round(-F.col("dist"), 6) + F.lit(0.0))
                      .alias("cos"), "rank")


# elementwise (qv-cv)^2 fold — the SAME per-element ops in the SAME
# left-to-right order as the engine's F.aggregate/zip_with _sq_l2, so
# the 6-dp-rounded doubles are engine-identical
_SQL_SQL2 = ("round(list_aggregate(list_transform(list_zip(qv, cv), "
             "p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'), 6)")

ORACLE_ANN_L2 = f"""
WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS cv FROM embeddings),
s AS (SELECT q_id, c_id, {_SQL_SQL2} AS d FROM q, c)
SELECT q_id, c_id, round(-d, 6) + 0.0 AS cos, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY d ASC, c_id ASC) AS rank
  FROM s
) WHERE rank <= 3
"""


def q_ann_topk(spark, sf_dir):
    """Brute-force, LSH-bucketed, PQ/ADC and exact squared-L2 search in
    one tagged union (N1/N2/N4/N13); bucket is null off the lsh
    branch. The four arms each read the same embeddings table
    (candidates + the vec_id<10 query slice) — persist it once so the
    union scans parquet once, not eight times (plan-identity cache
    hit for the arms' own Catalog reads).
    Composite-only: each arm standalone stays cache-free, and in
    production the arms are independent queries."""
    emb = persist_scoped(Catalog(spark, sf_dir).embeddings)
    # fill the shared embeddings cache ONCE up front (tiny table), then
    # run the four arms concurrently (run_arms): each arm's build and
    # its eager checkpoint job overlap instead of serializing behind
    # the previous arm's. Standalone at sf0.01 each arm builds in
    # 0.1-0.5 s, plans in <= 0.12 s (PQ is the largest plan) and
    # executes in 0.3-0.8 s, so the checkpoint jobs own the time.
    emb.count()

    def _arm(fn, method, bucket_col):
        def run():
            df = fn(spark, sf_dir)
            bucket = (F.col("bucket").cast("long") if bucket_col
                      else F.lit(None).cast("long"))
            return (df.select(F.lit(method).alias("method"), "q_id",
                              bucket.alias("bucket"), "c_id", "cos",
                              "rank")
                    .localCheckpoint(eager=True))
        return run

    br, ls, pq, l2 = run_arms(_arm(q_ann_cosine_topk, "brute", False),
                              _arm(q_ann_lsh_bucket, "lsh", True),
                              _arm(q_ann_pq, "pq", False),
                              _arm(q_ann_l2, "l2", False))
    return br.unionByName(ls).unionByName(pq).unionByName(l2)


def _sql_pq_dists(vec: str, s: int) -> str:
    """DuckDB list of subspace ``s``'s 6-dp-rounded squared distances
    to the grid centroids, via the SAME shared-moment formula
    q - 2c*s + dsub*c^2 and left-to-right folds the engine uses."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.similarity import (
        pq_grid_codebooks,
    )
    books = pq_grid_codebooks(_PQ_DIM, m=_PQ_M, k=_PQ_K)
    dsub = _PQ_DIM // _PQ_M
    lo, hi = s * dsub + 1, (s + 1) * dsub
    ssum = f"list_aggregate({vec}[{lo}:{hi}], 'sum')"
    qsum = (f"list_aggregate(list_transform({vec}[{lo}:{hi}], "
            f"x -> x * x), 'sum')")
    terms = []
    for cent in books[s]:
        c = cent[0]                      # grid centroid: constant vector
        terms.append(
            f"round({qsum} - 2.0 * ({c!r}) * {ssum}"
            f" + ({float(dsub * c * c)!r}), 6)")
    return "[" + ", ".join(terms) + "]"


def _sql_pq_code(dists: str) -> str:
    """0-based argmin of a DuckDB distance list, first index on ties."""
    return f"list_position({dists}, list_min({dists})) - 1"


def _sql_pq_branch() -> str:
    """DuckDB twin of the PQ branch: per-subspace code = argmin over
    the same grid centroids (:func:`_sql_pq_dists`, first-index
    tie-break), ADC = sum of the per-subspace LUT entries."""
    code_cols = ", ".join(f"{_sql_pq_code(f'd{s}')} AS code{s}"
                          for s in range(_PQ_M))
    dist_cols_c = ", ".join(f"{_sql_pq_dists('cv', s)} AS d{s}"
                            for s in range(_PQ_M))
    lut_cols = ", ".join(f"{_sql_pq_dists('qv', s)} AS l{s}"
                         for s in range(_PQ_M))
    adc = " + ".join(f"l{s}[code{s} + 1]" for s in range(_PQ_M))
    return f"""
SELECT q_id, c_id, round(-adc, 6) + 0.0 AS cos, rank
FROM (
  SELECT q_id, c_id, round({adc}, 6) AS adc,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY round({adc}, 6) ASC, c_id ASC) AS rank
  FROM (SELECT c_id, {code_cols} FROM (
          SELECT vec_id AS c_id, {dist_cols_c}
          FROM (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings))),
       (SELECT q_id, {lut_cols} FROM (
          SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
          FROM embeddings WHERE vec_id < 10))
) WHERE rank <= 3
"""


def _sql_ann_topk() -> str:
    return f"""
SELECT 'brute' AS method, q_id, CAST(NULL AS BIGINT) AS bucket,
       c_id, cos, rank
FROM ({ORACLE_ANN_COSINE_TOPK})
UNION ALL
SELECT 'lsh', q_id, bucket::BIGINT, c_id, cos, rank
FROM ({ORACLE_ANN_LSH_BUCKET})
UNION ALL
SELECT 'pq', q_id, CAST(NULL AS BIGINT), c_id, cos, rank
FROM ({_sql_pq_branch()})
UNION ALL
SELECT 'l2', q_id, CAST(NULL AS BIGINT), c_id, cos, rank
FROM ({ORACLE_ANN_L2})
"""


# ---------------------------------------------------------------------------
# PII scrub + deterministic sampling
# ---------------------------------------------------------------------------

_PII_SUFFIX = (" contact a.b@mail.com tel 555-123-4567"
               " ip 10.0.0.1 ssn 123-45-6789")


_HTML_WRAP_PRE = '<p class="body">'
_HTML_WRAP_POST = ('</p><script type="text/js">var x = "<b>";</script>'
                   ' &amp; more&nbsp;“quoted”…')

_FOOTER = "Subscribe to our newsletter for daily updates"

_SPAN = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do")


def q_text_pii_scrub(spark, sf_dir):
    """Text rewriting ops in one tagged union: PII redaction (every 5th
    doc gains injected contact tokens; each is replaced with its
    placeholder and counted), document normalization (every 7th doc
    is wrapped in HTML markup + typographic unicode; strip/fold/collapse
    recovers clean text, metric = chars removed), corpus-level
    boilerplate line removal (every 3rd doc gains a shared footer line;
    its corpus frequency trips the line-df cap and it is stripped from
    every carrier, metric = lines removed), and token-level
    repeated-span removal (every 11th doc gains a shared 10-token
    phrase; its k-gram frequency trips the span-df cap and all covered
    tokens drop, metric = tokens removed), and URL curation (synthetic
    raw URLs per doc; text_out = canonical URL, metric = survives
    blocklist + is the min-id carrier of its URL — `operators/web.py`
    semantics inside the hash check), and block-aware HTML flattening
    (synthetic pages built around the doc text; text_out = the
    rendered line structure from html_to_lines, metric = line count).
    The pii/norm/url/html branches are
    pure column expressions; lineclean/spanclean are the bounded-
    shuffle corpus passes of
    :func:`~...operators.text.remove_boilerplate_lines` /
    :func:`~...operators.text.remove_repeated_spans`."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    injected = docs.withColumn(
        "text", F.when(F.col("doc_id") % 5 == 0,
                       F.concat(F.col("text"), F.lit(_PII_SUFFIX)))
        .otherwise(F.col("text")))
    cols = T.pii_scrub(F.col("text"))
    pii = injected.select(
        F.lit("pii").alias("op"), "doc_id",
        cols["text_scrubbed"].alias("text_out"),
        cols["pii_count"].cast("long").alias("metric"))

    marked = docs.withColumn(
        "text", F.when(F.col("doc_id") % 7 == 0,
                       F.concat(F.lit(_HTML_WRAP_PRE), F.col("text"),
                                F.lit(_HTML_WRAP_POST)))
        .otherwise(F.col("text")))
    norm = marked.select(
        F.lit("norm").alias("op"), "doc_id",
        T.normalize_doc(F.col("text")).alias("text_out"),
        (F.length("text") - F.length(T.normalize_doc(F.col("text"))))
        .cast("long").alias("metric"))

    footered = docs.withColumn(
        "text", F.when(F.col("doc_id") % 3 == 0,
                       F.concat(F.col("text"), F.lit("\n" + _FOOTER)))
        .otherwise(F.col("text")))
    lc = (T.remove_boilerplate_lines(footered, max_line_df=5)
          .select(F.lit("lineclean").alias("op"),
                  F.col("id").alias("doc_id"), "text_out",
                  F.col("n_removed").alias("metric")))

    spanned = docs.withColumn(
        "text", F.when(F.col("doc_id") % 11 == 0,
                       F.concat(F.col("text"), F.lit(" " + _SPAN)))
        .otherwise(F.col("text")))
    sc = (T.remove_repeated_spans(spanned, k=8, max_span_df=5)
          .select(F.lit("spanclean").alias("op"),
                  F.col("id").alias("doc_id"), "text_out",
                  F.col("n_removed").alias("metric")))

    # url branch: deterministic raw URLs synthesized from (source,
    # doc_id) with mixed-case hosts, default ports, tracking params
    # and fragments; text_out = the canonical URL, metric = 1 iff the
    # doc survives domain blocklisting AND is the canonical (min-id)
    # carrier of its URL — normalize + host + registered-domain +
    # blocklist + url-dedup semantics all inside the hash check
    from pyspark.sql.window import Window as _Win
    src = Catalog(spark, sf_dir).documents.select("doc_id", "source")
    host = (F.when(F.col("source") == "src5", F.lit("src5.CO.UK"))
            .otherwise(F.concat(F.col("source"), F.lit(".Example"))))
    raw = F.concat(
        F.lit("HTTPS://WWW."), host,
        F.when(F.col("doc_id") % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/page/"), (F.col("doc_id") % 40).cast("string"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit("?utm_source=feed&fbclid=x"),
                        F.col("doc_id").cast("string")))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 2 == 0,
               F.concat(F.lit("#sec"), (F.col("doc_id") % 7).cast("string")))
        .otherwise(F.lit("")))
    normed = src.withColumn("norm_url", WB.normalize_url(raw))
    dom = WB.registered_domain(WB.url_host(F.col("norm_url")))
    keep = ((~dom.isin(*_URL_BLOCKLIST))
            & (F.col("doc_id")
               == F.min("doc_id").over(_Win.partitionBy("norm_url"))))
    url = normed.select(
        F.lit("url").alias("op"), "doc_id",
        F.col("norm_url").alias("text_out"),
        keep.cast("long").alias("metric"))

    # html branch: synthesize block-structured HTML around the doc
    # text (title, style/script bodies, comment, sentence-split
    # paragraphs, <br>, entity) and flatten with html_to_lines —
    # line-structure preservation, tag/script stripping and entity
    # decode are all inside the hash check; metric = rendered lines
    page = F.concat(
        F.lit("<html><head><title>Doc "), F.col("doc_id").cast("string"),
        F.lit("</title><style>p{margin:0}</style>"
              "<script>var a=1;</script></head><body><!-- nav --><p>"),
        F.regexp_replace("text", r"\.\s+", ".</p><p>"),
        F.lit("</p><br><div>footer &amp; nav</div></body></html>"))
    h2l = T.html_to_lines(page)
    html = docs.select(
        F.lit("html").alias("op"), "doc_id", h2l.alias("text_out"),
        F.size(F.split(h2l, "\n")).cast("long").alias("metric"))

    return (pii.unionByName(norm).unionByName(lc).unionByName(sc)
            .unionByName(url).unionByName(html))


_URL_BLOCKLIST = ("src2.example", "src5.co.uk")


def _sql_pii_scrub() -> str:
    scrubbed, count = T.SQL_PII_SCRUB("text")
    norm = T.SQL_NORMALIZE_DOC("text")
    pre = _HTML_WRAP_PRE.replace("'", "''")
    post = _HTML_WRAP_POST.replace("'", "''")
    lineclean = T.SQL_REMOVE_BOILERPLATE_LINES("footered", max_line_df=5)
    spanclean = T.SQL_REMOVE_REPEATED_SPANS("spanned", k=8, max_span_df=5)
    norm_url = WB.SQL_NORMALIZE_URL("url")
    reg_dom = WB.SQL_REGISTERED_DOMAIN(WB.SQL_URL_HOST("norm_url"))
    blocked = ", ".join(f"'{d}'" for d in _URL_BLOCKLIST)
    return f"""
WITH corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN text || '{_PII_SUFFIX}'
              ELSE text END AS text
  FROM documents
),
marked AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN '{pre}' || text || '{post}'
              ELSE text END AS text
  FROM documents
),
footered AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN text || chr(10) || '{_FOOTER}'
              ELSE text END AS text
  FROM documents
),
spanned AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0 THEN text || ' ' || '{_SPAN}'
              ELSE text END AS text
  FROM documents
)
SELECT 'pii' AS op, doc_id, {scrubbed} AS text_out,
       cast({count} AS bigint) AS metric
FROM corpus
UNION ALL
SELECT 'norm', doc_id, {norm},
       cast(length(text) - length({norm}) AS bigint)
FROM marked
UNION ALL
SELECT 'lineclean', id, text_out, n_removed
FROM ({lineclean})
UNION ALL
SELECT 'spanclean', id, text_out, n_removed
FROM ({spanclean})
UNION ALL
SELECT 'url', doc_id, norm_url,
       cast(({reg_dom}) NOT IN ({blocked})
            AND doc_id = min(doc_id) OVER (PARTITION BY norm_url)
            AS bigint)
FROM (
  SELECT doc_id, {norm_url} AS norm_url
  FROM (
    SELECT doc_id,
           'HTTPS://WWW.' ||
           CASE WHEN source = 'src5' THEN 'src5.CO.UK'
                ELSE source || '.Example' END ||
           CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END ||
           '/page/' || (doc_id % 40)::VARCHAR ||
           CASE WHEN doc_id % 3 = 0
                THEN '?utm_source=feed&fbclid=x' || doc_id::VARCHAR
                ELSE '' END ||
           CASE WHEN doc_id % 2 = 0
                THEN '#sec' || (doc_id % 7)::VARCHAR ELSE '' END AS url
    FROM documents
  )
)
UNION ALL
SELECT 'html', doc_id, {T.SQL_HTML_TO_LINES('page')},
       cast(len(string_split({T.SQL_HTML_TO_LINES('page')}, chr(10)))
            AS bigint)
FROM (
  SELECT doc_id,
         '<html><head><title>Doc ' || doc_id::VARCHAR ||
         '</title><style>p{{margin:0}}</style>' ||
         '<script>var a=1;</script></head><body><!-- nav --><p>' ||
         regexp_replace(text, '\\.\\s+', '.</p><p>', 'g') ||
         '</p><br><div>footer &amp; nav</div></body></html>' AS page
  FROM documents
)
"""


def q_sample_stratified(spark, sf_dir):
    """Deterministic per-language hash sampling: en at 50%, de at 25%,
    everything else at 10% — the same rows come back on every engine
    and every re-run (no RNG state, no shuffle)."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id", "lang")
    return SA.stratified_hash_sample(
        docs, "lang", {"en": 0.5, "de": 0.25}, key_col="doc_id",
        default_rate=0.1, salt="s1")


def _sql_sample_stratified() -> str:
    bucket = SA.SQL_BUCKET("doc_id", "s1")
    return f"""
SELECT doc_id, lang FROM documents
WHERE {bucket} < CASE lang WHEN 'de' THEN 250000 WHEN 'en' THEN 500000
                 ELSE 100000 END
"""


_MIX_SHARES = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}


def q_sample_mix_rebalance(spark, sf_dir):
    """Domain-mix rebalancing: downsample four sources toward a
    40/30/20/10 mixture. One tiny count aggregate, then a shuffle-free
    deterministic-hash filter scan; kept rows are engine-exact."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id", "source")
    return SA.rebalance_mix(docs, "source", _MIX_SHARES,
                            key_col="doc_id", salt="mix")


def _sql_sample_mix_rebalance() -> str:
    bucket = SA.SQL_BUCKET("doc_id", "mix")
    shares = ", ".join(f"('{g}', {s}::DOUBLE)"
                       for g, s in sorted(_MIX_SHARES.items()))
    # identical float formula as rebalance_mix: t* = min(n/share),
    # rate = share * t* / n, threshold = floor(rate * mod)
    return f"""
WITH base AS (SELECT doc_id, source FROM documents
              WHERE source IN ('src0', 'src1', 'src2', 'src3')),
shares(source, share) AS (VALUES {shares}),
counts AS (SELECT source, count(*)::BIGINT AS n FROM base GROUP BY source),
t AS (SELECT min(n / share) AS t_star FROM counts JOIN shares USING (source)),
rates AS (
  SELECT source, share * (SELECT t_star FROM t) / n AS rate
  FROM counts JOIN shares USING (source)
)
SELECT b.doc_id, b.source
FROM base b JOIN rates r ON b.source = r.source
WHERE {bucket} < floor(r.rate * 1000000)
"""


# ---------------------------------------------------------------------------
# corpus statistics: TF-IDF + vocabulary/OOV
# ---------------------------------------------------------------------------

# Literal query set for the BM25 arm: the broadcast side of the
# retrieval join, inlined as a VALUES CTE in the oracle (same strings,
# same ids) so both engines score the identical query table.
BM25_QUERIES = [(1, "spark window agg"),
                (2, "hash join table"),
                (3, "stream batch merge line")]


def q_text_tfidf(spark, sf_dir):
    """Term-relevance family: top-3 TF-IDF terms per document (T3) +
    BM25 top-5 retrieval per literal query (T17), one tagged union
    (scores rounded before ranking so row selection is engine-exact
    in both arms)."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    tfidf = (T.tfidf_top_terms(docs, k=3)
             .withColumn("part", F.lit("tfidf")))
    qset = spark.createDataFrame(
        BM25_QUERIES, "query_id bigint, query_text string")
    bm25 = (T.bm25_topk(docs, qset, k=5)
            .withColumn("part", F.lit("bm25")))
    return (tfidf.unionByName(bm25, allowMissingColumns=True)
            .select("part", "id", "rank", "tok", "tf", "df", "tfidf",
                    "query_id", "bm25", "n_terms"))


def _sql_tfidf() -> str:
    return f"""
SELECT 'tfidf' AS part, id, rank, tok, tf, df, tfidf,
       NULL::BIGINT AS query_id, NULL::DOUBLE AS bm25,
       NULL::BIGINT AS n_terms
FROM ({_sql_tfidf_arm()})
UNION ALL
SELECT 'bm25' AS part, id, rank, NULL::VARCHAR AS tok,
       NULL::BIGINT AS tf, NULL::BIGINT AS df, NULL::DOUBLE AS tfidf,
       query_id, bm25, n_terms
FROM ({T.SQL_BM25_TOPK(BM25_QUERIES, id_col='doc_id', k=5)})
"""


def _sql_tfidf_arm() -> str:
    toks = f"SELECT doc_id AS id, unnest(string_split({_NORM.format(x='text')}, ' ')) AS tok FROM documents"
    return f"""
WITH toks AS (SELECT * FROM ({toks}) WHERE tok <> ''),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
tf AS (SELECT id, tok, count(*)::BIGINT AS tf FROM toks GROUP BY id, tok),
dfreq AS (SELECT tok, count(DISTINCT id)::BIGINT AS df FROM toks GROUP BY tok),
scored AS (
  SELECT tf.id, tf.tok, tf.tf, dfreq.df,
         round(tf.tf * (ln((n.n_docs + 1) / (dfreq.df + 1)::DOUBLE) + 1.0), 6) AS tfidf
  FROM tf JOIN dfreq USING (tok) CROSS JOIN n
),
ranked AS (
  SELECT id, tok, tf, df, tfidf,
         row_number() OVER (PARTITION BY id ORDER BY tfidf DESC, tok ASC) AS rank
  FROM scored
)
SELECT id, rank, tok, tf, df, tfidf FROM ranked WHERE rank <= 3
"""


def q_text_vocab_oov(spark, sf_dir):
    """Per-document out-of-vocabulary rate against the induced
    top-200-token corpus vocabulary."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    return T.vocab_oov(docs, vocab_size=200)


def _sql_vocab_oov() -> str:
    toks = f"SELECT doc_id AS id, unnest(string_split({_NORM.format(x='text')}, ' ')) AS tok FROM documents"
    return f"""
WITH toks AS (SELECT * FROM ({toks}) WHERE tok <> ''),
counts AS (SELECT tok, count(*)::BIGINT AS n FROM toks GROUP BY tok),
vocab AS (SELECT tok FROM counts ORDER BY n DESC, tok ASC LIMIT 200)
SELECT t.id, count(*)::BIGINT AS n_tokens,
       round(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
             / count(*)::DOUBLE, 6) AS oov_rate
FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
GROUP BY t.id
"""


def q_text_unigram_logprob(spark, sf_dir):
    """Mean add-one-smoothed unigram log-probability per document."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    return T.unigram_logprob(docs)


def q_text_corpus_stats(spark, sf_dir):
    """Vocabulary/OOV + unigram-LM scoring + bigram-LM scoring +
    CCNet-style per-language head/middle/tail quality bucket, joined
    per document (T4+T5+T9+T11 in one registry entry; shared doc-id
    key). The bigram join is LEFT: docs with < 2 tokens carry a null
    bigram score."""
    docs = Catalog(spark, sf_dir).documents
    oov = q_text_vocab_oov(spark, sf_dir)
    lp = q_text_unigram_logprob(spark, sf_dir).select("id", "mean_logprob")
    # the pair frame feeds four consumers inside bigram_logprob —
    # persist it (scoped) so the corpus explodes once
    bg_pairs = persist_scoped(
        T.bigram_rows(docs.select("doc_id", "text")))
    bi = T.bigram_logprob(docs, pairs=bg_pairs) \
        .select("id", "mean_bigram_logprob")
    lang = docs.select(F.col("doc_id").alias("id"), "lang")
    # bucket the compact (id, score, lang) frame BEFORE joining oov, so
    # only the score lineage — not the whole stats join — feeds both the
    # row side and the cutmap side of the bucketing self-join; a 100 TB
    # deployment persists this score frame between the two uses
    bucketed = T.lm_quality_buckets(lp.join(lang, "id"), group_col="lang")
    return oov.join(bucketed, "id").join(bi, "id", "left").select(
        "id", "n_tokens", "oov_rate", "mean_logprob",
        "mean_bigram_logprob", "lang", "lm_bucket")


def _sql_corpus_stats() -> str:
    buckets = T.SQL_LM_BUCKETS("stats", group="lang")
    return f"""
WITH stats AS (
  SELECT v.id, v.n_tokens, v.oov_rate, l.mean_logprob, d.lang
  FROM ({_sql_vocab_oov()}) v
  JOIN ({_sql_unigram_logprob()}) l ON v.id = l.id
  JOIN documents d ON v.id = d.doc_id
)
SELECT s.id, s.n_tokens, s.oov_rate, s.mean_logprob,
       bi.mean_bigram_logprob, s.lang, b.lm_bucket
FROM stats s
JOIN ({buckets}) b ON s.lang = b.lang AND s.mean_logprob = b.mean_logprob
LEFT JOIN ({T.SQL_BIGRAM_LOGPROB()}) bi ON s.id = bi.id
"""


def q_sample_pack_chunks(spark, sf_dir):
    """Token-budget sequence packing (PK1) over the documents table:
    8 independent bucket streams, 2000-token chunks."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    return PK.pack_chunks(docs, budget=2000, n_buckets=8)


def q_sample_token_budget(spark, sf_dir):
    """Data-constrained selection (SM4): keep the best-quality docs per
    language until a 20k-token budget fills — value-table cumulative
    cut, no global sort."""
    docs = Catalog(spark, sf_dir).documents
    feats = T.quality_features(F.col("text"))
    # the selection references its input twice (value table + semi-join
    # left side) — persist the scored frame so the text featurization
    # runs once, same convention as corpus_curation's shared frame
    scored = persist_scoped(
        docs.select("doc_id", "lang",
                    feats["quality_score"].alias("q"),
                    feats["n_tokens"].alias("n_tokens")))
    return SA.select_token_budget(scored, budget=20_000, score_col="q",
                                  tokens_col="n_tokens", group_col="lang")


_SPLIT_WEIGHTS = {"train": 0.9, "valid": 0.05, "test": 0.05}
# UniMax arm: a budget below the corpus' epoch-capped total so the
# waterfill lands mixed — small languages saturate at the epoch cap,
# the dominant one gets the fractional equal share (at sf0.01: four
# languages at 2.0 epochs, en at ~1.63)
_UNIMAX_BUDGET = 50_000
_UNIMAX_EPOCHS = 2


def q_sample_deterministic(spark, sf_dir):
    """Stratified hash sampling + domain-mix rebalancing + token-budget
    packing + per-language token-budget selection + train/valid/test
    split assignment + alpha=0.5 temperature sampling + DSIR
    importance weighting + UniMax epoch-capped language allocation +
    deterministic global training order as one tagged union
    (SM2+SM3+PK1+SM4+SM5+SM6+SM7+SM10+SM11); each branch is the
    unchanged
    single-op pipeline. ``val`` carries the pack branch's token offset,
    the budget branch's token count and the dsir branch's exact integer
    micro-weight (null on the sampling/split branches); the split
    branch's ``stratum`` is the assigned split name."""
    # Shared-scan note (r13, measured): persisting the documents table
    # for the nine arms made the composite SLOWER (3.7->4.7 s at
    # sf0.1) — full-row caching defeats column pruning and the scans
    # were never the cost. Per-arm profile: dsir 2.6 s + leak 2.2 s
    # dominate; the other seven arms are ~0.2-0.4 s each. The dsir
    # weights frame (consumed twice) is already scoped-persisted
    # below — the one expensive shared intermediate.
    null_val = F.lit(None).cast("long").alias("val")
    # Four arms run an EAGER driver job during plan construction (mix:
    # per-source counts; temp: per-lang counts; unimax: per-lang token
    # sums; leak: the LSH pair collect feeding the union-find). They
    # are mutually independent, so run_arms builds them (and the
    # stratified branch) concurrently: construction wall drops from the
    # SUM of the four jobs to roughly the largest one. No arm
    # checkpoints — each branch's plan and result are unchanged.
    def _st_branch():
        return (q_sample_stratified(spark, sf_dir)
                .select(F.lit("stratified").alias("tag"), "doc_id",
                        F.col("lang").alias("stratum"), null_val))

    def _mix_branch():
        return (q_sample_mix_rebalance(spark, sf_dir)
                .select(F.lit("mix").alias("tag"), "doc_id",
                        F.col("source").alias("stratum"), null_val))

    def _temp_branch():
        return (SA.temperature_mix(
            Catalog(spark, sf_dir).documents.select("doc_id", "lang"),
            "lang", alpha=0.5, key_col="doc_id", salt="temp")
            .select(F.lit("temp").alias("tag"), "doc_id",
                    F.col("lang").alias("stratum"), null_val))

    def _unimax_branch():
        docs_um = Catalog(spark, sf_dir).documents
        return (SA.unimax_allocation(docs_um, _UNIMAX_BUDGET,
                                     _UNIMAX_EPOCHS)
                .select(F.lit("unimax").alias("tag"), "doc_id",
                        F.col("lang").alias("stratum"),
                        F.col("n_copies").alias("val")))

    def _leak_branch():
        lk_corpus = _neardup_corpus(spark, sf_dir)
        lk_pairs = D.minhash_lsh_pairs(lk_corpus, k=3, n_hashes=16,
                                       bands=4)
        return (SA.leakage_safe_split(lk_corpus.select("doc_id"),
                                      _SPLIT_WEIGHTS, lk_pairs,
                                      id_col="doc_id", salt="leak")
                .select(F.lit("leak").alias("tag"), "doc_id",
                        F.col("split").alias("stratum"),
                        F.col("component").alias("val")))

    st, mx, tm, um, lk = run_arms(_st_branch, _mix_branch, _temp_branch,
                                  _unimax_branch, _leak_branch)
    pk = (q_sample_pack_chunks(spark, sf_dir)
          .select(F.lit("pack").alias("tag"), F.col("id").alias("doc_id"),
                  F.format_string("b%d/c%d", "bucket", "chunk")
                  .alias("stratum"),
                  F.col("offset").alias("val")))
    bg = (q_sample_token_budget(spark, sf_dir)
          .select(F.lit("budget").alias("tag"), "doc_id",
                  F.col("lang").alias("stratum"),
                  F.col("n_tokens").alias("val")))
    sp = (SA.split_assign(Catalog(spark, sf_dir).documents.select("doc_id"),
                          _SPLIT_WEIGHTS, key_col="doc_id", salt="cv")
          .select(F.lit("split").alias("tag"), "doc_id",
                  F.col("split").alias("stratum"), null_val))
    # chunk branch (T13): overlapping token windows; stratum carries
    # "c{idx}:{hash32(chunk_text)}" so chunk CONTENT and position are
    # both inside the hash check, val = the chunk's token count
    ck = (T.chunk_documents(Catalog(spark, sf_dir).documents,
                            size=64, stride=48)
          .select(F.lit("chunk").alias("tag"),
                  F.col("id").alias("doc_id"),
                  F.format_string("c%d:%d", F.col("chunk_idx"),
                                  D.hash32(F.col("chunk_text")))
                  .alias("stratum"),
                  F.col("n_tokens").alias("val")))
    # temperature branch (SM6): alpha=0.5 language flattening — the
    # closed-form (n_min/n_g)^(1-alpha) rates are IEEE-sqrt exact on
    # both engines, so the kept ROW SET is hash-checked, not just the
    # per-language counts (built by run_arms above)
    # dsir branch (SM7): importance weights against the src18 target
    # domain; stratum carries the deterministic selection verdict
    # ('hi' = above the pool-mean weight, judged with exact integer
    # arithmetic weight*n > total so no float accumulation exists)
    # and val the EXACT integer micro-weight — the whole weight
    # vector, not just the kept set, is inside the hash check
    docs = Catalog(spark, sf_dir).documents
    # ONE gram explode feeds both the logratio fit and the scoring
    # pass (r13 — the md5-per-gram hash made the second explode the
    # arm's dominant cost; dsir_gram_buckets carries the fit's flag
    # so neither side needs another corpus scan or an id join)
    dsir_grams = persist_scoped(SA.dsir_gram_buckets(
        docs.withColumn("__t", F.col("source") == "src18"),
        carry=("__t",)))
    dsir_tbl = SA.dsir_logratio_table(
        docs.withColumn("__t", F.col("source") == "src18"),
        target_flag="__t", grams=dsir_grams)
    # the weights frame feeds BOTH the rows and the pool-mean totals:
    # scoped-persist it, or the gram explodes + table build run twice
    dsir_w = persist_scoped(SA.dsir_weights(docs, dsir_tbl,
                                            grams=dsir_grams))
    # decimal(38,0) comparison: micro-weights (~1e11) times a 1e9+
    # doc count overflows BIGINT, which Spark wraps silently in
    # non-ANSI mode while the DuckDB twin raises — decimal keeps the
    # arithmetic exact-integer AND cross-engine identical at any
    # corpus size (twin: HUGEINT in _sql_sample_deterministic)
    # cast INSIDE the sum so the accumulator runs in decimal (casting
    # only the result leaves BIGINT accumulation that wraps first)
    dsir_tot = dsir_w.agg(F.sum(F.col("weight_micro")
                                .cast("decimal(38,0)")).alias("tot"),
                          F.count(F.lit(1)).alias("n"))
    ds = (dsir_w.crossJoin(F.broadcast(dsir_tot))
          .select(F.lit("dsir").alias("tag"),
                  F.col("id").alias("doc_id"),
                  F.when(F.col("weight_micro").cast("decimal(38,0)")
                         * F.col("n").cast("decimal(38,0)")
                         > F.col("tot"), F.lit("hi"))
                  .otherwise(F.lit("lo")).alias("stratum"),
                  F.col("weight_micro").alias("val")))
    # leak branch (SM9): leakage-safe split — near-dup components
    # (same corpus + LSH params as dedup_components) assigned to
    # splits ATOMICALLY, so a doc and its near-copy can never straddle
    # train/test; stratum = split name, val = the component id (both
    # the grouping and the assignment are inside the hash check;
    # built by run_arms above — its LSH collect is the largest of the
    # four overlapped construction jobs)
    # unimax branch (SM10): UniMax epoch-capped uniform language
    # allocation (Chung et al. 2023) — val is the doc's multiplicity in
    # the mixed corpus (floor(epochs) full passes + the deterministic
    # fractional-epoch draw), so the whole per-language waterfill AND
    # the per-doc hash draws sit inside the hash check (run_arms above)
    # order branch (SM11): deterministic global training order for
    # two epochs — stratum carries the epoch + hash-range bucket,
    # val the 0-based GLOBAL rank, so the full permutation (not just
    # membership) sits inside the hash check, per epoch
    od = None
    for epc in (0, 1):
        o = (SA.shuffle_order(docs.select("doc_id"), epoch=epc)
             .select(F.lit("order").alias("tag"), "doc_id",
                     F.format_string("e%d/b%d", "epoch", "bucket")
                     .alias("stratum"),
                     F.col("rank").alias("val")))
        od = o if od is None else od.unionByName(o)
    return (st.unionByName(mx).unionByName(pk).unionByName(bg)
            .unionByName(sp).unionByName(ck).unionByName(tm)
            .unionByName(ds).unionByName(lk).unionByName(um)
            .unionByName(od))


def _sql_sample_token_budget() -> str:
    budget_sel = SA.SQL_SELECT_TOKEN_BUDGET(
        "rows0", 20_000, score="q", tokens="n_tokens", group="lang")
    return f"""
WITH rows0 AS (
  SELECT q.doc_id, d.lang, q.quality_score AS q, q.n_tokens
  FROM ({ORACLE_TEXT_QUALITY}) q JOIN documents d ON q.doc_id = d.doc_id
)
{budget_sel}
"""


def _sql_sample_deterministic() -> str:
    return f"""
WITH RECURSIVE dsir_w AS ({SA.SQL_DSIR_WEIGHTS("documents", "source = 'src18'")}),
lkp AS ({_sql_minhash_lsh()}),
lke AS (
  SELECT id_a AS src, id_b AS dst FROM lkp
  UNION SELECT id_b, id_a FROM lkp
),
lkr(src, dst) AS (
  SELECT src, dst FROM lke
  UNION
  SELECT r.src, e.dst FROM lkr r JOIN lke e ON r.dst = e.src
),
lkc AS (
  SELECT src AS id, least(src, min(dst)) AS component
  FROM lkr GROUP BY src
),
lk AS (
  SELECT c.doc_id, coalesce(k.component, c.doc_id) AS component
  FROM (SELECT doc_id FROM documents
        UNION ALL
        SELECT doc_id + 100000 FROM documents WHERE doc_id % 10 = 0) c
  LEFT JOIN lkc k ON c.doc_id = k.id
)
SELECT 'stratified' AS tag, doc_id, lang AS stratum,
       CAST(NULL AS BIGINT) AS val
FROM ({_sql_sample_stratified()})
UNION ALL
SELECT 'mix', doc_id, source, CAST(NULL AS BIGINT)
FROM ({_sql_sample_mix_rebalance()})
UNION ALL
SELECT 'pack', id, printf('b%d/c%d', bucket, chunk), "offset"
FROM ({PK.SQL_PACK_CHUNKS(budget=2000, n_buckets=8)})
UNION ALL
SELECT 'budget', doc_id, lang, n_tokens
FROM ({_sql_sample_token_budget()})
UNION ALL
SELECT 'split', doc_id,
       {SA.SQL_SPLIT_ASSIGN(_SPLIT_WEIGHTS, "doc_id", salt="cv")},
       CAST(NULL AS BIGINT)
FROM documents
UNION ALL
SELECT 'chunk', id,
       'c' || chunk_idx::VARCHAR || ':'
           || ({_H32.format(x='chunk_text')})::VARCHAR,
       n_tokens
FROM ({T.SQL_CHUNK_DOCUMENTS('documents', 64, 48)})
UNION ALL
SELECT 'temp', doc_id, lang, CAST(NULL AS BIGINT)
FROM ({SA.SQL_TEMPERATURE_MIX(
    "(SELECT doc_id, lang FROM documents)", "lang", "doc_id",
    alpha=0.5, salt="temp")})
UNION ALL
SELECT 'dsir', id,
       CASE WHEN weight_micro::HUGEINT * (SELECT count(*) FROM dsir_w)
                 > (SELECT sum(weight_micro)::HUGEINT FROM dsir_w)
            THEN 'hi' ELSE 'lo' END,
       weight_micro
FROM dsir_w
UNION ALL
SELECT 'leak', doc_id,
       {SA.SQL_SPLIT_ASSIGN(_SPLIT_WEIGHTS, "component", salt="leak")},
       component
FROM lk
UNION ALL
SELECT 'unimax', doc_id, lang, n_copies
FROM ({SA.SQL_UNIMAX_COPIES("documents", _UNIMAX_BUDGET, _UNIMAX_EPOCHS)})
UNION ALL
SELECT 'order', doc_id, printf('e%d/b%d', epoch, bucket), rank
FROM ({SA.SQL_SHUFFLE_ORDER("documents", epoch=0)})
UNION ALL
SELECT 'order', doc_id, printf('e%d/b%d', epoch, bucket), rank
FROM ({SA.SQL_SHUFFLE_ORDER("documents", epoch=1)})
"""


def _sql_unigram_logprob() -> str:
    toks = f"SELECT doc_id AS id, unnest(string_split({_NORM.format(x='text')}, ' ')) AS tok FROM documents"
    return f"""
WITH toks AS (SELECT * FROM ({toks}) WHERE tok <> ''),
counts AS (SELECT tok, count(*)::BIGINT AS n FROM toks GROUP BY tok),
tot AS (SELECT sum(n)::BIGINT AS total, count(*)::BIGINT AS v FROM counts),
logp AS (
  SELECT tok, round(ln((n + 1) / (tot.total + tot.v)::DOUBLE), 6) AS logp
  FROM counts CROSS JOIN tot
)
SELECT t.id, count(*)::BIGINT AS n_tokens,
       round(avg(l.logp), 4) AS mean_logprob
FROM toks t JOIN logp l ON t.tok = l.tok
GROUP BY t.id
"""


# ---------------------------------------------------------------------------
# corpus curation (flagship composition)
# ---------------------------------------------------------------------------

def _curation_scored(spark, sf_dir) -> DataFrame:
    """The curation pipeline's shared scored-corpus frame, persisted
    (scoped). Two curation branches consume it — the kept-filter and
    the component ranking's quality score — so the regex-heavy
    quality/lang pass (the most expensive scan in the DAG) runs exactly
    once instead of once per branch (r12: −15% wall at sf0.1; at 100 TB
    it's a full corpus scan saved). It also carries ``n_tokens`` (a
    field of the SAME quality_features struct, zero extra scan work),
    which ``_curate`` carries through to ``corpus_to_shards``'
    token-budget selection instead of paying a SECOND full
    quality_features pass over the corpus (r13).

    The LSH pair generation reads the parquet corpus, not this frame:
    it needs only ``doc_id`` and ``text``, and under AQE a self-join
    whose two sides read one persisted frame plans two
    ``TableCacheQueryStage``s and reuses no exchange, so shingling,
    hashing and the signature and band shuffles would all run twice.
    Over parquet the second side is a ``ReusedExchange``."""
    corpus = _neardup_corpus(spark, sf_dir)
    feats = T.quality_features(F.col("text"))
    return persist_scoped(
        corpus.select("doc_id", "text",
                      feats["quality_score"].alias("quality_score"),
                      T.lang_id(F.col("text")).alias("pred_lang"),
                      feats["n_tokens"].alias("n_tokens")))


def q_corpus_curation(spark, sf_dir):
    """End-to-end training-data curation over the near-dup corpus:
    quality-score filter -> predicted-language filter -> benchmark
    decontamination (drop docs sharing 5-grams with the held-out
    benchmark subset) -> canonical-doc near-dup resolution (MinHash-LSH
    pairs -> connected components -> keep the HIGHEST-quality doc per
    cluster, ties to the lowest id). One lazy composition of the text,
    dedup and graph operators; the only iterative part is the component
    loop."""
    return (_curate(spark, sf_dir, _curation_scored(spark, sf_dir))
            .select("doc_id", "quality_score", "pred_lang"))


def _curate(spark, sf_dir, scored: DataFrame) -> DataFrame:
    """:func:`q_corpus_curation` over an already built
    :func:`_curation_scored` frame, so a caller that also reads the
    scored frame builds (and persists) it once. Carries ``n_tokens``
    alongside ``(doc_id, quality_score, pred_lang)``."""
    kept = scored.filter((F.col("quality_score") >= 0.5)
                         & (F.col("pred_lang") == "en"))
    bench = (Catalog(spark, sf_dir).documents
             .filter(F.col("doc_id") % 13 == 0).select("doc_id", "text"))
    # over parquet, not the persisted scored frame: see _curation_scored
    pairs = D.minhash_lsh_pairs(_neardup_corpus(spark, sf_dir),
                                k=3, n_hashes=16, bands=4)
    # quality-aware keep: score every corpus doc (clusters may span the
    # quality/lang filter, so the ranking sees pre-filter scores too)
    score = scored.select(F.col("doc_id").alias("id"),
                          F.col("quality_score").alias("score"))
    # The decontamination branch (kept ⨝ broadcast bench 5-gram
    # overlap) and the near-dup drop set (LSH pairs → eager collect →
    # driver union-find → score collect → driver ranking) are
    # INDEPENDENT until the final anti-join, so run_arms overlaps them.
    # Both read the persisted scored frame; concurrent first-fill is
    # handled by the block manager's per-partition get-or-compute. The
    # decon branch is eager-checkpointed without `text` (no later stage
    # reads it); the drop set comes back as a driver-built
    # LocalRelation, so the anti-join below is a broadcast.
    decon, drop = run_arms(
        lambda: D.decontaminate(kept, bench, k=5, min_overlap=3)
        .drop("text").localCheckpoint(eager=True),
        lambda: D.component_drop_set(pairs, score=score))
    canonical = decon.join(drop, decon["doc_id"] == drop["id"],
                           "left_anti")
    return canonical.select("doc_id", "quality_score", "pred_lang",
                            "n_tokens")


def _sql_corpus_curation_arms() -> str:
    """The curation pipeline as reusable CTE arms (everything after
    ``WITH RECURSIVE``, ending at ``ranked``): shared by the standalone
    curation oracle and the corpus_to_shards composition, which extends
    the same WITH list with selection/packing stages."""
    # nested WITH blocks: each stage's oracle fragment runs as its own
    # derived CTE over the shared corpus definition
    quality = ORACLE_TEXT_QUALITY.replace("FROM documents", "FROM corpus")
    # corpus has no `lang` ground-truth column — drop it from the
    # lang-id fragment (it outputs doc_id, pred_lang only here)
    lang = (_sql_lang_id().replace("FROM documents", "FROM corpus")
            .replace("doc_id, lang,", "doc_id,"))
    pairs = _sql_minhash_lsh().replace(f"WITH {_SQL_NEARDUP},", "WITH ")
    sh5 = D.SQL_WORD_SHINGLES("text", 5)
    sh5c = D.SQL_WORD_SHINGLES("c.text", 5)
    return f"""{_SQL_NEARDUP},
q AS ({quality}),
l AS ({lang}),
kept AS (
  SELECT q.doc_id, q.quality_score, l.pred_lang
  FROM q JOIN l ON q.doc_id = l.doc_id
  WHERE q.quality_score >= 0.5 AND l.pred_lang = 'en'
),
bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 13 = 0),
kx AS (
  SELECT k.doc_id AS id_a, unnest({sh5c}) AS s
  FROM kept k JOIN corpus c ON k.doc_id = c.doc_id
),
bx AS (SELECT doc_id AS id_b, unnest({sh5}) AS s FROM bench),
brare AS (SELECT s FROM bx GROUP BY s HAVING count(*) <= 100),
bdf AS (SELECT b.id_b, b.s FROM bx b JOIN brare r ON b.s = r.s),
flagged AS (
  SELECT DISTINCT id_a FROM (
    SELECT kx.id_a, bdf.id_b
    FROM kx JOIN bdf ON kx.s = bdf.s
    GROUP BY kx.id_a, bdf.id_b
    HAVING count(*) >= 3)
),
decon AS (
  SELECT k.* FROM kept k
  LEFT JOIN flagged f ON k.doc_id = f.id_a
  WHERE f.id_a IS NULL
),
pairs AS ({pairs}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (
  SELECT src AS id, least(src, min(dst)) AS component
  FROM reach GROUP BY src
),
ranked AS (
  SELECT c.id, row_number() OVER (
    PARTITION BY c.component
    ORDER BY q.quality_score DESC NULLS LAST, c.id ASC) AS rn
  FROM comp c LEFT JOIN q ON c.id = q.doc_id
)"""


_SQL_CURATION_FINAL = """
SELECT k.doc_id, k.quality_score, k.pred_lang
FROM decon k
LEFT JOIN ranked r ON k.doc_id = r.id
WHERE r.id IS NULL OR r.rn = 1
"""


def _sql_corpus_curation() -> str:
    return (f"WITH RECURSIVE {_sql_corpus_curation_arms()}"
            f"{_SQL_CURATION_FINAL}")


# ---------------------------------------------------------------------------
# corpus -> shards (full production composition)
# ---------------------------------------------------------------------------

def q_corpus_to_shards(spark, sf_dir):
    """The complete production path as ONE lazy DAG: curate
    (quality -> lang -> decontaminate -> near-dup canonical keep) ->
    per-language token-budget selection -> sequence packing ->
    deterministic shard assignment. Returns the pre-sink frame
    ``write_shards`` consumes verbatim — ``(id, bucket, chunk,
    n_tokens, offset, shard)``; keeping the query pure (no write)
    keeps it lazy, hashable and plan-guard clean, while composing the
    four operator families in one DAG catches cross-operator schema
    drift the per-operator queries cannot. The write itself is
    exercised by ``test_sinks.test_corpus_to_shards_frame_writes_verbatim``.

    Scale shape: curation's broadcast/bucketed stages feed a compact
    (group, score) value-table cut (no global sort), a
    bucket-partitioned packing window (no single-partition stream) and
    a scan-only shard hash — every stage is the unchanged scale path
    of its operator."""
    return corpus_to_shards_frame(spark, sf_dir)


def corpus_to_shards_frame(spark, sf_dir, *, token_budget: int = 15_000,
                           seq_len: int = 512, n_shards: int = 4,
                           n_buckets: int = 4,
                           tokenizer: str = "whitespace",
                           bpe_merges: int = 200):
    """Parameterized corpus->shards composition: the registry query
    above pins the oracle-hashed defaults; the plan-level dataops
    target (``plans/orchestrator.Pipeline.run_dataops``) drives the
    same DAG with NL-derived parameters.

    ``tokenizer="bpe"`` swaps the whitespace token counts feeding the
    budget selection and packing for REAL subword counts: a BPE table
    is trained on the corpus (one word-count shuffle + capped driver
    merge loop, ``operators/bpe.py``) and applied through the cached
    Arrow kernel. The oracle-checked registry query stays on the
    whitespace path (BPE training is iterative — not
    SQL-expressible)."""
    if tokenizer not in ("whitespace", "bpe"):
        raise ValueError(
            f"tokenizer must be 'whitespace' or 'bpe', got {tokenizer!r}")
    # whitespace token counts ride through curation on the persisted
    # scored frame (same quality_features struct), so they cost no
    # extra corpus scan instead of a second regex pass (r13)
    curated = _curate(spark, sf_dir, _curation_scored(spark, sf_dir))
    if tokenizer == "bpe":
        from dynamic_etl_pipeline_thesis_ii_spark.operators import bpe as B
        corpus = _neardup_corpus(spark, sf_dir)
        merges = B.train_bpe(corpus, n_merges=bpe_merges)
        # count-only: the budget/pack stages never read the token
        # arrays, so don't Arrow-ship them out of the kernel
        toks = (B.apply_bpe(corpus, merges, with_tokens=False)
                .select(F.col("id").alias("doc_id"), "n_tokens"))
        curated = curated.drop("n_tokens").join(toks, "doc_id")
    # the budget selection consumes `scored` twice (value table +
    # semi-join left side) and `scored` embeds the WHOLE curation
    # pipeline — persist it (scoped) or curation runs twice
    scored = persist_scoped(curated)
    sel = SA.select_token_budget(scored, budget=token_budget,
                                 score_col="quality_score",
                                 tokens_col="n_tokens",
                                 group_col="pred_lang")
    packed = PK.pack_chunks(sel, budget=seq_len, id_col="doc_id",
                            tokens_col="n_tokens", n_buckets=n_buckets)
    # same doc->shard hash as sinks.write_shards (key cast to string,
    # unsalted), so the frame can be handed to the writer verbatim and
    # a reader can verify placement against this column
    shard = (D.hash32(F.col("id").cast("string")) % n_shards).cast("int")
    return packed.withColumn("shard", shard)


def _sql_corpus_to_shards() -> str:
    sel = SA.SQL_SELECT_TOKEN_BUDGET(
        "scored", 15_000, score="quality_score", tokens="n_tokens",
        group="pred_lang")
    pack = PK.SQL_PACK_CHUNKS(budget=512, n_buckets=4, table="sel",
                              id_col="doc_id", tokens_col="n_tokens")
    shard = D.SQL_HASH32.format(x="(id)::VARCHAR")
    return f"""
WITH RECURSIVE {_sql_corpus_curation_arms()},
curated AS ({_SQL_CURATION_FINAL}),
scored AS (
  SELECT c.doc_id, c.quality_score, c.pred_lang, q.n_tokens
  FROM curated c JOIN q ON c.doc_id = q.doc_id
),
sel AS ({sel}),
packed AS ({pack})
SELECT id, bucket, chunk, n_tokens, "offset",
       ({shard} % 4)::INT AS shard
FROM packed
"""


def q_dedup_cap_stats(spark, sf_dir):
    """Hot-bucket cap telemetry as an ORACLE-CHECKED result (D15):
    the exact aggregate ``dedup.bucket_cap_stats`` reports in NL runs
    — capped buckets via the sum(1/bn)-per-row trick (no distinct
    aggregate), capped rows, largest bucket — over the near-dup
    corpus's MinHash band table at a deliberately low cap
    (max_bucket=2, the synthetic corpus's buckets top out at ~6), as
    a one-row frame DuckDB reproduces with a direct GROUP BY count.
    The driver gate thereby pins the 1/bn bucket-count formulation
    against an independent formulation bit-for-bit."""
    from pyspark.sql import Window as _W

    cap = 2
    banded = (D.minhash_band_keys(_neardup_corpus(spark, sf_dir),
                                  k=3, n_hashes=16, bands=4)
              .withColumn("__bn", F.count(F.lit(1)).over(
                  _W.partitionBy("band", "slice"))))
    over = F.col("__bn") > cap
    return banded.agg(
        F.lit(cap).cast("long").alias("max_bucket"),
        F.round(F.coalesce(F.sum(F.when(over, 1.0 / F.col("__bn"))),
                           F.lit(0.0)), 0).cast("long")
        .alias("capped_buckets"),
        F.coalesce(F.sum(F.when(over, 1)), F.lit(0)).cast("long")
        .alias("capped_rows"),
        F.coalesce(F.max("__bn"), F.lit(0)).cast("long")
        .alias("largest_bucket"))


def _sql_cap_stats(k: int = 3, n_hashes: int = 16, bands: int = 4,
                   cap: int = 2) -> str:
    # independent formulation: direct GROUP BY bucket counts (the
    # Spark side uses the window + sum(1/bn) trick — the driver gate
    # proves the two agree)
    sh = D.SQL_WORD_SHINGLES("text", k)
    h = D.SQL_HASH32.format(x="s")
    r = n_hashes // bands
    mins = ", ".join(
        f"min(({2 * i + 1} * h + {12345 * i + 17}) % {D.H32_PRIME}) AS m{i}"
        for i in range(n_hashes))
    band_rows = "\n  UNION ALL ".join(
        f"SELECT id, {b} AS band, [{', '.join(f'm{b * r + j}' for j in range(r))}] AS slc FROM sigs"
        for b in range(bands))
    return f"""
WITH {_SQL_NEARDUP},
ex AS (SELECT doc_id AS id, unnest({sh}) AS s FROM corpus),
hashed AS (SELECT id, {h} AS h FROM ex),
sigs AS (SELECT id, {mins} FROM hashed GROUP BY id),
banded AS (
  {band_rows}
),
sized AS (SELECT band, slc, count(*) AS c FROM banded GROUP BY band, slc)
SELECT {cap}::BIGINT AS max_bucket,
  coalesce(count(CASE WHEN c > {cap} THEN 1 END), 0)::BIGINT
    AS capped_buckets,
  coalesce(sum(CASE WHEN c > {cap} THEN c END), 0)::BIGINT
    AS capped_rows,
  coalesce(max(c), 0)::BIGINT AS largest_bucket
FROM sized
"""


def q_decon_spans(spark, sf_dir):
    """Span-level benchmark decontamination (D19): maximal corpus
    spans appearing verbatim in an eval set built from every 13th
    document — the surgical face of D7 (flag the quote, keep the
    book). Benchmark windows broadcast; the corpus pays one window
    projection, no shuffle before the island merge."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 13 == 0)
    return D.benchmark_span_flags(docs, bench, w=8)


ORACLE_DECON_SPANS = f"""
WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 13 = 0)
SELECT * FROM ({D.SQL_BENCH_SPANS(8, corpus_table='documents',
                                  bench_table='bench')})
"""


def q_dedup_spans(spark, sf_dir):
    """D18 + D19 as ONE branch-tagged entry (identical span schemas;
    folded in round 12 for the registry's 50-row driver window —
    see ``queries/__init__.all_queries``): part='substr' is the
    cross-document ExactSubstr detection, part='decon' the span-level
    benchmark decontamination."""
    # the two span detectors are independent corpus pipelines, run
    # concurrently by run_arms
    def _sub():
        return (q_dedup_substring(spark, sf_dir)
                .withColumn("part", F.lit("substr"))
                .localCheckpoint(eager=True))

    def _dec():
        return (q_decon_spans(spark, sf_dir)
                .withColumn("part", F.lit("decon"))
                .localCheckpoint(eager=True))

    sub, dec = run_arms(_sub, _dec)
    return sub.unionByName(dec)


ORACLE_DEDUP_SPANS = f"""
SELECT 'substr' AS part, * FROM ({ORACLE_DEDUP_SUBSTRING})
UNION ALL
SELECT 'decon', * FROM ({ORACLE_DECON_SPANS})
"""


# ---------------------------------------------------------------------------
# license / compliance scan
# ---------------------------------------------------------------------------

# deterministic license-marker plants: every k-th doc gains one marker
# family so all classes (and the most-restrictive fold) exercise
_LICENSE_PLANTS = [
    (11, " SPDX-License-Identifier: MIT and this file is under the "
         "MIT License."),
    (13, " Licensed under the Apache License, Version 2.0."),
    (17, " Released under the GNU General Public License v3."),
    (19, " This work is licensed under a Creative Commons CC-BY-SA "
         "license."),
    (23, " Copyright 2021 Example Corp. All rights reserved."),
]


def q_text_license_scan(spark, sf_dir):
    """License/compliance audit (T19): per-doc marker flags + the
    most-restrictive class over documents with deterministic marker
    plants, plus a per-(source, class) governance rollup — one scan,
    zero shuffles for the flags, one groupBy for the rollup."""
    docs = Catalog(spark, sf_dir).documents.select(
        "doc_id", "source", "text")
    text = F.col("text")
    for k, marker in _LICENSE_PLANTS:
        text = F.when(F.col("doc_id") % k == 0,
                      F.concat(F.coalesce(F.col("text"), F.lit("")),
                               F.lit(marker))).otherwise(text)
    planted = docs.withColumn("text", text)
    flags = T.license_scan(planted)
    rollup = (flags.join(planted.select(F.col("doc_id").alias("id"),
                                        "source"), "id")
              .groupBy("source", "license_class")
              .agg(F.count(F.lit(1)).alias("n_docs")))
    null_b = F.lit(None).cast("boolean")
    return (flags.select(F.lit("doc").alias("part"), "id",
                         "has_spdx", "has_cc", "has_permissive",
                         "has_copyleft", "has_rights_reserved",
                         "has_copyright", "license_class",
                         F.lit(None).cast("string").alias("source"),
                         F.lit(None).cast("bigint").alias("n_docs"))
            .unionByName(rollup.select(
                F.lit("rollup").alias("part"),
                F.lit(None).cast("bigint").alias("id"),
                *[null_b.alias(c) for c in
                  ("has_spdx", "has_cc", "has_permissive",
                   "has_copyleft", "has_rights_reserved",
                   "has_copyright")],
                "license_class", "source", "n_docs")))


def _sql_license_scan() -> str:
    plants = ""
    for k, marker in _LICENSE_PLANTS:
        plants = (f"CASE WHEN doc_id % {k} = 0 THEN "
                  f"coalesce(text, '') || '{marker}' ELSE "
                  + (plants if plants else "text") + " END")
    return f"""
WITH planted AS (
  SELECT doc_id, source, {plants} AS text FROM documents
),
f AS ({T.SQL_LICENSE_SCAN(table='planted')}),
j AS (SELECT f.*, p.source FROM f JOIN planted p ON f.id = p.doc_id)
SELECT 'doc' AS part, id, has_spdx, has_cc, has_permissive,
       has_copyleft, has_rights_reserved, has_copyright,
       license_class, NULL::VARCHAR AS source, NULL::BIGINT AS n_docs
FROM f
UNION ALL
SELECT 'rollup', NULL::BIGINT, NULL::BOOLEAN, NULL::BOOLEAN,
       NULL::BOOLEAN, NULL::BOOLEAN, NULL::BOOLEAN, NULL::BOOLEAN,
       license_class, source, count(*)::BIGINT
FROM j GROUP BY source, license_class
"""


# ---------------------------------------------------------------------------
# hybrid retrieval: BM25 + dense cosine, reciprocal-rank fusion
# ---------------------------------------------------------------------------

def q_retrieval_hybrid(spark, sf_dir):
    """Hybrid two-tower retrieval (T18): the BM25_QUERIES literals as
    the lexical arm, embeddings 0-2 as the matching dense query
    vectors (vec_id shares the documents' 0..N id space), fused by
    reciprocal rank — both towers broadcast the eval-sized query
    set, fusion is |Q|·k_pool rows."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    emb = Catalog(spark, sf_dir).embeddings
    cands = emb.select(F.col("vec_id").alias("c_id"),
                       F.col("embedding").alias("c_vec"))
    qtext = spark.createDataFrame(
        BM25_QUERIES, "query_id bigint, query_text string")
    qvec = (emb.filter(F.col("vec_id") < 3)
            .select((F.col("vec_id") + 1).alias("query_id"),
                    F.col("embedding").alias("query_vec")))
    return S.hybrid_topk(docs, cands, qtext.join(qvec, "query_id"),
                         k=8, k_pool=12)


def _sql_retrieval_hybrid() -> str:
    return f"""
WITH lex AS (
  SELECT query_id, id, rank
  FROM ({T.SQL_BM25_TOPK(BM25_QUERIES, id_col='doc_id', k=12)})
),
q AS (SELECT vec_id + 1 AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 3),
c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS cv FROM embeddings),
s AS (SELECT query_id, c_id, {_SQL_COS} AS cos FROM q, c),
den AS (
  SELECT query_id, c_id AS id, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, c_id ASC) AS rank
    FROM s
  ) WHERE rank <= 12
),
contrib AS (
  SELECT query_id, id, 1.0::DOUBLE / (60 + rank) AS contrib FROM lex
  UNION ALL
  SELECT query_id, id, 1.0::DOUBLE / (60 + rank) AS contrib FROM den
),
fused AS (
  SELECT query_id, id, round(sum(contrib), 6) AS rrf,
         count(*)::BIGINT AS n_arms
  FROM contrib GROUP BY query_id, id
)
SELECT query_id, rank, id, rrf, n_arms FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf DESC, id ASC) AS rank
  FROM fused
) WHERE rank <= 8
"""


DATAOPS_QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_spans": q_dedup_spans,
    "dedup_cap_stats": q_dedup_cap_stats,
    "dedup_neardup_pairs": q_dedup_neardup_pairs,
    "dedup_components": q_dedup_components,
    "ann_topk": q_ann_topk,
    "retrieval_hybrid": q_retrieval_hybrid,
    "text_metrics": q_text_metrics,
    "text_license_scan": q_text_license_scan,
    "text_pii_scrub": q_text_pii_scrub,
    "text_tfidf_topterms": q_text_tfidf,
    "text_corpus_stats": q_text_corpus_stats,
    "sample_deterministic": q_sample_deterministic,
    "corpus_curation": q_corpus_curation,
    "corpus_to_shards": q_corpus_to_shards,
    "multimodal_features": q_multimodal_features,
}

DATAOPS_ORACLES = {
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "dedup_spans": ORACLE_DEDUP_SPANS,
    "dedup_cap_stats": _sql_cap_stats(),
    "dedup_neardup_pairs": _sql_neardup_pairs(),
    "dedup_components": _sql_components(),
    "ann_topk": _sql_ann_topk(),
    "retrieval_hybrid": _sql_retrieval_hybrid(),
    "text_metrics": ORACLE_TEXT_METRICS,
    "text_license_scan": _sql_license_scan(),
    "text_pii_scrub": _sql_pii_scrub(),
    "text_tfidf_topterms": _sql_tfidf(),
    "text_corpus_stats": _sql_corpus_stats(),
    "sample_deterministic": _sql_sample_deterministic(),
    "corpus_curation": _sql_corpus_curation(),
    "corpus_to_shards": _sql_corpus_to_shards(),
    "multimodal_features": ORACLE_MULTIMODAL_FEATURES,
}
