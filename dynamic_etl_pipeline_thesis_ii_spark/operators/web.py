"""URL / domain curation operators (CommonCrawl-style web-corpus
hygiene): URL normalization, host + registered-domain extraction,
domain blocklist filtering and canonical URL dedup.

No reference counterpart (training-data extension, SURVEY §2.12): web
corpora key their provenance, dedup and filtering decisions on the
URL, and the same raw page arrives under dozens of surface forms
(tracking params, fragments, default ports, mixed-case hosts). Every
transform here is a pure column expression with a DuckDB SQL twin
generated from the SAME rule table, so the driver's oracle checks the
normalization semantics themselves, not just the plumbing.

Scale notes: normalization/extraction are per-row expressions (one
scan, whole-stage codegen); the blocklist filter broadcasts the
(small) blocklist side; URL dedup is one shuffle on the normalized
URL — the standard exact-dedup shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dynamic_etl_pipeline_thesis_ii_spark.scope import persist_scoped

# scheme://authority pieces. Only scheme and host are case-INsensitive
# per RFC 3986 §6.2.2.1 — userinfo (rare, but `user@host` is legal)
# keeps its case and must not be mistaken for the host.
_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://"
_PREFIX_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*"
_AUTH_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)"

# ordered rewrite rules applied AFTER the scheme+host lowercase step.
# (pattern, spark_replacement, duckdb_replacement) — patterns are
# RE2-safe (no lookaround/backrefs) so Java and DuckDB agree.
_URL_RULES: list[tuple[str, str, str]] = [
    (r"#.*", "", ""),                                    # fragment
    # tracking params; the captured delimiter survives so ?/& chains
    # can be repaired by the cleanup rules below
    # utm_ name class includes digits/underscores: real trackers ship
    # utm_id / utm_abc123-style params, which a letters-only class
    # would leave behind (keeping duplicate URLs distinct)
    (r"([?&])(?:utm_[A-Za-z0-9_]+|fbclid|gclid)=[^&]*", "$1", r"\1"),
    # && collapse MUST precede the ?& repair: '?utm&utm&id' leaves
    # '?&&id', and repairing ?& first would strand '?&id' (caught by
    # the idempotence property test)
    (r"&&+", "&", "&"),                                  # a&&b -> a&b
    (r"\?&", "?", "?"),                                  # ?&a -> ?a
    (r"[?&]+$", "", ""),                                 # dangling ?/&
    # default ports (scheme already lowercased; on the rare
    # userinfo-bearing authority these don't match — the port is kept,
    # a conservative non-merge)
    (r"^(http://[^/:?#]+):80([/?#]|$)", "$1$2", r"\1\2"),
    # trailing slash — PATH only: `[^?]*` cannot span a '?', so any
    # URL with a query keeps a '/' that ends a parameter VALUE
    (r"^(https://[^/:?#]+):443([/?#]|$)", "$1$2", r"\1\2"),
    # group must END on a non-slash so ALL trailing slashes go in one
    # pass ('/x//' would otherwise lose one slash per normalization)
    (r"^([^?]*[^/?])/+$", "$1", r"\1"),
]

# common country-code second-level domains for the naive registered-
# domain cut (a full public-suffix list is a data file, not an
# algorithm change — swap in via the `cc_slds` parameter)
CC_SLDS = ("co.uk", "org.uk", "ac.uk", "co.jp", "com.au",
           "co.nz", "com.br", "co.in")


def normalize_url(url: Column) -> Column:
    """Canonical URL: lowercase scheme + host (userinfo keeps its
    case), drop fragment, strip utm_*/fbclid/gclid tracking params
    (repairing the ?/& chain), drop default ports and trailing PATH
    slashes."""
    auth = F.regexp_extract(url, _AUTH_RE, 1)
    userinfo = F.regexp_extract(auth, r"^(.*@)", 1)    # '' when absent
    hostport = F.regexp_replace(auth, r"^.*@", "")
    out = F.concat(F.lower(F.regexp_extract(url, _SCHEME_RE, 1)),
                   F.when(F.regexp_extract(url, _SCHEME_RE, 1) != "",
                          F.lit("://")).otherwise(F.lit("")),
                   userinfo, F.lower(hostport),
                   F.regexp_replace(url, _PREFIX_RE, ""))
    for pat, repl, _ in _URL_RULES:
        out = F.regexp_replace(out, pat, repl)
    return out


def SQL_NORMALIZE_URL(expr: str) -> str:
    """DuckDB twin of :func:`normalize_url`, generated from the same
    rule table."""
    auth = f"regexp_extract({expr}, '{_AUTH_RE}', 1)"
    userinfo = f"regexp_extract({auth}, '^(.*@)', 1)"
    hostport = f"regexp_replace({auth}, '^.*@', '')"
    scheme = f"regexp_extract({expr}, '{_SCHEME_RE}', 1)"
    out = (f"lower({scheme}) || "
           f"CASE WHEN {scheme} != '' THEN '://' ELSE '' END || "
           f"{userinfo} || lower({hostport}) || "
           f"regexp_replace({expr}, '{_PREFIX_RE}', '')")
    for pat, _, repl in _URL_RULES:
        p = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{p}', '{repl}', 'g')"
    return out


# host = authority after any userinfo '@', before any ':port'
_HOST_RE = r"^[a-z][a-z0-9+.\-]*://(?:[^/?#]*@)?([^/:?#]+)"
# schemeless fallback: optional protocol-relative '//', optional
# userinfo, then everything up to the first '/:?#'. Applied ONLY when
# no scheme is present — on 'http:///x' the scheme branch owns the
# (empty) authority, and the fallback must not misread 'http' as a
# host.
_BARE_HOST_RE = r"^(?://)?(?:[^/?#]*@)?([^/:?#]+)"


def url_host(norm_url: Column) -> Column:
    """Authority host of an already-normalized URL (userinfo and port
    excluded — a crafted 'user@blocked.com' authority must still
    resolve to the real host for the blocklist). Schemeless and
    protocol-relative inputs ('example.com/x', '//blocked.com/x')
    fall back to the text before the first '/:?#' so blocklist
    coverage does not depend on the scheme being present; the result
    is lowercased (hosts are case-insensitive, RFC 3986 §6.2.2.1) so
    schemeless hosts — which normalize_url cannot lowercase — still
    match a lowercase blocklist."""
    scheme = F.regexp_extract(norm_url, _SCHEME_RE, 1)
    return F.lower(F.when(scheme != "",
                          F.regexp_extract(norm_url, _HOST_RE, 1))
                   .otherwise(F.regexp_extract(norm_url, _BARE_HOST_RE, 1)))


def SQL_URL_HOST(expr: str) -> str:
    return (f"lower(CASE WHEN regexp_extract({expr}, '{_SCHEME_RE}', 1)"
            f" != '' THEN regexp_extract({expr}, '{_HOST_RE}', 1) "
            f"ELSE regexp_extract({expr}, '{_BARE_HOST_RE}', 1) END)")


def registered_domain(host: Column,
                      cc_slds: tuple[str, ...] = CC_SLDS) -> Column:
    """Naive registered domain: last two labels, or last three when
    the last two form a known ccSLD (``co.uk`` etc.); single-label
    hosts pass through."""
    parts = F.split(host, r"\.")
    n = F.size(parts)
    last2 = F.when(n >= 2, F.concat_ws(".", F.element_at(parts, -2),
                                       F.element_at(parts, -1))) \
        .otherwise(host)
    return F.when((n >= 3) & last2.isin(*cc_slds),
                  F.concat_ws(".", F.element_at(parts, -3), last2)) \
        .otherwise(last2)


def SQL_REGISTERED_DOMAIN(host_expr: str,
                          cc_slds: tuple[str, ...] = CC_SLDS) -> str:
    slds = ", ".join(f"'{s}'" for s in cc_slds)
    parts = f"string_split({host_expr}, '.')"
    last2 = (f"CASE WHEN len({parts}) >= 2 THEN "
             f"{parts}[-2] || '.' || {parts}[-1] ELSE {host_expr} END")
    return (f"CASE WHEN len({parts}) >= 3 AND ({last2}) IN ({slds}) "
            f"THEN {parts}[-3] || '.' || ({last2}) ELSE ({last2}) END")


def load_suffix_rules(text: str) -> tuple[tuple[str, ...],
                                          tuple[str, ...],
                                          tuple[str, ...]]:
    """Parse publicsuffix.org's PSL format into ``(exact, wildcard,
    exception)`` rule tuples: ``//`` comments and blanks skipped,
    ``*.foo`` wildcard rules, ``!bar.foo`` exception rules, everything
    else an exact suffix. Pure data parsing — feed the result to
    :func:`registered_domain_psl`."""
    exact, wild, exc = [], [], []
    for line in text.splitlines():
        line = line.strip().lower()
        if not line or line.startswith("//"):
            continue
        line = line.split()[0]                 # trailing comments
        if line.startswith("!"):
            exc.append(line[1:])
        elif line.startswith("*."):
            wild.append(line[2:])
        else:
            exact.append(line)
    return tuple(exact), tuple(wild), tuple(exc)


def registered_domain_psl(df: DataFrame, rules, host_col: str = "host",
                          out_col: str = "registered_domain",
                          max_labels: int = 4) -> DataFrame:
    """Registered (PSL §algorithm) domain via a BROADCAST rule join —
    the scale path for the real ~9k-entry public-suffix list, where
    :func:`registered_domain`'s literal ``isin`` would compile a 9k-arm
    expression per row. Each host emits its trailing label suffixes of
    length 1..``max_labels`` (the PSL's longest live rule tier), one
    broadcast join tags which are rules, and the winner per host is
    the PSL match order: exception rules beat everything (their
    registered domain is the exception itself), else the LONGEST
    matching rule wins with wildcard rules counting one label longer
    than their printed form; the registered domain is the matched
    suffix plus one label. Hosts matching no rule use the implicit
    ``*`` root rule (last label is the suffix) — single-label hosts
    pass through.

    Scale shape: rules broadcast (9k rows); the corpus reduces to
    DISTINCT hosts first (web corpora average many pages per host, so
    this is the big reduction), explodes ≤``max_labels`` candidate
    suffixes per host, broadcast-joins the rules, aggregates the
    winner per host, and rejoins the corpus on the host — two uniform
    host-keyed shuffles total, with the rejoin left to AQE (the
    resolved side is |distinct hosts| and may be too big to force a
    broadcast). Hosts that ARE a bare public suffix resolve to
    themselves (the engine-wide single-label convention)."""
    exact, wild, exc = (tuple(rules[0]), tuple(rules[1]),
                        tuple(rules[2]))
    spark = df.sparkSession
    rule_rows = ([(s, "exact") for s in exact]
                 + [(s, "wild") for s in wild]
                 + [(s, "exc") for s in exc])
    rule_df = spark.createDataFrame(rule_rows, ["__suffix", "__kind"]) \
        if rule_rows else spark.createDataFrame(
            [("", "exact")], ["__suffix", "__kind"]).limit(0)

    parts = F.split(F.lower(F.col("__host")), r"\.")
    n = F.size(parts)
    # trailing suffix of len L: labels n-L+1 .. n (1-based element_at
    # with negative idx walks from the end)
    cands = F.array(*[
        F.when(n >= L, F.struct(
            F.lit(L).alias("len"),
            F.concat_ws(".", *[F.element_at(parts, -i)
                               for i in range(L, 0, -1)]).alias("sfx")))
        for L in range(1, max_labels + 1)])
    ex = (df.select(F.col(host_col).alias("__host"))
          .distinct()
          .select("__host",
                  F.explode(F.filter(cands,
                                     lambda c: c.isNotNull())).alias("c"))
          .select("__host", F.col("c.len").alias("__len"),
                  F.col("c.sfx").alias("__suffix")))
    hit = ex.join(F.broadcast(rule_df), "__suffix")
    # rule weight: exceptions dominate (weight 1000+len and resolve to
    # the suffix ITSELF); wildcards count printed len + 1 (PSL §) but
    # only fire when the host has a label under them (len < n handled
    # by registered-domain cut below needing one more label)
    weight = (F.when(F.col("__kind") == "exc", F.lit(1000) + F.col("__len"))
              .when(F.col("__kind") == "wild", F.col("__len") + 1)
              .otherwise(F.col("__len")))
    best = (hit.groupBy("__host")
            .agg(F.max_by(F.struct(weight.alias("w"),
                                   F.col("__kind").alias("kind"),
                                   F.col("__len").alias("len")),
                          weight).alias("b")))
    hp = F.split(F.lower(F.col("__host")), r"\.")
    hn = F.size(hp)
    suffix_labels = (F.when(F.col("b.kind") == "exc", F.col("b.len") - 1)
                     .when(F.col("b.kind") == "wild", F.col("b.len") + 1)
                     .otherwise(F.col("b.len")))
    cut = F.least(suffix_labels + 1, hn)
    reg = F.concat_ws(".", F.slice(hp, hn - cut + 1, cut))
    resolved = best.select("__host", reg.alias("__reg"))
    # implicit '*' rule for no-match hosts: suffix = last label,
    # registered domain = last two labels (or the host itself)
    parts2 = F.split(F.lower(F.col(host_col)), r"\.")
    n2 = F.size(parts2)
    fallback = F.concat_ws(".", F.slice(parts2, F.greatest(n2 - 1, F.lit(1)),
                                        F.least(n2, F.lit(2))))
    return (df.join(resolved, F.col(host_col) == F.col("__host"), "left")
            .withColumn(out_col, F.coalesce(F.col("__reg"), fallback))
            .drop("__host", "__reg"))


def domain_filter(df: DataFrame, blocked: DataFrame,
                  url_col: str = "url", psl_rules=None) -> DataFrame:
    """Drop rows whose registered domain appears in ``blocked``
    (column ``domain``). With the default literal ccSLD cut the
    corpus is never shuffled (blocklist broadcast into a left-anti
    join); passing ``psl_rules`` (:func:`load_suffix_rules`) swaps in
    the full public-suffix-list cut via
    :func:`registered_domain_psl` — needed when the blocklist names
    org-level domains under hosting suffixes (``user.github.io``),
    which the naive last-two-labels cut would collapse to the suffix
    itself and miss."""
    if psl_rules is None:
        dom = registered_domain(url_host(normalize_url(F.col(url_col))))
        keyed = df.withColumn("_dom", dom)
    else:
        keyed = registered_domain_psl(
            df.withColumn("_h", url_host(normalize_url(F.col(url_col)))),
            psl_rules, host_col="_h", out_col="_dom").drop("_h")
    return (keyed
            .join(F.broadcast(blocked.select(F.col("domain").alias("_dom"))),
                  "_dom", "left_anti")
            .drop("_dom"))


def url_dedup(df: DataFrame, url_col: str = "url",
              id_col: str = "doc_id") -> DataFrame:
    """Canonical-keep exact dedup on the NORMALIZED URL: the lowest id
    per canonical URL survives. One shuffle on the normalized URL."""
    norm = normalize_url(F.col(url_col))
    keyed = df.withColumn("_norm_url", norm)
    keep = (keyed.groupBy("_norm_url")
            .agg(F.min(id_col).alias(id_col)))
    return (keyed.join(keep, ["_norm_url", id_col], "left_semi")
            .drop("_norm_url"))


# ---------------------------------------------------------------------------
# domain ranking over the link graph (W4): the crawl-curation quality
# prior — corpus pipelines weight/filter pages by how central their
# domain is in the web graph (the CommonCrawl harmonic/PageRank lists)
# ---------------------------------------------------------------------------

def link_edges(df: DataFrame, url_col: str = "url",
               links_col: str = "links") -> DataFrame:
    """Distinct (src, dst) REGISTERED-DOMAIN edges from a page table
    carrying its outlinks as an array column — the graph-extraction
    front of :func:`domain_pagerank`. Self-edges (intra-domain
    navigation) drop: they carry no cross-site endorsement and at
    web scale they dominate raw link counts. One explode + one
    distinct; everything before the distinct is per-row column
    expressions (the normalize/host/domain chain)."""
    src = registered_domain(url_host(normalize_url(F.col(url_col))))
    dst = registered_domain(url_host(normalize_url(F.col("__link"))))
    return (df.select(src.alias("src"),
                      F.explode(F.col(links_col)).alias("__link"))
            .select("src", dst.alias("dst"))
            # empty-string domains are schemeless/relative links the
            # host extractor could not resolve — no cross-site signal
            .filter(F.col("src").isNotNull() & (F.col("src") != "")
                    & F.col("dst").isNotNull() & (F.col("dst") != "")
                    & (F.col("src") != F.col("dst")))
            .distinct())


def domain_pagerank(edges: DataFrame, n_iter: int = 10,
                    damping: float = 0.85,
                    weight_col: str | None = None) -> DataFrame:
    """PageRank over a distinct (src, dst) domain edge table — the
    standard power iteration with uniform teleport and dangling-mass
    redistribution:

    ``rank'(v) = (1-d)/N + d * (sum_{u->v} rank(u)/outdeg(u)
                                + dangling_mass/N)``

    where dangling domains (no out-edges) spread their rank
    uniformly, so total mass stays 1 every iteration (pinned in
    tests against an independent numpy power iteration, and by the
    mass-conservation law).

    Scale shape: one prep pass computes out-degrees (a groupBy on
    src); each iteration is ONE shuffle join (ranks ⋈ edges on src)
    + ONE groupBy(dst) + a 1-row dangling-mass aggregate that rides
    a broadcast — no driver-side vectors, no collect of the rank
    table. Ranks localCheckpoint per iteration (the iterative-
    algorithm lineage-truncation discipline of
    ``dedup.star_components``); edges persist once and every
    iteration reuses the same shuffle partitioning. 10 iterations =
    10 bounded shuffles regardless of graph size. ``weight_col``
    splits rank by edge weight / out-STRENGTH instead of
    1/outdegree (weight w == the same edge repeated w times — pinned
    in tests); duplicate edge rows therefore also act as integer
    weights. Returns (domain, rank, in_degree), rank rounded to
    8 dp."""
    # weighted variant: contributions split rank by edge weight /
    # out-strength instead of 1/outdegree (real link graphs weigh by
    # link count — pass the multiplicity column). A None weight is a
    # uniform split, exactly the classic formulation.
    w = (F.col(weight_col).cast("double") if weight_col
         else F.lit(1.0))
    edges = persist_scoped(edges.select("src", "dst", w.alias("__w")))
    nodes = persist_scoped(
        edges.select(F.col("src").alias("domain"))
        .unionByName(edges.select(F.col("dst").alias("domain")))
        .distinct())
    n = nodes.count()
    if n == 0:
        spark = edges.sparkSession
        return spark.createDataFrame(
            [], "domain string, rank double, in_degree long")
    outdeg = edges.groupBy("src").agg(
        F.sum("__w").alias("outdeg"))
    indeg = edges.groupBy(F.col("dst").alias("domain")).agg(
        F.count(F.lit(1)).alias("in_degree"))
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(n_iter):
        with_deg = ranks.join(outdeg,
                              ranks["domain"] == outdeg["src"],
                              "left")
        # dangling domains: no out-edges -> their whole rank
        # teleports uniformly; one scalar row, broadcast below
        dangling = with_deg.filter(F.col("outdeg").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dm"))
        contribs = (edges.join(ranks, edges["src"] == ranks["domain"])
                    .join(outdeg, "src")
                    .groupBy(F.col("dst").alias("domain"))
                    .agg(F.sum(F.col("rank") * F.col("__w")
                               / F.col("outdeg"))
                         .alias("__in")))
        ranks = (nodes.join(contribs, "domain", "left")
                 .crossJoin(F.broadcast(dangling))
                 .select("domain",
                         (F.lit((1.0 - damping) / n)
                          + F.lit(damping)
                          * (F.coalesce(F.col("__in"), F.lit(0.0))
                             + F.col("__dm") / n)).alias("rank"))
                 .localCheckpoint())
    return (ranks.join(indeg, "domain", "left")
            .select("domain", F.round("rank", 8).alias("rank"),
                    F.coalesce("in_degree", F.lit(0)).alias("in_degree")))


def domain_harmonic(edges: DataFrame, max_radius: int = 8,
                    lg_k: int = 12,
                    incoming: bool = True) -> DataFrame:
    """Harmonic centrality via HyperBall (Boldi & Vigna 2013) — the
    OTHER half of the CommonCrawl domain-ranking pair beside
    PageRank: ``harmonic(v) = sum_{u != v} 1/d(u, v)`` rewards
    domains many others reach in few hops, and is robust where
    PageRank can be gamed by link farms. Exact all-pairs distances
    are hopeless at web scale; HyperBall replaces each node's
    r-ball with a MERGEABLE HyperLogLog sketch and grows all balls
    one hop per round:

    ``B_r(v) = B_{r-1}(v) ∪ ⋃_{(v,w) ∈ E} B_{r-1}(w)``

    — i.e. per round, ONE edges ⋈ state join brings each successor's
    sketch over, one groupBy folds them with ``hll_union_agg``, and
    the harmonic sum accumulates ``(|B_r| - |B_{r-1}|)/r`` from the
    sketch estimates (clamped at 0 — HLL estimates can jitter
    down). ``incoming=True`` (default) transposes the graph so the
    ball counts nodes that REACH v — the centrality CommonCrawl
    ranks by.

    Scale shape: per-round state is one ~2^lg_k-byte sketch per node
    (the entire point — exact ball sets would be O(n) per node), the
    round is one key-partitioned shuffle, and rounds localCheckpoint
    (the iterative lineage discipline). ``max_radius`` truncates the
    sum — contributions fall off as 1/r and real web distances
    concentrate under ~8 hops. Estimates inherit HLL error
    (~1.04/sqrt(2^lg_k) ≈ 1.6% at the default lg_k=12); the
    differential test pins a 5% band against exact BFS. Returns
    (domain, harmonic, reachable) with harmonic rounded to 4 dp."""
    if incoming:
        edges = edges.select(F.col("dst").alias("src"),
                             F.col("src").alias("dst"))
    edges = persist_scoped(edges.select("src", "dst").distinct())
    nodes = (edges.select(F.col("src").alias("domain"))
             .unionByName(edges.select(F.col("dst").alias("domain")))
             .distinct())
    state = (nodes.groupBy("domain")
             .agg(F.hll_sketch_agg(F.col("domain"), F.lit(lg_k))
                  .alias("sk"))
             .withColumn("est_prev", F.lit(1.0))
             .withColumn("harmonic", F.lit(0.0))
             .localCheckpoint())
    for r in range(1, max_radius + 1):
        neigh = (edges.join(state.select(F.col("domain").alias("dst"),
                                         F.col("sk").alias("nsk")),
                            "dst")
                 .select(F.col("src").alias("domain"), "nsk"))
        grown = (state.select("domain", F.col("sk").alias("nsk"))
                 .unionByName(neigh)
                 .groupBy("domain")
                 .agg(F.hll_union_agg("nsk").alias("sk")))
        state = (grown.join(state.select("domain", "est_prev",
                                         "harmonic"), "domain")
                 .withColumn("est", F.hll_sketch_estimate("sk"))
                 .withColumn("harmonic",
                             F.col("harmonic")
                             + F.greatest(
                                 F.lit(0.0),
                                 F.col("est") - F.col("est_prev"))
                             / F.lit(float(r)))
                 .select("domain", "sk",
                         F.col("est").alias("est_prev"), "harmonic")
                 .localCheckpoint())
    return state.select(
        "domain", F.round("harmonic", 4).alias("harmonic"),
        F.round(F.col("est_prev") - 1).cast("long").alias("reachable"))


def html_links(col: Column) -> Column:
    """Outlink extraction from raw HTML: every ``href=`` target as an
    array column (double/single-quoted), one regexp projection — no
    parser, no UDF. Relative links survive extraction and die in
    :func:`link_edges`' normalize chain (no scheme -> null host),
    which is the right call for DOMAIN graphs: relative links are
    intra-site navigation, i.e. the self-edges the graph drops
    anyway."""
    return F.regexp_extract_all(
        col, F.lit(r'''href\s*=\s*["']([^"'<>\s]+)["']'''), 1)


def page_link_edges(pages: DataFrame, url_col: str = "url",
                    html_col: str = "html") -> DataFrame:
    """(src, dst) registered-domain edges straight from raw pages —
    :func:`html_links` feeding :func:`link_edges`: the front half of
    the crawl -> graph -> rank -> weight pipeline."""
    return link_edges(
        pages.select(F.col(url_col).alias("url"),
                     html_links(F.col(html_col)).alias("links")),
        url_col="url", links_col="links")
