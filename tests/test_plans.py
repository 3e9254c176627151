"""Planner-rim tests (reference ``LLM_Ingestor/test.py`` routing cases,
parameter/output validation, end-to-end pipeline run)."""

from __future__ import annotations

from datetime import date

import pytest
from pyspark.sql import functions as F

from dynamic_etl_pipeline_thesis_ii_spark.plans.contracts import APIRequest, ExecutionPlan
from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
    FixtureFetcher,
    Pipeline,
    translate_keywords,
)
from dynamic_etl_pipeline_thesis_ii_spark.plans.planner import (
    RulePlanner,
    SemanticValidator,
    to_execution_plan,
)
from dynamic_etl_pipeline_thesis_ii_spark.plans.registry import registry
from dynamic_etl_pipeline_thesis_ii_spark.plans.validators import (
    OutputValidator,
    ParameterValidator,
)

P = RulePlanner()


# ---------------------------------------------------------------------------
# endpoint census parity (Q2): the engine registry must carry every
# endpoint the reference registry carries, with matching required-
# parameter sets, parameter vocabularies (name-or-alias) and enum
# domains. REFERENCE_CENSUS is a literal snapshot of the reference's
# specs (LLM_Ingestor/api_registry.py:65-560 Polygon, :567-1338 Alpha
# Vantage): {(api, endpoint): (required, all_params, {param: enum})}.
# ---------------------------------------------------------------------------

REFERENCE_CENSUS = {
    ("polygon", "get_aggs"): (
        ["ticker"], ["ticker", "multiplier", "timespan", "from", "to"],
        {"timespan": ["minute", "hour", "day", "week", "month", "quarter",
                      "year"]}),
    ("polygon", "get_previous_close_agg"): (["ticker"], ["ticker"], {}),
    ("polygon", "get_daily_open_close_agg"): (
        ["ticker", "date"], ["ticker", "date"], {}),
    ("polygon", "get_grouped_daily_aggs"): (["date"], ["date"], {}),
    ("polygon", "SHORT_INTEREST"): (
        [], ["ticker", "days_to_cover", "settlement_date",
             "avg_daily_volume", "limit", "sort"], {}),
    ("polygon", "SHORT_VOLUME"): (
        [], ["ticker", "date", "short_volume_ratio", "total_volume",
             "limit", "sort"], {}),
    ("polygon", "UNIFIED_SNAPSHOT"): (
        [], ["ticker", "type", "order", "limit", "sort"],
        {"type": ["stocks", "options", "indices", "crypto", "fx",
                  "commodities"],
         "order": ["asc", "desc"]}),
    ("polygon", "SNAPSHOT_TICKER"): (["ticker"], ["ticker"], {}),
    ("polygon", "FULL_MARKET_SNAPSHOT"): (
        [], ["tickers", "include_otc"], {}),
    ("polygon", "TOP_MARKET_MOVERS"): (
        ["direction"], ["direction", "include_otc"],
        {"direction": ["gainers", "losers"]}),
    ("polygon", "TREASURY_YIELD"): ([], ["date", "limit", "sort"], {}),
    ("polygon", "INFLATION"): ([], ["date", "limit", "sort"], {}),
    ("alpha_vantage", "TIME_SERIES_INTRADAY"): (
        ["ticker"], ["ticker", "timespan", "outputsize"],
        {"timespan": ["1min", "5min", "15min", "30min", "60min"],
         "outputsize": ["compact", "full"]}),
    ("alpha_vantage", "TIME_SERIES_DAILY"): (
        ["ticker"], ["ticker", "outputsize"],
        {"outputsize": ["compact", "full"]}),
    ("alpha_vantage", "TIME_SERIES_DAILY_ADJUSTED"): (
        ["ticker"], ["ticker", "outputsize"],
        {"outputsize": ["compact", "full"]}),
    ("alpha_vantage", "TIME_SERIES_WEEKLY"): (
        ["ticker"], ["ticker", "outputsize"],
        {"outputsize": ["compact", "full"]}),
    ("alpha_vantage", "TIME_SERIES_WEEKLY_ADJUSTED"): (
        ["ticker"], ["ticker"], {}),
    ("alpha_vantage", "TIME_SERIES_MONTHLY"): (
        ["ticker"], ["ticker", "outputsize"],
        {"outputsize": ["compact", "full"]}),
    ("alpha_vantage", "TIME_SERIES_MONTHLY_ADJUSTED"): (
        ["ticker"], ["ticker"], {}),
    ("alpha_vantage", "REAL_GDP"): (
        [], ["interval", "datatype"],
        {"interval": ["quarterly", "annual"], "datatype": ["json", "csv"]}),
    ("alpha_vantage", "REAL_GDP_PER_CAPITA"): (
        [], ["datatype"], {"datatype": ["json", "csv"]}),
    ("alpha_vantage", "TREASURY_YIELD"): (
        [], ["interval", "maturity", "datatype"],
        {"interval": ["daily", "weekly", "monthly"],
         "maturity": ["3month", "2year", "5year", "7year", "10year",
                      "30year"],
         "datatype": ["json", "csv"]}),
    ("alpha_vantage", "FEDERAL_FUNDS_RATE"): (
        [], ["interval", "datatype"],
        {"interval": ["daily", "weekly", "monthly"],
         "datatype": ["json", "csv"]}),
    ("alpha_vantage", "CPI"): (
        [], ["interval", "datatype"],
        {"interval": ["monthly", "semiannual"],
         "datatype": ["json", "csv"]}),
    ("alpha_vantage", "INFLATION"): (
        [], ["datatype"], {"datatype": ["json", "csv"]}),
    ("alpha_vantage", "RETAIL_SALES"): (
        [], ["datatype"], {"datatype": ["json", "csv"]}),
    ("alpha_vantage", "DURABLES"): (
        [], ["datatype"], {"datatype": ["json", "csv"]}),
    ("alpha_vantage", "UNEMPLOYMENT"): (
        [], ["datatype"], {"datatype": ["json", "csv"]}),
    ("alpha_vantage", "NONFARM_PAYROLL"): (
        [], ["datatype"], {"datatype": ["json", "csv"]}),
    ("alpha_vantage", "OVERVIEW"): (["symbol"], ["symbol"], {}),
    ("alpha_vantage", "ETF_PROFILE"): (["symbol"], ["symbol"], {}),
    ("alpha_vantage", "DIVIDENDS"): (
        ["symbol"], ["symbol", "datatype"], {"datatype": ["json", "csv"]}),
    ("alpha_vantage", "SPLITS"): (
        ["symbol"], ["symbol", "datatype"], {"datatype": ["json", "csv"]}),
    ("alpha_vantage", "INCOME_STATEMENT"): (
        ["symbol"], ["symbol", "period"],
        {"period": ["quarterly", "annual"]}),
    ("alpha_vantage", "BALANCE_SHEET"): (
        ["symbol"], ["symbol", "period"],
        {"period": ["quarterly", "annual"]}),
    ("alpha_vantage", "CASH_FLOW"): (
        ["symbol"], ["symbol", "period"],
        {"period": ["quarterly", "annual"]}),
    ("alpha_vantage", "SHARES_OUTSTANDING"): (
        ["symbol"], ["symbol", "datatype"], {"datatype": ["json", "csv"]}),
    ("alpha_vantage", "EARNINGS"): (
        ["symbol"], ["symbol", "period"],
        {"period": ["quarterly", "annual"]}),
    ("alpha_vantage", "EARNINGS_ESTIMATES"): (["symbol"], ["symbol"], {}),
    ("alpha_vantage", "LISTING_STATUS"): (
        [], ["date", "state"], {"state": ["active", "delisted"]}),
    ("alpha_vantage", "EARNINGS_CALENDAR"): (
        [], ["symbol", "horizon"],
        {"horizon": ["3month", "6month", "12month"]}),
    ("alpha_vantage", "IPO_CALENDAR"): ([], [], {}),
}


def _resolve(spec, name):
    """Find the engine parameter accepting ``name`` (name or alias)."""
    for p in spec.parameters:
        if name == p.name or name in p.aliases:
            return p
    return None


def test_endpoint_census_matches_reference():
    """Every reference endpoint (42: 12 Polygon + 30 Alpha Vantage)
    resolves in the engine registry with the same required-parameter
    set, parameter vocabulary and enum domains."""
    assert len(REFERENCE_CENSUS) == 42
    problems = []
    for (api, ep), (req, params, enums) in REFERENCE_CENSUS.items():
        spec = registry.get_endpoint_spec(api, ep)
        if spec is None:
            problems.append((api, ep, "missing endpoint"))
            continue
        for name in params:
            p = _resolve(spec, name)
            if p is None:
                problems.append((api, ep, f"missing param {name}"))
            elif name in enums and sorted(p.valid_values or []) != sorted(enums[name]):
                problems.append((api, ep, f"enum mismatch {name}"))
        # required sets match exactly (modulo name/alias resolution)
        for name in req:
            p = _resolve(spec, name)
            if p is not None and not p.required:
                problems.append((api, ep, f"{name} should be required"))
        ref_required_accept = set()
        for name in req:
            p = _resolve(spec, name)
            if p is not None:
                ref_required_accept.add(p.name)
        for p in spec.parameters:
            if p.required and p.name not in ref_required_accept:
                problems.append((api, ep, f"{p.name} over-required"))
    assert not problems, problems


def test_census_categories_all_planner_routable():
    """At least one NL query routes to an endpoint of every data
    category in the registry — no category is registry-only."""
    category_queries = {
        "stock_bars": "Get AAPL daily stock prices",
        "snapshot": "Show today's top market movers",
        "short_data": "Short interest for TSLA",
        "economic_indicator": "US unemployment rate trend",
        "fundamental": "Show the AMZN balance sheet",
        "earnings": "MSFT earnings surprises",
        "calendar": "What's on the IPO calendar?",
    }
    categories = {e.data_category for a in registry.apis.values()
                  for e in a.endpoints.values()}
    assert categories <= set(category_queries), (
        "category missing a routing query")
    for cat, query in category_queries.items():
        resp = P.analyze(query)
        routed = {registry.get_endpoint_spec(r.api_name, r.endpoint_name)
                  .data_category
                  for r in resp.api_requests
                  if registry.get_endpoint_spec(r.api_name, r.endpoint_name)}
        assert resp.proceed and cat in routed, (cat, query, routed)


def test_market_data_routes_parameters():
    """Movers carry a validated direction; ticker-scoped market-data
    routes carry the ticker; specific keywords suppress generic ones."""
    movers = P.analyze("show me today's top losers in the market")
    reqs = [r for r in movers.api_requests
            if r.endpoint_name == "TOP_MARKET_MOVERS"]
    assert reqs and reqs[0].parameters["direction"] == "losers"
    # a movers query must not drag in the default bars basket
    assert not any(r.endpoint_name == "get_aggs" for r in movers.api_requests)

    si = P.analyze("short interest for TSLA")
    si_reqs = [r for r in si.api_requests
               if r.endpoint_name == "SHORT_INTEREST"]
    assert si_reqs and si_reqs[0].parameters["ticker"] == "TSLA"

    cal = P.analyze("show the earnings calendar")
    eps = {r.endpoint_name for r in cal.api_requests}
    assert "EARNINGS_CALENDAR" in eps and "EARNINGS" not in eps

    gdp = P.analyze("US real GDP per capita history")
    eps = {r.endpoint_name for r in gdp.api_requests}
    assert "REAL_GDP_PER_CAPITA" in eps and "REAL_GDP" not in eps

    snap = P.analyze("latest market snapshot for AAPL")
    assert any(r.endpoint_name == "SNAPSHOT_TICKER"
               and r.parameters.get("ticker") == "AAPL"
               for r in snap.api_requests)
    full = P.analyze("full market snapshot")
    assert any(r.endpoint_name == "FULL_MARKET_SNAPSHOT"
               for r in full.api_requests)


def test_ticker_required_routes_fall_back_to_basket():
    """DIVIDENDS/SPLITS/SHARES_OUTSTANDING require a ticker in the
    registry; a query naming none must route over the default basket
    instead of planning an unsatisfiable request."""
    for query, ep in [("show me the dividend history", "DIVIDENDS"),
                      ("recent stock splits", "SPLITS"),
                      ("shares outstanding over time",
                       "SHARES_OUTSTANDING")]:
        resp = P.analyze(query)
        reqs = [r for r in resp.api_requests if r.endpoint_name == ep]
        assert reqs, (query, [r.endpoint_name for r in resp.api_requests])
        assert all(r.parameters.get("ticker") for r in reqs), (query, reqs)


# ---------------------------------------------------------------------------
# routing (Q1)
# ---------------------------------------------------------------------------

def _endpoints(resp):
    return {(r.api_name, r.endpoint_name) for r in resp.api_requests}


def test_route_stock_bars_both_apis():
    resp = P.analyze("Get AAPL daily stock prices for the last month")
    assert resp.proceed and resp.tickers == ["AAPL"]
    assert ("polygon", "get_aggs") in _endpoints(resp)
    assert ("alpha_vantage", "TIME_SERIES_DAILY") in _endpoints(resp)


def test_route_multiple_tickers():
    resp = P.analyze("Compare MSFT and GOOG stock close")
    assert set(resp.tickers) == {"MSFT", "GOOG"}
    assert len([r for r in resp.api_requests
                if r.endpoint_name == "get_aggs"]) == 2


def test_route_weekly_frequency():
    resp = P.analyze("TSLA weekly stock bars")
    assert ("alpha_vantage", "TIME_SERIES_WEEKLY") in _endpoints(resp)
    aggs = [r for r in resp.api_requests if r.endpoint_name == "get_aggs"]
    assert aggs[0].parameters["timespan"] == "week"


def test_route_date_range():
    resp = P.analyze("IBM stock from 2024-01-05 to 2024-01-25")
    aggs = [r for r in resp.api_requests if r.endpoint_name == "get_aggs"][0]
    assert aggs.parameters["from"] == "2024-01-05"
    assert aggs.parameters["to"] == "2024-01-25"


def test_route_economic_no_ticker():
    resp = P.analyze("Show me US inflation and treasury yields")
    assert ("polygon", "INFLATION") in _endpoints(resp)
    assert ("polygon", "TREASURY_YIELD") in _endpoints(resp)
    assert resp.tickers == []


def test_route_fundamentals():
    resp = P.analyze("AMZN balance sheet and income statement")
    eps = _endpoints(resp)
    assert ("alpha_vantage", "BALANCE_SHEET") in eps
    assert ("alpha_vantage", "INCOME_STATEMENT") in eps


def test_route_enrichment_keywords():
    resp = P.analyze("NVDA stock with 20-day SMA, RSI and bollinger bands")
    assert {"sma", "rsi", "bbands"} <= set(resp.features.enrichment)


def test_route_non_finance_rejected():
    resp = P.analyze("what is the capital of france")
    assert not resp.proceed and resp.api_requests == []


# ---------------------------------------------------------------------------
# parameter validation (Q4)
# ---------------------------------------------------------------------------

def _validate_one(api, ep, params, today=date(2024, 6, 1)):
    v = ParameterValidator(today=today)
    return v.validate_request(APIRequest(api, ep, params))


def test_param_unknown_endpoint():
    req = _validate_one("polygon", "NOPE", {})
    assert req.validation_status == "ERROR"


def test_param_default_filling():
    """Defaults are enriched for REQUIRED params only (reference
    parameter_validator.py:37-49); optional params with defaults — like
    get_aggs' timespan/multiplier since the census parity pass — are
    left to the fetch route's own defaults."""
    req = _validate_one("polygon", "TOP_MARKET_MOVERS", {})
    assert req.parameters["direction"] == "gainers"   # required+default
    assert req.validation_status == "WARNING"         # default noted

    bars = _validate_one("polygon", "get_aggs", {"ticker": "AAPL"})
    assert bars.validation_status != "ERROR"
    assert "timespan" not in bars.parameters          # optional: not enriched


def test_param_future_date_clamped():
    req = _validate_one("polygon", "get_aggs",
                        {"ticker": "AAPL", "from": "2099-01-01"})
    assert req.parameters["from"] == "2024-06-01"
    assert any("future" in w for w in req.validation_warnings)


def test_param_bad_date_error():
    req = _validate_one("polygon", "get_aggs",
                        {"ticker": "AAPL", "from": "01/02/2024"})
    assert req.validation_status == "ERROR"


def test_param_enum_check():
    req = _validate_one("alpha_vantage", "TIME_SERIES_INTRADAY",
                        {"ticker": "AAPL", "interval": "7min"})
    assert req.validation_status == "ERROR"


def test_param_polygon_enrichment():
    req = _validate_one("polygon", "get_aggs",
                        {"ticker": "AAPL", "date": "2024-01-05"})
    assert req.parameters["endpoint_type"] == 0
    assert req.parameters["from"] == "2024-01-05"


def test_param_polygon_economic_enrichment():
    req = _validate_one("polygon", "TREASURY_YIELD", {"sort": "asc"})
    assert req.parameters["endpoint_type"] == "economic_indicator"
    assert req.parameters["indicator"] == "TREASURY_YIELD"
    assert req.parameters["limit"] == 30
    assert req.parameters["sort"] == "date.asc"


def test_param_av_enrichment():
    req = _validate_one("alpha_vantage", "TIME_SERIES_INTRADAY",
                        {"ticker": "MSFT", "timespan": "15min"})
    assert req.parameters["function"] == "TIME_SERIES_INTRADAY"
    assert req.parameters["symbol"] == "MSFT"
    assert req.parameters["interval"] == "15min"


# ---------------------------------------------------------------------------
# semantic scoring (Q3)
# ---------------------------------------------------------------------------

def test_semantic_warning_nonblocking():
    plan = ExecutionPlan([APIRequest("polygon", "TREASURY_YIELD", {})])
    out = SemanticValidator().validate_plan(plan, ["chocolate recipes"])
    req = out.ranked_requests[0]
    assert req.semantic_score == 0.0
    assert req.validation_status == "WARNING"
    assert req.validation_warnings


def test_semantic_match_passes():
    plan = ExecutionPlan([APIRequest("polygon", "TREASURY_YIELD", {})])
    out = SemanticValidator().validate_plan(plan, ["treasury yield"])
    assert out.ranked_requests[0].semantic_score > 0.2


# ---------------------------------------------------------------------------
# output validation (Q5)
# ---------------------------------------------------------------------------

def test_output_exact_alias_fuzzy_missing():
    ov = OutputValidator()
    rep = ov.validate_columns(
        ["Open Price", "h", "closes", "volume"],
        ["open", "high", "close", "volume", "vwap"],
        "polygon", "get_aggs", "AAPL")
    assert "volume" in rep.found_features
    assert "high" in rep.found_features          # alias 'h'
    assert any(f["feature"] == "close" for f in rep.fuzzy_matched_features)
    assert "vwap" in rep.missing_features
    assert not rep.validation_passed


def test_output_empty_columns():
    rep = OutputValidator().validate_columns([], ["open"], "p", "e")
    assert rep.missing_features == ["open"] and not rep.validation_passed


# ---------------------------------------------------------------------------
# registry surface (Q2)
# ---------------------------------------------------------------------------

def test_registry_lookup_and_manifest():
    assert registry.get_endpoint_spec("polygon", "get_aggs") is not None
    assert registry.get_endpoint_spec("polygon", "nope") is None
    man = registry.manifest()
    assert any(m["endpoint"] == "TIME_SERIES_DAILY" for m in man)
    assert ("polygon", "get_aggs") in registry.endpoints_for_feature("vwap") or \
           ("polygon", "get_aggs") in registry.endpoints_for_feature("open")
    assert len(registry.by_category("economic_indicator")) >= 4


def test_translate_keywords_dsl():
    dsl = translate_keywords(["sma", "rsi", "unknown_thing"])
    names = [f["name"] for f in dsl["features"]]
    assert names == ["sma", "rsi"]


# ---------------------------------------------------------------------------
# end-to-end pipeline (offline fetcher)
# ---------------------------------------------------------------------------

def test_pipeline_end_to_end(spark, sf_dir):
    events = []
    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir),
                    progress=lambda stage, info: events.append(stage))
    result = pipe.run("Get AAPL daily stock prices with 20-day SMA and RSI")
    assert result["status"] == "complete"
    assert events[:2] == ["plan", "validate_plan"]
    assert "integrate" in events and "transform" in events
    outputs = result["outputs"]
    assert len(outputs) >= 1
    df = outputs[0]
    cols = df.columns
    assert "sma_close_20" in cols and "rsi_close_14" in cols
    rows = df.orderBy("timestamp").collect()
    assert len(rows) >= 25
    # SMA null for the first 19 rows, populated after
    assert rows[0]["sma_close_20"] is None
    assert rows[-1]["sma_close_20"] is not None


def test_pipeline_rejects_non_finance(spark, sf_dir):
    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    result = pipe.run("bake me a cake")
    assert result["status"] == "rejected"


# ---------------------------------------------------------------------------
# dataops target: NL query -> curation composition -> verified shards
# ---------------------------------------------------------------------------

def test_parse_dataops_query():
    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        parse_dataops_query,
    )
    p = parse_dataops_query(
        "Curate the documents corpus to 12,000 tokens, "
        "sequence length 256, into 8 shards for epoch 3")
    assert p == {"target": "corpus_to_shards", "token_budget": 12_000,
                 "seq_len": 256, "n_shards": 8, "n_buckets": 8,
                 "shuffle_salt": "epoch-3", "manifest": False,
                 "tokenizer": "whitespace"}
    # 'with a manifest' opts into the integrity-manifest sidecar
    assert parse_dataops_query(
        "shard the corpus with a manifest")["manifest"] is True
    # defaults match the corpus_to_shards registry query
    d = parse_dataops_query("dedup and shard the training corpus")
    assert (d["token_budget"], d["seq_len"], d["n_shards"]) == (15_000, 512, 4)
    assert d["shuffle_salt"] is None and d["tokenizer"] == "whitespace"
    b = parse_dataops_query("curate the corpus with bpe tokens, 4 shards")
    assert b["tokenizer"] == "bpe"
    assert parse_dataops_query("Get AAPL daily stock prices") is None
    # 'contexts of 512 tokens' names the context size, NOT the budget:
    # the bare 'N tokens' match overlaps the seq-length span and must
    # not clobber the default budget
    c = parse_dataops_query("curate and pack into contexts of 512 tokens")
    assert (c["seq_len"], c["token_budget"]) == (512, 15_000)
    # a budget-anchored phrase wins even with a context size present
    k = parse_dataops_query(
        "curate with a budget of 1,000,000 tokens in contexts of 256 tokens")
    assert (k["token_budget"], k["seq_len"]) == (1_000_000, 256)


def test_pipeline_dataops_bpe_tokenizer(spark, sf_dir, tmp_path):
    """A 'bpe' mention routes the composition through corpus-trained
    subword counts: the run completes, shards verify, and the packed
    token totals differ from the whitespace path (subword counts are
    strictly larger for natural text)."""
    from dynamic_etl_pipeline_thesis_ii_spark.queries.dataops_suite import (
        corpus_to_shards_frame, release_shared_caches,
    )
    import pytest as _pytest
    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    out = str(tmp_path / "bpe_shards")
    result = pipe.run_dataops(
        "curate the corpus with bpe tokens into 4 shards", sf_dir, out)
    assert result["status"] == "complete"
    assert result["reports"]["plan"]["tokenizer"] == "bpe"
    assert result["reports"]["sink"]["rows_written"] > 0
    try:
        # with few merges the subword counts exceed whitespace counts
        # (at 200 merges the tiny synthetic vocab is fully learned and
        # the counts legitimately converge — whole words merge back)
        ws = corpus_to_shards_frame(spark, sf_dir)
        bp = corpus_to_shards_frame(spark, sf_dir, tokenizer="bpe",
                                    bpe_merges=10)
        ws_tokens = ws.agg({"n_tokens": "sum"}).first()[0]
        bp_tokens = bp.agg({"n_tokens": "sum"}).first()[0]
        assert bp_tokens != ws_tokens
        with _pytest.raises(ValueError, match="tokenizer"):
            corpus_to_shards_frame(spark, sf_dir, tokenizer="nope")
    finally:
        release_shared_caches()


def test_pipeline_dataops_end_to_end(spark, sf_dir, tmp_path):
    """The orchestrator drives the corpus_to_shards composition end to
    end: NL query -> typed dataops plan -> curate/select/pack DAG ->
    write_shards(verify=True), artifacts verified on disk."""
    events = []
    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir),
                    progress=lambda stage, info: events.append(stage))
    out = str(tmp_path / "shards")
    result = pipe.run_dataops(
        "Curate and dedup the training corpus, pack to sequence "
        "length 512 with 15000 tokens per language, write 4 shards",
        sf_dir, out)
    assert result["status"] == "complete"
    assert events == ["plan", "curate", "publish"]
    rep = result["reports"]["sink"]
    assert rep["n_shards"] == 4 and rep["rows_written"] > 0
    assert result["reports"]["plan"]["token_budget"] == 15_000

    # on-disk artifacts == the composition's own pre-sink frame,
    # including the shard placement the frame predicts
    from dynamic_etl_pipeline_thesis_ii_spark.queries.dataops_suite import (
        q_corpus_to_shards, release_shared_caches,
    )
    try:
        expected = {(r["id"], r["shard"])
                    for r in q_corpus_to_shards(spark, sf_dir).collect()}
    finally:
        release_shared_caches()
    back = spark.read.parquet(out)
    got = {(r["id"], r["shard"]) for r in back.collect()}
    assert got == expected
    assert rep["rows_written"] == len(expected)


def test_pipeline_dataops_rejects_non_dataops(spark, sf_dir, tmp_path):
    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    result = pipe.run_dataops("bake me a cake", sf_dir,
                              str(tmp_path / "never"))
    assert result["status"] == "rejected"
    assert not (tmp_path / "never").exists()


def test_parse_dataops_targets():
    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        parse_dataops_query,
    )
    d = parse_dataops_query(
        "Diff the corpus against the snapshot at /data/prev")
    assert d == {"target": "corpus_diff", "snapshot_path": "/data/prev"}
    # no path -> target recognized, path None (orchestrator rejects
    # with an actionable reason instead of guessing)
    d2 = parse_dataops_query("diff against the previous snapshot")
    assert d2 == {"target": "corpus_diff", "snapshot_path": None}
    c = parse_dataops_query("chunk the documents for RAG, size 256 stride 192")
    assert c == {"target": "chunk_documents", "size": 256, "stride": 192}
    # defaults are the operator's 128/96; size-only keeps the 3/4 ratio
    c2 = parse_dataops_query("chunk the corpus for retrieval")
    assert (c2["size"], c2["stride"]) == (128, 96)
    c3 = parse_dataops_query("chunking with size 200")
    assert (c3["size"], c3["stride"]) == (200, 150)
    # 'chunks' inside a SHARDING query does not hijack the target
    s = parse_dataops_query("pack chunks and write 4 shards")
    assert s["target"] == "corpus_to_shards" and s["n_shards"] == 4
    # semantic dedup with parameters; plain 'dedup' stays on shards
    sd = parse_dataops_query(
        "semantically dedup the corpus with threshold 0.9, 8 clusters")
    assert sd == {"target": "semantic_dedup", "threshold": 0.9,
                  "n_clusters": 8, "keep": "far"}
    sd2 = parse_dataops_query("dedup by embedding, keep the lowest id")
    assert sd2["keep"] == "min" and sd2["threshold"] == 0.95
    # no named cluster count -> None: the orchestrator derives it from
    # the corpus (fixed defaults are a quadratic trap at scale)
    assert sd2["n_clusters"] is None
    # snapshot-anchored intent outranks a bare crawl/warc mention:
    # 'dedup the crawl batch against the seen snapshot' is incremental
    # dedup over crawl OUTPUT, not a fresh WARC ingest
    cr = parse_dataops_query(
        "dedup the crawl batch against the seen snapshot at /p/snap")
    assert cr["target"] == "incremental_dedup"
    assert cr["snapshot_path"] == "/p/snap"
    cr2 = parse_dataops_query(
        "diff the warc batch against the snapshot at /p/prev")
    assert cr2 == {"target": "corpus_diff", "snapshot_path": "/p/prev"}
    # a crawl mention WITHOUT snapshot intent still ingests
    cr3 = parse_dataops_query("extract text from the crawl at /data/cc")
    assert cr3 == {"target": "ingest_crawl", "crawl_path": "/data/cc"}
    assert parse_dataops_query(
        "dedup and shard the training corpus")["target"] == "corpus_to_shards"
    # temperature sampling; strata from source/domain mention
    t1 = parse_dataops_query("flatten the language mix, temperature 0.3")
    assert t1 == {"target": "temperature_mix", "alpha": 0.3,
                  "strata": "lang"}
    t2 = parse_dataops_query("temperature sample the source mix")
    assert t2 == {"target": "temperature_mix", "alpha": 0.5,
                  "strata": "source"}


def test_pipeline_dataops_corpus_census_target(spark, sf_dir, tmp_path):
    """NL 'census the corpus' writes the mergeable per-stratum census
    and the report inlines the headline totals + per-language docs."""
    from pyspark.sql import functions as F

    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        parse_dataops_query,
    )

    c = parse_dataops_query("census the corpus")
    assert c == {"target": "corpus_census", "histogram": False,
                 "distinct": False}
    assert parse_dataops_query(
        "report corpus statistics per language")["target"] == \
        "corpus_census"
    assert parse_dataops_query(
        "census the corpus with a length histogram")["histogram"] is True
    assert parse_dataops_query(
        "report the corpus token length distribution")["histogram"] is True

    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    out = str(tmp_path / "census")
    res = pipe.run_dataops("census the corpus", sf_dir, out)
    assert res["status"] == "complete"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    assert res["reports"]["n_docs"] == n
    assert sum(res["reports"]["docs_per_lang"].values()) == n
    back = spark.read.parquet(out)
    want_langs = {r["lang"]: r["n"] for r in
                  docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
                  .collect()}
    got_langs = {r["stratum"]: r["n_docs"] for r in
                 back.filter(F.col("kind") == "lang").collect()}
    assert got_langs == want_langs

    # histogram variant: writes the <out>_hist sidecar equal to the
    # direct operator output, and the report's per-bucket doc counts
    # sum to the corpus size
    from dynamic_etl_pipeline_thesis_ii_spark.operators.text import (
        census_histogram,
    )
    out2 = str(tmp_path / "census_h")
    res2 = pipe.run_dataops("census the corpus with a length histogram",
                            sf_dir, out2)
    assert res2["status"] == "complete"
    assert res2["reports"]["histogram_path"] == out2 + "_hist"
    assert sum(res2["reports"]["docs_per_length_bucket"].values()) == n
    hb = spark.read.parquet(out2 + "_hist")
    want = sorted(map(tuple, census_histogram(docs).collect()))
    assert sorted(map(tuple, hb.collect())) == want
    # per-lang length quantiles inline in the report, monotone in q
    ql = res2["reports"]["length_quantiles_per_lang"]
    assert set(ql) == set(res2["reports"]["docs_per_lang"])
    for ests in ql.values():
        assert ests[0.5] <= ests[0.9] <= ests[0.99]

    # distinct variant: HLL fingerprint census sidecar + dup-rate
    # telemetry (the fixture corpus is duplicate-light, so the
    # estimate must sit near the doc count and the rate near 0)
    out3 = str(tmp_path / "census_d")
    res3 = pipe.run_dataops(
        "census the corpus with distinct content counts", sf_dir, out3)
    assert res3["status"] == "complete"
    assert res3["reports"]["plan"]["distinct"] is True
    est = res3["reports"]["distinct_docs_total"]
    true_distinct = docs.selectExpr(
        "count(distinct trim(regexp_replace(lower(coalesce(text, '')),"
        " '\\\\s+', ' '))) AS n").first()["n"]
    assert abs(est - true_distinct) <= 0.05 * true_distinct
    assert 0.0 <= res3["reports"]["approx_dup_rate"] <= 1.0
    assert set(res3["reports"]["distinct_docs_per_lang"]) == \
        set(res3["reports"]["docs_per_lang"])
    # the sidecar holds mergeable sketches, not estimates
    db = spark.read.parquet(out3 + "_distinct")
    assert set(db.columns) == {"kind", "stratum", "sketch", "n_rows"}


def test_pipeline_dataops_tokenize_pack_target(spark, sf_dir, tmp_path):
    """NL 'tokenize the corpus and pack N-token sequences' lands
    trainer-ready fixed-length input_ids rows that equal the direct
    operator composition with the same parameters."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators import bpe as BP
    from dynamic_etl_pipeline_thesis_ii_spark.operators import packing as PK
    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        parse_dataops_query,
    )
    from dynamic_etl_pipeline_thesis_ii_spark.sources.registry import Catalog

    p = parse_dataops_query(
        "tokenize the corpus and pack 32-token sequences, 50 merges")
    # n_buckets None at parse time -> corpus-derived when the run
    # counts the docs (a fixed parse-time default caps the packing
    # shuffle's parallelism at any corpus size)
    assert p == {"target": "tokenize_pack", "seq_len": 32,
                 "n_merges": 50, "n_buckets": None, "model": "bpe",
                 "tokenizer_path": None, "eos": False}
    assert parse_dataops_query(
        "tokenize and pack 64-token sequences, 12 shards")["n_buckets"] == 12
    assert parse_dataops_query(
        "tokenise into sequences of 128")["seq_len"] == 128
    assert parse_dataops_query(
        "tokenize and pack with an eos separator")["eos"] is True

    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    out = str(tmp_path / "seqs")
    res = pipe.run_dataops(
        "tokenize the corpus and pack 32-token sequences, 50 merges",
        sf_dir, out)
    assert res["status"] == "complete"
    rep = res["reports"]
    # the derived bucket count is reported (it is part of the packed
    # output's deterministic identity); small fixture -> the floor
    assert rep["plan"]["n_buckets"] == 8
    back = spark.read.parquet(out)
    assert back.count() == rep["n_sequences"] > 0
    rows = back.collect()
    assert all(len(r["input_ids"]) == 32 for r in rows)

    docs = Catalog(spark, sf_dir).documents
    merges = BP.train_bpe(docs, n_merges=50)
    assert rep["vocab_size"] == len(BP.bpe_vocab(merges))
    want = {(r["bucket"], r["seq_idx"]): list(r["input_ids"])
            for r in PK.pack_sequences(
                BP.encode_ids(docs, merges), 32).collect()}
    got = {(r["bucket"], r["seq_idx"]): list(r["input_ids"])
           for r in rows}
    assert got == want


def test_pipeline_dataops_ann_search_target(spark, sf_dir, tmp_path):
    """NL 'find the N nearest neighbors ... with an opq rotation'
    routes to ann_search, lands exact-distance neighbor rows (self
    matches removed, exactly k per query, verified against
    brute-force squared-L2 top-k), and the report carries the OPQ
    rotation's reconstruction-MSE delta — the plan-surface face of
    ivfpq_topk(opq=True)."""
    import numpy as np

    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        parse_dataops_query,
    )
    from dynamic_etl_pipeline_thesis_ii_spark.sources.registry import Catalog

    p = parse_dataops_query(
        "find the 5 nearest neighbors for each document "
        "with an opq rotation")
    assert p == {"target": "ann_search", "k": 5, "opq": True,
                 "index_path": None, "n_probe": None}
    assert parse_dataops_query(
        "run a similarity search, top 3")["k"] == 3
    assert parse_dataops_query(
        "ann search over the corpus")["opq"] is False

    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    out = str(tmp_path / "ann")
    res = pipe.run_dataops(
        "find the 5 nearest neighbors for each document "
        "with an opq rotation", sf_dir, out)
    assert res["status"] == "complete"
    rep = res["reports"]
    # the MSE delta reaches the report; orthogonal rotation never
    # hurts materially (allow small negative noise on tiny fixtures)
    assert rep["opq"] is not None
    assert rep["opq"]["mse_raw"] > 0
    assert {"mse_raw", "mse_rotated", "mse_delta_pct"} <= set(rep["opq"])

    back = spark.read.parquet(out)
    assert set(back.columns) == {"q_id", "c_id", "dist", "rank"}
    rows = back.collect()
    assert rep["rows_written"] == len(rows)
    # no self matches, exactly 5 per query
    assert all(r["q_id"] != r["c_id"] for r in rows)
    per_q = {}
    for r in rows:
        per_q.setdefault(r["q_id"], []).append(r)
    emb = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
           for r in Catalog(spark, sf_dir).embeddings.collect()}
    assert all(len(v) == 5 for v in per_q.values())
    assert len(per_q) == len(emb)
    # exact tier: reported dist is the TRUE squared L2
    for r in rows[:50]:
        want = float(((emb[r["q_id"]] - emb[r["c_id"]]) ** 2).sum())
        assert abs(r["dist"] - want) < 1e-4


def test_derive_n_clusters_scales_with_corpus():
    """SemDeDup cluster count grows linearly with the corpus above the
    floor — a 10x bigger corpus gets 10x the clusters, holding
    per-cluster size (and so total pair work per doc) constant."""
    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        derive_n_clusters,
    )

    assert derive_n_clusters(0) == 16          # floor
    assert derive_n_clusters(30_000) == 16     # still under the floor
    assert derive_n_clusters(100_000) == 50
    assert derive_n_clusters(1_000_000) == 500   # 10x corpus -> 10x
    assert derive_n_clusters(1_000_000_000) == 500_000
    # target cluster size is the knob, not the count
    assert derive_n_clusters(1_000_000, target_cluster_size=10_000) == 100


def test_derive_n_buckets_scales_with_corpus():
    """Packing bucket count (== the packing shuffle's task count)
    grows linearly with the corpus above the floor: a 10x bigger
    corpus gets 10x the buckets, holding docs-per-bucket — and so
    per-task wall clock — constant. A fixed count would walk 1/8th
    of a 100x corpus per task while the rest of the cluster idles."""
    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        derive_n_buckets,
    )

    assert derive_n_buckets(0) == 8             # floor
    assert derive_n_buckets(5_000) == 8         # small corpus: floor
    assert derive_n_buckets(80_000) == 20
    assert derive_n_buckets(800_000) == 200     # 10x corpus -> 10x
    assert derive_n_buckets(1_000_000_000) == 250_000
    # an explicit shard count raises the floor so every shard draws
    # from at least one packing stream
    assert derive_n_buckets(100, floor=16) == 16


def test_pipeline_dataops_corpus_diff_target(spark, sf_dir, tmp_path):
    """NL 'diff against the snapshot at <path>' drives corpus_diff:
    a crafted prior snapshot (some docs missing -> added, some texts
    edited -> changed, some extra -> removed) round-trips through the
    orchestrator with exact per-status counts."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    snap = (docs.filter(F.col("doc_id") % 7 != 0)
            .withColumn("text", F.when(F.col("doc_id") % 5 == 0,
                                       F.concat(F.col("text"),
                                                F.lit(" EDITED")))
                        .otherwise(F.col("text"))))
    extra = spark.createDataFrame(
        [(1_000_000, "gone doc one"), (1_000_001, "gone doc two")],
        "doc_id long, text string")
    snap_path = str(tmp_path / "snap")
    snap.unionByName(extra).write.parquet(snap_path)

    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    want = {
        "added": sum(1 for i in ids if i % 7 == 0),
        "changed": sum(1 for i in ids if i % 7 != 0 and i % 5 == 0),
        "unchanged": sum(1 for i in ids if i % 7 != 0 and i % 5 != 0),
        "removed": 2,
    }

    events = []
    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir),
                    progress=lambda stage, info: events.append(stage))
    out = str(tmp_path / "diff_out")
    result = pipe.run_dataops(
        f"diff the training corpus against the snapshot at {snap_path}",
        sf_dir, out)
    assert result["status"] == "complete"
    assert events == ["plan", "diff", "publish"]
    assert result["reports"]["diff_counts"] == want
    back = spark.read.parquet(out)
    assert back.columns == ["doc_id", "status"]
    assert back.count() == sum(want.values())

    # no path -> rejected with an actionable reason, nothing written
    rej = pipe.run_dataops("diff against the previous snapshot",
                           sf_dir, str(tmp_path / "never_diff"))
    assert rej["status"] == "rejected"
    assert "snapshot path" in rej["reason"]
    assert not (tmp_path / "never_diff").exists()


def test_pipeline_dataops_chunk_target(spark, sf_dir, tmp_path):
    """NL 'chunk for RAG, size N stride M' drives chunk_documents and
    the sink rows equal the operator's own output exactly."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.text import (
        chunk_documents,
    )
    from dynamic_etl_pipeline_thesis_ii_spark.sources.registry import Catalog

    events = []
    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir),
                    progress=lambda stage, info: events.append(stage))
    out = str(tmp_path / "chunks")
    result = pipe.run_dataops(
        "chunk the documents for RAG, size 64 stride 48", sf_dir, out)
    assert result["status"] == "complete"
    assert events == ["plan", "chunk", "publish"]
    assert result["reports"]["plan"] == {"target": "chunk_documents",
                                         "size": 64, "stride": 48}

    expected = sorted(map(tuple, chunk_documents(
        Catalog(spark, sf_dir).documents, size=64, stride=48).collect()))
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert got == expected
    assert result["reports"]["rows_written"] == len(expected)


def test_pipeline_dataops_semantic_dedup_target(spark, sf_dir, tmp_path):
    """NL 'semantically dedup' runs SemDeDup over the embeddings
    table and the sink holds exactly the operator's kept rows."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.similarity import (
        semantic_dedup,
    )
    from dynamic_etl_pipeline_thesis_ii_spark.sources.registry import Catalog

    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    out = str(tmp_path / "semdedup")
    result = pipe.run_dataops(
        "semantically dedup the corpus with threshold 0.9, 8 clusters",
        sf_dir, out)
    assert result["status"] == "complete"
    rep = result["reports"]
    assert rep["rows_in"] >= rep["rows_kept"] > 0
    want = sorted(r["vec_id"] for r in semantic_dedup(
        Catalog(spark, sf_dir).embeddings, threshold=0.9,
        n_clusters=8).collect())
    got = sorted(r["vec_id"] for r in spark.read.parquet(out).collect())
    assert got == want and len(got) == rep["rows_kept"]


def test_pipeline_dataops_semantic_dedup_derives_clusters(
        spark, sf_dir, tmp_path):
    """An NL semantic dedup naming NO cluster count derives it from
    the corpus (derive_n_clusters) instead of a fixed default — the
    chosen value is echoed in the plan report."""
    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        derive_n_clusters,
    )
    from dynamic_etl_pipeline_thesis_ii_spark.sources.registry import Catalog

    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    out = str(tmp_path / "semdedup_auto")
    result = pipe.run_dataops("semantically dedup the corpus",
                              sf_dir, out)
    assert result["status"] == "complete"
    n_in = Catalog(spark, sf_dir).embeddings.count()
    assert (result["reports"]["plan"]["n_clusters"]
            == derive_n_clusters(n_in))


def test_pipeline_dataops_temperature_target(spark, sf_dir, tmp_path):
    """NL 'flatten the language mix' runs temperature sampling; the
    report carries before/after per-language counts and the sink rows
    equal the operator's own output."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.sampling import (
        temperature_mix,
    )
    from dynamic_etl_pipeline_thesis_ii_spark.sources.registry import Catalog

    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    out = str(tmp_path / "tempmix")
    result = pipe.run_dataops(
        "flatten the language mix with temperature 0.3", sf_dir, out)
    assert result["status"] == "complete"
    rep = result["reports"]
    assert rep["plan"]["alpha"] == 0.3
    assert sum(rep["counts_after"].values()) \
        <= sum(rep["counts_before"].values())
    docs = Catalog(spark, sf_dir).documents
    want = sorted(r["doc_id"] for r in temperature_mix(
        docs, "lang", alpha=0.3, key_col="doc_id", salt="temp").collect())
    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert got == want



def test_pipeline_dataops_unimax_target(spark, sf_dir, tmp_path):
    """NL 'unimax the language mix' routes to the epoch-capped
    allocator: plan parse (budget with separators, epoch cap, strata
    convention), run parity with the direct operator, per-stratum
    allocation report, and the missing-budget rejection."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.sampling import (
        unimax_allocation,
    )
    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        parse_dataops_query,
    )
    from dynamic_etl_pipeline_thesis_ii_spark.sources.registry import Catalog

    p = parse_dataops_query(
        "unimax the language mix with a budget of 50,000 tokens, "
        "at most 2 epochs")
    assert p == {"target": "unimax_mix", "budget": 50_000,
                 "max_epochs": 2, "strata": "lang"}
    assert parse_dataops_query(
        "epoch-capped allocation across sources, 100000-token budget"
    ) == {"target": "unimax_mix", "budget": 100_000,
          "max_epochs": 2, "strata": "source"}
    # temperature phrasing still routes to temperature, not unimax
    assert parse_dataops_query(
        "flatten the language mix, temperature 0.3")["target"]         == "temperature_mix"

    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    out = str(tmp_path / "unimax")
    result = pipe.run_dataops(
        "unimax the language mix with a budget of 50000 tokens, "
        "at most 2 epochs", sf_dir, out)
    assert result["status"] == "complete"
    alloc = result["reports"]["allocation"]
    assert alloc and all(0.0 <= a["epochs"] <= 2.0 for a in alloc.values())
    assert any(a["saturated"] for a in alloc.values())
    docs = Catalog(spark, sf_dir).documents
    want = sorted((r["doc_id"], r["n_copies"]) for r in
                  unimax_allocation(docs, 50_000, 2).collect())
    got = sorted((r["doc_id"], r["n_copies"]) for r in
                 spark.read.parquet(out).collect())
    assert got == want
    # no budget -> actionable rejection
    rej = pipe.run_dataops("unimax the language mix", sf_dir,
                           str(tmp_path / "u2"))
    assert rej["status"] == "rejected" and "budget" in rej["reason"]


# ---------------------------------------------------------------------------
# LLM rim (prompt contract + strict parse + fallback)
# ---------------------------------------------------------------------------

def test_llm_planner_roundtrip():
    from dynamic_etl_pipeline_thesis_ii_spark.plans.llm import LLMPlanner

    def fake_complete(system, user):
        assert "get_aggs" in system and "proceed" in system
        return '''{"proceed": true,
                   "features": {"native": ["close"], "enrichment": ["sma"]},
                   "semantic_keywords": ["stock bars"],
                   "tickers": ["AAPL"],
                   "api_requests": [{"api_name": "polygon",
                                     "endpoint_name": "get_aggs",
                                     "parameters": {"ticker": "AAPL"}}]}'''

    resp = LLMPlanner(fake_complete).analyze("AAPL bars")
    assert resp.tickers == ["AAPL"]
    assert resp.api_requests[0].endpoint_name == "get_aggs"
    assert resp.features.enrichment == ["sma"]


def test_llm_planner_falls_back_on_garbage():
    from dynamic_etl_pipeline_thesis_ii_spark.plans.llm import LLMPlanner
    resp = LLMPlanner(lambda s, u: "not json at all").analyze(
        "MSFT daily stock prices")
    assert resp.proceed and resp.tickers == ["MSFT"]  # rule fallback


def test_llm_translator_validates_registry():
    from dynamic_etl_pipeline_thesis_ii_spark.plans.llm import LLMTranslator
    good = LLMTranslator(lambda s, u:
        '{"features": [{"name": "sma", "params": {"on": "close", "window": 10}}]}')
    dsl = good.translate(["sma"])
    assert dsl["features"][0]["params"]["window"] == 10
    # unknown feature from the model -> validator rejects -> fallback
    bad = LLMTranslator(lambda s, u:
        '{"features": [{"name": "not_a_feature", "params": {}}]}')
    dsl = bad.translate(["rsi"])
    assert dsl["features"][0]["name"] == "rsi"


def test_pipeline_multi_ticker_with_economic(spark, sf_dir):
    """Two tickers + an economic indicator: bars union into per-ticker
    rows, the indicator frame stays its own output; enrichment applies
    per ticker."""
    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    result = pipe.run("Compare AAPL and MSFT daily stock prices with RSI, "
                      "plus US inflation")
    assert result["status"] == "complete"
    outputs = result["outputs"]
    # the indicator frame shares `timestamp` with the bar group, so the
    # equi fast path date-joins it onto the bars -> one merged output
    assert len(outputs) == 1
    bars = outputs[0]
    assert "value" in bars.columns  # indicator joined in by date
    tickers = {r["ticker"] for r in bars.select("ticker").distinct().collect()}
    assert tickers == {"AAPL", "MSFT"}
    assert "rsi_close_14" in bars.columns
    # per-ticker windows: each ticker has its own warmup nulls
    for t in tickers:
        rows = bars.filter(F.col("ticker") == t).orderBy("timestamp").collect()
        assert rows[0]["rsi_close_14"] is None
        assert rows[-1]["rsi_close_14"] is not None


def test_route_fundamentals_quarterly_default():
    resp = P.analyze("AMZN balance sheet")
    req = [r for r in resp.api_requests
           if r.endpoint_name == "BALANCE_SHEET"][0]
    assert req.parameters["period"] == "quarterly"
    resp2 = P.analyze("AMZN annual balance sheet")
    req2 = [r for r in resp2.api_requests
            if r.endpoint_name == "BALANCE_SHEET"][0]
    assert req2.parameters["period"] == "annual"


def test_execute_fans_out_and_preserves_order(spark, sf_dir):
    """Concurrent fetch returns results in plan order with per-request
    failure degradation identical to the sequential path."""
    import threading
    import time as _time

    from dynamic_etl_pipeline_thesis_ii_spark.plans.contracts import (
        APIRequest, ExecutionPlan)

    seen_threads = set()
    spans = []

    class SlowFetcher:
        def fetch(self, req):
            seen_threads.add(threading.get_ident())
            t0 = _time.perf_counter()
            _time.sleep(0.3)
            spans.append((t0, _time.perf_counter()))
            if req.parameters.get("boom"):
                raise RuntimeError("kaput")
            return FixtureFetcher(spark, sf_dir).fetch(req)

    reqs = [APIRequest("polygon", "get_aggs", {"ticker": t})
            for t in ("AAA", "BBB", "CCC")]
    reqs.append(APIRequest("polygon", "get_aggs", {"ticker": "DDD",
                                                   "boom": True}))
    pipe = Pipeline(spark, SlowFetcher())
    out = pipe.execute(ExecutionPlan(ranked_requests=reqs))
    assert [r.status for r in out.results] == ["SUCCESS"] * 3 + ["FAILED"]
    assert [r.used_parameters.get("ticker") for r in out.results] == [
        "AAA", "BBB", "CCC", "DDD"]
    assert out.overall_status == "PARTIAL"
    assert len(out.failed_requests) == 1
    assert len(seen_threads) > 1          # genuinely fanned out
    # concurrency asserted structurally (some two sleep intervals
    # overlap), not by wall clock — load-independent
    spans.sort()
    assert any(a_end > b_start for (_, a_end), (b_start, _)
               in zip(spans, spans[1:]))

    seq = pipe.execute(ExecutionPlan(ranked_requests=reqs),
                       max_concurrency=1)
    assert [r.status for r in seq.results] == [r.status for r in out.results]


def test_execute_respects_fetcher_advertised_concurrency(spark, sf_dir):
    """A fetcher advertising max_concurrency=1 (live HTTP, free-tier
    rate limits) runs sequentially when execute() isn't given an
    explicit override."""
    import threading

    from dynamic_etl_pipeline_thesis_ii_spark.plans.contracts import (
        APIRequest, ExecutionPlan)

    seen_threads = set()

    class SequentialFetcher:
        max_concurrency = 1

        def fetch(self, req):
            seen_threads.add(threading.get_ident())
            return FixtureFetcher(spark, sf_dir).fetch(req)

    reqs = [APIRequest("polygon", "get_aggs", {"ticker": t})
            for t in ("AAA", "BBB", "CCC")]
    out = Pipeline(spark, SequentialFetcher()).execute(
        ExecutionPlan(ranked_requests=reqs))
    assert [r.status for r in out.results] == ["SUCCESS"] * 3
    assert seen_threads == {threading.get_ident()}  # never left the driver


def test_planner_company_name_inference():
    resp = RulePlanner().analyze("Get Microsoft and Tesla daily prices")
    assert resp.tickers == ["MSFT", "TSLA"]
    assert any(r.endpoint_name == "get_aggs"
               and r.parameters["ticker"] == "MSFT"
               for r in resp.api_requests)


def test_planner_default_baskets():
    bars = RulePlanner().analyze("show me daily stock prices")
    assert bars.proceed and len(bars.tickers) == 8
    assert "AAPL" in bars.tickers and "UBER" in bars.tickers

    fund = RulePlanner().analyze("show me some income statements")
    assert fund.tickers == ["AAPL", "IBM", "AMZN"]
    assert all(r.endpoint_name == "INCOME_STATEMENT"
               for r in fund.api_requests)

    cake = RulePlanner().analyze("bake me a cake")
    assert not cake.proceed  # no hints -> still rejected


def test_cli_entry_point(spark, sf_dir, tmp_path, capsys):
    """Entry point B: the __main__ CLI runs the full lifecycle offline
    and sinks outputs + report.json."""
    import json as _json

    from dynamic_etl_pipeline_thesis_ii_spark.__main__ import main

    out_dir = str(tmp_path / "run")
    rc = main([
        "Get AAPL daily stock prices with 20-day SMA", "--quiet",
        "--sf-dir", sf_dir, "--out", out_dir])
    assert rc == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["status"] == "complete" and summary["n_outputs"] >= 1
    import os as _os
    assert _os.path.exists(_os.path.join(out_dir, "report.json"))
    back = spark.read.parquet(_os.path.join(out_dir, "result_0"))
    assert "sma_close_20" in back.columns and back.count() > 0

    rc_rejected = main(["bake me a cake", "--quiet"])
    assert rc_rejected == 1


def test_cli_dataops_route(spark, sf_dir, tmp_path, capsys):
    """--dataops routes the query to the corpus->shards target and
    sinks verified shard directories."""
    import json as _json
    import os as _os

    from dynamic_etl_pipeline_thesis_ii_spark.__main__ import main

    out_dir = str(tmp_path / "shards")
    rc = main(["curate and dedup the corpus into 4 shards",
               "--dataops", "--quiet", "--sf-dir", sf_dir,
               "--out", out_dir])
    assert rc == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["status"] == "complete"
    assert summary["reports"]["sink"]["rows_written"] > 0
    assert _os.path.isdir(_os.path.join(out_dir, "shard=0"))
    back = spark.read.parquet(out_dir)
    assert back.count() == summary["reports"]["sink"]["rows_written"]

    # non-dataops query on the dataops route is rejected, not crashed
    assert main(["get AAPL prices", "--dataops", "--quiet",
                 "--sf-dir", sf_dir, "--out", str(tmp_path / "x")]) == 1


def test_parse_dataops_dsir_target():
    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        parse_dataops_query,
    )
    p = parse_dataops_query("importance resample toward src18")
    assert p == {"target": "dsir_select", "target_source": "src18",
                 "select": False}
    k = parse_dataops_query("dsir select the docs similar to 'src3'")
    assert k == {"target": "dsir_select", "target_source": "src3",
                 "select": True}
    # no domain named -> target recognized, source None (orchestrator
    # rejects with an actionable reason)
    n = parse_dataops_query("importance resample the corpus")
    assert n == {"target": "dsir_select", "target_source": None,
                 "select": False}
    # 'pack ... 512 tokens' phrasing must still route to shards, not dsir
    s = parse_dataops_query("curate and pack into contexts of 512 tokens")
    assert s["target"] == "corpus_to_shards"


def test_pipeline_dataops_dsir_select(spark, sf_dir, tmp_path):
    """NL -> dsir_select: weights written + read back; 'select' narrows
    to weight>0; unknown/missing targets reject with reasons."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.sampling import (
        dsir_logratio_table, dsir_weights,
    )
    from dynamic_etl_pipeline_thesis_ii_spark.sources.registry import Catalog

    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    out = str(tmp_path / "dsir")
    res = pipe.run_dataops("importance resample toward src18",
                           sf_dir, out)
    assert res["status"] == "complete"
    back = spark.read.parquet(out)
    docs = Catalog(spark, sf_dir).documents
    tbl = dsir_logratio_table(
        docs.withColumn("__t", F.col("source") == "src18"),
        target_flag="__t")
    expect = {(r["id"], r["weight_micro"])
              for r in dsir_weights(docs, tbl).collect()}
    assert {(r["id"], r["weight_micro"]) for r in back.collect()} == expect
    assert res["reports"]["rows"] == len(expect)
    assert 0 < res["reports"]["above_mean"] < len(expect)

    sel = pipe.run_dataops("dsir select docs similar to src18", sf_dir,
                           str(tmp_path / "dsir_pos"))
    assert sel["status"] == "complete"
    assert sel["reports"]["rows"] == sel["reports"]["above_mean"]
    assert sel["reports"]["rows"] == res["reports"]["above_mean"]
    # the mean cut keeps the docs the weight vector ranks highest,
    # and the target domain is enriched among them: src18's mean
    # weight must exceed the pool mean on its own corpus
    kept = {r["id"] for r in
            spark.read.parquet(str(tmp_path / "dsir_pos")).collect()}
    src18 = {r["doc_id"] for r in
             docs.filter(F.col("source") == "src18").collect()}
    frac_in = len(kept & src18) / len(src18)
    frac_out = len(kept - src18) / (len(expect) - len(src18))
    assert frac_in > frac_out

    bad = pipe.run_dataops("importance resample toward nosuchsrc",
                           sf_dir, str(tmp_path / "never1"))
    assert bad["status"] == "rejected" and "unknown" in bad["reason"]
    none = pipe.run_dataops("importance resample the corpus", sf_dir,
                            str(tmp_path / "never2"))
    assert none["status"] == "rejected" and "target domain" in none["reason"]


def test_pipeline_dataops_ingest_crawl(spark, sf_dir, tmp_path):
    """NL -> ingest_crawl: WARC dir -> rendered-text documents parquet
    (200-OK textual responses only, html flattened to lines, stable
    hashed doc ids); missing path rejects with a reason."""
    import gzip as _gzip
    import sys as _sys
    _sys.path.insert(0, "tests")
    from test_warc import _warc_bytes

    d = tmp_path / "crawl"
    d.mkdir()
    (d / "a.warc").write_bytes(_warc_bytes())
    (d / "b.warc.gz").write_bytes(_gzip.compress(_warc_bytes()))
    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    out = str(tmp_path / "docs")
    res = pipe.run_dataops(f"extract text from the crawl at {d}",
                           sf_dir, out)
    assert res["status"] == "complete"
    assert res["reports"]["rows"] == 2  # one response per file
    back = spark.read.parquet(out).collect()
    assert {r["url"] for r in back} == {"http://example.com/"}
    for r in back:
        lines = r["text"].split("\n")
        assert "Hello & bye" in lines      # html flattened to lines
        assert "var x=1;" not in r["text"]  # script dropped
        assert r["n_chars"] == len(r["text"])
    # same record id in both files -> same stable doc_id
    assert len({r["doc_id"] for r in back}) == 1

    bad = pipe.run_dataops("ingest the warc archive", sf_dir,
                           str(tmp_path / "never"))
    assert bad["status"] == "rejected" and "path" in bad["reason"]


def test_parse_dataops_paths_accept_uri_schemes():
    """Snapshot and crawl paths may be Hadoop-filesystem URIs, not just
    local mounts — s3://, hdfs://, gs:// all bind."""
    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        parse_dataops_query,
    )
    c = parse_dataops_query(
        "extract text from the crawl at s3://bucket/cc/segments")
    assert c == {"target": "ingest_crawl",
                 "crawl_path": "s3://bucket/cc/segments"}
    h = parse_dataops_query("ingest the warc archive from hdfs://nn:8020/cc")
    assert h["crawl_path"] == "hdfs://nn:8020/cc"
    d = parse_dataops_query("diff the corpus against the snapshot at gs://b/p")
    assert d == {"target": "corpus_diff", "snapshot_path": "gs://b/p"}


def test_pipeline_crawl_then_curate_chain(spark, sf_dir, tmp_path):
    """Full circle: crawl ingest writes a documents-shaped parquet
    (doc_id/text/lang/source all present); pointing the next dataops
    query's source_dir at that directory drives the standard
    curate->select->pack->shard composition over crawled text."""
    import sys as _sys
    _sys.path.insert(0, "tests")
    from test_warc import _record, _response_block

    # a crawl of 30 DISTINCT pages. Content words come from a 61-word
    # bank at per-doc stride offsets (61 prime, stride 7 co-prime):
    # two docs' content sequences never align, so no cross-doc run
    # reaches the decontaminator's 5 tokens — while connective
    # fragments stay under 5 and carry enough stopwords to clear the
    # quality gate. This is what real distinct web pages look like to
    # the gates: same glue, different content.
    bank = ("apple harbor copper winter lantern meadow silver stone "
            "cedar rain garden marble willow summer candle brook "
            "amber forest velvet north whisper ember salt cliff "
            "orchid thunder maple crystal shadow pine drift coral "
            "hollow breeze iron petal cloud ridge flame moss tide "
            "fern spark dune quill arch haze grove mist stem bell "
            "cove ash gleam ridgepole knoll birch frost loom vale "
            "crag").split()
    assert len(bank) == 61
    recs = []
    for i in range(30):
        def w(k, _i=i):
            return bank[(_i * 7 + k) % 61]
        sents = "".join(
            "It is a {0} day and the {1} of {2} will {3} to the {4} "
            "in {5}. ".format(*(w(6 * j + m) for m in range(6)))
            for j in range(5))
        body = (f"<html><body><p>{sents.strip()}</p></body></html>"
                ).encode()
        recs.append(_record(
            {"WARC-Type": "response",
             "WARC-Record-ID": f"<urn:uuid:{i}>",
             "WARC-Target-URI": f"http://site{i % 5}.example.com/p/{i}",
             "Content-Type": "application/http; msgtype=response"},
            _response_block(body)))
    d = tmp_path / "crawl"
    d.mkdir()
    (d / "a.warc").write_bytes(b"".join(recs))
    corpus_dir = tmp_path / "webcorpus"
    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    res = pipe.run_dataops(
        f"extract text from the crawl at {d}", sf_dir,
        str(corpus_dir / "documents.parquet"))
    assert res["status"] == "complete" and res["reports"]["rows"] == 30
    docs = spark.read.parquet(str(corpus_dir / "documents.parquet"))
    assert {"doc_id", "text", "lang", "source", "n_chars"} <= \
        set(docs.columns)
    row = docs.first()
    assert row["source"] == "example.com"
    assert row["lang"] in ("en", "und")

    shards = pipe.run_dataops(
        "curate the training corpus into 2 shards, budget of 10000 "
        "tokens, contexts of 16 tokens", str(corpus_dir),
        str(tmp_path / "shards"))
    assert shards["status"] == "complete"
    assert shards["reports"]["sink"]["rows_written"] > 0
    back = spark.read.parquet(str(tmp_path / "shards"))
    assert back.count() == shards["reports"]["sink"]["rows_written"]


def test_pipeline_dataops_incremental_dedup(spark, sf_dir, tmp_path):
    """NL -> incremental_dedup: fresh rows vs a persisted content-key
    snapshot, grown snapshot written alongside, bloom phrasing gives
    the identical row set; multi-epoch feed-back works."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.dedup import (
        content_keys,
    )
    from dynamic_etl_pipeline_thesis_ii_spark.sources.registry import Catalog

    docs = Catalog(spark, sf_dir).documents
    snap0 = str(tmp_path / "snap0")
    # seed snapshot: every 3rd doc already ingested
    content_keys(docs.filter("doc_id % 3 = 0")).write.parquet(snap0)
    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))

    out = str(tmp_path / "fresh")
    res = pipe.run_dataops(
        f"dedup the batch against the seen snapshot at {snap0}",
        sf_dir, out)
    assert res["status"] == "complete"
    fresh_ids = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert fresh_ids and all(i % 3 != 0 for i in fresh_ids)
    assert res["reports"]["fresh_rows"] == len(fresh_ids)

    outb = str(tmp_path / "fresh_bloom")
    resb = pipe.run_dataops(
        f"dedup the batch against the seen snapshot at {snap0} "
        f"with a bloom filter", sf_dir, outb)
    assert resb["status"] == "complete"
    assert resb["reports"]["plan"]["bloom"] is True
    bloom_ids = {r["doc_id"] for r in spark.read.parquet(outb).collect()}
    assert bloom_ids == fresh_ids  # the pre-filter never changes rows
    # epoch 1 had no stored filter: it fit one and persisted it next
    # to the grown snapshot for the next epoch
    assert resb["reports"]["bloom_loaded"] is False
    import os
    assert os.path.isdir(outb + "_snapshot_bloom")

    # bloom epoch 2 against the grown snapshot RELOADS the stored
    # filter (no snapshot re-scan — the 'read the snapshot once'
    # contract) and still answers exactly: nothing is fresh
    resb2 = pipe.run_dataops(
        f"dedup the batch against the seen snapshot at "
        f"{outb}_snapshot with a bloom filter", sf_dir,
        str(tmp_path / "fresh_bloom2"))
    assert resb2["status"] == "complete"
    assert resb2["reports"]["bloom_loaded"] is True
    assert resb2["reports"]["bloom_refit"] is False
    assert resb2["reports"]["fresh_rows"] == 0

    # epoch 2: feed the grown snapshot back -> nothing is fresh
    snap1 = res["reports"]["snapshot_path_out"]
    res2 = pipe.run_dataops(
        f"dedup the batch against the seen snapshot at {snap1}",
        sf_dir, str(tmp_path / "fresh2"))
    assert res2["status"] == "complete"
    assert res2["reports"]["fresh_rows"] == 0

    # census store: epoch 1 bootstraps it from the fresh rows; epoch 2
    # (0 fresh) carries it forward unchanged — the running census
    # always equals a recompute over everything ingested
    cen1 = {(r["kind"], r["stratum"]): r["n_docs"]
            for r in spark.read.parquet(
                res["reports"]["census_path_out"]).collect()}
    assert cen1[("__total__", "__total__")] == res["reports"]["fresh_rows"]
    cen2 = {(r["kind"], r["stratum"]): r["n_docs"]
            for r in spark.read.parquet(
                res2["reports"]["census_path_out"]).collect()}
    assert cen2 == cen1

    none = pipe.run_dataops(
        "dedup the batch against the previous snapshot", sf_dir,
        str(tmp_path / "never"))
    assert none["status"] == "rejected" and "snapshot path" in none["reason"]


def test_parse_dataops_decontaminate_target():
    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        parse_dataops_query,
    )
    p = parse_dataops_query(
        "decontaminate the training corpus against the benchmark at "
        "/data/bench, min overlap 4")
    assert p == {"target": "decontaminate",
                 "benchmark_path": "/data/bench", "semantic": False,
                 "threshold": 0.95, "min_overlap": 4}
    s = parse_dataops_query(
        "semantically decontaminate the corpus against the eval set "
        "at s3://b/eval with a threshold of 0.9")
    assert s["target"] == "decontaminate" and s["semantic"]
    assert s["benchmark_path"] == "s3://b/eval"
    assert s["threshold"] == 0.9
    # no path -> target recognized, path None (orchestrator rejects)
    n = parse_dataops_query("remove benchmark contamination from the "
                            "training data")
    assert n["target"] == "decontaminate"
    assert n["benchmark_path"] is None
    # 'semantically dedup' (no contamination words) still routes to
    # semantic_dedup, not decontaminate
    d = parse_dataops_query("semantically dedup the corpus")
    assert d["target"] == "semantic_dedup"


def test_pipeline_dataops_decontaminate(spark, sf_dir, tmp_path):
    """NL -> decontaminate, both modes: the n-gram path drops exactly
    the docs operators.dedup.decontaminate drops; the semantic path
    drops exactly the ids semantic_decontaminate drops (planted
    scaled copies of benchmark vectors all flagged); missing path
    rejects with an actionable reason."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.dedup import (
        decontaminate,
    )
    from dynamic_etl_pipeline_thesis_ii_spark.operators.similarity import (
        semantic_decontaminate,
    )
    from dynamic_etl_pipeline_thesis_ii_spark.sources.registry import Catalog

    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    docs = Catalog(spark, sf_dir).documents

    # n-gram mode: benchmark = every 13th doc, written as parquet
    bench = docs.filter(F.col("doc_id") % 13 == 0)
    bpath = str(tmp_path / "bench_docs")
    bench.write.parquet(bpath)
    out = str(tmp_path / "kept_docs")
    res = pipe.run_dataops(
        f"decontaminate the training corpus against the benchmark at "
        f"{bpath}, min overlap 3", sf_dir, out)
    assert res["status"] == "complete"
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    expect = {r["doc_id"] for r in
              decontaminate(docs, bench, k=5, min_overlap=3).collect()}
    assert kept == expect
    assert res["reports"]["rows_kept"] == len(expect)
    assert res["reports"]["rows_in"] == docs.count()
    assert res["reports"]["rows_flagged"] > 0  # bench docs ARE in corpus

    # semantic mode over embeddings
    emb = Catalog(spark, sf_dir).embeddings
    ebench = emb.filter(F.col("vec_id") % 7 == 0)
    epath = str(tmp_path / "bench_emb")
    ebench.write.parquet(epath)
    eout = str(tmp_path / "kept_emb")
    res2 = pipe.run_dataops(
        f"semantically decontaminate the corpus against the benchmark "
        f"at {epath} with a threshold of 0.95", sf_dir, eout)
    assert res2["status"] == "complete"
    kept2 = {r["vec_id"] for r in spark.read.parquet(eout).collect()}
    expect2 = {r["vec_id"] for r in
               semantic_decontaminate(emb, ebench,
                                      threshold=0.95).collect()}
    assert kept2 == expect2
    assert res2["reports"]["rows_flagged"] >= ebench.count()

    # missing path -> actionable rejection
    bad = pipe.run_dataops("decontaminate the corpus against the "
                           "benchmark", sf_dir, str(tmp_path / "never"))
    assert bad["status"] == "rejected"
    assert "benchmark path" in bad["reason"]


def test_parse_dataops_ann_index_targets():
    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        parse_dataops_query,
    )
    b = parse_dataops_query("build an ann index over the embeddings, "
                            "32 lists, with an opq rotation")
    assert b == {"target": "ann_index_build", "n_lists": 32,
                 "opq": True}
    d = parse_dataops_query("create a vector index for similarity "
                            "search")
    assert d == {"target": "ann_index_build", "n_lists": None,
                 "opq": False}
    a = parse_dataops_query("append the new vectors to the index at "
                            "/data/annidx")
    assert a == {"target": "ann_index_append",
                 "index_path": "/data/annidx"}
    n = parse_dataops_query("add the batch to the ann index")
    assert n["target"] == "ann_index_append"
    assert n["index_path"] is None
    # plain search phrasing still routes to ann_search
    s = parse_dataops_query("find the 5 nearest neighbors for each "
                            "document")
    assert s["target"] == "ann_search" and s["k"] == 5


def test_pipeline_dataops_ann_index_build_append(spark, sf_dir, tmp_path):
    """NL -> ann_index_build then ann_index_append: the store
    round-trips (books/rotation exact), search over the RELOADED
    store matches a fresh in-memory build, append grows the codes dir
    by exactly the batch, the appended codes are bit-identical to
    re-encoding through the frozen quantizers, and a search over the
    grown store surfaces appended vectors; append without a path
    rejects actionably."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.similarity import (
        ivfpq_append,
        ivfpq_build,
        ivfpq_search,
        load_ivfpq_index,
    )
    from dynamic_etl_pipeline_thesis_ii_spark.sources.registry import Catalog

    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    idx = str(tmp_path / "annidx")
    res = pipe.run_dataops("build an ann index over the embeddings, "
                           "16 lists, with an opq rotation",
                           sf_dir, idx)
    assert res["status"] == "complete"
    assert res["reports"]["n_lists"] == 16 and res["reports"]["opq"]
    emb = Catalog(spark, sf_dir).embeddings
    n = emb.count()
    assert res["reports"]["codes_written"] == n

    # reloaded store == fresh build (seeded k-means is deterministic)
    centers, books, coded, rotation = load_ivfpq_index(spark, idx)
    assert rotation is not None
    cand = emb.select(F.col("vec_id").alias("c_id"),
                      F.col("embedding").alias("c_vec"))
    c2, b2, co2 = ivfpq_build(cand, n_clusters=16, m=4,
                              rotation=rotation)
    assert books == b2
    qs = (emb.filter(F.col("vec_id") < 8)
          .select(F.col("vec_id").alias("q_id"),
                  F.col("embedding").alias("q_vec")))
    fresh = ivfpq_search(c2, b2, co2, qs, k=3, n_probe=3,
                         rotation=rotation).collect()
    reloaded = ivfpq_search(centers, books, coded, qs, k=3, n_probe=3,
                            rotation=rotation).collect()
    assert sorted(map(tuple, reloaded)) == sorted(map(tuple, fresh))

    # append: a shifted-id copy of the first 40 vectors as the batch
    batch_dir = str(tmp_path / "batch")
    (emb.filter(F.col("vec_id") < 40)
     .select((F.col("vec_id") + 900000).alias("vec_id"), "embedding")
     .write.parquet(batch_dir + "/embeddings.parquet"))
    out = str(tmp_path / "appended_codes")
    res2 = pipe.run_dataops(
        f"append the new vectors to the index at {idx}",
        batch_dir, out)
    assert res2["status"] == "complete"
    r = res2["reports"]
    assert r["codes_before"] == n and r["codes_appended"] == 40
    assert r["codes_after"] == n + 40

    # appended codes == frozen-quantizer re-encode of the batch
    batch = (spark.read.parquet(batch_dir + "/embeddings.parquet")
             .select(F.col("vec_id").alias("c_id"),
                     F.col("embedding").alias("c_vec")))
    expect = sorted((x["c_id"], x["__cluster"], tuple(x["codes"]))
                    for x in ivfpq_append(centers, books, batch,
                                          rotation=rotation).collect())
    got = sorted((x["c_id"], x["__cluster"], tuple(x["codes"]))
                 for x in spark.read.parquet(out).collect())
    assert got == expect

    # the grown store finds an appended vector as its own top hit
    _, _, grown, _ = load_ivfpq_index(spark, idx)
    q1 = (spark.read.parquet(batch_dir + "/embeddings.parquet")
          .filter(F.col("vec_id") == 900000)
          .select(F.col("vec_id").alias("q_id"),
                  F.col("embedding").alias("q_vec")))
    hits = ivfpq_search(centers, books, grown, q1, k=2, n_probe=3,
                        rerank=10, candidates=cand.unionByName(batch),
                        rotation=rotation).collect()
    top = [h["c_id"] for h in hits if h["rank"] == 1]
    # rank-1 is the appended vector itself or its identical source
    # (vec 0): both sit at distance 0
    assert top and top[0] in (900000, 0)

    bad = pipe.run_dataops("append the batch to the ann index",
                           batch_dir, str(tmp_path / "never"))
    assert bad["status"] == "rejected"
    assert "index path" in bad["reason"]


def test_parse_dataops_split_corpus_target():
    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        parse_dataops_query,
    )
    p = parse_dataops_query("split the corpus into train/val/test "
                            "80/10/10 without leakage")
    assert p["target"] == "split_corpus" and p["leak_safe"]
    assert p["splits"] == {"train": 0.8, "val": 0.1, "test": 0.1}
    d = parse_dataops_query("split the training corpus into "
                            "train/dev/test")
    assert d == {"target": "split_corpus",
                 "splits": {"train": 0.8, "val": 0.1, "test": 0.1},
                 "leak_safe": False}
    f = parse_dataops_query("split the corpus into train/val/test "
                            "90/5/5")
    assert f["splits"] == {"train": 0.9, "val": 0.05, "test": 0.05}
    # a finance 'stock split' question must NOT route to dataops
    s = parse_dataops_query("what was the last stock split for AAPL")
    assert s is None


def test_pipeline_dataops_split_corpus(spark, sf_dir, tmp_path):
    """NL -> split_corpus, both modes: default assignment ==
    split_assign; 'without leakage' == leakage_safe_split over
    MinHash-LSH pairs (component-atomic — no near-dup pair straddles
    splits); report counts match the written frame."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from dynamic_etl_pipeline_thesis_ii_spark.operators.sampling import (
        leakage_safe_split, split_assign,
    )
    from dynamic_etl_pipeline_thesis_ii_spark.sources.registry import Catalog

    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    docs = Catalog(spark, sf_dir).documents
    out = str(tmp_path / "plain")
    res = pipe.run_dataops("split the corpus into train/val/test",
                           sf_dir, out)
    assert res["status"] == "complete"
    got = {(r["doc_id"], r["split"]) for r in
           spark.read.parquet(out).select("doc_id", "split").collect()}
    expect = {(r["doc_id"], r["split"]) for r in
              split_assign(docs, {"train": 0.8, "val": 0.1,
                                  "test": 0.1},
                           key_col="doc_id").collect()}
    assert got == expect
    assert sum(res["reports"]["split_counts"].values()) == docs.count()
    assert set(res["reports"]["split_counts"]) <= {"train", "val",
                                                   "test"}

    out2 = str(tmp_path / "leak")
    res2 = pipe.run_dataops("split the corpus into train/val/test "
                            "80/10/10 without leakage", sf_dir, out2)
    assert res2["status"] == "complete"
    back = spark.read.parquet(out2)
    expect2 = {(r["doc_id"], r["component"], r["split"]) for r in
               leakage_safe_split(docs,
                                  {"train": 0.8, "val": 0.1,
                                   "test": 0.1},
                                  minhash_lsh_pairs(docs)).collect()}
    got2 = {(r["doc_id"], r["component"], r["split"])
            for r in back.select("doc_id", "component",
                                 "split").collect()}
    assert got2 == expect2
    # component-atomicity: both ends of every near-dup pair share a
    # split
    side = {r["doc_id"]: r["split"] for r in back.collect()}
    prs = minhash_lsh_pairs(docs).collect()
    assert prs   # non-vacuous
    assert all(side[p["id_a"]] == side[p["id_b"]] for p in prs)


def test_pipeline_dataops_cluster_corpus_target(spark, sf_dir, tmp_path):
    """NL 'cluster the embeddings into N topics' writes per-vector
    assignments + a reusable centers frame, equal to the direct
    cluster_embeddings composition at the same seed/count."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.similarity import (
        cluster_embeddings,
    )
    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        parse_dataops_query,
    )
    from dynamic_etl_pipeline_thesis_ii_spark.sources.registry import Catalog

    p = parse_dataops_query("cluster the embeddings into 4 topics")
    assert p == {"target": "cluster_corpus", "n_clusters": 4}
    assert parse_dataops_query(
        "cluster the corpus embeddings, 8 clusters")["n_clusters"] == 8
    # unnamed count -> corpus-derived at run time
    assert parse_dataops_query(
        "cluster the embeddings")["n_clusters"] is None
    # semdedup phrasing keeps routing to semantic_dedup
    assert parse_dataops_query(
        "semantically dedup the corpus with 32 clusters")["target"] == \
        "semantic_dedup"
    # finance phrasing must not route into dataops at all
    assert parse_dataops_query(
        "cluster analysis of AAPL volatility") is None

    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    out = str(tmp_path / "clusters")
    res = pipe.run_dataops("cluster the embeddings into 4 topics",
                           sf_dir, out)
    assert res["status"] == "complete"
    emb = Catalog(spark, sf_dir).embeddings
    n = emb.count()
    assert res["reports"]["rows_in"] == n
    assert sum(res["reports"]["cluster_sizes"].values()) == n
    assert set(res["reports"]["cluster_coherence"]) == \
        set(res["reports"]["cluster_sizes"])
    back = spark.read.parquet(out)
    want_assign, want_centers = cluster_embeddings(emb, n_clusters=4)
    assert sorted(map(tuple, back.collect())) == \
        sorted(map(tuple, want_assign.collect()))
    centers = spark.read.parquet(out + "_centers")
    assert centers.count() == 4
    assert sorted(map(tuple, centers.collect())) == \
        sorted(map(tuple, want_centers.collect()))
    # coherence is a cosine: every per-cluster mean in [-1, 1]
    assert all(-1.0 <= c <= 1.0
               for c in res["reports"]["cluster_coherence"].values())


def test_pipeline_dataops_shards_manifest_sidecar(spark, sf_dir, tmp_path):
    """NL 'shard the corpus ... with a manifest' writes the per-shard
    integrity manifest sidecar; verify_shard_manifest passes against
    the written shard set."""
    from dynamic_etl_pipeline_thesis_ii_spark.sources.sinks import (
        verify_shard_manifest,
    )

    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    out = str(tmp_path / "shards_m")
    res = pipe.run_dataops(
        "curate the corpus into 4 shards with a manifest, "
        "budget of 5000 tokens", sf_dir, out)
    assert res["status"] == "complete"
    assert res["reports"]["sink"]["manifest_path"] == out + "_manifest"
    man = spark.read.parquet(out + "_manifest")
    chk = verify_shard_manifest(spark, out, man)
    assert chk["ok"] is True and chk["mismatched"] == []


def test_pipeline_dataops_verify_shards_target(spark, sf_dir, tmp_path):
    """NL 'verify the shards at <path> against the manifest': clean
    set passes; a tampered set reports the mismatched shard both in
    the report and the per-shard status frame; pathless/manifestless
    queries get actionable rejections."""
    from pyspark.sql import functions as F

    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        parse_dataops_query,
    )
    from dynamic_etl_pipeline_thesis_ii_spark.sources.sinks import (
        write_shards,
    )

    p = parse_dataops_query("verify the shards at /data/out")
    assert p == {"target": "verify_shards", "shards_path": "/data/out",
                 "manifest_path": None}
    assert parse_dataops_query(
        "check the shards at /a against the manifest at /b") == {
        "target": "verify_shards", "shards_path": "/a",
        "manifest_path": "/b"}

    docs = spark.createDataFrame(
        [(i, f"body {i}") for i in range(120)], ["doc_id", "text"])
    shards = str(tmp_path / "ship")
    write_shards(docs, shards, n_shards=3, key_col="doc_id",
                 manifest=True)

    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    out = str(tmp_path / "verdict")
    res = pipe.run_dataops(f"verify the shards at {shards}", sf_dir, out)
    assert res["status"] == "complete"
    assert res["reports"]["ok"] is True
    assert res["reports"]["mismatched_shards"] == []
    assert res["reports"]["manifest_path"] == shards + "_manifest"
    st = {r["shard"]: r["status"]
          for r in spark.read.parquet(out).collect()}
    assert st == {0: "ok", 1: "ok", 2: "ok"}

    # tamper: drop one row from shard 1
    back = spark.read.parquet(shards)
    victim = back.filter(F.col("shard") == 1).limit(1).collect()[0]
    tampered = str(tmp_path / "tampered_ship")
    back.filter((F.col("shard") != 1)
                | (F.col("doc_id") != victim["doc_id"])) \
        .write.partitionBy("shard").parquet(tampered)
    res2 = pipe.run_dataops(
        f"verify the shards at {tampered} against the manifest at "
        f"{shards}_manifest", sf_dir, str(tmp_path / "verdict2"))
    assert res2["status"] == "complete"
    assert res2["reports"]["ok"] is False
    assert res2["reports"]["mismatched_shards"] == [1]

    # rejections: no shard path / unreadable manifest
    r3 = pipe.run_dataops("verify the shards", sf_dir,
                          str(tmp_path / "v3"))
    assert r3["status"] == "rejected" and "shards at" in r3["reason"]
    r4 = pipe.run_dataops(
        f"verify the shards at {tmp_path}/nowhere", sf_dir,
        str(tmp_path / "v4"))
    assert r4["status"] == "rejected" and "manifest" in r4["reason"]


def test_cluster_and_semdedup_reject_empty_corpus(spark, sf_dir, tmp_path):
    """k-means cannot fit zero rows: an empty embeddings table gets an
    actionable rejection from both clustering targets, not an opaque
    executor stacktrace."""
    empty_dir = str(tmp_path / "empty_sf")
    spark.createDataFrame(
        [], "vec_id long, embedding array<double>, label string") \
        .write.parquet(empty_dir + "/embeddings.parquet")
    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    for q in ("cluster the embeddings into 4 topics",
              "semantically dedup the corpus",
              "find the 5 nearest neighbors for each document",
              "build an ann index over the embeddings, 16 lists"):
        res = pipe.run_dataops(q, empty_dir, str(tmp_path / "out"))
        assert res["status"] == "rejected", q
        assert "empty" in res["reason"], q


def test_decontaminate_rejects_unreadable_benchmark(spark, sf_dir,
                                                    tmp_path):
    """A missing/unreadable benchmark path is an actionable rejection
    (the verify_shards/ann_index_append contract), not an
    AnalysisException stacktrace."""
    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    res = pipe.run_dataops(
        f"decontaminate the corpus against the benchmark at "
        f"{tmp_path}/nowhere", sf_dir, str(tmp_path / "out"))
    assert res["status"] == "rejected"
    assert "no benchmark readable" in res["reason"]


def test_ann_search_opq_zero_mse_degenerate_embeddings(spark, sf_dir,
                                                       tmp_path):
    """Constant embeddings are fully captured by the PQ codebooks, so
    mse_raw == 0.0 legitimately — the OPQ report must carry a 0.0
    delta, never a ZeroDivisionError."""
    const_dir = str(tmp_path / "const_sf")
    spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0], "a")
         for i in range(64)],
        "vec_id long, embedding array<double>, label string") \
        .write.parquet(const_dir + "/embeddings.parquet")
    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    res = pipe.run_dataops(
        "find the 5 nearest neighbors for each document, "
        "with an opq rotation", const_dir, str(tmp_path / "knn"))
    assert res["status"] == "complete"
    opq = res["reports"]["opq"]
    assert opq["mse_raw"] == 0.0
    assert opq["mse_delta_pct"] == 0.0


def test_pipeline_dataops_data_card_target(spark, sf_dir, tmp_path):
    """NL 'generate a data card for the corpus': one run composes
    composition/lengths/duplication/quality into a nested report plus
    a datacard.json artifact; every number is consistent with the
    corpus it describes."""
    import json as _json

    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        parse_dataops_query,
    )
    from dynamic_etl_pipeline_thesis_ii_spark.sources.registry import Catalog

    assert parse_dataops_query(
        "generate a data card for the corpus") \
        == {"target": "data_card", "tokenizer_path": None,
            "mix_budget": None, "mix_epochs": 2}
    assert parse_dataops_query(
        "write a datasheet for the training data")["target"] == "data_card"

    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    out = str(tmp_path / "card")
    res = pipe.run_dataops("generate a data card for the corpus",
                           sf_dir, out)
    assert res["status"] == "complete"
    card = res["reports"]["data_card"]
    docs = Catalog(spark, sf_dir).documents
    n = docs.count()
    comp = card["composition"]
    assert comp["n_docs"] == n
    assert sum(comp["docs_per_lang"].values()) == n
    assert sum(comp["docs_per_source"].values()) == n
    assert set(card["length_quantiles_per_lang"]) == \
        set(comp["docs_per_lang"])
    assert 0.0 <= card["duplication"]["approx_dup_rate"] <= 1.0
    assert card["duplication"]["distinct_docs_estimate"] > 0
    q = card["quality"]
    for k in ("mean_quality", "gopher_pass_rate", "mean_code_score",
              "lang_id_agreement"):
        assert 0.0 <= q[k] <= 1.0, k
    # licensing section: per-class counts partition the corpus
    assert sum(card["licensing"].values()) == n
    assert set(card["licensing"]) <= {"unmarked", "permissive", "cc",
                                      "copyleft", "restricted"}
    # the artifact round-trips and matches the report
    with open(res["reports"]["card_path"]) as fh:
        on_disk = _json.load(fh)["data_card"]
    assert on_disk["composition"]["n_docs"] == n
    assert _json.dumps(on_disk["quality"], sort_keys=True) == \
        _json.dumps(q, sort_keys=True)
    # the census lands at the sink as the machine-readable companion,
    # the full length histogram beside it
    back = spark.read.parquet(out)
    assert back.filter("kind = '__total__'").first()["n_docs"] == n
    hb = spark.read.parquet(card["histogram_path"])
    assert hb.filter("kind = '__total__'") \
        .agg({"n_docs": "sum"}).first()[0] == n


def test_data_card_tokenizer_section(spark, sf_dir, tmp_path):
    """'generate a data card ... with the tokenizer at /path' (r13):
    the TK4 fertility telemetry joins the datasheet — per-language
    fertility/chars-per-token strata-consistent with the composition
    section and numerically identical to a direct tokenizer_stats
    run; a named-but-unreadable store rejects actionably."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.bpe import (
        load_bpe,
        tokenizer_stats,
    )
    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        parse_dataops_query,
    )
    from dynamic_etl_pipeline_thesis_ii_spark.sources.registry import Catalog

    p = parse_dataops_query(
        "generate a data card for the corpus with the tokenizer at /tok")
    assert p == {"target": "data_card", "tokenizer_path": "/tok",
                 "mix_budget": None, "mix_epochs": 2}

    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    tok = str(tmp_path / "tok")
    assert pipe.run_dataops(
        "train a bpe tokenizer on the corpus, 50 merges, and save it",
        sf_dir, tok)["status"] == "complete"
    out = str(tmp_path / "card")
    res = pipe.run_dataops(
        f"generate a data card for the corpus with the tokenizer "
        f"at {tok}", sf_dir, out)
    assert res["status"] == "complete"
    card = res["reports"]["data_card"]
    sec = card["tokenizer"]
    assert sec["kind"] == "bpe" and sec["path"] == tok
    # strata-consistent with the composition section
    assert set(sec["fertility_per_lang"]) == \
        set(card["composition"]["docs_per_lang"])
    # numerically identical to a direct tokenizer_stats run
    direct = {r["lang"]: (r["fertility"], r["chars_per_token"],
                          r["n_tokens"], r["n_words"])
              for r in tokenizer_stats(
                  Catalog(spark, sf_dir).documents,
                  merges=load_bpe(spark, tok),
                  lang_col="lang").collect()}
    for lang, (fert, cpt, _, _) in direct.items():
        assert sec["fertility_per_lang"][lang] == fert
        assert sec["chars_per_token_per_lang"][lang] == cpt
        assert fert >= 1.0          # every word is >= 1 subword token
    t_toks = sum(v[2] for v in direct.values())
    t_words = sum(v[3] for v in direct.values())
    assert sec["n_tokens"] == t_toks
    assert sec["overall_fertility"] == round(t_toks / t_words, 4)
    # a named-but-unreadable store rejects (the user asked for a
    # section the run cannot produce)
    r = pipe.run_dataops(
        f"generate a data card for the corpus with the tokenizer "
        f"at {tmp_path}/nope", sf_dir, str(tmp_path / "c2"))
    assert r["status"] == "rejected" \
        and "no tokenizer readable" in r["reason"]
    # ...and the plain card (no tokenizer named) carries no section
    res0 = pipe.run_dataops("generate a data card for the corpus",
                            sf_dir, str(tmp_path / "card0"))
    assert "tokenizer" not in res0["reports"]["data_card"]


def test_round10_router_scoping_regressions(spark, sf_dir, tmp_path):
    """Code-review regressions: scoped hints keep non-corpus queries
    out of the dataops router entirely (previously they fell through
    to corpus_to_shards); 'check ... shards for contamination' stays
    on the decontamination route; bad paths and empty corpora reject
    instead of crashing."""
    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        parse_dataops_query,
    )

    # hint leaks: must NOT route into dataops at all
    assert parse_dataops_query("cluster the user sessions by hour") is None
    assert parse_dataops_query(
        "show the token length distribution of replies") is None
    # ...while the corpus phrasings still do
    assert parse_dataops_query(
        "report the corpus token length distribution")["target"] == \
        "corpus_census"
    assert parse_dataops_query(
        "cluster the corpus embeddings")["target"] == "cluster_corpus"

    # decontam phrasing with 'check ... shards' keeps its route
    p = parse_dataops_query(
        "check the corpus shards for contamination against the "
        "benchmark at /bench")
    assert p["target"] == "decontaminate"
    assert p["benchmark_path"] == "/bench"

    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    # verify_shards with a readable manifest but a missing shard set
    # rejects instead of raising PATH_NOT_FOUND
    import pyspark.sql.functions as F  # noqa: F401 — parity with suite style
    from dynamic_etl_pipeline_thesis_ii_spark.sources.sinks import (
        write_shards,
    )
    docs = spark.createDataFrame([(1, "a"), (2, "b")], ["doc_id", "text"])
    real = str(tmp_path / "real")
    write_shards(docs, real, n_shards=2, key_col="doc_id", manifest=True)
    res = pipe.run_dataops(
        f"verify the shards at {tmp_path}/gone against the manifest "
        f"at {real}_manifest", sf_dir, str(tmp_path / "v"))
    assert res["status"] == "rejected" and "no shard set" in res["reason"]

    # census over an empty documents table rejects, not NoneType crash
    empty_dir = str(tmp_path / "empty_docs")
    spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string") \
        .write.parquet(empty_dir + "/documents.parquet")
    for q in ("census the corpus",
              "census the corpus with distinct content counts",
              "generate a data card for the corpus"):
        r = pipe.run_dataops(q, empty_dir, str(tmp_path / "c"))
        assert r["status"] == "rejected" and "empty" in r["reason"], q


def test_pipeline_dataops_cluster_assign_target(spark, sf_dir, tmp_path):
    """NL cluster-map lifecycle: build ('cluster the embeddings into N
    topics') then map a batch onto the persisted centers ('assign the
    new embeddings to the clusters at <path>') — assignments over the
    fit corpus are IDENTICAL to fit-time (k-means assigns by the same
    squared-L2 metric), and bad/missing paths reject."""
    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        parse_dataops_query,
    )

    p = parse_dataops_query(
        "assign the new embeddings to the clusters at /maps/v1")
    assert p == {"target": "cluster_assign", "centers_path": "/maps/v1"}
    assert parse_dataops_query(
        "map the batch to the cluster map at /m")["target"] == \
        "cluster_assign"

    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    out1 = str(tmp_path / "fit")
    res1 = pipe.run_dataops("cluster the embeddings into 4 topics",
                            sf_dir, out1)
    assert res1["status"] == "complete"

    out2 = str(tmp_path / "mapped")
    res2 = pipe.run_dataops(
        f"assign the new embeddings to the clusters at {out1}_centers",
        sf_dir, out2)
    assert res2["status"] == "complete"
    assert res2["reports"]["cluster_sizes"] == \
        res1["reports"]["cluster_sizes"]
    fit = {(r["vec_id"], r["cluster"], r["center_cos"])
           for r in spark.read.parquet(out1).collect()}
    mapped = {(r["vec_id"], r["cluster"], r["center_cos"])
              for r in spark.read.parquet(out2).collect()}
    assert fit == mapped

    r3 = pipe.run_dataops("assign the batch to the clusters",
                          sf_dir, str(tmp_path / "x"))
    assert r3["status"] == "rejected" and "clusters at" in r3["reason"]
    r4 = pipe.run_dataops(
        f"assign the batch to the clusters at {tmp_path}/nope",
        sf_dir, str(tmp_path / "y"))
    assert r4["status"] == "rejected" and "cluster map" in r4["reason"]


def _image_media_rows():
    """Deterministic BMP/PNG fixtures: a base image, its noisy
    near-copy (cross-format), an unrelated image, and junk bytes."""
    import numpy as np

    from dynamic_etl_pipeline_thesis_ii_spark.operators import (
        multimodal as M,
    )

    rng = np.random.default_rng(31)
    grad = np.linspace(0, 200, 32, dtype=np.uint8)
    a = ((rng.integers(0, 256, (32, 32, 3)).astype(int)
          + grad[None, :, None]) // 2).astype(np.uint8)
    b = ((rng.integers(0, 256, (32, 32, 3)).astype(int)
          + grad[::-1][None, :, None]) // 2).astype(np.uint8)
    a_noisy = a.copy()
    a_noisy[::9, ::6] = np.clip(a_noisy[::9, ::6].astype(int) + 10,
                                0, 255).astype(np.uint8)
    return a, b, a_noisy, M


def test_pipeline_image_dedup_and_probe_lifecycle(spark, sf_dir,
                                                  tmp_path):
    """NL image lifecycle (the M2 operator's build/probe faces, same
    pattern as the Bloom and ANN-index stores): 'dedup the images'
    dedups the media table, lands the kept rows AND the banded
    hamming snapshot (+geometry sidecar); 'flag the new images
    against the snapshot at <p>' probes a later batch at batch cost.
    NL results == direct-operator results; rejections are
    actionable."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators import dedup as D
    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        parse_dataops_query,
    )

    assert parse_dataops_query("dedup the images") == {
        "target": "image_dedup", "modality": "image", "max_hamming": 6,
        "n_blocks": 8, "hot_policy": "drop"}
    assert parse_dataops_query(
        "dedup the images, recovering hot buckets")["hot_policy"] == \
        "reband"
    assert parse_dataops_query(
        "dedup the audio clips")["target"] == "audio_dedup"
    assert parse_dataops_query(
        "flag the new audio against the snapshot at /s")["target"] == \
        "audio_probe"
    assert parse_dataops_query(
        "flag the new images against the snapshot at /s")["target"] == \
        "image_probe"

    a, b, a_noisy, M = _image_media_rows()
    src = str(tmp_path / "img_sf")
    spark.createDataFrame(
        [(1, "image", bytes(M.write_bmp(a))),
         (2, "image", bytes(M.write_png(a_noisy))),
         (3, "image", bytes(M.write_bmp(b))),
         (4, "image", b"JUNKJUNK")],
        "media_id long, kind string, payload binary") \
        .write.parquet(src + "/media.parquet")

    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    out = str(tmp_path / "imgdedup")
    res = pipe.run_dataops("dedup the images", src, out)
    assert res["status"] == "complete"
    rep = res["reports"]
    assert rep["rows_in"] == 4
    assert rep["images_decodable"] == 3      # junk never fingerprints
    # NL == direct operator: noisy copy dropped, rest pass through
    kept = {r["media_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {1, 3, 4}
    assert rep["rows_kept"] == 3
    # telemetry rides the report even when nothing was capped
    assert rep["cap_telemetry"]["capped_buckets"] == 0
    # the snapshot landed with its geometry sidecar
    snap = rep["snapshot_path_out"]
    banded, geom = D.load_hamming_snapshot(spark, snap)
    assert geom["max_hamming"] == 6 and geom["n_blocks"] == 8
    assert banded.count() > 0

    # epoch 2: a new noisy copy of seen image b + a fresh image
    import numpy as np
    b_noisy = b.copy()
    b_noisy[::7, ::5] = np.clip(b_noisy[::7, ::5].astype(int) + 12,
                                0, 255).astype(np.uint8)
    rng2 = np.random.default_rng(37)
    fresh = ((rng2.integers(0, 256, (32, 32, 3)).astype(int)
              + np.linspace(0, 150, 32, dtype=np.uint8)[None, :, None])
             // 2).astype(np.uint8)
    batch_src = str(tmp_path / "img_batch")
    batch = spark.createDataFrame(
        [(10, "image", bytes(M.write_png(b_noisy))),
         (11, "image", bytes(M.write_bmp(fresh)))],
        "media_id long, kind string, payload binary")
    batch.write.parquet(batch_src + "/media.parquet")

    out2 = str(tmp_path / "imgprobe")
    res2 = pipe.run_dataops(
        f"flag the new images against the snapshot at {snap}",
        batch_src, out2)
    assert res2["status"] == "complete"
    got = {(r["id_new"], r["id_seen"]) for r in
           spark.read.parquet(out2).collect()}
    # NL == direct probe with the snapshot's own geometry
    from dynamic_etl_pipeline_thesis_ii_spark.operators.multimodal import (
        image_dhash,
    )
    want = {(r["id_new"], r["id_seen"]) for r in
            D.incremental_hamming_pairs(
                image_dhash(batch), banded, **geom).collect()}
    assert got == want
    assert (10, 3) in got
    assert not any(idn == 11 for idn, _ in got)
    assert res2["reports"]["images_flagged"] == 1
    assert res2["reports"]["geometry"] == geom

    # epoch grow: '... and update the snapshot' appends the batch's
    # FRESH fingerprints (within-batch-deduped) to the store, so the
    # next epoch flags against them at batch cost
    grow_src = str(tmp_path / "img_grow")
    fresh2 = ((np.random.default_rng(43)
               .integers(0, 256, (32, 32, 3)).astype(int)
               + np.linspace(0, 90, 32,
                             dtype=np.uint8)[None, :, None]) // 2) \
        .astype(np.uint8)
    f2 = bytes(M.write_bmp(fresh2))
    spark.createDataFrame(
        [(20, "image", f2), (21, "image", f2),          # in-batch dup
         (22, "image", bytes(M.write_png(b_noisy)))],   # seen near-copy
        "media_id long, kind string, payload binary") \
        .write.parquet(grow_src + "/media.parquet")
    n_snap_before = banded.count()
    res3 = pipe.run_dataops(
        f"flag the new images against the snapshot at {snap} "
        f"and update the snapshot", grow_src, str(tmp_path / "grow_out"))
    assert res3["status"] == "complete"
    rep3 = res3["reports"]
    assert rep3["images_flagged"] == 1          # only the seen near-copy
    assert rep3["images_appended"] == 1         # dup pair entered once
    assert rep3["snapshot_rows_before"] == n_snap_before
    assert rep3["snapshot_rows_after"] > n_snap_before
    # the grown store now flags a re-ingest of the appended image
    grown, geom2 = D.load_hamming_snapshot(spark, snap)
    assert geom2 == geom                        # geometry unchanged
    reprobe = D.incremental_hamming_pairs(
        image_dhash(spark.createDataFrame(
            [(30, "image", f2)],
            "media_id long, kind string, payload binary")),
        grown, **geom2).collect()
    assert any(r["id_seen"] == 20 and r["hamming"] == 0 for r in reprobe)

    # rejections: no media table / empty media / bad snapshot path
    r1 = pipe.run_dataops("dedup the images", str(tmp_path / "nodir"),
                          str(tmp_path / "o1"))
    assert r1["status"] == "rejected" and "media" in r1["reason"]
    empty_src = str(tmp_path / "img_empty")
    spark.createDataFrame(
        [], "media_id long, kind string, payload binary") \
        .write.parquet(empty_src + "/media.parquet")
    r2 = pipe.run_dataops("dedup the images", empty_src,
                          str(tmp_path / "o2"))
    assert r2["status"] == "rejected" and "empty" in r2["reason"]
    r3 = pipe.run_dataops("flag the new images against the snapshot",
                          batch_src, str(tmp_path / "o3"))
    assert r3["status"] == "rejected" and "snapshot path" in r3["reason"]
    r4 = pipe.run_dataops(
        f"flag the new images against the snapshot at {tmp_path}/nope",
        batch_src, str(tmp_path / "o4"))
    assert r4["status"] == "rejected" and "no loadable" in r4["reason"]


def test_data_card_counts_media(spark, sf_dir, tmp_path):
    """The datasheet counts the media table when the source dir
    carries one: items/bytes per kind consistent with the frame, and
    PER-MODALITY decodable fractions from REAL decodes (dHash /
    aHash / vHash row deltas); without media the card says so
    explicitly."""
    import numpy as np

    from dynamic_etl_pipeline_thesis_ii_spark.sources.registry import (
        Catalog,
    )

    a, b, a_noisy, M = _image_media_rows()
    src = str(tmp_path / "card_sf")
    docs = Catalog(spark, sf_dir).documents.limit(80)
    docs.write.parquet(src + "/documents.parquet")
    wav = M.write_wav([0, 1000, -1000, 500], rate=8000)  # too short
    avi = M.write_avi(
        [np.tile(np.arange(0, 240, 5, dtype=np.uint8),
                 (32, 1))[:, :, None].repeat(3, axis=2) + t * 2
         for t in range(4)], fps=4.0)
    media_rows = [(1, "image", bytes(M.write_bmp(a))),
                  (2, "image", bytes(M.write_png(a_noisy))),
                  (3, "image", b"NOTANIMAGE"),
                  (4, "audio", bytes(wav)),
                  (5, "video", avi),
                  (6, "video", bytes(M.write_mp4(2.0)))]  # meta only
    spark.createDataFrame(
        media_rows, "media_id long, kind string, payload binary") \
        .write.parquet(src + "/media.parquet")

    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    res = pipe.run_dataops("generate a data card for the corpus",
                           src, str(tmp_path / "card_out"))
    assert res["status"] == "complete"
    m = res["reports"]["data_card"]["media"]
    assert m["present"] is True
    assert m["per_kind"]["image"]["n_items"] == 3
    assert m["per_kind"]["audio"]["n_items"] == 1
    assert m["per_kind"]["video"]["n_items"] == 2
    assert m["per_kind"]["image"]["n_bytes"] == sum(
        len(p) for _, k, p in media_rows if k == "image")
    assert m["images_decodable"] == 2
    assert m["image_decodable_fraction"] == round(2 / 3, 4)
    assert m["clips_decodable"] == 0            # 4-sample clip: no
    assert m["audio_decodable_fraction"] == 0.0  # gradient signal
    assert m["videos_decodable"] == 1            # AVI yes, MP4 meta-only
    assert m["video_decodable_fraction"] == 0.5

    # media-less corpus: the section is explicit, not silently absent
    res2 = pipe.run_dataops("generate a data card for the corpus",
                            sf_dir, str(tmp_path / "card_out2"))
    assert res2["status"] == "complete"
    assert res2["reports"]["data_card"]["media"] == {"present": False}


def test_pipeline_audio_dedup_and_probe_lifecycle(spark, sf_dir,
                                                  tmp_path):
    """The audio face of the media lifecycle: 'dedup the audio clips'
    collapses a resampled re-encode onto its original via aHash +
    the shared hamming banding; the persisted snapshot then flags a
    later near-copy batch ('flag the new audio against the
    snapshot')."""
    import numpy as np

    from dynamic_etl_pipeline_thesis_ii_spark.operators import (
        multimodal as M,
    )

    def chirp(seed, rate=16000):
        rng = np.random.default_rng(seed)
        t = np.arange(rate * 2) / rate
        clip = (np.sin(2 * np.pi * (200 + 90 * seed
                                    + (400 + 50 * seed) * t) * t)
                * (0.5 + 0.5 * np.sin(2 * np.pi * (1.3 + 0.4 * seed) * t))
                + 0.2 * rng.standard_normal(len(t)) * (t % 0.7 < 0.35))
        return (np.clip(clip, -1, 1) * 20000).astype("<i2")

    a, b = chirp(0), chirp(5)
    wav_a = bytes(M.write_wav(a, 16000))
    wav_a_8k = bytes(M.resample_wav(wav_a, 8000))   # re-encode of a
    wav_b = bytes(M.write_wav(b, 16000))
    src = str(tmp_path / "aud_sf")
    spark.createDataFrame(
        [(1, "audio", wav_a), (2, "audio", wav_a_8k),
         (3, "audio", wav_b), (4, "audio", b"ID3\x04junk")],
        "media_id long, kind string, payload binary") \
        .write.parquet(src + "/media.parquet")

    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    out = str(tmp_path / "auddedup")
    res = pipe.run_dataops("dedup the audio clips", src, out)
    assert res["status"] == "complete"
    assert res["reports"]["clips_decodable"] == 3
    kept = {r["media_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {1, 3, 4}

    # probe a later batch: gain-scaled copy of b flags, fresh doesn't
    batch_src = str(tmp_path / "aud_batch")
    spark.createDataFrame(
        [(10, "audio", bytes(M.write_wav((b * 0.4).astype("<i2"),
                                         16000))),
         (11, "audio", bytes(M.write_wav(chirp(9), 16000)))],
        "media_id long, kind string, payload binary") \
        .write.parquet(batch_src + "/media.parquet")
    res2 = pipe.run_dataops(
        f"flag the new audio against the snapshot at "
        f"{res['reports']['snapshot_path_out']}",
        batch_src, str(tmp_path / "audprobe"))
    assert res2["status"] == "complete"
    got = {(r["id_new"], r["id_seen"]) for r in
           spark.read.parquet(str(tmp_path / "audprobe")).collect()}
    assert (10, 3) in got
    assert not any(idn == 11 for idn, _ in got)
    assert res2["reports"]["clips_flagged"] == 1


def test_pipeline_neardup_probe_lifecycle(spark, sf_dir, tmp_path):
    """NL text near-dup probe (the MinHash band-table face of the
    media probes): 'flag near-duplicate documents against the band
    snapshot at /p' probes a persisted band table at batch cost, cap
    telemetry rides the report, 'recovering hot buckets' flags a
    flood copy against the bucket representative, and '... update
    the snapshot' appends the batch's fresh band keys."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators import dedup as D
    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        parse_dataops_query,
    )

    plan = parse_dataops_query(
        "flag near-duplicate documents against the band snapshot at /s")
    assert plan["target"] == "neardup_probe"
    assert plan["hot_policy"] == "drop" and plan["update"] is False

    boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit"
    corpus = spark.createDataFrame(
        [(i, boiler) for i in range(30)]
        + [(100, "a unique seed document about alpine botany and "
                 "glacier meltwater chemistry")],
        ["doc_id", "text"])
    bands_path = str(tmp_path / "band_snap")
    D.minhash_band_keys(corpus).write.parquet(bands_path)

    batch_src = str(tmp_path / "nd_sf")
    spark.createDataFrame(
        [(200, "a unique seed document about alpine botany and "
               "glacier meltwater chemistry appended"),
         (201, boiler),                      # flood copy
         (202, "completely fresh content on submarine cable repair")],
        ["doc_id", "text"]).write.parquet(batch_src
                                          + "/documents.parquet")

    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    out = str(tmp_path / "nd_flags")
    res = pipe.run_dataops(
        f"flag near-duplicate documents against the band snapshot at "
        f"{bands_path}, recovering hot buckets, and update the "
        f"snapshot", batch_src, out)
    assert res["status"] == "complete"
    assert res["reports"]["plan"]["hot_policy"] == "star"
    got = {(r["id_new"], r["id_seen"]) for r in
           spark.read.parquet(out).collect()}
    assert (200, 100) in got
    assert any(idn == 201 for idn, _ in got)   # flood copy flags
    assert not any(idn == 202 for idn, _ in got)
    rep = res["reports"]
    assert rep["docs_flagged"] == 2
    assert rep["cap_telemetry"]["capped_buckets"] == 0
    # the grow step appended ONLY the fresh doc's band keys
    assert rep["docs_appended"] == 1
    assert rep["snapshot_rows_after"] > rep["snapshot_rows_before"]
    reprobe = pipe.run_dataops(
        f"flag near-duplicate documents against the band snapshot at "
        f"{bands_path}", batch_src, str(tmp_path / "nd2"))
    got2 = {(r["id_new"], r["id_seen"]) for r in
            spark.read.parquet(str(tmp_path / "nd2")).collect()}
    assert (202, 202) in got2        # the grown snapshot knows doc 202

    # rejections: missing path / not-a-band-table
    r1 = pipe.run_dataops(
        "flag near-duplicate documents against the band snapshot",
        batch_src, str(tmp_path / "r1"))
    assert r1["status"] == "rejected" and "snapshot path" in r1["reason"]
    notbands = str(tmp_path / "notbands")
    corpus.write.parquet(notbands)
    r2 = pipe.run_dataops(
        f"flag near-duplicate documents against the band snapshot at "
        f"{notbands}", batch_src, str(tmp_path / "r2"))
    assert r2["status"] == "rejected" and "band snapshot" in r2["reason"]


def test_neardup_probe_run_leaves_nothing_cached(spark, sf_dir, tmp_path):
    """A neardup probe through ``run_dataops`` caches its probed band
    table (the cap telemetry and the pair join share it); the run's
    cache scope must release it, so a long-lived server does not keep
    one cached frame per probe run."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators import dedup as D

    snap = str(tmp_path / "snap")
    D.minhash_band_keys(spark.createDataFrame(
        [(1, "a unique seed document about alpine botany and glacier "
             "meltwater chemistry"),
         (2, "submarine cable repair logistics in the north atlantic")],
        ["doc_id", "text"])).write.parquet(snap)
    batch_src = str(tmp_path / "batch")
    spark.createDataFrame(
        [(10, "a unique seed document about alpine botany and glacier "
              "meltwater chemistry appended")],
        ["doc_id", "text"]).write.parquet(batch_src + "/documents.parquet")
    spark.catalog.clearCache()
    res = Pipeline(spark, FixtureFetcher(spark, sf_dir)).run_dataops(
        f"flag near-duplicate documents against the band snapshot at "
        f"{snap}", batch_src, str(tmp_path / "flags"))
    assert res["status"] == "complete"
    assert res["reports"]["docs_flagged"] == 1
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_pipeline_band_snapshot_build_then_probe(spark, sf_dir,
                                                 tmp_path):
    """NL-only text near-dup lifecycle: build the band snapshot from
    one corpus dir, probe a batch dir against it — chained through
    nothing but run_dataops."""
    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        parse_dataops_query,
    )

    assert parse_dataops_query(
        "build a near-dup band snapshot of the corpus")["target"] == \
        "band_snapshot"

    corpus_src = str(tmp_path / "bs_corpus")
    spark.createDataFrame(
        [(1, "a unique seed document about alpine botany and glacier "
             "meltwater chemistry"),
         (2, "submarine cable repair logistics in the north atlantic")],
        ["doc_id", "text"]).write.parquet(corpus_src
                                          + "/documents.parquet")
    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    snap = str(tmp_path / "bs_snap")
    res = pipe.run_dataops("build a near-dup band snapshot of the "
                           "corpus", corpus_src, snap)
    assert res["status"] == "complete"
    assert res["reports"]["docs_in"] == 2
    assert res["reports"]["band_rows"] == 8      # 2 docs x 4 bands

    batch_src = str(tmp_path / "bs_batch")
    spark.createDataFrame(
        [(10, "a unique seed document about alpine botany and glacier "
              "meltwater chemistry appended")],
        ["doc_id", "text"]).write.parquet(batch_src
                                          + "/documents.parquet")
    res2 = pipe.run_dataops(
        f"flag near-duplicate documents against the band snapshot at "
        f"{snap}", batch_src, str(tmp_path / "bs_flags"))
    assert res2["status"] == "complete"
    got = {(r["id_new"], r["id_seen"]) for r in
           spark.read.parquet(str(tmp_path / "bs_flags")).collect()}
    assert got == {(10, 1)}

    # empty corpus rejects like the sibling builders
    empty_src = str(tmp_path / "bs_empty")
    spark.createDataFrame([], "doc_id long, text string") \
        .write.parquet(empty_src + "/documents.parquet")
    r = pipe.run_dataops("build a near-dup band snapshot of the corpus",
                         empty_src, str(tmp_path / "bs_e"))
    assert r["status"] == "rejected" and "empty" in r["reason"]


def test_pipeline_video_dedup_and_probe_lifecycle(spark, sf_dir,
                                                  tmp_path):
    """The video face of the media lifecycle: 'dedup the videos'
    collapses an MJPEG transcode onto its DIB original via vHash +
    the shared hamming banding (inter-frame/undecodable clips pass
    through, visible in videos_decodable); the persisted snapshot
    then flags a later noisy near-copy batch ('flag the new videos
    against the snapshot')."""
    import numpy as np

    from dynamic_etl_pipeline_thesis_ii_spark.operators import (
        multimodal as M,
    )
    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        parse_dataops_query,
    )

    assert parse_dataops_query("dedup the videos") == {
        "target": "video_dedup", "modality": "video", "max_hamming": 6,
        "n_blocks": 8, "hot_policy": "drop"}
    assert parse_dataops_query(
        "flag the new videos against the snapshot at /s")["target"] == \
        "video_probe"

    def clip(n=12, phase=0.0, seed=None, fps=12.0, codec="DIB "):
        frames = []
        for t in range(n):
            y, x = np.mgrid[0:48, 0:64].astype(float)
            g = (x * 2 + y * 3 + (t + phase) * 4) % 256
            cx = 64 * (0.2 + 0.6 * (t + phase) / 24)
            blob = 120 * np.exp(-(((x - cx) ** 2 + (y - 24) ** 2) / 80))
            c = np.clip(g + blob, 0, 255).astype(np.uint8)
            frames.append(np.stack(
                [c, (c // 2 + 40).astype(np.uint8), 255 - c], axis=2))
        if seed is not None:
            rng = np.random.default_rng(seed)
            frames = [np.clip(f.astype(int)
                              + rng.integers(-8, 9, f.shape),
                              0, 255).astype(np.uint8) for f in frames]
        return M.write_avi(frames, fps=fps, codec=codec)

    vid_a = clip()
    vid_a_mjpg = clip(codec="MJPG")              # transcode of a
    vid_b = clip(phase=7.0)
    src = str(tmp_path / "vid_sf")
    spark.createDataFrame(
        [(1, "video", vid_a), (2, "video", vid_a_mjpg),
         (3, "video", vid_b), (4, "video", bytes(M.write_mp4(2.0)))],
        "media_id long, kind string, payload binary") \
        .write.parquet(src + "/media.parquet")

    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    out = str(tmp_path / "viddedup")
    res = pipe.run_dataops("dedup the videos", src, out)
    assert res["status"] == "complete"
    assert res["reports"]["videos_decodable"] == 3   # mp4 = meta only
    kept = {r["media_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {1, 3, 4}

    # probe a later batch: noisy copy of b flags, fresh clip doesn't
    batch_src = str(tmp_path / "vid_batch")
    spark.createDataFrame(
        [(10, "video", clip(phase=7.0, seed=3)),
         (11, "video", clip(phase=31.0))],
        "media_id long, kind string, payload binary") \
        .write.parquet(batch_src + "/media.parquet")
    res2 = pipe.run_dataops(
        f"flag the new videos against the snapshot at "
        f"{res['reports']['snapshot_path_out']}",
        batch_src, str(tmp_path / "vidprobe"))
    assert res2["status"] == "complete"
    got = {(r["id_new"], r["id_seen"]) for r in
           spark.read.parquet(str(tmp_path / "vidprobe")).collect()}
    assert (10, 3) in got
    assert not any(idn == 11 for idn, _ in got)
    assert res2["reports"]["videos_flagged"] == 1


def test_pipeline_containment_lifecycle(spark, sf_dir, tmp_path):
    """NL sub-clip containment lifecycle: 'find videos containing
    clips of each other' lands the pair table AND the packed
    frame-hash band snapshot; 'flag the new videos sharing frames
    with the snapshot at /p' then catches a later batch containing a
    TRIM of stored content at batch cost; '... update the snapshot'
    grows the store with the batch's fresh hashes."""
    import numpy as np

    from dynamic_etl_pipeline_thesis_ii_spark.operators import (
        multimodal as M,
    )

    def frames(n=24, phase=0.0):
        out = []
        for t in range(n):
            y, x = np.mgrid[0:48, 0:64].astype(float)
            g = (x * 2 + y * 3 + (t + phase) * 4) % 256
            cx = 64 * (0.2 + 0.6 * (t + phase) / 24)
            blob = 120 * np.exp(-(((x - cx) ** 2 + (y - 24) ** 2) / 80))
            c = np.clip(g + blob, 0, 255).astype(np.uint8)
            out.append(np.stack(
                [c, (c // 2 + 40).astype(np.uint8), 255 - c], axis=2))
        return out

    fa = frames(24)
    vid_a = M.write_avi(fa, fps=12.0)
    vid_b = M.write_avi(fa[9:16], fps=12.0, codec="MJPG")   # trim of a
    vid_c = M.write_avi(frames(10, phase=31.0), fps=10.0)
    src = str(tmp_path / "cont_sf")
    spark.createDataFrame(
        [(1, "video", vid_a), (2, "video", vid_b),
         (3, "video", vid_c)],
        "media_id long, kind string, payload binary") \
        .write.parquet(src + "/media.parquet")

    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    out = str(tmp_path / "cont_pairs")
    res = pipe.run_dataops("find videos containing clips of each other",
                           src, out)
    assert res["status"] == "complete"
    assert res["reports"]["items_decodable"] == 3
    got = {(r["id_a"], r["id_b"]): r["shared_frames"] for r in
           spark.read.parquet(out).collect()}
    assert (1, 2) in got and got[(1, 2)] >= 3
    assert all(k == (1, 2) for k in got)

    # probe a later batch: a different trim of A flags, fresh doesn't
    # (the fresh clip flips+rolls the raster — the frame recipe is
    # periodic in phase, so a far phase alone is NOT fresh content)
    fresh_frames = [np.roll(f[::-1], 20, axis=1).copy()
                    for f in frames(8, phase=7.0)]
    batch_src = str(tmp_path / "cont_batch")
    spark.createDataFrame(
        [(10, "video", M.write_avi(fa[2:9], fps=12.0)),
         (11, "video", M.write_avi(fresh_frames, fps=8.0))],
        "media_id long, kind string, payload binary") \
        .write.parquet(batch_src + "/media.parquet")
    snap = res["reports"]["snapshot_path_out"]
    res2 = pipe.run_dataops(
        f"flag the new videos sharing frames with the snapshot at "
        f"{snap} and update the snapshot",
        batch_src, str(tmp_path / "cont_flags"))
    assert res2["status"] == "complete"
    flags = {(r["id_new"], r["id_seen"]): r["shared_frames"] for r in
             spark.read.parquet(str(tmp_path / "cont_flags"))
             .collect()}
    assert (10, 1) in flags and flags[(10, 1)] >= 2
    assert not any(idn == 11 for idn, _ in flags)
    assert res2["reports"]["videos_flagged"] == 1
    # the grow step appended the fresh clip's hashes
    assert res2["reports"]["videos_appended"] == 1
    assert res2["reports"]["snapshot_rows_after"] > \
        res2["reports"]["snapshot_rows_before"]

    # epoch 3: a copy of the FRESH clip from epoch 2 now flags
    batch3 = str(tmp_path / "cont_batch3")
    spark.createDataFrame(
        [(20, "video", M.write_avi(fresh_frames, fps=8.0,
                                   codec="MJPG"))],
        "media_id long, kind string, payload binary") \
        .write.parquet(batch3 + "/media.parquet")
    res3 = pipe.run_dataops(
        f"flag the new videos sharing frames with the snapshot at "
        f"{snap}", batch3, str(tmp_path / "cont_flags3"))
    assert res3["status"] == "complete"
    got3 = {(r["id_new"], r["id_seen"]) for r in
            spark.read.parquet(str(tmp_path / "cont_flags3"))
            .collect()}
    assert (20, 11) in got3

    # rejections are actionable
    r = pipe.run_dataops("find videos containing clips of each other",
                         str(tmp_path / "nowhere"), out)
    assert r["status"] == "rejected" and "media" in r["reason"]
    r = pipe.run_dataops("flag the new videos sharing frames with "
                         "the snapshot", batch3, out)
    assert r["status"] == "rejected" and "snapshot path" in r["reason"]


def test_pipeline_dataops_retrieve_target(spark, sf_dir, tmp_path):
    """NL 'search the corpus for "..."' routes to BM25 retrieval:
    routing variants, NL == direct-operator parity, per-query hit
    counts in the report, and the no-quoted-query rejection."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.text import bm25_topk
    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        parse_dataops_query,
    )
    from dynamic_etl_pipeline_thesis_ii_spark.sources.registry import Catalog

    p = parse_dataops_query(
        'search the corpus for "spark window agg", top 5')
    assert p == {"target": "retrieve", "k": 5, "index_path": None,
                 "queries": ["spark window agg"]}
    assert parse_dataops_query(
        "retrieve the best documents for 'hash join'") == {
        "target": "retrieve", "k": 10, "index_path": None,
        "queries": ["hash join"]}
    assert parse_dataops_query(
        'bm25 rank the corpus against "stream batch"')["target"] \
        == "retrieve"
    # two quoted strings -> two query rows
    assert parse_dataops_query(
        'search the corpus for "a b" and "c d"')["queries"] \
        == ["a b", "c d"]
    # dense ANN phrasing still routes to ann_search, not retrieve
    assert parse_dataops_query(
        "find the 5 nearest neighbors for each document")["target"] \
        == "ann_search"

    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    out = str(tmp_path / "hits")
    res = pipe.run_dataops(
        'search the corpus for "spark window agg" and "hash join", '
        "top 4", sf_dir, out)
    assert res["status"] == "complete"
    assert set(res["reports"]["hits_per_query"]) \
        == {"spark window agg", "hash join"}
    got = spark.read.parquet(out)
    assert got.columns == ["query_id", "query_text", "rank", "id",
                           "bm25", "n_terms", "lang", "source"]
    # NL run == direct operator call, row for row
    docs = Catalog(spark, sf_dir).documents
    qset = spark.createDataFrame(
        [(1, "spark window agg"), (2, "hash join")],
        "query_id bigint, query_text string")
    direct = {(r["query_id"], r["rank"], r["id"], r["bm25"])
              for r in bm25_topk(docs, qset, k=4).collect()}
    assert {(r["query_id"], r["rank"], r["id"], r["bm25"])
            for r in got.collect()} == direct
    assert all(r["rank"] <= 4 for r in got.collect())

    r = pipe.run_dataops("search the corpus for the best docs",
                         sf_dir, out)
    assert r["status"] == "rejected" and "quoted" in r["reason"]


def test_explain_dry_run_face(spark, sf_dir, tmp_path):
    """'explain: <query>' returns the typed plan without executing —
    no sink write, non-dataops queries note the would-be rejection."""
    import os

    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        FixtureFetcher,
        Pipeline,
    )

    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    out = str(tmp_path / "never")
    res = pipe.run_dataops(
        "explain: remove duplicated passages across the corpus, "
        "windows of 9 tokens", sf_dir, out)
    assert res["status"] == "explained"
    assert res["reports"]["plan"] == {"target": "substring_dedup",
                                      "window": 9,
                                      "flag_only": False}
    assert not os.path.exists(out)          # nothing executed
    res2 = pipe.run_dataops("explain: what time is it", sf_dir, out)
    assert res2["status"] == "explained"
    assert res2["reports"]["plan"] is None
    # the bare query still executes normally
    res3 = pipe.run_dataops("license audit the corpus", sf_dir,
                            str(tmp_path / "flags"))
    assert res3["status"] == "complete"


def test_data_card_suggested_mix_section(spark, sf_dir, tmp_path):
    """'generate a data card ... with a budget of 50000 tokens, at
    most 2 epochs': the SM10 suggested-mix section joins the card —
    derived from the census's own per-language token sums (zero
    extra scans), numerically consistent with the census and with
    the standalone allocator's closed form."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.sampling import (
        unimax_epochs,
    )
    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        FixtureFetcher,
        Pipeline,
        parse_dataops_query,
    )

    p = parse_dataops_query(
        "generate a data card for the corpus with a budget of "
        "50,000 tokens, at most 2 epochs")
    assert p["mix_budget"] == 50_000 and p["mix_epochs"] == 2

    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    out = str(tmp_path / "card")
    res = pipe.run_dataops(
        "generate a data card for the corpus with a budget of "
        "50000 tokens, at most 2 epochs", sf_dir, out)
    assert res["status"] == "complete"
    card = res["reports"]["data_card"]
    mix = card["suggested_mix"]
    assert mix["budget_tokens"] == 50_000 and mix["max_epochs"] == 2
    langs = set(card["composition"]["docs_per_lang"])
    assert set(mix["epochs_per_lang"]) == langs
    assert all(0.0 <= e <= 2.0 for e in mix["epochs_per_lang"].values())
    # allocation totals: sum of allocated tokens == min(budget, supply)
    census = spark.read.parquet(out)
    toks = {r["stratum"]: r["n_tokens"] for r in
            census.filter(census.kind == "lang").collect()}
    total_alloc = sum(mix["allocated_tokens_per_lang"].values())
    supply = 2 * sum(toks.values())
    assert abs(total_alloc - min(50_000, supply)) <= len(toks)  # rounding
    # consistency with the pure closed form on the same counts
    want = {g: round(e, 4)
            for g, e in unimax_epochs(toks, 50_000, 2).items()}
    assert mix["epochs_per_lang"] == want
    assert mix["saturated_langs"] == sorted(
        g for g, e in want.items() if e >= 2)
    # no budget named -> no section
    res0 = pipe.run_dataops("generate a data card for the corpus",
                            sf_dir, str(tmp_path / "c0"))
    assert "suggested_mix" not in res0["reports"]["data_card"]


def test_pipeline_dataops_shuffle_order_target(spark, sf_dir, tmp_path):
    """NL 'shuffle the corpus for training' writes the deterministic
    global order: routing (epoch capture, shard precedence), gap-free
    rank contract in the report, parity with the direct operator."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.sampling import (
        shuffle_order,
    )
    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        parse_dataops_query,
    )
    from dynamic_etl_pipeline_thesis_ii_spark.sources.registry import Catalog

    assert parse_dataops_query(
        "shuffle the corpus for training, epoch 3") \
        == {"target": "shuffle_order", "epoch": 3}
    assert parse_dataops_query(
        "write the training order")["target"] == "shuffle_order"
    # shard phrasing stays on the sharding pipeline
    assert parse_dataops_query(
        "shuffle the corpus and write 8 shards")["target"] \
        != "shuffle_order"

    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    out = str(tmp_path / "order")
    res = pipe.run_dataops("shuffle the corpus for training, epoch 3",
                           sf_dir, out)
    assert res["status"] == "complete"
    rep = res["reports"]
    assert rep["gap_free"] and rep["max_rank"] == rep["n_docs"] - 1
    docs = Catalog(spark, sf_dir).documents.select("doc_id")
    want = sorted((r["doc_id"], r["rank"])
                  for r in shuffle_order(docs, epoch=3).collect())
    got = sorted((r["doc_id"], r["rank"])
                 for r in spark.read.parquet(out).collect())
    assert got == want


def test_webdataset_nl_face(spark, sf_dir, tmp_path):
    """'export the corpus as webdataset' routes to the tar-shard
    sink: shard-count / mb-target capture, the verify verb staying
    on the manifest-check route, and the end-to-end run landing
    byte-real tars + manifest under the run's output."""
    import glob

    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        parse_dataops_query,
    )

    p = parse_dataops_query("export the corpus as webdataset, 3 shards")
    assert p == {"target": "webdataset_write", "n_shards": 3,
                 "target_shard_mb": 256, "table": "documents"}
    # media nouns ship the media table's payload bytes
    pm = parse_dataops_query("export the images as webdataset")
    assert pm["table"] == "media"
    p2 = parse_dataops_query(
        "write the corpus to webdataset shards at 64 mb")
    assert p2["target"] == "webdataset_write"
    assert p2["n_shards"] is None and p2["target_shard_mb"] == 64
    # the verify verb stays on the manifest-check route
    v = parse_dataops_query(
        "verify the webdataset shards at /tmp/x against the manifest")
    assert v["target"] == "verify_shards"

    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    out = str(tmp_path / "run")
    result = pipe.run_dataops(
        "export the corpus as webdataset, 2 shards", sf_dir, out)
    assert result["status"] == "complete"
    rep = result["reports"]
    assert rep["rows_written"] > 0
    tars = glob.glob(out + "/webdataset/shard-*.tar")
    assert len(tars) == rep["shards_written"] == 2
    man = spark.read.parquet(rep["manifest_path"])
    assert man.count() == 2
    assert man.agg(F.sum("rows")).first()[0] == rep["rows_written"]


def test_target_table_contract():
    """TARGETS is the one routing table of the NL dataops front door:
    every row's example parses to that row, names are unique, each
    row's required plan keys are keys its binder sets, every handler
    the dispatcher can reach has a row, and 'explain:' on a non-dataops
    query lists every target. Pure Python: no Spark session, no job."""
    from dynamic_etl_pipeline_thesis_ii_spark.plans import orchestrator as O

    names = [t.name for t in O.TARGETS]
    assert len(names) == len(set(names))
    for t in O.TARGETS:
        plan = O.parse_dataops_query(t.example)
        assert plan is not None and plan["target"] == t.name, t.example
        assert t.about
        assert {key for key, _ in t.requires} <= set(plan), t.name
    # the dispatcher calls row handlers only; the one other _run_*
    # method is the store face ann_search's handler hands off to
    handlers = {t.handler for t in O.TARGETS}
    runs = {f for k, f in vars(O.Pipeline).items() if k.startswith("_run_")}
    assert runs - handlers == {O.Pipeline._run_ann_search_store}
    assert handlers <= runs

    res = Pipeline(None, None).run_dataops("explain: what time is it",
                                           "/no/source", "/no/sink")
    assert res["status"] == "explained" and res["reports"]["plan"] is None
    listed = res["reports"]["targets"]
    assert [e["target"] for e in listed] == names
    assert all(e["example"] and e["about"] for e in listed)


def test_rejections_name_their_cause(spark, sf_dir, tmp_path):
    """A rejection for an unreadable input carries the underlying error
    after the 'no X readable at P' prefix — a parquet that is not a
    cluster map says so instead of only 'no cluster map readable'."""
    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    not_map = str(tmp_path / "not_a_map")
    spark.createDataFrame([(1, 2.0)], "a int, b double") \
        .write.parquet(not_map)
    r = pipe.run_dataops(
        f"assign the new embeddings to the clusters at {not_map}",
        sf_dir, str(tmp_path / "out1"))
    assert r["status"] == "rejected"
    assert r["reason"].startswith("no cluster map readable at")
    assert "not a cluster map" in r["reason"]

    r = pipe.run_dataops(
        f"verify the shards at {tmp_path}/none against the manifest",
        sf_dir, str(tmp_path / "out2"))
    assert r["status"] == "rejected"
    prefix = f"no manifest readable at {tmp_path}/none_manifest: "
    assert r["reason"].startswith(prefix)
    assert len(r["reason"]) > len(prefix)


def test_incremental_dedup_rejects_unreadable_sidecars(spark, sf_dir,
                                                       tmp_path):
    """Only a MISSING census or Bloom sidecar is the bootstrap epoch; a
    sidecar that exists but cannot be read or merged rejects with its
    cause instead of silently restarting the census or refitting."""
    from dynamic_etl_pipeline_thesis_ii_spark.operators.dedup import (
        content_keys,
    )
    from dynamic_etl_pipeline_thesis_ii_spark.sources.registry import Catalog

    snap = str(tmp_path / "snap")
    content_keys(Catalog(spark, sf_dir).documents.filter("doc_id % 3 = 0")) \
        .write.parquet(snap)
    spark.createDataFrame([(1, 2.0)], "a int, b double") \
        .write.parquet(snap + "_census")
    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    r = pipe.run_dataops(
        f"dedup the batch against the seen snapshot at {snap}",
        sf_dir, str(tmp_path / "out1"))
    assert r["status"] == "rejected"
    prefix = f"no census readable at {snap}_census: "
    assert r["reason"].startswith(prefix), r["reason"]
    assert len(r["reason"]) > len(prefix)

    spark.createDataFrame([(1, 2.0)], "a int, b double") \
        .write.parquet(snap + "_bloom")
    r = pipe.run_dataops(
        f"dedup the batch against the seen snapshot at {snap} "
        f"with a bloom filter", sf_dir, str(tmp_path / "out2"))
    assert r["status"] == "rejected"
    prefix = f"no bloom filter readable at {snap}_bloom: "
    assert r["reason"].startswith(prefix), r["reason"]
    assert len(r["reason"]) > len(prefix)


def test_data_card_rejects_unreadable_media(spark, sf_dir, tmp_path):
    """A media.parquet that exists but cannot be read ends the data card
    run with the read error; only a missing one reads as no media."""
    from dynamic_etl_pipeline_thesis_ii_spark.sources.registry import Catalog

    src = str(tmp_path / "card_sf")
    Catalog(spark, sf_dir).documents.limit(40) \
        .write.parquet(src + "/documents.parquet")
    with open(src + "/media.parquet", "wb") as fh:
        fh.write(b"not a parquet file")
    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    r = pipe.run_dataops("generate a data card for the corpus", src,
                         str(tmp_path / "card_out"))
    assert r["status"] == "rejected"
    prefix = f"no media table readable at {src}/media.parquet: "
    assert r["reason"].startswith(prefix), r["reason"]
    assert len(r["reason"]) > len(prefix)
