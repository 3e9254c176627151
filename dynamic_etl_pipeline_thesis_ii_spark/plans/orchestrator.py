"""Pipeline orchestrator (reference entry points A/B — SURVEY.md §3).

``Pipeline.run(query)`` reproduces the reference's four-stage lifecycle
(``pipeline.py:8-34``, ``backend/app/services/pipeline_service.py:100-280``)
on Spark:

1. **Plan**   — planner (rule-based default, LLM-pluggable) → typed
   ExecutionPlan → semantic scoring → parameter validation.
2. **Fetch**  — a pluggable ``Fetcher`` executes each request and
   returns a DataFrame (the shipped ``FixtureFetcher`` synthesizes
   deterministic API-shaped frames from the testdata tables — the
   network client slot in an online deployment).
3. **Integrate** — union/similarity-join orchestration
   (:mod:`operators.integration`).
4. **Transform** — cleaning + keyword->DSL enrichment per output.
5. **Publish** — sinks + run-artifact report; per-stage progress
   events via callback (the reference streams them over WebSocket).

Everything between fetch and publish is LAZY — one Spark action per
output at the sink, so Catalyst optimizes each output's whole pipeline
as a single plan.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import TYPE_CHECKING, Any, Callable, Optional, Protocol

from pyspark.sql import Column, DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F

from dynamic_etl_pipeline_thesis_ii_spark.config import EngineConfig
from dynamic_etl_pipeline_thesis_ii_spark.functions.compiler import apply_features
from dynamic_etl_pipeline_thesis_ii_spark.functions.dsl import validate_dsl
from dynamic_etl_pipeline_thesis_ii_spark.functions.registry import FEATURE_REGISTRY
# the heavy modules (sources.registry/sinks/warc/pdf/archives,
# operators.multimodal, queries.dataops_suite pull in pyarrow/pandas,
# ~0.5 s each cold) stay imported inside the handlers that need them
from dynamic_etl_pipeline_thesis_ii_spark.operators import (
    bpe,
    dedup,
    packing,
    quality,
    sampling,
    similarity,
    text,
    unigram,
    web,
)
from dynamic_etl_pipeline_thesis_ii_spark.operators.cleaning import clean_dataframe
from dynamic_etl_pipeline_thesis_ii_spark.operators.integration import integrate
from dynamic_etl_pipeline_thesis_ii_spark.plans.contracts import (
    APIResult,
    ExecutionPlan,
    ExecutionResults,
    PlannerResponse,
)
from dynamic_etl_pipeline_thesis_ii_spark.plans.planner import (
    RulePlanner,
    SemanticValidator,
    to_execution_plan,
)
from dynamic_etl_pipeline_thesis_ii_spark.plans.validators import (
    OutputValidator,
    ParameterValidator,
)
from dynamic_etl_pipeline_thesis_ii_spark.scope import cache_scope, persist_scoped

if TYPE_CHECKING:
    from dynamic_etl_pipeline_thesis_ii_spark.sources.registry import Catalog

ProgressFn = Callable[[str, dict], None]
# a dataops handler's (outputs, reports); run_dataops adds the status
# and the plan echo
Result = tuple[list[DataFrame], dict]


class Rejected(Exception):
    """A dataops run that cannot start or cannot read its input; the
    message is the reason ``run_dataops`` reports with
    ``status: rejected``."""


@contextmanager
def _rejects(what: str):
    """Reject with ``'<what>: <cause>'`` when the block raises — the
    reason always carries the underlying error."""
    try:
        yield
    except Rejected:
        raise
    except Exception as exc:  # noqa: BLE001 — any read failure rejects
        raise Rejected(f"{what}: {exc}") from exc


def _counts(frame: DataFrame, col) -> dict:
    """``{value: rows}`` of one column or expression over ``frame``."""
    return {r[0]: r["n"] for r in
            frame.groupBy(col).agg(F.count(F.lit(1)).alias("n")).collect()}


def _vectors(emb: DataFrame, side: str) -> DataFrame:
    """The embeddings table as ``(<side>_id, <side>_vec)`` — ``c`` for
    the candidate side of an ANN search, ``q`` for the query side."""
    return emb.select(F.col("vec_id").alias(f"{side}_id"),
                      F.col("embedding").alias(f"{side}_vec"))


def _nonempty_count(frame: DataFrame, table: str) -> int:
    """Row count of an input table; an empty one is an actionable
    rejection, not an opaque executor stacktrace from a fit or join
    that cannot run on zero rows."""
    n = frame.count()
    if n == 0:
        raise Rejected(f"{table} table is empty")
    return n


# X2 deterministic fallback: enrichment keyword -> default DSL params
# (the reference's LLM translator fills the same defaults from its
# prompt; transform/llm_translator.py:21-146)
_DSL_DEFAULTS: dict[str, dict[str, Any]] = {
    "sma": {"on": "close", "window": 20},
    "ema": {"on": "close", "window": 20},
    "rsi": {},
    "macd": {},
    "stoch": {},
    "rolling_vol": {"on": "close", "window": 20},
    "atr": {},
    "bbands": {},
    "obv": {},
    "ret": {"on": "close"},
    "zscore": {"on": "close", "window": 20},
    "rolling_avg": {"on": "close", "window": 20},
}


def translate_keywords(keywords: list[str]) -> dict:
    """Deterministic keyword->DSL translation (X2 fallback)."""
    feats = [{"name": k, "params": dict(_DSL_DEFAULTS.get(k, {}))}
             for k in keywords if k in FEATURE_REGISTRY["features"]]
    return {"features": feats}


class Fetcher(Protocol):
    """Pluggable fetch slot. Implementations: :class:`FixtureFetcher`
    (offline, below) and ``sources.http_clients.HttpFetcher`` (live
    Polygon/Alpha Vantage over a retrying transport)."""

    def fetch(self, request) -> DataFrame: ...


class FixtureFetcher:
    """Offline executor: deterministic API-shaped frames from the
    testdata tables. Bars derive from `events` (value walk per ticker,
    one row per date); indicators from daily event averages."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir

    def _daily(self) -> DataFrame:
        from dynamic_etl_pipeline_thesis_ii_spark.sources.registry import Catalog
        ev = Catalog(self.spark, self.sf_dir).events
        return (ev.groupBy(F.col("ts").cast("date").alias("timestamp"))
                .agg(F.round(F.avg("value"), 4).alias("base"),
                     F.sum("user_id").alias("vol")))

    def fetch(self, request) -> DataFrame:
        params = request.parameters
        ticker = params.get("ticker") or params.get("symbol") or "ECON"
        # per-ticker deterministic price offset so the two API sides of
        # one ticker agree while tickers differ
        offset = float(sum(ord(c) for c in ticker) % 97)
        d = self._daily()
        is_econ = (params.get("endpoint_type") == "economic_indicator"
                   or request.endpoint_name in ("REAL_GDP", "CPI",
                                                "FEDERAL_FUNDS_RATE"))
        if is_econ:
            return d.select("timestamp",
                            F.round(F.col("base") / 10, 4).alias("value"))
        noise = 0.0 if request.api_name == "polygon" else 0.0001
        base = F.col("base") + F.lit(offset)
        return d.select(
            F.lit(ticker).alias("ticker"), "timestamp",
            F.round(base * (1.0 + noise), 4).alias("open"),
            F.round(base * (1.01 + noise), 4).alias("high"),
            F.round(base * (0.99 - noise), 4).alias("low"),
            F.round(base * (1.001 + noise), 4).alias("close"),
            F.col("vol").cast("double").alias("volume"))


class Pipeline:
    """End-to-end engine driver with per-stage progress events."""

    def __init__(self, spark: SparkSession, fetcher: Fetcher,
                 cfg: Optional[EngineConfig] = None,
                 planner=None, translator=None,
                 progress: Optional[ProgressFn] = None):
        self.spark = spark
        self.fetcher = fetcher
        self.cfg = cfg or EngineConfig()
        self.planner = planner or RulePlanner()
        self.translator = translator  # e.g. plans.llm.LLMTranslator
        self.param_validator = ParameterValidator()
        self.semantic_validator = SemanticValidator()
        self.output_validator = OutputValidator()
        self.progress = progress or (lambda stage, info: None)

    # -- stage 1: plan -----------------------------------------------------
    def plan(self, query: str) -> tuple[PlannerResponse, ExecutionPlan]:
        resp = self.planner.analyze(query)
        self.progress("plan", {"proceed": resp.proceed,
                               "n_requests": len(resp.api_requests)})
        if not resp.proceed:
            return resp, ExecutionPlan()
        plan = to_execution_plan(resp)
        plan = self.semantic_validator.validate_plan(plan, resp.semantic_keywords)
        plan = self.param_validator.validate_plan(plan)
        self.progress("validate_plan", {
            "statuses": [r.validation_status for r in plan.ranked_requests]})
        return resp, plan

    # -- stage 2: fetch ----------------------------------------------------
    def execute(self, plan: ExecutionPlan,
                max_concurrency: Optional[int] = None) -> ExecutionResults:
        """Run every validated request through the fetcher. Requests are
        independent, and for HTTP fetchers the latency is network-bound
        (plan construction is lazy Spark either way), so they fan out on
        a small driver-side thread pool — a 20-ticker plan pays ~5
        round-trip latencies instead of 20. Result order matches plan
        order regardless of completion order; failures degrade
        per-request exactly as in the sequential reference loop
        (``ingestor.py:201-298``).

        When ``max_concurrency`` is not given, the fetcher's own
        ``max_concurrency`` attribute decides (default 4): live HTTP
        fetchers advertise 1, because free-tier vendors (Alpha Vantage:
        5 req/min) answer concurrent bursts with HTTP-200 rate-limit
        notes that would degrade into per-request parse failures.
        ``max_concurrency=1`` is strictly sequential."""
        from concurrent.futures import ThreadPoolExecutor

        if max_concurrency is None:
            max_concurrency = getattr(self.fetcher, "max_concurrency", 4)
        t0 = time.perf_counter()

        def one(req) -> APIResult:
            if req.validation_status == "ERROR":
                return APIResult(req.api_name, req.endpoint_name,
                                 "FAILED", used_parameters=req.parameters,
                                 error_message="; ".join(req.validation_errors))
            try:
                df = self.fetcher.fetch(req)
                return APIResult(req.api_name, req.endpoint_name,
                                 "SUCCESS", data=df,
                                 used_parameters=req.parameters)
            except Exception as exc:  # noqa: BLE001 — reference degrades per-request
                return APIResult(req.api_name, req.endpoint_name,
                                 "FAILED", used_parameters=req.parameters,
                                 error_message=str(exc))

        reqs = plan.ranked_requests
        if max_concurrency > 1 and len(reqs) > 1:
            with ThreadPoolExecutor(max_workers=max_concurrency) as pool:
                results = list(pool.map(one, reqs))
        else:
            results = [one(r) for r in reqs]
        failed = [req for req, res in zip(reqs, results)
                  if res.status == "FAILED"]
        ok = sum(1 for r in results if r.status == "SUCCESS")
        overall = ("COMPLETE" if ok == len(results) and results else
                   "PARTIAL" if ok else "FAILED")
        out = ExecutionResults(results=results, failed_requests=failed,
                               overall_status=overall,
                               execution_time_ms=int((time.perf_counter() - t0) * 1000))
        self.progress("fetch", {"overall": overall, "ok": ok,
                                "total": len(results)})
        return out

    # -- full run ----------------------------------------------------------
    def run(self, query: str) -> dict:
        resp, plan = self.plan(query)
        if not resp.proceed:
            return {"status": "rejected", "reason": "non-finance query",
                    "outputs": [], "reports": {}}

        execution = self.execute(plan)
        frames = [r.data for r in execution.results if r.status == "SUCCESS"]
        if not frames:
            return {"status": "failed", "reason": "all requests failed",
                    "outputs": [], "reports": {}}

        val_reports = [self.output_validator.validate_dataset(
            r.data, resp.features.native, r.api_name, r.endpoint_name,
            r.used_parameters.get("ticker") or r.used_parameters.get("symbol"))
            for r in execution.results if r.status == "SUCCESS"]
        self.progress("validate_output", {
            "passed": sum(1 for v in val_reports if v.validation_passed),
            "total": len(val_reports)})

        outputs, integration_ops = integrate(frames, self.cfg)
        self.progress("integrate", {"n_groups": len(outputs)})

        if self.translator is not None:
            dsl = self.translator.translate(resp.features.enrichment)
        else:
            dsl = translate_keywords(resp.features.enrichment)
        dsl, dsl_errors = validate_dsl(dsl, FEATURE_REGISTRY)
        transformed = []
        transform_reports = []
        for i, out in enumerate(outputs):
            cleaned, clean_report = clean_dataframe(out)
            if dsl and dsl["features"]:
                cleaned = apply_features(cleaned, dsl, entity_col="ticker",
                                         ts_col="timestamp")
            transformed.append(cleaned)
            transform_reports.append(clean_report)
        self.progress("transform", {"n_outputs": len(transformed),
                                    "dsl_errors": dsl_errors or []})

        return {
            "status": "complete",
            "outputs": transformed,
            "reports": {
                "plan": {"tickers": resp.tickers,
                         "enrichment": resp.features.enrichment,
                         "statuses": [r.validation_status
                                      for r in plan.ranked_requests]},
                "execution": {"overall": execution.overall_status,
                              "time_ms": execution.execution_time_ms},
                "output_validation": [v.__dict__ for v in val_reports],
                "integration": integration_ops,
                "transform": transform_reports,
            },
        }

    # -- dataops targets: NL query -> one row of TARGETS -------------------
    def run_dataops(self, query: str, source_dir: str,
                    output_path: str) -> dict:
        """Training-data front door: NL query -> typed dataops plan
        (the first ``TARGETS`` row whose binder accepts the query) ->
        that target's handler over the tables under ``source_dir`` ->
        its sink at ``output_path``. Targets cover ingest, curation
        and dedup, tokenization and packing, retrieval and ANN indexes,
        mixing and splits, and — the default, ``corpus_to_shards`` —
        curate -> token-budget selection -> packing -> verified
        ``write_shards``. ``explain: <query>`` returns the plan without
        running it. A run that cannot start, or cannot read its input,
        returns ``status: rejected`` with a reason naming the cause.

        The run owns its cached frames: everything persisted while it
        runs is released when it returns, by which time every target
        has written its sink."""
        with cache_scope():
            return self._dispatch_dataops(query, source_dir, output_path)

    def _dispatch_dataops(self, query: str, source_dir: str,
                          output_path: str) -> dict:
        # dry-run face: 'explain: <query>' returns the typed plan the
        # engine WOULD execute — no Spark job, no sink write. The
        # reference exposes plan validation as a first-class stage;
        # this is its ask-before-you-run face.
        if m := re.match(r"^\s*explain\s*[:,]?\s+(.*)$", query,
                         re.IGNORECASE | re.DOTALL):
            inner = parse_dataops_query(m.group(1))
            self.progress("plan", {"proceed": False,
                                   "explain": True,
                                   "target": (inner or {}).get("target")})
            if inner is None:
                return {"status": "explained", "outputs": [],
                        "reports": {"plan": None,
                                    "note": "not a dataops query — "
                                            "would be rejected",
                                    "targets": [
                                        {"target": t.name,
                                         "about": t.about,
                                         "example": t.example}
                                        for t in TARGETS]}}
            return {"status": "explained", "outputs": [],
                    "reports": {"plan": inner}}
        plan = parse_dataops_query(query)
        self.progress("plan", {"proceed": plan is not None,
                               "target": plan["target"] if plan else None})
        if plan is None:
            return {"status": "rejected", "reason": "not a dataops query",
                    "outputs": [], "reports": {}}
        from dynamic_etl_pipeline_thesis_ii_spark.sources import registry

        target = _TARGET_BY_NAME[plan["target"]]
        try:
            for key, reason in target.requires:
                if not plan.get(key):
                    raise Rejected(reason)
            outputs, reports = target.handler(
                self, plan, registry.Catalog(self.spark, source_dir),
                output_path)
        except Rejected as exc:
            return {"status": "rejected", "reason": str(exc),
                    "outputs": [], "reports": {"plan": dict(plan)}}
        return {"status": "complete", "outputs": outputs,
                "reports": {"plan": dict(plan), **reports}}

    def _sink(self, frame: DataFrame, path: str) -> DataFrame:
        """Write ``frame`` to ``path`` and return what reads back from
        it: targets verify and count their sink from the read-back."""
        frame.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    @staticmethod
    def _stats(back: DataFrame, *keys: str, **aggs: Column) -> Row:
        """The statistics of a corpus-sized read-back in ONE Spark
        action (each further action costs at least two AQE jobs):
        ``rows`` is its row count, each name in ``keys`` holds that
        column's distinct count as ``back.select(k).distinct().count()``
        gives it (NULL counts as one value, which ``count_distinct``
        alone skips), and each ``aggs`` entry is an aggregate under its
        keyword."""
        exprs = [F.count(F.lit(1)).alias("rows")]
        exprs += [(F.count_distinct(k) + F.coalesce(
            F.max(F.col(k).isNull().cast("int")), F.lit(0))).alias(k)
            for k in keys]
        exprs += [e.alias(name) for name, e in aggs.items()]
        return back.agg(*exprs).first()

    def _publish(self, frame: DataFrame, output_path: str, count_key: str,
                 **reports) -> Result:
        """The common tail: write ``frame`` to the sink, count the
        read-back, emit ``publish`` and return the result with that
        count under ``count_key`` after the handler's reports."""
        n = self._sink(frame, output_path).count()
        self.progress("publish", {"rows": n, "path": output_path})
        return [frame], {**reports, count_key: n}

    def _run_corpus_to_shards(self, plan: dict, cat: Catalog,
                              output_path: str) -> Result:
        """The default target: curate -> per-language token-budget
        selection -> sequence packing -> shard assignment, written by
        ``write_shards`` with read-back verification."""
        from dynamic_etl_pipeline_thesis_ii_spark.queries import dataops_suite
        from dynamic_etl_pipeline_thesis_ii_spark.sources import sinks

        if plan["n_buckets"] is None:
            # corpus-derived bucket count (one cheap count): the
            # packing shuffle's task count IS n_buckets, so it must
            # grow with the corpus; floor at the user's shard count so
            # every shard draws from at least one packing stream. The
            # derived value lands in plan/report — bucket count is
            # part of the output's deterministic identity (stream
            # membership hashes id % n_buckets).
            n_docs = cat.documents.count()
            plan["n_buckets"] = derive_n_buckets(
                n_docs, floor=max(4, plan["n_shards"]))
        frame = dataops_suite.corpus_to_shards_frame(
            self.spark, cat.sf_dir,
            token_budget=plan["token_budget"], seq_len=plan["seq_len"],
            n_shards=plan["n_shards"], n_buckets=plan["n_buckets"],
            tokenizer=plan["tokenizer"])
        self.progress("curate", {"params": dict(plan)})
        # the frame's persisted `shard` column IS the writer's hash;
        # drop it and let write_shards recompute + verify placement
        sink_report = sinks.write_shards(
            frame.drop("shard"), output_path,
            n_shards=plan["n_shards"], key_col="id",
            shuffle_salt=plan.get("shuffle_salt"), verify=True,
            manifest=plan.get("manifest", False))
        self.progress("publish", {"rows": sink_report.get("rows_written"),
                                  "path": output_path})
        return [frame], {"sink": sink_report}

    def _run_incremental_dedup(self, plan: dict, cat: Catalog,
                               output_path: str) -> Result:
        """'dedup the batch against the seen snapshot at <path>': the
        continuous-ingest step — source_dir's documents are the new
        batch, the snapshot parquet holds the (id, key) content keys
        of everything already ingested. Fresh rows (not in the
        snapshot, then exact-deduped within the batch) land at the
        output; the GROWN snapshot (old keys + the fresh rows' keys)
        lands at ``<output>_snapshot`` so the next batch feeds it
        straight back — the multi-epoch grow cycle as an NL target.
        'with a bloom filter' swaps the snapshot anti-join's input
        for the broadcast Bloom pre-filter (identical answer, ~fpp of
        the batch through the shuffle). The fitted filter PERSISTS
        beside the snapshot (``<snapshot>_bloom``): epoch N+1 reloads
        it instead of re-scanning the snapshot (the 'read the
        snapshot once' contract in ``dedup.py``), ORs the fresh
        batch's keys in (batch-cost), and lands the grown filter at
        ``<output>_snapshot_bloom`` next to the grown snapshot — a
        refit (2x-capacity resize) happens only when accumulated
        inserts exceed the capacity the filter was sized for."""
        from dynamic_etl_pipeline_thesis_ii_spark.sources import sinks

        seen = self.spark.read.parquet(plan["snapshot_path"])
        batch = cat.documents
        bloom_path = plan["snapshot_path"] + "_bloom"
        census_path = plan["snapshot_path"] + "_census"
        bloom, bloom_loaded = None, False
        if plan.get("bloom"):
            # no stored filter yet: the first epoch fits one; a stored
            # one that cannot be loaded rejects
            if sinks._path_exists(self.spark, bloom_path):
                with _rejects(f"no bloom filter readable at {bloom_path}"):
                    bloom = dedup.BloomFilter.load(self.spark, bloom_path)
                bloom_loaded = True
            else:
                n_seen = seen.select("key").distinct().count()
                bloom = dedup.BloomFilter.fit(seen.select("key"), "key",
                                              fpp=0.01, n_items=n_seen,
                                              capacity=2 * n_seen)
            fresh = dedup.bloom_snapshot_fresh(batch, seen, bloom=bloom)
            keep = F.min("doc_id").over(Window.partitionBy("__k"))
            fresh = (fresh.withColumn("__keep", keep)
                     .filter(F.col("doc_id") == F.col("__keep"))
                     .drop("__k", "__keep"))
        else:
            fresh = dedup.incremental_exact(batch, seen)
        self.progress("dedup", {"params": dict(plan),
                                "bloom_loaded": bloom_loaded})
        back = self._sink(fresh, output_path)
        n_fresh = back.count()
        grown = seen.select("id", "key").unionByName(
            dedup.content_keys(back)).distinct()
        grown.write.mode("overwrite").parquet(output_path + "_snapshot")
        # running corpus census rides the snapshot store too: fold the
        # FRESH rows' census into the loaded one at batch cost — the
        # result equals a full recompute over everything ever
        # ingested, without re-scanning the corpus (text.corpus_census
        # contract; disjointness is exactly what the dedup guarantees)
        census = text.corpus_census(back)
        if sinks._path_exists(self.spark, census_path):
            # a missing census is the bootstrap epoch; a stored one that
            # cannot be read or merged rejects
            with _rejects(f"no census readable at {census_path}"):
                census = text.merge_census(
                    self.spark.read.parquet(census_path), census)
        census.write.mode("overwrite").parquet(
            output_path + "_snapshot_census")
        bloom_refit = False
        if bloom is not None:
            if bloom.n_items + n_fresh > bloom.capacity:
                # growth ate the sizing margin: refit from the grown
                # snapshot with fresh 2x headroom (amortized — happens
                # once per capacity doubling, like a dynamic array)
                grown_keys = self.spark.read.parquet(
                    output_path + "_snapshot")
                n_grown = grown_keys.select("key").distinct().count()
                bloom = dedup.BloomFilter.fit(grown_keys.select("key"), "key",
                                              fpp=bloom.fpp, n_items=n_grown,
                                              capacity=2 * n_grown)
                bloom_refit = True
            else:
                bloom.add_keys(dedup.content_keys(back).select("key"),
                               n_new=n_fresh)
            bloom.save(self.spark, output_path + "_snapshot_bloom")
        self.progress("publish", {"rows": n_fresh, "path": output_path})
        return [fresh], {"batch_rows": batch.count(),
                         "fresh_rows": n_fresh,
                         "bloom_loaded": bloom_loaded,
                         "bloom_refit": bloom_refit,
                         "snapshot_path_out":
                             output_path + "_snapshot",
                         "census_path_out":
                             output_path + "_snapshot_census"}

    def _run_passage_snapshot(self, plan: dict, cat: Catalog,
                              output_path: str) -> Result:
        """'build a passage snapshot of the corpus (windows of 50
        tokens)': persist the documents table's distinct window
        hashes (:func:`operators.dedup.save_window_snapshot` —
        whash-sorted parquet + window-geometry sidecar) — the build
        face of the passage_probe target, completing the
        build/probe/grow lifecycle for ExactSubstr exactly as the
        band snapshot does for MinHash."""
        docs = cat.documents
        n_in = _nonempty_count(docs, "documents")
        report = dedup.save_window_snapshot(docs, output_path,
                                            w=plan["window"])
        self.progress("publish", {"rows": report["n_windows"],
                                  "path": output_path})
        return [], {"docs_in": n_in,
                    **report}

    def _run_passage_probe(self, plan: dict, cat: Catalog,
                           output_path: str) -> Result:
        """'flag duplicated passages against the passage snapshot at
        /path': continuous-ingest ExactSubstr — which passages of
        the batch already exist in the seen corpus
        (:func:`operators.dedup.incremental_substring_spans`:
        batch-cost broadcast-prune probe of the whash-sorted store,
        within-batch duplicates included). '... and update the
        snapshot' APPENDS the batch's fresh window hashes — the
        epoch-grow step. The probe tokenizes with the SNAPSHOT's own
        window size from the geometry sidecar. Rejects a missing or
        unreadable snapshot path with an actionable reason."""
        snap = plan["snapshot_path"].rstrip("/")
        with _rejects(f"no passage snapshot readable at "
                      f"{plan['snapshot_path']}"):
            self.spark.read.parquet(snap + "_meta").first()["w"]
        batch = cat.documents
        spans, fresh = dedup.incremental_substring_spans(
            batch, self.spark, snap)
        stats = self._stats(self._sink(spans, output_path), "id")
        n_spans, n_docs = stats["rows"], stats["id"]
        n_fresh = fresh.count()
        if plan.get("update"):
            fresh.write.mode("append").parquet(snap)
        self.progress("publish", {"rows": n_spans,
                                  "path": output_path})
        return [spans], {"spans_flagged": n_spans,
                         "docs_affected": n_docs,
                         "fresh_windows": n_fresh,
                         "snapshot_updated":
                             bool(plan.get("update"))}

    def _run_embed_documents(self, plan: dict, cat: Catalog,
                             output_path: str) -> Result:
        """'embed the documents, 128 dimensions': deterministic
        hashed random-projection embeddings
        (:func:`operators.similarity.hash_embed`) written
        embeddings-table-shaped (vec_id, embedding) — write to
        ``<dir>/embeddings.parquet`` and every dense target (ann
        index build/search, semantic dedup, clustering, hybrid
        search) chains off the output dir with no external encoder.
        The report carries the dim and a norm sanity check."""
        docs = cat.documents
        emb = (similarity.hash_embed(docs, dim=plan["dim"])
               .select(F.col("id").alias("vec_id"), "embedding"))
        self.progress("embed", {"params": dict(plan)})
        sq = F.aggregate(F.col("embedding").cast("array<double>"),
                         F.lit(0.0), lambda a, x: a + x * x)
        stats = self._stats(self._sink(emb, output_path),
                            mean_sq=F.round(F.avg(sq), 4))
        n = stats["rows"]
        self.progress("publish", {"rows": n, "path": output_path})
        return [emb], {"n_vectors": n,
                       "dim": plan["dim"],
                       "mean_sq_norm": stats["mean_sq"]}

    def _run_bin_pack(self, plan: dict, cat: Catalog,
                      output_path: str) -> Result:
        """'bin pack the corpus into bins of 1024 tokens without
        truncation': truncation-free FFD packing
        (:func:`operators.packing.bin_pack_documents` — every doc
        whole, no bin over budget, oversize docs isolated and
        counted). The assignment lands at the sink; the report
        carries the per-bucket efficiency stats (bins vs the
        oversize-aware lower bound, waste fraction) — the number the
        FFD trade is judged by."""
        docs = cat.documents
        n_docs = docs.count()
        nb = plan["n_buckets"] or derive_n_buckets(n_docs)
        packed = packing.bin_pack_documents(docs, budget=plan["budget"],
                                            n_buckets=nb)
        self.progress("bin_pack", {"params": dict(plan),
                                   "n_buckets": nb})
        back = self._sink(packed, output_path)
        stats = [r.asDict() for r in
                 packing.bin_pack_stats(back, plan["budget"])
                 .orderBy("bucket").collect()]
        total_bins = sum(s["bins_used"] for s in stats)
        self.progress("publish", {"rows": back.count(),
                                  "path": output_path})
        return [packed], {"n_docs": n_docs,
                          "n_buckets": nb,
                          "total_bins": total_bins,
                          "oversize_docs": sum(
                              s["oversize_docs"] for s in stats),
                          "bucket_stats": stats}

    def _run_license_scan(self, plan: dict, cat: Catalog,
                          output_path: str) -> Result:
        """'license audit the corpus' / 'scan the corpus for
        licenses, dropping copyleft and restricted documents':
        corpus-governance scan (:func:`operators.text.license_scan`
        — per-doc marker flags + most-restrictive class, one scan,
        zero shuffles). Without a drop list the flag table lands at
        the sink; with one, the KEPT documents land instead and the
        flag pass rides the same scan. Per-class counts inline in
        the report either way."""
        docs = cat.documents
        flags = text.license_scan(docs)
        counts = _counts(flags, "license_class")
        if plan["drop"]:
            kept = docs.filter(
                ~text.license_class(F.col("text")).isin(plan["drop"]))
            out_frame = kept
        else:
            out_frame = flags
        self.progress("license_scan", {"params": dict(plan),
                                       "class_counts": counts})
        n_out = self._sink(out_frame, output_path).count()
        self.progress("publish", {"rows": n_out,
                                  "path": output_path})
        return [out_frame], {"class_counts": counts,
                             "rows_out": n_out,
                             "dropped_classes": plan["drop"]}

    def _run_compact_store(self, plan: dict, cat: Catalog,
                           output_path: str) -> Result:
        """'compact the snapshot at /path': rewrite an append-grown
        store (band/passage/hamming/key snapshots — N epochs of
        parquet appends = N small file batches, the classic
        small-file problem) through
        :func:`sources.sinks.compact_snapshot` into the run's output
        — never in place. Key/sort columns infer from the store's
        own schema: (band, key) for hamming stores, (whash) for
        passage stores, (band, id) for MinHash band tables, (key)
        for content-key snapshots, else every column. The report
        carries files before/after and the deduped row count."""
        from dynamic_etl_pipeline_thesis_ii_spark.sources import sinks

        with _rejects(f"no store readable at {plan['store_path']}"):
            cols = self.spark.read.parquet(
                plan["store_path"]).columns
        if {"band", "key"} <= set(cols):
            key_cols = ["band", "key"]
        elif "whash" in cols:
            key_cols = ["whash"]
        elif "band" in cols and "id" in cols:
            key_cols = ["band", "id"]
        elif "key" in cols:
            key_cols = ["key"]
        else:
            key_cols = list(cols)
        report = sinks.compact_snapshot(self.spark, plan["store_path"],
                                        output_path, key_cols)
        self.progress("publish", {"rows": report["rows"],
                                  "path": output_path})
        return [], {"key_cols": key_cols, **report}

    def _run_link_graph_build(self, plan: dict, cat: Catalog,
                              output_path: str) -> Result:
        """'build the link graph from the crawl at /path': WARC
        responses -> href extraction -> distinct (src, dst)
        registered-domain edges at the sink
        (:func:`operators.web.page_link_edges` over the RAW page
        HTML, before any text rendering) — the front half of the
        crawl -> graph -> rank -> weight pipeline; point a follow-up
        'rank the domains by the link graph at <output>' at the
        result. Rejects a missing/unreadable crawl path."""
        from dynamic_etl_pipeline_thesis_ii_spark.sources import warc

        with _rejects(f"no crawl readable at {plan['crawl_path']}"):
            recs = warc.read_warc(self.spark, plan["crawl_path"])
            recs.schema     # force the source to resolve
        pages = (recs.filter((F.col("warc_type") == "response")
                             & (F.col("http_status") == 200)
                             & F.col("http_content_type")
                             .contains("html")
                             & F.col("text").isNotNull())
                 .select(F.col("target_uri").alias("url"),
                         F.col("text").alias("html")))
        n_pages = pages.count()
        edges = web.page_link_edges(pages)
        self.progress("link_graph", {"params": dict(plan),
                                     "pages": n_pages})
        # both ends of every edge as one column: its distinct count
        # is the domain count, its row count twice the edge count
        ends = self._sink(edges, output_path).select(
            F.explode(F.array("src", "dst")).alias("d"))
        stats = self._stats(ends, "d")
        n_edges, n_domains = stats["rows"] // 2, stats["d"]
        self.progress("publish", {"rows": n_edges,
                                  "path": output_path})
        return [edges], {"n_pages": n_pages,
                         "n_edges": n_edges,
                         "n_domains": n_domains}

    def _run_domain_rank(self, plan: dict, cat: Catalog,
                         output_path: str) -> Result:
        """'rank the domains by the link graph at /path, 10
        iterations': PageRank over a persisted (src, dst) domain
        edge table (:func:`operators.web.domain_pagerank`) — the
        crawl-curation quality prior (CommonCrawl-style domain
        ranking; join the ranks onto pages by registered domain to
        weight or filter). The ranked table lands at the sink; the
        report inlines the top-10 domains. Rejects a missing path or
        a parquet without (src, dst) columns with an actionable
        reason."""
        with _rejects(f"no link graph readable at {plan['edges_path']}"):
            edges = self.spark.read.parquet(plan["edges_path"])
            if not {"src", "dst"} <= set(edges.columns):
                raise ValueError(
                    f"expected (src, dst) columns, found "
                    f"{edges.columns}")
        if plan.get("method") == "harmonic":
            ranks = web.domain_harmonic(edges.select("src", "dst"),
                                        max_radius=plan["n_iter"])
            score = "harmonic"
        else:
            ranks = web.domain_pagerank(edges.select("src", "dst"),
                                        n_iter=plan["n_iter"])
            score = "rank"
        self.progress("domain_rank", {"params": dict(plan)})
        back = self._sink(ranks, output_path)
        n = back.count()
        # mirrored report shape across both methods — (domain, score,
        # in_degree) — so users can compare the two rankings from one
        # target. PageRank's output carries in_degree already; the
        # harmonic arm looks it up for just the top rows (one groupBy
        # over the edges filtered to <= 10 domains — never the graph).
        top_rows = back.orderBy(F.col(score).desc(),
                                F.col("domain")).take(10)
        if score == "harmonic":
            doms = [r["domain"] for r in top_rows]
            indeg = _counts(edges.filter(F.col("dst").isin(doms)), "dst")
        else:
            indeg = {r["domain"]: r["in_degree"] for r in top_rows}
        top = [{"domain": r["domain"], "score": r[score],
                "in_degree": indeg.get(r["domain"], 0)} for r in top_rows]
        self.progress("publish", {"rows": n, "path": output_path})
        return [ranks], {"n_domains": n,
                         "method": plan.get("method", "pagerank"),
                         "top_domains": top}

    def _run_substring_dedup(self, plan: dict, cat: Catalog,
                             output_path: str) -> Result:
        """'remove duplicated passages across the corpus (windows of
        50 tokens)': cross-document ExactSubstr dedup (D18 —
        :func:`operators.dedup.exact_substring_dedup`): every token
        run of >= w tokens that repeats anywhere in the corpus keeps
        its first occurrence and is cut everywhere else. The cleaned
        corpus (id, text, n_removed) lands at the sink; the report
        counts flagged spans, affected documents and removed tokens.
        'flag' / 'find' phrasings report the span table itself
        without rewriting the corpus."""
        docs = cat.documents
        w = plan["window"]
        spans = dedup.substring_duplicate_spans(docs, w=w)
        return self._publish_spans(
            plan, spans, lambda: dedup.exact_substring_dedup(docs, w=w),
            "substring_dedup", output_path)

    def _publish_spans(self, plan: dict, spans: DataFrame,
                       cut: Callable[[], DataFrame], stage: str,
                       output_path: str) -> Result:
        """Shared tail of the span-cutting targets: 'flag'/'find'
        phrasings publish the span table itself; otherwise ``cut()``
        builds the rewritten corpus, which lands with its affected-doc
        and removed-token counts."""
        if plan.get("flag_only"):
            stats = self._stats(self._sink(spans, output_path), "id")
            self.progress("publish", {"rows": stats["rows"],
                                      "path": output_path})
            return [spans], {"spans_flagged": stats["rows"],
                             "docs_affected": stats["id"]}
        cleaned = cut()
        self.progress(stage, {"params": dict(plan)})
        agg = self._stats(
            self._sink(cleaned, output_path),
            affected=F.sum(F.when(F.col("n_removed") > 0, 1).otherwise(0)),
            removed=F.sum("n_removed"))
        self.progress("publish", {"rows": agg["rows"],
                                  "path": output_path})
        return [cleaned], {"docs_out": agg["rows"],
                           "docs_affected": int(agg["affected"] or 0),
                           "tokens_removed": int(agg["removed"] or 0)}

    @staticmethod
    def _media(cat: Catalog) -> DataFrame:
        """The source dir's optional ``media`` table; a dir without a
        readable media parquet rejects, naming the read error."""
        with _rejects(f"no media table readable at "
                      f"{cat.sf_dir}/media.parquet"):
            media = cat.media
            media.schema      # force the read to resolve
            return media

    def _run_media_dedup(self, plan: dict, cat: Catalog,
                         output_path: str) -> Result:
        """'dedup the images' / 'dedup the audio clips': perceptual
        near-dup dedup over the source dir's ``media`` table — dHash
        (images) or aHash (audio) fingerprints (one Arrow payload
        scan) paired through Manku hamming banding, connected
        components, lowest media_id kept per cluster. Kept rows land
        at the sink; the corpus' BANDED fingerprint snapshot + band
        geometry land at ``<output>_snapshot``
        (``dedup.save_hamming_snapshot`` — range-partitioned on
        (band, key) so stream/batch probes prune on footer stats),
        closing the build half of the media lifecycle the Bloom (D11)
        and ANN-index (N9) stores already have: later batches probe
        at batch cost via the probe target. Hot-bucket cap telemetry
        (``dedup.bucket_cap_stats``) rides the report — the engine's
        no-silent-caps discipline on its hottest knob."""
        from dynamic_etl_pipeline_thesis_ii_spark.operators import multimodal

        modality = plan.get("modality", "image")
        fingerprint = {"image": multimodal.image_dhash,
                       "audio": multimodal.audio_ahash,
                       "video": multimodal.video_vhash}[modality]
        dec_key = {"image": "images_decodable",
                   "audio": "clips_decodable",
                   "video": "videos_decodable"}[modality]
        media = self._media(cat)
        n_in = _nonempty_count(media, "media")
        mh, nb = plan["max_hamming"], plan["n_blocks"]
        # fingerprint ONCE (the payload decode dominates this target's
        # cost) and share the frame between the pair join, the kept-row
        # anti-join and the persisted snapshot
        fps = persist_scoped(fingerprint(media))
        n_decodable = fps.count()
        cap: dict = {}
        pairs = dedup.hamming_band_pairs(fps, max_hamming=mh, n_blocks=nb,
                                         cap_report=cap,
                                         hot_policy=plan.get("hot_policy",
                                                             "drop"))
        kept = dedup.dedup_by_components(media, pairs, id_col="media_id")
        self.progress("media_dedup", {"params": dict(plan),
                                      "decodable": n_decodable,
                                      "cap": cap})
        n_kept = self._sink(kept, output_path).count()
        snap = output_path + "_snapshot"
        # represent mode: over-cap buckets keep their min-id member so
        # the PERSISTED snapshot stays probe-able under duplicate
        # floods (a later flood copy flags against the representative
        # instead of silently missing) while staying |corpus|-bounded
        dedup.save_hamming_snapshot(
            dedup.hamming_band_keys(fps, max_hamming=mh, n_blocks=nb,
                                    cap_mode="represent"),
            snap, max_hamming=mh, n_blocks=nb)
        self.progress("publish", {"rows": n_kept, "path": output_path})
        return [kept], {"rows_in": n_in,
                        dec_key: n_decodable,
                        "rows_kept": n_kept,
                        "cap_telemetry": cap,
                        "snapshot_path_out": snap}

    def _run_media_probe(self, plan: dict, cat: Catalog,
                         output_path: str) -> Result:
        """'flag the new images|audio against the snapshot at /path':
        the batch half of the media lifecycle — fingerprint the source
        dir's media table and probe the persisted hamming snapshot
        (``dedup.incremental_hamming_pairs``: band the batch with the
        snapshot's OWN geometry from its meta sidecar, broadcast-prune
        the snapshot to the batch's probe keys, equi-join, verify
        exact hamming). Cost scales with the batch, never the corpus.
        Flag pairs ``(id_new, id_seen, hamming)`` land at the sink;
        the report carries batch/decodable/flagged counts plus the
        geometry actually used. '... and update the snapshot'
        additionally APPENDS the batch's fresh fingerprints to the
        store (epoch grow at batch cost — the image twin of the
        Bloom add_keys / ANN-index append steps)."""
        from dynamic_etl_pipeline_thesis_ii_spark.operators import multimodal

        modality = plan.get("modality", "image")
        fingerprint = {"image": multimodal.image_dhash,
                       "audio": multimodal.audio_ahash,
                       "video": multimodal.video_vhash}[modality]
        noun = {"image": "images", "audio": "clips",
                "video": "videos"}[modality]
        with _rejects(f"no loadable hamming snapshot at "
                      f"{plan['snapshot_path']}"):
            banded, geom = dedup.load_hamming_snapshot(
                self.spark, plan["snapshot_path"])
        media = self._media(cat)
        n_in = media.count()
        fps = persist_scoped(fingerprint(media))
        n_decodable = fps.count()
        pairs = dedup.incremental_hamming_pairs(fps, banded, **geom)
        self.progress("media_probe", {"params": dict(plan),
                                      "decodable": n_decodable,
                                      "geometry": geom})
        back = self._sink(pairs, output_path)
        stats = self._stats(back, "id_new")
        n_pairs, n_flagged = stats["rows"], stats["id_new"]
        reports = {"batch_rows": n_in,
                   f"{noun}_decodable": n_decodable,
                   "flag_pairs": n_pairs,
                   f"{noun}_flagged": n_flagged,
                   "geometry": geom}
        if plan.get("update"):
            # epoch grow: append the batch's FRESH fingerprints (not
            # flagged against the store, then within-batch-deduped so
            # two new copies enter once) as band rows in the store's
            # own geometry. Parquet append only adds files through the
            # commit protocol — a failed job leaves the store intact —
            # and the new files get the same range-partitioned/sorted
            # layout so footer-stat pruning covers them too.
            n_before = banded.count()
            fresh = fps.join(back.select(F.col("id_new").alias("id"))
                             .distinct(), "id", "left_anti")
            drop = (dedup.min_label_components(
                        dedup.hamming_band_pairs(fresh, **geom))
                    .filter(F.col("id") != F.col("comp")).select("id"))
            keep = fresh.join(drop, "id", "left_anti")
            new_banded = dedup.hamming_band_keys(keep, **geom)
            (new_banded.repartitionByRange("band", "key")
             .sortWithinPartitions("band", "key")
             .write.mode("append").parquet(plan["snapshot_path"]))
            n_after = self.spark.read.parquet(
                plan["snapshot_path"]).count()
            n_appended = keep.count()
            self.progress("grow_snapshot",
                          {"appended": n_appended,
                           "rows_after": n_after})
            reports.update({"snapshot_rows_before": n_before,
                            "snapshot_rows_after": n_after,
                            f"{noun}_appended": n_appended})
        self.progress("publish", {"rows": n_pairs, "path": output_path})
        return [pairs], reports

    def _run_containment(self, plan: dict, cat: Catalog,
                         output_path: str) -> Result:
        """'find videos containing clips of each other' / 'audio
        containment': sub-clip matching over the media table —
        per-frame dHash rows (video) or onset-anchored window aHashes
        (audio) packed into 64-bit ids, paired through the shared
        Manku banding, rolled up per item pair on the per-side
        distinct-match count. Pairs land at the sink; the PACKED
        frame-hash band snapshot + geometry land at
        ``<output>_snapshot`` (represent mode — flood-proof), so
        later batches probe for CONTAINED known content at batch cost
        via the containment_probe target. Cap telemetry rides the
        report."""
        from dynamic_etl_pipeline_thesis_ii_spark.operators import multimodal

        modality = plan.get("modality", "video")
        hashes_fn = (multimodal.video_frame_hashes if modality == "video"
                     else multimodal.audio_window_hashes)
        shared_col = ("shared_frames" if modality == "video"
                      else "shared_windows")
        media = self._media(cat)
        n_in = _nonempty_count(media, "media")
        mh, nb = plan["max_hamming"], plan["n_blocks"]
        # hash ONCE (the payload decode dominates) and share the frame
        # between the pair rollup and the persisted snapshot
        fh = hashes_fn(media)
        idx_col = fh.columns[1]
        fh = persist_scoped(fh.withColumnRenamed(idx_col, "idx"))
        n_rows = fh.count()
        n_decodable = fh.select("id").distinct().count()
        cap: dict = {}
        pairs = multimodal._containment_rollup(
            fh, plan["min_shared"], shared_col, max_hamming=mh,
            n_blocks=nb, cap_report=cap,
            hot_policy=plan.get("hot_policy", "drop"))
        self.progress("containment", {"params": dict(plan),
                                      "decodable": n_decodable,
                                      "cap": cap})
        n_pairs = self._sink(pairs, output_path).count()
        snap = output_path + "_snapshot"
        packed = fh.select(
            (F.col("id") * 4096 + F.col("idx")).alias("id"), "sim")
        dedup.save_hamming_snapshot(
            dedup.hamming_band_keys(packed, max_hamming=mh, n_blocks=nb,
                                    cap_mode="represent"),
            snap, max_hamming=mh, n_blocks=nb)
        self.progress("publish", {"rows": n_pairs, "path": output_path})
        return [pairs], {"rows_in": n_in,
                         "items_decodable": n_decodable,
                         "subitem_rows": n_rows,
                         "containment_pairs": n_pairs,
                         "cap_telemetry": cap,
                         "snapshot_path_out": snap}

    def _run_containment_probe(self, plan: dict, cat: Catalog,
                               output_path: str) -> Result:
        """'flag the new videos sharing frames with the snapshot at
        /p': the batch half of the containment lifecycle — hash the
        batch's sub-items, probe the persisted PACKED band snapshot
        (broadcast-pruned, batch cost) and roll matches up per item
        pair (``multimodal.incremental_containment_pairs``). '... and
        update the snapshot' appends the batch's fresh packed hashes
        — items NOT flagged against the store and not contained
        within the batch — the epoch-grow step."""
        from dynamic_etl_pipeline_thesis_ii_spark.operators import multimodal

        modality = plan.get("modality", "video")
        hashes_fn = (multimodal.video_frame_hashes if modality == "video"
                     else multimodal.audio_window_hashes)
        shared_col = ("shared_frames" if modality == "video"
                      else "shared_windows")
        noun = "videos" if modality == "video" else "clips"
        if not plan.get("snapshot_path"):
            raise Rejected(f"{modality} containment probe needs a "
                           "snapshot path ('... sharing frames "
                           "with the snapshot at /path')")
        with _rejects(f"no loadable hamming snapshot at "
                      f"{plan['snapshot_path']}"):
            banded, geom = dedup.load_hamming_snapshot(
                self.spark, plan["snapshot_path"])
        media = self._media(cat)
        n_in = media.count()
        fh = hashes_fn(media)
        fh = persist_scoped(fh.withColumnRenamed(fh.columns[1], "idx"))
        n_decodable = fh.select("id").distinct().count()
        pairs = multimodal.incremental_containment_pairs(
            fh, banded, min_shared=plan["min_shared"],
            shared_col=shared_col, **geom)
        self.progress("containment_probe",
                      {"params": dict(plan),
                       "decodable": n_decodable, "geometry": geom})
        back = self._sink(pairs, output_path)
        stats = self._stats(back, "id_new")
        n_pairs, n_flagged = stats["rows"], stats["id_new"]
        reports = {"batch_rows": n_in,
                   f"{noun}_decodable": n_decodable,
                   "containment_pairs": n_pairs,
                   f"{noun}_flagged": n_flagged,
                   "geometry": geom}
        if plan.get("update"):
            # epoch grow: append packed hashes of items neither
            # flagged against the store nor contained within the
            # batch, banded in the store's own geometry with the
            # same range-partitioned layout
            n_before = banded.count()
            fresh = fh.join(back.select(F.col("id_new").alias("id"))
                            .distinct(), "id", "left_anti")
            within = multimodal._containment_rollup(
                fresh, plan["min_shared"], shared_col,
                max_hamming=geom["max_hamming"],
                n_blocks=geom["n_blocks"])
            keep = fresh.join(within.select(F.col("id_b").alias("id"))
                              .distinct(), "id", "left_anti")
            packed = keep.select(
                (F.col("id") * 4096 + F.col("idx")).alias("id"), "sim")
            new_banded = dedup.hamming_band_keys(packed, **geom,
                                                 cap_mode="represent")
            (new_banded.repartitionByRange("band", "key")
             .sortWithinPartitions("band", "key")
             .write.mode("append").parquet(plan["snapshot_path"]))
            n_after = self.spark.read.parquet(
                plan["snapshot_path"]).count()
            n_appended = keep.select("id").distinct().count()
            reports.update({"snapshot_rows_before": n_before,
                            "snapshot_rows_after": n_after,
                            f"{noun}_appended": n_appended})
        self.progress("publish", {"rows": n_pairs, "path": output_path})
        return [pairs], reports

    def _run_band_snapshot(self, plan: dict, cat: Catalog,
                           output_path: str) -> Result:
        """'build a near-dup band snapshot of the corpus': persist the
        MinHash band table of the documents table at the sink — the
        build face of the neardup_probe target (the text twin of the
        media_dedup snapshot save). The layout is range-partitioned on
        (band, slice-hash) semantics via ``compact_snapshot``'s
        discipline: we range-partition + sort on (band) and rely on
        the probe's broadcast semi-join for pruning (slices are
        arrays — parquet min/max stats don't apply to them, which is
        why the probe path prunes by semi-join, not footer stats)."""
        docs = cat.documents
        n_in = _nonempty_count(docs, "documents")
        # 'at similarity 0.8' derives the banding geometry from the
        # advisor's S-curve fit instead of the default 16x4; later
        # probes infer the geometry from the snapshot's own rows
        # (band_table_geometry), so no sidecar is needed
        geo_kw, band_plan = {}, None
        if plan.get("threshold"):
            band_plan = dedup.minhash_band_plan(plan["threshold"])
            geo_kw = {"n_hashes": band_plan["n_hashes"],
                      "bands": band_plan["bands"]}
        # represent mode: a boilerplate flood stores one row per band
        # (flood-proof snapshot — probes/streams still collide with
        # the representative, fan-out stays cap-bounded)
        bands = dedup.minhash_band_keys(docs, max_bucket=2000,
                                        cap_mode="represent", **geo_kw)
        (bands.repartitionByRange("band", "id")
         .sortWithinPartitions("band", "id")
         .write.mode("overwrite").parquet(output_path))
        n_rows = self.spark.read.parquet(output_path).count()
        self.progress("publish", {"rows": n_rows, "path": output_path})
        reports = {"docs_in": n_in,
                   "band_rows": n_rows}
        if band_plan is not None:
            reports["band_plan"] = band_plan
        return [bands], reports

    def _run_neardup_probe(self, plan: dict, cat: Catalog,
                           output_path: str) -> Result:
        """'flag near-duplicate documents against the band snapshot at
        /path': the TEXT near-dup face of the media probes — band the
        source dir's documents with the MinHash LSH parameters and
        probe the persisted band table
        (``dedup.incremental_neardup_pairs``: broadcast-prune the
        snapshot to the batch's probe keys, equi-join — batch cost,
        never corpus). Flag pairs ``(id_new, id_seen)`` land at the
        sink; hot-bucket cap telemetry rides the report and
        'recovering hot buckets' opts into the star policy (a batch
        doc probing an over-cap flood bucket flags against the
        bucket's min-id representative instead of sailing through).
        '... and update the snapshot' appends the batch's fresh
        (unflagged, within-batch-deduped) band keys — the text twin
        of the media epoch-grow step."""
        with _rejects(f"no loadable band snapshot at "
                      f"{plan['snapshot_path']}"):
            bands = self.spark.read.parquet(plan["snapshot_path"])
            if not {"id", "band", "slice"} <= set(bands.columns):
                raise ValueError(
                    f"not a band table (columns {bands.columns})")
        batch = cat.documents
        n_in = batch.count()
        cap: dict = {}
        # band the batch with the SNAPSHOT's own geometry (inferred
        # from its rows) — a threshold-tuned snapshot probes
        # correctly, and a mismatched banding would silently collide
        # with nothing
        n_bands, n_hashes = dedup.band_table_geometry(bands)
        pairs = dedup.incremental_neardup_pairs(
            batch, bands, n_hashes=n_hashes, bands=n_bands,
            cap_report=cap,
            hot_policy=plan.get("hot_policy", "drop"))
        self.progress("neardup_probe", {"params": dict(plan),
                                        "cap": cap})
        back = self._sink(pairs, output_path)
        stats = self._stats(back, "id_new")
        n_pairs, n_flagged = stats["rows"], stats["id_new"]
        reports = {"batch_rows": n_in,
                   "flag_pairs": n_pairs, "docs_flagged": n_flagged,
                   "cap_telemetry": cap}
        if plan.get("update"):
            n_before = bands.count()
            fresh = (dedup.dedup_exact(batch)
                     .join(back.select(F.col("id_new").alias("doc_id"))
                           .distinct(), "doc_id", "left_anti"))
            # append with the snapshot's geometry, not the default —
            # a tuned store must grow homogeneous
            new_bands = dedup.minhash_band_keys(fresh, n_hashes=n_hashes,
                                                bands=n_bands)
            new_bands.write.mode("append").parquet(
                plan["snapshot_path"])
            n_after = self.spark.read.parquet(
                plan["snapshot_path"]).count()
            n_appended = fresh.count()
            self.progress("grow_snapshot", {"appended": n_appended,
                                            "rows_after": n_after})
            reports.update({"snapshot_rows_before": n_before,
                            "snapshot_rows_after": n_after,
                            "docs_appended": n_appended})
        self.progress("publish", {"rows": n_pairs, "path": output_path})
        return [pairs], reports

    def _run_ingest_crawl(self, plan: dict, cat: Catalog,
                          output_path: str) -> Result:
        """'extract text from the crawl at /path': WARC file(s) ->
        one row per 200-OK textual response, with the rendered line
        structure from html_to_lines as ``text``. ``doc_id`` is the
        64-bit hash of the WARC record id (stable across re-runs and
        re-partitionings); url/fetched_at/content_type ride along for
        URL curation and snapshotting, and the documents-table
        columns are all present — ``lang`` (stopword heuristic;
        retrain with `train_lang_ngrams` for production) and
        ``source`` (the registered domain) — so pointing a follow-up
        dataops query's source_dir at the output directory chains
        crawl -> curate -> select -> pack -> shard end to end (write
        to ``<dir>/documents.parquet``)."""
        from dynamic_etl_pipeline_thesis_ii_spark.sources import warc

        recs = warc.read_warc(self.spark, plan["crawl_path"])
        frame = (recs.filter((F.col("warc_type") == "response")
                             & (F.col("http_status") == 200)
                             & F.col("text").isNotNull())
                 .select(F.xxhash64("record_id").alias("doc_id"),
                         F.col("target_uri").alias("url"),
                         F.col("warc_date").alias("fetched_at"),
                         F.col("http_content_type").alias("content_type"),
                         F.when(F.col("http_content_type")
                                .contains("html"),
                                text.html_to_lines(F.col("text")))
                         .otherwise(F.col("text")).alias("text"))
                 .withColumn("n_chars", F.length("text"))
                 .withColumn("lang", text.lang_id(F.col("text")))
                 .withColumn("source", web.registered_domain(
                     web.url_host(F.col("url")))))
        self.progress("ingest", {"params": dict(plan)})
        return self._publish(frame, output_path, "rows")

    def _run_ingest_archives(self, plan: dict, cat: Catalog,
                             output_path: str) -> Result:
        """'extract text from the zip at /path' / 'ingest the tarball
        at /path': archives explode into one row per text-bearing
        member (txt/html/pdf/json tiers applied per kind by the
        kernel — html members render through html_to_lines like the
        crawl door), documents-shaped at the sink. Binary members and
        size/count-capped skips are counted in the report, never
        silently dropped. ``doc_id`` hashes archive#member (stable
        across re-runs); ``source`` is the archive file name, so a
        multi-archive corpus keeps its provenance through curation."""
        from dynamic_etl_pipeline_thesis_ii_spark.sources import archives

        rows = archives.read_archives(self.spark, plan["archive_path"])
        summaries = rows.filter(F.col("kind") == "__archive__")
        stats = summaries.agg(
            F.count(F.lit(1)).alias("archives"),
            F.coalesce(F.sum("n_bytes"), F.lit(0)).alias("members"),
            F.coalesce(F.sum("skipped"), F.lit(0)).alias("skipped")
        ).first()
        frame = (rows.filter((F.col("kind") != "__archive__")
                             & F.col("text").isNotNull())
                 .select(
                     F.xxhash64(F.concat_ws("#", "archive", "member"))
                     .alias("doc_id"),
                     F.concat_ws("#", "archive", "member").alias("url"),
                     F.col("kind"),
                     F.element_at(F.split(F.col("archive"), "/"), -1)
                     .alias("source"),
                     F.when(F.col("kind") == "html",
                            text.html_to_lines(F.col("text")))
                     .otherwise(F.col("text")).alias("text"))
                 .withColumn("n_chars", F.length("text"))
                 .withColumn("lang", text.lang_id(F.col("text"))))
        self.progress("ingest", {"params": dict(plan)})
        return self._publish(frame, output_path, "rows_written",
                             archives_seen=stats["archives"],
                             members_seen=int(stats["members"]),
                             members_skipped=int(stats["skipped"]))

    def _run_ingest_pdfs(self, plan: dict, cat: Catalog,
                         output_path: str) -> Result:
        """'extract text from the pdfs at /path': PDF file(s) -> one
        row per file with extractable text (files with no text tier —
        encrypted, image-only, unsupported codecs — are counted in
        the report, not silently dropped into the corpus as empties).
        ``doc_id`` is the 64-bit hash of the file path (stable across
        re-runs); the documents-table columns are all present (lang
        via the stopword heuristic, source = the file's directory
        name) so a follow-up dataops query chains pdfs -> curate ->
        select -> pack -> shard exactly like the crawl front door."""
        from dynamic_etl_pipeline_thesis_ii_spark.sources import pdf

        rows = pdf.read_pdfs(self.spark, plan["pdf_path"])
        n_total = rows.count()
        frame = (rows.filter(F.col("text").isNotNull())
                 .select(F.xxhash64("path").alias("doc_id"),
                         F.col("path").alias("url"),
                         F.col("n_pages"),
                         F.col("text"))
                 .withColumn("n_chars", F.length("text"))
                 .withColumn("lang", text.lang_id(F.col("text")))
                 .withColumn("source", F.element_at(
                     F.split(F.col("url"), "/"), -2)))
        self.progress("ingest", {"params": dict(plan)})
        n = self._sink(frame, output_path).count()
        self.progress("publish", {"rows": n, "path": output_path})
        return [frame], {"files_seen": n_total,
                         "rows_written": n,
                         "files_without_text": n_total - n}

    def _run_corpus_diff(self, plan: dict, cat: Catalog,
                         output_path: str) -> Result:
        """'diff ... against the snapshot at <path>': the CURRENT
        corpus (source_dir's documents table) vs a prior snapshot
        parquet of the same (doc_id, text) shape -> (doc_id, status)
        written to the sink plus a per-status count report. The diff
        itself is :func:`operators.dedup.corpus_diff` — only ids and
        32-bit content keys enter the shuffle."""
        old = self.spark.read.parquet(plan["snapshot_path"])
        new = cat.documents
        frame = dedup.corpus_diff(old, new)
        self.progress("diff", {"params": dict(plan)})
        frame.write.mode("overwrite").parquet(output_path)
        counts = _counts(self.spark.read.parquet(output_path),  # read-back
                         "status")
        self.progress("publish", {"rows": sum(counts.values()),
                                  "path": output_path})
        return [frame], {"diff_counts": counts}

    def _run_chunk_documents(self, plan: dict, cat: Catalog,
                             output_path: str) -> Result:
        """'chunk for RAG, size N stride M': scan-only overlapping
        chunking of the documents table -> (id, chunk_idx, chunk_text,
        n_tokens) parquet (:func:`operators.text.chunk_documents` —
        no shuffle; the 1->N expansion happens inside the write
        scan)."""
        docs = cat.documents
        frame = text.chunk_documents(docs, size=plan["size"],
                                     stride=plan["stride"])
        self.progress("chunk", {"params": dict(plan)})
        return self._publish(frame, output_path, "rows_written")

    def _run_classifier_train(self, plan: dict, cat: Catalog,
                              output_path: str) -> Result:
        """'train a quality classifier on the corpus and save it':
        gopher weak labels -> hashed-ngram logistic pipeline
        (Q7, ``operators/quality.py``), persisted with Spark ML's
        native writer at the output — the train-on-sample /
        score-everywhere artifact. The report carries the label
        balance and the model's training accuracy on its own weak
        labels (a sanity floor, not an eval)."""
        docs = cat.documents
        labeled = quality.weak_labels_from_gopher(docs)
        pos = labeled.agg(F.avg("label").alias("p")).first()["p"]
        if pos is None or pos in (0.0, 1.0):
            raise Rejected(f"weak labels are degenerate "
                           f"(positive rate {pos}) — a one-class "
                           f"corpus cannot train a classifier")
        self.progress("train_classifier", {"params": dict(plan),
                                           "positive_rate":
                                               round(pos, 4)})
        model = quality.train_quality_classifier(labeled)
        model.write().overwrite().save(output_path)
        scored = quality.score_quality(labeled, model).join(
            labeled.select(F.col("doc_id").alias("id"), "label"), "id")
        acc = scored.agg(F.avg(
            (((F.col("quality_prob") >= 0.5).cast("double"))
             == F.col("label")).cast("double")).alias("a")) \
            .first()["a"]
        self.progress("publish", {"path": output_path})
        return [], {"positive_rate": round(pos, 4),
                    "train_accuracy": round(acc, 4),
                    "model_path": output_path}

    def _run_classifier_score(self, plan: dict, cat: Catalog,
                              output_path: str) -> Result:
        """'score the corpus with the classifier at /path': reload
        the persisted Q7 model (Spark ML native loader) and write
        (id, quality_prob) per document — one scan, the
        score-everywhere half of the lifecycle. Rejects a missing or
        unloadable model path."""
        with _rejects(f"no classifier loadable at {plan['model_path']}"):
            from pyspark.ml import PipelineModel
            model = PipelineModel.load(plan["model_path"])
        docs = cat.documents
        scores = quality.score_quality(docs, model)
        self.progress("score", {"params": dict(plan)})
        back = self._sink(scores, output_path)
        agg = back.agg(F.count(F.lit(1)).alias("n"),
                       F.round(F.avg("quality_prob"), 4)
                       .alias("mean")).first()
        self.progress("publish", {"rows": agg["n"],
                                  "path": output_path})
        return [scores], {"rows": agg["n"],
                          "mean_quality_prob": agg["mean"]}

    def _load_tokenizer_store(self, path: str):
        """Load a persisted tokenizer store, inferring its kind from
        its own columns (the tokenize_pack convention). Returns
        ``(kind, kw)`` where kw feeds straight into
        :func:`operators.bpe.tokenizer_stats`; raises on an
        unreadable/unrecognized store — callers turn that into their
        own actionable rejection."""
        store = self.spark.read.parquet(path)
        cols = set(store.columns)
        if {"rank", "a", "b"} <= cols:
            return "bpe", {"merges": [(r["a"], r["b"]) for r in
                                      store.orderBy("rank").collect()]}
        if {"rank", "piece", "logprob"} <= cols:
            return "unigram", {"pieces": [(r["piece"], r["logprob"])
                                          for r in
                                          store.orderBy("rank")
                                          .collect()]}
        raise ValueError(
            f"not a tokenizer store (columns {sorted(cols)} are neither "
            f"a BPE (rank,a,b) nor a unigram (rank,piece,logprob) store)")

    def _run_tokenizer_stats(self, plan: dict, cat: Catalog,
                             output_path: str) -> Result:
        """'report tokenizer stats with the tokenizer at /path': the
        artifact-validation telemetry — per-language fertility
        (subword tokens per word; a language far above the corpus
        average is being shredded into characters and will train
        poorly at the same sequence budget) and chars-per-token
        compression over the source dir's documents, from the
        persisted tokenizer store (kind inferred from its own
        columns, the tokenize_pack convention). The per-language
        table lands at the sink; the report inlines it (strata-
        bounded) plus the corpus-wide roll-up. One count-only Arrow
        pass + one strata-bounded aggregate."""
        with _rejects(f"no tokenizer readable at "
                      f"{plan['tokenizer_path']}"):
            kind, kw = self._load_tokenizer_store(plan["tokenizer_path"])
        docs = cat.documents
        # a source whose documents table carries no lang column still
        # gets the corpus-wide telemetry (the 'all' stratum) instead
        # of an uncaught AnalysisException
        lang_col = "lang" if "lang" in docs.columns else None
        per_lang = bpe.tokenizer_stats(docs, lang_col=lang_col, **kw)
        self.progress("tokenizer_stats", {"params": dict(plan),
                                          "kind": kind})
        back = self._sink(per_lang, output_path)
        rows = sorted((r.asDict() for r in back.collect()),
                      key=lambda r: r["lang"])
        tot_toks = sum(r["n_tokens"] for r in rows)
        tot_words = sum(r["n_words"] for r in rows)
        overall = {"n_docs": sum(r["n_docs"] for r in rows),
                   "fertility": round(tot_toks / tot_words, 4)
                   if tot_words else None}
        self.progress("publish", {"rows": len(rows),
                                  "path": output_path})
        return [per_lang], {"kind": kind,
                            "per_lang": rows, "overall": overall}

    def _run_tokenizer_train(self, plan: dict, cat: Catalog,
                             output_path: str) -> Result:
        """'train a bpe tokenizer on the corpus, 300 merges, and save
        it' / 'train a unigram tokenizer, vocab 500': the tokenizer
        is THE canonical train-once artifact — every downstream token
        id depends on it, so production trains once and reuses across
        epochs and corpora. The merge/piece table persists at the
        output (``bpe.save_bpe`` / ``unigram.save_unigram``); a later
        'tokenize the corpus with the tokenizer at /path and pack
        ...' loads it instead of retraining (bit-identical encoding,
        pinned in tests)."""
        docs = cat.documents
        self.progress("train_tokenizer", {"params": dict(plan)})
        if plan["model"] == "unigram":
            pieces = unigram.train_unigram(docs,
                                           vocab_size=max(plan["n_merges"],
                                                          64))
            report = unigram.save_unigram(self.spark, pieces, output_path)
        else:
            merges = bpe.train_bpe(docs, n_merges=plan["n_merges"])
            report = bpe.save_bpe(self.spark, merges, output_path)
        self.progress("publish", {"path": output_path, **report})
        return [], {**report,
                    "tokenizer_path": output_path}

    def _run_tokenize_pack(self, plan: dict, cat: Catalog,
                           output_path: str) -> Result:
        """'tokenize the corpus and pack 512-token sequences': train a
        BPE merge table on the corpus, encode straight to ids
        (``bpe.encode_ids``), concatenate-and-split into fixed-length
        ``input_ids`` rows (``packing.pack_sequences``) and land the
        trainer-ready parquet. 'with a unigram model' /
        'sentencepiece' swaps in the unigram-LM tokenizer
        (``operators/unigram.py``, TK3 — 'N merges' then budgets the
        piece vocabulary) behind the identical packing/report
        surface. The merge/piece table + vocab size go into the
        report — the reusable artifacts a production run persists
        beside the shards."""
        docs = cat.documents
        if plan["n_buckets"] is None:
            # corpus-derived (see derive_n_buckets): the one packing
            # shuffle's task count is n_buckets — a fixed default
            # idles a big cluster. Derived value goes into plan/report
            # since bucket count is part of the deterministic output
            # identity.
            plan["n_buckets"] = derive_n_buckets(docs.count())
        loaded: dict = {}
        if plan.get("tokenizer_path"):
            # the train-once reuse face: load the persisted artifact,
            # kind inferred from its own columns — never retrain
            with _rejects(f"no tokenizer readable at "
                          f"{plan['tokenizer_path']}"):
                plan["model"], loaded = self._load_tokenizer_store(
                    plan["tokenizer_path"])
        if plan.get("model") == "unigram":
            # TK3: the unigram-LM trainer behind the same target —
            # n_merges doubles as the piece-vocabulary budget
            pieces = (loaded["pieces"] if "pieces" in loaded
                      else unigram.train_unigram(
                          docs, vocab_size=max(plan["n_merges"], 64)))
            vocab = unigram.unigram_vocab(pieces)
            merges = pieces          # report carries the piece table size
            self.progress("tokenize", {"params": dict(plan),
                                       "vocab_size": len(vocab)})
            tok = unigram.apply_unigram(docs, pieces, ids=True)
        else:
            merges = (loaded["merges"] if "merges" in loaded
                      else bpe.train_bpe(docs, n_merges=plan["n_merges"]))
            vocab = bpe.bpe_vocab(merges)
            self.progress("tokenize", {"params": dict(plan),
                                       "vocab_size": len(vocab)})
            tok = bpe.encode_ids(docs, merges)
        # eos: the id just past the vocab is the reserved per-document
        # separator (trainers size the embedding at vocab_size + 1)
        eos_id = len(vocab) if plan.get("eos") else None
        frame = packing.pack_sequences(tok, plan["seq_len"],
                                       n_buckets=plan["n_buckets"],
                                       eos_id=eos_id)
        back = self._sink(frame, output_path)
        n_seq = back.count()
        self.progress("publish", {"rows": n_seq, "path": output_path})
        return [frame], {"vocab_size": len(vocab),
                         "eos_id": eos_id,
                         "n_merges": len(merges),
                         "n_sequences": n_seq,
                         "tokens_packed": n_seq * plan["seq_len"]}

    def _run_corpus_census(self, plan: dict, cat: Catalog,
                           output_path: str) -> Result:
        """'census the corpus' / 'report corpus statistics': the
        mergeable per-stratum census (:func:`operators.text.
        corpus_census`) over the documents table — the standalone
        face of the snapshot-store telemetry `_run_incremental_dedup`
        maintains per epoch. The report inlines the per-language doc
        counts (tiny) so a CLI/HTTP caller sees the headline numbers
        without reading the parquet. A 'histogram'/'distribution'
        mention additionally writes the power-of-two token-length
        histogram (:func:`operators.text.census_histogram` — same
        mergeable-sums contract) to ``<output>_hist`` and inlines the
        per-bucket doc counts."""
        docs = cat.documents
        frame = text.corpus_census(docs)
        self.progress("census", {"params": dict(plan)})
        # one row per stratum: collect the read-back once and derive
        # every report field from its rows
        rows = self._sink(frame, output_path).collect()
        langs = {r["stratum"]: r["n_docs"] for r in rows
                 if r["kind"] == "lang"}
        total = next((r for r in rows if r["kind"] == "__total__"), None)
        if total is None:
            # an empty corpus yields zero GROUPING SETS rows — reject
            # with a reason instead of a NoneType subscript crash
            # (matches the sibling targets' empty-corpus contract)
            raise Rejected("documents table is empty")
        reports = {"n_docs": total["n_docs"],
                   "n_tokens": total["n_tokens"],
                   "n_chars": total["n_chars"],
                   "docs_per_lang": langs}
        outputs = [frame]
        if plan.get("histogram"):
            hist = text.census_histogram(docs)
            hrows = self._sink(hist, output_path + "_hist").collect()
            reports["docs_per_length_bucket"] = {
                int(r["bucket"]): r["n_docs"] for r in hrows
                if r["kind"] == "__total__"}
            reports["histogram_path"] = output_path + "_hist"
            reports["length_quantiles_per_lang"] = text.histogram_quantiles(
                hrows, quantiles=(0.5, 0.9, 0.99), kind="lang")
            outputs.append(hist)
        if plan.get("distinct"):
            # HLL distinct-fingerprint census: n_docs vs distinct
            # CONTENT per stratum = the dup-rate telemetry exact sums
            # can't maintain incrementally (values repeat across
            # batches); sketches land beside the census so the next
            # epoch folds instead of re-scanning
            fp = docs.withColumn(
                "fp", dedup.hash32(dedup.normalize_text(
                    F.coalesce(F.col("text"), F.lit("")))))
            dcen = text.census_distinct(fp, "fp")
            db = self._sink(dcen, output_path + "_distinct")
            ests = {(r["kind"], r["stratum"]): (r["n_distinct"], r["n_rows"])
                    for r in text.estimate_distinct(db).collect()}
            reports["distinct_docs_per_lang"] = {
                s: round(v[0], 1) for (k, s), v in ests.items()
                if k == "lang"}
            tot = ests[("__total__", "__total__")]
            reports["distinct_docs_total"] = round(tot[0], 1)
            reports["approx_dup_rate"] = round(
                1.0 - min(1.0, tot[0] / tot[1]), 4) if tot[1] else 0.0
            reports["distinct_path"] = output_path + "_distinct"
            outputs.append(dcen)
        self.progress("publish", {"rows": len(rows),
                                  "path": output_path})
        return outputs, reports

    def _run_semantic_dedup(self, plan: dict, cat: Catalog,
                            output_path: str) -> Result:
        """'semantically dedup ...': SemDeDup over the embeddings
        table (:func:`operators.similarity.semantic_dedup`) — kept
        rows written to the sink with an in/out count report.

        When the query names no cluster count, ``n_clusters`` is
        derived from the corpus (one cheap count) via
        :func:`derive_n_clusters` — the within-cluster pair join is
        quadratic in cluster size, so the count MUST grow with the
        corpus to keep per-cluster size (and so total pair work)
        bounded; the chosen value lands in the progress report and
        the plan echo."""
        emb = cat.embeddings
        n_in = _nonempty_count(emb, "embeddings")
        if not plan.get("n_clusters"):
            plan["n_clusters"] = derive_n_clusters(n_in)
        frame = similarity.semantic_dedup(emb, threshold=plan["threshold"],
                                          n_clusters=plan["n_clusters"],
                                          keep=plan["keep"])
        self.progress("dedup", {"params": dict(plan),
                                "n_clusters": plan["n_clusters"]})
        return self._publish(frame, output_path, "rows_kept",
                             rows_in=n_in)

    def _run_cluster_corpus(self, plan: dict, cat: Catalog,
                            output_path: str) -> Result:
        """'cluster the embeddings into 12 topics': standalone corpus
        clustering (:func:`operators.similarity.cluster_embeddings`)
        — per-vector assignments + coherence land at the sink, the
        tiny centers frame at ``<output>_centers`` (reusable to map
        future batches without refitting), and the report inlines
        per-cluster sizes + mean center-cosine. An unnamed cluster
        count derives from the corpus via :func:`derive_n_clusters`
        (constant target cluster SIZE, same reasoning as SemDeDup)."""
        emb = cat.embeddings
        n_in = _nonempty_count(emb, "embeddings")
        if not plan.get("n_clusters"):
            plan["n_clusters"] = derive_n_clusters(n_in)
        assign, centers = similarity.cluster_embeddings(
            emb, n_clusters=plan["n_clusters"])
        self.progress("cluster", {"params": dict(plan),
                                  "n_clusters": plan["n_clusters"]})
        assign.write.mode("overwrite").parquet(output_path)
        centers.write.mode("overwrite").parquet(output_path + "_centers")
        back = self.spark.read.parquet(output_path)      # read-back
        stats = (back.groupBy("cluster")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.round(F.avg("center_cos"), 4).alias("coherence"))
                 .collect())
        self.progress("publish", {"rows": sum(r["n"] for r in stats),
                                  "path": output_path})
        return [assign, centers], {"rows_in": n_in,
                                   "centers_path": output_path + "_centers",
                                   "cluster_sizes": {int(r["cluster"]): r["n"]
                                                     for r in stats},
                                   "cluster_coherence": {int(r["cluster"]):
                                                         r["coherence"]
                                                         for r in stats}}

    def _run_cluster_assign(self, plan: dict, cat: Catalog,
                            output_path: str) -> Result:
        """'assign the new embeddings to the clusters at <path>': map
        a fresh batch onto a persisted cluster map
        (:func:`operators.similarity.assign_to_centers` — broadcast
        GEMM argmin, no refit, no rescan of the fit corpus; the
        data-map twin of the frozen-index append). Rejected with an
        actionable reason when the path is missing or unreadable."""
        with _rejects(f"no cluster map readable at "
                      f"{plan['centers_path']}"):
            centers = self.spark.read.parquet(plan["centers_path"])
            # explicit raise, not assert: -O strips asserts and a
            # malformed store must reject, not crash downstream
            if not {"cluster", "center"} <= set(centers.columns):
                raise ValueError("not a cluster map")
        emb = cat.embeddings
        n_in = _nonempty_count(emb, "embeddings")
        assign = similarity.assign_to_centers(emb, centers)
        self.progress("assign", {"params": dict(plan),
                                 "n_centers": centers.count()})
        sizes = _counts(self._sink(assign, output_path), "cluster")
        self.progress("publish", {"rows": sum(sizes.values()),
                                  "path": output_path})
        return [assign], {"rows_in": n_in, "cluster_sizes": sizes}

    def _run_verify_shards(self, plan: dict, cat: Catalog,
                           output_path: str) -> Result:
        """'verify the shards at /path against the manifest': the
        receiving side of a data shipment — recompute the
        order-insensitive per-shard fingerprints over the shard set
        and diff them against the stored manifest
        (:func:`sources.sinks.verify_shard_manifest`; defaults to the
        writer's ``<shards>_manifest`` sidecar). Rejected with an
        actionable reason when no shard path is named; the verdict +
        mismatched shard ids land in the report AND at the sink as a
        one-row-per-shard status frame."""
        from dynamic_etl_pipeline_thesis_ii_spark.sources import sinks

        mpath = plan.get("manifest_path") or \
            plan["shards_path"].rstrip("/") + "_manifest"
        with _rejects(f"no manifest readable at {mpath}"):
            manifest = self.spark.read.parquet(mpath)
        self.progress("verify", {"params": dict(plan),
                                 "manifest_path": mpath})
        # a sha256 column marks a write_webdataset manifest — verify
        # the tar files byte-for-byte (distributed sha2 scan) instead
        # of recomputing parquet row fingerprints
        is_wds = "sha256" in manifest.columns
        with _rejects(f"no shard set readable at {plan['shards_path']}"):
            if is_wds:
                chk = sinks.verify_webdataset(self.spark,
                                              plan["shards_path"], manifest)
            else:
                chk = sinks.verify_shard_manifest(
                    self.spark, plan["shards_path"], manifest)
        bad = set(chk["mismatched"])
        # union so an EXTRA shard directory (present on disk, absent
        # from the manifest) still gets a status row
        key, as_id, schema = (("file", str, "file string") if is_wds
                              else ("shard", int, "shard int"))
        shard_ids = {as_id(r[key]) for r in manifest.collect()} | bad
        status_frame = self.spark.createDataFrame(
            [(s, "mismatch" if s in bad else "ok")
             for s in sorted(shard_ids)], f"{schema}, status string")
        status_frame.write.mode("overwrite").parquet(output_path)
        self.progress("publish", {"rows": chk["n_shards"],
                                  "path": output_path})
        return [status_frame], {"ok": chk["ok"],
                                "n_shards": chk["n_shards"],
                                "manifest_path": mpath,
                                "mismatched_shards": chk["mismatched"]}

    def _run_data_card(self, plan: dict, cat: Catalog,
                       output_path: str) -> Result:
        """'generate a data card for the corpus': the
        Datasheets-for-Datasets capstone — one run composing the
        corpus's headline composition (census: docs/tokens/chars per
        language and source), length distribution (histogram
        quantiles per language), duplication (HLL distinct-content
        estimate + approx dup rate), and quality telemetry
        (gopher-pass rate, mean quality score, mean code-likeness,
        predicted-language agreement) into a nested report + a
        ``datacard.json`` artifact beside the sink parquet (the
        census lands AT the sink as the card's machine-readable
        companion). Seven Spark actions without the optional sections:
        the census and histogram sink writes, one collect of each
        read-back, and three aggregations over the documents (distinct
        sketch, quality means, licence classes). A named tokenizer
        store adds two, a media table up to four. Every driver-side
        object is bounded by |strata| — never by corpus size."""
        from dynamic_etl_pipeline_thesis_ii_spark.sources import sinks

        docs = cat.documents
        census = text.corpus_census(docs)
        # one row per stratum: every census field below reads these
        rows = self._sink(census, output_path).collect()
        total = next((r for r in rows if r["kind"] == "__total__"), None)
        if total is None or total["n_docs"] == 0:
            raise Rejected("documents table is empty")
        self.progress("census", {"params": dict(plan)})
        comp = {
            "n_docs": total["n_docs"], "n_tokens": total["n_tokens"],
            "n_chars": total["n_chars"],
            "docs_per_lang": {r["stratum"]: r["n_docs"] for r in rows
                              if r["kind"] == "lang"},
            "docs_per_source": {r["stratum"]: r["n_docs"] for r in rows
                                if r["kind"] == "source"},
        }
        hist = text.census_histogram(docs)
        hist = self._sink(hist, output_path + "_hist")
        # quantiles read the persisted sidecar — the card's consumer
        # gets the full distribution, not just three cut points
        lengths = text.histogram_quantiles(hist, quantiles=(0.5, 0.9, 0.99),
                                           kind="lang")
        self.progress("lengths", {"langs": len(lengths)})
        fp = docs.withColumn(
            "fp", dedup.hash32(dedup.normalize_text(
                F.coalesce(F.col("text"), F.lit("")))))
        dist = text.estimate_distinct(text.census_distinct(fp, "fp")) \
            .filter(F.col("kind") == "__total__").first()
        dup = {"distinct_docs_estimate": round(dist["n_distinct"], 1),
               "approx_dup_rate": round(
                   1.0 - min(1.0, dist["n_distinct"] / dist["n_rows"]),
                   4) if dist["n_rows"] else 0.0}
        q = text.quality_features(F.col("text"))
        g = text.gopher_rules(F.col("text"))
        c = text.code_features(F.col("text"))
        qrow = docs.agg(
            F.round(F.avg(q["quality_score"]), 4).alias("mean_quality"),
            F.round(F.avg(g["gopher_pass"].cast("double")), 4)
            .alias("gopher_pass_rate"),
            F.round(F.avg(c["code_score"]), 4).alias("mean_code_score"),
            F.round(F.avg((text.lang_id(F.col("text")) == F.col("lang"))
                          .cast("double")), 4)
            .alias("lang_id_agreement")).first()
        quality = {k: qrow[k] for k in
                   ("mean_quality", "gopher_pass_rate",
                    "mean_code_score", "lang_id_agreement")}
        self.progress("quality", quality)
        # governance: the datasheet's licensing section — per-class
        # doc counts from the T19 scan (one extra aggregate over the
        # same text column; |classes| <= 5 driver-side)
        licensing = _counts(docs, text.license_class(F.col("text")))
        card = {"composition": comp,
                "length_quantiles_per_lang": lengths,
                "duplication": dup, "quality": quality,
                "licensing": licensing,
                "census_path": output_path,
                "histogram_path": output_path + "_hist"}
        # suggested mix (SM10): when the query names a token budget
        # ('... with a budget of 1000000 tokens, at most 2 epochs'),
        # the card carries the UniMax epoch-capped allocation derived
        # from the census's per-language token sums — pure driver
        # arithmetic over numbers this run already collected, zero
        # extra scans, and the datasheet becomes actionable: it says
        # not just what the corpus IS but how a budgeted training run
        # would draw from it.
        if plan.get("mix_budget") is not None:
            toks_per_lang = {r["stratum"]: r["n_tokens"] for r in rows
                             if r["kind"] == "lang"
                             and r["stratum"] != "__null__"}
            eps = sampling.unimax_epochs(toks_per_lang, plan["mix_budget"],
                                         plan["mix_epochs"])
            card["suggested_mix"] = {
                "budget_tokens": plan["mix_budget"],
                "max_epochs": plan["mix_epochs"],
                "epochs_per_lang": {g: round(e, 4)
                                    for g, e in eps.items()},
                "allocated_tokens_per_lang": {
                    g: int(round(e * toks_per_lang[g]))
                    for g, e in eps.items()},
                "saturated_langs": sorted(
                    g for g, e in eps.items()
                    if e >= plan["mix_epochs"]),
            }
            self.progress("suggested_mix",
                          {"langs": len(eps),
                           "budget": plan["mix_budget"]})
        # tokenizer section (TK4): when the query names a tokenizer
        # store ('... with the tokenizer at /path'), per-language
        # fertility + chars-per-token join the datasheet — fertility
        # is exactly the per-language coverage number a training-data
        # card should carry (a language far above the corpus average
        # is being shredded into characters). Driver-side rows are
        # strata-bounded (|langs| + 1), the corpus cost is one
        # count-only Arrow pass. A NAMED-but-unreadable store rejects
        # (the user asked for a section the run cannot produce).
        if plan.get("tokenizer_path"):
            with _rejects(f"no tokenizer readable at "
                          f"{plan['tokenizer_path']}"):
                kind, kw = self._load_tokenizer_store(
                    plan["tokenizer_path"])
            lang_col = "lang" if "lang" in docs.columns else None
            t_rows = sorted(
                (r.asDict() for r in
                 bpe.tokenizer_stats(docs, lang_col=lang_col,
                                     **kw).collect()),
                key=lambda r: r["lang"])
            t_toks = sum(r["n_tokens"] for r in t_rows)
            t_words = sum(r["n_words"] for r in t_rows)
            card["tokenizer"] = {
                "kind": kind, "path": plan["tokenizer_path"],
                "fertility_per_lang": {
                    r["lang"]: r["fertility"] for r in t_rows},
                "chars_per_token_per_lang": {
                    r["lang"]: r["chars_per_token"] for r in t_rows},
                "overall_fertility": round(t_toks / t_words, 4)
                if t_words else None,
                "n_tokens": t_toks}
            self.progress("tokenizer", {"kind": kind,
                                        "langs": len(t_rows)})
        # a training-data datasheet counts the MEDIA table too when
        # the source dir carries one: items/bytes per kind (one
        # aggregate) plus per-modality decodable fractions — real
        # decodes (fingerprint row-count deltas over the payload
        # scan: dHash/aHash/vHash), not a mime guess. Absent media ->
        # the section says so explicitly rather than silently reading
        # as text-only; a media table that exists but cannot be read
        # rejects with its cause.
        if not sinks._path_exists(self.spark,
                                  f"{cat.sf_dir}/media.parquet"):
            card["media"] = {"present": False}
        else:
            media = self._media(cat)
            from dynamic_etl_pipeline_thesis_ii_spark.operators import (
                multimodal,
            )
            kinds = {r["stratum"]: {"n_items": r["n_items"],
                                    "n_bytes": r["n_bytes"]}
                     for r in multimodal.media_census(media).collect()
                     if r["kind"] == "media_kind"}
            card["media"] = {"present": True, "per_kind": kinds}
            for mod, noun, fp in (("image", "images", multimodal.image_dhash),
                                  ("audio", "clips", multimodal.audio_ahash),
                                  ("video", "videos", multimodal.video_vhash)):
                n_kind = kinds.get(mod, {}).get("n_items", 0)
                n_dec = fp(media).count() if n_kind else 0
                card["media"][f"{noun}_decodable"] = n_dec
                card["media"][f"{mod}_decodable_fraction"] = round(
                    n_dec / n_kind, 4) if n_kind else None
            self.progress("media", card["media"])
        card_path = sinks.write_run_artifacts(output_path + "_card",
                                              {"data_card": card})
        self.progress("publish", {"rows": len(rows),
                                  "path": output_path,
                                  "card_path": card_path})
        return [census], {"data_card": card,
                          "card_path": card_path}

    def _run_decontaminate(self, plan: dict, cat: Catalog,
                           output_path: str) -> Result:
        """'decontaminate the corpus against the benchmark at /path':
        drop corpus rows that leak benchmark content, surviving rows
        land at the sink with an in/kept/flagged report.

        Two modes, picked by the query: the default n-gram path
        (:func:`operators.dedup.decontaminate` — k-word shingle
        overlap, the GPT-3-style 13-gram decontamination shape; 'min
        overlap N' tunes the floor) runs documents-vs-documents; a
        'semantically' / 'by embedding' mention swaps in
        :func:`operators.similarity.semantic_decontaminate`
        (sign-bucket-blocked cosine over the embeddings table;
        'threshold 0.9' tunes the cut) — the paraphrase-robust
        complement that catches leakage sharing no n-gram.

        Scale shape is identical in both modes: the benchmark side is
        eval-set-sized and BROADCASTS into one join against the
        streaming corpus scan — no corpus shuffle; the flagged-id set
        (bounded by the benchmark's neighborhood) broadcasts into the
        anti-join."""
        # a missing/unreadable benchmark is an actionable rejection
        # (the verify_shards/ann_index_append contract), not an
        # AnalysisException stacktrace
        with _rejects(f"no benchmark readable at "
                      f"{plan['benchmark_path']}"):
            bench = self.spark.read.parquet(plan["benchmark_path"])
        if plan["semantic"]:
            corpus, key = cat.embeddings, "vec_id"
            pairs = similarity.semantic_contamination(
                corpus, bench, threshold=plan["threshold"])
        else:
            corpus, key = cat.documents, "doc_id"
            pairs = dedup.contamination_pairs(
                corpus, bench, k=5, min_overlap=plan["min_overlap"])
        flagged = pairs.select(F.col("id_a").alias(key)).distinct()
        kept = corpus.join(F.broadcast(flagged), key, "left_anti")
        n_in = corpus.count()
        n_flagged = flagged.count()
        self.progress("decontaminate", {"params": dict(plan),
                                        "flagged": n_flagged})
        return self._publish(kept, output_path, "rows_kept",
                             rows_in=n_in, rows_flagged=n_flagged)

    def _run_decontaminate_spans(self, plan: dict, cat: Catalog,
                                 output_path: str) -> Result:
        """'remove benchmark passages from the corpus against the
        benchmark at /path (windows of 20 tokens)': span-surgical
        decontamination (D19 — :func:`operators.dedup.
        remove_benchmark_spans`): every corpus token run of >= w
        tokens appearing verbatim in the benchmark is CUT, the
        document survives — the fix for D7's bluntness on long
        documents quoting one eval item. 'flag'/'find' phrasings
        report the span table without rewriting. Rejects a missing
        or unreadable benchmark path."""
        with _rejects(f"no benchmark readable at "
                      f"{plan['benchmark_path']}"):
            bench = self.spark.read.parquet(plan["benchmark_path"])
            bench.schema
        corpus = cat.documents
        spans = dedup.benchmark_span_flags(corpus, bench, w=plan["window"])
        return self._publish_spans(
            plan, spans, lambda: dedup.apply_span_removal(corpus, spans),
            "decontaminate_spans", output_path)

    def _run_retrieve(self, plan: dict, cat: Catalog,
                      output_path: str) -> Result:
        """'search the corpus for "hash join strategies", top 5' /
        'retrieve the best documents for "x" and "y"': BM25 lexical
        retrieval (:func:`operators.text.bm25_topk`) over the
        documents table, one quoted string per query row. The sparse
        complement of ``ann_search`` — same lifecycle conventions,
        different similarity space. Results join back the matched
        documents' language/source so the hit list reads standalone;
        the report inlines per-query hit counts (eval-sized).

        Scale: the query set broadcasts; the corpus shuffles only on
        its own (id, tok) aggregate — see the operator docstring.
        With 'the index at /path' the persisted BM25 store
        (:func:`operators.text.search_bm25_index`) answers at QUERY
        cost instead: the term filter pushes into the tok-sorted tf
        parquet, the corpus never rescans (the lang/source join back
        to the documents table is a pruned two-column projection, no
        text read)."""
        docs = cat.documents
        qset = self.spark.createDataFrame(
            [(i + 1, q) for i, q in enumerate(plan["queries"])],
            "query_id bigint, query_text string")
        if plan.get("index_path"):
            with _rejects(f"no retrieval index readable at "
                          f"{plan['index_path']}"):
                self.spark.read.parquet(
                    plan["index_path"].rstrip("/") + "/stats").first()
            hits = text.search_bm25_index(self.spark, plan["index_path"],
                                          qset, k=plan["k"])
        else:
            hits = text.bm25_topk(docs, qset, k=plan["k"])
        frame = (hits
                 .join(F.broadcast(qset), "query_id")
                 .join(docs.select(F.col("doc_id").alias("id"),
                                   "lang", "source"), "id")
                 .select("query_id", "query_text", "rank", "id",
                         "bm25", "n_terms", "lang", "source"))
        self.progress("retrieve", {"params": dict(plan)})
        back = self._sink(frame, output_path)
        counts = _counts(back, "query_text")
        self.progress("publish", {"rows": sum(counts.values()),
                                  "path": output_path})
        return [frame], {"hits_per_query": counts,
                         "rows_written": sum(counts.values())}

    def _run_corpus_store_build(self, plan: dict, cat: Catalog,
                                output_path: str) -> Result:
        """'build a bucketed corpus store, 32 buckets': persist the
        documents table hash-bucketed by doc_id
        (:func:`sources.sinks.save_corpus_store`) so every later
        'upsert the batch into the corpus store at /path' rewrites
        only the buckets holding batch keys. Bucket count derives
        corpus-proportionally when unnamed (constant rows per bucket
        — the rewrite unit must stay batch-scale at 100 TB)."""
        from dynamic_etl_pipeline_thesis_ii_spark.sources import sinks

        docs = cat.documents
        self.progress("build_store", {"params": dict(plan)})
        report = sinks.save_corpus_store(docs, output_path,
                                         n_buckets=plan["n_buckets"])
        self.progress("publish", {"rows": report["rows"],
                                  "path": output_path})
        return [], report

    def _run_webdataset_write(self, plan: dict, cat: Catalog,
                              output_path: str) -> Result:
        """'export the corpus as webdataset, 8 shards' / 'write the
        corpus to webdataset shards at 64 mb': tar-shard export for
        streaming training loaders (:func:`sources.sinks.
        write_webdataset` — ``{key}.json``/``{key}.txt`` members in
        byte-deterministic ``shard-%06d.tar`` files, per-shard sha256
        manifest beside them). Shard count derives from corpus bytes
        against the mb target when unnamed; a duplicate-key corpus is
        rejected actionably (WebDataset keys must be unique)."""
        from dynamic_etl_pipeline_thesis_ii_spark.sources import sinks

        self.progress("export", {"params": dict(plan)})
        dest = output_path.rstrip("/") + "/webdataset"
        if plan.get("table") == "media":
            from dynamic_etl_pipeline_thesis_ii_spark.operators import (
                multimodal,
            )
            media = self._media(cat)
            frame = media.withColumn(
                "__ext", multimodal.container_ext("payload", "kind")
                if "kind" in media.columns
                else multimodal.container_ext("payload"))
            kwargs = dict(key_col="media_id", text_col=None,
                          binary_col="payload", ext_col="__ext")
        else:
            frame = cat.documents
            kwargs = dict(key_col="doc_id")
        try:
            report = sinks.write_webdataset(
                frame, dest,
                n_shards=plan["n_shards"],
                target_shard_mb=plan["target_shard_mb"], **kwargs)
        except sinks.SinkError as exc:
            raise Rejected(str(exc))
        self.progress("publish", {"rows": report["rows_written"],
                                  "path": dest})
        return [], report

    def _corpus_store(self, plan: dict) -> str:
        """The named bucketed corpus store, once its geometry sidecar
        reads back."""
        store = plan["store_path"].rstrip("/")
        with _rejects(f"no corpus store readable at "
                      f"{plan['store_path']} (build one "
                      f"with 'build a bucketed corpus store')"):
            self.spark.read.parquet(store + "_meta").first()
        return store

    def _run_corpus_upsert(self, plan: dict, cat: Catalog,
                           output_path: str) -> Result:
        """'upsert the batch into the corpus store at /path': MERGE
        the source dir's documents into a persisted bucketed store
        (:func:`sources.sinks.merge_into_corpus` — batch rows replace
        same-key rows, insert otherwise; only touched buckets
        rewrite, untouched directories stay byte-identical). The
        batch also lands at the run's output for lineage. Rejects a
        missing path or a path without a store geometry sidecar."""
        from dynamic_etl_pipeline_thesis_ii_spark.sources import sinks

        store = self._corpus_store(plan)
        batch = cat.documents
        report = sinks.merge_into_corpus(self.spark, store, batch)
        self.progress("upsert", {"params": dict(plan), **report})
        n_out = self._sink(batch, output_path).count()
        self.progress("publish", {"rows": n_out, "path": store})
        return [batch], {**report,
                         "batch_rows": n_out}

    def _run_corpus_rebucket(self, plan: dict, cat: Catalog,
                             output_path: str) -> Result:
        """'rebucket the corpus store at /path': re-derive the
        store's bucket count from its CURRENT rows and rewrite to the
        run's output (:func:`sources.sinks.rebucket_corpus_store` —
        never in place, the compact_store discipline). The SK5
        geometry-growth fix: merges honor frozen save-time geometry,
        so a store grown far past its save-time size rewrites
        corpus-proportional bucket units per merge; one rebucket pass
        restores constant rows/bucket and later merges against the
        new path are batch-cost again. Rejects a missing path or a
        path without the store's geometry sidecar."""
        from dynamic_etl_pipeline_thesis_ii_spark.sources import sinks

        store = self._corpus_store(plan)
        report = sinks.rebucket_corpus_store(self.spark, store, output_path)
        self.progress("rebucket", {"params": dict(plan), **report})
        self.progress("publish", {"rows": report["rows"],
                                  "path": output_path})
        return [], report

    def _run_hybrid_search(self, plan: dict, cat: Catalog,
                           output_path: str) -> Result:
        """'find documents like doc 42 using both keywords and
        embeddings, top 5': hybrid more-like-this — the named
        documents' own text feeds the BM25 tower and their own
        embeddings feed the dense tower, reciprocal-rank fused
        (:func:`operators.similarity.hybrid_topk`). The query's
        self-hit is dropped after fusion (its rank-1 slot is the
        sanity check, not an answer). Rejects ids missing from the
        documents or embeddings table with an actionable reason.

        '... using the ann index at /path' swaps the dense tower's
        corpus scan for the persisted IVF-PQ store (probed-lists ADC
        + exact rerank of the pool — see :func:`hybrid_topk`);
        n_probe resolves like the store-search face — explicit
        'probing N lists' > tuned ``_meta`` sidecar > default — and
        the report names the dense arm and the winning source.

        Scale: the query set is the handful of named ids — both
        towers broadcast it; the corpus never shuffles on anything
        but its own aggregates (store-backed: the probed lists)."""
        dense_index, n_probe, probe_source = None, None, None
        if plan.get("index_path"):
            dense_index = self._load_index(plan)
            n_probe, probe_source = self._n_probe(plan)
        docs = cat.documents.select("doc_id", "text")
        emb = cat.embeddings
        ids = [int(i) for i in plan["doc_ids"]]
        qtext = (docs.filter(F.col("doc_id").isin(ids))
                 .select(F.col("doc_id").alias("query_id"),
                         F.col("text").alias("query_text")))
        qvec = (emb.filter(F.col("vec_id").isin(ids))
                .select(F.col("vec_id").alias("query_id"),
                        F.col("embedding").alias("query_vec")))
        queries = qtext.join(qvec, "query_id")
        found = [r["query_id"] for r in
                 queries.select("query_id").collect()]
        missing = sorted(set(ids) - set(found))
        if missing:
            raise Rejected(f"no document+embedding for ids "
                           f"{missing} ('like doc N' needs both)")
        cands = _vectors(emb, "c")
        hits = (similarity.hybrid_topk(docs, cands, queries,
                                       k=plan["k"] + 1, k_pool=plan["k"] + 10,
                                       dense_index=dense_index,
                                       n_probe=n_probe or 2)
                .filter(F.col("id") != F.col("query_id")))
        self.progress("hybrid_search", {"params": dict(plan),
                                        "dense_arm": ("ivf" if dense_index
                                                      else "brute")})
        per_query = (self._sink(hits, output_path).groupBy("query_id")
                     .agg(F.count(F.lit(1)).alias("n"),
                          F.count(F.when(F.col("n_arms") == 2, 1))
                          .alias("both"))
                     .collect())
        counts = {r["query_id"]: r["n"] for r in per_query}
        both = sum(r["both"] for r in per_query)
        self.progress("publish", {"rows": sum(counts.values()),
                                  "path": output_path})
        return [hits], {"hits_per_query": counts,
                        "hits_in_both_towers": both,
                        "dense_arm": ("ivf" if dense_index
                                      else "brute"),
                        **({"n_probe": n_probe,
                            "n_probe_source": probe_source}
                           if dense_index else {})}

    def _run_bm25_index_build(self, plan: dict, cat: Catalog,
                              output_path: str) -> Result:
        """'build a retrieval index over the corpus': persist the BM25
        inverted index (:func:`operators.text.save_bm25_index` —
        tok-sorted postings + df/dl/stats sidecars) at the output.
        The lexical twin of `_run_ann_index_build`: build pays the
        corpus scan exactly once, every later 'search the index at
        /path for "..."' answers at query cost."""
        docs = cat.documents
        self.progress("build_index", {"params": dict(plan)})
        report = text.save_bm25_index(docs, output_path)
        self.progress("publish", {"rows": report["n_postings"],
                                  "path": output_path})
        return [], report

    def _run_bm25_index_append(self, plan: dict, cat: Catalog,
                               output_path: str) -> Result:
        """'add the new documents to the retrieval index at /path':
        the lexical epoch-N+1 step, twin of `_run_ann_index_append` —
        the source dir's documents tokenize/aggregate at BATCH cost
        and parquet-APPEND into the store (tok-sorted postings plus
        df/dl/stats DELTA rows; :func:`operators.text.
        append_bm25_index`); the old corpus never rescans, and a
        later 'search the index at /path' folds the sidecars so
        scores equal a full rebuild exactly. Already-indexed ids are
        broadcast-prune skipped and counted in the report."""
        store = plan["index_path"].rstrip("/")
        with _rejects(f"no retrieval index readable at "
                      f"{plan['index_path']}"):
            self.spark.read.parquet(store + "/stats").first()
        docs = cat.documents
        report = text.append_bm25_index(self.spark, store, docs)
        self.progress("append_index", {"params": dict(plan),
                                       **report})
        n_after = self.spark.read.parquet(store + "/dl").count()
        self.progress("publish", {"rows": report["n_new_postings"],
                                  "path": store})
        return [], {**report,
                    "docs_after": n_after}

    def _run_ann_search(self, plan: dict, cat: Catalog,
                        output_path: str) -> Result:
        """'find the 10 nearest neighbors for each document, with an
        opq rotation': corpus self-kNN over the embeddings table via
        the IVF-PQ index (build + search — codes-only ADC with an
        exact rerank tier, so results carry TRUE distances), self
        matches removed. ``opq`` threads the parametric rotation
        through build and search and the report carries the
        rotation's reconstruction-MSE delta — the number the OPQ
        paper judges the rotation by (raw-space vs rotated-space PQ
        at the same code budget; the exact-tier results are identical
        either way since R is orthogonal).

        Scale: IVF list count grows as sqrt(n) (the standard IVF
        sizing curve — probe cost |Q|·n_probe·n/lists stays bounded),
        rerank touches k·|Q| full vectors, everything else joins
        codes against broadcast LUTs."""
        if plan.get("index_path"):
            return self._run_ann_search_store(plan, cat, output_path)
        emb = cat.embeddings
        n = _nonempty_count(emb, "embeddings")
        n_clusters = max(16, int(n ** 0.5))
        cand = _vectors(emb, "c")
        qry = _vectors(emb, "q")
        rotation, opq_report = None, None
        if plan["opq"]:
            rotation = similarity.opq_rotation(emb, vec_col="embedding", m=4)
            raw_books = similarity.pq_train(emb, vec_col="embedding", m=4)
            rot = similarity.rotate_vectors(emb, rotation, vec_col="embedding")
            rot_books = similarity.pq_train(rot, vec_col="embedding", m=4)
            mse_raw = similarity.pq_reconstruction_mse(emb, raw_books)
            mse_rot = similarity.pq_reconstruction_mse(rot, rot_books)
            opq_report = {
                "mse_raw": round(mse_raw, 6),
                "mse_rotated": round(mse_rot, 6),
                # mse_raw == 0 is legitimate (constant/degenerate
                # embeddings fully captured by the codebooks): there
                # is no distortion for the rotation to reduce, so the
                # delta is 0, never a ZeroDivisionError
                "mse_delta_pct": (round(100 * (1 - mse_rot / mse_raw), 2)
                                  if mse_raw else 0.0)}
        self.progress("plan_index", {"params": dict(plan),
                                     "n_clusters": n_clusters,
                                     "opq": opq_report})
        centers, books, coded = similarity.ivfpq_build(
            cand, n_clusters=n_clusters, m=4, rotation=rotation)
        # search k+1 with the exact rerank tier, drop self matches
        # (dist 0 to itself), re-rank to k — every surviving row is a
        # TRUE squared-L2 neighbor
        k = plan["k"]
        # self-kNN means |queries| == |corpus|: past a broadcastable
        # size the |Q|-sized probe-LUT / rerank frames must SHUFFLE-
        # join (keyed exchanges) instead of shipping to every executor
        hits = similarity.ivfpq_search(centers, books, coded, qry, k=k + 1,
                                       n_probe=2, rerank=2 * (k + 1),
                                       candidates=cand, rotation=rotation,
                                       broadcast_queries=n <= 100_000)
        w = Window.partitionBy("q_id").orderBy(F.col("dist").asc(),
                                               F.col("c_id").asc())
        frame = (hits.filter(F.col("q_id") != F.col("c_id"))
                 .withColumn("rank", F.row_number().over(w))
                 .filter(F.col("rank") <= k))
        return self._publish(frame, output_path, "rows_written",
                             n_vectors=n, n_clusters=n_clusters,
                             opq=opq_report)

    def _run_ann_search_store(self, plan: dict, cat: Catalog,
                              output_path: str) -> Result:
        """'find the 10 nearest neighbors for each document using the
        ann index at /path': search the PERSISTED IVF-PQ store
        instead of rebuilding — the serve face that closes the
        build → append → tune → search lifecycle against one
        artifact. The source dir's embeddings are the query batch;
        ``n_probe`` defaults to the store's tuned ``_meta`` sidecar
        (a prior 'tune the ann index at /path' run), else the static
        default, and the report says which source won. Ranking is
        ADC (the store holds codes, not vectors, so there is no
        exact-rerank tier here — results carry the ``adc`` column
        the index serves by); self matches drop by id when the store
        indexes the querying corpus itself."""
        centers, books, coded, rotation = self._load_index(plan)
        emb = cat.embeddings
        n = _nonempty_count(emb, "embeddings")
        n_probe, probe_source = self._n_probe(plan)
        k = plan["k"]
        qry = _vectors(emb, "q")
        self.progress("search_index", {"params": dict(plan),
                                       "n_probe": n_probe,
                                       "n_probe_source": probe_source})
        # corpus-sized query batches must not broadcast their LUTs
        # (the self-kNN rule in _run_ann_search)
        hits = similarity.ivfpq_search(centers, books, coded, qry, k=k + 1,
                                       n_probe=n_probe, rotation=rotation,
                                       broadcast_queries=n <= 100_000)
        w = Window.partitionBy("q_id").orderBy(F.col("adc").asc(),
                                               F.col("c_id").asc())
        frame = (hits.filter(F.col("q_id") != F.col("c_id"))
                 .withColumn("rank", F.row_number().over(w))
                 .filter(F.col("rank") <= k))
        return self._publish(frame, output_path, "rows_written",
                             n_queries=n, n_probe=n_probe,
                             n_probe_source=probe_source, ranking="adc")

    def _run_ann_index_build(self, plan: dict, cat: Catalog,
                             output_path: str) -> Result:
        """'build an ann index over the embeddings, 64 lists, with an
        opq rotation': fit the IVF-PQ index once and persist the
        complete store (centers/books/codes/rotation, plain parquet —
        :func:`operators.similarity.save_ivfpq_index`) at the output.
        Later query batches search the RELOADED store and later
        epochs grow it via the append target — build is the expensive
        step at 100 TB and happens exactly once. When the query names
        no list count it derives as sqrt(n) (the standard IVF sizing
        curve: probe cost |Q|·n_probe·n/lists stays bounded)."""
        emb = cat.embeddings
        n = _nonempty_count(emb, "embeddings")
        n_lists = plan["n_lists"] or max(16, int(n ** 0.5))
        rotation = (similarity.opq_rotation(emb, vec_col="embedding", m=4)
                    if plan["opq"] else None)
        cand = _vectors(emb, "c")
        centers, books, coded = similarity.ivfpq_build(
            cand, n_clusters=n_lists, m=4, rotation=rotation)
        self.progress("build_index", {"params": dict(plan),
                                      "n_lists": n_lists})
        similarity.save_ivfpq_index(self.spark, centers, books, coded,
                                    output_path, rotation=rotation)
        n_codes = self.spark.read.parquet(
            output_path + "/codes").count()       # read-back
        self.progress("publish", {"rows": n_codes, "path": output_path})
        return [coded], {"n_vectors": n,
                         "n_lists": n_lists, "m": 4,
                         "opq": rotation is not None,
                         "codes_written": n_codes}

    def _run_ann_index_append(self, plan: dict, cat: Catalog,
                              output_path: str) -> Result:
        """'append the new vectors to the index at /path': the ANN
        epoch-N+1 step, twin of the Bloom snapshot reload in
        `_run_incremental_dedup` — the source dir's embeddings encode
        against the FROZEN store (existing centers/books/rotation, no
        retrain, no rescan of the old corpus;
        :func:`operators.similarity.ivfpq_append`) and the new codes
        parquet-APPEND into the store's codes dir (append only adds
        files through the commit protocol — a failed job leaves the
        store intact). The batch's own codes also land at the run's
        output for lineage. The report carries before/appended/after
        counts, with `after` from a read-back of the grown store."""
        centers, books, coded, rotation = self._load_index(plan)
        n_before = coded.count()
        batch = _vectors(cat.embeddings, "c")
        appended = similarity.ivfpq_append(centers, books, batch,
                                           rotation=rotation)
        back = self._sink(appended, output_path)
        n_appended = back.count()
        self.progress("append_index", {"params": dict(plan),
                                       "appended": n_appended})
        back.write.mode("append").parquet(plan["index_path"] + "/codes")
        n_after = self.spark.read.parquet(
            plan["index_path"] + "/codes").count()
        self.progress("publish", {"rows": n_appended,
                                  "path": plan["index_path"]})
        return [appended], {"codes_before": n_before,
                            "codes_appended": n_appended,
                            "codes_after": n_after}

    def _load_index(self, plan: dict):
        """The persisted IVF-PQ store at the plan's index path:
        ``(centers, books, coded, rotation)``."""
        with _rejects(f"no loadable index store at {plan['index_path']}"):
            return similarity.load_ivfpq_index(self.spark,
                                               plan["index_path"])

    def _n_probe(self, plan: dict) -> tuple[int, str]:
        """n_probe and the source that set it: explicit in the query
        ('probing 4 lists') > the store's tuned _meta sidecar (a prior
        'tune the ann index at /path' run) > static default 2. The
        report says which source won, so an untuned store is visible,
        not silent."""
        if plan.get("n_probe") is not None:
            return plan["n_probe"], "query"
        tuned = similarity.load_index_tuning(self.spark, plan["index_path"])
        if tuned and tuned.get("tuned_n_probe") is not None:
            return tuned["tuned_n_probe"], "tuned"
        return 2, "default"

    def _load_index_and_query_sample(self, plan: dict, cat: Catalog):
        """Shared front door of the index-telemetry targets
        (`ann_recall`, `ann_tune`): load the persisted IVF-PQ store
        and draw the deterministic query sample from the source
        dir's embeddings: ``(centers, books, coded, rotation,
        queries, cand)``."""
        centers, books, coded, rotation = self._load_index(plan)
        emb = cat.embeddings
        _nonempty_count(emb, "embeddings")
        # deterministic content-hash sample order (a bare limit would
        # take whichever partitions answered first); limit = TakeOrdered
        sample = (emb.orderBy(F.pmod(F.xxhash64("vec_id"),
                                     F.lit(1_000_003)), "vec_id")
                  .limit(plan["n_queries"]))
        queries = _vectors(sample, "q")
        cand = _vectors(emb, "c")
        return centers, books, coded, rotation, queries, cand

    def _run_ann_tune(self, plan: dict, cat: Catalog,
                      output_path: str) -> Result:
        """'tune the ann index at /path for recall 0.9': close the
        n_probe knob into a loop against the recall telemetry
        (:func:`operators.similarity.ann_nprobe_tune`) — double
        n_probe until the sampled recall@k meets the target or
        probing is exhaustive. The (n_probe, recall) curve lands at
        the sink and in the report; when even exhaustive probing
        misses the target the report says so (target_met=false — the
        ADC quantization is the ceiling; raise rerank or rebuild
        with more lists) instead of pretending a setting exists.
        The chosen ``n_probe`` also persists into the store's
        ``_meta`` sidecar (:func:`save_index_tuning`) so a later
        recall/search run against the same store defaults to the
        tuned setting — the loop stays closed across runs."""
        centers, books, coded, rotation, queries, cand = \
            self._load_index_and_query_sample(plan, cat)
        report = similarity.ann_nprobe_tune(
            centers, books, coded, queries, cand, k=plan["k"],
            target_recall=plan["target_recall"], rotation=rotation)
        similarity.save_index_tuning(self.spark, plan["index_path"], report)
        report["meta_saved"] = True
        self.progress("tune", {"params": dict(plan), **report})
        curve = self.spark.createDataFrame(
            [(c["n_probe"], c["recall"]) for c in report["curve"]],
            "n_probe int, recall double")
        n_out = self._sink(curve, output_path).count()
        self.progress("publish", {"rows": n_out, "path": output_path})
        return [curve], report

    def _run_ann_recall(self, plan: dict, cat: Catalog,
                        output_path: str) -> Result:
        """'estimate the recall of the ann index at /path, top 10,
        probing 4 lists': recall@k telemetry for a persisted IVF-PQ
        store (:func:`operators.similarity.ann_recall_estimate`) —
        the drift monitor that says when to raise n_probe or rebuild
        (quantizer drift loosens ADC as epochs append; this is the
        recall-side twin of the reconstruction-MSE watch). A
        deterministic hash-ordered sample of the source dir's
        embeddings (assumed to be the indexed corpus, the same
        contract the append target runs under) queries BOTH the
        index and the exact scan; the sampled approximate hits land
        at the sink and the report carries the recall. Cost: one
        corpus scan against |sample| broadcast queries — cheap by
        construction; the sample size caps it."""
        centers, books, coded, rotation, queries, cand = \
            self._load_index_and_query_sample(plan, cat)
        n_probe, probe_source = self._n_probe(plan)
        report, hits = similarity.ann_recall_estimate(
            centers, books, coded, queries, cand, k=plan["k"],
            n_probe=n_probe, rotation=rotation, return_hits=True)
        report["n_probe_source"] = probe_source
        self.progress("recall", {"params": dict(plan), **report})
        # hits is the CACHED frame the estimate graded — write it
        # instead of re-running the identical index search
        hits.write.mode("overwrite").parquet(output_path)
        n_out = self.spark.read.parquet(output_path).count()
        self.progress("publish", {"rows": n_out, "path": output_path})
        return [hits], {**report,
                        "rows_written": n_out}

    def _run_split_corpus(self, plan: dict, cat: Catalog,
                          output_path: str) -> Result:
        """'split the corpus into train/val/test 80/10/10 without
        leakage': deterministic split assignment over the documents
        table. The default is per-document salted-hash assignment
        (:func:`operators.sampling.split_assign` — subset-stable,
        append-safe, no shuffle); a 'leakage'/'near-dup' mention
        upgrades to COMPONENT-atomic assignment
        (:func:`operators.sampling.leakage_safe_split` over
        MinHash-LSH near-dup components), so a doc and its near-copy
        can never straddle train/test. Per-split counts land in the
        report; fractions normalize from an '80/10/10' triple when
        the query names one."""
        docs = cat.documents
        if plan["leak_safe"]:
            pairs = dedup.minhash_lsh_pairs(docs)
            frame = sampling.leakage_safe_split(docs, plan["splits"], pairs)
        else:
            frame = sampling.split_assign(docs, plan["splits"],
                                          key_col="doc_id")
        self.progress("split", {"params": dict(plan)})
        back = self._sink(frame, output_path)
        counts = _counts(back, "split")
        self.progress("publish", {"rows": sum(counts.values()),
                                  "path": output_path})
        return [frame], {"split_counts": counts,
                         "rows": sum(counts.values())}

    def _run_temperature_mix(self, plan: dict, cat: Catalog,
                             output_path: str) -> Result:
        """'flatten the language mix with temperature 0.5': alpha
        sampling of the documents table
        (:func:`operators.sampling.temperature_mix`) with per-stratum
        before/after counts in the report."""
        docs = cat.documents
        strata = plan["strata"]
        frame = sampling.temperature_mix(docs, strata, alpha=plan["alpha"],
                                         key_col="doc_id", salt="temp")
        self.progress("sample", {"params": dict(plan)})
        back = self._sink(frame, output_path)
        after = _counts(back, strata)
        before = _counts(docs, strata)
        self.progress("publish", {"rows": sum(after.values()),
                                  "path": output_path})
        return [frame], {"counts_before": before,
                         "counts_after": after}

    def _run_shuffle_order(self, plan: dict, cat: Catalog,
                           output_path: str) -> Result:
        """'shuffle the corpus for training, epoch 3': write the
        deterministic global training order
        (:func:`operators.sampling.shuffle_order`) — (doc_id, epoch,
        bucket, rank) with the 0-based global rank; re-running lands
        the identical permutation, a different epoch an independent
        one. The report pins the contract a trainer relies on:
        rank range is gap-free 0..n-1 (max rank + count from one
        aggregate over the read-back — no corpus-sized driver
        state)."""
        docs = cat.documents.select("doc_id")
        frame = sampling.shuffle_order(docs, epoch=plan["epoch"])
        self.progress("shuffle", {"params": dict(plan)})
        back = self._sink(frame, output_path)
        agg = back.agg(F.count(F.lit(1)).alias("n"),
                       F.max("rank").alias("max_rank"),
                       F.countDistinct("bucket").alias("n_buckets")) \
            .first()
        self.progress("publish", {"rows": agg["n"], "path": output_path})
        return [frame], {"n_docs": agg["n"],
                         "max_rank": agg["max_rank"],
                         "buckets_used": agg["n_buckets"],
                         "gap_free": agg["max_rank"] == agg["n"] - 1}

    def _run_unimax_mix(self, plan: dict, cat: Catalog,
                        output_path: str) -> Result:
        """'unimax the language mix with a budget of 50000 tokens, at
        most 2 epochs': UniMax epoch-capped allocation
        (:func:`operators.sampling.unimax_allocation`) of the token
        budget across languages (or sources when the query says so),
        writing the per-doc (id, stratum, epochs, n_copies)
        multiplicity table. The report inlines the per-stratum
        allocation — epochs granted, tokens available, saturated or
        equal-share — which is the number a mixing decision actually
        reads; a missing budget rejects actionably (the epoch cap
        alone does not determine an allocation)."""
        if plan.get("budget") is None:
            raise Rejected("unimax needs a token budget "
                           "('... with a budget of 1000000 tokens')")
        docs = cat.documents
        strata = plan["strata"]
        if strata not in docs.columns:
            raise Rejected(f"documents table has no {strata!r} column")
        frame = sampling.unimax_allocation(docs, plan["budget"],
                                           plan["max_epochs"],
                                           strata_col=strata)
        self.progress("allocate", {"params": dict(plan)})
        back = self._sink(frame, output_path)
        per = (back.groupBy(strata)
               .agg(F.first("epochs").alias("epochs"),
                    F.count(F.lit(1)).alias("n_docs"),
                    F.sum("n_copies").alias("copies"))
               .collect())
        alloc = {r[strata]: {"epochs": r["epochs"], "n_docs": r["n_docs"],
                             "copies": r["copies"],
                             "saturated": r["epochs"] >= plan["max_epochs"]}
                 for r in per}
        self.progress("publish", {"rows": sum(a["n_docs"]
                                              for a in alloc.values()),
                                  "path": output_path})
        return [frame], {"allocation": alloc}

    def _run_dsir_select(self, plan: dict, cat: Catalog,
                         output_path: str) -> Result:
        """'importance resample toward src18': fit the DSIR log-ratio
        table with the named source as the in-pool target domain
        (one-scan ``target_flag`` path), score every document, and
        write (id, n_grams, weight_micro) — narrowed to ABOVE-POOL-MEAN
        weights when the query asked to 'select'/'keep' (the mean cut
        is exact integer arithmetic: weight*n > total — robust to the
        smoothing-mass offset that makes every weight negative on a
        low-signal corpus). The named source is validated against the
        corpus's actual source census (tiny distinct collect) so a
        typo rejects with a reason instead of silently weighting
        against an empty target."""
        docs = cat.documents
        tgt = plan["target_source"]
        sources = {r["source"] for r in
                   docs.select("source").distinct().collect()}
        if tgt not in sources:
            raise Rejected(f"unknown target source {tgt!r}; corpus "
                           f"has {sorted(sources)[:8]}")
        table = sampling.dsir_logratio_table(
            docs.withColumn("__t", F.col("source") == tgt),
            target_flag="__t")
        # persist: the weights frame feeds up to three actions (the
        # totals aggregate, the parquet write, and the above-mean
        # count) — without it the gram-explode pipeline recomputes
        # per action
        weights = persist_scoped(sampling.dsir_weights(docs, table))
        # above-mean cut with exact integer arithmetic: broadcast the
        # 1-row totals and keep weight*n > total (no doubles, no
        # order dependence). decimal(38,0) keeps the product exact
        # past int64 — per-doc micro-weights (~1e11) times corpus
        # counts (~1e9+) overflow BIGINT, which Spark wraps silently
        # in non-ANSI mode; decimal is still exact integer arithmetic
        # cast INSIDE the sum: casting only the result would let the
        # accumulator itself run in BIGINT and wrap before the cast
        tot = weights.agg(F.sum(F.col("weight_micro")
                                .cast("decimal(38,0)")).alias("tot"),
                          F.count(F.lit(1)).alias("n"))
        above = (weights.crossJoin(F.broadcast(tot))
                 .filter(F.col("weight_micro").cast("decimal(38,0)")
                         * F.col("n").cast("decimal(38,0)")
                         > F.col("tot"))
                 .select("id", "n_grams", "weight_micro"))
        frame = above if plan.get("select") else weights
        self.progress("weight", {"params": dict(plan)})
        back = self._sink(frame, output_path)
        n_rows = back.count()
        n_sel = n_rows if plan.get("select") else above.count()
        self.progress("publish", {"rows": n_rows, "path": output_path})
        return [frame], {"rows": n_rows, "above_mean": n_sel}


# dataops NL routing: deterministic keyword/number extraction, mirroring
# RulePlanner's style (rule-encoded routing, LLM-pluggable upstream)
_DATAOPS_HINTS = ("curate", "curation", "dedup", "deduplicate", "shard",
                  "training corpus", "training data", "pack",
                  "chunk", "snapshot", "temperature", "flatten",
                  "importance", "dsir", "resample", "crawl", "warc",
                  "pdf", "zip", "tarball", " tar ",
                  "census", "corpus stat",
                  # WebDataset tar-shard export
                  "webdataset", "web dataset", "tar shard",
                  # UniMax epoch-capped language allocation
                  "unimax", "epoch-capped", "epoch capped", "epoch cap",
                  # deterministic global training order — FULL phrases
                  # only: a bare 'shuffle' would drag any query
                  # containing the word into the dataops fallthrough
                  # (the corpus_to_shards default), the routing hijack
                  # the fertility advisory warned about
                  "shuffle the corpus", "shuffle the documents",
                  "shuffle the examples", "shuffle for training",
                  "training order",
                  # ExactSubstr dedup phrasings: 'remove duplicated
                  # passages' / 'strip repeated substrings'
                  "duplicated passage", "repeated passage",
                  "duplicated substring", "repeated substring",
                  "substring dedup",
                  # span-surgical decontamination phrasings
                  "benchmark passage", "benchmark span",
                  "benchmark quote",
                  # hybrid two-tower retrieval phrasings
                  "hybrid", "keywords and embeddings",
                  "keywords and vectors",
                  # bucketed corpus store lifecycle
                  "upsert", "corpus store",
                  # domain ranking over the link graph
                  "link graph", "pagerank", "domain rank",
                  # store maintenance
                  "compact",
                  # license / compliance governance
                  "license", "licence",
                  # truncation-free FFD packing
                  "bin pack", "bin-pack", "without truncation",
                  # built-in document embedding
                  "embed",
                  # Q7 quality-classifier lifecycle
                  "classifier",
                  # scoped so 'show the token length distribution of
                  # replies' / 'cluster the user sessions' never pass
                  # the gate and fall through to corpus_to_shards —
                  # the hint must imply the CORPUS-object phrasings
                  # the target regexes actually accept
                  "corpus token length", "corpus length distribution",
                  "data card", "datacard", "datasheet",
                  "cluster the embeddings", "cluster the corpus",
                  "cluster the documents", "to the clusters",
                  "cluster map",
                  "containment", "sub-clip", "subclip",
                  "containing clips", "containing segments",
                  "containing frames", "sharing frames",
                  "sharing windows", "sharing segments",
                  "tokenize", "tokenise",
                  "bm25", "search the corpus", "retrieve the",
                  "search the index", "retrieval index",
                  "inverted index", "lexical index",
                  "nearest", "neighbo", "similarity search",
                  "ann search", "decontaminat", "contamination",
                  "ann index", "vector index", "ivf",
                  # append-to-store phrasings name only 'the index';
                  # scoped phrases so finance queries ('the S&P
                  # index') can't leak into the dataops router
                  "to the index", "index at ",
                  # scoped: 'stock split' must not route here
                  "split the corpus", "into train", "leakage")
_SUBSTR_TARGET_RE = re.compile(
    r"\b(remove|strip|cut|flag|find)\b[^.]*\b(?:duplicat\w*|repeated)\s+"
    r"(?:passages?|substrings?|spans?|token\s+runs?)\b"
    r"|\bexact\s+substring\s+dedup\b")
_SUBSTR_WINDOW_RE = re.compile(
    r"\b(?:windows?|runs?)\s+of\s+(\d+)\s+tokens?\b")
_PASSAGE_BUILD_RE = re.compile(
    r"\b(?:build|create)\b[^.]*\bpassage\s+snapshot\b")
_DOMAIN_RANK_RE = re.compile(
    r"\b(?:rank|pagerank|score)\b[^.]*\bdomains?\b"
    r"|\bdomain\s+rank(?:ing)?\b")
_ITER_RE = re.compile(r"\b(\d+)\s+iterations?\b")
_COMPACT_RE = re.compile(
    r"\bcompact\b[^.]*\b(?:snapshot|store|index)\b")
_LICENSE_RE = re.compile(
    r"\blicen[cs]e\s+(?:audit|scan)\b"
    r"|\b(?:scan|audit)\b[^.]*\blicen[cs]es?\b")
_LICENSE_DROP_RE = re.compile(
    r"\b(?:drop|remov|filter)\w*\b[^.]*?"
    r"\b(copyleft|restricted|cc|permissive|unmarked)\b"
    r"(?:[^.]*?\b(copyleft|restricted|cc|permissive|unmarked)\b)?")
_BINPACK_RE = re.compile(
    r"\bbin[- ]?pack\b|\bwithout\s+truncat\w+\b")
_BIN_BUDGET_RE = re.compile(
    r"\bbins?\s+of\s+(\d+)\s+tokens?\b|\bbudget\s+(?:of\s+)?(\d+)\b")
_EMBED_RE = re.compile(
    r"\bembed\b[^.]*\b(?:documents|corpus|docs)\b")
_DIM_RE = re.compile(r"\b(\d+)\s+dim(?:ension)?s?\b")
_DIFF_TARGET_RE = re.compile(r"\bdiff\b")
# paths may be local (/, ./, ~/) or any Hadoop-filesystem URI
# (s3://, s3a://, hdfs://, gs://, abfs://, file://) — production
# snapshots and crawls live behind URI schemes, not local mounts
_PATH_SHAPE = r"((?:[A-Za-z][A-Za-z0-9+.-]*://|/|\./|~/)[^\s,;]+)"
_SNAPSHOT_PATH_RE = re.compile(
    r"\bsnapshot\s+(?:at\s+|in\s+)?" + _PATH_SHAPE, re.IGNORECASE)
_GRAPH_PATH_RE = re.compile(
    r"\b(?:link\s+)?graph\s+(?:at\s+|in\s+)?" + _PATH_SHAPE,
    re.IGNORECASE)
_CHUNK_TARGET_RE = re.compile(r"\bchunk(?:ed|ing|s)?\b")
_CHUNK_SIZE_RE = re.compile(r"\bsize\s+(?:of\s+)?(\d+)\b")
_CHUNK_STRIDE_RE = re.compile(r"\b(?:stride|overlap step)\s+(?:of\s+)?(\d+)\b")
_SEMANTIC_TARGET_RE = re.compile(r"\bsemantic(?:ally)?\b|\bby embeddings?\b")
_ANN_TARGET_RE = re.compile(
    r"\bnearest\s+neighbou?rs?\b|\bann\s+(?:search|index)\b|"
    r"\bsimilarity\s+search\b")
# lexical (BM25) retrieval: the query text rides in quotes — 'search
# the corpus for "hash join strategies"'. Distinct from the dense ANN
# family above (which searches the embeddings table against itself).
_RETRIEVE_TARGET_RE = re.compile(
    r"\bbm25\b|\bsearch the corpus\b|\bsearch the index\b|"
    r"\bretrieve\b.{0,40}\b(?:documents|docs)\b")
_HYBRID_TARGET_RE = re.compile(
    r"\bhybrid\b|\bboth\s+keywords?\s+and\s+(?:embeddings?|vectors?)\b"
    r"|\bkeywords?\s+and\s+embeddings?\b")
_LIKE_DOCS_RE = re.compile(
    r"\blike\s+doc(?:ument)?s?\s+(\d+(?:\s*(?:,|and)\s*\d+)*)")
_QUOTED_RE = re.compile(r"[\"']([^\"']{1,200})[\"']")
# 'build a retrieval index over the corpus': the build face of the
# persisted BM25 store ('ann/vector index' phrasings stay on the
# dense ANN build above)
_BM25_INDEX_BUILD_RE = re.compile(
    r"\b(?:build|create)\b[^.]*"
    r"\b(?:retrieval|bm25|lexical|inverted)\s+index\b")
_ANN_K_RE = re.compile(
    r"\b(\d+)\s+nearest\b|\btop\s+(\d+)\b|\bk\s*=\s*(\d+)\b")
_SEM_THRESHOLD_RE = re.compile(r"\bthreshold\s+(?:of\s+)?(0?\.\d+)\b")
_SIMILARITY_RE = re.compile(r"\bsimilarity\s+(?:of\s+)?(0?\.\d+)\b")
_CLUSTERS_RE = re.compile(r"\b(\d+)\s+clusters?\b")
# 'cluster the embeddings into 12 topics' — standalone corpus
# clustering (data-map view); scoped to the cluster VERB + a corpus
# noun so 'semantically dedup with 32 clusters' never lands here
# (the semantic branch is also checked first)
_CLUSTER_TARGET_RE = re.compile(
    r"\bcluster(?:ing)?\b[^.]*\b(?:embeddings?|corpus|documents)\b"
    r"|\binto\s+\d+\s+topics\b")
_TOPICS_RE = re.compile(r"\b(\d+)\s+topics\b")
_CLUSTER_ASSIGN_RE = re.compile(
    r"\b(?:assign|map)\b[^.]*\bto the (?:clusters?|cluster map)\b")
_CLUSTERS_PATH_RE = re.compile(
    r"\bcluster(?:s| map)?\s+(?:at\s+|in\s+)?" + _PATH_SHAPE,
    re.IGNORECASE)
# 'verify the shards at /path against the manifest' — receiving-side
# integrity check of a shipped shard set (manifest defaults to the
# writer's <shards>_manifest sidecar; 'manifest at /other' overrides)
_SHARD_VERIFY_RE = re.compile(
    r"\b(?:verify|check|validate)\b[^.]*\bshards?\b")
_SHARDS_PATH_RE = re.compile(
    r"\bshards?\s+(?:at\s+|in\s+)?" + _PATH_SHAPE, re.IGNORECASE)
_MANIFEST_PATH_RE = re.compile(
    r"\bmanifest\s+(?:at\s+|in\s+)?" + _PATH_SHAPE, re.IGNORECASE)
# WebDataset tar-shard export — the delivery format streaming training
# loaders consume ('export the corpus as webdataset, 8 shards' /
# 'write the corpus to webdataset shards at 64 mb'); the verify verb
# stays on the manifest-check route
_WDS_RE = re.compile(r"\bweb\s?dataset\b|\btar\s+shards?\b")
_WDS_MB_RE = re.compile(r"\b(\d+)\s*mb\b")
_TEMP_TARGET_RE = re.compile(r"\btemperature\b|\bflatten\b")
# 'unimax the language mix, budget 50000 tokens, at most 2 epochs':
# epoch-capped uniform allocation — keyword-gated (unimax / epoch-cap
# phrasing) so 'budget'/'epochs' alone never hijack other targets
_UNIMAX_TARGET_RE = re.compile(r"\bunimax\b|\bepoch[- ]capp?(?:ed|ing)?\b")
# 'shuffle the corpus for training, epoch 3' / 'write the training
# order': the deterministic global permutation (SM11). 'shard' wins —
# corpus_to_shards already shuffles as part of sharding.
_SHUFFLE_TARGET_RE = re.compile(
    r"\bshuffle\b.{0,40}\b(?:corpus|training|examples|documents)\b"
    r"|\btraining\s+order\b")
_EPOCH_N_RE = re.compile(r"\bepoch\s+(\d+)\b")
_UNIMAX_BUDGET_RE = re.compile(
    r"\bbudget\s+(?:of\s+)?([\d][\d,_]*)|([\d][\d,_]*)[\s-]token\s+budget"
    r"|\ballocate\s+([\d][\d,_]*)\s+tokens\b")
_UNIMAX_EPOCHS_RE = re.compile(
    r"\b(?:at\s+most|max(?:imum)?(?:\s+of)?)\s+(\d+)\s+epochs?\b"
    r"|\b(\d+)\s+epochs?\s+(?:cap|max)\b|\bepoch\s+cap\s+(?:of\s+)?(\d+)\b")
_CRAWL_TARGET_RE = re.compile(r"\bcrawl\b|\bwarc\b")
# 'build the link graph from the crawl at /path' — href extraction
# into (src, dst) domain edges; checked BEFORE the bare crawl door
_LINK_GRAPH_BUILD_RE = re.compile(
    r"\b(?:build|extract|create)\b[^.]*\blink\s+graph\b")
_CRAWL_PATH_RE = re.compile(
    r"\b(?:crawl|warcs?|archive)\s+(?:at\s+|in\s+|from\s+)?"
    + _PATH_SHAPE, re.IGNORECASE)
_PDF_TARGET_RE = re.compile(r"\bpdfs?\b")
_PDF_PATH_RE = re.compile(
    r"\bpdfs?\s+(?:at\s+|in\s+|from\s+)?" + _PATH_SHAPE, re.IGNORECASE)
_ARCHIVE_TARGET_RE = re.compile(r"\bzips?\b|\btarballs?\b|\btars?\b")
_ARCHIVE_PATH_RE = re.compile(
    r"\b(?:zip|tarball|tar(?:\.gz)?|archive)s?\s+(?:at\s+|in\s+|from\s+)?"
    + _PATH_SHAPE, re.IGNORECASE)
_DATACARD_TARGET_RE = re.compile(r"\bdata\s?card\b|\bdatasheet\b")
_CENSUS_TARGET_RE = re.compile(
    r"\bcensus\b|\bcorpus stat(?:istic)?s\b"
    r"|\bcorpus .*length distribution\b")
_TOKENIZE_TARGET_RE = re.compile(r"\btokeni[sz]e\b")
_TOKENIZER_TRAIN_RE = re.compile(
    r"\btrain\b[^.]*\btokeni[sz]er\b")
# 'report tokenizer stats with the tokenizer at /path' / 'tokenizer
# fertility per language' — the artifact-validation telemetry.
# 'fertility' alone is NOT enough: it must sit in the same sentence
# as a token/tokenizer word, else any dataops query that merely
# mentions the word would be hijacked ahead of every later target.
_TOKSTATS_RE = re.compile(
    r"\btokeni[sz]er\b[^.]*\b(?:stats|statistics|fertility|"
    r"compression)\b|\bfertility\b[^.]*\btoken\w*\b")
_TOKENIZER_PATH_RE = re.compile(
    r"\btokeni[sz]er\s+(?:at\s+|in\s+|from\s+)?" + _PATH_SHAPE,
    re.IGNORECASE)
_CLASSIFIER_TRAIN_RE = re.compile(
    r"\btrain\b[^.]*\b(?:quality\s+)?classifier\b")
_CLASSIFIER_SCORE_RE = re.compile(
    r"\bscore\b[^.]*\bwith\s+the\s+(?:quality\s+)?classifier\b")
_CLASSIFIER_PATH_RE = re.compile(
    r"\bclassifier\s+(?:at\s+|in\s+|from\s+)?" + _PATH_SHAPE,
    re.IGNORECASE)
_MERGES_RE = re.compile(r"\b(\d+)\s+merges?\b")
_DSIR_TARGET_RE = re.compile(r"\bdsir\b|\bimportance\b|\bresampl")
_DSIR_SOURCE_RE = re.compile(
    r"\b(?:toward|towards|like|similar to)\s+(?:the\s+)?(?:source\s+|"
    r"domain\s+)?'?([A-Za-z0-9_.-]+)'?", re.IGNORECASE)
_ALPHA_RE = re.compile(
    r"\b(?:temperature|alpha)\s+(?:of\s+)?(0?\.\d+|1(?:\.0)?|0)\b")
# budget binds from a budget-flavored anchor word when one is present;
# otherwise a bare 'N tokens' counts ONLY if it doesn't overlap the
# seq-length match — 'pack into contexts of 512 tokens' names the
# context size, not the budget, and must not clobber the default
_TOKEN_BUDGET_KEYED_RE = re.compile(
    r"\b(?:budget|select|keep|total)\D{0,15}?([\d][\d,_]*)\s*tokens?\b")
_TOKEN_BUDGET_RE = re.compile(r"\b([\d][\d,_]*)\s*tokens?\b")
_SEQ_LEN_RE = re.compile(
    r"\b(?:sequence|seq|context)s?(?:\s+length)?(?:\s+of)?\s+(\d+)\b")
_SHARDS_RE = re.compile(r"\b(\d+)\s+shards?\b")
_EPOCH_RE = re.compile(r"\bepoch\s+(\d+)\b")
_DECONTAM_TARGET_RE = re.compile(r"\bdecontaminat|\bcontamination\b")
_BENCH_SPAN_RE = re.compile(
    r"\b(?:remove|strip|cut|flag|find)\b[^.]*\bbenchmark\s+"
    r"(?:passages?|spans?|quotes?)\b")
_BENCH_PATH_RE = re.compile(
    r"\b(?:benchmark|eval(?:uation)?\s+set|test\s+set)s?\s+"
    r"(?:at\s+|in\s+|from\s+)?" + _PATH_SHAPE, re.IGNORECASE)
_OVERLAP_RE = re.compile(
    r"\b(?:min(?:imum)?\s+)?overlap\s+(?:of\s+)?(\d+)\b")
_ANN_INDEX_BUILD_RE = re.compile(
    r"\b(?:build|create|fit)\b[^.]*\b(?:ann|ivf(?:-?pq)?|vector)\s+"
    r"index\b|\bindex\s+the\s+embeddings\b")
_ANN_INDEX_APPEND_RE = re.compile(
    r"\b(?:append|add)\b[^.]*\bto\s+the\s+"
    r"(?:ann\s+|ivf(?:-?pq)?\s+|vector\s+)?index\b")
_ANN_RECALL_RE = re.compile(
    r"\brecall\s+of\s+the\s+(?:ann\s+|ivf(?:-?pq)?\s+|vector\s+)?"
    r"index\b"
    r"|\b(?:estimate|measure|check|report)\b[^.]*\bindex\b[^.]*"
    r"\brecall\b")
_PROBES_RE = re.compile(r"\bprobing\s+(\d+)\b|\b(\d+)\s+probes\b")
_SAMPLE_Q_RE = re.compile(r"\bsampl(?:e|ing)\s+(\d+)\s+quer")
_ANN_TUNE_RE = re.compile(
    r"\btune\b[^.]*\b(?:ann\s+|ivf(?:-?pq)?\s+|vector\s+)?index\b")
_TARGET_RECALL_RE = re.compile(r"\brecall\s+(?:of\s+)?(0?\.\d+|1\.0|1)\b")
# 'add the new documents to the retrieval index at /path': the
# lexical epoch-grow face (append_bm25_index) — the explicit
# retrieval/bm25/lexical/inverted qualifier keeps it disjoint from
# the dense append above, whose regex only accepts ann/ivf/vector
# or a bare 'the index'
_BM25_INDEX_APPEND_RE = re.compile(
    r"\b(?:append|add)\b[^.]*\bto\s+the\s+"
    r"(?:retrieval|bm25|lexical|inverted)\s+index\b")
_STORE_BUILD_RE = re.compile(
    r"\b(?:build|create)\b[^.]*\b(?:bucketed\s+)?corpus\s+store\b")
_UPSERT_RE = re.compile(
    r"\b(?:upsert|merge)\b[^.]*\binto\s+the\s+corpus\s+store\b")
_REBUCKET_RE = re.compile(
    r"\brebucket\b[^.]*\b(?:corpus\s+)?store\b"
    r"|\bre-?derive\b[^.]*\bbucket\b[^.]*\bstore\b")
_STORE_PATH_RE = re.compile(
    r"\bstore\s+(?:at\s+|in\s+)?" + _PATH_SHAPE, re.IGNORECASE)
_BUCKETS_RE = re.compile(r"\b(\d+)\s+buckets?\b")
_INDEX_PATH_RE = re.compile(
    r"\bindex\s+(?:at\s+|in\s+)?" + _PATH_SHAPE, re.IGNORECASE)
_LISTS_RE = re.compile(r"\b(\d+)\s+(?:lists|inverted lists)\b")
_SPLIT_TARGET_RE = re.compile(
    r"\bsplit\b[^.]*\binto\s+train\b|"
    r"\btrain\s*/\s*(?:val(?:id(?:ation)?)?|dev)\s*/\s*test\b")
_SPLIT_FRACS_RE = re.compile(r"\b(\d{1,2})\s*/\s*(\d{1,2})\s*/\s*(\d{1,2})\b")
# media lifecycle: 'dedup the images' / 'dedup the audio clips' ->
# perceptual dedup over the media table (dHash / aHash); 'flag the
# new images|audio against the snapshot at /p' -> batch probe of a
# persisted hamming snapshot. The probe wording outranks the generic
# incremental-dedup route (which would otherwise claim 'dedup the new
# images against the seen snapshot')
_MEDIA_PROBE_RE = re.compile(
    r"\b(?:flag|probe|check|dedup(?:licate)?)\b"
    r"[^.]*\b(images?|audio(?:\s+clips?)?|videos?(?:\s+clips?)?)\b"
    r"[^.]*\bagainst\b[^.]*\bsnapshot\b")
# text near-dup probe: 'flag near-duplicate documents against the
# band snapshot at /p' — the MinHash band-table face of the media
# probes; the 'band' qualifier keeps the exact-dedup route
# ('dedup ... against the seen snapshot') unambiguous
_NEARDUP_PROBE_RE = re.compile(
    r"\b(?:flag|probe|check)\b[^.]*\bnear[- ]?dup(?:licate)?s?\b"
    r"[^.]*\bagainst\b[^.]*\bband\s+snapshot\b"
    r"|\bnear[- ]?dup(?:licate)?s?\b[^.]*\bband\s+snapshot\b")
# 'build a near-dup band snapshot of the corpus' — the build face of
# the probe above (scoped to build verbs so the probe route keeps
# every 'against ...' phrasing)
_BAND_SNAPSHOT_BUILD_RE = re.compile(
    r"\b(?:build|create|fit|make)\b[^.]*\bband\s+snapshot\b")
_MEDIA_DEDUP_RE = re.compile(
    r"\bdedup(?:licate)?\b"
    r"[^.]*\b(images?|audio(?:\s+clips?)?|videos?(?:\s+clips?)?)\b"
    r"|\b(image|audio|video)\s+dedup")
# sub-clip containment: 'find videos containing clips of each other'
# / 'audio containment' -> containment pairs + the packed frame-hash
# band snapshot; 'flag the new videos sharing frames with the
# snapshot at /p' -> batch probe of that store. The probe wording
# ('sharing ... snapshot') is disjoint from the media probes'
# 'against ... snapshot', but the probe regex still runs FIRST so a
# combined phrasing routes to the more specific target
_CONTAIN_PROBE_RE = re.compile(
    r"\b(?:flag|probe|check)\b[^.]*\b(videos?|audio(?:\s+clips?)?)\b"
    r"[^.]*\bsharing\b[^.]*\b(?:frames?|windows?|segments?)\b"
    r"[^.]*\bsnapshot\b")
_CONTAIN_RE = re.compile(
    r"\b(?:find|detect|match)\b[^.]*\b(videos?|audio(?:\s+clips?)?)\b"
    r"[^.]*\b(?:contain|sub-?clip|sharing\s+(?:frames?|windows?|"
    r"segments?))"
    r"|\b(video|audio)\s+containment\b")
_MIN_SHARED_RE = re.compile(
    r"\bat\s+least\s+(\d+)\s+(?:shared\s+)?"
    r"(?:frames?|windows?|segments?)\b")
_HAMMING_RE = re.compile(
    r"\bwithin\s+(\d+)\s+bits?\b|\bhamming\s+(?:of\s+)?(\d+)\b")


def derive_n_clusters(n_docs: int, target_cluster_size: int = 2_000) -> int:
    """Corpus-proportional SemDeDup cluster count: per-cluster pair
    work is |cluster|², so holding the TARGET CLUSTER SIZE constant
    (not the cluster count) keeps total pair work linear in the
    corpus — n/2k clusters of ~2k docs is ~2k·n pairs at any scale,
    where a fixed count would be n²/k. The 16 floor keeps tiny test
    corpora from degenerating to one cluster; the SemDeDup paper's
    50k clusters on a ~10⁸-doc corpus sits on the same curve."""
    return max(16, int(n_docs) // max(1, target_cluster_size))


def derive_n_buckets(n_docs: int, docs_per_bucket: int = 4_000,
                     floor: int = 8) -> int:
    """Corpus-proportional packing bucket count:
    ``pack_sequences``/``pack_chunks`` run ONE shuffle whose task
    count IS ``n_buckets`` (each bucket is an independent packing
    stream — ``operators/packing.py``), so a fixed default caps a
    1000-executor cluster at single-digit parallelism while each of
    the 8 tasks walks 1/8th of a 100× corpus. Holding DOCS PER
    BUCKET constant instead keeps per-task work flat at any corpus
    size — the same curve as :func:`derive_n_clusters`.

    Bucket count participates in the output's deterministic identity
    (docs hash into streams by ``hash32(id||salt) % n_buckets``, and
    each bucket drops its own trailing partial sequence), so it
    derives from the CORPUS — same corpus, same buckets, same packed
    rows — and never from cluster topology like
    ``defaultParallelism``. The floor preserves the historical small-
    corpus default; a user who names a count keeps it verbatim."""
    return max(floor, int(n_docs) // max(1, docs_per_bucket))


def parse_dataops_query(query: str) -> Optional[dict]:
    """NL corpus-curation query -> typed parameter dict, or None when
    the query carries no dataops intent. The first ``TARGETS`` row (in
    priority order) whose binder accepts the query names the target;
    ``corpus_to_shards``, the last row, takes every query that passes
    the hint gate. 'explain: <query>' on a non-dataops query lists
    every target with an example."""
    ql = query.lower()
    if not any(h in ql for h in _DATAOPS_HINTS):
        return None
    for target in TARGETS:
        params = target.bind(ql, query)
        if params is not None:
            return {"target": target.name, **params}
    raise AssertionError("corpus_to_shards binds every query")


# -- binders: (lowercased query, original query) -> plan params or None

def _first_int(regex, ql: str, default: Optional[int] = None):
    """The first non-empty group of ``regex``'s first match in ``ql``
    as an int ('50,000' and '50_000' read as 50000), else ``default``."""
    m = re.search(regex, ql)
    if m is None:
        return default
    return int(next(g for g in m.groups() if g).replace(",", "")
               .replace("_", ""))


def _path(regex: re.Pattern, query: str) -> Optional[str]:
    """The path ``regex`` captures in the original query (paths keep
    their case), or None when the query names none."""
    m = regex.search(query)
    return m.group(1) if m else None


def _path_binder(gate: re.Pattern, path_re: Optional[re.Pattern] = None,
                 key: str = "") -> Callable[[str, str], Optional[dict]]:
    """Binder of a target whose only parameter, if any, is a path:
    ``gate`` accepts the lowercased query, ``path_re`` binds ``key``
    from the original one (None when the query names no path)."""
    def bind(ql: str, query: str) -> Optional[dict]:
        if gate.search(ql):
            return {key: _path(path_re, query)} if path_re else {}
    return bind


def _bind_corpus_diff(ql: str, query: str) -> Optional[dict]:
    # snapshot-anchored targets outrank the bare crawl keyword: 'dedup
    # the crawl batch against the seen snapshot at /p' is incremental
    # dedup over crawl OUTPUT, not a fresh ingest — a crawl mention
    # only routes to ingest_crawl when no snapshot intent is present
    if _DIFF_TARGET_RE.search(ql) and ("snapshot" in ql
                                       or "previous" in ql):
        return {"snapshot_path": _path(_SNAPSHOT_PATH_RE, query)}


def _bind_compact_store(ql: str, query: str) -> Optional[dict]:
    if _COMPACT_RE.search(ql):
        return {"store_path": (_path(_SNAPSHOT_PATH_RE, query)
                               or _path(_STORE_PATH_RE, query)
                               or _path(_INDEX_PATH_RE, query))}


def _bind_license_scan(ql: str, query: str) -> Optional[dict]:
    if _LICENSE_RE.search(ql):
        drop = []
        if m := _LICENSE_DROP_RE.search(ql):
            drop = sorted({g for g in m.groups() if g})
        return {"drop": drop}


def _bind_bin_pack(ql: str, query: str) -> Optional[dict]:
    if _BINPACK_RE.search(ql):
        budget = _first_int(_BIN_BUDGET_RE, ql, 1024)
        nb = _first_int(_BUCKETS_RE, ql)
        return {"budget": budget, "n_buckets": nb}


def _bind_embed_documents(ql: str, query: str) -> Optional[dict]:
    if _EMBED_RE.search(ql):
        dim = _first_int(_DIM_RE, ql, 64)
        return {"dim": dim}


def _bind_band_snapshot(ql: str, query: str) -> Optional[dict]:
    if _BAND_SNAPSHOT_BUILD_RE.search(ql):
        # 'at similarity 0.8' / 'threshold 0.8' opts into the LSH
        # parameter advisor (minhash_band_plan) instead of the
        # default 16x4 banding
        thr = None
        if m := (_SEM_THRESHOLD_RE.search(ql)
                 or _SIMILARITY_RE.search(ql)):
            thr = float(m.group(1))
        return {"threshold": thr}


def _bind_neardup_probe(ql: str, query: str) -> Optional[dict]:
    if _NEARDUP_PROBE_RE.search(ql):
        return {"snapshot_path": _path(_SNAPSHOT_PATH_RE, query),
                "hot_policy": ("star" if ("star" in ql
                                          or "recover" in ql)
                               else "drop"),
                "update": "update" in ql or "grow" in ql}


def _bind_passage_snapshot(ql: str, query: str) -> Optional[dict]:
    if _PASSAGE_BUILD_RE.search(ql):
        w = _first_int(_SUBSTR_WINDOW_RE, ql, 50)
        return {"window": w}


def _bind_domain_rank(ql: str, query: str) -> Optional[dict]:
    if _DOMAIN_RANK_RE.search(ql) and ("link graph" in ql
                                       or "pagerank" in ql
                                       or "harmonic" in ql
                                       or "domain rank" in ql):
        return {"edges_path": _path(_GRAPH_PATH_RE, query),
                # 'by harmonic centrality' swaps the power iteration
                # for the HyperBall sketch expansion (radius = the
                # iteration knob, default 8)
                "method": ("harmonic" if "harmonic" in ql
                           else "pagerank"),
                "n_iter": _first_int(_ITER_RE, ql,
                                     8 if "harmonic" in ql else 10)}


def _bind_passage_probe(ql: str, query: str) -> Optional[dict]:
    # a snapshot mention routes a passage phrasing to the incremental
    # probe face instead of the batch span report
    if _SUBSTR_TARGET_RE.search(ql) and "snapshot" in ql:
        return {"snapshot_path": _path(_SNAPSHOT_PATH_RE, query),
                "update": "update" in ql or "grow" in ql}


def _bind_substring_dedup(ql: str, query: str) -> Optional[dict]:
    if m := _SUBSTR_TARGET_RE.search(ql):
        w = _first_int(_SUBSTR_WINDOW_RE, ql, 50)
        return {"window": w,
                # 'flag'/'find' report the span table; 'remove'/
                # 'strip'/'cut' rewrite the corpus
                "flag_only": m.group(1) in ("flag", "find")}


def _bind_containment_probe(ql: str, query: str) -> Optional[dict]:
    if m := _CONTAIN_PROBE_RE.search(ql):
        modality = "audio" if "audio" in m.group(1) else "video"
        ms = _first_int(_MIN_SHARED_RE, ql, 2)
        return {"modality": modality, "min_shared": ms,
                "snapshot_path": _path(_SNAPSHOT_PATH_RE, query),
                "update": "update" in ql or "grow" in ql}


def _media_modality(noun: str) -> str:
    return ("audio" if "audio" in noun
            else "video" if "video" in noun else "image")


def _containment_binder(modality: str) -> Callable[[str, str],
                                                   Optional[dict]]:
    """Binder of the ``<modality>_containment`` row."""
    def bind(ql: str, query: str) -> Optional[dict]:
        m = _CONTAIN_RE.search(ql)
        if not m or _media_modality(m.group(1) or m.group(2)) != modality:
            return None
        ms = _first_int(_MIN_SHARED_RE, ql, 2 if modality == "audio" else 3)
        mh = _first_int(_HAMMING_RE, ql, 6)
        return {"modality": modality, "min_shared": ms,
                "max_hamming": mh, "n_blocks": 8,
                "hot_policy": ("reband" if ("reband" in ql
                                            or "recover" in ql)
                               else "drop")}
    return bind


def _media_probe_binder(modality: str) -> Callable[[str, str],
                                                   Optional[dict]]:
    """Binder of the ``<modality>_probe`` row."""
    def bind(ql: str, query: str) -> Optional[dict]:
        m = _MEDIA_PROBE_RE.search(ql)
        if not m or _media_modality(m.group(1)) != modality:
            return None
        # '... and update the snapshot' additionally appends the
        # batch's FRESH (unflagged, within-batch-deduped) fingerprints
        # to the store — the epoch-grow step, like the Bloom/ANN stores
        return {"modality": modality,
                "snapshot_path": _path(_SNAPSHOT_PATH_RE, query),
                "update": "update" in ql or "grow" in ql}
    return bind


def _media_dedup_binder(modality: str) -> Callable[[str, str],
                                                   Optional[dict]]:
    """Binder of the ``<modality>_dedup`` row."""
    def bind(ql: str, query: str) -> Optional[dict]:
        m = _MEDIA_DEDUP_RE.search(ql)
        if not m or _media_modality(m.group(1) or m.group(2)) != modality:
            return None
        mh = _first_int(_HAMMING_RE, ql, 6)
        # 'recovering hot buckets' / 'reband' opts over-cap buckets
        # into the skew-aware re-banding tier instead of dropping them
        return {"modality": modality,
                "max_hamming": mh, "n_blocks": 8,
                "hot_policy": ("reband" if ("reband" in ql
                                            or "recover" in ql)
                               else "drop")}
    return bind


def _bind_incremental_dedup(ql: str, query: str) -> Optional[dict]:
    if (("dedup" in ql or "deduplicate" in ql or "ingest" in ql)
            and "against" in ql and "snapshot" in ql):
        return {"snapshot_path": _path(_SNAPSHOT_PATH_RE, query),
                "bloom": "bloom" in ql}


def _bind_webdataset_write(ql: str, query: str) -> Optional[dict]:
    if _WDS_RE.search(ql) and not _SHARD_VERIFY_RE.search(ql):
        ns = _first_int(_SHARDS_RE, ql)
        mb = _first_int(_WDS_MB_RE, ql, 256)
        # 'export the images/media/clips as webdataset' ships the
        # media table's payload bytes instead of document text
        media = bool(re.search(
            r"\b(?:images?|media|audio|clips?|videos?)\b", ql))
        return {"n_shards": ns, "target_shard_mb": mb,
                "table": "media" if media else "documents"}


def _bind_verify_shards(ql: str, query: str) -> Optional[dict]:
    if _SHARD_VERIFY_RE.search(ql) and not _DECONTAM_TARGET_RE.search(ql):
        # the decontam exclusion keeps 'check the corpus shards for
        # contamination against the benchmark at /b' on its intended
        # route — 'verify/check ... shards' alone is the manifest check
        return {"shards_path": _path(_SHARDS_PATH_RE, query),
                "manifest_path": _path(_MANIFEST_PATH_RE, query)}


def _bind_data_card(ql: str, query: str) -> Optional[dict]:
    if _DATACARD_TARGET_RE.search(ql):
        # 'generate a data card ... with the tokenizer at /path' adds
        # the TK4 fertility section: per-language tokens-per-word is
        # exactly the per-language coverage number a datasheet carries.
        # A named token budget ('... with a budget of 1000000 tokens,
        # at most 2 epochs') adds the SM10 suggested-mix section —
        # pure driver math over the census the card already collects.
        budget = _first_int(_UNIMAX_BUDGET_RE, ql)
        ep = _first_int(_UNIMAX_EPOCHS_RE, ql, 2)
        return {"tokenizer_path": _path(_TOKENIZER_PATH_RE, query),
                "mix_budget": budget, "mix_epochs": ep}


def _bind_corpus_census(ql: str, query: str) -> Optional[dict]:
    if _CENSUS_TARGET_RE.search(ql):
        # 'with a length histogram' / 'length distribution' adds the
        # power-of-two token-length histogram sidecar; 'distinct'
        # adds the HLL distinct-fingerprint census (dup-rate telemetry)
        return {"histogram": ("histogram" in ql
                              or "distribution" in ql),
                "distinct": "distinct" in ql}


def _bind_decontaminate_spans(ql: str, query: str) -> Optional[dict]:
    # 'at the passage level' / 'remove benchmark passages' ->
    # span-surgical decontamination: cut the leaked run, keep the
    # document (D19)
    if _BENCH_SPAN_RE.search(ql) or (_DECONTAM_TARGET_RE.search(ql)
                                     and ("passage" in ql
                                          or "span" in ql)):
        w = _first_int(_SUBSTR_WINDOW_RE, ql, 20)
        return {"benchmark_path": _path(_BENCH_PATH_RE, query),
                "window": w,
                "flag_only": ("flag" in ql or "find" in ql)}


def _bind_decontaminate(ql: str, query: str) -> Optional[dict]:
    if _DECONTAM_TARGET_RE.search(ql):
        thr = (float(t.group(1))
               if (t := _SEM_THRESHOLD_RE.search(ql)) else 0.95)
        ov = _first_int(_OVERLAP_RE, ql, 3)
        return {"benchmark_path": _path(_BENCH_PATH_RE, query),
                "semantic": bool(_SEMANTIC_TARGET_RE.search(ql)),
                "threshold": thr, "min_overlap": ov}


def _bind_tokenizer_train(ql: str, query: str) -> Optional[dict]:
    if _TOKENIZER_TRAIN_RE.search(ql):
        merges = _first_int(r"\bvocab(?:ulary)?\s+(?:of\s+)?(\d+)\b", ql,
                            _first_int(_MERGES_RE, ql, 200))
        return {"n_merges": merges,
                "model": ("unigram" if ("unigram" in ql
                                        or "sentencepiece" in ql)
                          else "bpe")}


def _bind_tokenize_pack(ql: str, query: str) -> Optional[dict]:
    if _TOKENIZE_TARGET_RE.search(ql):
        seq = _first_int(_SEQ_LEN_RE, ql,
                         # '512-token sequences' phrasing
                         _first_int(r"\b(\d+)[- ]token\b", ql, 512))
        merges = _first_int(_MERGES_RE, ql, 200)
        # n_buckets=None -> corpus-derived at run time (the packing
        # shuffle's task count IS n_buckets; a fixed default is a
        # 100x-scale trap — see derive_n_buckets)
        nb = _first_int(_SHARDS_RE, ql)
        return {"seq_len": seq, "n_merges": merges, "n_buckets": nb,
                # 'with the tokenizer at /path' loads the persisted
                # artifact (kind inferred from its columns) instead
                # of retraining — the train-once contract
                "tokenizer_path": _path(_TOKENIZER_PATH_RE, query),
                # 'with a unigram model' / 'sentencepiece' swaps the
                # BPE trainer for the unigram-LM tokenizer (TK3)
                "model": ("unigram" if ("unigram" in ql
                                        or "sentencepiece" in ql)
                          else "bpe"),
                # 'with an eos separator' reserves the id just past
                # the vocab for the per-document delimiter
                "eos": "eos" in ql or "separator" in ql}


def _bind_split_corpus(ql: str, query: str) -> Optional[dict]:
    if _SPLIT_TARGET_RE.search(ql):
        fr = _SPLIT_FRACS_RE.search(ql)
        if fr:
            a, b, c = (int(fr.group(i)) for i in (1, 2, 3))
            tot = a + b + c
            splits = {"train": a / tot, "val": b / tot, "test": c / tot}
        else:
            splits = {"train": 0.8, "val": 0.1, "test": 0.1}
        return {"splits": splits,
                "leak_safe": ("leak" in ql or "near-dup" in ql
                              or "near dup" in ql)}


def _bind_corpus_store_build(ql: str, query: str) -> Optional[dict]:
    if _STORE_BUILD_RE.search(ql):
        nb = _first_int(_BUCKETS_RE, ql)
        return {"n_buckets": nb}


def _bind_ann_tune(ql: str, query: str) -> Optional[dict]:
    if _ANN_TUNE_RE.search(ql):
        k = _first_int(_ANN_K_RE, ql, 10)
        target = 0.9
        if m := _TARGET_RECALL_RE.search(ql):
            target = float(m.group(1))
        nq = _first_int(_SAMPLE_Q_RE, ql, 32)
        return {"k": k, "target_recall": target, "n_queries": nq,
                "index_path": _path(_INDEX_PATH_RE, query)}


def _bind_ann_recall(ql: str, query: str) -> Optional[dict]:
    if _ANN_RECALL_RE.search(ql):
        k = _first_int(_ANN_K_RE, ql, 10)
        # None when the query names no probe count: the handler then
        # prefers the store's tuned _meta sidecar over the static
        # default — an explicit 'probing N lists' always wins
        n_probe = _first_int(_PROBES_RE, ql)
        nq = _first_int(_SAMPLE_Q_RE, ql, 32)
        return {"k": k, "n_probe": n_probe, "n_queries": nq,
                "index_path": _path(_INDEX_PATH_RE, query)}


def _bind_ann_index_build(ql: str, query: str) -> Optional[dict]:
    if _ANN_INDEX_BUILD_RE.search(ql):
        nl = _first_int(_LISTS_RE, ql)
        return {"n_lists": nl, "opq": "opq" in ql or "rotation" in ql}


def _bind_hybrid_search(ql: str, query: str) -> Optional[dict]:
    if _HYBRID_TARGET_RE.search(ql):
        k = _first_int(_ANN_K_RE, ql, 10)
        ids = []
        if m := _LIKE_DOCS_RE.search(ql):
            ids = [int(x) for x in re.findall(r"\d+", m.group(1))]
        # '... using the ann index at /path' rides the PERSISTED
        # IVF-PQ store as the dense tower (probed-lists cost instead
        # of a corpus scan); n_probe resolves like the search face —
        # explicit 'probing N lists' > tuned _meta > default
        n_probe = _first_int(_PROBES_RE, ql)
        return {"k": k, "doc_ids": ids,
                "index_path": _path(_INDEX_PATH_RE, query),
                "n_probe": n_probe}


def _bind_retrieve(ql: str, query: str) -> Optional[dict]:
    if _RETRIEVE_TARGET_RE.search(ql):
        k = _first_int(_ANN_K_RE, ql, 10)
        return {"k": k,
                # 'search the index at /p for "..."' probes the
                # persisted BM25 store instead of rescanning
                "index_path": _path(_INDEX_PATH_RE, query),
                # query strings keep their original case
                "queries": _QUOTED_RE.findall(query)}


def _bind_ann_search(ql: str, query: str) -> Optional[dict]:
    if _ANN_TARGET_RE.search(ql):
        k = _first_int(_ANN_K_RE, ql, 10)
        # 'with an opq rotation' opts the index into the parametric
        # OPQ rotation — same exact-tier answers, tighter ADC; the
        # run reports the rotation's reconstruction-MSE delta.
        # '... using the ann index at /path' searches the PERSISTED
        # store instead of rebuilding (tuned n_probe from its _meta;
        # an explicit 'probing N lists' wins, the recall-face rule)
        n_probe = _first_int(_PROBES_RE, ql)
        return {"k": k, "opq": "opq" in ql or "rotation" in ql,
                "index_path": _path(_INDEX_PATH_RE, query),
                "n_probe": n_probe}


def _bind_semantic_dedup(ql: str, query: str) -> Optional[dict]:
    if _SEMANTIC_TARGET_RE.search(ql):
        thr = (float(m.group(1))
               if (m := _SEM_THRESHOLD_RE.search(ql)) else 0.95)
        # n_clusters=None -> corpus-derived at run time (the SemDeDup
        # per-cluster pair join is quadratic in cluster size; a fixed
        # default is a 100x-scale trap — the paper runs 50k clusters)
        ncl = _first_int(_CLUSTERS_RE, ql)
        return {"threshold": thr, "n_clusters": ncl,
                "keep": "min" if "lowest id" in ql else "far"}


def _bind_cluster_corpus(ql: str, query: str) -> Optional[dict]:
    if _CLUSTER_TARGET_RE.search(ql):
        # n_clusters=None -> corpus-derived at run time (constant
        # target cluster size, same curve as SemDeDup)
        ncl = _first_int(_CLUSTERS_RE, ql, _first_int(_TOPICS_RE, ql))
        return {"n_clusters": ncl}


def _bind_dsir_select(ql: str, query: str) -> Optional[dict]:
    if _DSIR_TARGET_RE.search(ql):
        m = _DSIR_SOURCE_RE.search(query)
        return {"target_source": m.group(1) if m else None,
                # 'select'/'keep' narrows output to docs weighing
                # above the POOL MEAN (integer-exact, calibration-free
                # — the absolute zero point shifts with smoothing
                # mass); otherwise the full weight vector ships
                "select": ("select" in ql or "keep" in ql)}


def _bind_shuffle_order(ql: str, query: str) -> Optional[dict]:
    if _SHUFFLE_TARGET_RE.search(ql) and "shard" not in ql:
        ep = _first_int(_EPOCH_N_RE, ql, 0)
        return {"epoch": ep}


def _bind_unimax_mix(ql: str, query: str) -> Optional[dict]:
    if _UNIMAX_TARGET_RE.search(ql):
        budget = _first_int(_UNIMAX_BUDGET_RE, ql)
        ep = _first_int(_UNIMAX_EPOCHS_RE, ql, 2)
        strata = "source" if ("source" in ql or "domain" in ql) else "lang"
        return {"budget": budget, "max_epochs": ep, "strata": strata}


def _bind_temperature_mix(ql: str, query: str) -> Optional[dict]:
    if _TEMP_TARGET_RE.search(ql):
        alpha = float(m.group(1)) if (m := _ALPHA_RE.search(ql)) else 0.5
        strata = "source" if ("source" in ql or "domain" in ql) else "lang"
        return {"alpha": alpha, "strata": strata}


def _bind_chunk_documents(ql: str, query: str) -> Optional[dict]:
    if _CHUNK_TARGET_RE.search(ql) and "shard" not in ql:
        size = _first_int(_CHUNK_SIZE_RE, ql, 128)
        stride = _first_int(_CHUNK_STRIDE_RE, ql)
        return {"size": size,
                "stride": min(stride, size) if stride else
                max(1, (size * 3) // 4)}


def _bind_corpus_to_shards(ql: str, query: str) -> dict:
    # n_buckets=None -> corpus-derived at run time (derive_n_buckets);
    # an explicit 'N shards' keeps bucket count tied to the user's
    # shard count as before
    plan = {"token_budget": 15_000,
            "seq_len": 512, "n_shards": 4, "n_buckets": None,
            "shuffle_salt": None,
            # 'with a manifest' opts into the per-shard integrity
            # manifest sidecar (one extra pass over the written data)
            "manifest": "manifest" in ql,
            "tokenizer": "bpe" if "bpe" in ql else "whitespace"}
    seq_m = _SEQ_LEN_RE.search(ql)
    if seq_m:
        plan["seq_len"] = int(seq_m.group(1))
    if m := _TOKEN_BUDGET_KEYED_RE.search(ql):
        plan["token_budget"] = int(re.sub(r"[,_]", "", m.group(1)))
    else:
        for m in _TOKEN_BUDGET_RE.finditer(ql):
            if seq_m and m.start() < seq_m.end() and seq_m.start() < m.end():
                continue    # the N in 'contexts of N tokens' is seq_len
            plan["token_budget"] = int(re.sub(r"[,_]", "", m.group(1)))
            break
    if m := _SHARDS_RE.search(ql):
        plan["n_shards"] = int(m.group(1))
        plan["n_buckets"] = max(4, plan["n_shards"])
    if m := _EPOCH_RE.search(ql):
        plan["shuffle_salt"] = f"epoch-{m.group(1)}"
    return plan


@dataclass(frozen=True)
class Target:
    """One NL dataops target. ``bind(ql, query)`` returns the plan
    parameters when the lowercased/original query names this target,
    else None. Before ``handler(pipeline, plan, catalog, output_path)``
    runs, each ``requires`` pair rejects the run with its reason when
    that plan key is empty."""

    name: str
    bind: Callable[[str, str], Optional[dict]]
    handler: Callable[..., Result]
    about: str
    example: str
    requires: tuple[tuple[str, str], ...] = ()


# Priority order: the first row whose binder accepts a query wins, so a
# specific phrasing sits above any broader one it overlaps.
TARGETS: tuple[Target, ...] = (
    Target("corpus_diff", _bind_corpus_diff, Pipeline._run_corpus_diff,
           "diff the documents against a prior (doc_id, text) snapshot",
           "diff the corpus against the snapshot at /data/prev",
           (("snapshot_path", "corpus diff needs a snapshot path "
             "('... against the snapshot at /path')"),)),
    Target("compact_store", _bind_compact_store,
           Pipeline._run_compact_store,
           "rewrite an append-grown store into the output, deduped",
           "compact the snapshot at /data/bands",
           (("store_path", "compaction needs a store path "
             "('compact the snapshot at /path')"),)),
    Target("license_scan", _bind_license_scan, Pipeline._run_license_scan,
           "per-document license flags; optionally drop classes",
           "scan the corpus for licenses, dropping copyleft documents"),
    Target("bin_pack", _bind_bin_pack, Pipeline._run_bin_pack,
           "truncation-free first-fit-decreasing packing into token bins",
           "bin pack the corpus into bins of 1024 tokens"),
    Target("embed_documents", _bind_embed_documents,
           Pipeline._run_embed_documents,
           "hashed random-projection embeddings of the documents",
           "embed the documents, 128 dimensions"),
    Target("band_snapshot", _bind_band_snapshot,
           Pipeline._run_band_snapshot,
           "persist the documents' MinHash band table for later probes",
           "build a near-dup band snapshot of the corpus"),
    Target("neardup_probe", _bind_neardup_probe,
           Pipeline._run_neardup_probe,
           "flag batch documents near-duplicating a band snapshot",
           "flag near-dups against the band snapshot at /data/bands",
           (("snapshot_path", "near-dup probe needs a snapshot path "
             "('... against the band snapshot at /path')"),)),
    Target("passage_snapshot", _bind_passage_snapshot,
           Pipeline._run_passage_snapshot,
           "persist the documents' distinct token-window hashes",
           "build a passage snapshot of the corpus, windows of 50 tokens"),
    Target("domain_rank", _bind_domain_rank, Pipeline._run_domain_rank,
           "PageRank or harmonic centrality over a domain link graph",
           "rank the domains by the link graph at /data/edges",
           (("edges_path", "domain ranking needs a link graph path "
             "('by the link graph at /path' — a parquet of (src, dst) "
             "domain edges)"),)),
    Target("passage_probe", _bind_passage_probe,
           Pipeline._run_passage_probe,
           "flag batch passages already in a passage snapshot",
           "flag duplicated passages against the passage snapshot at /w",
           (("snapshot_path", "passage probe needs a snapshot path "
             "('against the passage snapshot at /path')"),)),
    Target("substring_dedup", _bind_substring_dedup,
           Pipeline._run_substring_dedup,
           "cut token runs repeated across documents (ExactSubstr)",
           "remove duplicated passages across the corpus"),
    Target("containment_probe", _bind_containment_probe,
           Pipeline._run_containment_probe,
           "flag batch media sharing frames/windows with a snapshot",
           "flag the new videos sharing frames with the snapshot at /f"),
    Target("video_containment", _containment_binder("video"),
           Pipeline._run_containment,
           "pairs of videos sharing frames, plus a frame-hash snapshot",
           "find videos containing clips of each other"),
    Target("audio_containment", _containment_binder("audio"),
           Pipeline._run_containment,
           "pairs of clips sharing windows, plus a window-hash snapshot",
           "audio containment across the clips"),
    Target("image_probe", _media_probe_binder("image"),
           Pipeline._run_media_probe,
           "flag batch images near a persisted fingerprint snapshot",
           "flag the new images against the snapshot at /data/img",
           (("snapshot_path", "image probe needs a snapshot path "
             "('... against the snapshot at /path')"),)),
    Target("audio_probe", _media_probe_binder("audio"),
           Pipeline._run_media_probe,
           "flag batch clips near a persisted fingerprint snapshot",
           "flag the new audio against the snapshot at /data/aud",
           (("snapshot_path", "audio probe needs a snapshot path "
             "('... against the snapshot at /path')"),)),
    Target("video_probe", _media_probe_binder("video"),
           Pipeline._run_media_probe,
           "flag batch videos near a persisted fingerprint snapshot",
           "flag the new videos against the snapshot at /data/vid",
           (("snapshot_path", "video probe needs a snapshot path "
             "('... against the snapshot at /path')"),)),
    Target("image_dedup", _media_dedup_binder("image"),
           Pipeline._run_media_dedup,
           "perceptual near-dup dedup of the images (dHash)",
           "dedup the images within 6 bits"),
    Target("audio_dedup", _media_dedup_binder("audio"),
           Pipeline._run_media_dedup,
           "perceptual near-dup dedup of the audio clips (aHash)",
           "dedup the audio clips"),
    Target("video_dedup", _media_dedup_binder("video"),
           Pipeline._run_media_dedup,
           "perceptual near-dup dedup of the videos (vHash)",
           "dedup the videos"),
    Target("incremental_dedup", _bind_incremental_dedup,
           Pipeline._run_incremental_dedup,
           "exact-dedup a batch against a seen-content snapshot",
           "dedup the batch against the seen snapshot at /data/seen",
           (("snapshot_path", "incremental dedup needs a snapshot path "
             "('... against the seen snapshot at /path')"),)),
    # the container outranks its contents: 'the zip of pdfs at /p'
    # routes to the archive door, whose kernel applies the pdf text
    # tier per member anyway
    Target("ingest_archives",
           _path_binder(_ARCHIVE_TARGET_RE, _ARCHIVE_PATH_RE, "archive_path"),
           Pipeline._run_ingest_archives,
           "zip/tar members -> documents-shaped parquet",
           "extract text from the zip at /data/docs.zip",
           (("archive_path", "archive ingest needs a path "
             "('... the zip at /path')"),)),
    Target("ingest_pdfs",
           _path_binder(_PDF_TARGET_RE, _PDF_PATH_RE, "pdf_path"),
           Pipeline._run_ingest_pdfs,
           "PDF files -> documents-shaped parquet",
           "extract text from the pdfs at /data/pdfs",
           (("pdf_path", "pdf ingest needs a path "
             "('... the pdfs at /path')"),)),
    Target("link_graph_build",
           _path_binder(_LINK_GRAPH_BUILD_RE, _CRAWL_PATH_RE, "crawl_path"),
           Pipeline._run_link_graph_build,
           "WARC pages -> distinct (src, dst) domain edges",
           "build the link graph from the crawl at /data/crawl",
           (("crawl_path", "link-graph build needs a crawl path "
             "('from the crawl at /path')"),)),
    Target("ingest_crawl",
           _path_binder(_CRAWL_TARGET_RE, _CRAWL_PATH_RE, "crawl_path"),
           Pipeline._run_ingest_crawl,
           "WARC responses -> documents-shaped parquet",
           "extract text from the crawl at /data/crawl",
           (("crawl_path", "crawl ingest needs a path "
             "('... the crawl at /path')"),)),
    Target("webdataset_write", _bind_webdataset_write,
           Pipeline._run_webdataset_write,
           "export documents or media as WebDataset tar shards",
           "export the corpus as webdataset, 8 shards"),
    Target("verify_shards", _bind_verify_shards,
           Pipeline._run_verify_shards,
           "check a shard set against its integrity manifest",
           "verify the shards at /data/shards against the manifest",
           (("shards_path", "verify_shards needs 'shards at <path>'"),)),
    Target("data_card", _bind_data_card, Pipeline._run_data_card,
           "datasheet: composition, lengths, duplication, quality",
           "generate a data card for the corpus"),
    Target("corpus_census", _bind_corpus_census,
           Pipeline._run_corpus_census,
           "mergeable per-language/source doc, token and char counts",
           "census the corpus"),
    Target("decontaminate_spans", _bind_decontaminate_spans,
           Pipeline._run_decontaminate_spans,
           "cut benchmark token runs out of documents",
           "remove benchmark passages against the benchmark at /data/eval",
           (("benchmark_path", "span decontamination needs a benchmark "
             "path ('against the benchmark at /path')"),)),
    Target("decontaminate", _bind_decontaminate,
           Pipeline._run_decontaminate,
           "drop documents overlapping a benchmark (n-gram or cosine)",
           "decontaminate the corpus against the benchmark at /data/eval",
           (("benchmark_path", "decontamination needs a benchmark path "
             "('... against the benchmark at /path')"),)),
    Target("classifier_score",
           _path_binder(_CLASSIFIER_SCORE_RE, _CLASSIFIER_PATH_RE,
                        "model_path"),
           Pipeline._run_classifier_score,
           "score documents with a saved quality classifier",
           "score the corpus with the classifier at /data/model",
           (("model_path", "scoring needs a model path ('with the "
             "classifier at /path')"),)),
    Target("classifier_train", _path_binder(_CLASSIFIER_TRAIN_RE),
           Pipeline._run_classifier_train,
           "train and save a weak-label quality classifier",
           "train a quality classifier on the corpus and save it"),
    Target("tokenizer_stats",
           _path_binder(_TOKSTATS_RE, _TOKENIZER_PATH_RE, "tokenizer_path"),
           Pipeline._run_tokenizer_stats,
           "per-language fertility of a saved tokenizer",
           "report tokenizer stats with the tokenizer at /data/bpe",
           (("tokenizer_path", "tokenizer stats need a tokenizer path "
             "('... with the tokenizer at /path')"),)),
    Target("tokenizer_train", _bind_tokenizer_train,
           Pipeline._run_tokenizer_train,
           "train and save a BPE or unigram tokenizer",
           "train a bpe tokenizer on the corpus, 300 merges, and save it"),
    Target("tokenize_pack", _bind_tokenize_pack,
           Pipeline._run_tokenize_pack,
           "tokenize to ids and pack fixed-length sequences",
           "tokenize the corpus and pack 512-token sequences"),
    Target("split_corpus", _bind_split_corpus,
           Pipeline._run_split_corpus,
           "deterministic train/val/test split, optionally leak-safe",
           "split the corpus into train/val/test without leakage"),
    Target("bm25_index_append",
           _path_binder(_BM25_INDEX_APPEND_RE, _INDEX_PATH_RE, "index_path"),
           Pipeline._run_bm25_index_append,
           "append a batch to a persisted BM25 index",
           "add the new documents to the retrieval index at /data/bm25",
           (("index_path", "index append needs an index path "
             "('... to the retrieval index at /path')"),)),
    Target("corpus_rebucket",
           _path_binder(_REBUCKET_RE, _STORE_PATH_RE, "store_path"),
           Pipeline._run_corpus_rebucket,
           "rewrite a corpus store with a re-derived bucket count",
           "rebucket the corpus store at /data/store",
           (("store_path", "rebucket needs a store path "
             "('rebucket the corpus store at /path')"),)),
    Target("corpus_upsert",
           _path_binder(_UPSERT_RE, _STORE_PATH_RE, "store_path"),
           Pipeline._run_corpus_upsert,
           "merge a batch into a bucketed corpus store",
           "upsert the batch into the corpus store at /data/store",
           (("store_path", "corpus upsert needs a store path "
             "('... into the corpus store at /path')"),)),
    Target("corpus_store_build", _bind_corpus_store_build,
           Pipeline._run_corpus_store_build,
           "persist the documents hash-bucketed by doc_id",
           "build a bucketed corpus store, 32 buckets"),
    Target("ann_tune", _bind_ann_tune, Pipeline._run_ann_tune,
           "raise an IVF-PQ index's n_probe until recall meets a target",
           "tune the ann index at /data/ivf for recall 0.9",
           (("index_path", "index tuning needs an index path "
             "('... the ann index at /path')"),)),
    Target("ann_recall", _bind_ann_recall, Pipeline._run_ann_recall,
           "sampled recall@k of a persisted IVF-PQ index",
           "estimate the recall of the ann index at /data/ivf, top 10",
           (("index_path", "recall estimation needs an index path "
             "('... the ann index at /path')"),)),
    Target("ann_index_append",
           _path_binder(_ANN_INDEX_APPEND_RE, _INDEX_PATH_RE, "index_path"),
           Pipeline._run_ann_index_append,
           "encode a batch against a frozen IVF-PQ index and append",
           "append the new vectors to the index at /data/ivf",
           (("index_path", "index append needs an index path "
             "('... to the index at /path')"),)),
    Target("ann_index_build", _bind_ann_index_build,
           Pipeline._run_ann_index_build,
           "fit and persist an IVF-PQ index over the embeddings",
           "build an ann index over the embeddings, 64 lists"),
    Target("bm25_index_build", _path_binder(_BM25_INDEX_BUILD_RE),
           Pipeline._run_bm25_index_build,
           "persist a BM25 inverted index over the documents",
           "build a retrieval index over the corpus"),
    Target("hybrid_search", _bind_hybrid_search,
           Pipeline._run_hybrid_search,
           "more-like-this over BM25 and embeddings, rank-fused",
           "hybrid search for documents like doc 42, top 5",
           (("doc_ids", "hybrid search needs document ids "
             "('like doc 42')"),)),
    Target("retrieve", _bind_retrieve, Pipeline._run_retrieve,
           "BM25 top-k documents per quoted query",
           "search the corpus for \"hash join strategies\", top 5",
           (("queries", "retrieval needs at least one quoted query "
             "string ('search the corpus for \"...\"')"),)),
    Target("ann_search", _bind_ann_search, Pipeline._run_ann_search,
           "IVF-PQ k-nearest neighbours of every embedding",
           "find the 10 nearest neighbors for each document"),
    Target("semantic_dedup", _bind_semantic_dedup,
           Pipeline._run_semantic_dedup,
           "SemDeDup over the embeddings table",
           "semantically dedup the corpus, threshold 0.9"),
    Target("cluster_assign",
           _path_binder(_CLUSTER_ASSIGN_RE, _CLUSTERS_PATH_RE, "centers_path"),
           Pipeline._run_cluster_assign,
           "assign embeddings to a persisted cluster map",
           "assign the new embeddings to the clusters at /data/centers",
           (("centers_path", "cluster_assign needs 'clusters at "
             "<path>'"),)),
    Target("cluster_corpus", _bind_cluster_corpus,
           Pipeline._run_cluster_corpus,
           "k-means clusters of the embeddings, centers saved",
           "cluster the embeddings into 12 topics"),
    Target("dsir_select", _bind_dsir_select, Pipeline._run_dsir_select,
           "DSIR importance weights toward a named source",
           "importance resample toward src18",
           (("target_source", "dsir needs a target domain "
             "('... toward <source>')"),)),
    Target("shuffle_order", _bind_shuffle_order,
           Pipeline._run_shuffle_order,
           "deterministic global training order for an epoch",
           "shuffle the corpus for training, epoch 3"),
    Target("unimax_mix", _bind_unimax_mix, Pipeline._run_unimax_mix,
           "UniMax epoch-capped token allocation across languages",
           "unimax the language mix with a budget of 50000 tokens"),
    Target("temperature_mix", _bind_temperature_mix,
           Pipeline._run_temperature_mix,
           "temperature (alpha) resampling of the language mix",
           "flatten the language mix with temperature 0.5"),
    Target("chunk_documents", _bind_chunk_documents,
           Pipeline._run_chunk_documents,
           "overlapping token chunks of the documents for RAG",
           "chunk the documents for RAG, size 256 stride 192"),
    Target("corpus_to_shards", _bind_corpus_to_shards,
           Pipeline._run_corpus_to_shards,
           "curate, select a token budget, pack and write verified shards",
           "curate and dedup the corpus into 4 shards"),
)
_TARGET_BY_NAME = {t.name: t for t in TARGETS}
