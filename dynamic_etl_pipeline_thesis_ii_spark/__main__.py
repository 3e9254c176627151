"""CLI entry point (reference entry point B, ``pipeline.py:8-34`` run
as a script): natural-language query -> plan -> fetch -> integrate ->
clean/enrich -> sink.

    python -m dynamic_etl_pipeline_thesis_ii_spark "Get AAPL daily prices with RSI" \
        --sf-dir /root/testdata/sf0.001 --out /tmp/run1

The fixture fetcher (default) derives deterministic API-shaped frames
from the testdata tables, so the full lifecycle runs offline; pass
``--fetcher http`` with API keys in POLYGON_API_KEY /
ALPHA_VANTAGE_API_KEY to ingest from the live services.

``--dataops`` routes the query to the dataops targets instead (the
``TARGETS`` table in ``plans/orchestrator.py``: ingest, curation,
dedup, tokenization, retrieval, mixing, and by default curate ->
token-budget select -> pack -> verified shards); prefix the query with
``explain:`` to print the plan, or the list of targets, without
running anything:

    python -m dynamic_etl_pipeline_thesis_ii_spark \
        "curate and dedup the corpus into 4 shards, sequence length 512" \
        --dataops --sf-dir /root/testdata/sf0.001 --out /tmp/shards1

The HTTP serving rim (reference entry point A — the FastAPI backend's
POST /api/pipeline/run + status/results/history + progress push) runs
as its own module::

    python -m dynamic_etl_pipeline_thesis_ii_spark.serve \
        --sf-dir /root/testdata/sf0.001 --port 8000
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="dynamic_etl_pipeline_thesis_ii_spark",
        description="NL-driven Spark ETL pipeline")
    ap.add_argument("query", help="natural-language query")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"),
        help="testdata dir for the fixture fetcher")
    ap.add_argument("--fetcher", choices=["fixture", "http"],
                    default="fixture")
    ap.add_argument("--out", default=None,
                    help="write outputs (parquet) + report.json here")
    ap.add_argument("--dataops", action="store_true",
                    help="route to the NL dataops targets (default "
                         "target: corpus->shards; requires --out)")
    ap.add_argument("--quiet", action="store_true")
    args = ap.parse_args(argv)
    if args.dataops and not args.out:
        ap.error("--dataops requires --out (the shard sink path)")

    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        FixtureFetcher, Pipeline)
    from dynamic_etl_pipeline_thesis_ii_spark.session import get_spark
    from dynamic_etl_pipeline_thesis_ii_spark.sources import sinks

    spark = get_spark(app_name="etl-cli")
    spark.sparkContext.setLogLevel("ERROR")
    if args.fetcher == "http":
        from dynamic_etl_pipeline_thesis_ii_spark.sources.http_clients import (
            HttpFetcher)
        fetcher = HttpFetcher(
            spark,
            polygon_api_key=os.environ.get("POLYGON_API_KEY", ""),
            alpha_vantage_api_key=os.environ.get("ALPHA_VANTAGE_API_KEY", ""))
    else:
        fetcher = FixtureFetcher(spark, args.sf_dir)

    progress = (lambda stage, info: None) if args.quiet else (
        lambda stage, info: print(f"[{stage}] {info}", file=sys.stderr))
    pipe = Pipeline(spark, fetcher, progress=progress)
    if args.dataops:
        result = pipe.run_dataops(args.query, args.sf_dir, args.out)
        summary = {"status": result["status"],
                   "reports": result.get("reports", {}),
                   "out": args.out}
        print(json.dumps(summary, default=str))
        return 0 if result["status"] == "complete" else 1
    result = pipe.run(args.query)

    summary = {"status": result["status"],
               "n_outputs": len(result.get("outputs", [])),
               "reports": result.get("reports", {})}
    if args.out and result.get("outputs"):
        reports = sinks.save_outputs(result["outputs"], args.out)
        sinks.write_run_artifacts(args.out, {**summary, "sinks": reports})
        summary["out"] = args.out
    print(json.dumps(summary, default=str))
    return 0 if result["status"] in ("complete",) else 1


if __name__ == "__main__":
    raise SystemExit(main())
