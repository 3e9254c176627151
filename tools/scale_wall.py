"""Wall-clock scale-out probe for the big composite headline queries
(OPTIMIZATION_r14, VERDICT r13 item 5): at sf0.1 every 8c/32c bench
ratio is ~1 because the whole suite is driver/overhead-bound — this
probe makes parallelism measurable by running the corpus-bound
composites UNCHANGED against factor-f replicas of the documents table
(1x/4x/16x, word-salted per replica by ``bench.salted_docs``, the
scale probe's own recipe, so near-dup structure grows linearly, never
quadratically).

Each factor-f corpus is materialized ONCE as parquet under /tmp with
every other table symlinked from $SPARK_GRAFT_SF_DIR, so the composites
run through the ordinary Catalog path (scan, pushdown, all shuffles
real). Run twice — SPARK_GRAFT_CPUS=32 and =8 — and commit the merged
series as SCALE_WALL_r14.json: separation >> 1 between the 8c and 32c
wall at 16x is the scale-out evidence the sf0.1 bench cannot show.

Usage: PYTHONPATH=. SPARK_GRAFT_CPUS=32 python tools/scale_wall.py [out.json]
"""
from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
FACTORS = [int(x) for x in
           os.environ.get("SCALE_WALL_FACTORS", "1,4,16").split(",")]
REPEAT = int(os.environ.get("SCALE_WALL_REPEAT", "2"))
QUERIES = os.environ.get(
    "SCALE_WALL_QUERIES",
    "dedup_neardup_pairs,sample_deterministic,corpus_curation,"
    "corpus_to_shards,text_corpus_stats,dedup_spans").split(",")


def _factor_dir(spark, f: int) -> str:
    """Materialize (once) a scale-factor dir whose documents table is
    the word-salted factor-f replica corpus; every other table is a
    symlink into SF_DIR."""
    from bench import salted_docs
    from dynamic_etl_pipeline_thesis_ii_spark.sources.registry import (
        TABLES,
        Catalog,
    )

    tag = os.path.basename(SF_DIR.rstrip("/"))
    out = f"/tmp/scale_wall_{tag}_x{f}"
    marker = os.path.join(out, "_SWALL_READY")
    if os.path.exists(marker):
        return out
    os.makedirs(out, exist_ok=True)
    for t in TABLES:
        src = os.path.join(SF_DIR, f"{t}.parquet")
        dst = os.path.join(out, f"{t}.parquet")
        if t == "documents" or not os.path.exists(src):
            continue
        if not os.path.exists(dst):
            os.symlink(src, dst)
    docs = salted_docs(Catalog(spark, SF_DIR).documents, f)
    docs.coalesce(max(1, f // 4)).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet"))
    with open(marker, "w") as fh:
        fh.write("ok")
    return out


def main() -> None:
    from dynamic_etl_pipeline_thesis_ii_spark.queries import all_queries
    from dynamic_etl_pipeline_thesis_ii_spark.queries.dataops_suite import (
        release_shared_caches,
    )
    from dynamic_etl_pipeline_thesis_ii_spark.session import get_spark

    spark = get_spark(app_name="scale_wall")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")

    # same warmup as bench.py (JVM, parquet footers, Python workers)
    region = spark.read.parquet(os.path.join(SF_DIR, "region.parquet"))
    region.count()
    region.groupBy("r_regionkey").applyInPandas(
        lambda pdf: pdf, schema=region.schema).count()

    series: dict[str, list] = {q: [] for q in QUERIES}
    for f in FACTORS:
        d = _factor_dir(spark, f)
        for q in QUERIES:
            best, n = float("inf"), None
            for _ in range(REPEAT):
                spark.sparkContext.setJobDescription(f"swall {q} x{f}")
                t0 = time.perf_counter()
                n = qs[q](spark, d).count()
                best = min(best, time.perf_counter() - t0)
                release_shared_caches()
            spark.sparkContext.setJobDescription(None)
            series[q].append({"factor": f, "sec": round(best, 2),
                              "rows": n})
            print(f"# swall cpus={cpus} {q} x{f}: {best:.2f}s "
                  f"({n} rows)", flush=True)
    rec = {"sf_dir": SF_DIR, "cpus": int(cpus), "factors": FACTORS,
           "repeat": REPEAT, "series": series,
           "load_start": round(os.getloadavg()[0], 2)}
    out_path = sys.argv[1] if len(sys.argv) > 1 else None
    if out_path:
        with open(out_path, "w") as fh:
            json.dump(rec, fh, indent=1)
    print(json.dumps(rec))


if __name__ == "__main__":
    main()
