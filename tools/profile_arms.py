"""Per-arm profiling harness (guide §1): time each sub-arm of the big
composite headline queries in isolation with the same count() action the
bench uses, min-of-N, labeled via setJobDescription. Not part of the
bench contract — a measurement tool for OPTIMIZATION_r13.md evidence.

Usage: python tools/profile_arms.py [group ...]
Groups: neardup sample curation shards greedy relational ann hybrid stats
"""
from __future__ import annotations

import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPEAT = int(os.environ.get("PROFILE_REPEAT", "3"))


def timed(spark, name, fn, action="count"):
    from dynamic_etl_pipeline_thesis_ii_spark.queries.dataops_suite import (
        release_shared_caches,
    )
    times = []
    n = None
    for _ in range(REPEAT):
        spark.sparkContext.setJobDescription(name)
        t0 = time.perf_counter()
        df = fn()
        if action == "noop":
            df.write.format("noop").mode("overwrite").save()
        else:
            n = df.count()
        times.append(time.perf_counter() - t0)
        release_shared_caches()
    spark.sparkContext.setJobDescription(None)
    print(f"{name:40s} min {min(times):7.3f}  all "
          f"{[round(t, 2) for t in times]}  rows={n}", flush=True)
    return min(times)


def main():
    groups = set(sys.argv[1:]) or {
        "neardup", "sample", "curation", "shards", "greedy", "relational",
        "ann", "hybrid", "stats"}
    from pyspark.sql import functions as F

    from dynamic_etl_pipeline_thesis_ii_spark.operators import dedup as D
    from dynamic_etl_pipeline_thesis_ii_spark.queries import dataops_suite as DS
    from dynamic_etl_pipeline_thesis_ii_spark.session import get_spark
    from dynamic_etl_pipeline_thesis_ii_spark.sources.registry import Catalog

    spark = get_spark(app_name="profile_arms")
    spark.sparkContext.setLogLevel("ERROR")
    # same warmup as bench.py
    region = spark.read.parquet(os.path.join(SF_DIR, "region.parquet"))
    region.count()
    region.groupBy("r_regionkey").applyInPandas(
        lambda pdf: pdf, schema=region.schema).count()

    if "neardup" in groups:
        print("== dedup_neardup_pairs arms ==")
        timed(spark, "neardup/full",
              lambda: DS.q_dedup_neardup_pairs(spark, SF_DIR))
        timed(spark, "neardup/simhash",
              lambda: DS.q_dedup_simhash(spark, SF_DIR))
        timed(spark, "neardup/simhash_fp_only",
              lambda: D.simhash_fingerprints(
                  DS._neardup_corpus(spark, SF_DIR), k=2))
        corpus = DS._neardup_corpus(spark, SF_DIR)
        timed(spark, "neardup/shingle2_rows",
              lambda: D.shingle_rows(corpus, "text", "doc_id", 2))
        timed(spark, "neardup/minhash",
              lambda: D.minhash_lsh_pairs(corpus, k=3, n_hashes=16, bands=4))
        timed(spark, "neardup/jaccard",
              lambda: D.jaccard_pairs(corpus, k=3, threshold=0.4,
                                      max_df=100))
        timed(spark, "neardup/embedding",
              lambda: DS.q_embedding_neardup(spark, SF_DIR))
        timed(spark, "neardup/contam",
              lambda: DS.q_dedup_contamination(spark, SF_DIR))
        timed(spark, "neardup/semantic",
              lambda: DS.q_semantic_decontam(spark, SF_DIR))

    if "sample" in groups:
        print("== sample_deterministic arms ==")
        from dynamic_etl_pipeline_thesis_ii_spark.operators import (
            sampling as SA,
        )
        from dynamic_etl_pipeline_thesis_ii_spark.operators import text as T
        timed(spark, "sample/full",
              lambda: DS.q_sample_deterministic(spark, SF_DIR))
        docs = Catalog(spark, SF_DIR).documents
        timed(spark, "sample/stratified",
              lambda: DS.q_sample_stratified(spark, SF_DIR))
        timed(spark, "sample/mix",
              lambda: DS.q_sample_mix_rebalance(spark, SF_DIR))
        timed(spark, "sample/pack",
              lambda: DS.q_sample_pack_chunks(spark, SF_DIR))
        timed(spark, "sample/budget",
              lambda: DS.q_sample_token_budget(spark, SF_DIR))
        timed(spark, "sample/chunk",
              lambda: T.chunk_documents(docs, size=64, stride=48))

        def dsir_arm():
            dsir_grams = DS.persist_scoped(SA.dsir_gram_buckets(
                docs.withColumn("__t", F.col("source") == "src18"),
                carry=("__t",)))
            dsir_tbl = SA.dsir_logratio_table(
                docs.withColumn("__t", F.col("source") == "src18"),
                target_flag="__t", grams=dsir_grams)
            return SA.dsir_weights(docs, dsir_tbl, grams=dsir_grams)
        timed(spark, "sample/dsir", dsir_arm)

        def leak_arm():
            lk_corpus = DS._neardup_corpus(spark, SF_DIR)
            lk_pairs = D.minhash_lsh_pairs(lk_corpus, k=3, n_hashes=16,
                                           bands=4)
            return SA.leakage_safe_split(
                lk_corpus.select("doc_id"), DS._SPLIT_WEIGHTS, lk_pairs,
                id_col="doc_id", salt="leak")
        timed(spark, "sample/leak", leak_arm)
        timed(spark, "sample/unimax",
              lambda: SA.unimax_allocation(docs, DS._UNIMAX_BUDGET,
                                           DS._UNIMAX_EPOCHS))
        timed(spark, "sample/order_e0",
              lambda: SA.shuffle_order(docs.select("doc_id"), epoch=0))

    if "curation" in groups:
        print("== corpus_curation / corpus_to_shards ==")
        timed(spark, "curation/full",
              lambda: DS.q_corpus_curation(spark, SF_DIR))
        timed(spark, "shards/full",
              lambda: DS.q_corpus_to_shards(spark, SF_DIR))

    if "greedy" in groups:
        print("== greedy_tail ==")
        from dynamic_etl_pipeline_thesis_ii_spark.queries import (
            integration_suite as IS,
        )
        timed(spark, "greedy/full",
              lambda: IS.q_greedy_tail(spark, SF_DIR))
        timed(spark, "greedy/simjoin_full",
              lambda: IS.q_simjoin_full(spark, SF_DIR))
        timed(spark, "greedy/integrate",
              lambda: IS.q_integrate_pipeline(spark, SF_DIR))

    if "relational" in groups:
        print("== relational ==")
        from dynamic_etl_pipeline_thesis_ii_spark.queries import (
            relational_suite as RS,
        )
        timed(spark, "rel/top_revenue_orders",
              lambda: RS.q_top_revenue_orders(spark, SF_DIR))
        timed(spark, "rel/pricing_summary",
              lambda: RS.q_pricing_summary(spark, SF_DIR))
        timed(spark, "rel/regional_revenue",
              lambda: RS.q_regional_revenue(spark, SF_DIR))
        timed(spark, "rel/asof_join",
              lambda: RS.q_asof_join(spark, SF_DIR))

    if "ann" in groups:
        print("== ann_topk arms ==")
        timed(spark, "ann/full", lambda: DS.q_ann_topk(spark, SF_DIR))
        timed(spark, "ann/brute",
              lambda: DS.q_ann_cosine_topk(spark, SF_DIR))
        timed(spark, "ann/lsh", lambda: DS.q_ann_lsh_bucket(spark, SF_DIR))
        timed(spark, "ann/pq", lambda: DS.q_ann_pq(spark, SF_DIR))
        timed(spark, "ann/l2", lambda: DS.q_ann_l2(spark, SF_DIR))

    if "hybrid" in groups:
        print("== retrieval_hybrid ==")
        timed(spark, "hybrid/full",
              lambda: DS.q_retrieval_hybrid(spark, SF_DIR))

    if "stats" in groups:
        print("== text_corpus_stats / text_metrics / spans ==")
        timed(spark, "stats/corpus_stats",
              lambda: DS.q_text_corpus_stats(spark, SF_DIR))
        timed(spark, "stats/text_metrics",
              lambda: DS.q_text_metrics(spark, SF_DIR))
        timed(spark, "stats/dedup_spans",
              lambda: DS.q_dedup_spans(spark, SF_DIR))
        timed(spark, "stats/tfidf",
              lambda: DS.q_text_tfidf(spark, SF_DIR))
        timed(spark, "stats/feat_ema",
              lambda: __import__(
                  "dynamic_etl_pipeline_thesis_ii_spark.queries.feature_suite",
                  fromlist=["q_feat_ema_family"]
              ).q_feat_ema_family(spark, SF_DIR))


if __name__ == "__main__":
    main()
