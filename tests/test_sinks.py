"""Sink semantics (reference transform/load.py, validator/validator.py:507-566)."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from dynamic_etl_pipeline_thesis_ii_spark.sources import sinks as S


@pytest.fixture()
def small(spark):
    return spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])


def test_write_replace_and_verify(spark, small, tmp_path):
    p = str(tmp_path / "t1")
    rep = S.write_table(small, p, if_exists="replace")
    assert rep["rows_written"] == 2
    rep2 = S.write_table(small, p, if_exists="replace")
    assert rep2["rows_written"] == 2  # replace, not append


def test_write_append(spark, small, tmp_path):
    p = str(tmp_path / "t2")
    S.write_table(small, p, if_exists="append")
    rep = S.write_table(small, p, if_exists="append")
    assert rep["rows_written"] == 4


def test_write_fail_mode(spark, small, tmp_path):
    p = str(tmp_path / "t3")
    S.write_table(small, p, if_exists="fail")
    with pytest.raises(Exception):
        S.write_table(small, p, if_exists="fail")


def test_write_invalid_mode(spark, small, tmp_path):
    with pytest.raises(S.SinkError):
        S.write_table(small, str(tmp_path / "t4"), if_exists="upsert")


def test_write_csv_roundtrip(spark, small, tmp_path):
    p = str(tmp_path / "t5")
    rep = S.write_table(small, p, fmt="csv")
    assert rep["rows_written"] == 2


def test_save_outputs_numbering(spark, small, tmp_path):
    reports = S.save_outputs([small, small.limit(1)], str(tmp_path / "out"))
    assert len(reports) == 2
    assert reports[0]["path"].endswith("result_0")
    assert reports[1]["rows_written"] == 1


def test_run_artifacts(tmp_path):
    path = S.write_run_artifacts(str(tmp_path / "run"), {"stage": "ok", "n": 3})
    with open(path) as f:
        data = json.load(f)
    assert data == {"stage": "ok", "n": 3}
    assert os.path.basename(path) == "report.json"


def test_append_new_keys_idempotent(spark, tmp_path):
    p = str(tmp_path / "idem")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    r1 = S.append_new_keys(df1, p, ["k"])
    assert r1["rows_written"] == 2
    # re-running the same batch adds nothing
    r2 = S.append_new_keys(df1, p, ["k"])
    assert r2["rows_written"] == 2
    # a batch with one new and one seen key adds only the new row
    df2 = spark.createDataFrame([(2, "b"), (3, "c")], ["k", "v"])
    r3 = S.append_new_keys(df2, p, ["k"])
    assert r3["rows_written"] == 3
    back = spark.read.parquet(p)
    assert sorted(r["k"] for r in back.collect()) == [1, 2, 3]


def test_append_new_keys_raises_on_broken_existing_sink(spark, tmp_path):
    """A probe failure on an EXISTING sink must raise, never silently
    overwrite the sink with only the current batch (data loss)."""
    p = tmp_path / "broken"
    p.mkdir()
    (p / "part-00000.parquet").write_bytes(b"this is not a parquet footer")
    df = spark.createDataFrame([(1, "a")], ["k", "v"])
    with pytest.raises(Exception):
        S.append_new_keys(df, str(p), ["k"])
    # the broken-but-existing sink was not replaced
    assert (p / "part-00000.parquet").read_bytes().startswith(b"this is not")


# ---------------------------------------------------------------------------
# JDBC sink (S14) — Derby embedded ships in Spark's own jars, so the
# JDBC path is testable with zero extra dependencies (SQLite has no
# driver jar in this environment; the contract is driver-agnostic).


@pytest.fixture()
def derby_url(tmp_path):
    return f"jdbc:derby:{tmp_path}/db;create=true"


def test_jdbc_replace_and_verify(spark, small, derby_url):
    rep = S.write_jdbc(small, derby_url, "people", if_exists="replace")
    assert rep["rows_written"] == 2
    rep2 = S.write_jdbc(small, derby_url, "people", if_exists="replace")
    assert rep2["rows_written"] == 2  # replace, not append


def test_jdbc_append(spark, small, derby_url):
    S.write_jdbc(small, derby_url, "people", if_exists="append")
    rep = S.write_jdbc(small, derby_url, "people", if_exists="append")
    assert rep["rows_written"] == 4


def test_jdbc_fail_mode(spark, small, derby_url):
    S.write_jdbc(small, derby_url, "people", if_exists="fail")
    with pytest.raises(Exception):
        S.write_jdbc(small, derby_url, "people", if_exists="fail")


def test_jdbc_invalid_mode(spark, small, derby_url):
    with pytest.raises(S.SinkError):
        S.write_jdbc(small, derby_url, "people", if_exists="upsert")


def test_jdbc_roundtrip_values(spark, small, derby_url):
    S.write_jdbc(small, derby_url, "people", if_exists="replace")
    back = (spark.read.format("jdbc")
            .option("url", derby_url).option("dbtable", "people").load())
    assert sorted((r["k"], r["v"]) for r in back.collect()) == [(1, "a"), (2, "b")]


def test_write_shards_balanced_and_deterministic(spark, tmp_path):
    df = spark.range(200).selectExpr("id AS doc_id",
                                     "concat('doc ', id) AS text")
    p = str(tmp_path / "shards")
    rep = S.write_shards(df, p, n_shards=4, key_col="doc_id")
    assert rep["rows_written"] == 200
    assert set(rep["shard_rows"]) == {0, 1, 2, 3}
    # md5-derived shard key distributes uniformly: no empty/hot shard
    assert min(rep["shard_rows"].values()) > 20
    # shard directories exist on disk
    names = {d for d in os.listdir(p) if d.startswith("shard=")}
    assert names == {"shard=0", "shard=1", "shard=2", "shard=3"}
    # deterministic assignment: rewriting yields identical placement
    rep2 = S.write_shards(df, str(tmp_path / "shards2"), n_shards=4,
                          key_col="doc_id")
    assert rep2["shard_rows"] == rep["shard_rows"]


def test_write_shards_validation(spark, tmp_path):
    df = spark.range(5).selectExpr("id AS doc_id")
    with pytest.raises(S.SinkError):
        S.write_shards(df, str(tmp_path / "x"), n_shards=0, key_col="doc_id")
    with pytest.raises(S.SinkError):
        S.write_shards(df, str(tmp_path / "x"), n_shards=2,
                       key_col="doc_id", if_exists="upsert")


def test_write_shards_max_records_per_file(spark, tmp_path):
    df = spark.range(100).selectExpr("id AS doc_id",
                                     "concat('doc ', id) AS text")
    p = str(tmp_path / "shards3")
    S.write_shards(df, p, n_shards=2, key_col="doc_id",
                   max_records_per_file=10)
    # every data file respects the cap
    for shard_dir in (d for d in os.listdir(p) if d.startswith("shard=")):
        files = [f for f in os.listdir(os.path.join(p, shard_dir))
                 if f.endswith(".parquet")]
        for f in files:
            n = spark.read.parquet(os.path.join(p, shard_dir, f)).count()
            assert n <= 10


def test_write_shards_csv_rowcount_excludes_headers(spark, tmp_path):
    df = spark.range(30).selectExpr("id AS doc_id", "concat('d', id) AS text")
    rep = S.write_shards(df, str(tmp_path / "csvsh"), n_shards=3,
                         key_col="doc_id", fmt="csv",
                         max_records_per_file=5)
    # many small files -> many header lines; counts must still be exact
    assert rep["rows_written"] == 30
    assert sum(rep["shard_rows"].values()) == 30


def test_write_shards_epoch_shuffle(spark, tmp_path):
    """shuffle_salt orders rows within each shard by a salted hash:
    same salt reproduces the file order byte-for-byte, a different
    salt draws a different permutation, and shard placement (salt-
    independent) never changes.

    The two inequality assertions are probabilistic: with ~75 rows in
    shard 0 the chance a fresh salted-hash permutation equals another
    (or the sorted order) is ~1/75! — astronomically below flake
    territory, but a shrunk fixture (< ~10 rows/shard) would start to
    matter; keep n=300/4 shards or larger."""
    df = spark.range(300).selectExpr("id AS doc_id",
                                     "concat('doc ', id) AS text")

    def shard0_order(path, salt):
        S.write_shards(df, path, n_shards=4, key_col="doc_id",
                       shuffle_salt=salt)
        back = spark.read.parquet(path)
        return [r["doc_id"] for r in
                back.filter("shard = 0").toLocalIterator()]

    a = shard0_order(str(tmp_path / "e1"), "epoch-1")
    b = shard0_order(str(tmp_path / "e1b"), "epoch-1")
    c = shard0_order(str(tmp_path / "e2"), "epoch-2")
    assert a == b                       # reproducible
    assert sorted(a) == sorted(c)       # same shard membership
    assert a != c                       # different epoch order
    assert a != sorted(a)               # actually shuffled


def test_corpus_to_shards_frame_writes_verbatim(spark, sf_dir, tmp_path):
    """The corpus_to_shards registry query produces the exact pre-sink
    frame write_shards consumes: its persisted `shard` column must
    agree with the writer's directory placement (same unsalted hash),
    and the end-to-end write round-trips every row."""
    from dynamic_etl_pipeline_thesis_ii_spark.queries.dataops_suite import (
        q_corpus_to_shards, release_shared_caches,
    )
    frame = q_corpus_to_shards(spark, sf_dir)
    try:
        expected = {(r["id"], r["shard"]) for r in frame.collect()}
        assert expected  # non-vacuous
        rep = S.write_shards(frame.drop("shard"), str(tmp_path / "shards"),
                             n_shards=4, key_col="id")
        assert rep["rows_written"] == len(expected)
        back = spark.read.parquet(str(tmp_path / "shards"))
        got = {(r["id"], r["shard"]) for r in back.collect()}
        assert got == expected
    finally:
        release_shared_caches()


def test_compact_snapshot_collapses_small_files(spark, tmp_path):
    """After several append epochs the keys store holds one small file
    batch per epoch; compaction rewrites it to few sorted files with
    the exact same row set (and never in place)."""
    from dynamic_etl_pipeline_thesis_ii_spark.sources.sinks import (
        append_new_keys,
        compact_snapshot,
    )
    path = str(tmp_path / "keys")
    for epoch in range(6):
        batch = spark.createDataFrame(
            [(epoch * 100 + i, (epoch * 100 + i) * 7919)
             for i in range(1, 50)]
            + [(999_999, 424_242)],   # same row every epoch: the
            "id long, key long").repartition(4)   # idempotent append
        # drops it after epoch 0, so the store holds unique rows
        append_new_keys(batch, path, ["id", "key"])
    before = spark.read.parquet(path)
    rows_before = sorted(map(tuple, before.collect()))
    assert len(before.inputFiles()) >= 6      # one-plus file per epoch

    dest = str(tmp_path / "keys_compact")
    rep = compact_snapshot(spark, path, dest, key_cols=["key"])
    assert rep["files_after"] < rep["files_before"]
    assert rep["files_after"] <= 2
    back = spark.read.parquet(dest)
    assert sorted(map(tuple, back.collect())) == rows_before
    assert rep["rows"] == len(rows_before)
    # source untouched (never in place)
    assert sorted(map(tuple,
                      spark.read.parquet(path).collect())) == rows_before


def test_compact_snapshot_sizes_files_from_deduped_count(spark, tmp_path):
    """File count targets the DEDUPED row count: a store holding 10
    copies of each key compacts to ceil(distinct / target) files, not
    10x that — sizing from the raw count would leave every file 90%
    under-filled after the dropDuplicates collapse."""
    from dynamic_etl_pipeline_thesis_ii_spark.sources.sinks import (
        compact_snapshot,
    )
    path = str(tmp_path / "dup_store")
    # 10 copies of 600 keys = 6,000 raw rows, 600 distinct
    df = spark.createDataFrame(
        [(i, i * 7919) for _ in range(10) for i in range(600)],
        "id long, key long")
    df.write.mode("overwrite").parquet(path)

    dest = str(tmp_path / "dup_compact")
    rep = compact_snapshot(spark, path, dest, key_cols=["key"],
                           target_rows_per_file=200)
    assert rep["rows"] == 600
    # raw-count sizing would ask for ceil(6000/200)=30 files; deduped
    # sizing asks for ceil(600/200)=3
    assert rep["files_after"] == 3
    back = spark.read.parquet(dest)
    assert back.count() == 600
    assert sorted(r["key"] for r in back.collect()) == \
        sorted(i * 7919 for i in range(600))


def test_shard_manifest_roundtrip_and_tamper(spark, tmp_path):
    """write_shards(manifest=True): the stored manifest equals a
    manifest of the source frame (order-insensitive — the write's
    task scheduling can't move the sums), verify passes against the
    written set, and tampering (dropping one row from one shard)
    flags exactly that shard."""
    docs = spark.createDataFrame(
        [(i, f"text body {i}") for i in range(200)], ["doc_id", "text"])
    p = str(tmp_path / "shards")
    rep = S.write_shards(docs, p, n_shards=4, key_col="doc_id",
                         manifest=True)
    assert rep["manifest_path"] == p + "_manifest"
    stored = spark.read.parquet(p + "_manifest")
    # the source frame, sharded the same way, yields the SAME manifest
    from pyspark.sql import functions as F

    from dynamic_etl_pipeline_thesis_ii_spark.operators.dedup import hash32
    src = docs.withColumn(
        "shard", (hash32(F.col("doc_id").cast("string")) % 4).cast("int"))
    want = sorted(map(tuple, S.shard_manifest(src).collect()))
    assert sorted(map(tuple, stored.collect())) == want

    ok = S.verify_shard_manifest(spark, p, stored)
    assert ok == {"ok": True, "n_shards": 4, "mismatched": []}

    # tamper: rewrite shard 2's directory minus one row
    back = spark.read.parquet(p)
    victim = back.filter(F.col("shard") == 2).limit(1).collect()[0]
    keep = back.filter((F.col("shard") != 2)
                       | (F.col("doc_id") != victim["doc_id"]))
    p2 = str(tmp_path / "tampered")
    keep.write.partitionBy("shard").parquet(p2)
    bad = S.verify_shard_manifest(spark, p2, stored)
    assert bad["ok"] is False and bad["mismatched"] == [2]

    # a lost shard directory is a mismatch too, not a skip
    p3 = str(tmp_path / "lost")
    back.filter(F.col("shard") != 3).write.partitionBy("shard").parquet(p3)
    lost = S.verify_shard_manifest(spark, p3, stored)
    assert lost["ok"] is False and 3 in lost["mismatched"]


def test_shard_manifest_matches_duckdb_and_merges(spark, tmp_path):
    """Differential: shard_manifest == the DuckDB twin over the same
    parquet (exact decimal sums); and manifests are mergeable — the
    manifest of A ∪ B equals per-shard sums of the two manifests (the
    append-batch fold)."""
    import duckdb

    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, f"doc {i} words", i % 3) for i in range(120)],
        ["doc_id", "text", "shard"])
    p = str(tmp_path / "flat.parquet")
    docs.coalesce(1).write.parquet(p)
    got = sorted((int(r["shard"]), r["n_rows"], int(r["content_hash"]))
                 for r in S.shard_manifest(docs).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{p}/*.parquet')")
    want = sorted((int(s), n, int(h)) for s, n, h in con.execute(
        S.SQL_SHARD_MANIFEST("t", ["doc_id", "text"])).fetchall())
    assert got == want

    a, b = docs.filter("doc_id < 70"), docs.filter("doc_id >= 70")
    merged = (S.shard_manifest(a).unionByName(S.shard_manifest(b))
              .groupBy("shard")
              .agg(F.sum("n_rows").alias("n_rows"),
                   F.sum("content_hash").alias("content_hash")))
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, S.shard_manifest(docs).collect()))


def test_shard_manifest_append_folds_at_batch_cost(spark, tmp_path):
    """append + manifest: the stored manifest FOLDS the batch's
    fingerprints onto the prior ones (mergeable sums) and ends equal
    to a manifest of everything at the path; verify passes against
    the accumulated set."""
    a = spark.createDataFrame(
        [(i, f"body {i}") for i in range(100)], ["doc_id", "text"])
    b = spark.createDataFrame(
        [(1000 + i, f"body {1000 + i}") for i in range(60)],
        ["doc_id", "text"])
    p = str(tmp_path / "acc")
    S.write_shards(a, p, n_shards=3, key_col="doc_id",
                   if_exists="append", manifest=True)
    S.write_shards(b, p, n_shards=3, key_col="doc_id",
                   if_exists="append", manifest=True)
    stored = spark.read.parquet(p + "_manifest")
    back = spark.read.parquet(p)
    assert back.count() == 160
    assert sorted(map(tuple, stored.collect())) == \
        sorted(map(tuple, S.shard_manifest(back).collect()))
    chk = S.verify_shard_manifest(spark, p, stored)
    assert chk["ok"] is True and chk["mismatched"] == []


def test_write_shards_append_manifest_skips_readback_when_unverified(
        spark, tmp_path):
    """verify=False + manifest=True on an append store must stay
    batch-cost: after the bootstrap write, subsequent appends fold
    from the batch frame and never scan the accumulated corpus (no
    rows_written in the report — the read-back didn't happen), yet
    the stored manifest still equals a full recompute."""
    a = spark.createDataFrame(
        [(i, f"x {i}") for i in range(50)], ["doc_id", "text"])
    b = spark.createDataFrame(
        [(100 + i, f"y {i}") for i in range(30)], ["doc_id", "text"])
    p = str(tmp_path / "fastacc")
    rep0 = S.write_shards(a, p, n_shards=2, key_col="doc_id",
                          if_exists="append", manifest=True,
                          verify=False)
    assert "manifest_path" in rep0          # bootstrap still writes it
    rep1 = S.write_shards(b, p, n_shards=2, key_col="doc_id",
                          if_exists="append", manifest=True,
                          verify=False)
    assert "rows_written" not in rep1       # no read-back scan
    stored = spark.read.parquet(p + "_manifest")
    back = spark.read.parquet(p)
    assert sorted(map(tuple, stored.collect())) == \
        sorted(map(tuple, S.shard_manifest(back).collect()))


# ---------------------------------------------------------------------------
# Z-order clustered writes (SK4)
# ---------------------------------------------------------------------------

def _files_with_matches(spark, path, predicate):
    df = spark.read.parquet(path).filter(predicate)
    return {r["f"] for r in
            df.select(F.input_file_name().alias("f")).distinct().collect()}


def test_zorder_write_clusters_both_dimensions(spark, tmp_path):
    """The Z-order layout confines a range predicate on EITHER
    clustered column to a small fraction of the files, where a
    single-column sort only prunes its leading column — the property
    that buys multi-dimensional file skipping at 100 TB."""
    from dynamic_etl_pipeline_thesis_ii_spark.sources.sinks import zorder_write

    n = 40_000
    df = (spark.range(n)
          .withColumn("x", (F.hash(F.col("id")) % 10_000 + 10_000) % 10_000)
          .withColumn("y", (F.hash(F.col("id"), F.lit(7)) % 10_000
                            + 10_000) % 10_000)
          .withColumn("payload", F.col("id") * 3))
    zpath, lpath = str(tmp_path / "z"), str(tmp_path / "linear")
    rep = zorder_write(df, zpath, ["x", "y"], bits=6, n_files=16)
    assert rep["rows"] == n and rep["n_files"] == 16
    # linear baseline: same file count, sorted by x only
    (df.repartitionByRange(16, "x").sortWithinPartitions("x")
     .write.parquet(lpath))

    # row fidelity: nothing lost or duplicated
    assert (spark.read.parquet(zpath).groupBy().sum("payload").first()[0]
            == df.groupBy().sum("payload").first()[0])

    box_y = (F.col("y") >= 4000) & (F.col("y") < 4400)
    z_y = _files_with_matches(spark, zpath, box_y)
    l_y = _files_with_matches(spark, lpath, box_y)
    # x-sorted layout scatters a y-range over every file; z-order
    # confines it to a fraction
    assert len(l_y) == 16
    assert len(z_y) <= 8
    box_x = (F.col("x") >= 4000) & (F.col("x") < 4400)
    z_x = _files_with_matches(spark, zpath, box_x)
    assert len(z_x) <= 8          # x stays clustered too
    # both-dimension box: tighter than either alone
    z_xy = _files_with_matches(spark, zpath, box_x & box_y)
    assert len(z_xy) <= min(len(z_x), len(z_y))


def test_zorder_key_skew_robust_and_edge_cases(spark):
    """Quantile bucketing keeps the key balanced under heavy skew,
    and degenerate inputs (single column, constant column) don't
    break the interleave."""
    from dynamic_etl_pipeline_thesis_ii_spark.sources.sinks import zorder_key
    import pytest as _pytest

    # 90% of mass at one value: quantile buckets still split the rest
    skew = spark.range(10_000).withColumn(
        "v", F.when(F.col("id") % 10 != 0, 0).otherwise(F.col("id")))
    keyed = zorder_key(skew.withColumn("w", F.col("id")), ["v", "w"],
                       bits=4)
    n_keys = keyed.select("__zkey").distinct().count()
    assert n_keys > 16            # both dims contribute entropy
    # single column degenerates to a plain quantile bucket id
    one = zorder_key(spark.range(100).withColumn("v", F.col("id")),
                     ["v"], bits=3)
    assert one.select("__zkey").distinct().count() == 8
    # constant column: every row lands in one bucket, no crash
    const = zorder_key(spark.range(50).withColumn("v", F.lit(5)),
                       ["v"], bits=3)
    assert const.select("__zkey").distinct().count() == 1
    with _pytest.raises(ValueError):
        zorder_key(spark.range(5), [], bits=3)


def test_corpus_store_merge_semantics(spark, tmp_path):
    """SK5: batch rows replace same-key store rows and insert
    otherwise; only touched buckets rewrite and untouched bucket
    directories stay byte-identical (path set + mtimes)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from dynamic_etl_pipeline_thesis_ii_spark.sources.sinks import (
        merge_into_corpus,
        save_corpus_store,
    )

    store = str(tmp_path / "store")
    docs = spark.createDataFrame(
        [(i, f"text {i}", "v1") for i in range(1000)],
        "doc_id bigint, text string, ver string")
    rep = save_corpus_store(docs, store, n_buckets=16)
    assert rep == {"rows": 1000, "n_buckets": 16}
    before = {f: os.path.getmtime(f) for f in glob.glob(
        store + "/bucket=*/*.parquet")}
    batch = spark.createDataFrame(
        [(5, "updated 5", "v2"), (999, "updated 999", "v2"),
         (5000, "brand new", "v2")],
        "doc_id bigint, text string, ver string")
    rep2 = merge_into_corpus(spark, store, batch)
    assert rep2["rows_updated"] == 2 and rep2["rows_inserted"] == 1
    assert rep2["buckets_touched"] <= 3
    back = spark.read.parquet(store)
    assert back.count() == 1001
    got = {r["doc_id"]: r["ver"] for r in back.filter(
        F.col("doc_id").isin([5, 999, 5000, 7])).collect()}
    assert got == {5: "v2", 999: "v2", 5000: "v2", 7: "v1"}
    after = {f: os.path.getmtime(f) for f in glob.glob(
        store + "/bucket=*/*.parquet")}
    changed_buckets = {
        f.split("bucket=")[1].split("/")[0]
        for f in set(before) - {f for f in before
                                if f in after
                                and after[f] == before[f]}}
    assert len(changed_buckets) <= rep2["buckets_touched"]
    # a second merge of the SAME batch: pure update, no inserts
    rep3 = merge_into_corpus(spark, store, batch)
    assert rep3["rows_updated"] == 3 and rep3["rows_inserted"] == 0
    assert spark.read.parquet(store).count() == 1001


def test_corpus_store_derived_buckets_and_geometry_sidecar(spark,
                                                          tmp_path):
    """n_buckets derives corpus-proportionally (constant rows per
    bucket) and the merge buckets with the STORE's geometry read
    from the sidecar, not a recomputed one."""
    from dynamic_etl_pipeline_thesis_ii_spark.sources.sinks import (
        merge_into_corpus,
        save_corpus_store,
    )

    docs = spark.createDataFrame(
        [(i, f"t {i}") for i in range(400)],
        "doc_id bigint, text string")
    s1 = str(tmp_path / "s1")
    rep = save_corpus_store(docs, s1, rows_per_bucket=50)
    assert rep["n_buckets"] == 8            # 400 / 50
    meta = spark.read.parquet(s1 + "_meta").first()
    assert meta["key_col"] == "doc_id" and meta["n_buckets"] == 8
    # ~10x corpus -> ~10x buckets at the same rows_per_bucket
    big = spark.createDataFrame(
        [(i, "x") for i in range(4000)], "doc_id bigint, text string")
    s2 = str(tmp_path / "s2")
    assert save_corpus_store(big, s2,
                             rows_per_bucket=50)["n_buckets"] == 80
    # merge against s1 must succeed using the sidecar geometry
    rep2 = merge_into_corpus(
        spark, s1, spark.createDataFrame(
            [(1, "upd")], "doc_id bigint, text string"))
    assert rep2["rows_updated"] == 1 and rep2["buckets_touched"] == 1


def test_nl_corpus_store_lifecycle(spark, tmp_path):
    """'build a bucketed corpus store' then 'upsert the batch into
    the corpus store at /p': NL build/upsert flow, bucket-count
    parsing, and the missing-path / no-store rejections."""
    import os

    from pyspark.sql import functions as F

    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        FixtureFetcher,
        Pipeline,
        parse_dataops_query,
    )

    assert parse_dataops_query(
        "build a bucketed corpus store, 12 buckets") \
        == {"target": "corpus_store_build", "n_buckets": 12}
    assert parse_dataops_query(
        "create a corpus store")["n_buckets"] is None
    p = parse_dataops_query(
        "upsert the batch into the corpus store at /s")
    assert p == {"target": "corpus_upsert", "store_path": "/s"}
    assert parse_dataops_query(
        "merge the new documents into the corpus store at /s")[
        "target"] == "corpus_upsert"

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF",
                            "/root/testdata/sf0.001")
    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    store = str(tmp_path / "store")
    res = pipe.run_dataops(
        "build a bucketed corpus store, 12 buckets", sf_dir, store)
    assert res["status"] == "complete"
    assert res["reports"]["n_buckets"] == 12
    n0 = res["reports"]["rows"]
    # batch dir: 3 changed docs + 2 new ones
    batch_dir = str(tmp_path / "batch")
    from dynamic_etl_pipeline_thesis_ii_spark.sources.registry import (
        Catalog,
    )
    docs = Catalog(spark, sf_dir).documents
    batch = (docs.filter(F.col("doc_id") < 3)
             .withColumn("text", F.concat(F.col("text"),
                                          F.lit(" EDITED")))
             .unionByName(docs.filter(F.col("doc_id") < 2).select(
                 (F.col("doc_id") + 900000).alias("doc_id"),
                 *[c for c in docs.columns if c != "doc_id"])))
    batch.write.parquet(batch_dir + "/documents.parquet")
    res2 = pipe.run_dataops(
        f"upsert the batch into the corpus store at {store}",
        batch_dir, str(tmp_path / "out"))
    assert res2["status"] == "complete"
    rep = res2["reports"]
    assert rep["rows_updated"] == 3 and rep["rows_inserted"] == 2
    back = spark.read.parquet(store)
    assert back.count() == n0 + 2
    assert back.filter(F.col("text").contains("EDITED")).count() == 3
    # rejections
    r1 = pipe.run_dataops("upsert the batch into the corpus store",
                          batch_dir, str(tmp_path / "o1"))
    assert r1["status"] == "rejected" and "store path" in r1["reason"]
    r2 = pipe.run_dataops(
        f"upsert the batch into the corpus store at {tmp_path}/nope",
        batch_dir, str(tmp_path / "o2"))
    assert r2["status"] == "rejected" and "no corpus store" in r2["reason"]


def test_merge_into_corpus_leaves_session_conf_alone(spark, tmp_path,
                                                    monkeypatch):
    """The merge's dynamic partition overwrite is a writer option: it
    never sets the shared session's partitionOverwriteMode, so a
    concurrent run's partitioned overwrite keeps static semantics."""
    from pyspark.sql.conf import RuntimeConfig

    from dynamic_etl_pipeline_thesis_ii_spark.sources.sinks import (
        merge_into_corpus,
        save_corpus_store,
    )

    store = str(tmp_path / "store")
    save_corpus_store(spark.createDataFrame(
        [(i, f"t{i}") for i in range(20)], "doc_id bigint, text string"),
        store, n_buckets=4)
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    sets = []
    real_set = RuntimeConfig.set

    def recording_set(self, k, v):
        sets.append(k)
        return real_set(self, k, v)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    rep = merge_into_corpus(spark, store, spark.createDataFrame(
        [(3, "new"), (99, "ins")], "doc_id bigint, text string"))
    assert rep["rows_updated"] == 1 and rep["rows_inserted"] == 1
    assert key not in sets
    assert spark.conf.get(key) == before
    assert spark.read.parquet(store).count() == 21


def test_corpus_store_merge_schema_guard(spark, tmp_path):
    """A batch whose columns don't match the store raises an
    actionable SinkError instead of silently dropping columns."""
    import pytest

    from dynamic_etl_pipeline_thesis_ii_spark.sources.sinks import (
        SinkError,
        merge_into_corpus,
        save_corpus_store,
    )

    store = str(tmp_path / "store")
    save_corpus_store(spark.createDataFrame(
        [(1, "a", "v1")], "doc_id bigint, text string, ver string"),
        store, n_buckets=4)
    bad = spark.createDataFrame([(2, "b")],
                                "doc_id bigint, text string")
    with pytest.raises(SinkError, match="does not match"):
        merge_into_corpus(spark, store, bad)


def test_corpus_store_rebucket_restores_geometry(spark, tmp_path):
    """SK5 geometry-growth fix: a store grown ~16x through merges
    keeps its stale save-time bucket count (the merge report says
    so via the advisory); rebucket to a NEW path restores constant
    rows/bucket, preserves content exactly, and merges against the
    rebucketed store bucket with the NEW geometry."""
    from pyspark.sql import functions as F

    from dynamic_etl_pipeline_thesis_ii_spark.sources.sinks import (
        merge_into_corpus,
        rebucket_corpus_store,
        save_corpus_store,
    )

    store = str(tmp_path / "store")
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(200)],
        "doc_id bigint, text string")
    rep = save_corpus_store(docs, store, rows_per_bucket=25)
    assert rep["n_buckets"] == 8
    # grow the store ~16x through merges (insert-only batches)
    for e in range(1, 16):
        batch = spark.createDataFrame(
            [(e * 10000 + i, f"epoch {e} doc {i}") for i in range(200)],
            "doc_id bigint, text string")
        last = merge_into_corpus(spark, store, batch)
    assert spark.read.parquet(store).count() == 3200
    # frozen geometry: still 8 buckets -> ~400 rows/bucket, 16x the
    # derive curve -> the advisory fires with the fix's name
    assert last["est_rows_per_bucket"] > 4 * 25
    assert "rebucket_corpus_store" in last["geometry_advisory"]

    dest = str(tmp_path / "rebucketed")
    rrep = rebucket_corpus_store(spark, store, dest,
                                 rows_per_bucket=25)
    assert rrep["rows"] == 3200
    assert rrep["n_buckets_before"] == 8
    assert rrep["n_buckets_after"] == 128          # 3200 / 25
    assert rrep["rows_per_bucket_after"] == 25
    assert rrep["rows_per_bucket_before"] == 400
    # content parity: same (key, text) set, nothing lost or dup'd
    a = sorted((r["doc_id"], r["text"]) for r in
               spark.read.parquet(store).drop("bucket").collect())
    b = sorted((r["doc_id"], r["text"]) for r in
               spark.read.parquet(dest).drop("bucket").collect())
    assert a == b
    # merges against the rebucketed store use the NEW sidecar
    # geometry and stay quiet (no advisory at the restored ratio)
    m = merge_into_corpus(spark, dest, spark.createDataFrame(
        [(0, "updated 0")], "doc_id bigint, text string"))
    assert m["rows_updated"] == 1
    assert "geometry_advisory" not in m
    back = spark.read.parquet(dest)
    assert back.count() == 3200
    assert back.filter(F.col("doc_id") == 0).first()["text"] == "updated 0"
    # a dest NESTED inside the store is as fatal as in-place: it
    # plants a non-'bucket=' dir inside the partitioned layout and
    # breaks later partition-discovery reads — rejected (r13)
    import pytest as _pytest

    from dynamic_etl_pipeline_thesis_ii_spark.sources.sinks import (
        SinkError,
    )
    with _pytest.raises(SinkError, match="outside the store"):
        rebucket_corpus_store(spark, store, store + "/rebucketed")
    # in-place (same path, and a `//`-aliased same path) still rejects
    with _pytest.raises(SinkError, match="outside the store"):
        rebucket_corpus_store(spark, store, store)
    with _pytest.raises(SinkError, match="outside the store"):
        rebucket_corpus_store(spark, store,
                              store.rsplit("/", 1)[0] + "//"
                              + store.rsplit("/", 1)[1])


def test_nl_corpus_rebucket(spark, tmp_path):
    """'rebucket the corpus store at /path' routes, runs, and
    rejects a missing path / missing store."""
    import os

    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        FixtureFetcher,
        Pipeline,
        parse_dataops_query,
    )
    from dynamic_etl_pipeline_thesis_ii_spark.sources.sinks import (
        save_corpus_store,
    )

    assert parse_dataops_query("rebucket the corpus store at /s") \
        == {"target": "corpus_rebucket", "store_path": "/s"}
    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF",
                            "/root/testdata/sf0.001")
    store = str(tmp_path / "store")
    docs = spark.createDataFrame(
        [(i, f"t {i}") for i in range(300)],
        "doc_id bigint, text string")
    save_corpus_store(docs, store, rows_per_bucket=25)
    pipe = Pipeline(spark, FixtureFetcher(spark, sf_dir))
    dest = str(tmp_path / "out")
    res = pipe.run_dataops(
        f"rebucket the corpus store at {store}", sf_dir, dest)
    assert res["status"] == "complete"
    assert res["reports"]["n_buckets_before"] == 12
    assert res["reports"]["rows"] == 300
    assert spark.read.parquet(dest).count() == 300
    r1 = pipe.run_dataops("rebucket the corpus store", sf_dir,
                          str(tmp_path / "o1"))
    assert r1["status"] == "rejected" and "store path" in r1["reason"]
    r2 = pipe.run_dataops(
        f"rebucket the corpus store at {tmp_path}/nope", sf_dir,
        str(tmp_path / "o2"))
    assert r2["status"] == "rejected" and "no corpus store" in r2["reason"]


def test_rebucket_rejects_in_place(spark, tmp_path):
    import pytest as _pytest

    from dynamic_etl_pipeline_thesis_ii_spark.sources.sinks import (
        SinkError,
        rebucket_corpus_store,
        save_corpus_store,
    )

    store = str(tmp_path / "s")
    save_corpus_store(spark.createDataFrame(
        [(1, "a")], "doc_id bigint, text string"), store)
    with _pytest.raises(SinkError, match="NEW path"):
        rebucket_corpus_store(spark, store, store + "/")


def test_merge_advisory_tolerates_legacy_two_column_meta(spark, tmp_path):
    """Stores saved before the rows_per_bucket sidecar column still
    merge fine — the advisory falls back to the default curve."""
    from dynamic_etl_pipeline_thesis_ii_spark.sources.sinks import (
        merge_into_corpus,
        save_corpus_store,
    )

    store = str(tmp_path / "s")
    save_corpus_store(spark.createDataFrame(
        [(i, f"t {i}") for i in range(100)],
        "doc_id bigint, text string"), store, n_buckets=4)
    # rewrite the sidecar in the pre-r12 2-column shape
    spark.createDataFrame([("doc_id", 4)],
                          "key_col string, n_buckets int") \
        .coalesce(1).write.mode("overwrite").parquet(store + "_meta")
    rep = merge_into_corpus(spark, store, spark.createDataFrame(
        [(1, "upd")], "doc_id bigint, text string"))
    assert rep["rows_updated"] == 1
    assert rep["est_rows_per_bucket"] > 0
    assert "geometry_advisory" not in rep   # 25 rows/bucket << 4x100k
