"""Per-file Bloom membership sidecars: equality-probe pruning on
columns the table is NOT clustered on — the case where min/max bounds
prune nothing. The write side ships two JVM xxhash64 values per row and
builds/writes each bitmap executor-side; the probe side recomputes the
value's hashes through the SAME Spark expressions (never a Python
reimplementation) and tests candidates driver-side or, for large
candidate sets, in a distributed sidecar-reading pass."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ovalspark.sources.snapshots import (
    load_manifest,
    point_lookup,
    point_lookup_files,
    prune_files,
    snapshot_compact,
    snapshot_write,
)


def _docs(spark, n=4000):
    # hash-shuffled layout: every file spans the whole doc_id range, so
    # min/max bounds cannot prune an equality probe
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("u-"), (F.col("id") % 97).cast("string")).alias("user"),
        (F.xxhash64("id") % 1000).alias("v"),
    ).orderBy(F.xxhash64("id", F.lit(3)))


def test_bloom_point_lookup_prunes_hash_layout(spark, tmp_path):
    root = str(tmp_path / "t")
    snapshot_write(_docs(spark).repartition(16), root, bloom_cols=["doc_id"])
    m = load_manifest(root)
    assert len(m["files"]) == 16
    # every entry carries bloom metadata and its sidecar exists
    for fe in m["files"]:
        meta = fe["bloom"]["doc_id"]
        assert meta["m"] > 0 and meta["k"] >= 1 and meta["dtype"] == "bigint"
        assert os.path.getsize(os.path.join(root, meta["loc"])) == meta["m"] // 8
    # min/max prunes nothing on the shuffled key …
    assert len(prune_files(root, conditions=("doc_id", 1234, 1234))) == 16
    # … the bloom layer prunes to (true file) + fpp stragglers
    hits = point_lookup_files(spark, root, "doc_id", 1234)
    assert 1 <= len(hits) <= 3
    got = point_lookup(spark, root, "doc_id", 1234)
    assert [r["doc_id"] for r in got.collect()] == [1234]
    # absent value: usually zero files, never a wrong row
    assert point_lookup(spark, root, "doc_id", 10**9).count() == 0


def test_bloom_string_column_and_fpp(spark, tmp_path):
    root = str(tmp_path / "t")
    snapshot_write(_docs(spark).repartition(8), root, bloom_cols="user")
    # present value: every row surfaces (no false negatives, the hard
    # correctness contract of a Bloom filter)
    got = point_lookup(spark, root, "user", "u-13")
    assert got.count() == _docs(spark).filter("user = 'u-13'").count()
    # absent probes: false-positive FILE rate stays near the configured 1%
    fp_files = sum(
        len(point_lookup_files(spark, root, "user", f"absent-{i}"))
        for i in range(40)
    )
    assert fp_files <= 40 * 8 * 0.15  # generous: 15x the nominal fpp


def test_bloom_absent_coverage_is_sound(spark, tmp_path):
    """Files committed WITHOUT blooms always survive the probe — absence
    can cost a scan, never rows (same contract as absent column stats)."""
    root = str(tmp_path / "t")
    snapshot_write(_docs(spark, 2000).repartition(4), root, bloom_cols=["doc_id"])
    snapshot_write(
        spark.range(2000, 2100).select(
            F.col("id").alias("doc_id"),
            F.lit("u-new").alias("user"),
            F.lit(7).cast("bigint").alias("v"),
        ).coalesce(1),
        root,
        mode="append",  # no bloom_cols
    )
    hits = point_lookup_files(spark, root, "doc_id", 2050)
    assert any("snap-2" in p for p in hits)  # the unbloomed file survives
    assert [r["doc_id"] for r in point_lookup(spark, root, "doc_id", 2050).collect()] == [2050]
    # a probe OUTSIDE the unbloomed file's min/max range still prunes it
    # (bounds layer) and blooms the rest
    assert len(point_lookup_files(spark, root, "doc_id", 1234)) <= 2


def test_bloom_survives_compaction(spark, tmp_path):
    """Maintenance rewrites inherit bloom coverage like they inherit
    sketches — engine-owned commits never silently degrade probes."""
    root = str(tmp_path / "t")
    snapshot_write(_docs(spark, 2000).repartition(8), root, bloom_cols=["doc_id"])
    sid = snapshot_compact(spark, root, target_file_mb=128)
    m = load_manifest(root, sid)
    assert all("doc_id" in (fe.get("bloom") or {}) for fe in m["files"])
    assert [r["doc_id"] for r in point_lookup(spark, root, "doc_id", 42).collect()] == [42]


def test_bloom_all_null_file_is_provably_absent(spark, tmp_path):
    root = str(tmp_path / "t")
    snapshot_write(
        spark.range(100).select(
            F.col("id").alias("doc_id"),
            F.lit(None).cast("string").alias("user"),
            F.col("id").alias("v"),
        ).coalesce(1),
        root,
        bloom_cols=["user"],
    )
    m = load_manifest(root)
    assert m["files"][0]["bloom"]["user"]["m"] == 0
    assert point_lookup_files(spark, root, "user", "anything") == []
    assert point_lookup(spark, root, "user", "anything").count() == 0
    with pytest.raises(ValueError, match="NULL"):
        point_lookup_files(spark, root, "user", None)


def test_bloom_validates_inputs(spark, tmp_path):
    root = str(tmp_path / "t")
    with pytest.raises(ValueError, match="bloom_cols"):
        snapshot_write(_docs(spark, 100), root, bloom_cols=["nope"])
    with pytest.raises(ValueError, match="bloom_fpp"):
        snapshot_write(_docs(spark, 100), root, bloom_cols=["doc_id"], bloom_fpp=2.0)


def _jobs(spark, group, action):
    """Spark jobs run by ``action()`` under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setJobGroup("test_bloom.idle", "idle")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_lookup_of_absent_key_runs_no_job(spark, tmp_path):
    """A key the metadata rules out (by bounds or by every Bloom) reads
    nothing: the empty result is a JVM local relation and the probe
    hashes fold on the driver. An empty Python-built frame cost a job
    that started Python workers, and the hashes one more."""
    root = str(tmp_path / "t")
    snapshot_write(_docs(spark, 2000).repartition(4), root, bloom_cols=["doc_id", "user"])
    assert point_lookup_files(spark, root, "doc_id", 10**9) == []  # above every max
    assert point_lookup_files(spark, root, "user", "nobody") == []  # every Bloom says absent
    for col, value in (("doc_id", 10**9), ("user", "nobody")):
        got = []
        assert _jobs(spark, f"test_bloom.absent.{col}", lambda: got.extend(point_lookup(spark, root, col, value).collect())) == 0
        assert got == []
    # a present key still reads its rows
    assert [r["user"] for r in point_lookup(spark, root, "user", "u-5").collect()][:1] == ["u-5"]


def test_upsert_rebuilds_blooms_at_the_table_fpp(spark, tmp_path):
    """A rewrite inherits the Bloom columns AND the rate they were sized
    for: rebuilt at the default 0.01, a 0.001 table's new files carried
    ~9.6 bits per row instead of ~14.4."""
    root = str(tmp_path / "t")
    docs = _docs(spark, 4000)
    snapshot_write(docs.coalesce(1), root, bloom_cols=["doc_id"], bloom_fpp=0.001)
    (base,) = load_manifest(root)["files"]
    assert base["bloom"]["doc_id"]["fpp"] == 0.001
    assert base["bloom"]["doc_id"]["m"] / base["rows"] >= 14
    from ovalspark.sources.snapshots import snapshot_upsert

    snapshot_upsert(spark, root, docs.filter(F.col("doc_id") < 2000).withColumn("v", F.lit(0).cast("bigint")).coalesce(1))
    new = [fe for fe in load_manifest(root)["files"] if fe["path"] != base["path"]]
    assert new
    for fe in new:
        meta = fe["bloom"]["doc_id"]
        assert meta["fpp"] == 0.001
        assert meta["m"] / fe["rows"] >= 14, meta
    # the default rate is not recorded, so default manifests are unchanged
    snapshot_write(docs.coalesce(1), str(tmp_path / "d"), bloom_cols=["doc_id"])
    assert "fpp" not in load_manifest(str(tmp_path / "d"))["files"][0]["bloom"]["doc_id"]
