"""MERGE-by-key commits (snapshots.snapshot_upsert) — one O(staged)
commit that inserts every staged row and hides the previous generation
of matched keys through a keys-kind merge-on-read filter, plus the
validate_upsert read-back check and the CDC retract+insert feed."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

import ovalspark.sources.snapshots as sn
from ovalspark.operators.incremental import validate_upsert
from ovalspark.sources.snapshots import (
    current_snapshot_id,
    load_manifest,
    materialize_deletes,
    snapshot_read,
    snapshot_upsert,
    snapshot_write,
)


def _docs(spark, lo, hi, gen="g1"):
    return spark.range(lo, hi).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.lit(gen).alias("gen"),
        F.col("id").alias("v"),
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _part_files(root):
    return set(glob.glob(os.path.join(root, "data", "snap-*", "part-*.parquet")))


def test_upsert_replaces_and_inserts_in_one_commit(spark, tmp_path):
    root = str(tmp_path / "t")
    snapshot_write(_docs(spark, 0, 20).repartition(3), root)
    before = _part_files(root)

    staged = _docs(spark, 10, 30, gen="g2")  # d10..d19 replace, d20..d29 new
    sid = snapshot_upsert(spark, root, staged)
    assert sid == 2

    got = snapshot_read(spark, root)
    assert got.count() == 30
    assert _rows(got) == _rows(_docs(spark, 0, 10).unionByName(_docs(spark, 10, 30, "g2")))
    # old generation hidden, not rewritten: no pre-existing file changed
    old_still_there = {p for p in before if p in _part_files(root)}
    assert old_still_there == before
    # time travel: pre-merge state intact
    assert _rows(snapshot_read(spark, root, snapshot_id=1)) == _rows(_docs(spark, 0, 20))
    m = load_manifest(root, sid)
    assert m["operation"] == "upsert"
    assert m["total_rows"] == 30
    assert m["upsert_keys"]["n_staged"] == 20 and m["upsert_keys"]["n_replaced"] == 10
    keys = spark.read.parquet(os.path.join(root, m["upsert_keys"]["loc"]))
    assert keys.count() == 10  # matched keys only


def test_upsert_requires_key_unique_staging(spark, tmp_path):
    root = str(tmp_path / "t")
    snapshot_write(_docs(spark, 0, 5), root)
    dup = _docs(spark, 0, 3).unionByName(_docs(spark, 2, 4, gen="g2"))
    with pytest.raises(ValueError, match="key-unique"):
        snapshot_upsert(spark, root, dup)
    assert current_snapshot_id(root) == 1  # nothing committed


def test_upsert_first_commit_and_empty_stage(spark, tmp_path):
    root = str(tmp_path / "t")
    assert snapshot_upsert(spark, root, _docs(spark, 0, 5)) == 1  # plain first write
    assert snapshot_read(spark, root).count() == 5
    assert snapshot_upsert(spark, root, _docs(spark, 0, 0)) == 1  # empty: no commit


def test_upsert_scope_spares_later_appends(spark, tmp_path):
    """An append AFTER the upsert re-adding a replaced key is outside the
    keys-filter's scope and survives (two generations then coexist —
    the appender's claim, same as any append)."""
    root = str(tmp_path / "t")
    snapshot_write(_docs(spark, 0, 10), root)
    snapshot_upsert(spark, root, _docs(spark, 0, 5, gen="g2"))
    snapshot_write(_docs(spark, 0, 2, gen="g3"), root, mode="append")
    got = snapshot_read(spark, root)
    assert got.count() == 12
    assert got.filter("gen = 'g3'").count() == 2
    assert got.filter("gen = 'g2'").count() == 5
    assert got.filter("gen = 'g1'").count() == 5  # d5..d9 untouched


def test_upsert_stacks_with_mor_delete_and_materializes(spark, tmp_path):
    root = str(tmp_path / "t")
    snapshot_write(_docs(spark, 0, 30), root)
    sn.snapshot_delete(spark, root, "v < 5", strategy="merge-on-read")
    snapshot_upsert(spark, root, _docs(spark, 10, 20, gen="g2"))
    expect = (
        _docs(spark, 5, 10)
        .unionByName(_docs(spark, 10, 20, "g2"))
        .unionByName(_docs(spark, 20, 30))
    )
    assert _rows(snapshot_read(spark, root)) == _rows(expect)
    # matched count saw the delete: replacing d10..d19 (all live) = 10
    assert load_manifest(root)["upsert_keys"]["n_replaced"] == 10
    sid = materialize_deletes(spark, root)
    assert "row_filters" not in load_manifest(root, sid)
    assert _rows(snapshot_read(spark, root)) == _rows(expect)


def test_validate_upsert_passes_and_catches_leak(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "t")
    snapshot_write(_docs(spark, 0, 10).repartition(2), root)
    sid = snapshot_upsert(spark, root, _docs(spark, 0, 6, gen="g2"))
    assert validate_upsert(spark, root, sid).count() == 0

    # sabotage the read path: drop the keys filter from the manifest —
    # the old generation leaks and the read-back must catch every key
    p = sn._resolve_manifest_path(root, sid)
    import json as _json

    m = _json.load(open(p))
    m["row_filters"] = []
    open(p, "w").write(_json.dumps(m))
    sn._SEGMENT_CACHE.clear()
    v = validate_upsert(spark, root, sid)
    assert v.count() == 6
    assert {r["violation_class"] for r in v.collect()} == {"UPSERT_STALE_GENERATION"}


def test_upsert_cdc_feed_retracts_then_inserts(spark, tmp_path):
    from ovalspark.sources.stream_source import register_snapshot_source

    root = str(tmp_path / "t")
    snapshot_write(_docs(spark, 0, 10), root)
    snapshot_upsert(spark, root, _docs(spark, 5, 15, gen="g2"))
    register_snapshot_source(spark)
    out, ckpt = str(tmp_path / "m"), str(tmp_path / "c")
    q = (
        spark.readStream.format("ovalspark_snapshots")
        .option("path", root)
        .option("cdc", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    feed = spark.read.parquet(out)
    dels = feed.filter("_op = 'delete'")
    assert {r["doc_id"] for r in dels.collect()} == {f"d{i}" for i in range(5, 10)}
    # replaying the feed in commit order reconstructs the table: inserts
    # minus later retractions of the SAME key from an earlier commit
    ins = feed.filter("_op = 'insert'").select("doc_id", "gen", "v", "_commit_id")
    survivors = ins.join(
        dels.select("doc_id", F.col("_commit_id").alias("_del_cid")),
        "doc_id",
        "left",
    ).filter(F.col("_del_cid").isNull() | (F.col("_commit_id") >= F.col("_del_cid")))
    assert _rows(survivors.select("doc_id", "gen", "v")) == _rows(
        snapshot_read(spark, root)
    )


def test_upsert_append_feed_streams_new_generation(spark, tmp_path):
    from ovalspark.sources.stream_source import register_snapshot_source

    root = str(tmp_path / "t")
    snapshot_write(_docs(spark, 0, 10), root)
    snapshot_upsert(spark, root, _docs(spark, 5, 12, gen="g2"))
    register_snapshot_source(spark)
    out, ckpt = str(tmp_path / "m"), str(tmp_path / "c")
    q = (
        spark.readStream.format("ovalspark_snapshots")
        .option("path", root)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    feed = spark.read.parquet(out)
    assert feed.count() == 17  # 10 base inserts + 7 staged rows
    assert feed.filter("gen = 'g2'").count() == 7


def test_tail_validates_upsert_commits(spark, tmp_path, small_world):
    """The tail routes an upsert commit through delta validation AND the
    validate_upsert read-back: a clean re-ingest (same docs, new
    generation) yields zero violations; the same commit with the keys
    filter sabotaged yields UPSERT_STALE_GENERATION rows."""
    from ovalspark.operators.incremental import validate_snapshot_tail

    spec, cat, docs, _ = small_world
    bucket = F.pmod(F.xxhash64("doc_id", F.lit(97)), F.lit(3))
    base = docs.filter(bucket != 2).localCheckpoint()
    reingest = docs.filter(bucket == 2).localCheckpoint()  # new docs
    re_old = docs.filter(bucket == 0).localCheckpoint()  # replaces bucket 0

    root = str(tmp_path / "tail_upsert_tbl")
    s1 = snapshot_write(base, root)
    staged = reingest.unionByName(re_old).localCheckpoint()
    sid = snapshot_upsert(spark, root, staged)
    assert sid == s1 + 1

    staged_cat = cat.join(staged.select("doc_id"), "doc_id", "semi").localCheckpoint()
    got = list(
        validate_snapshot_tail(
            spark, root, lambda _s: staged_cat, spec.n_assets, after_id=s1, timeout_s=1.0
        )
    )
    assert [s for s, _ in got] == [sid]
    assert got[0][1].count() == 0  # clean merge: delta + read-back green


def test_upsert_bootstrap_enforces_key_uniqueness(spark, tmp_path):
    """The merge contract is key-unique staging — on an EMPTY table too:
    a duplicate-keyed frame must raise on the bootstrap commit exactly
    as it does on a non-empty one (it used to commit silently)."""
    import pytest

    from ovalspark.sources.snapshots import current_snapshot_id, snapshot_upsert

    root = str(tmp_path / "boot")
    dup = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "doc_id string, v long"
    )
    with pytest.raises(ValueError, match="key-unique"):
        snapshot_upsert(spark, root, dup)
    assert current_snapshot_id(root) is None  # nothing committed
    ok = spark.createDataFrame([("a", 1), ("b", 3)], "doc_id string, v long")
    sid = snapshot_upsert(spark, root, ok)
    assert sid == 1


def test_upsert_enforces_unique_on_non_key_column(spark, tmp_path):
    """A unique constraint whose key is NOT the upsert key must be
    enforced at upsert commit time: staged-internal dups and collisions
    with SURVIVING parent rows are refused; a collision with a row this
    upsert retracts (matched key) commits — the retraction removes it."""
    from ovalspark.sources.constraints import ConstraintViolationError, set_constraints

    root = str(tmp_path / "t")
    base = spark.range(10).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.concat(F.lit("u"), F.col("id")).alias("email"),
    )
    snapshot_write(base, root)
    set_constraints(root, [{"name": "uq_email", "kind": "unique", "column": "email"}], spark=spark)

    # staged email collides with a SURVIVING parent row (d3/u3 stays live)
    bad = spark.createDataFrame([("d100", "u3")], "doc_id string, email string")
    with pytest.raises(ConstraintViolationError, match="uq_email"):
        snapshot_upsert(spark, root, bad, key="doc_id")
    assert current_snapshot_id(root) == 2  # nothing committed

    # staged-internal duplicate on the non-key column refused too
    bad2 = spark.createDataFrame(
        [("d100", "w1"), ("d101", "w1")], "doc_id string, email string"
    )
    with pytest.raises(ConstraintViolationError, match="uq_email"):
        snapshot_upsert(spark, root, bad2, key="doc_id")

    # REPLACING d3 with the same email is legal: the matched key's old
    # row is retracted by this very commit
    ok = spark.createDataFrame([("d3", "u3")], "doc_id string, email string")
    snapshot_upsert(spark, root, ok, key="doc_id")
    assert current_snapshot_id(root) == 3

    # a unique constraint CONTAINING the upsert key needs no cross-check
    # and never blocks (doc_id is staged-unique by the merge contract)
    set_constraints(
        root,
        [{"name": "uq_pair", "kind": "unique", "columns": ["doc_id", "email"]}],
        mode="add",
        spark=spark,
    )
    snapshot_upsert(
        spark, root,
        spark.createDataFrame([("d4", "u4")], "doc_id string, email string"),
        key="doc_id",
    )
    assert current_snapshot_id(root) == 5
