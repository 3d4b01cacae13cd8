"""rollback_table: undo bad commits as a new metadata-only commit
(snapshots.py). History stays dense, undone snapshots stay readable,
and the constraint contract carries from CURRENT, not the target."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ovalspark.sources.constraints import set_constraints, table_constraints
from ovalspark.sources.snapshots import (
    current_snapshot_id,
    manifest_diff,
    rollback_table,
    snapshot_history,
    snapshot_read,
    snapshot_write,
)


def _docs(spark, tag: str, n: int):
    return spark.range(n).select(
        F.format_string(f"{tag}%04d", F.col("id")).alias("doc_id"),
        (F.col("id") % 100).alias("n_chars"),
    )


@pytest.fixture()
def table(tmp_path, spark):
    root = str(tmp_path / "t")
    snapshot_write(_docs(spark, "a", 50), root)  # 1
    snapshot_write(_docs(spark, "b", 30), root, mode="append")  # 2
    snapshot_write(_docs(spark, "bad", 10), root, mode="append")  # 3
    return root


def test_rollback_restores_and_keeps_history(table, spark):
    sid = rollback_table(table, 2)
    assert sid == 4 and current_snapshot_id(table) == 4
    # reads are byte-identical to the target snapshot
    now = {r["doc_id"] for r in snapshot_read(spark, table).collect()}
    then = {r["doc_id"] for r in snapshot_read(spark, table, snapshot_id=2).collect()}
    assert now == then and not any(d.startswith("bad") for d in now)
    # the undone snapshot stays time-travel readable for forensics
    assert snapshot_read(spark, table, snapshot_id=3).count() == 90
    # history is dense and the op is self-describing
    hist = {r["snapshot_id"]: r.asDict() for r in snapshot_history(spark, table).collect()}
    assert set(hist) == {1, 2, 3, 4}
    assert hist[4]["operation"] == "rollback"
    # a rollback ADDS no files (it restores the target's set verbatim)
    assert manifest_diff(table, 3, 4) == []
    assert manifest_diff(table, 2, 4) == []


def test_rollback_edge_cases(table, spark):
    assert rollback_table(table, 3) == 3  # to CURRENT: no-op
    with pytest.raises(ValueError, match="FORWARD"):
        rollback_table(table, 9)
    with pytest.raises(FileNotFoundError):
        rollback_table(str(table) + "-missing", 1)
    # rolling back twice lands on the same content, new ids each time
    rollback_table(table, 1)
    rollback_table(table, 1)
    assert current_snapshot_id(table) == 5
    assert snapshot_read(spark, table).count() == 50


def test_rollback_keeps_current_contract(table, spark):
    # contract attached AFTER snapshot 1 must survive a rollback TO 1
    set_constraints(
        table,
        [{"name": "nn", "kind": "not_null", "column": "n_chars"}],
        spark=spark,
    )  # 4
    rollback_table(table, 1)  # 5
    assert [c["name"] for c in table_constraints(table)] == ["nn"]
    # and the restored data is the target's
    assert snapshot_read(spark, table).count() == 50


def test_rollback_then_append_continues(table, spark):
    rollback_table(table, 2)  # 4
    snapshot_write(_docs(spark, "c", 5), table, mode="append")  # 5
    got = {r["doc_id"][:1] for r in snapshot_read(spark, table).collect()}
    assert got == {"a", "b", "c"}


def test_vacuum_never_reclaims_rollback_referenced_files(table, spark):
    """Retention safety: after a rollback, the restored (old) data files
    are referenced by the LIVE rollback manifest — expire + vacuum of the
    undone snapshots must leave them untouched and the table readable."""
    from ovalspark.sources.snapshots import expire_snapshots, vacuum

    rollback_table(table, 1)  # 4 references snapshot 1's files
    expire_snapshots(table, keep_last=1)  # drops manifests 1..3
    removed = vacuum(table, min_age_s=0)
    # snapshot 2/3's EXTRA files (b*/bad*) are reclaimable; 1's are not
    assert snapshot_read(spark, table).count() == 50
    got = {r["doc_id"][:1] for r in snapshot_read(spark, table).collect()}
    assert got == {"a"}
    # the undone snapshots' own additions were actually reclaimed
    assert removed, "vacuum should reclaim the expired b/bad commits' files"


def test_rollback_cdc_feed_retracts_undone_and_restores(spark, tmp_path):
    """A rollback commit is overwrite-class in the CDC feed: consumers
    see the undone generation retracted and the restored generation
    re-inserted, so replaying the feed converges on the table state
    (previously the commit emitted NOTHING and mirrors diverged)."""
    from ovalspark.sources.stream_source import register_snapshot_source

    root = str(tmp_path / "t")
    snapshot_write(_docs(spark, "a", 5), root)  # 1
    snapshot_write(_docs(spark, "bad", 3), root, mode="append")  # 2
    rollback_table(root, 1)  # 3: restore snapshot 1
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
    # replay in commit order: last op per doc_id wins
    import pyspark.sql.window as W

    # within one commit retractions apply before inserts, so the insert
    # wins the tie ('insert' > 'delete' lexically)
    w = W.Window.partitionBy("doc_id").orderBy(F.desc("_commit_id"), F.desc("_op"))
    last = (
        feed.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1 AND _op = 'insert'")
        .select("doc_id")
    )
    assert {r["doc_id"] for r in last.collect()} == {
        r["doc_id"] for r in snapshot_read(spark, root).collect()
    }
    # the rollback commit itself carried both phases
    rb = feed.filter("_commit_id = 3")
    assert rb.filter("_op = 'delete'").count() == 8  # undone generation (a0..a4 + bad0..2)
    assert rb.filter("_op = 'insert'").count() == 5  # restored generation


@pytest.mark.parametrize("cdc", [False, True])
def test_stream_refuses_rollback_or_overwrite_over_pending_mor_filters(spark, tmp_path, cdc):
    """Rollback emission and the CDC retraction of an overwrite's parent
    both stream raw files: over pending merge-on-read filters they would
    re-insert (or re-retract) logically deleted rows, so the feed
    refuses them like the batch reader does."""
    from ovalspark.sources.snapshots import snapshot_delete
    from ovalspark.sources.stream_source import _cdc_schema, _SnapshotStreamReader

    def partitions(root, start, end):
        schema = snapshot_read(spark, root).schema
        reader = _SnapshotStreamReader(root, start, _cdc_schema(schema) if cdc else schema, cdc=cdc)
        return reader.partitions({"snapshot_id": start}, {"snapshot_id": end})

    root = str(tmp_path / "rb")
    snapshot_write(_docs(spark, "a", 10), root)  # 1
    snapshot_delete(spark, root, "doc_id = 'a0003'", strategy="merge-on-read")  # 2: pending filter
    snapshot_write(_docs(spark, "b", 5), root, mode="append")  # 3
    rollback_table(root, 2)  # 4: restores snapshot 2 with its filter
    with pytest.raises(ValueError, match="materialize_deletes first"):
        partitions(root, 3, 4)

    root = str(tmp_path / "ow")
    snapshot_write(_docs(spark, "a", 10), root)  # 1
    snapshot_delete(spark, root, "doc_id = 'a0003'", strategy="merge-on-read")  # 2
    snapshot_write(_docs(spark, "c", 4), root)  # 3: overwrite, parent has a pending filter
    if cdc:
        with pytest.raises(ValueError, match="materialize_deletes first"):
            partitions(root, 2, 3)
    else:
        # the append feed emits only the new generation: nothing stale
        assert len(partitions(root, 2, 3)) == len(manifest_diff(root, 2, 3))
