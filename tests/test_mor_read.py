"""Stacked merge-on-read filters read as one stratified plan
(snapshots.py `_read_strata`): a seeded random history of appends,
upserts and MoR deletes checked against a pure-Python model of the live
rows after every step; a read's Spark job count that does not grow with
the number of pending keys filters; and `validate_replace` on the fold
(`materialize_deletes`) that retires them."""

from __future__ import annotations

import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import ovalspark.sources.snapshots as sn
from ovalspark.operators.incremental import validate_replace, validate_snapshot_tail, validate_upsert
from ovalspark.sources.snapshots import (
    current_snapshot_id,
    manifest_diff,
    materialize_deletes,
    point_lookup,
    snapshot_delete,
    snapshot_read,
    snapshot_upsert,
    snapshot_write,
)

SCHEMA = "doc_id string, gen int, v long"


def _sorted(rows):
    return sorted(rows, key=lambda r: tuple((x is None, "" if x is None else x) for x in r))


def _rows(df):
    return _sorted(tuple(r) for r in df.select("doc_id", "gen", "v").collect())


def _frame(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _pending(root):
    m = sn._load_manifest_raw(root)
    return m, [f for f in m.get("row_filters") or [] if f.get("kind") == "keys"]


def _check_fold(spark, root, tmp_path, want):
    """Fold a COPY of the table (the original keeps its filters stacked):
    the rewrite must hold the model's rows and verify clean."""
    copy = str(tmp_path / "fold")
    shutil.rmtree(copy, ignore_errors=True)
    shutil.copytree(root, copy)
    parent = current_snapshot_id(copy)
    sid = materialize_deletes(spark, copy)
    assert _rows(snapshot_read(spark, copy)) == want
    if sid != parent:
        assert validate_replace(spark, copy, sid).count() == 0


def test_random_history_matches_model(spark, tmp_path):
    rng = random.Random(20261018)
    root = str(tmp_path / "t")
    batches: list[list[str]] = []  # doc ids each write added, in commit order
    live: list[tuple] = []
    next_id = 0

    def new_rows(n):
        nonlocal next_id
        out = [(f"d{next_id + i:03d}", 0, rng.randrange(1000)) for i in range(n)]
        next_id += n
        return out

    def live_ids():
        return sorted({r[0] for r in live if r[0] is not None})

    base = new_rows(24)
    snapshot_write(_frame(spark, base).repartition(2), root)
    live += base
    batches.append([r[0] for r in base])

    schedule = ["append_null", "upsert", "append", "upsert", "delete", "append", "upsert_wide", "delete"]
    for step, op in enumerate(schedule):
        touched: list[str] = []
        if op.startswith("append"):
            rows = new_rows(rng.randint(4, 8))
            if op == "append_null":
                rows.append((None, 0, -1))  # a NULL key survives every filter
            snapshot_write(_frame(spark, rows), root, mode="append")
            live += rows
            batches.append([r[0] for r in rows if r[0] is not None])
            touched = [rows[0][0]]
        elif op.startswith("upsert"):
            if op == "upsert_wide":
                # one live key out of every batch: the keys hit every stratum
                ids = set(live_ids())
                touched = [rng.choice(c) for b in batches if (c := [d for d in b if d in ids])]
                assert len(touched) >= 3
            else:
                touched = rng.sample(live_ids(), rng.randint(3, 5))
            gens = {r[0]: r[1] for r in live}
            rows = [(d, gens[d] + 1, rng.randrange(1000)) for d in touched] + new_rows(2)
            sid = snapshot_upsert(spark, root, _frame(spark, rows), fold_threshold=None)
            live = [r for r in live if r[0] not in set(touched)] + rows
            batches.append([r[0] for r in rows])
            assert validate_upsert(spark, root, sid).count() == 0
        else:
            touched = rng.sample(live_ids(), rng.randint(2, 4))
            pred = "doc_id IN (" + ", ".join(f"'{d}'" for d in touched) + ")"
            snapshot_delete(spark, root, pred, strategy="merge-on-read", fold_threshold=None)
            live = [r for r in live if r[0] not in set(touched)]

        want = _sorted(live)
        assert _rows(snapshot_read(spark, root)) == want, f"step {step} {op}"
        for d in (touched[0], rng.choice(live_ids())):
            got = _rows(point_lookup(spark, root, "doc_id", d))
            assert got == _sorted(r for r in live if r[0] == d), f"step {step} {op} lookup {d}"
        _check_fold(spark, root, tmp_path, want)

    m, keys = _pending(root)
    assert len(keys) >= 3
    assert len(sn._filter_groups(root, m, None)) >= 3
    assert sum(1 for r in live if r[0] is None) == 1


def _read_jobs(spark, root, group):
    """(job count, stage names) of building and collecting one
    ``snapshot_read`` under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        snapshot_read(spark, root).collect()
    finally:
        sc.setJobGroup("test_mor_read.idle", "idle")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    ids = tracker.getJobIdsForGroup(group)
    names = [
        tracker.getStageInfo(s).name
        for j in ids
        for s in tracker.getJobInfo(j).stageIds
        if tracker.getStageInfo(s) is not None
    ]
    return len(ids), names


def test_read_jobs_do_not_grow_with_pending_keys_filters(spark, tmp_path):
    root = str(tmp_path / "t")
    ids = lambda lo, hi: [(f"d{i:03d}", 0, i) for i in range(lo, hi)]  # noqa: E731
    up = lambda rows: [(d, g + 1, v) for d, g, v in rows]  # noqa: E731
    snapshot_write(_frame(spark, ids(0, 30)).repartition(2), root)
    snapshot_upsert(spark, root, _frame(spark, up(ids(0, 5))), fold_threshold=None)
    assert len(_pending(root)[1]) == 1
    n1, names1 = _read_jobs(spark, root, "test_mor_read.one")

    snapshot_write(_frame(spark, ids(100, 110)), root, mode="append")
    snapshot_upsert(spark, root, _frame(spark, up(ids(3, 8))), fold_threshold=None)
    snapshot_write(_frame(spark, ids(200, 210)), root, mode="append")
    snapshot_upsert(
        spark, root, _frame(spark, up(ids(7, 9) + ids(100, 102) + ids(200, 201))), fold_threshold=None
    )
    m, keys = _pending(root)
    assert len(keys) == 3 and len(sn._filter_groups(root, m, None)) >= 3
    n3, names3 = _read_jobs(spark, root, "test_mor_read.three")

    assert n1 == n3, (names1, names3)
    # schema inference of a parquet read shows up as its own "parquet at" job
    assert not [n for n in names1 + names3 if n.startswith("parquet at")], names1 + names3


def _fold_table(spark, tmp_path):
    """A table whose fold drops rows: one MoR delete, one upsert."""
    root = str(tmp_path / "t")
    snapshot_write(_frame(spark, [(f"d{i:02d}", 0, i) for i in range(20)]).repartition(2), root)
    snapshot_delete(spark, root, "doc_id IN ('d01', 'd02', 'd03')", strategy="merge-on-read")
    snapshot_upsert(spark, root, _frame(spark, [("d04", 1, 40), ("d05", 1, 50), ("d30", 0, 30)]))
    parent = current_snapshot_id(root)
    sid = materialize_deletes(spark, root)
    assert sid == parent + 1
    return root, parent, sid


def _rewrite_added(root, parent, sid, edit):
    (path,) = manifest_diff(root, parent, sid)
    pq.write_table(edit(pq.read_table(path)), path)
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):  # Hadoop would reject the edited file's checksum
        os.unlink(crc)


def test_validate_replace_accepts_fold_that_dropped_rows(spark, tmp_path):
    root, parent, sid = _fold_table(spark, tmp_path)
    assert validate_replace(spark, root, sid).count() == 0
    tail = list(validate_snapshot_tail(spark, root, lambda s: None, after_id=parent, timeout_s=0.5))
    assert [s for s, _ in tail] == [sid]
    assert tail[0][1].count() == 0


def _mutate_one(t):
    v = t.column("v").to_pylist()
    v[0] += 1
    return t.set_column(t.schema.get_field_index("v"), "v", pa.array(v, t.schema.field("v").type))


@pytest.mark.parametrize("fault", ["dropped", "mutated"])
def test_validate_replace_flags_fold_that_lost_or_changed_a_row(spark, tmp_path, fault):
    root, parent, sid = _fold_table(spark, tmp_path)
    _rewrite_added(root, parent, sid, (lambda t: t.slice(1)) if fault == "dropped" else _mutate_one)
    rows = validate_replace(spark, root, sid).collect()
    assert [r["violation_class"] for r in rows] == ["REPLACE_MISMATCH"]
