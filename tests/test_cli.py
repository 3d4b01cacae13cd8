"""CLI lifecycle: generate → validate → resume refusal/acceptance — the
engine's analog of oval's cmd-layer tests (argparser_test.go) plus the
run/save/load scenario of its Makefile CI."""

from __future__ import annotations

import argparse
import json

import pytest
from pyspark.sql import functions as F

from ovalspark.cli import main, parse_fault_mix, parse_span_range


def test_span_range_parser():
    assert parse_span_range("1-16") == (1, 16)
    with pytest.raises(argparse.ArgumentTypeError):
        parse_span_range("0-4")
    with pytest.raises(argparse.ArgumentTypeError):
        parse_span_range("9-3")
    with pytest.raises(argparse.ArgumentTypeError):
        parse_span_range("abc")


def test_fault_mix_parser():
    assert parse_fault_mix("WRONG_KIND=0.02,LOST_DOC=0.01") == {"WRONG_KIND": 0.02, "LOST_DOC": 0.01}
    with pytest.raises(argparse.ArgumentTypeError):
        parse_fault_mix("WRONG_KIND=x")


def test_cli_generate_validate_resume(spark, tmp_path, capsys):
    root, out = str(tmp_path / "world"), str(tmp_path / "run")
    rc = main(
        [
            "generate", "--root", root, "--writers", "2", "--docs-per-writer", "120",
            "--spans", "1-6", "--faults", "WRONG_KIND=0.05,LOST_DOC=0.05",
        ]
    )
    assert rc == 0
    gen_line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert gen_line["shards"] == 2

    rc = main(["validate", "--root", root, "--out", out])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 1 and report["passed"] is False
    assert report["totals"]["span_sequence"]["violations"] > 0
    assert report["totals"]["existence"]["violations"] > 0

    # second run without --resume refuses; with --resume it is a no-op
    assert main(["validate", "--root", root, "--out", out]) == 2
    capsys.readouterr()
    rc = main(["validate", "--root", root, "--out", out, "--resume"])
    report2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 1 and report2["totals"] == report["totals"]


def test_cli_fail_fast(spark, tmp_path, capsys):
    root, out = str(tmp_path / "w2"), str(tmp_path / "r2")
    main(["generate", "--root", root, "--writers", "2", "--docs-per-writer", "80", "--faults", "STALE_GENERATION=0.2"])
    capsys.readouterr()
    rc = main(["validate", "--root", root, "--out", out, "--fail-fast"])
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 1 and "aborted" in line


def test_cli_snapshot_time_travel_validate(spark, tmp_path, capsys):
    """V8 through the CLI: generate a clean snapshot world, overwrite the
    docs table with a corrupted generation, then validate --snapshot-id 1
    (clean, passes) vs latest (fails)."""
    root, out1, out2 = str(tmp_path / "w"), str(tmp_path / "r1"), str(tmp_path / "r2")
    assert main(
        ["generate", "--root", root, "--writers", "2", "--docs-per-writer", "80",
         "--spans", "1-4", "--table-format", "snapshot"]
    ) == 0
    capsys.readouterr()
    # overwrite docs with corruption = snapshot 2 (catalog untouched)
    assert main(
        ["generate", "--root", root, "--writers", "2", "--docs-per-writer", "80",
         "--spans", "1-4", "--faults", "WRONG_KIND=0.1", "--table-format", "snapshot"]
    ) == 0
    capsys.readouterr()

    rc = main(["validate", "--root", root, "--out", out1, "--table-format", "snapshot", "--snapshot-id", "1"])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and report["passed"] is True  # pre-overwrite state clean

    rc = main(["validate", "--root", root, "--out", out2, "--table-format", "snapshot"])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 1 and report["passed"] is False  # latest has the corruption

    # --snapshot-id without the snapshot format is refused — FRESH out
    # dir, or the earlier run's manifest-exists check returns 2 first and
    # the guard under test never executes
    out3 = str(tmp_path / "r3")
    assert main(["validate", "--root", root, "--out", out3, "--snapshot-id", "1"]) == 2


def test_cli_tail_validates_commits_and_resumes(spark, tmp_path, capsys):
    """`tail` through the CLI: a snapshot world with two commits (clean
    base, corrupted overwrite) is tailed from scratch — both commits
    validated, corruption surfaced in the second, and a rerun with the
    same state is a no-op (durable resume)."""
    root, out = str(tmp_path / "tw"), str(tmp_path / "tout")
    assert main(
        ["generate", "--root", root, "--writers", "2", "--docs-per-writer", "80",
         "--spans", "1-4", "--table-format", "snapshot"]
    ) == 0
    capsys.readouterr()
    assert main(
        ["generate", "--root", root, "--writers", "2", "--docs-per-writer", "80",
         "--spans", "1-4", "--faults", "WRONG_KIND=0.1", "--table-format", "snapshot"]
    ) == 0
    capsys.readouterr()

    assert main(["tail", "--root", root, "--out", out, "--timeout", "1"]) == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    per_snap = {d["snapshot_id"]: d["violations"] for d in lines if "snapshot_id" in d}
    assert set(per_snap) == {1, 2}
    assert per_snap[1] == 0 and per_snap[2] > 0  # corruption caught in commit 2
    assert lines[-1]["tailed"] == 2
    # the sink holds the per-snapshot violations
    v2 = spark.read.parquet(f"{out}/snapshot=2")
    assert v2.count() == per_snap[2]

    # durable resume: nothing new committed -> nothing re-validated
    assert main(["tail", "--root", root, "--out", out, "--timeout", "1"]) == 0
    lines2 = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert lines2[-1]["tailed"] == 0


def test_cli_tail_sees_catalog_of_mid_flight_commit(spark, tmp_path, capsys):
    """A commit landing WHILE the tailer runs must be validated against
    the catalog that describes it, not a catalog frozen at tailer start:
    the second world uses a different writer layout (disjoint doc_ids),
    so a stale catalog would false-PHANTOM every doc in commit 2."""
    import threading
    import time

    root, out = str(tmp_path / "lw"), str(tmp_path / "lout")
    assert main(
        ["generate", "--root", root, "--writers", "2", "--docs-per-writer", "60",
         "--spans", "1-4", "--table-format", "snapshot"]
    ) == 0
    capsys.readouterr()

    def writer():
        time.sleep(2.0)
        main(["generate", "--root", root, "--writers", "4", "--docs-per-writer", "60",
              "--spans", "1-4", "--table-format", "snapshot"])

    t = threading.Thread(target=writer)
    t.start()
    rc = main(["tail", "--root", root, "--out", out, "--timeout", "25", "--poll", "0.5"])
    t.join()
    assert rc == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines() if "snapshot_id" in x]
    per_snap = {d["snapshot_id"]: d["violations"] for d in lines}
    assert set(per_snap) == {1, 2}
    assert per_snap[2] == 0  # clean commit, validated against ITS catalog


def test_cli_tail_pins_catalog_generation(spark, tmp_path, capsys):
    """Each docs commit records the catalog snapshot id that described
    it (TableSet.save → manifest properties), and the stored-catalog
    tail time-travels to that pin: a backlog of saves with CHANGED
    expectations validates every commit against ITS catalog, and a save
    crashing between its catalog and docs commits (catalog one
    generation ahead, docs never landed) causes no false violations."""
    import pyspark.sql.functions as F

    from ovalspark.sources import read_table, write_table
    from ovalspark.sources.snapshots import load_manifest

    root, out = str(tmp_path / "pinw"), str(tmp_path / "pinout")
    # two saves whose span expectations DIFFER for the same doc_id space:
    # pre-pin, the tail read latest catalog for both commits, so commit 1
    # would be judged by save 2's expectations → span-count violations
    assert main(
        ["generate", "--root", root, "--writers", "2", "--docs-per-writer", "50",
         "--spans", "1-3", "--table-format", "snapshot"]
    ) == 0
    assert main(
        ["generate", "--root", root, "--writers", "2", "--docs-per-writer", "50",
         "--spans", "5-7", "--table-format", "snapshot"]
    ) == 0
    capsys.readouterr()
    docs_root = f"{root}/documents"
    assert load_manifest(docs_root, 1)["properties"]["catalog_snapshot_id"] == 1
    assert load_manifest(docs_root, 2)["properties"]["catalog_snapshot_id"] == 2

    # simulate save 3 dying between its two commits: the catalog table
    # advances a generation whose expectations match NO written docs
    cat = read_table(spark, f"{root}/catalog", fmt="snapshot").localCheckpoint()
    write_table(
        cat.withColumn("n_spans", F.col("n_spans") + 2),
        f"{root}/catalog",
        fmt="snapshot",
        partition_by=(),
    )

    assert main(["tail", "--root", root, "--out", out, "--timeout", "1"]) == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    per_snap = {d["snapshot_id"]: d["violations"] for d in lines if "snapshot_id" in d}
    assert per_snap == {1: 0, 2: 0}  # each commit judged by ITS catalog


def test_stored_catalog_expired_pin_falls_back_to_latest(spark, tmp_path):
    """A pin that catalog-table retention expired degrades to the
    pre-pin behavior (latest catalog, warned) instead of wedging the
    tail on FileNotFoundError."""
    from ovalspark.operators.incremental import stored_catalog_for
    from ovalspark.sources.snapshots import expire_snapshots, load_manifest

    root = str(tmp_path / "expw")
    assert main(
        ["generate", "--root", root, "--writers", "2", "--docs-per-writer", "40",
         "--spans", "1-3", "--table-format", "snapshot"]
    ) == 0
    assert main(
        ["generate", "--root", root, "--writers", "2", "--docs-per-writer", "40",
         "--spans", "1-3", "--table-format", "snapshot"]
    ) == 0
    assert load_manifest(f"{root}/documents", 1)["properties"]["catalog_snapshot_id"] == 1
    assert expire_snapshots(f"{root}/catalog", keep_last=1, do_vacuum=False) == [1]
    catalog_for = stored_catalog_for(spark, root)
    assert catalog_for(1).count() > 0  # latest catalog, not a crash


def test_cli_tail_self_contained_lost_doc(spark, tmp_path, capsys):
    """A commit that writes FEWER docs than its catalog promises is
    caught by the stored-catalog tail with no writer-supplied sets: the
    manifest-recorded expected doc set (TableSet.save sidecar) names the
    missing doc_ids as LOST_DOC — the coverage gap the round-5 help text
    documented, now closed."""
    from ovalspark.sources import read_table

    root, out = str(tmp_path / "ldw"), str(tmp_path / "ldout")
    assert main(
        ["generate", "--root", root, "--writers", "2", "--docs-per-writer", "80",
         "--spans", "1-4", "--table-format", "snapshot"]
    ) == 0
    capsys.readouterr()
    assert main(
        ["generate", "--root", root, "--writers", "2", "--docs-per-writer", "80",
         "--spans", "1-4", "--faults", "LOST_DOC=0.15", "--table-format", "snapshot"]
    ) == 0
    capsys.readouterr()

    assert main(["tail", "--root", root, "--out", out, "--timeout", "1"]) == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    per_snap = {d["snapshot_id"]: d["violations"] for d in lines if "snapshot_id" in d}
    assert per_snap[1] == 0 and per_snap[2] > 0

    lost = (
        spark.read.parquet(f"{out}/snapshot=2")
        .filter("violation_class = 'LOST_DOC'")
        .localCheckpoint()
    )
    assert lost.count() > 0
    # every named doc_id is genuinely absent from the written docs...
    docs = read_table(spark, f"{root}/documents", fmt="snapshot")
    assert lost.join(docs, "doc_id", "semi").count() == 0
    # ...and genuinely promised by the stored catalog
    cat = read_table(spark, f"{root}/catalog", fmt="snapshot").filter("exists")
    assert lost.join(cat, "doc_id", "semi").count() == lost.count()


def test_cli_maintain_lifecycle(spark, tmp_path, capsys):
    """The spark-submit table-lifecycle surface: delete (with read-back
    verification folded in), compact, retention, vacuum — one command,
    one machine-readable report; rows and history behave."""
    from ovalspark.sources.snapshots import snapshot_history, snapshot_read

    root = str(tmp_path / "mw")
    main(["generate", "--root", root, "--writers", "2", "--docs-per-writer", "100",
          "--table-format", "snapshot"])
    capsys.readouterr()
    docs_root = f"{root}/documents"
    n0 = snapshot_read(spark, docs_root).count()

    rc = main(["maintain", "--root", docs_root, "--adopt-catalog",
               "--delete-where", "partition_id = 0",
               "--compact-target-mb", "256"])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    # pointer adopted into the catalog: commits below flip it via CAS
    from ovalspark.sources.snapshots import _catalog_current

    assert report["adopt_catalog"]["snapshot_id"] == 1
    assert _catalog_current(docs_root)[0] is True
    assert report["delete"]["survivors"] == 0  # read-back verified in-line
    after = snapshot_read(spark, docs_root)
    assert 0 < after.count() < n0
    assert after.filter("partition_id = 0").count() == 0
    assert report["compact"]["snapshot_id"] == report["delete"]["snapshot_id"] + 1

    # retention + vacuum in a maintenance window (min-age 0)
    rc = main(["maintain", "--root", docs_root, "--expire-keep-last", "1",
               "--min-age-s", "0"])
    report2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and report2["expired"] and report2["vacuumed"] >= 1
    ids = [r.snapshot_id for r in snapshot_history(spark, docs_root).collect()]
    assert len(ids) == 1  # only the newest snapshot remains
    assert _catalog_current(docs_root)[1] == ids[0]  # catalog tracked it all

    # a predicate matching nothing commits nothing and verifies nothing
    rc = main(["maintain", "--root", docs_root, "--delete-where", "partition_id = 9999"])
    report3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and report3["delete"]["survivors"] is None


def test_cli_mor_delete_tag_and_branch(spark, tmp_path, capsys):
    """Round-8 CLI surface: merge-on-read delete + materialize, tags, and
    the write-audit-publish branch workflow — all from spark-submit."""
    from ovalspark.sources.branches import branch_root
    from ovalspark.sources.snapshots import (
        load_manifest,
        resolve_tag,
        snapshot_read,
        snapshot_write,
    )

    root = str(tmp_path / "mw8")
    main(["generate", "--root", root, "--writers", "2", "--docs-per-writer", "100",
          "--table-format", "snapshot"])
    capsys.readouterr()
    docs_root = f"{root}/documents"
    n0 = snapshot_read(spark, docs_root).count()

    # MoR delete commits metadata only, then materialize pays the rewrite
    rc = main(["maintain", "--root", docs_root,
               "--delete-where", "partition_id = 0",
               "--delete-strategy", "merge-on-read",
               "--tag", "pre-materialize"])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    del_sid = report["delete"]["snapshot_id"]
    assert report["delete"]["survivors"] == 0  # read-back over the MoR read
    assert load_manifest(docs_root, del_sid)["mor"] is True
    assert report["tag"]["snapshot_id"] == del_sid
    assert resolve_tag(docs_root, "pre-materialize") == del_sid
    n1 = snapshot_read(spark, docs_root).count()
    assert 0 < n1 < n0

    rc = main(["maintain", "--root", docs_root, "--materialize-deletes",
               "--delete-tag", "pre-materialize"])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    mat_sid = report["materialize_deletes"]["snapshot_id"]
    assert "row_filters" not in load_manifest(docs_root, mat_sid)
    assert snapshot_read(spark, docs_root).count() == n1

    # branch: create -> stage -> gated publish (audit key uniqueness)
    rc = main(["branch", "--root", docs_root, "--create", "ingest"])
    capsys.readouterr()
    assert rc == 0
    staged = snapshot_read(spark, docs_root).limit(20).withColumn(
        "doc_id", F.concat(F.lit("new-"), F.col("doc_id"))
    )
    snapshot_write(staged.localCheckpoint(), branch_root(docs_root, "ingest"))
    rc = main(["branch", "--root", docs_root, "--publish", "ingest",
               "--audit-unique-key", "doc_id"])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert snapshot_read(spark, docs_root).count() == n1 + 20

    # a duplicate-staging branch is REFUSED (exit 1), main untouched
    main(["branch", "--root", docs_root, "--create", "dupes"])
    capsys.readouterr()
    snapshot_write(
        snapshot_read(spark, docs_root).limit(5).localCheckpoint(),
        branch_root(docs_root, "dupes"),
    )
    rc = main(["branch", "--root", docs_root, "--publish", "dupes",
               "--audit-unique-key", "doc_id"])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 1 and report["publish"]["refused"] is True
    assert snapshot_read(spark, docs_root).count() == n1 + 20
    rc = main(["branch", "--root", docs_root, "--drop", "dupes", "--force"])
    capsys.readouterr()
    assert rc == 0

    # upsert-from: MERGE a staged parquet dir by key (read-back in-line),
    # then sort-rewrite re-clusters the whole table
    n2 = snapshot_read(spark, docs_root).count()
    staged_dir = str(tmp_path / "staged")
    snapshot_read(spark, docs_root).limit(10).withColumn(
        "doc_id", F.concat(F.lit("up-"), F.col("doc_id"))
    ).write.parquet(staged_dir)
    rc = main(["maintain", "--root", docs_root, "--upsert-from", staged_dir,
               "--sort-rewrite", "doc_id"])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert report["upsert"]["violations"] == 0
    assert report["sort_rewrite"]["sort_by"] == ["doc_id"]
    assert snapshot_read(spark, docs_root).count() == n2 + 10
    assert "row_filters" not in load_manifest(docs_root)


def test_cli_catalog_migrate_and_detach(spark, tmp_path, capsys):
    """The catalog-mobility surface from spark-submit: migrate a
    sqlite-owned table into the network catalog, commit there, detach
    back, commit locally — one flag each, machine-readable reports."""
    from ovalspark.sources.http_catalog import CatalogServer
    from ovalspark.sources.snapshots import (
        _refs_authority,
        current_snapshot_id,
        snapshot_write,
    )

    root = str(tmp_path / "cw")
    df = spark.range(10).select(F.col("id").cast("string").alias("doc_id"))
    snapshot_write(df, root, guard="sqlite")
    server = CatalogServer()
    endpoint = server.start()
    try:
        rc = main(["maintain", "--root", root, "--migrate-catalog", endpoint])
        report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rc == 0 and report["migrate_catalog"]["snapshot_id"] == 1
        assert _refs_authority(root)[0] == "http"
        snapshot_write(df.limit(3), root, mode="append", guard="http")

        rc = main(["maintain", "--root", root, "--detach-catalog"])
        report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rc == 0 and report["detach_catalog"]["snapshot_id"] == 2
        assert _refs_authority(root) == ("sqlite",)
        snapshot_write(df.limit(2), root, mode="append", guard="sqlite")
        assert current_snapshot_id(root) == 3
    finally:
        server.stop()


def test_cli_branch_list(spark, tmp_path, capsys):
    from ovalspark.sources.snapshots import create_tag, snapshot_write

    root = str(tmp_path / "lw")
    snapshot_write(spark.range(5).select(F.col("id").alias("doc_id")), root)
    create_tag(root, "v1")
    main(["branch", "--root", root, "--create", "wip"])
    capsys.readouterr()
    rc = main(["branch", "--root", root, "--list"])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert report["tags"] == {"v1": 1}
    assert report["branches"]["wip"]["base_snapshot"] == 1


def test_cli_constraints_and_rollback(spark, tmp_path, capsys):
    """The contract + rollback surface: --set-constraint refuses dirty
    data unless --allow-dirty, --audit-constraints reports the debt,
    --rollback undoes the dirty commit, and the post-rollback audit is
    clean with zero files scanned where metadata decides."""
    from ovalspark.sources.snapshots import current_snapshot_id, snapshot_write

    root = str(tmp_path / "cw")
    clean = spark.range(100).select(
        F.col("id").alias("doc_id"), (F.col("id") % 50).alias("n_chars")
    )
    snapshot_write(clean, root)  # 1
    rc = main([
        "maintain", "--root", root,
        "--set-constraint", '{"name":"nn","kind":"not_null","column":"n_chars"}',
        "--set-constraint", '{"name":"rng","kind":"range","column":"n_chars","lo":0,"hi":1000}',
    ])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and report["set_constraints"]["added"] == ["nn", "rng"]

    # a violating append is refused at commit time (the CLI surfaces it)
    bad = spark.range(5).select(
        (F.col("id") + 1000).alias("doc_id"), F.lit(None).cast("long").alias("n_chars")
    )
    import pytest as _pytest

    from ovalspark.sources.constraints import ConstraintViolationError

    with _pytest.raises(ConstraintViolationError):
        snapshot_write(bad, root, mode="append")
    assert current_snapshot_id(root) == 2

    # force the debt in (enforce=False path): drop, dirty append, re-attach
    rc = main(["maintain", "--root", root, "--drop-constraint", "nn"])
    capsys.readouterr()
    snapshot_write(bad, root, mode="append")  # 4
    rc = main([
        "maintain", "--root", root, "--allow-dirty",
        "--set-constraint", '{"name":"nn","kind":"not_null","column":"n_chars"}',
        "--audit-constraints",
    ])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    audit = {r["constraint"]: r for r in report["audit_constraints"]["rows"]}
    assert audit["nn"]["violated_rows"] == 5

    # rollback to the pre-debt snapshot; the audit comes back clean
    rc = main(["maintain", "--root", root, "--rollback", "2", "--audit-constraints"])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and report["rollback"]["rolled_back_to"] == 2
    audit = {r["constraint"]: r for r in report["audit_constraints"]["rows"]}
    assert all(r["violated_rows"] == 0 for r in audit.values())
    assert report["audit_constraints"]["files_scanned"] == 0  # metadata-decided


def test_cli_tail_audits_constraint_debt(spark, tmp_path, capsys):
    """tail --audit-constraints: debt landing through the raw
    commit_staged_files path (which bypasses commit enforcement by
    design) is named per-commit in the tail's JSON report; clean
    commits carry no constraint_debt key."""
    import glob as g

    from ovalspark.sources.constraints import set_constraints
    from ovalspark.sources.snapshots import commit_staged_files, snapshot_read

    root, out = str(tmp_path / "cw"), str(tmp_path / "cout")
    assert main(
        ["generate", "--root", root, "--writers", "2", "--docs-per-writer", "60",
         "--spans", "1-4", "--table-format", "snapshot"]
    ) == 0
    capsys.readouterr()
    docs_root = f"{root}/documents"
    set_constraints(
        docs_root,
        [{"name": "nn", "kind": "not_null", "column": "doc_id"}],
        spark=spark,
    )  # snapshot 2 (metadata-only)
    # dirty rows land through the RAW path: 2 NULL doc_ids
    staged_dir = str(tmp_path / "staged")
    docs = snapshot_read(spark, docs_root)
    bad = docs.limit(2).select(
        *[
            F.lit(None).cast(f.dataType).alias(f.name)
            if f.name == "doc_id"
            else F.col(f.name)
            for f in docs.schema.fields
        ]
    )
    bad.coalesce(1).write.parquet(staged_dir)
    commit_staged_files(
        docs_root, g.glob(f"{staged_dir}/part-*.parquet"), bad.schema
    )  # snapshot 3, NOT enforced

    assert main(
        ["tail", "--root", root, "--out", out, "--timeout", "1",
         "--audit-constraints"]
    ) == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    rows = {d["snapshot_id"]: d for d in lines if "snapshot_id" in d}
    assert "constraint_debt" not in rows[1] and "constraint_debt" not in rows[2]
    assert rows[3]["constraint_debt"] == {"3": [{"constraint": "nn", "violated_rows": 2}]} or \
           rows[3]["constraint_debt"] == {3: [{"constraint": "nn", "violated_rows": 2}]}
