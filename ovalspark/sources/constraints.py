"""Table-attached constraint contracts for the snapshot store.

The engine's validators (operators/) answer "is this data correct?" as
an EXPLICIT job a caller runs after the fact — oval's shape, where each
worker validates around its own operations (reference:
internal/runner/worker.go:42-64 validates the pre-state before every
PUT via pattern.Valid, internal/pattern/pattern.go:118). A constraint
CONTRACT inverts the ownership: the rule itself becomes table state,
versioned with the manifest like the sort layout, so every writer is
checked against it at commit time and every auditor reads the same rule
the writers enforced. Iceberg/Delta analog: ``ALTER TABLE ADD
CONSTRAINT CHECK`` — re-derived here against this store's manifest +
CAS machinery.

Four kinds, declared as plain dicts:

* ``{"name", "kind": "not_null", "column"}`` — violation: column IS NULL.
* ``{"name", "kind": "range", "column", "lo"?, "hi"?}`` — violation:
  column IS NOT NULL AND outside [lo, hi] (either bound may be open).
  NULLs pass (SQL CHECK semantics — use not_null to forbid them).
* ``{"name", "kind": "check", "expr"}`` — any Spark-SQL boolean
  expression; violation: expr IS FALSE (NULL passes, like SQL CHECK).
* ``{"name", "kind": "unique", "column"}`` — violation rows: rows whose
  non-NULL value occurs more than once. Composite keys: ``"columns":
  [a, b, ...]`` instead of ``column`` — rows where every key part is
  non-NULL and the tuple occurs more than once (SQL UNIQUE semantics:
  a NULL in any part opts the row out; forbid that with not_null).
* ``{"name", "kind": "ref", "column", "ref_table", "ref_column"?}`` —
  foreign-key existence (oval's media_ref-against-asset-catalog check
  as a contract): violation rows: rows whose non-NULL value has no
  match in ``ref_table`` (a snapshot-table root, read at ITS current
  snapshot, or a plain parquet path); ``ref_column`` defaults to
  ``column``. The check is as-of the ref table at audit/commit time —
  cross-table transactional integrity is the catalog's story, not a
  row predicate's.
* ``{"name", "kind": "drift", "column", "method": "ks"|"chi2",
  "threshold"?, "min_rows"?}`` — a DISTRIBUTION contract: the column's
  value distribution must stay close to the baseline captured from the
  table when the rule was attached (``set_constraints`` snapshots it
  into the constraint itself, so the manifest carries the whole
  contract). ``ks`` (numeric): the baseline ECDF at ``_DRIFT_BINS``
  equi-probable breakpoints; audited data's ECDF at the same points
  must not deviate more than ``threshold`` (default: the
  1.63/sqrt(n) α≈0.01 KS critical value). ``chi2`` (categorical):
  baseline proportions of the top categories (+OTHER); Pearson chi² vs
  them must stay under ``threshold`` (default: the α≈0.01 critical
  value via the Wilson–Hilferty approximation). A drift breach is
  TABLE-level: ``violated_rows`` reports 1 (the detail carries the
  statistic), and samples below ``min_rows`` (default 200) are skipped
  — a distribution test on five rows is noise, not evidence. This is
  the contract form of the engine's KS/chi² drift validators
  (operators/drift.py), with the baseline coming from DATA instead of
  a closed-form model.

Each may carry ``"enforce": false`` to record the rule for audits
without blocking commits (default: enforced).

Scale shape (the whole point):

* ``audit_constraints`` decides not_null and range from MANIFEST stats
  first — per-file {min, max, nulls} recorded at commit time — and
  scans ONLY the files metadata cannot decide, with the violation
  predicate pushed down. A clean clustered table audits with ZERO data
  reads. ``check`` exprs scan once for ALL check constraints in one
  column-pruned aggregation; ``unique`` runs the HLL screen
  (``uniqueness_screen``) as triage detail, then the exact
  single-column groupBy.
* Commit enforcement (``snapshot_write`` / ``snapshot_upsert``) checks
  the STAGED files only — O(new data), from their just-collected footer
  stats where possible — never a re-scan of the table. The one
  documented exception: a ``unique`` constraint on an append must also
  prove the staged keys collide with nothing live, which costs one
  column-pruned scan of the table's key column per commit (the same
  honest cost ``snapshot_upsert`` pays for its matched-keys sidecar).
* Branch writes (``commit_staged_files``) stay UNENFORCED by design:
  WAP stages dirty data on purpose and audits at publish
  (``sources/branches.validate_then_publish`` — pass
  ``audit_constraints`` output as the validator's evidence).

Pending merge-on-read filters demote every metadata decision to the
logical read (physical footer stats overcount rows a pending filter
hides); the audit says so in its report rather than silently using
physical counts.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ovalspark.session import _empty
from ovalspark.sources.snapshots import (
    _abs_path,
    _committed_schema,
    _expand_manifest,
    _load_manifest_raw,
    _SnapshotTxn,
    _stats_comparable,
    snapshot_read,
    uniqueness_screen,
)

_KINDS = ("not_null", "range", "check", "unique", "ref", "drift")

_DRIFT_BINS = 32  # equi-probable KS grid / chi² category cap
_DRIFT_MIN_ROWS = 200  # below this, a distribution test is noise
_DRIFT_Z99 = 2.326  # N(0,1) upper 1% point (chi² critical via Wilson–Hilferty)

_REPORT_SCHEMA = (
    "constraint string, kind string, column string, "
    "violated_rows long, decided string"
)


class ConstraintError(ValueError):
    """A constraint DEFINITION is malformed (unknown kind, missing
    field, duplicate name) or conflicts with the table (constrained
    column absent from the committed schema)."""


class ConstraintViolationError(RuntimeError):
    """Data violated an enforced constraint. Raised by
    ``set_constraints(validate=True)`` when existing rows break a new
    rule, and by commit enforcement when staged rows do — in the commit
    case the staged data files were already removed, nothing was
    committed, and the table is exactly as before. ``.report`` holds
    the per-constraint violation counts that triggered the refusal."""

    def __init__(self, msg: str, report: list[dict[str, Any]]):
        super().__init__(msg)
        self.report = report


def _normalize(constraints: list[dict[str, Any]]) -> list[dict[str, Any]]:
    out: list[dict[str, Any]] = []
    seen: set[str] = set()
    for c in constraints:
        if not isinstance(c, dict):
            raise ConstraintError(f"constraint must be a dict, got {type(c).__name__}")
        name, kind = c.get("name"), c.get("kind")
        if not name or not isinstance(name, str):
            raise ConstraintError(f"constraint needs a string 'name': {c!r}")
        if name in seen:
            raise ConstraintError(f"duplicate constraint name {name!r}")
        seen.add(name)
        if kind not in _KINDS:
            raise ConstraintError(f"{name}: kind must be one of {_KINDS}, got {kind!r}")
        norm: dict[str, Any] = {"name": name, "kind": kind}
        if kind == "unique" and c.get("columns") is not None:
            cols_ = c["columns"]
            if (
                not isinstance(cols_, list)
                or len(cols_) < 2
                or not all(isinstance(x, str) and x for x in cols_)
                or len(set(cols_)) != len(cols_)
            ):
                raise ConstraintError(
                    f"{name}: 'columns' must be >=2 distinct column names "
                    f"(use 'column' for a single key)"
                )
            if c.get("column") is not None:
                raise ConstraintError(f"{name}: pass 'column' or 'columns', not both")
            norm["columns"] = list(cols_)
        elif kind in ("not_null", "unique", "range", "ref", "drift"):
            col = c.get("column")
            if not col or not isinstance(col, str):
                raise ConstraintError(f"{name}: kind {kind!r} needs a 'column'")
            norm["column"] = col
        if kind == "ref":
            rt = c.get("ref_table")
            if not rt or not isinstance(rt, str):
                raise ConstraintError(
                    f"{name}: kind 'ref' needs a 'ref_table' (snapshot root "
                    f"or parquet path)"
                )
            norm["ref_table"] = rt
            rc = c.get("ref_column", c["column"])
            if not isinstance(rc, str) or not rc:
                raise ConstraintError(f"{name}: 'ref_column' must be a column name")
            norm["ref_column"] = rc
        if kind == "range":
            lo, hi = c.get("lo"), c.get("hi")
            if lo is None and hi is None:
                raise ConstraintError(f"{name}: range needs 'lo' and/or 'hi'")
            for bound, v in (("lo", lo), ("hi", hi)):
                if v is not None:
                    if not isinstance(v, (int, float, str)) or isinstance(v, bool):
                        raise ConstraintError(
                            f"{name}: range bound {bound!r} must be a number or "
                            f"string, got {type(v).__name__}"
                        )
                    norm[bound] = v
            if lo is not None and hi is not None:
                if not _stats_comparable(lo, hi):
                    raise ConstraintError(f"{name}: lo/hi types differ")
                if lo > hi:
                    raise ConstraintError(f"{name}: lo {lo!r} > hi {hi!r}")
        if kind == "check":
            expr = c.get("expr")
            if not expr or not isinstance(expr, str):
                raise ConstraintError(f"{name}: kind 'check' needs an 'expr' string")
            norm["expr"] = expr
        if kind == "drift":
            method = c.get("method", "ks")
            if method not in ("ks", "chi2"):
                raise ConstraintError(f"{name}: drift method must be ks|chi2")
            norm["method"] = method
            if c.get("threshold") is not None:
                t = c["threshold"]
                if not isinstance(t, (int, float)) or isinstance(t, bool) or t <= 0:
                    raise ConstraintError(f"{name}: threshold must be > 0")
                norm["threshold"] = float(t)
            norm["min_rows"] = int(c.get("min_rows", _DRIFT_MIN_ROWS))
            if c.get("baseline") is not None:
                b = c["baseline"]
                if not isinstance(b, dict) or "n" not in b or (
                    "bps" not in b and "cats" not in b
                ):
                    raise ConstraintError(
                        f"{name}: baseline must be the dict set_constraints "
                        f"captures ({{'n', 'bps'+'ecdf' | 'cats'+'probs'}})"
                    )
                norm["baseline"] = b
        if c.get("enforce") is False:
            norm["enforce"] = False
        extra = {k for k in c if k not in norm and k != "enforce" and c[k] is not None}
        if extra:
            raise ConstraintError(f"{name}: unknown field(s) {sorted(extra)}")
        out.append(norm)
    return out


def table_constraints(root: str, snapshot_id: int | None = None) -> list[dict[str, Any]]:
    """The constraint contract recorded AS OF a snapshot (default:
    current) — versioned table state, so time travel shows the rules a
    historical commit was held to."""
    return list(_load_manifest_raw(root, snapshot_id).get("constraints") or [])


def _columns_of(m: dict[str, Any]) -> set[str]:
    return {f.name for f in _committed_schema(m).fields}


def set_constraints(
    root: str,
    constraints: list[dict[str, Any]],
    mode: str = "replace",
    guard=None,
    spark: SparkSession | None = None,
    validate: bool = True,
) -> int:
    """Commit a new constraint contract in a METADATA-ONLY snapshot
    (operation ``set_constraints``: the parent's file inventory carries
    verbatim — segments by reference, pending row filters intact).

    ``mode``: ``replace`` (the list IS the new contract), ``add``
    (merge onto the existing contract; re-using a name raises). Dropping
    is its own verb (``drop_constraints``) so a typo'd add can never
    silently erase rules.

    ``validate=True`` (needs ``spark``) audits EXISTING data against
    the newly added rules before committing — the Delta-style guarantee
    that a contract is never born broken. Violations raise
    ``ConstraintViolationError`` and nothing commits; pass
    ``validate=False`` to attach rules to known-dirty data (the audit
    then reports the debt instead of the commit refusing it).

    Concurrency: same optimistic CAS as every other commit — the guard
    covers the read-merge-commit window, so two racing set_constraints
    serialize and the loser raises ``ConcurrentCommitError``.
    """
    if mode not in ("replace", "add"):
        raise ValueError(f"mode must be replace|add, got {mode!r}")
    new = _normalize(constraints)
    with _SnapshotTxn(root, guard) as txn:
        if txn.parent is None:
            raise FileNotFoundError(
                f"no committed snapshot at {root} — constraints are manifest "
                f"state; commit the table's first snapshot, then attach them"
            )
        raw = txn.parent_raw
        cols = _columns_of(raw)
        for c in new:
            for col in c.get("columns", []) + ([c["column"]] if "column" in c else []):
                if col not in cols:
                    raise ConstraintError(
                        f"{c['name']}: column {col!r} not in committed "
                        f"schema {sorted(cols)}"
                    )
            if c["kind"] == "ref" and not os.path.exists(c["ref_table"]):
                raise ConstraintError(
                    f"{c['name']}: ref_table {c['ref_table']!r} does not exist"
                )
        need_baseline = [c for c in new if c["kind"] == "drift" and "baseline" not in c]
        if need_baseline:
            if spark is None:
                raise ValueError(
                    "drift constraints need spark= — set_constraints captures "
                    "the baseline distribution from the current table"
                )
            base_df = snapshot_read(spark, root, snapshot_id=txn.parent)
            for c in need_baseline:
                c["baseline"] = _capture_drift_baseline(base_df, c)
        if mode == "add":
            existing = list(raw.get("constraints") or [])
            clash = {c["name"] for c in existing} & {c["name"] for c in new}
            if clash:
                raise ConstraintError(
                    f"constraint name(s) {sorted(clash)} already exist — "
                    f"drop_constraints first, or mode='replace'"
                )
            merged = existing + new
            added = new
        else:
            merged = new
            old = {c["name"]: c for c in raw.get("constraints") or []}
            added = [c for c in new if old.get(c["name"]) != c]
        if validate and added:
            if spark is None:
                raise ValueError(
                    "validate=True needs spark= to audit existing data "
                    "(pass validate=False to attach without auditing)"
                )
            _, detail = audit_constraints(spark, root, snapshot_id=txn.parent, constraints=added)
            bad = [r for r in detail["rows"] if r["violated_rows"]]
            if bad:
                raise ConstraintViolationError(
                    f"existing data violates new constraint(s): "
                    + ", ".join(f"{r['constraint']}={r['violated_rows']}" for r in bad),
                    bad,
                )
        return txn.commit(
            "set_constraints",
            raw["files"],
            raw.get("file_segments") or [],
            total_rows=raw["total_rows"],
            constraints=merged,
            row_filters=raw.get("row_filters"),
        )


def drop_constraints(root: str, names: list[str] | str, guard=None) -> int:
    """Remove named constraints in a metadata-only commit. Unknown
    names raise (a drop that silently no-ops hides a typo that leaves
    the rule ENFORCED)."""
    if isinstance(names, str):
        names = [names]
    with _SnapshotTxn(root, guard, require_parent=True) as txn:
        raw = txn.parent_raw
        existing = list(raw.get("constraints") or [])
        have = {c["name"] for c in existing}
        missing = [n for n in names if n not in have]
        if missing:
            raise ConstraintError(f"no such constraint(s): {missing} (table has {sorted(have)})")
        kept = [c for c in existing if c["name"] not in set(names)]
        return txn.commit(
            "set_constraints",
            raw["files"],
            raw.get("file_segments") or [],
            total_rows=raw["total_rows"],
            # set explicitly (None = absent): the dropped contract is not carried
            constraints=kept or None,
            row_filters=raw.get("row_filters"),
        )


# ---------------------------------------------------------------------------
# audit


def _range_entry_verdict(
    st: dict[str, Any] | None, rows: int, lo, hi
) -> tuple[str, int]:
    """('pass'|'all'|'scan', violated) for one manifest entry's stats."""
    if not st or not _stats_comparable(st["min"], lo if lo is not None else hi):
        return ("scan", 0)
    inside = (lo is None or st["min"] >= lo) and (hi is None or st["max"] <= hi)
    if inside:
        return ("pass", 0)
    outside = (lo is not None and st["max"] < lo) or (hi is not None and st["min"] > hi)
    if outside:
        # every NON-NULL row violates; needs the null count to be exact
        if st.get("nulls") is not None:
            return ("all", rows - st["nulls"])
        return ("scan", 0)
    return ("scan", 0)


def _violation_expr(c: dict[str, Any]):
    """The violation predicate as a pushdown-eligible Column."""
    kind = c["kind"]
    if kind == "not_null":
        return F.col(c["column"]).isNull()
    if kind == "range":
        col = F.col(c["column"])
        cond = F.lit(False)
        if c.get("lo") is not None:
            cond = cond | (col < F.lit(c["lo"]))
        if c.get("hi") is not None:
            cond = cond | (col > F.lit(c["hi"]))
        return col.isNotNull() & cond
    if kind == "check":
        # violation iff the expression is definitely FALSE (SQL CHECK:
        # NULL/unknown passes)
        return ~F.coalesce(F.expr(c["expr"]), F.lit(True))
    raise ConstraintError(f"no row predicate for kind {kind!r}")


def _capture_drift_baseline(df: DataFrame, c: dict[str, Any]) -> dict[str, Any]:
    """Snapshot the column's current distribution into the constraint.

    ks: ``_DRIFT_BINS-1`` approx-quantile breakpoints plus the EXACT
    baseline ECDF at those points (robust to ties — a heavy-tailed or
    heavily-duplicated column collapses the quantile grid, so the
    expectation comes from the data, never from an assumed i/k). chi2:
    the top ``_DRIFT_BINS-1`` categories' exact proportions (+OTHER).
    Both are a bounded driver copy (≤ _DRIFT_BINS scalars) riding the
    manifest JSON."""
    col = c["column"]
    nn = df.where(F.col(col).isNotNull())
    if c["method"] == "ks":
        field = dict((f.name, f.dataType.simpleString()) for f in df.schema.fields)[col]
        # strictly NUMERIC: approxQuantile rejects temporal types, so a
        # date/timestamp column must drift through a derived epoch
        # column (check-expr it) or chi2 — the same honesty the z-order
        # type gate learned in round 8 (claiming temporal support while
        # float()-ing datetimes crashed at runtime)
        if field not in ("tinyint", "smallint", "int", "bigint", "float", "double") \
                and not field.startswith("decimal"):
            raise ConstraintError(
                f"{c['name']}: drift method 'ks' needs a NUMERIC column "
                f"({col} is {field}) — use method='chi2', or declare ks on "
                f"a derived epoch/length column"
            )
        probs = [i / _DRIFT_BINS for i in range(1, _DRIFT_BINS)]
        bps = nn.approxQuantile(col, probs, 0.001)
        bps = sorted(set(bps))
        if not bps:
            raise ConstraintError(f"{c['name']}: column {col!r} has no non-NULL rows")
        row = nn.agg(
            F.count(F.lit(1)).alias("_n"),
            *[
                F.sum((F.col(col) <= F.lit(b)).cast("long")).alias(f"_b{i}")
                for i, b in enumerate(bps)
            ],
        ).collect()[0]
        n = int(row["_n"])
        return {
            "n": n,
            "bps": bps,
            "ecdf": [round(int(row[f"_b{i}"]) / n, 9) for i in range(len(bps))],
        }
    # chi2: exact top-category proportions. Categories are captured with
    # the SAME Spark expression the audit buckets with
    # (F.col(col).cast('string')) — a Python-side str() of collected
    # values renders booleans 'True'/'False' (vs Spark's 'true'/'false')
    # and scientific-notation floats differently, which would land every
    # audited row in __other__ and fire the constraint spuriously.
    top = (
        nn.groupBy(F.col(col).cast("string").alias("_cat"))
        .agg(F.count(F.lit(1)).alias("_c"))
        .orderBy(F.desc("_c"), F.col("_cat"))
        .limit(_DRIFT_BINS - 1)
        .collect()
    )
    if not top:
        raise ConstraintError(f"{c['name']}: column {col!r} has no non-NULL rows")
    n = nn.count()
    cats = [r["_cat"] for r in top]
    probs = [int(r["_c"]) / n for r in top]
    other = max(0.0, 1.0 - sum(probs))
    return {"n": int(n), "cats": cats, "probs": [round(p, 9) for p in probs],
            "other": round(other, 9)}


def _drift_agg_exprs(c: dict[str, Any]) -> list:
    """The KS grid sums for one drift constraint — plain global sums, so
    they FUSE into the shared staged/audit aggregation pass."""
    col, name = c["column"], c["name"]
    out = [F.count(F.when(F.col(col).isNotNull(), 1)).alias(f"{name}__n")]
    for i, b in enumerate(c["baseline"]["bps"]):
        out.append(
            F.sum(
                (F.col(col).isNotNull() & (F.col(col) <= F.lit(b))).cast("long")
            ).alias(f"{name}__b{i}")
        )
    return out


def _drift_ks_verdict(c: dict[str, Any], agg_row) -> dict[str, Any]:
    base = c["baseline"]
    n = int(agg_row[f"{c['name']}__n"] or 0)
    if n < c["min_rows"]:
        return {"statistic": None, "n": n, "skipped": "below min_rows"}
    stat = max(
        abs(int(agg_row[f"{c['name']}__b{i}"]) / n - e)
        for i, e in enumerate(base["ecdf"])
    )
    thr = c.get("threshold") or 1.63 / (n ** 0.5)
    return {"statistic": round(stat, 6), "threshold": round(thr, 6), "n": n,
            "drifted": stat > thr}


def _drift_chi2_verdict(spark: SparkSession, df: DataFrame, c: dict[str, Any]) -> dict[str, Any]:
    """One low-cardinality groupBy (map-side combined) + a ≤_DRIFT_BINS
    driver fold: Pearson chi² of the observed category counts vs the
    baseline proportions."""
    base, col = c["baseline"], c["column"]
    cats = base["cats"]
    bucket = F.when(
        F.col(col).cast("string").isin(*cats), F.col(col).cast("string")
    ).otherwise(F.lit("__other__"))
    rows = (
        df.where(F.col(col).isNotNull())
        .groupBy(bucket.alias("_cat"))
        .agg(F.count(F.lit(1)).alias("_c"))
        .collect()
    )
    obs = {r["_cat"]: int(r["_c"]) for r in rows}
    n = sum(obs.values())
    if n < c["min_rows"]:
        return {"statistic": None, "n": n, "skipped": "below min_rows"}
    expected = {k: p * n for k, p in zip(cats, base["probs"])}
    expected["__other__"] = base["other"] * n
    chi2 = 0.0
    for k, e in expected.items():
        o = obs.get(k, 0)
        if e > 0:
            chi2 += (o - e) ** 2 / e
        elif o:
            chi2 = float("inf")  # a category the baseline says cannot occur
            break
    dof = max(1, sum(1 for e in expected.values() if e > 0) - 1)
    if c.get("threshold") is not None:
        thr = c["threshold"]
    else:
        # Wilson–Hilferty: chi²_crit(dof, α=0.01) ≈ dof(1 - 2/9dof + z√(2/9dof))³
        x = 2.0 / (9.0 * dof)
        thr = dof * (1.0 - x + _DRIFT_Z99 * (x ** 0.5)) ** 3
    return {"statistic": round(chi2, 6) if chi2 != float("inf") else None,
            "threshold": round(thr, 6), "n": n,
            "drifted": chi2 > thr}


def _ref_frame(spark: SparkSession, c: dict[str, Any]) -> DataFrame:
    """The referenced key column as a one-column frame named after the
    referencing column (ready to anti-join). A ``ref_table`` with a
    manifest directory reads as a snapshot table at ITS current
    snapshot (pending MoR filters applied — a logically deleted asset
    is a dangling ref); anything else reads as plain parquet."""
    rt, rc = c["ref_table"], c["ref_column"]
    if os.path.isdir(os.path.join(rt, "manifest")):
        ref = snapshot_read(spark, rt)
    else:
        ref = spark.read.parquet(rt)
    if rc not in ref.columns:
        raise ConstraintError(
            f"{c['name']}: ref_column {rc!r} not in {rt} ({ref.columns})"
        )
    return ref.select(F.col(rc).alias(c["column"]))


def _ref_violations(spark: SparkSession, df: DataFrame, c: dict[str, Any]) -> int:
    """Rows of ``df`` whose non-NULL value has no match in the ref
    table — ONE column-pruned anti-join (both sides ship only the key
    column; AQE broadcasts the smaller side)."""
    col = c["column"]
    return (
        df.select(col)
        .where(F.col(col).isNotNull())
        .join(_ref_frame(spark, c), on=col, how="left_anti")
        .count()
    )


def _key_cols(c: dict[str, Any]) -> list[str]:
    """A unique constraint's key column list (single or composite)."""
    return list(c["columns"]) if "columns" in c else [c["column"]]


def _all_notnull(cols: list[str]):
    cond = F.lit(True)
    for x in cols:
        cond = cond & F.col(x).isNotNull()
    return cond


def _unique_violations(df: DataFrame, cols: str | list[str]) -> int:
    if isinstance(cols, str):
        cols = [cols]
    dup = (
        df.select(*cols)
        .where(_all_notnull(cols))
        .groupBy(*cols)
        .count()
        .where(F.col("count") > 1)
        .agg(F.coalesce(F.sum("count"), F.lit(0)).alias("v"))
        .collect()
    )
    return int(dup[0]["v"])


def audit_constraints(
    spark: SparkSession,
    root: str,
    snapshot_id: int | None = None,
    constraints: list[dict[str, Any]] | None = None,
) -> tuple[DataFrame, dict[str, Any]]:
    """Audit a snapshot against its contract (or an explicit
    ``constraints`` list). Returns ``(report, detail)``:

    * ``report`` — one row per constraint: ``(constraint, kind, column,
      violated_rows, decided)`` where ``decided`` is ``metadata`` (zero
      data files read), ``scan``, or ``mixed`` (stats decided most
      files, the undecided remainder was scanned with the violation
      predicate pushed down).
    * ``detail`` — ``files_scanned`` (total data files opened across
      the audit), ``pending_row_filters``, per-constraint ``rows``, and
      the HLL ``screen`` verdict for each unique constraint (triage
      evidence; the exact check always runs — a sketch can never
      certify uniqueness).

    Exactness: violated_rows is EXACT for every kind — the metadata
    path uses per-file null counts and bounds that are exact by
    construction, never sketch estimates.
    """
    m = _load_manifest_raw(root, snapshot_id)
    cons = _normalize(constraints) if constraints is not None else list(
        m.get("constraints") or []
    )
    pending = bool(m.get("row_filters"))
    sid = m["snapshot_id"]
    schema = _committed_schema(m)
    rows_out: list[dict[str, Any]] = []
    detail: dict[str, Any] = {
        "snapshot_id": sid,
        "pending_row_filters": len(m.get("row_filters") or []),
        "files_scanned": 0,
        "screen": {},
        "rows": rows_out,
    }
    if not cons:
        return _empty(spark, _REPORT_SCHEMA), detail

    entries = None  # expanded lazily: a pure-check contract never needs stats

    def _entries():
        nonlocal entries
        if entries is None:
            entries = _expand_manifest(root, m)["files"]
        return entries

    # constraints that fall through to a LOGICAL full scan share ONE
    # aggregation pass (column-pruned to exactly the referenced columns);
    # KS drift grids ride the same pass as extra sums
    full_scan: list[dict[str, Any]] = []
    drift_ks: list[dict[str, Any]] = []
    drift_chi: list[dict[str, Any]] = []
    detail["drift"] = {}
    logical_files = None

    def _logical_n_files() -> int:
        nonlocal logical_files
        if logical_files is None:
            logical_files = len(_entries())
        return logical_files

    for c in cons:
        kind, name = c["kind"], c["name"]
        if kind == "unique":
            kcols = _key_cols(c)
            if pending:
                # sketches describe PHYSICAL rows; with row filters
                # pending the screen would overcount — skip the triage,
                # the exact check below reads the logical table
                scr = {"col": ",".join(kcols), "verdict": "skipped",
                       "reason": "pending row filters"}
            elif len(kcols) > 1:
                # per-column sketches cannot screen a composite key
                scr = {"col": ",".join(kcols), "verdict": "skipped",
                       "reason": "composite key (no tuple sketch)"}
            else:
                scr = uniqueness_screen(spark, root, col=kcols[0], snapshot_id=sid)
            detail["screen"][name] = scr
            v = _unique_violations(
                snapshot_read(spark, root, snapshot_id=sid), kcols
            )
            rows_out.append(
                {
                    "constraint": name,
                    "kind": kind,
                    "column": ",".join(kcols),
                    "violated_rows": v,
                    "decided": "scan",
                }
            )
            detail["files_scanned"] += _logical_n_files()
            continue
        if kind == "ref":
            v = _ref_violations(
                spark, snapshot_read(spark, root, snapshot_id=sid), c
            )
            rows_out.append(
                {
                    "constraint": name,
                    "kind": kind,
                    "column": c["column"],
                    "violated_rows": v,
                    "decided": "scan",
                }
            )
            detail["files_scanned"] += _logical_n_files()
            continue
        if kind == "drift":
            if "baseline" not in c:
                raise ConstraintError(
                    f"{name}: drift has no baseline — attach it via "
                    f"set_constraints (which captures one) before auditing"
                )
            (drift_ks if c["method"] == "ks" else drift_chi).append(c)
            continue
        if kind == "check" or pending:
            full_scan.append(c)
            continue
        # not_null / range: metadata first, scan only the undecided files
        col = c["column"]
        violated = 0
        scan_paths: list[str] = []
        for e in _entries():
            st = (e.get("col_stats") or {}).get(col)
            if kind == "not_null":
                nulls = st.get("nulls") if st else None
                if nulls is None:
                    scan_paths.append(_abs_path(root, e["path"]))
                else:
                    violated += nulls
            else:
                verdict, v = _range_entry_verdict(st, e["rows"], c.get("lo"), c.get("hi"))
                if verdict == "scan":
                    scan_paths.append(_abs_path(root, e["path"]))
                else:
                    violated += v
        if scan_paths:
            scanned = (
                spark.read.schema(schema)
                .parquet(*scan_paths)
                .where(_violation_expr(c))
                .count()
            )
            violated += int(scanned)
            detail["files_scanned"] += len(scan_paths)
        rows_out.append(
            {
                "constraint": name,
                "kind": kind,
                "column": col,
                "violated_rows": int(violated),
                "decided": "metadata"
                if not scan_paths
                else ("mixed" if len(scan_paths) < len(_entries()) else "scan"),
            }
        )
    if full_scan or drift_ks:
        df = snapshot_read(spark, root, snapshot_id=sid)
        aggs = [
            F.sum(_violation_expr(c).cast("long")).alias(c["name"]) for c in full_scan
        ]
        for c in drift_ks:
            aggs.extend(_drift_agg_exprs(c))
        agg_row = df.agg(*aggs).collect()[0]
        for c in full_scan:
            rows_out.append(
                {
                    "constraint": c["name"],
                    "kind": c["kind"],
                    "column": c.get("column", ""),
                    "violated_rows": int(agg_row[c["name"]] or 0),
                    "decided": "scan",
                }
            )
        for c in drift_ks:
            verdict = _drift_ks_verdict(c, agg_row)
            detail["drift"][c["name"]] = verdict
            rows_out.append(
                {
                    "constraint": c["name"],
                    "kind": "drift",
                    "column": c["column"],
                    "violated_rows": 1 if verdict.get("drifted") else 0,
                    "decided": "scan",
                }
            )
        detail["files_scanned"] += _logical_n_files()
    for c in drift_chi:
        verdict = _drift_chi2_verdict(
            spark, snapshot_read(spark, root, snapshot_id=sid), c
        )
        detail["drift"][c["name"]] = verdict
        rows_out.append(
            {
                "constraint": c["name"],
                "kind": "drift",
                "column": c["column"],
                "violated_rows": 1 if verdict.get("drifted") else 0,
                "decided": "scan",
            }
        )
        detail["files_scanned"] += _logical_n_files()
    rows_out.sort(key=lambda r: r["constraint"])
    report = spark.createDataFrame(
        [
            (r["constraint"], r["kind"], r["column"], r["violated_rows"], r["decided"])
            for r in rows_out
        ],
        _REPORT_SCHEMA,
    )
    return report, detail


def check_frame(df: DataFrame, constraints: list[dict[str, Any]]) -> DataFrame:
    """Audit an arbitrary DataFrame against a constraint list; returns a
    frame of VIOLATED constraints only — ``(constraint, kind, column,
    violated_rows)``, empty when clean. This is the WAP validator shape:
    pass it to ``branches.validate_then_publish`` so a branch audited
    against the main table's contract publishes only when it satisfies
    the same rules every direct writer is held to::

        from ovalspark.sources import check_frame, table_constraints
        cons = table_constraints(main_root)
        validate_then_publish(spark, main_root, "wip",
                              lambda staged: check_frame(staged, cons))

    (With ``audit_merged=True`` the unique constraint checks the
    post-publish view — staged-vs-published collisions included.)

    A plain frame has no manifest stats, so every kind scans — one
    aggregation pass for not_null/range/check plus one single-column
    groupBy per unique constraint."""
    cons = _normalize(constraints)
    spark = df.sparkSession
    rows: list[tuple] = []
    agg_cons = [c for c in cons if c["kind"] not in ("unique", "ref", "drift")]
    drift_ks = [c for c in cons if c["kind"] == "drift" and c["method"] == "ks"
                and "baseline" in c]
    if agg_cons or drift_ks:
        aggs = [F.sum(_violation_expr(c).cast("long")).alias(c["name"]) for c in agg_cons]
        for c in drift_ks:
            aggs.extend(_drift_agg_exprs(c))
        agg_row = df.agg(*aggs).collect()[0]
        for c in agg_cons:
            v = int(agg_row[c["name"]] or 0)
            if v:
                rows.append((c["name"], c["kind"], c.get("column", ""), v))
        for c in drift_ks:
            if _drift_ks_verdict(c, agg_row).get("drifted"):
                rows.append((c["name"], "drift", c["column"], 1))
    for c in cons:
        if c["kind"] == "unique":
            v = _unique_violations(df, _key_cols(c))
        elif c["kind"] == "ref":
            v = _ref_violations(spark, df, c)
        elif c["kind"] == "drift" and c["method"] == "chi2" and "baseline" in c:
            v = 1 if _drift_chi2_verdict(spark, df, c).get("drifted") else 0
        else:
            continue
        if v:
            rows.append(
                (c["name"], c["kind"], ",".join(_key_cols(c)) if c["kind"] == "unique"
                 else c["column"], v)
            )
    return spark.createDataFrame(
        rows, "constraint string, kind string, column string, violated_rows long"
    )


# ---------------------------------------------------------------------------
# commit-time enforcement (called by snapshots.snapshot_write / _upsert)


def _delta_violations(
    spark: SparkSession,
    root: str,
    cons: list[dict[str, Any]],
    new_files: list[dict[str, Any]],
    staged_fn,
    mode: str,
    parent_sid: int | None,
    parent_rows: int,
) -> list[dict[str, Any]]:
    """The O(new data) violation count shared by commit enforcement and
    the per-commit tail audit: footer stats first, then at most TWO
    Spark jobs regardless of how many constraints the contract holds —
    the per-job scheduling floor dominates small commits, so everything
    the staged files can answer (check exprs, stats-undecided
    not_null/range, staged-internal uniqueness, staged key bounds)
    fuses into ONE aggregation, and the only other job is the
    added-vs-parent unique probe, itself bounds-pruned to the staged
    key range (a monotone-key append — fresh ids past the table's max,
    the common ingest shape — prunes every parent file and skips the
    job entirely). ``staged_fn`` lazily supplies the delta as a
    DataFrame. Returns ``[{"constraint", "violated_rows"}]`` for
    violated constraints only; raises ``ConstraintError`` when the
    delta's schema dropped a constrained/referenced column."""
    staged_cols: set[str] | None = None
    report: list[dict[str, Any]] = []
    full_scan: list[dict[str, Any]] = []  # need a staged scan (agg exprs)
    uniques: list[dict[str, Any]] = []
    refs: list[dict[str, Any]] = []
    drift_ks: list[dict[str, Any]] = []
    drift_chi: list[dict[str, Any]] = []

    for c in cons:
        for col in c.get("columns", []) + ([c["column"]] if "column" in c else []):
            if staged_cols is None:
                staged_cols = set(staged_fn().columns)
            if col not in staged_cols:
                raise ConstraintError(
                    f"commit drops constrained column {col!r} "
                    f"({c['name']}) — drop_constraints first"
                )
        if c["kind"] == "unique":
            uniques.append(c)
            continue
        if c["kind"] == "ref":
            refs.append(c)
            continue
        if c["kind"] == "drift":
            if "baseline" not in c:
                continue  # never attached via set_constraints: nothing to hold to
            (drift_ks if c["method"] == "ks" else drift_chi).append(c)
            continue
        if c["kind"] in ("not_null", "range"):
            # bind explicitly (not the leaked loop variable from the
            # schema-validation loop above) — mirrors audit_constraints
            col = c["column"]
            violated = 0
            undecided = False
            for e in new_files:
                st = (e.get("col_stats") or {}).get(col)
                if c["kind"] == "not_null":
                    nulls = st.get("nulls") if st else None
                    if nulls is None:
                        undecided = True
                        break
                    violated += nulls
                else:
                    verdict, v = _range_entry_verdict(
                        st, e["rows"], c.get("lo"), c.get("hi")
                    )
                    if verdict == "scan":
                        undecided = True
                        break
                    violated += v
            if undecided:
                full_scan.append(c)
            elif violated:
                report.append({"constraint": c["name"], "violated_rows": violated})
            continue
        full_scan.append(c)  # check exprs
    for c in refs:
        # one column-pruned anti-join per ref constraint: staged keys
        # vs the referenced table's key column (the per-commit price of
        # foreign-key enforcement — same shape as upsert's key scan)
        v = _ref_violations(spark, staged_fn(), c)
        if v:
            report.append({"constraint": c["name"], "violated_rows": v})
    if not full_scan and not uniques and not drift_ks and not drift_chi:
        return report

    for c in drift_chi:
        verdict = _drift_chi2_verdict(spark, staged_fn(), c)
        if verdict.get("drifted"):
            report.append(
                {"constraint": c["name"], "violated_rows": 1, "drift": verdict}
            )
    if not full_scan and not uniques and not drift_ks:
        return report

    # ONE staged pass: when a unique constraint exists, a two-level
    # aggregate over its key computes the per-key multiplicities AND
    # folds every scan constraint's violation sum + the key bounds +
    # the KS drift grids in the same shuffle (longs sum associatively —
    # per-group partial sums fold exactly); without one, a plain global
    # aggregate.
    from pyspark.errors import AnalysisException

    lead = uniques[0] if uniques else None
    sums = [F.sum(_violation_expr(c).cast("long")).alias(c["name"]) for c in full_scan]
    ks_exprs: list = []
    ks_names: list[str] = []
    for c in drift_ks:
        exprs = _drift_agg_exprs(c)
        ks_exprs.extend(exprs)
        ks_names.append(f"{c['name']}__n")
        ks_names.extend(
            f"{c['name']}__b{i}" for i in range(len(c["baseline"]["bps"]))
        )
    lead_cols = _key_cols(lead) if lead is not None else []
    try:
        if lead is None:
            agg_row = staged_fn().agg(*sums, *ks_exprs).collect()[0]
        else:
            per = staged_fn().groupBy(*lead_cols).agg(
                F.count(F.lit(1)).alias("_c"), *sums, *ks_exprs
            )
            agg_row = per.agg(
                F.sum(
                    F.when(
                        _all_notnull(lead_cols) & (F.col("_c") > 1), F.col("_c")
                    ).otherwise(0)
                ).alias("_dups"),
                *[
                    e
                    for i, x in enumerate(lead_cols)
                    for e in (
                        F.min(x).alias(f"_lo{i}"),
                        F.max(x).alias(f"_hi{i}"),
                    )
                ],
                *[F.sum(c["name"]).alias(c["name"]) for c in full_scan],
                *[F.sum(a).alias(a) for a in ks_names],
            ).collect()[0]
    except AnalysisException as e:
        # a check expr references a column the staged frame dropped —
        # same contract breach as dropping a declared column
        raise ConstraintError(
            f"commit drops column(s) referenced by check constraint(s) "
            f"{[c['name'] for c in full_scan]} — drop_constraints first "
            f"({e.getMessage().splitlines()[0] if hasattr(e, 'getMessage') else e})"
        ) from None
    for c in full_scan:
        v = int(agg_row[c["name"]] or 0)
        if v:
            report.append({"constraint": c["name"], "violated_rows": v})
    for c in drift_ks:
        verdict = _drift_ks_verdict(c, agg_row)
        if verdict.get("drifted"):
            report.append(
                {"constraint": c["name"], "violated_rows": 1, "drift": verdict}
            )
    for i, c in enumerate(uniques):
        kcols = _key_cols(c)
        if i == 0:
            dups = int(agg_row["_dups"] or 0)
            bounds = [(agg_row[f"_lo{j}"], agg_row[f"_hi{j}"]) for j in range(len(kcols))]
        else:  # rare: a second unique key pays its own groupBy
            dups = _unique_violations(staged_fn(), kcols)
            b = staged_fn().agg(
                *[
                    e
                    for j, x in enumerate(kcols)
                    for e in (F.min(x).alias(f"l{j}"), F.max(x).alias(f"h{j}"))
                ]
            ).collect()[0]
            bounds = [(b[f"l{j}"], b[f"h{j}"]) for j in range(len(kcols))]
        if dups:
            report.append({"constraint": c["name"], "violated_rows": dups})
            continue
        if mode == "append" and parent_rows and all(lo is not None for lo, _ in bounds):
            # a collision can only live in a parent file whose [min, max]
            # overlaps the staged range on EVERY key column — prune from
            # the manifest and SKIP the probe job when nothing survives
            from ovalspark.sources.snapshots import prune_files

            conds = [(x, lo, hi) for x, (lo, hi) in zip(kcols, bounds)]
            paths = prune_files(root, parent_sid, conds)
            if not paths:
                continue
            m_par = _load_manifest_raw(root, parent_sid)
            schema = _committed_schema(m_par)
            if m_par.get("row_filters"):
                live = snapshot_read(
                    spark, root, snapshot_id=parent_sid, prune=conds
                ).select(*kcols)
            else:
                live = spark.read.schema(schema).parquet(*paths).select(*kcols)
            # no broadcast hint: staged key volume is unbounded — AQE
            # picks the broadcast side itself when one fits
            keys = staged_fn().select(*kcols).where(_all_notnull(kcols)).distinct()
            hits = live.join(keys, on=kcols, how="inner").count()
            if hits:
                report.append({"constraint": c["name"], "violated_rows": int(hits)})
    return report


def _enforce_staged(
    spark: SparkSession,
    root: str,
    parent_raw: dict[str, Any],
    new_files: list[dict[str, Any]],
    data_dir: str,
    mode: str,
    kinds: tuple[str, ...] = _KINDS,
) -> None:
    """Validate STAGED files against the parent's enforced constraints
    before the CAS — O(new data): footer stats first, one pushdown scan
    of the staged files for the rest. Raises ``ConstraintViolationError``;
    the committing ``_SnapshotTxn`` then removes the staged data dir, so a
    refused commit leaves the table byte-identical.

    ``unique`` on an append additionally proves the staged keys hit
    nothing live: one column-pruned scan of the table's key column
    semi-joined against the staged keys — the same honest per-commit
    cost as upsert's matched-keys discovery. On an overwrite the staged
    frame IS the table, so staged-internal uniqueness is the whole check.
    """
    cons = [
        c
        for c in (parent_raw.get("constraints") or [])
        if c.get("enforce", True) and c["kind"] in kinds
    ]
    if not cons:
        return
    staged = None

    def _staged() -> DataFrame:
        nonlocal staged
        if staged is None:
            staged = spark.read.parquet(data_dir)
        return staged

    report = _delta_violations(
        spark,
        root,
        cons,
        new_files,
        _staged,
        mode,
        parent_raw["snapshot_id"],
        int(parent_raw.get("total_rows") or 0),
    )
    if report:
        raise ConstraintViolationError(
            "staged data violates enforced constraint(s): "
            + ", ".join(f"{r['constraint']}={r['violated_rows']}" for r in report)
            + " — nothing was committed",
            report,
        )


def audit_commit_delta(
    spark: SparkSession, root: str, snapshot_id: int
) -> list[dict[str, Any]]:
    """Audit the data ONE COMMIT introduced against the contract recorded
    AS OF that commit — O(new data), the tail's discipline: direct
    writers were already enforced at commit time, but a writer landing
    files through the raw ``commit_staged_files`` path (branch staging,
    bulk adoption, external engines) bypasses enforcement by design, and
    this is how a tailer catches the debt per commit instead of paying a
    full-table audit.

    Returns ``[{"constraint", "violated_rows"}]`` for violated
    constraints only (empty = clean commit). Scope by operation:

    * ``append``/``upsert``: exactly the added files (footer stats
      first); ``unique`` on an append also checks added-vs-parent
      collisions (one key-column scan); an upsert's replaced keys are
      retracted by its own row filter, so ``unique`` holds by
      construction and only the staged-internal check runs.
    * ``overwrite``/``rollback``: the snapshot IS the delta — the full
      audit runs at that snapshot.
    * metadata-only commits (``set_constraints``, ``replace``, tag/
      retention ops): no rows introduced — reports clean without
      reading anything (a ``set_constraints`` commit was validated by
      its own ``validate=True``, or explicitly adopted dirty).
    * deletes/compactions/rewrites: the rewritten files are the delta;
      pre-existing debt that a rewrite MOVES into new files resurfaces
      here (not_null/range/check + staged-internal unique — the
      vs-parent unique check is skipped, every rewritten row would
      falsely collide with its own pre-rewrite copy).
    """
    from ovalspark.sources.snapshots import manifest_diff

    m = _load_manifest_raw(root, snapshot_id)
    cons = [c for c in (m.get("constraints") or []) if c.get("enforce", True)]
    if not cons:
        return []
    op = m.get("operation")
    if op in ("overwrite", "rollback"):
        _, detail = audit_constraints(spark, root, snapshot_id=snapshot_id)
        return [
            {"constraint": r["constraint"], "violated_rows": r["violated_rows"]}
            for r in detail["rows"]
            if r["violated_rows"]
        ]
    added = set(manifest_diff(root, m.get("parent_id"), snapshot_id))
    if not added:
        return []
    entries = [
        e
        for e in _expand_manifest(root, m)["files"]
        if _abs_path(root, e["path"]) in added
    ]
    schema = _committed_schema(m)
    staged = None

    def _staged() -> DataFrame:
        nonlocal staged
        if staged is None:
            staged = spark.read.schema(schema).parquet(*sorted(added))
        return staged

    # the added-vs-parent unique cross-check is only sound for a true
    # append: an upsert retracts its matched keys (holds by
    # construction), and a delete/materialize/compact REWRITES rows the
    # parent already had — every rewritten row would count as a
    # collision. Those ops keep the staged-internal unique check only.
    mode = "append" if op == "append" else "overwrite"
    parent = m.get("parent_id")
    parent_rows = 0
    if mode == "append" and parent is not None:
        parent_rows = int(_load_manifest_raw(root, parent).get("total_rows") or 0)
    return _delta_violations(
        spark, root, cons, entries, _staged, mode, parent, parent_rows
    )
