"""Fused single-pass validation — every core check from ONE docs⋈catalog pass.

oval validates each object once and derives every error class from that
single read (oval's ``internal/runner/worker.go:77-232``).
``core_pass`` is the default plan's core pass: one FULL OUTER
docs⋈catalog join (bucketed/co-partitioned layouts join with zero
shuffle) feeds

- LOST_DOC / PHANTOM_DOC  — the null sides of the outer join (existence.py
  semantics without two extra anti-join scans)
- SIZE_MISMATCH + all span-field checks — the matched rows, same
  posexplode + flat-codegen shape as ``validate_spans``
- COUNT_MISMATCH — per-partition expected/actual counts aggregated from
  join-side presence flags (counts.py semantics without two more scans)
- DUP_DOC_ID — doc-side multiplicity per key from the same join output
  (each doc row appears exactly once since catalog keys are unique rows)

Each row carries the ``constraint`` it belongs to (span_sequence,
existence, partition_counts, uniqueness), and its rows per constraint are
row-for-row those of the standalone operator (asserted by
tests/test_fused.py both directions).

Trade-off vs four standalone passes: a resume that leaves only
partition-local members to redo reads just their partitions, but still
derives every member's rows for them; the runner publishes only each
member's own todo partitions. When uniqueness must re-run, the pass reads
every partition. The four passes cost four joins and four writes; the
one pass costs one of each plus a checkpoint of the join's narrow columns.

Building the frame is cheap after the first call in a SparkContext:
every Column list is built once per context (the ``_memo`` of
operators/spans.py), so a call costs only its DataFrame calls and the
checkpoint's one job.
"""

from __future__ import annotations

from types import SimpleNamespace

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ovalspark.functions import spans as sp
from ovalspark.operators.spans import VIOLATION_SCHEMA, _memo, span_checks_joined


def validate_all(
    docs: DataFrame,
    catalog: DataFrame,
    n_assets: int = sp.DEFAULT_N_ASSETS,
) -> DataFrame:
    """Union-equivalent of span_sequence + existence + partition_counts +
    uniqueness from one docs⋈catalog full-outer pass (see module doc):
    ``core_pass`` without its ``constraint`` column."""
    return core_pass(docs, catalog, n_assets).drop("constraint")


def core_pass(docs: DataFrame, catalog: DataFrame, n_assets: int = sp.DEFAULT_N_ASSETS) -> DataFrame:
    """The four core constraints' violation rows from one pass, each
    tagged with its constraint's name in a leading ``constraint`` column."""
    e = _memo(docs, ("core_pass",), _core_exprs)
    cat_e = catalog.filter(e.exists).select(*e.cat)
    d = docs.select(*e.docs)
    # no broadcast hint: a broadcast FULL OUTER join degenerates to
    # BroadcastNestedLoopJoin. The join is SMJ, with zero Exchange on
    # bucketed/co-partitioned layouts
    j = d.join(cat_e, "doc_id", "full_outer").select(*e.joined)
    # Four of the five derivations below never touch the wide spans column.
    # Materialize only the NARROW projection of the join for them (column
    # pruning keeps the checkpointed bytes small); the span check reads the
    # full join lazily exactly once. Checkpointing the wide join instead
    # measured 20% SLOWER at 8 cores (it writes+rereads every span array).
    j_narrow = j.select(*e.narrow).localCheckpoint()

    lost = j_narrow.filter(~e.in_docs).select(*e.lost)
    phantom = j_narrow.filter(~e.in_cat).select(*e.phantom)

    # span + size checks: the exact validate_spans expressions over the
    # already-joined matched rows — no second join anywhere
    matched = j.filter(e.in_docs & e.in_cat).select(*e.matched)
    spans_v = span_checks_joined(matched, n_assets).select(*e.spans)

    # Keyed exactly like check_partition_counts: expected by the CATALOG's
    # partition_id, actual by the doc's. A single agg on the coalesced
    # partition_id (doc-side wins for matched rows) would mis-attribute a
    # doc stored under the wrong partition — both sides shift together and
    # the mismatch is masked. Two small aggs over the same checkpointed
    # j_narrow = still one input pass.
    expected_cnt = j_narrow.filter(e.in_cat).groupBy(e.c_part).agg(e.expected_n)
    actual_cnt = j_narrow.filter(e.in_docs).groupBy(e.d_part).agg(e.actual_n)
    counts = (
        expected_cnt.join(actual_cnt, "partition_id", "full_outer")
        .select(*e.counts_n)
        .filter(e.count_differs)
        .select(*e.counts)
    )

    # duplicate doc ids: catalog keys are unique rows, so the full-outer
    # join preserves doc-side multiplicity exactly
    dups = j_narrow.filter(e.in_docs).groupBy("doc_id").agg(*e.dup_agg).filter(e.dup).select(*e.dups)

    return spans_v.unionByName(lost).unionByName(phantom).unionByName(counts).unionByName(dups)


def _viol(constraint: str, **given: Column) -> list[Column]:
    """A violation branch's select list: ``constraint``, then the
    VIOLATION_SCHEMA columns, each one not ``given`` read by its own name."""
    return [F.lit(constraint).alias("constraint")] + [given[n].alias(n) if n in given else F.col(n) for n in VIOLATION_SCHEMA.fieldNames()]


def _core_exprs() -> SimpleNamespace:
    """Build ``core_pass``'s Columns."""
    col, lit = F.col, F.lit
    null_int, null_str, null_ts = lit(None).cast("int"), lit(None).cast("string"), lit(None).cast("timestamp")
    return SimpleNamespace(
        exists=col("exists"),
        cat=[
            col("doc_id"),
            col("generation"),
            col("n_spans"),
            col("writer_id").alias("c_writer_id"),
            col("partition_id").alias("c_partition_id"),
        ],
        docs=[
            col("doc_id"),
            col("spans"),
            col("writer_id").alias("d_writer_id"),
            col("written_at"),
            col("partition_id").alias("d_partition_id"),
        ],
        joined=[
            col("doc_id"),
            col("spans"),
            col("written_at"),
            col("generation"),
            col("n_spans"),
            col("c_writer_id"),
            col("d_writer_id"),
            F.coalesce(col("d_partition_id"), col("c_partition_id")).alias("partition_id"),
            col("d_partition_id"),
            col("c_partition_id"),
            col("d_partition_id").isNotNull().alias("in_docs"),
            col("c_partition_id").isNotNull().alias("in_cat"),
        ],
        narrow=[
            col(c)
            for c in ("doc_id", "written_at", "c_writer_id", "d_writer_id", "partition_id",
                      "d_partition_id", "c_partition_id", "in_docs", "in_cat")
        ],
        in_docs=col("in_docs"),
        in_cat=col("in_cat"),
        lost=_viol(
            "existence", span_idx=null_int, field=lit("existence"), expected=lit("present"),
            actual=lit("missing"), violation_class=lit("LOST_DOC"), writer_id=col("c_writer_id"), written_at=null_ts,
        ),
        phantom=_viol(
            "existence", span_idx=null_int, field=lit("existence"), expected=lit("missing"),
            actual=lit("present"), violation_class=lit("PHANTOM_DOC"), writer_id=col("d_writer_id"),
        ),
        matched=[
            col("partition_id"),
            col("doc_id"),
            col("spans"),
            col("generation"),
            col("n_spans"),
            col("c_writer_id").alias("writer_id"),
            col("written_at"),
        ],
        spans=[lit("span_sequence").alias("constraint"), col("*")],
        c_part=col("c_partition_id").alias("partition_id"),
        d_part=col("d_partition_id").alias("partition_id"),
        # distinct: a doc_id duplicated on the docs side joins its one
        # catalog row several times — row counts would overcount
        expected_n=F.countDistinct("doc_id").alias("expected_n"),
        actual_n=F.count("*").alias("actual_n"),
        counts_n=[
            col("partition_id"),
            F.coalesce(col("expected_n"), lit(0)).alias("expected_n"),
            F.coalesce(col("actual_n"), lit(0)).alias("actual_n"),
        ],
        count_differs=col("expected_n") != col("actual_n"),
        counts=_viol(
            "partition_counts", doc_id=null_str, span_idx=null_int, field=lit("count"),
            expected=col("expected_n").cast("string"), actual=col("actual_n").cast("string"),
            violation_class=lit("COUNT_MISMATCH"), writer_id=null_int, written_at=null_ts,
        ),
        dup_agg=[F.count("*").alias("cnt"), F.min("partition_id").alias("partition_id")],
        dup=col("cnt") > 1,
        dups=_viol(
            "uniqueness", span_idx=null_int, field=lit("doc_id"), expected=lit("1"),
            actual=col("cnt").cast("string"), violation_class=lit("DUP_DOC_ID"), writer_id=null_int, written_at=null_ts,
        ),
    )
