"""Span-sequence validation — the engine's core operator.

Reproduces oval's read-back verification (``internal/pattern/pattern.go:
118-180`` in /root/reference): for every document that the catalog says
exists, regenerate the expected spans array from the catalog row and
compare the actual array element-by-element, field-by-field:

- struct ``kind``          — deterministic f(doc_id, idx)
- struct ``media_ref``     — deterministic f(doc_id, idx, kind)       (bucket-field analog, :140-143)
- struct ``offset``        — must equal idx*256                        (:159-164)
- text header ``key``      — must equal doc_id                         (:145-150)
- text header ``generation`` — must equal catalog generation (stale-read
  detection, ``README.md:39``)                                         (:152-157)
- text header ``writer_id``  — must equal catalog writer               (:166-170)
- text header ``offset``   — embedded copy of idx*256                  (:96,102)
- text ``body``            — deterministic ramp analog                 (:109-114)

Like oval, ALL mismatching fields of a span are reported, not just the
first (:174-177), and the recorded-but-never-validated timestamp
(written_at, :172) is carried into violation rows for forensics only.

A size check precedes the element-wise pass: ``size(spans) != n_spans`` is
the short-read analog (:123-127); the element-wise comparison then covers
only the overlapping prefix, exactly as a short read in oval aborts before
the missing units are compared.

Scale notes: the whole comparison is ``transform``/``filter``/``flatten``
over the spans array — a narrow, shuffle-free map evaluated in whole-stage
codegen. The only shuffle is the docs⋈catalog equi-join on doc_id; pass
``broadcast_catalog=True`` when the catalog fits in executor memory, and
the join vanishes into a broadcast hash join. Rows only explode into the
violations table when a violation actually exists, so the output is
proportional to corruption, not to data volume.
"""

from __future__ import annotations

import weakref
from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ovalspark.functions import spans as sp

VIOLATION_SCHEMA = StructType(
    [
        StructField("partition_id", IntegerType()),
        StructField("doc_id", StringType()),
        StructField("span_idx", IntegerType()),
        StructField("field", StringType()),
        StructField("expected", StringType()),
        StructField("actual", StringType()),
        StructField("violation_class", StringType()),
        StructField("writer_id", IntegerType()),
        StructField("written_at", TimestampType()),
    ]
)

# field -> violation class (FIXTURES.md §4 taxonomy)
FIELD_CLASS = {
    "kind": "WRONG_KIND",
    "media_ref": "WRONG_MEDIA_REF",
    "offset": "OFFSET_DISORDER",
    "key": "WRONG_TEXT",
    "body": "WRONG_TEXT",
    "text": "WRONG_TEXT",
    "generation": "STALE_GENERATION",
    "writer_id": "WRONG_WRITER",
}


def _field_viol(field: str, expected: Column, actual: Column) -> Column:
    """One span-field check → violation struct or null (accumulated, like
    oval's errSub chain at pattern.go:139-177)."""
    return F.when(
        ~expected.eqNullSafe(actual),
        F.struct(
            F.lit(field).alias("field"),
            expected.cast("string").alias("expected"),
            actual.cast("string").alias("actual"),
        ),
    )


_EMPTY_VIOLS = "array<struct<field:string,expected:string,actual:string>>"


# SparkContext -> {key: Column trees}. The span checks are a few thousand
# py4j round trips to build and the same for every call, so each live
# context builds them once. Keyed on the context object, never on id():
# a restarted session may reuse a dead context's id, and its Columns
# belong to the dead gateway.
_EXPRS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _memo(df: DataFrame, key: tuple, build: Callable[[], Any]) -> Any:
    """``build()``'s Columns for ``df``'s SparkContext, built on first use."""
    per_sc = _EXPRS.setdefault(df.sparkSession.sparkContext, {})
    if key not in per_sc:
        per_sc[key] = build()
    return per_sc[key]


def validate_spans(
    docs: DataFrame,
    catalog: DataFrame,
    n_assets: int = sp.DEFAULT_N_ASSETS,
    broadcast_catalog: bool = False,
    key: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Validate every existing document's spans against the catalog.

    Returns a violations DataFrame with VIOLATION_SCHEMA columns. Size
    mismatches yield one SIZE_MISMATCH row; field mismatches yield one row
    per (span, field).

    ``key`` — the docs⋈catalog equi-join key. The default joins on
    doc_id; a batched multi-commit span passes ``("doc_id", "_sid")`` so
    each doc row is checked ONLY against its own commit's expectation
    (the same doc_id may legitimately carry different expectations in
    different commits of one span — e.g. the pre- and post-delete state).

    Physical shape (deliberate): ``posexplode`` + FLAT column predicates,
    NOT array higher-order functions. Spark evaluates lambda bodies inside
    ``transform``/``filter`` in interpreted mode (no whole-stage codegen),
    which measured ~10× slower here; the explode and every check below
    stay inside codegen, and the single fast-path predicate drops clean
    spans before any violation-row construction happens. Output row count
    is proportional to corruption, not table size.

    Building the frame is cheap after the first call in a SparkContext:
    the catalog projection, the join's projection and every span check
    are Column trees built once per context (``span_checks_joined``), so
    a call costs a handful of DataFrame calls and no Spark job.
    """
    exists, cat_cols, joined = _memo(
        docs,
        ("join", key),
        lambda: (
            F.col("exists"),
            [F.col(k) for k in (*key, "generation", "n_spans", "writer_id")],
            [
                F.col("partition_id"),
                F.col("doc_id"),
                F.col("d.spans").alias("spans"),
                F.col("c.generation").alias("generation"),
                F.col("c.n_spans").alias("n_spans"),
                F.col("c.writer_id").alias("writer_id"),
                F.col("written_at"),
            ],
        ),
    )
    cat = catalog.filter(exists).select(*cat_cols)
    if broadcast_catalog:
        cat = F.broadcast(cat)
    j = docs.alias("d").join(cat.alias("c"), list(key)).select(*joined)
    return span_checks_joined(j, n_assets)


def span_checks_joined(j: DataFrame, n_assets: int = sp.DEFAULT_N_ASSETS) -> DataFrame:
    """The validator core over a PRE-JOINED frame with columns
    (partition_id, doc_id, spans, generation, n_spans, writer_id,
    written_at) — writer_id/generation/n_spans are the CATALOG's. Exposed
    so the fused single-pass validator (operators/fused.py) can run the
    same expressions on its one outer-join output without a second join.

    SINGLE-LEG plan (round 3): the doc-level size check rides the SAME
    posexplode_outer pass as the span-field checks — the size violation is
    emitted from each doc's first exploded row (i==0, or the null row an
    empty array produces). The previous shape unioned a size leg with the
    span leg, and union branches do NOT share subplans in Spark: the
    scan+join executed TWICE (measured ~11 s of a ~40 s single-core run —
    BASELINE.md round 3). One scan, one join, one explode now feeds every
    check; clean spans are dropped by one codegen'd predicate before any
    violation construction.

    Every caller (``validate_spans``, ``fused.validate_all``, the delta
    and tail verifiers, the stream validator's micro-batches, q40) goes
    through here. The four Column lists (the pre-explode projection, the
    ``size_mismatch | dirty`` predicate, the flat select with its
    ``explode`` and the final select with the class chain) are built by
    ``_span_exprs`` once per (SparkContext, ``n_assets``); a call then
    makes four DataFrame calls. The Columns hold only unresolved names,
    so the plan is the one a fresh build gives."""
    proj, keep, flat, final = _memo(j, ("checks", n_assets), lambda: _span_exprs(n_assets))
    return j.select(*proj).filter(keep).select(*flat).select(*final)


def _span_exprs(n_assets: int) -> tuple[list[Column], Column, list[Column], list[Column]]:
    """Build ``span_checks_joined``'s four Column lists."""
    proj = [
        F.col("partition_id"),
        F.col("doc_id"),
        F.col("generation"),
        F.col("writer_id"),
        F.col("written_at"),
        F.col("n_spans").alias("n_expected"),
        F.size("spans").alias("n_actual"),
        F.posexplode_outer("spans").alias("i", "s"),
    ]
    i, s = F.col("i"), F.col("s")
    doc_id, gen, wid = F.col("doc_id"), F.col("generation"), F.col("writer_id")
    n_expected, n_actual = F.col("n_expected"), F.col("n_actual")
    exp_kind = sp.span_kind(doc_id, i)
    exp_media = sp.span_media_ref(doc_id, i, exp_kind, n_assets)
    exp_offset = (i * sp.SPAN_UNIT).cast("int")
    exp_text = sp.span_text(doc_id, gen, wid, i)

    # span-field checks apply to the overlapping prefix only (a short read
    # in oval aborts before the missing units are compared, :123-127)
    in_range = i.isNotNull() & (i < n_expected)
    dirty = in_range & (
        (~s["kind"].eqNullSafe(exp_kind))
        | (~s["media_ref"].eqNullSafe(exp_media))
        | (~s["offset"].eqNullSafe(exp_offset))
        | (~s["text"].eqNullSafe(exp_text))
    )
    # doc-level short-read / size check, once per doc via its first row
    # (posexplode_outer yields i=null for an empty/null array)
    size_mismatch = (i.isNull() | (i == 0)) & (n_actual != n_expected)

    # detailed per-field extraction — the when() guards keep these
    # evaluating only on rows that already failed a check
    seg = sp.text_segments(s["text"])
    text_fields = [
        _field_viol("key", doc_id, seg["key"]),
        _field_viol("generation", F.format_string("%08x", gen.cast("long")), seg["generation"]),
        _field_viol("writer_id", F.format_string("%04x", wid.cast("long")), seg["writer_id"]),
        _field_viol("offset_text", F.format_string("%08x", exp_offset.cast("long")), seg["offset"]),
        _field_viol("body", sp.span_body(doc_id, i), seg["body"]),
    ]
    detailed = F.filter(F.array(*text_fields), lambda c: c.isNotNull())
    # fallback: whole-text mismatch none of the segments explain (e.g. a
    # corrupted separator byte) still reports, as field="text"
    text_checks = F.when(s["text"].eqNullSafe(exp_text), F.array().cast(_EMPTY_VIOLS)).otherwise(
        F.when(F.size(detailed) > 0, detailed).otherwise(
            F.array(
                F.struct(
                    F.lit("text").alias("field"),
                    exp_text.cast("string").alias("expected"),
                    s["text"].cast("string").alias("actual"),
                )
            )
        )
    )
    struct_checks = F.filter(
        F.array(
            _field_viol("kind", exp_kind, s["kind"]),
            _field_viol("media_ref", exp_media, s["media_ref"]),
            _field_viol("offset", exp_offset, s["offset"]),
        ),
        lambda c: c.isNotNull(),
    )
    empty = F.array().cast(_EMPTY_VIOLS)
    size_arr = F.when(
        size_mismatch,
        F.array(
            F.struct(
                F.lit("n_spans").alias("field"),
                n_expected.cast("string").alias("expected"),
                n_actual.cast("string").alias("actual"),
            )
        ),
    ).otherwise(empty)
    span_arr = F.when(dirty, F.concat(struct_checks, text_checks)).otherwise(empty)

    flat = [
        F.col("partition_id"),
        F.col("doc_id"),
        i.cast("int").alias("i"),
        F.explode(F.concat(size_arr, span_arr)).alias("v"),
        F.col("writer_id"),
        F.col("written_at"),
    ]

    cls = F.lit(None).cast("string")
    for fld, c in FIELD_CLASS.items():
        cls = F.when(F.col("v.field") == fld, F.lit(c)).otherwise(cls)
    cls = F.when(F.col("v.field") == "n_spans", F.lit("SIZE_MISMATCH")).otherwise(
        F.coalesce(cls, F.lit("OFFSET_DISORDER"))  # offset_text
    )

    final = [
        F.col("partition_id"),
        F.col("doc_id"),
        F.when(F.col("v.field") == "n_spans", F.lit(None).cast("int")).otherwise(F.col("i")).alias("span_idx"),
        F.col("v.field").alias("field"),
        F.col("v.expected").alias("expected"),
        F.col("v.actual").alias("actual"),
        cls.alias("violation_class"),
        F.col("writer_id"),
        F.col("written_at"),
    ]
    return proj, size_mismatch | dirty, flat, final
