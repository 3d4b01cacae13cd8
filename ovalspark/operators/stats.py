"""Per-column statistics profiler — count / nulls / min / max /
approx-distinct (HLL sketch).

Generalizes oval's end-of-run counter report (``internal/stat/stat.go:8-51``
in /root/reference) into a data-profiling operator (north_star). One pass
over the table computes all stats for all requested columns — Spark's
partial+final aggregation gives map-side combine for free, and
``approx_count_distinct`` is a mergeable HyperLogLog++ sketch, so the whole
profile is a single shuffle of sketch-sized partials no matter the table
size.

Output is long-form (one row per column) so it is stable when the column
list changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def column_profile(df: DataFrame, columns: list[str] | None = None, rsd: float = 0.02) -> DataFrame:
    """One row per column: (column, n_rows, n_nulls, min, max,
    approx_distinct). min/max cast to string for the mixed-type long form.
    """
    cols = columns or [f.name for f in df.schema.fields if not f.dataType.typeName().startswith(("array", "struct", "map"))]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
            F.approx_count_distinct(c, rsd).alias(f"{c}__adist"),
        ]
    wide = df.agg(*aggs)
    # unpivot wide -> long with stack()
    stack_args = ", ".join(
        f"'{c}', {c}__nulls, {c}__min, {c}__max, {c}__adist" for c in cols
    )
    return wide.selectExpr(
        "n_rows",
        f"stack({len(cols)}, {stack_args}) as (column, n_nulls, min, max, approx_distinct)",
    ).select("column", "n_rows", "n_nulls", "min", "max", "approx_distinct")


def column_profile_checked(df: DataFrame, columns: list[str], rsd: float = 0.02, strict: bool = True) -> DataFrame:
    """``column_profile`` with its own error bound checked in-query: one
    pass computes BOTH the HLL estimate and the exact distinct count per
    column and emits ``est_within_bound = |est - exact| <= 3·rsd·exact``
    (HLL++ relative error is ~normal with stddev rsd, so 3·rsd is a
    ≥99.7% bound per column). With ``strict`` the row raise_errors instead
    of reporting False — the estimate's correctness is then asserted by
    the query itself, which is what makes a rows-only gate row meaningful
    (estimates are not reproducible cross-engine, so no oracle can).

    Costs an exact count_distinct per column, so this is the AUDIT form —
    run on samples or small scales; production profiling uses
    ``column_profile`` (sketch-only, fixed-size partials).
    """
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in columns:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
            F.approx_count_distinct(c, rsd).alias(f"{c}__adist"),
            F.count_distinct(F.col(c)).alias(f"{c}__xdist"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nulls, {c}__min, {c}__max, {c}__adist, {c}__xdist" for c in columns
    )
    long = wide.selectExpr(
        "n_rows",
        f"stack({len(columns)}, {stack_args}) as (column, n_nulls, min, max, approx_distinct, n_distinct)",
    )
    ok = (
        F.abs(F.col("approx_distinct") - F.col("n_distinct"))
        <= F.lit(3.0 * rsd) * F.col("n_distinct").cast("double")
    )
    if strict:
        bound = F.when(ok, ok).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("HLL estimate outside 3*rsd bound for column "),
                    F.col("column"),
                    F.lit(": est="),
                    F.col("approx_distinct").cast("string"),
                    F.lit(" exact="),
                    F.col("n_distinct").cast("string"),
                )
            )
        )
    else:
        bound = ok
    return long.select(
        "column", "n_rows", "n_nulls", "min", "max",
        "approx_distinct", "n_distinct", bound.alias("est_within_bound"),
    )
