"""Distribution-drift tests — KS on span counts, chi-square on kind mix.

The generator's span-count law is oval's truncated-exponential size sampler
(``internal/pattern/pattern.go:22-71`` in /root/reference) whose closed-form
CDF is ``F(x) = 2(1 - 2^-x)`` on [0,1) (pattern.go:50). A partition whose
span-count distribution drifts from that law (DIST_DRIFT) is flagged by a
per-partition Kolmogorov–Smirnov statistic against the discretized CDF;
the categorical ``kind`` mix (70/15/10/5) is checked per partition with a
chi-square statistic.

Scale shape:
- Both tests consume per-partition *histograms*, not raw samples: span
  counts take at most (max_spans - min_spans + 1) distinct values and kind
  takes 4, so the groupBy reduces each partition to a handful of rows
  before any Python runs. The KS statistic itself runs in a vectorized
  ``applyInPandas`` over those tiny histogram groups (SURVEY §4 custom
  work #4); chi-square stays in pure column expressions.
- No driver-side collection; output is one row per partition.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ovalspark.functions.spans import KIND_CUM_PCT, KINDS


def ks_drift(
    docs: DataFrame,
    min_spans: int,
    max_spans: int,
    threshold: float | None = None,
) -> DataFrame:
    """Per-partition KS statistic of size(spans) vs the model CDF.

    Returns (partition_id, n_docs, ks_stat, drifted). The ECDF is exact:
    built from the full per-partition histogram, not a sample.

    ``threshold=None`` (default) uses the sample-size-dependent KS
    critical value ``1.63/sqrt(n)`` (α≈0.01) — a fixed threshold
    false-positives on small partitions and under-detects on huge ones.
    """
    hist = (
        docs.select("partition_id", F.size("spans").alias("n_spans"))
        .groupBy("partition_id", "n_spans")
        .agg(F.count("*").alias("cnt"))
    )

    # NOTE: the closure must be self-contained (no references to module
    # globals) so it cloudpickles by value — executors then don't need the
    # ovalspark package on their PYTHONPATH.
    width = max_spans - min_spans + 1

    def ks(pdf: pd.DataFrame) -> pd.DataFrame:
        import math as _math

        def model_cdf(k: float) -> float:
            x = (_math.floor(k) - min_spans + 1) / width
            x = min(max(x, 0.0), 1.0)
            return 2.0 * (1.0 - 2.0 ** (-x)) if x < 1.0 else 1.0

        # Reindex over the FULL integer support (plus any out-of-range
        # observed values), zero-filling absent counts: a support value the
        # partition never produced is itself evidence of drift, and without
        # it a degenerate histogram (e.g. everything at max_spans) evaluates
        # the ECDF only where it equals 1.0 and reports ks_stat=0.
        support = sorted(set(range(min_spans, max_spans + 1)) | set(pdf["n_spans"].astype(int)))
        counts = pdf.set_index("n_spans")["cnt"].reindex(support, fill_value=0)
        total = int(counts.sum())
        ecdf = counts.cumsum() / total
        model = pd.Series([model_cdf(k) for k in support], index=support)
        # Both CDFs are step functions jumping ONLY at integer support
        # points (the model is the discretized span-count law, not the
        # underlying continuous exponential), so sup_x |F_n(x)-F(x)| is
        # attained at the zero-filled support values — a continuous-CDF
        # pre-jump term |F_n(k-1)-F(k)| would add the model's own jump
        # mass (~0.13 at k=min) and false-positive every clean partition.
        d = float((ecdf - model).abs().max())
        return pd.DataFrame(
            {
                "partition_id": [int(pdf["partition_id"].iloc[0])],
                "n_docs": [total],
                "ks_stat": [d],
            }
        )

    out = hist.groupBy("partition_id").applyInPandas(
        ks, "partition_id int, n_docs long, ks_stat double"
    )
    crit = F.lit(threshold) if threshold is not None else 1.63 / F.sqrt(F.col("n_docs"))
    return out.withColumn("drifted", F.col("ks_stat") > crit)


def chi_square_drift(docs: DataFrame, threshold: float = 30.0) -> DataFrame:
    """Per-partition chi-square of the span-kind histogram against the
    generator's categorical weights. Pure column expressions: the explode
    is narrow, the groupBy reduces to (n_partitions × 4) rows.

    Returns (partition_id, n_spans, chi2, drifted).
    """
    probs = {}
    lo = 0
    for kind, hi in zip(KINDS, KIND_CUM_PCT):
        probs[kind] = (hi - lo) / 100.0
        lo = hi

    obs = (
        docs.select("partition_id", F.explode("spans").alias("s"))
        .select("partition_id", F.col("s.kind").alias("kind"))
        .groupBy("partition_id", "kind")
        .agg(F.count("*").alias("obs"))
    )
    # zero-fill the full KINDS set per partition: a category entirely
    # absent from a partition must still contribute its (0-exp)^2/exp = exp
    # term, or a missing-kind drift (e.g. zero video spans) goes undetected.
    # The fill frame is (n_partitions × 4) rows — negligible at any scale.
    full = (
        obs.select("partition_id")
        .distinct()
        .select("partition_id", F.explode(F.array(*[F.lit(k) for k in KINDS])).alias("kind"))
    )
    obs = full.join(obs, ["partition_id", "kind"], "left").withColumn(
        "obs", F.coalesce(F.col("obs"), F.lit(0))
    )
    totals = obs.groupBy("partition_id").agg(F.sum("obs").alias("total"))
    p_expr = F.create_map(*[x for k, p in probs.items() for x in (F.lit(k), F.lit(p))])
    contrib = (
        obs.join(totals, "partition_id")
        .withColumn("exp", F.col("total") * p_expr[F.col("kind")])
        .withColumn(
            "term",
            F.when(F.col("exp") > 0, (F.col("obs") - F.col("exp")) ** 2 / F.col("exp")).otherwise(F.lit(0.0)),
        )
    )
    out = contrib.groupBy("partition_id").agg(
        F.max("total").alias("n_spans"), F.sum("term").alias("chi2")
    )
    return out.withColumn("drifted", F.col("chi2") > threshold)


def check_distribution(
    docs: DataFrame,
    min_spans: int,
    max_spans: int,
    ks_threshold: float | None = None,
    chi2_threshold: float = 30.0,
) -> DataFrame:
    """Drift results as violation rows (common schema) — DIST_DRIFT per
    drifted partition, so distribution checks compose into a
    ValidationPlan next to the row-level constraints (FIXTURES.md §4)."""
    ks = ks_drift(docs, min_spans, max_spans, ks_threshold).filter(F.col("drifted"))
    chi = chi_square_drift(docs, chi2_threshold).filter(F.col("drifted"))
    k = ks.select(
        "partition_id",
        F.lit(None).cast("string").alias("doc_id"),
        F.lit(None).cast("int").alias("span_idx"),
        F.lit("span_count_distribution").alias("field"),
        F.lit("F(x)=2(1-2^-x)").alias("expected"),
        F.format_string("ks=%.4f", F.col("ks_stat")).alias("actual"),
        F.lit("DIST_DRIFT").alias("violation_class"),
        F.lit(None).cast("int").alias("writer_id"),
        F.lit(None).cast("timestamp").alias("written_at"),
    )
    c = chi.select(
        "partition_id",
        F.lit(None).cast("string").alias("doc_id"),
        F.lit(None).cast("int").alias("span_idx"),
        F.lit("kind_distribution").alias("field"),
        F.lit("70/15/10/5").alias("expected"),
        F.format_string("chi2=%.2f", F.col("chi2")).alias("actual"),
        F.lit("DIST_DRIFT").alias("violation_class"),
        F.lit(None).cast("int").alias("writer_id"),
        F.lit(None).cast("timestamp").alias("written_at"),
    )
    return k.unionByName(c)
