"""Equal-width histogram as a distributed two-pass operator.

Reference: ``Column::hist(nbins, density)`` (table.rs:244-290) computed
equal-width buckets over Int64/Float64 columns single-threaded.  The Spark-first
form is two scans with no driver-side data beyond the 2-value min/max row:

1. one aggregate for ``min``/``max`` (map-side partial agg, tiny shuffle);
2. ``width_bucket`` -> groupBy(bucket).count() (map-side combine, shuffle is
   at most ``nbins`` rows per partition).

At 100 TB this is scan-bound; the shuffle is O(nbins * partitions) rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["hist"]


def hist(df: DataFrame, column: str, nbins: int = 10, density: bool = False) -> DataFrame:
    """Histogram of ``column`` with ``nbins`` equal-width buckets.

    Returns columns ``bucket`` (1-based), ``lo``, ``hi``, and ``count``
    (or ``density`` when density=True).  Values equal to the max fall in the
    last bucket (matching the reference's closed top bucket, table.rs:267-276).
    """
    c = F.col(column)
    bounds = df.agg(
        F.min(c).cast("double").alias("mn"), F.max(c).cast("double").alias("mx")
    ).collect()[0]
    mn, mx = bounds["mn"], bounds["mx"]
    if mn is None:  # all-null column
        from ..sources.lakehouse_util import local_rows_df

        return local_rows_df(
            df.sparkSession, [], "bucket int, lo double, hi double, count bigint"
        )
    if mx == mn:
        mx = mn + 1.0  # single-valued column: one degenerate bucket
    width = (mx - mn) / nbins
    bucket = F.least(
        F.lit(nbins), F.greatest(F.lit(1), F.width_bucket(c.cast("double"), F.lit(mn), F.lit(mx), F.lit(nbins)))
    )
    out = (
        df.where(c.isNotNull())
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .count()
        .withColumn("lo", F.lit(mn) + (F.col("bucket") - 1) * F.lit(width))
        .withColumn("hi", F.lit(mn) + F.col("bucket") * F.lit(width))
        .select("bucket", "lo", "hi", "count")
        .orderBy("bucket")
    )
    if density:
        total = df.where(c.isNotNull()).count()
        out = out.withColumn(
            "density", (F.col("count") / F.lit(float(total)) / F.lit(width))
        ).drop("count")
    return out


def profile(df, columns=None):
    """Per-column data profile: rows, nulls, distincts, min/max (as strings)
    — the reference's hist/uniques generalized into one table-scan summary
    (reference table.rs:244-341 had hist + uniques as the only profiling).

    One job, all columns at once: a single wide aggregate computes every
    stat (Spark evaluates them in one pass over the scan), then the 1-row
    result is unpivoted driver-side into (column, n_rows, n_nulls,
    n_distinct, min, max) — no per-column scans, no collect of data rows.

    ``n_distinct`` is exact here; at 100 TB swap count_distinct for
    approx_count_distinct (HLL, mergeable, fixed memory) — same plan shape.
    """
    from pyspark.sql import functions as F

    cols = columns or df.columns
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    row = df.agg(*aggs).first()
    spark = df.sparkSession
    out = [
        (
            c,
            int(row[f"{c}__rows"]),
            int(row[f"{c}__nulls"]),
            int(row[f"{c}__distinct"]),
            row[f"{c}__min"],
            row[f"{c}__max"],
        )
        for c in cols
    ]
    from ..sources.lakehouse_util import local_rows_df

    return local_rows_df(
        spark,
        out,
        "column string, n_rows bigint, n_nulls bigint, n_distinct bigint, min string, max string",
    )
