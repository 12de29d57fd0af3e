"""Distribution-drift checks: PSI and KS (north star: dur_ms, sr_hz,
codec histograms).

Scale strategy:
- Histograms are hash aggregations (one narrow shuffle). The ``codec``
  column is intentionally skewed (85% 'wav', FIXTURES.md F1) — a plain
  groupBy('codec') puts 85% of partial counts on one reducer key, but
  because partial (map-side) aggregation reduces each task's output to
  <= n_categories rows BEFORE the shuffle, the reducer receives only
  n_tasks x n_categories tiny rows: low-cardinality skew is absorbed by
  partial agg, no salting needed for counts. Salting matters for
  high-cardinality skewed JOINS, not for counting; the referential join
  path relies on AQE skew-join splitting instead.
- Exact KS needs a cumulative sum over *distinct values* — the window
  runs on the post-aggregation table (|distinct values| rows, not |rows|),
  so the single-partition window is bounded by value cardinality. For
  unbounded-cardinality columns use ``ks_statistic(..., grid=M)`` which
  evaluates CDFs on an M-point approx-quantile grid (constant memory).
- PSI and grid KS are LAZY — no driver-side .count()/.collect(). Ratios
  and totals come from windows over the already-aggregated (tiny) tables,
  so each check is ONE action when it finally runs, and several checks
  can be submitted concurrently from threads.
- Exact KS issues ONE eager job while the plan is built: the range-bound
  sample of ``partitioning.with_range_offsets``. Bucket offsets and the
  two sides' totals are computed inside the returned plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

EPS = 1e-6

def _ALL():
    """Unpartitioned window, used ONLY over post-aggregation tables whose
    row count is bounded by category/value cardinality (n_categories or
    |distinct values| rows — kilobytes). Spark logs ``WindowExec: No
    Partition Defined ... can cause serious performance degradation`` for
    every use; over these tiny aggregated tables the warning is benign by
    construction. If this ever appears over a NON-aggregated input, that
    is a real regression — every caller below feeds it a groupBy output.
    Needs an active session, so built lazily."""
    return Window.partitionBy()


def category_histogram(df: DataFrame, col: str) -> DataFrame:
    """(value, count, ratio) — one hash agg; ratio via a window over the
    aggregated (n_categories-row) table, no separate count job."""
    return (
        df.groupBy(F.col(col).alias("value"))
        .agg(F.count(F.lit(1)).alias("count"))
        .withColumn("ratio", F.col("count") / F.sum("count").over(_ALL()))
    )


def psi_report(df_a: DataFrame, df_b: DataFrame, col: str) -> DataFrame:
    """Population Stability Index between two categorical distributions.

    PSI = sum over categories of (pa - pb) * ln(pa / pb), with ratios
    floored at EPS for categories absent on one side. Single row:
    (psi, n_categories).
    """
    ha = category_histogram(df_a, col).select(
        "value", F.col("ratio").alias("ratio_a")
    )
    hb = category_histogram(df_b, col).select(
        "value", F.col("ratio").alias("ratio_b")
    )
    joined = ha.join(hb, on="value", how="full_outer").select(
        "value",
        F.greatest(F.coalesce("ratio_a", F.lit(0.0)), F.lit(EPS)).alias("pa"),
        F.greatest(F.coalesce("ratio_b", F.lit(0.0)), F.lit(EPS)).alias("pb"),
    )
    return joined.agg(
        F.sum((F.col("pa") - F.col("pb")) * F.log(F.col("pa") / F.col("pb"))).alias(
            "psi"
        ),
        F.count(F.lit(1)).alias("n_categories"),
    )


def numeric_psi(
    df_a: DataFrame, df_b: DataFrame, col: str, min_v: float, max_v: float,
    n_buckets: int = 10,
) -> DataFrame:
    """PSI over fixed-width buckets of a numeric column. Explicit
    [min_v, max_v) bounds keep the bucketing deterministic across engines
    and across runs (no data-dependent bounds)."""
    def bucketed(df):
        b = F.width_bucket(
            F.col(col).cast("double"), F.lit(float(min_v)), F.lit(float(max_v)),
            F.lit(n_buckets),
        )
        return df.filter(F.col(col).isNotNull()).select(b.alias("value"))

    return psi_report(bucketed(df_a), bucketed(df_b), "value")


def ks_statistic(
    df_a: DataFrame, df_b: DataFrame, col: str, grid: int | None = None
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic, single row (ks_stat).

    Exact mode (grid=None): group both sides by value, cumulative counts
    over the distinct-value table, ks = max |CDF_a - CDF_b|. The cumsum
    runs per range bucket (``_ordered_cumsum``); bucket offsets and the
    totals are computed in the plan, after one eager bounds sample. NULL
    when either side has no non-null value.

    Grid mode: evaluate both empirical CDFs on an approx-quantile grid of
    the union — bounded memory for continuous columns at any scale.
    """
    a = df_a.select(F.col(col).cast("double").alias("v")).filter(
        F.col("v").isNotNull()
    )
    b = df_b.select(F.col(col).cast("double").alias("v")).filter(
        F.col("v").isNotNull()
    )
    if grid:
        union = a.unionAll(b)
        qs = [i / grid for i in range(1, grid)]
        points = union.agg(
            F.percentile_approx("v", qs, 10000).alias("pts")
        ).select(F.explode("pts").alias("pt")).dropDuplicates(["pt"])
        ca = a.crossJoin(F.broadcast(points)).groupBy("pt").agg(
            F.sum((F.col("v") <= F.col("pt")).cast("long")).alias("ca"),
            F.count(F.lit(1)).alias("na"),
        )
        cb = b.crossJoin(F.broadcast(points)).groupBy("pt").agg(
            F.sum((F.col("v") <= F.col("pt")).cast("long")).alias("cb"),
            F.count(F.lit(1)).alias("nb"),
        )
        return (
            ca.join(cb, "pt", "full_outer")
            .select(
                F.abs(
                    F.coalesce("ca", F.lit(0)) / F.max("na").over(_ALL())
                    - F.coalesce("cb", F.lit(0)) / F.max("nb").over(_ALL())
                ).alias("d")
            )
            .agg(F.max("d").alias("ks_stat"))
        )

    ga = a.groupBy("v").agg(F.count(F.lit(1)).alias("ca"))
    gb = b.groupBy("v").agg(F.count(F.lit(1)).alias("cb"))
    merged = ga.join(gb, "v", "full_outer").select(
        "v",
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    )
    cum = _ordered_cumsum(merged, "v", ("ca", "cb"))
    na, nb = F.col("tot_ca"), F.col("tot_cb")
    return cum.select(
        F.when(
            (na > 0) & (nb > 0),
            F.abs(F.col("cum_ca") / na - F.col("cum_cb") / nb),
        ).alias("d")
    ).agg(F.max("d").alias("ks_stat"))


def _ordered_cumsum(df, order_col: str, sum_cols, buckets: int = 64):
    """Cumulative sums by ascending ``order_col`` WITHOUT a global-order
    window (``Window.orderBy`` with no partition key funnels every distinct
    value through one task — fatal for an ECDF over a 10^12-row column).
    Bucket by DETERMINISTIC literal range bounds, cumsum locally per
    bucket, and add the bucket's offset (``partitioning.with_range_offsets``:
    one eager bounds sample, offsets computed in the plan). Returns ``df``
    + ``cum_<col>`` and ``tot_<col>`` (the column total) for each of
    ``sum_cols``. Nothing is cached: every job derives the same bucket
    from the same literal bounds."""
    from ..partitioning import PID, with_range_offsets

    d = with_range_offsets(
        df, order_col, {c: F.sum(c) for c in sum_cols}, buckets
    )
    w = Window.partitionBy(PID).orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return d.select(
        "*",
        *[(F.sum(c).over(w) + F.col(f"off_{c}")).alias(f"cum_{c}")
          for c in sum_cols],
    )
