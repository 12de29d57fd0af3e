"""Deterministic range bucketing shared by the ordered-scan helpers.

``repartitionByRange`` draws its range bounds from a reservoir sample
taken PER JOB — two jobs over the same frame can disagree on which
partition a row lands in, so call sites that pair a per-partition
offsets job with a consuming job (dense ranks, ECDF cumsums) had to
``.cache()`` the repartitioned frame for bound consistency. Nothing
ever unpersisted those caches: in a long-lived session (the bench runs
the whole suite in one) cached corpus-scale partitions accumulate
until eviction pressure — at 10^12 rows, a cluster-memory incident.

This module replaces the sampled bounds with DETERMINISTIC ones: a
hash-ordered top-k sample (map-side top-k + driver merge — no full
sort, no shuffle of the corpus) collected once to the driver, cut at
even quantiles, and re-applied as a pure literal Column expression.
Every job computes the same bucket for the same row from literals, so
there is nothing to cache and nothing to leak.

``with_range_offsets`` is what the ordered-scan helpers call: the bounds
sample is its only eager job; bucket offsets are computed in the plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

PID = "__pid"


def sample_range_bounds(
    df: DataFrame, col: str, buckets: int, sample_rows: int | None = None
) -> list:
    """Sorted, distinct cut points (at most ``buckets - 1``) for
    ``col``, from the ``sample_rows`` (default ``buckets * 128``) rows
    with the LOWEST xxhash64(col) — a deterministic uniform sample of
    the distinct values. Plans as TakeOrderedAndProject: each task
    keeps its local top-k, the driver merges — the corpus itself never
    shuffles for the sample."""
    if sample_rows is None:
        sample_rows = buckets * 128
    rows = (
        df.select(F.col(col).alias("v"))
        .where(F.col("v").isNotNull())
        .orderBy(F.xxhash64(F.col("v").cast("string")), F.col("v"))
        .limit(sample_rows)
        .collect()
    )
    vals = sorted(r["v"] for r in rows)
    if not vals:
        return []
    bounds, seen = [], set()
    for i in range(1, buckets):
        v = vals[min(i * len(vals) // buckets, len(vals) - 1)]
        if v not in seen:
            seen.add(v)
            bounds.append(v)
    return bounds


def range_pid_expr(col, bounds: list):
    """Monotone bucket id from literal cut points:
    pid = count of bounds strictly below ``col`` (0..len(bounds)), so
    bucket i holds values in (bounds[i-1], bounds[i]] and ascending pid
    = ascending value range — per-bucket local order + per-bucket
    offsets reconstructs the global order, the property the dense-rank
    and cumsum helpers need. NULLs land in bucket 0 (they sort first,
    matching the window's default null ordering)."""
    if not bounds:
        return F.lit(0)
    e = None
    for b in bounds:
        t = (col > F.lit(b)).cast("int")
        e = t if e is None else e + t
    return F.coalesce(e, F.lit(0))


def with_range_offsets(
    df: DataFrame, col: str, aggs: dict[str, Column], buckets: int = 64
) -> DataFrame:
    """``df`` plus the bucket id ``__pid`` of ``col`` (bounds from one
    eager ``sample_range_bounds`` job) and, for each ``name -> aggregate``
    in ``aggs``, ``off_<name>`` (the sum over all LOWER buckets; add a
    per-bucket running value to get the global one) and ``tot_<name>``
    (the sum over all buckets). Both come from the per-bucket aggregate,
    at most ``buckets`` rows, so its running sum is a single-partition
    window over kilobytes, broadcast back on ``__pid``. Data-dependent
    offsets never become literals, so generated code stays reusable.
    An empty ``df`` gives an empty frame."""
    d = df.withColumn(
        PID, range_pid_expr(F.col(col), sample_range_bounds(df, col, buckets))
    )
    below = Window.orderBy(PID).rowsBetween(Window.unboundedPreceding, -1)
    every = Window.partitionBy()
    offsets = d.groupBy(PID).agg(
        *[e.alias(n) for n, e in aggs.items()]
    ).select(
        PID,
        *[F.coalesce(F.sum(n).over(below), F.lit(0)).alias(f"off_{n}")
          for n in aggs],
        *[F.sum(n).over(every).alias(f"tot_{n}") for n in aggs],
    )
    return d.join(F.broadcast(offsets), PID)
