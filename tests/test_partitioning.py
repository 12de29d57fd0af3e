"""Deterministic range bucketing (voluptuous_spark/partitioning.py) —
the cache-free replacement for repartitionByRange+spark_partition_id
in the dense-rank / ordered-cumsum helpers (round-4 verdict #3)."""

import uuid

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from voluptuous_spark.checks.drift import ks_statistic
from voluptuous_spark.partitioning import range_pid_expr, sample_range_bounds
from voluptuous_spark.textops import _dense_ranks


def test_bounds_deterministic_and_sorted(spark):
    df = spark.range(5000).select((F.col("id") * 37 % 4999).alias("v"))
    b1 = sample_range_bounds(df, "v", 16)
    b2 = sample_range_bounds(df, "v", 16)
    assert b1 == b2  # same input -> same literal bounds, every job
    assert b1 == sorted(b1) and len(b1) == len(set(b1)) <= 15


def test_pid_monotone_and_order_reconstructable(spark):
    df = spark.range(2000).select((F.col("id") * 13 % 1999).alias("v"))
    bounds = sample_range_bounds(df, "v", 8)
    rows = df.select(
        "v", range_pid_expr(F.col("v"), bounds).alias("pid")
    ).collect()
    # pid is monotone in v: sorting by (pid, v) == sorting by v
    by_v = sorted(r["v"] for r in rows)
    by_pid = [r["v"] for r in sorted(rows, key=lambda r: (r["pid"], r["v"]))]
    assert by_pid == by_v
    # buckets are populated (balance, not a single fat bucket)
    pids = {r["pid"] for r in rows}
    assert len(pids) >= 6


def test_string_and_null_handling(spark):
    df = spark.createDataFrame(
        [(f"w{i:03d}",) for i in range(300)] + [(None,)], "v string"
    )
    bounds = sample_range_bounds(df, "v", 4)
    rows = df.select(
        "v", range_pid_expr(F.col("v"), bounds).alias("pid")
    ).collect()
    null_pid = next(r["pid"] for r in rows if r["v"] is None)
    assert null_pid == 0  # nulls sort first -> bucket 0
    nonnull = [r for r in rows if r["v"] is not None]
    by_v = sorted(r["v"] for r in nonnull)
    by_pid = [r["v"] for r in sorted(nonnull, key=lambda r: (r["pid"], r["v"]))]
    assert by_pid == by_v


def test_empty_and_tiny_inputs(spark):
    empty = spark.range(0).select(F.col("id").alias("v"))
    assert sample_range_bounds(empty, "v", 8) == []
    one = spark.range(1).select(F.col("id").alias("v"))
    b = sample_range_bounds(one, "v", 8)
    got = one.select(range_pid_expr(F.col("v"), b).alias("p")).collect()
    assert got[0]["p"] == 0


# -- with_range_offsets through its two callers: exact KS and dense ranks --

def _numpy_ks(a, b):
    """Two-sample ECDF max-difference over the union of sample points."""
    a, b = np.sort(np.asarray(a, float)), np.sort(np.asarray(b, float))
    pts = np.union1d(a, b)
    fa = np.searchsorted(a, pts, side="right") / len(a)
    fb = np.searchsorted(b, pts, side="right") / len(b)
    return float(np.max(np.abs(fa - fb)))


def _frame(spark, values, ddl="x double"):
    return spark.createDataFrame([(v,) for v in values], ddl)


def _eager_jobs(spark, fn):
    """(fn(), jobs fn submitted) — read from the status store, with AQE
    off so that one action is one job (AQE runs each shuffle stage of an
    action as a job of its own)."""
    sc = spark.sparkContext
    group = f"eager-{uuid.uuid4().hex}"
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, "eager jobs")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("case", ["ties", "doubles", "many_buckets"])
def test_ks_statistic_matches_numpy_ecdf(spark, case):
    rng = np.random.default_rng(7)
    if case == "ties":  # few distinct values, heavy ties on both sides
        a, b = rng.integers(0, 6, 400), rng.integers(2, 9, 300)
    elif case == "doubles":
        a, b = rng.normal(0, 1, 500), rng.normal(0.3, 1.2, 450)
    else:  # >64 distinct values: every one of the 64 buckets is used
        a, b = rng.integers(0, 3000, 4000), rng.integers(500, 4000, 3000)
    a, b = [float(v) for v in a], [float(v) for v in b]
    got = ks_statistic(_frame(spark, a), _frame(spark, b), "x").collect()
    assert len(got) == 1
    assert got[0]["ks_stat"] == pytest.approx(_numpy_ks(a, b), abs=1e-12)


def test_ks_statistic_empty_sides_give_one_null_row(spark):
    empty = _frame(spark, [])
    some = _frame(spark, [1.0, 2.0, 2.0])
    nulls = _frame(spark, [None, None])
    for a, b in ((empty, empty), (nulls, empty), (some, empty),
                 (empty, some)):
        assert [r["ks_stat"] for r in ks_statistic(a, b, "x").collect()] \
            == [None]


def test_ks_statistic_issues_one_eager_job(spark):
    a = spark.range(3000).select((F.col("id") * 7 % 997).alias("x"))
    b = spark.range(2000).select((F.col("id") * 3 % 1013).alias("x"))
    ks, n_jobs = _eager_jobs(spark, lambda: ks_statistic(a, b, "x"))
    assert n_jobs == 1  # the bounds sample; offsets are in the plan
    assert ks.collect()[0]["ks_stat"] is not None


def test_dense_ranks_match_global_dense_rank(spark):
    words = spark.createDataFrame(
        [(f"w{(i * 37) % 701:04d}",) for i in range(5000)] + [(None,)],
        "w string",
    )
    got = sorted(
        (r["w"] or "", r["rank"]) for r in _dense_ranks(words, "w").collect()
    )
    want = sorted(
        (r["w"] or "", r["rank"])
        for r in words.distinct().select(
            "w", F.dense_rank().over(Window.orderBy("w")).alias("rank")
        ).collect()
    )
    assert len(want) == 702 and got == want


def test_dense_ranks_empty_and_one_eager_job(spark):
    empty = spark.createDataFrame([], "w string")
    assert _dense_ranks(empty, "w").collect() == []
    # more rows than the bounds sample keeps: on an input the optimizer
    # knows is smaller, it drops the sample's limit and the global sort
    # adds a range-partitioning job of its own
    words = spark.range(20000).select(
        (F.col("id") % 333).cast("string").alias("w")
    )
    ranks, n_jobs = _eager_jobs(spark, lambda: _dense_ranks(words, "w"))
    assert n_jobs == 1
    assert ranks.count() == 333
