"""A warm suite run reuses what the previous run compiled: the Schema
memo hits for the clips suite's own extra checks, and Spark's codegen
cache holds a whole suite run. Deterministic counts, not timings."""

import json
import os
import subprocess
import sys
import threading
from contextlib import contextmanager

import pytest

from voluptuous_spark.audio import pcm_check_expr
from voluptuous_spark.datasynth import clips_df, transcripts_df
from voluptuous_spark.suite import CLIPS_SCHEMA, run_suite

N = 400
SEED = 1234


@pytest.fixture(scope="module")
def clips(spark):
    df = clips_df(spark, N, seed=SEED, partitions=4).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def transcripts(spark):
    df = transcripts_df(spark, N, seed=SEED, partitions=4).cache()
    df.count()
    yield df
    df.unpersist()


@contextmanager
def _py4j_calls(spark):
    """Counts py4j round trips from this thread (yields a one-item list)."""
    client = spark.sparkContext._gateway._gateway_client
    orig, me, n = client.send_command, threading.get_ident(), [0]

    def send_command(*a, **kw):
        if threading.get_ident() == me:
            n[0] += 1
        return orig(*a, **kw)

    client.send_command = send_command
    try:
        yield n
    finally:
        del client.send_command  # back to the class method


_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# two run_suite passes in a fresh session; prints [[compiles, counts]] x 2
_TWO_SUITE_RUNS = f"""
import json
from voluptuous_spark.datasynth import clips_df, transcripts_df
from voluptuous_spark.session import get_spark
from voluptuous_spark.suite import run_suite

spark = get_spark(shuffle_partitions=4,
                  extra_conf={{"spark.ui.enabled": "false"}})
spark.sparkContext.setLogLevel("ERROR")
cm = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
clips = clips_df(spark, {N}, seed={SEED}, partitions=4).cache()
transcripts = transcripts_df(spark, {N}, seed={SEED}, partitions=4).cache()
out = []
for _ in range(2):
    before = cm.METRIC_COMPILATION_TIME().getCount()
    res = run_suite(clips, transcripts)
    counts = res.counts()
    res.violations.count()
    res.unpersist()
    out.append([cm.METRIC_COMPILATION_TIME().getCount() - before, counts])
spark.stop()
print(json.dumps(out))
"""


def test_schema_memo_hits_with_fresh_extra_checks(spark, clips):
    CLIPS_SCHEMA._compiled_cache.clear()
    calls = []
    for _ in range(2):
        extra = [("bytes", pcm_check_expr())]  # fresh binary literals
        with _py4j_calls(spark) as n:
            CLIPS_SCHEMA.validate(
                clips, id_cols=["clip_id"], extra_checks=extra
            )
        calls.append(n[0])
    assert len(CLIPS_SCHEMA._compiled_cache) == 1
    assert calls[1] <= calls[0] / 10, calls


def test_extra_checks_keep_their_place_in_the_errors_array(spark):
    from pyspark.sql import functions as F

    from voluptuous_spark import Schema
    from voluptuous_spark.dsl import PREVENT_EXTRA, Range

    df = spark.createDataFrame([(1, 99, "x")], "id long, v long, extra string")
    schema = Schema({"id": int, "v": Range(max=10)}, extra=PREVENT_EXTRA)
    paths = []
    for extra in ((), [("chk", F.lit("bad"))], ()):
        res = schema.validate(df, id_cols=["id"], extra_checks=extra)
        errs = res.annotated.collect()[0]["__errors"]
        paths.append([list(e["path"]) for e in errs])
        assert res.valid.count() == 0
    assert paths[0] == paths[2] == [["v"], ["extra"]]
    assert paths[1] == [["v"], ["chk"], ["extra"]]  # before extra keys
    assert len(schema._compiled_cache) == 1


def test_warm_suite_run_reuses_generated_classes():
    # In a JVM of its own: the codegen cache is JVM-wide, so in the test
    # session the first run would find classes other modules compiled
    out = subprocess.run(
        [sys.executable, "-c", _TWO_SUITE_RUNS],
        env={**os.environ,
             "PYTHONPATH": os.pathsep.join(
                 filter(None, [_ROOT, os.environ.get("PYTHONPATH")])),
             "SPARK_DRIVER_MEMORY": "1g", "SPARK_OFFHEAP_MEMORY": "512m"},
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    (cold, first), (warm, second) = json.loads(out.stdout.splitlines()[-1])
    assert first == second
    assert cold >= 50 and warm <= cold / 10, (cold, warm)


def test_suite_over_empty_clips_completes(spark, clips, transcripts):
    counts = run_suite(clips.limit(0), transcripts).counts()
    assert not counts["rows"] and counts["dur_ks"] is None
    assert counts["orphans"] == N
