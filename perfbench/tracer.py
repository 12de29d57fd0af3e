"""Per-layer tracing from outside the package.

Nothing in ``voluptuous_spark`` is instrumented. The tracer wraps the
package's public entry points (module attributes and class methods) in
spans, counts py4j round trips by wrapping the gateway client's
``send_command``, tags Spark job groups with the span name, and, when a
pass ends, reads the JVM's status store (jobs, stages), the Catalyst
phase tracker of every collected DataFrame, and the codegen metrics.

Jobs are attributed by id: a span owns every job submitted while it was
open, so a job that builds the suite's cache is charged to the call that
issued it, not to the call that returns first. Spans are kept in memory
and written out with the result.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Span:
    __slots__ = ("id", "name", "layer", "parent", "start", "end",
                 "py4j", "job_lo", "job_hi", "read_bytes")

    def __init__(self, sid, name, layer, parent):
        self.id, self.name, self.layer, self.parent = sid, name, layer, parent
        self.start = self.end = 0.0
        self.py4j = self.read_bytes = 0
        self.job_lo = self.job_hi = 0

    def as_dict(self, t0: float) -> dict:
        return {
            "id": self.id, "name": self.name, "layer": self.layer,
            "parent": self.parent, "start_s": round(self.start - t0, 6),
            "end_s": round(self.end - t0, 6), "py4j_calls": self.py4j,
            "jobs": [self.job_lo, self.job_hi], "read_bytes": self.read_bytes,
        }


class Tracer:
    """One per run. ``enabled=False`` makes every method a no-op, so the
    workloads call it unconditionally."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self.phases_ms = {"analysis": 0.0, "optimization": 0.0,
                          "planning": 0.0}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._calls = 0
        self.own_s = 0.0  # time the tracer spends on its own bookkeeping
        self._undo = []
        self.t0 = time.perf_counter()
        if enabled:
            self._patch_py4j()
            self._patch_actions()

    # -- py4j ---------------------------------------------------------------

    def _patch_py4j(self):
        client = self.spark.sparkContext._gateway._gateway_client
        orig = client.send_command

        def send_command(*a, **kw):
            if not getattr(self._local, "quiet", False):
                with self._lock:
                    self._calls += 1
            return orig(*a, **kw)

        client.send_command = send_command
        self._undo.append(lambda: delattr(client, "send_command"))

    @contextmanager
    def quiet(self):
        """Round trips the tracer makes itself are not counted; their
        time is summed into ``own_s``."""
        prev = getattr(self._local, "quiet", False)
        self._local.quiet = True
        t = time.perf_counter()
        try:
            yield
        finally:
            self._local.quiet = prev
            if not prev:
                self.own_s += time.perf_counter() - t

    def jvm_read_bytes(self) -> int:
        """Bytes the driver JVM has read through read syscalls (rchar).
        Spark 4.1's own input metrics miss the parquet column-chunk
        reads, so scans are measured at the process boundary."""
        from pyspark import SparkContext

        with open(f"/proc/{SparkContext._gateway.proc.pid}/io") as f:
            for line in f:
                if line.startswith("rchar:"):
                    return int(line.split()[1])
        return 0

    def next_job_id(self) -> int:
        with self.quiet():
            # py4j hands the AtomicInteger back as its int value
            return int(self.spark.sparkContext._jsc.sc().dagScheduler()
                       .nextJobId())

    # -- Catalyst phases of collected DataFrames ---------------------------

    def _patch_actions(self):
        cls = type(self.spark.range(1))
        for name in ("collect", "toPandas"):
            orig = getattr(cls, name)

            def action(df, *a, _orig=orig, **kw):
                out = _orig(df, *a, **kw)
                self._add_phases(df)
                return out

            setattr(cls, name, action)
            self._undo.append(
                lambda n=name, o=orig: setattr(cls, n, o))

    def _add_phases(self, df):
        with self.quiet():
            phases = df._jdf.queryExecution().tracker().phases()
            for k in self.phases_ms:
                p = phases.get(k)
                if p.isDefined():
                    self.phases_ms[k] += p.get().durationMs()

    # -- spans ----------------------------------------------------------------

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        s = Span(len(self.spans), name, layer,
                 stack[-1].id if stack else None)
        self.spans.append(s)
        sc = self.spark.sparkContext
        with self.quiet():
            prev_group = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(f"{layer}:{name}", name)
        s.job_lo = self.next_job_id()
        c0, r0 = self._calls, self.jvm_read_bytes()
        stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            s.py4j = self._calls - c0
            s.read_bytes = self.jvm_read_bytes() - r0
            s.job_hi = self.next_job_id()
            with self.quiet():
                if prev_group is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(prev_group, prev_group)

    def wrap(self, owner, attr: str, layer: str, name: str | None = None):
        """Replace ``owner.attr`` (a function or method) by a spanned
        wrapper for the rest of the run."""
        if not self.enabled:
            return
        orig = owner.__dict__[attr] if isinstance(owner, type) \
            else getattr(owner, attr)
        label = name or attr

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with self.span(label, layer):
                return orig(*a, **kw)

        setattr(owner, attr, wrapper)
        self._undo.append(lambda: setattr(owner, attr, orig))

    def close(self):
        for undo in reversed(self._undo):
            undo()
        self._undo.clear()

    # -- codegen / status store ---------------------------------------------

    def codegen(self) -> tuple[int, float]:
        """(classes generated, total compile ms) since JVM start."""
        if not self.enabled:
            return 0, 0.0
        with self.quiet():
            cm = self.spark.sparkContext._jvm.org.apache.spark.metrics \
                .source.CodegenMetrics
            comp = cm.METRIC_COMPILATION_TIME()
            n = comp.getCount()
            mean = comp.getSnapshot().getMean()
            classes = cm.METRIC_GENERATED_CLASS_BYTECODE_SIZE().getCount()
        return classes, n * mean

    def jobs(self, lo: int, hi: int) -> dict[int, dict]:
        """Job id -> {wall_s, stages: [stage dict]} for ids in [lo, hi)."""
        out = {}
        if not self.enabled or hi <= lo:
            return out
        with self.quiet():
            jsc = self.spark.sparkContext._jsc.sc()
            jsc.listenerBus().waitUntilEmpty()
            store = jsc.statusStore()
            seen = set()
            for jid in range(lo, hi):
                try:
                    jd = store.job(jid)
                except Py4JJavaError:  # evicted or never started
                    continue
                sids = [int(x) for x in
                        str(jd.stageIds().mkString(",")).split(",") if x]
                stages = []
                for sid in sids:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    stages.append(_stage(store.lastStageAttempt(sid)))
                out[jid] = {"wall_s": _wall(jd), "stages": stages}
        return out


def _millis(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _wall(x) -> float:
    a, b = _millis(x.submissionTime()), _millis(x.completionTime())
    return b - a if a is not None and b is not None else 0.0


def _stage(st) -> dict:
    return {
        "tasks": st.numCompleteTasks(),
        "wall_s": _wall(st),
        "stage_run_s": st.executorRunTime() / 1000.0,
        "stage_cpu_s": st.executorCpuTime() / 1e9,
        "gc_s": st.jvmGcTime() / 1000.0,
        "input_bytes": st.inputBytes(),
        "shuffle_read_bytes": st.shuffleReadBytes(),
        "shuffle_write_bytes": st.shuffleWriteBytes(),
        "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
    }
