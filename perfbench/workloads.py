"""The three workloads, driven through the package's public API from one
client thread (closed loop: the next operation starts when the previous
one has returned).

A workload is a ``pass`` (one unit of work: ``SUITE_RUNS`` suite runs,
one sweep of the query set, one sweep of the document set), an optional
warm-up, and a check of every pass's outputs made outside the timed
region. The loop
repeats whole passes until ``--seconds`` have been measured.
"""

from __future__ import annotations

import os
import statistics
import time

import expect
import inputs
from tracer import Tracer

# The status store must keep every job of a traced pass.
SPARK_CONF = {
    "spark.ui.enabled": "false",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
}

# Four of the ROADMAP's seven build-heavy queries, one per kind of
# eager driver work: exact KS with its sample and offsets jobs (checks,
# partitioning), checkpoint/resume (schema build and the write path),
# MinHash + connected-component rounds (textops, graph), IVF centroids
# and top-k (similarity). ``--queries`` runs any set, ``--queries all``
# all 54.
HEADLINE_QUERIES = ("ks_quantity", "checkpoint_resume", "dedup_clusters",
                    "ivf_topk")
# the repo's test data at scale 0.001, copied byte for byte
TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "testdata", "sf0.001")
# per-layer figures measured once per run rather than per pass
RUN_LAYERS = ("session.start_s", "session.warmup_s", "inputs.gen_s",
              "suite.clips_per_s_warm", "suite.clips_per_s_1core",
              "suite.scaling_eff")
CHECKS_FUNCS = ("uniqueness_report", "column_stats", "psi_report",
                "ks_statistic")


# -- session ----------------------------------------------------------------

def start_session(cpus: int):
    """get_spark at local[cpus], then one small JVM job (first job: task
    threads, codegen). Neither listed workload runs Python workers, so
    none are started. Returns (spark, start_s, warmup_s)."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    from voluptuous_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=SPARK_CONF)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    spark.range(0, 4096, numPartitions=cpus).selectExpr("sum(id)").collect()
    return spark, t1 - t0, time.perf_counter() - t1


def stop_session(spark, keep_jvm: bool) -> None:
    """Stop the context; unless ``keep_jvm``, end the JVM and wait."""
    from pyspark import SparkContext

    spark.stop()
    if keep_jvm:
        return
    gw = SparkContext._gateway
    gw.close()
    gw.proc.stdin.close()  # the gateway JVM exits when its stdin closes
    gw.proc.wait(60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def cpu_s() -> float:
    """CPU seconds (user + system) used so far by the driver JVM and this
    Python process. Time the host steals from the VM is not counted, so
    this is steadier than wall time on a shared host."""
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    ticks = os.sysconf("SC_CLK_TCK")
    t = os.times()
    return (int(fields[11]) + int(fields[12])) / ticks + t.user + t.system


def host_steal() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def _status_kb(pid, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key):
                return int(line.split()[1])
    return 0


def peak_rss_mb() -> float:
    """Peak resident set of the driver JVM plus this Python process's
    resident set now. Taken when a pass ends, before its outputs are
    checked: the client's own peak would count the benchmark's input
    generation and DuckDB oracles."""
    from pyspark import SparkContext

    jvm_kb = _status_kb(SparkContext._gateway.proc.pid, "VmHWM:")
    return (jvm_kb + _status_kb("self", "VmRSS:")) / 1024.0


# -- measurement ------------------------------------------------------------

class Run:
    """State of one benchmark run: session, tracer, counters."""

    def __init__(self, spark, seed, seconds, work, trace, cpus):
        self.spark, self.seed, self.seconds = spark, seed, seconds
        self.work, self.cpus = work, cpus
        self.cache = os.path.join(work, "inputs")
        os.makedirs(self.cache, exist_ok=True)
        self.tracer = Tracer(spark, trace)
        self.table_bytes = 0        # clips table on disk, for scan ratios
        self.attempted = 0
        self.failed = 0             # operations with at least one problem
        self.failures: list[str] = []
        self.passes: list[dict] = []
        self.extra: dict = {}      # named end-to-end figures
        self.rss_mb = 0.0           # peak_rss_mb over the passes
        self.run_layers: dict = {}  # per-layer figures measured once

    def record(self, n_ops: int, problems: list[str]) -> None:
        """Count ``n_ops`` operations and the failed ones. A check lists
        one problem per failed operation, or every problem of its one
        operation (the clips suite's mismatched counts)."""
        self.attempted += n_ops
        self.failed += min(n_ops, len(problems))
        self.failures.extend(problems)

    def measure(self, one_pass, check, items: int):
        """``one_pass()`` -> (outputs, op latencies s); ``check(outputs)``
        -> list of problems. Repeats passes for ``seconds``; the first
        starts cold, as a batch job in a fresh session does."""
        tr = self.tracer
        t_start = time.perf_counter()
        while True:
            job_lo = tr.next_job_id() if tr.enabled else 0
            span0, own0, ph0 = len(tr.spans), tr.own_s, dict(tr.phases_ms)
            cg0 = tr.codegen()
            rb0 = tr.jvm_read_bytes() if tr.enabled else 0
            st0, c0 = host_steal(), cpu_s()
            t0 = time.perf_counter()
            out, lat = one_pass()
            wall = time.perf_counter() - t0
            c1, st1 = cpu_s(), host_steal()
            own = tr.own_s - own0
            p = {"wall_s": wall, "cpu_s": c1 - c0, "op_s": lat,
                 "items": items, "steal": (st1[0] - st0[0], st1[1] - st0[1])}
            if tr.enabled:
                cg1 = tr.codegen()
                p["layers"] = layer_metrics(
                    tr.spans[span0:], tr.jobs(job_lo, tr.next_job_id()),
                    {k: tr.phases_ms[k] - ph0[k] for k in ph0},
                    (cg1[0] - cg0[0], cg1[1] - cg0[1]),
                    tr.jvm_read_bytes() - rb0, own, wall, self.table_bytes)
            self.passes.append(p)
            self.rss_mb = max(self.rss_mb, peak_rss_mb())
            self.record(len(lat), check(out))
            if time.perf_counter() - t_start >= self.seconds:
                break

    def end_to_end(self) -> dict:
        walls = [p["wall_s"] for p in self.passes]
        ops = [x for p in self.passes for x in p["op_s"]]
        items = sum(p["items"] for p in self.passes)
        steal = [sum(p["steal"][i] for p in self.passes) for i in (0, 1)]
        return {
            "pass_s": statistics.median(walls),
            "pass_cpu_s": statistics.median(p["cpu_s"] for p in self.passes),
            "op_p50_ms": 1000 * statistics.median(ops),
            "items_per_s": items / sum(walls),
            "host_steal_pct": 100 * steal[0] / max(1, steal[1]),
        }

    def per_layer(self) -> dict:
        """Per-pass figures (median over passes), then the run-level ones;
        a layer a workload does not exercise reads 0."""
        keys = self.passes[0].get("layers", {})
        med = {k: statistics.median(p["layers"][k] for p in self.passes)
               for k in keys}
        med.update(dict.fromkeys(RUN_LAYERS, 0.0))
        med.update(self.run_layers)
        return med


def layer_metrics(spans, jobs, phases, codegen, read_bytes, own_s, wall,
                  table_bytes):
    """Per-layer figures of one traced pass. A layer's time is the wall
    of its outermost spans; its jobs are those submitted inside them.
    ``read_bytes`` is what the driver JVM read during the pass."""
    by_id = {s.id: s for s in spans}

    def top(layer, name=None):
        out = []
        for s in spans:
            if s.layer != layer or (name and s.name != name):
                continue
            p = by_id.get(s.parent)
            while p is not None and p.layer != layer:
                p = by_id.get(p.parent)
            if p is None:
                out.append(s)
        return out

    def wall_of(ss):
        return sum(s.end - s.start for s in ss)

    def job_ids(ss):
        return sorted({j for s in ss for j in range(s.job_lo, s.job_hi)
                       if j in jobs})

    def stages(ids):
        return [st for j in ids for st in jobs[j]["stages"]]

    schema = top("schema")
    schema_jobs = job_ids(schema)
    suite_build = top("suite", "run_suite")
    checks = top("checks")
    entry = top("entry")
    every = stages(sorted(jobs))
    m = {
        "schema.build_s": wall_of(schema)
        - sum(jobs[j]["wall_s"] for j in schema_jobs),
        "schema.py4j_calls": sum(s.py4j for s in schema),
        "suite.build_s": wall_of(suite_build),
        "suite.py4j_calls": sum(s.py4j for s in suite_build),
        "suite.eager_jobs": len(job_ids(suite_build)),
        # the suite scans the source once, in the stage that decodes the
        # audio and fills the cache: the longest stage of the pass
        "suite.persist_s": max((st["wall_s"] for st in every), default=0.0)
        if table_bytes else 0.0,
        "suite.outputs_s": wall_of(top("suite", "outputs")),
        "suite.scan_amplification": read_bytes / table_bytes
        if table_bytes else 0.0,
        "checks.eager_jobs": len(job_ids(checks)),
        "checks.eager_s": wall_of(checks),
        "checks.eager_input_bytes": sum(s.read_bytes for s in checks),
        "entry.build_s": wall_of(entry),
        "entry.exec_s": wall_of(top("result")),
        "entry.eager_jobs": len(job_ids(entry)),
        "entry.py4j_calls": sum(s.py4j for s in entry),
    }
    for q in dict.fromkeys(s.name for s in entry):
        m[f"{q}.build_s"] = wall_of(top("entry", q))
    m.update({
        "spark.analysis_ms": phases["analysis"],
        "spark.optimization_ms": phases["optimization"],
        "spark.planning_ms": phases["planning"],
        "spark.codegen_classes": codegen[0],
        "spark.codegen_ms": codegen[1],
        "spark.jobs": len(jobs),
        "spark.tasks": sum(st["tasks"] for st in every),
    })
    for k in ("stage_run_s", "stage_cpu_s", "gc_s", "input_bytes",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{k}"] = sum(st[k] for st in every)
    m["spark.read_bytes"] = read_bytes
    m["trace.overhead_ms"] = 1000 * own_s
    m["trace.pass_s"] = wall
    return m


def wrap_layers(run: Run) -> None:
    """Span the package's public entry points (trace mode only)."""
    if not run.tracer.enabled:
        return
    import voluptuous_spark.audio as audio
    import voluptuous_spark.checks as checks
    import voluptuous_spark.checkpoint as checkpoint
    import voluptuous_spark.graph as graph
    import voluptuous_spark.similarity as similarity
    import voluptuous_spark.suite as suite
    import voluptuous_spark.textops as textops
    from voluptuous_spark.schema import Schema

    w = run.tracer.wrap
    w(Schema, "validate", "schema")
    w(Schema, "__call__", "schema")
    w(suite, "run_suite", "suite")
    w(audio, "pcm_check_expr", "audio")
    w(checkpoint.CheckpointedValidation, "run", "checkpoint")
    w(graph, "duplicate_clusters", "graph")
    w(textops, "minhash_lsh_candidates", "textops")
    w(textops, "simhash", "textops")
    for name in ("ivf_centroids", "ivf_topk", "semantic_duplicates"):
        w(similarity, name, "similarity")
    import __spark_entry__

    mods = [suite, checks, __spark_entry__]
    for fn in CHECKS_FUNCS:
        orig = getattr(checks, fn)
        for mod in mods:
            if getattr(mod, fn, None) is orig:
                w(mod, fn, "checks", fn)


# -- workloads --------------------------------------------------------------

CLIPS = 800          # 1-3 s clips, ~75 MB of parquet
# Suite runs per pass: the first is cold (~12 s on a 4-core VM), the
# rest warm (~6 s). With two or three runs a pass's CPU time spread by
# ~0.1 (quartile distance / median) over five seeds, with five by 0.01:
# a longer pass averages the host's second-to-second speed changes.
SUITE_RUNS = 5
# suite runs per pass of the traced N -> 4N pair (keeps a traced run
# near 75 s)
PAIR_RUNS = 1


def clips_suite(run: Run, n_clips: int = CLIPS) -> None:
    """run_suite(clips, transcripts) + counts() + violations over a
    seeded datasynth table at local[nproc]; traced runs then time the
    N -> 4N pair on the same JVM: local[nproc], local[1], local[nproc]."""
    import voluptuous_spark.suite as suite

    path, gen_s = inputs.clips(run.cache, n_clips, run.seed,
                               files=2 * run.cpus)
    run.run_layers["inputs.gen_s"] = gen_s
    # what a pass must read: the table once per suite run
    run.table_bytes = SUITE_RUNS * inputs.dir_bytes(f"{path}/clips.parquet")
    want = expect.clips_expected(n_clips, run.seed)
    tr = run.tracer

    def one_pass(runs=SUITE_RUNS):
        spark = run.spark
        gots, lat = [], []
        for _ in range(runs):
            clips = spark.read.parquet(f"{path}/clips.parquet")
            tr_df = spark.read.parquet(f"{path}/transcripts.parquet")
            t0 = time.perf_counter()
            res = suite.run_suite(clips, tr_df)
            with tr.span("outputs", "suite"):
                got = res.counts()
                got["violation_rows"] = res.violations.count()
            lat.append(time.perf_counter() - t0)
            res.unpersist()
            gots.append(got)
        return gots, lat

    def check(gots):
        out = []
        for got in gots:
            bad = [f"{k} = {got.get(k)}, expected {v}"
                   for k, v in want.items() if got.get(k) != v]
            if bad:
                out.append("clips_suite: " + "; ".join(bad))
        return out

    wrap_layers(run)
    run.measure(one_pass, check, SUITE_RUNS * n_clips)
    e2e = run.end_to_end()
    run.extra.update({"suite_s": e2e["pass_s"] / SUITE_RUNS,
                      "clips_per_s": e2e["items_per_s"]})
    if not tr.enabled:
        return

    cores_now = [run.cpus]

    def timed_pass(cores):
        if cores != cores_now[0]:
            stop_session(run.spark, keep_jvm=True)
            run.spark, _, _ = start_session(cores)
            tr.spark = run.spark
            cores_now[0] = cores
        t0 = time.perf_counter()
        gots, lat = one_pass(PAIR_RUNS)
        run.record(len(lat), check(gots))
        return PAIR_RUNS * n_clips / (time.perf_counter() - t0)

    # The pair is taken on the warm JVM, which is still compiling, so the
    # local[1] pass sits between two local[nproc] passes and is compared
    # with their mean: both sides get the same warm-up on average.
    many = [timed_pass(run.cpus)]
    one_core = timed_pass(1)
    many.append(timed_pass(run.cpus))
    warm = statistics.mean(many)
    eff = warm / one_core / run.cpus
    run.extra.update({"clips_per_s_warm": warm,
                      "clips_per_s_1core": one_core, "scaling_eff": eff,
                      "pair_passes": len(many) + 1})
    run.run_layers.update({"suite.clips_per_s_warm": warm,
                           "suite.clips_per_s_1core": one_core,
                           "suite.scaling_eff": eff})


def headline_queries(run: Run, names=HEADLINE_QUERIES) -> None:
    """The build-heavy ``__spark_entry__`` queries over the repo's test
    data at scale 0.001, each collected with toPandas and checked against
    its DuckDB oracle, then the single-document calls of ``doc_calls``.
    Both are driver work on near-empty data. The tables are fixed; the
    seed draws the documents."""
    import __spark_entry__ as entry

    if names == ("all",):
        names = tuple(entry.queries())
    tdir = TABLES_DIR
    if not os.path.isfile(os.path.join(tdir, "lineitem.parquet")):
        raise FileNotFoundError(f"query tables missing: {tdir}")
    fns = entry.queries()
    oracle = expect.QueryOracle(tdir, entry.oracle_sql(),
                                os.path.join(run.work, "oracle"))
    calls = DocCalls(run.seed)
    tr = run.tracer
    query_walls = []

    def one_pass():
        outs, lat = {}, []
        for q in names:
            t0 = time.perf_counter()
            with tr.span(q, "entry"):
                df = fns[q](run.spark, tdir)
            with tr.span(q, "result"):
                outs[q] = df.toPandas()
            lat.append(time.perf_counter() - t0)
        query_walls.append(sum(lat))
        doc_outs, doc_lat = calls.call_all()
        return (outs, doc_outs), lat + doc_lat

    def check(outs):
        return [why for q, pdf in outs[0].items()
                if (why := oracle.check(q, pdf))] + calls.check(outs[1])

    wrap_layers(run)
    run.measure(one_pass, check, len(names) + len(calls.cases))
    run.extra["headline_s"] = statistics.median(query_walls)
    run.extra.update(calls.figures())


class DocCalls:
    """Single-document Schema.__call__ over CLIPS_SCHEMA and a nested Any
    schema, one injected fault per document (docs.py)."""

    def __init__(self, seed: int):
        import docs
        from voluptuous_spark.suite import CLIPS_SCHEMA

        self.schemas = {"clips": CLIPS_SCHEMA, "any": docs.any_schema()}
        self.cases = docs.make_docs(seed)
        self.lat: list[float] = []  # every measured call, s

    def call_all(self):
        """Call each document once -> (outcomes, latencies s)."""
        import docs

        outs, lat = [], []
        for name, doc, _ in self.cases:
            t0 = time.perf_counter()
            outs.append(docs.outcome(self.schemas[name], doc))
            lat.append(time.perf_counter() - t0)
        self.lat.extend(lat)
        return outs, lat

    def check(self, outs) -> list[str]:
        return [f"doc_calls: {doc} -> {got}, expected {want}"
                for (_, doc, want), got in zip(self.cases, outs)
                if got != want]

    def figures(self) -> dict:
        ops = sorted(self.lat)
        return {
            "doc_p50_ms": 1000 * statistics.median(ops),
            "doc_p90_ms": 1000 * statistics.quantiles(ops, n=10)[-1]
            if len(ops) > 1 else 1000 * ops[0],
            "docs_per_s": len(ops) / sum(ops),
            "doc_samples": len(ops),
        }


def doc_calls(run: Run) -> None:
    """The single-document calls alone, after one untimed call per
    schema (the first compiles its plan)."""
    import docs

    calls = DocCalls(run.seed)
    wrap_layers(run)
    for name, schema in calls.schemas.items():
        docs.outcome(schema, next(d for n, d, _ in calls.cases if n == name))
    run.measure(calls.call_all, calls.check, len(calls.cases))
    run.extra.update(calls.figures())


WORKLOADS = {
    "clips_suite": clips_suite,
    "headline_queries": headline_queries,
    "doc_calls": doc_calls,
}
