"""Benchmark of record for voluptuous_spark.

    python3 perfbench/run.py --workload clips_suite --seed 1 --seconds 5 --trace 0

Workloads: clips_suite, headline_queries, doc_calls, or ``all`` (the
three in turn). ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer metrics of a traced run. Human-readable lines go first; the
last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. Each run also writes
its full record (host fingerprint, every pass, spans when traced) to
``perfbench/.work/results/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# figures besides BENCHMARK.json's metrics (whose units are read from
# it), printed for humans and kept in the record
NAMED_UNITS = {
    "pass_s": "s", "op_p50_ms": "ms", "items_per_s": "1/s",
    "suite_s": "s", "clips_per_s": "1/s", "clips_per_s_warm": "1/s",
    "clips_per_s_1core": "1/s",
    "scaling_eff": "ratio", "headline_s": "s", "doc_p50_ms": "ms",
    "doc_p90_ms": "ms", "docs_per_s": "1/s", "doc_samples": "count",
    "error_rate": "ratio", "inputs_gen_s": "s", "host_steal_pct": "%",
    "pair_passes": "count",
}


def load_spec() -> tuple[dict, dict]:
    """({end-to-end metric: unit}, {per-layer metric: unit}) from
    BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--clips", type=int, default=None,
                   help="clips_suite table size (default: workloads.CLIPS)")
    p.add_argument("--queries", default=None,
                   help="comma list for headline_queries, or 'all' "
                        "(default: workloads.HEADLINE_QUERIES)")
    p.add_argument("--wrong-expectation", action="store_true",
                   help="self-test: perturb one expected value per check")
    return p.parse_args(argv)


def program_present() -> bool:
    return all(os.path.isfile(os.path.join(ROOT, f)) for f in
               ("voluptuous_spark/__init__.py", "__spark_entry__.py",
                "tools/check_oracles.py"))


def run_one(name: str, args, env: dict, units: tuple[dict, dict]) -> dict:
    import hostenv
    import workloads as wl

    cpus = hostenv.nproc()
    spark, start_s, warmup_s = wl.start_session(cpus)
    fp = hostenv.fingerprint(spark, env)
    run = wl.Run(spark, args.seed, args.seconds, WORK, bool(args.trace), cpus)
    run.run_layers.update({"session.start_s": start_s,
                           "session.warmup_s": warmup_s})
    if args.wrong_expectation:
        _perturb_expectations(wl)
    fn = wl.WORKLOADS[name]
    try:
        if name == "clips_suite" and args.clips:
            fn(run, args.clips)
        elif name == "headline_queries" and args.queries:
            fn(run, tuple(args.queries.split(",")))
        else:
            fn(run)
    finally:
        run.tracer.close()
        wl.stop_session(run.spark, keep_jvm=False)

    e2e = run.end_to_end()
    failed = run.failed
    e2e_units, layer_units = units
    metrics = {"setup_s": start_s + warmup_s,
               "pass_cpu_s": e2e["pass_cpu_s"], "peak_rss_mb": run.rss_mb}
    assert set(metrics) == set(e2e_units), "BENCHMARK.json out of date"
    named = {"pass_s": e2e["pass_s"], "op_p50_ms": e2e["op_p50_ms"],
             "items_per_s": e2e["items_per_s"], **run.extra,
             "host_steal_pct": e2e["host_steal_pct"]}
    named["error_rate"] = failed / run.attempted
    named["inputs_gen_s"] = run.run_layers.get("inputs.gen_s", 0.0)
    layers = run.per_layer() if args.trace else {}
    record = {
        "workload": name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": fp, "attempted": run.attempted,
        "failed": failed, "failures": run.failures[:50],
        "end_to_end": metrics, "named": named, "per_layer": layers,
        "passes": [{k: v for k, v in p.items() if k != "layers"}
                   for p in run.passes],
        "spans": [s.as_dict(run.tracer.t0) for s in run.tracer.spans],
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    out = os.path.join(
        WORK, "results", f"{name}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1, default=str)

    print(f"== {name} seed={args.seed} trace={args.trace} "
          f"ops={run.attempted} failed={failed} record={out}")
    print("host " + json.dumps(fp, sort_keys=True))
    for why in run.failures[:10]:
        print(f"FAILED {why}")
    for k, v in metrics.items():
        print(f"metric {k} {v:.6g} {e2e_units[k]}")
    for k, v in named.items():
        print(f"metric {k} {v:.6g} {NAMED_UNITS[k]}")
    for k, v in layers.items():
        # build times of queries run beyond the listed ones are seconds
        print(f"layer {k} {v:.6g} {layer_units.get(k, 's')}")
    if args.trace:
        shown = {k: {"value": layers.get(k, 0.0), "unit": u}
                 for k, u in layer_units.items()}
    else:
        shown = {k: {"value": metrics[k], "unit": u}
                 for k, u in e2e_units.items()}
    return {"correct": failed == 0, "attempted": run.attempted,
            "failed": failed, "metrics": shown}


def _perturb_expectations(wl) -> None:
    """Self-test hook: every check compares against one wrong value."""
    import docs
    import expect

    clips_expected = expect.clips_expected
    expect.clips_expected = lambda n, s: {
        **clips_expected(n, s), "rows": n + 1}
    check = expect.QueryOracle.check
    expect.QueryOracle.check = lambda self, q, pdf: check(
        self, q, pdf.iloc[1:])
    make_docs = docs.make_docs
    docs.make_docs = lambda seed: [
        (n, d, ("ok", {"wrong": True}) if i == 0 else want)
        for i, (n, d, want) in enumerate(make_docs(seed))]


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    names = (["clips_suite", "headline_queries", "doc_calls"]
             if args.workload == "all" else [args.workload])
    if not program_present():
        print(f"perfbench: the program (voluptuous_spark, __spark_entry__.py, "
              f"tools/check_oracles.py) is not under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import hostenv
    import workloads as wl

    unknown = [n for n in names if n not in wl.WORKLOADS]
    if unknown:
        print(f"perfbench: unknown workload {unknown}", file=sys.stderr)
        return 2
    env = hostenv.configure(ROOT, WORK)
    units = load_spec()
    results = {}
    for name in names:
        t0 = time.perf_counter()
        try:
            results[name] = run_one(name, args, env, units)
        except Exception:
            traceback.print_exc()
            print(f"perfbench: {name} raised; no result", file=sys.stderr)
            return 1
        print(f"== {name} took {time.perf_counter() - t0:.1f} s")
    if len(results) == 1:
        final = results[names[0]]
    else:
        final = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{n}.{k}": v for n, r in results.items()
                        for k, v in r["metrics"].items()},
        }
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())
