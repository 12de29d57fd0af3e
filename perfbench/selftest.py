"""Self-test of the benchmark at tiny scale (about four minutes on four
cores).

    python3 perfbench/selftest.py

Checks that every workload runs with zero failed operations, that every
metric named in BENCHMARK.json is printed with its unit (end-to-end with
``--trace 0``, per-layer with ``--trace 1``), that every workload-named
figure is printed, and that a deliberately wrong expectation is counted
as a failed operation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = ["--seed", "7", "--seconds", "1"]


def bench(*args: str) -> tuple[dict, str]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args, *TINY],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if p.returncode != 0:
        raise AssertionError(f"run.py {args} exited {p.returncode}:\n"
                             f"{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), p.stdout


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    common = ["pass_s", "op_p50_ms", "items_per_s", "error_rate",
              "inputs_gen_s", "host_steal_pct"]
    named = {  # (trace 0, trace 1) figures printed by name
        "clips_suite": (["suite_s", "clips_per_s"],
                        ["clips_per_s_warm", "clips_per_s_1core",
                         "scaling_eff", "pair_passes"]),
        "headline_queries": (["headline_s", "doc_p50_ms", "doc_p90_ms",
                              "docs_per_s", "doc_samples"], []),
        "doc_calls": (["doc_p50_ms", "doc_p90_ms", "docs_per_s",
                       "doc_samples"], []),
    }
    small = {"clips_suite": ["--clips", "300"],
             "headline_queries": ["--queries", "ks_quantity,simhash"],
             "doc_calls": []}
    problems = []
    for wl, extra in small.items():
        for trace, want in (("0", e2e), ("1", layers)):
            res, out = bench("--workload", wl, "--trace", trace, *extra)
            if not res["correct"] or res["failed"]:
                problems.append(f"{wl} trace={trace}: {res['failed']} failed")
            for name, unit in want.items():
                got = res["metrics"].get(name)
                if got is None or got["unit"] != unit:
                    problems.append(f"{wl} trace={trace}: {name} [{unit}] "
                                    f"printed as {got}")
            for name in common + named[wl][int(trace)]:
                if f"metric {name} " not in out:
                    problems.append(f"{wl} trace={trace}: {name} not printed")
        res, _ = bench("--workload", wl, "--wrong-expectation", *extra)
        if res["correct"] or res["failed"] < 1:
            problems.append(f"{wl}: a wrong expectation was not counted")
    for p in problems:
        print("FAIL", p)
    print("selftest", "passed" if not problems else "FAILED")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
