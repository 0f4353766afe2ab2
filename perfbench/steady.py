"""Steadiness check: run one workload in two sets of runs and compare.

    python3 perfbench/steady.py --workload <name> [--seed0 100]

Run from the repository root. It makes ``SETS`` sets of ``RUNS`` runs,
each measuring ``run_seconds`` from ``BENCHMARK.json``; every run gets
its own seed (``seed0 + k``; the second set uses new seeds). For each end-to-end
metric it prints, per set, the median, the quartiles (Python's
``statistics.quantiles(values, n=4)``) and the spread ``(q3 - q1) /
median`` against the metric's bound from ``BENCHMARK.json``, then the
shift of the second set's median against the first. Runs are strictly
sequential: two Spark processes side by side would time each other.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import catalog  # noqa: E402

SETS = 2
RUNS = 10


def one_run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, capture_output=True, text=True)
    took = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else {}
    env = next((ln for ln in p.stderr.splitlines()
                if ln.startswith("environment: ")), "")
    return {"seed": seed, "code": p.returncode, "took_s": took,
            "result": res, "environment": env[len("environment: "):]}


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / statistics.median(values)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=catalog.WORKLOADS)
    ap.add_argument("--seed0", type=int, default=100)
    args = ap.parse_args(argv)
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    sets = []
    for s in range(SETS):
        runs = []
        for k in range(RUNS):
            r = one_run(args.workload, args.seed0 + s * RUNS + k, seconds, 0)
            runs.append(r)
            ok = r["code"] == 0 and r["result"].get("correct")
            vals = {n: round(m["value"], 4) for n, m in
                    r["result"].get("metrics", {}).items()}
            print(f"set {s} run {k} seed {r['seed']}: exit {r['code']} "
                  f"correct={ok} {r['took_s']:.1f}s {json.dumps(vals)}",
                  flush=True)
        sets.append(runs)
    if sets and sets[0]:
        print("environment of the first run: " + sets[0][0]["environment"])
    worst = 0.0
    for name in catalog.END_TO_END:
        meds = []
        for s, runs in enumerate(sets):
            vals = [r["result"]["metrics"][name]["value"] for r in runs
                    if r["result"].get("metrics")]
            if len(vals) < 2:
                continue
            med, q1, q3, sp = spread(vals)
            meds.append(med)
            flag = "" if name == "setup_s" or sp < bounds[name] / 3 else "  <-- spread >= bound/3"
            if name != "setup_s":
                worst = max(worst, sp / bounds[name])
            print(f"{name:16s} set {s}: median {med:.4f} q1 {q1:.4f} q3 {q3:.4f}"
                  f" spread {sp:.4f} bound {bounds[name]}{flag}")
        if len(meds) >= 2:
            shift = meds[1] / meds[0] - 1.0
            flag = "" if abs(shift) <= bounds[name] else "  <-- shift > bound"
            print(f"{name:16s} median shift set1/set0 {shift:+.4f}{flag}")
    took = [r["took_s"] for runs in sets for r in runs]
    print(f"run time: median {statistics.median(took):.1f}s max {max(took):.1f}s")
    print(f"worst spread as a share of its bound: {worst:.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
