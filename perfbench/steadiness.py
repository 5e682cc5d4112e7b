"""Steadiness proof: run the benchmark ten times on every workload of
``BENCHMARK.json``, with seeds 1 to 10, and report every end-to-end
metric's median, quartiles and spread (interquartile range over median)
against its bound, plus one traced run per workload and its tracing
overhead: the traced pass time minus the untraced runs' first timed pass
(their median, and the run with the same seed).

    python3 perfbench/steadiness.py [--out FILE]

Run from the root of a repo checkout. Writes ``perfbench/steadiness.json``
unless ``--out`` names another file.
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
SEEDS = range(1, 11)


def run_once(spec: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    result["wall_s"] = wall
    # "passes <n> <pass times...> steal_s <s>"; steal is CPU time the host
    # gave other guests while the passes ran
    for line in lines:
        if line.startswith("passes "):
            f = line.split()
            result["pass_times"] = [float(t) for t in f[2:-2]]
            result["steal_s"] = float(f[-1])
    return result


def summarize(values: list[float], bound: float | None) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    spread = (q3 - q1) / med if med else 0.0
    out = {"median": med, "q1": q1, "q3": q3, "spread": spread, "values": values}
    if bound is not None:
        out["bound"] = bound
        out["spread_within_third_of_bound"] = spread < bound / 3
    return out


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--out", default=os.path.join(HERE, "steadiness.json"))
    args = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {"run_seconds": spec["run_seconds"], "seeds": list(SEEDS), "workloads": {}}
    for w in (w["name"] for w in spec["workloads"]):
        results = []
        for seed in SEEDS:
            r = run_once(spec, w, seed, 0)
            results.append(r)
            print(f"{w} seed {seed}: wall {r['wall_s']:.1f}s steal {r['steal_s']:.2f}s " + " ".join(
                f"{n}={m['value']:.4g}" for n, m in r["metrics"].items()), flush=True)
        metrics = {
            n: summarize([r["metrics"][n]["value"] for r in results], bounds.get(n))
            for n in bounds
        }
        # same seed, so the same item order, as the first untraced run
        traced = run_once(spec, w, SEEDS[0], 1)
        traced_pass = traced["metrics"]["trace.pass_s"]["value"]
        # the traced pass stands where an untraced run's first timed pass does
        first = [r["pass_times"][0] for r in results]
        report["workloads"][w] = {
            "metrics": metrics,
            "run_wall_s": summarize([r["wall_s"] for r in results], None),
            "timed_steal_s": [r["steal_s"] for r in results],
            "all_correct": all(r["correct"] for r in results),
            "traced_run": {
                "wall_s": traced["wall_s"],
                "trace.pass_s": traced_pass,
                "overhead_s": traced_pass - statistics.median(first),
                "overhead_vs_same_seed_s": traced_pass - first[0],
                "per_layer": {n: m["value"] for n, m in traced["metrics"].items()},
            },
        }
        for n, m in metrics.items():
            print(f"{w} {n}: median {m['median']:.4g} q1 {m['q1']:.4g} q3 {m['q3']:.4g} "
                  f"spread {m['spread']:.4f} bound {m.get('bound')}", flush=True)
        print(f"{w} tracing overhead {traced_pass - statistics.median(first):+.3f}s", flush=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
