"""Run the benchmark over several seeds and report, per workload and
end-to-end metric, the median, the quartiles and the spread (the distance
between the quartiles as a share of the median) next to the metric's bound.

    python3 perfbench/steadiness.py --seeds 1-10 [--workloads a,b] [--out FILE]

Each run is a separate process, as the benchmark is run for real.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(text: str) -> list[int]:
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(command, workload, seed, seconds, trace) -> dict:
    started = time.perf_counter()
    proc = subprocess.run(
        command + ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                   "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    elapsed = time.perf_counter() - started
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-4000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result["run_s"] = elapsed
    return result


def summarize(values: list[float]) -> dict:
    if len(values) < 2:
        return {"median": values[0], "q1": values[0], "q3": values[0], "spread": 0.0,
                "values": values}
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "values": values}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    parser = argparse.ArgumentParser()
    parser.add_argument("--seeds", default="1-10")
    parser.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    parser.add_argument("--trace", type=int, default=0)
    parser.add_argument("--out", default=None, help="JSON file for the full record")
    args = parser.parse_args()

    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    record: dict = {}
    for workload in args.workloads.split(","):
        runs = []
        for seed in parse_seeds(args.seeds):
            result = run_once(spec["command"], workload, seed, spec["run_seconds"], args.trace)
            if not result["correct"] or result["failed"]:
                raise RuntimeError(f"{workload} seed {seed}: outputs incorrect: {result}")
            runs.append(result)
            print(f"{workload} seed {seed}: {result['run_s']:.1f}s "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
                  flush=True)
        metrics = {
            name: summarize([r["metrics"][name]["value"] for r in runs])
            for name in runs[0]["metrics"]
        }
        record[workload] = {"run_s": summarize([r["run_s"] for r in runs]), "metrics": metrics}
        for name, s in metrics.items():
            bound = bounds.get(name)
            flag = "" if bound is None or s["spread"] < bound / 3 else "  <-- spread >= bound/3"
            print(f"  {workload} {name}: median {s['median']:.4g} q1 {s['q1']:.4g} "
                  f"q3 {s['q3']:.4g} spread {s['spread']:.3f} bound {bound}{flag}", flush=True)
        print(f"  {workload} run_s median {record[workload]['run_s']['median']:.1f}", flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(record, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
