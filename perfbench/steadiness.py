"""Run the benchmark on several seeds and report how much each
end-to-end metric spreads.

Usage (from the root of the repository):

    python3 perfbench/steadiness.py --seeds 1-10 [--workloads pipeline_batch ...]

Each run is ``perfbench/run.py`` with ``--trace 0`` and the
``run_seconds`` of BENCHMARK.json, one after another. For every workload
and metric it prints the median, the quartiles and the spread (the
distance between the quartiles over the median), next to the metric's
bound. Results are appended to ``.perfbench/steadiness.jsonl``.
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


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    args = ap.parse_args()
    log = os.path.join(ROOT, ".perfbench", "steadiness.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    for w in args.workloads:
        values: dict[str, list[float]] = {m: [] for m in bounds}
        for seed in seeds(args.seeds):
            t0 = time.perf_counter()
            out = subprocess.run(
                [*spec["command"], "--workload", w, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, check=True).stdout
            *_, context, last = out.strip().splitlines()
            result = json.loads(last)
            wall = time.perf_counter() - t0
            with open(log, "a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, "wall_s": wall,
                                    **json.loads(context), **result}) + "\n")
            for m in bounds:
                values[m].append(result["metrics"][m]["value"])
            print(f"{w} seed {seed}: {wall:.0f} s, correct={result['correct']}, "
                  + ", ".join(f"{m}={v[-1]:.4g}" for m, v in values.items()), flush=True)
        for m, v in values.items():
            q1, med, q3 = statistics.quantiles(v, n=4)
            print(f"{w:16s} {m:14s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
                  f"spread {(q3 - q1) / med:.3f}  bound {bounds[m]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
