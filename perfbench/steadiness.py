"""Run the benchmark several times per workload (one seed per run) and print,
for every end-to-end metric, its median and its spread: the distance between
the first and third quartiles (statistics.quantiles, n=4) as a share of the
median, next to the metric's bound from BENCHMARK.json.

    python3 perfbench/steadiness.py [--runs 10] [workload ...]

Run i uses seed i + 1. Each run is a separate process, exactly as the
benchmark is driven. Every bounded metric, setup_s too, fails the check when
its spread exceeds its bound. The raw result lines are appended to
.perfbench_out/steadiness.jsonl.
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
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    ok = True
    for wl in args.workloads:
        values: dict[str, list[float]] = {}
        walls = []
        for i in range(args.runs):
            seed = i + 1
            cmd = bench["command"] + ["--workload", wl, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            t0 = time.time()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            walls.append(time.time() - t0)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            try:
                res = json.loads(last)
            except json.JSONDecodeError:
                print(f"{wl} seed {seed}: no result (exit {p.returncode})\n{p.stderr[-600:]}")
                ok = False
                continue
            notes = [ln for ln in p.stdout.splitlines() if ln.startswith("# ")]
            with open(os.path.join(out_dir, "steadiness.jsonl"), "a") as f:
                f.write(json.dumps({"workload": wl, "seed": seed, "wall": walls[-1],
                                    "notes": notes, **res}) + "\n")
            if not res["correct"]:
                ok = False
                print(f"{wl} seed {seed}: INCORRECT {res['failed']}/{res['attempted']} failed")
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
        print(f"== {wl}: {len(walls)} runs, process wall median {statistics.median(walls):.1f} s"
              f" max {max(walls):.1f} s")
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            b = bounds.get(k)
            flag = "" if b is None or spread <= b / 3 else \
                ("  <-- above bound/3" if spread <= b else "  <-- ABOVE BOUND")
            ok &= b is None or spread <= b
            print(f"  {k:<14} median {med:>14.4f}  spread {spread:7.2%}  bound {b}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
