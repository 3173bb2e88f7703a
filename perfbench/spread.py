"""Run the benchmark over several seeds and report each metric's median,
quartiles and spread (interquartile distance over median) against the
bounds in BENCHMARK.json.

    python3 perfbench/spread.py --seeds 1-10 [--workloads a,b] [--trace 0]

Runs go one at a time, cycling through the workloads seed by seed so every
workload samples the same minutes of the box. Each run's result line is
appended to ``.perfbench/results/spread-<stamp>.jsonl``.
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


def seeds_arg(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args(argv)
    names = args.workloads.split(",")
    out_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(out_dir, exist_ok=True)
    log = os.path.join(out_dir, f"spread-{time.strftime('%Y%m%d-%H%M%S')}.jsonl")
    vals: dict[str, dict[str, list[float]]] = {n: {} for n in names}
    walls: dict[str, list[float]] = {n: [] for n in names}
    bad = 0
    for seed in args.seeds:
        for name in names:
            cmd = [*bench["command"], "--workload", name, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]),
                   "--trace", str(args.trace)]
            t = time.perf_counter()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            wall = time.perf_counter() - t
            walls[name].append(wall)
            last = p.stdout.strip().splitlines()[-1:] or ["{}"]
            res = json.loads(last[0]) if p.returncode == 0 else {}
            with open(log, "a") as f:
                f.write(json.dumps({"workload": name, "seed": seed,
                                    "rc": p.returncode, "wall_s": wall,
                                    "result": res}) + "\n")
            ok = p.returncode == 0 and res.get("correct")
            bad += not ok
            print(f"{name} seed={seed} rc={p.returncode} wall={wall:.1f}s"
                  f" correct={res.get('correct')}", flush=True)
            for k, m in res.get("metrics", {}).items():
                vals[name].setdefault(k, []).append(m["value"])
    bounds = {m["name"]: m.get("bound") for m in
              bench["end_to_end"] + bench["per_layer"]}
    print(f"\nlog: {log}")
    for name in names:
        print(f"\n{name}: {len(walls[name])} runs, wall median "
              f"{statistics.median(walls[name]):.1f}s max {max(walls[name]):.1f}s")
        for k, v in vals[name].items():
            if len(v) < 4:
                continue
            q1, med, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            b = bounds.get(k)
            flag = "" if b is None else (
                " ok" if spread <= b / 3 else " >1/3 bound" if spread <= b
                else " OVER BOUND")
            print(f"  {k:32s} median {med:14.4f}  q1 {q1:14.4f}  q3 {q3:14.4f}"
                  f"  spread {spread:7.4f}  bound {b}{flag}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
