"""Steadiness check: run each workload repeatedly, alternating between
workloads, and print each metric's median, quartiles, quartile spread
(as a share of the median) and max/min ratio.

    python3 joinbench/steady.py --runs 10 --first-seed 1 --label setA

Run from the repository root.  Runs go one after another, never
concurrently.  Results, with every run's reference record, are saved to
joinbench/_steady/<label>.json; the bounds in BENCHMARK.json are
derived from this output.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t = time.perf_counter()
    p = subprocess.run(cmd, cwd=HERE.parent, capture_output=True, text=True,
                       timeout=600)
    wall = time.perf_counter() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    ref = next((json.loads(x.split(" ", 1)[1]) for x in lines
                if x.startswith("reference ")), {})
    return {"workload": workload, "seed": seed, "wall_s": wall,
            "reference": ref, "result": json.loads(lines[-1])}


def summarize(runs: list[dict]) -> dict:
    out: dict = {}
    for r in runs:
        for name, m in r["result"]["metrics"].items():
            out.setdefault(r["workload"], {}).setdefault(name, []).append(
                m["value"])
    table = {}
    for wl, metrics in out.items():
        for name, vals in metrics.items():
            med = statistics.median(vals)
            if len(vals) >= 2:
                q1, _, q3 = statistics.quantiles(vals, n=4)
            else:
                q1 = q3 = vals[0]
            lo = min(vals)
            table.setdefault(wl, {})[name] = {
                "n": len(vals), "median": med, "q1": q1, "q3": q3,
                "spread": (q3 - q1) / med if med else 0.0,
                "max_over_min": max(vals) / lo if lo else float("inf"),
                "values": vals}
    return table


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None,
                    help="defaults to run_seconds in BENCHMARK.json")
    ap.add_argument("--label", default="steady")
    args = ap.parse_args()
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    seconds = args.seconds or spec["run_seconds"]
    workloads = [w["name"] for w in spec["workloads"]]
    runs = []
    for i in range(args.runs):
        for wl in workloads:
            r = one_run(wl, args.first_seed + i, seconds)
            runs.append(r)
            metrics = ", ".join(
                f"{k} {m['value']:.4g}"
                for k, m in r["result"]["metrics"].items())
            print(f"{wl} seed {r['seed']}: {r['wall_s']:.1f} s wall, "
                  f"attempted {r['result']['attempted']}, failed "
                  f"{r['result']['failed']}, correct "
                  f"{r['result']['correct']}; {metrics}", flush=True)
    table = summarize(runs)
    for wl, metrics in table.items():
        print(f"\n{wl}")
        for name, s in metrics.items():
            print(f"  {name:30s} median {s['median']:14.4f}  "
                  f"q1 {s['q1']:14.4f}  q3 {s['q3']:14.4f}  "
                  f"spread {s['spread']:.4f}  max/min "
                  f"{s['max_over_min']:.4f}")
    out = HERE / "_steady"
    out.mkdir(exist_ok=True)
    (out / f"{args.label}.json").write_text(json.dumps(
        {"seconds": seconds, "runs": runs,
         "summary": table}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
