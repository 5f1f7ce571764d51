"""Run the benchmark over several seeds and report each end-to-end
metric's median and quartile spread (IQR ÷ median), plus wall time.

    python3 kgbench/steadiness.py --seeds 10 [--workloads kg_crawl,curate_dedup]

Runs are sequential (one Spark at a time). Writes the raw results to
``.kgbench/steadiness.json``.
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


def spread(values: list[float]) -> tuple[float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else 0.0


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    args = ap.parse_args()
    out: dict = {}
    for wl in args.workloads.split(","):
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            t = time.monotonic()
            p = subprocess.run(
                [*bench["command"], "--workload", wl, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=900,
            )
            wall = time.monotonic() - t
            res = json.loads(p.stdout.strip().splitlines()[-1]) if p.returncode == 0 else None
            runs.append({"seed": seed, "wall_s": wall, "rc": p.returncode, "result": res})
            vals = {k: round(v["value"], 3) for k, v in (res or {}).get("metrics", {}).items()}
            print(f"{wl} seed {seed}: rc={p.returncode} wall={wall:.1f}s "
                  f"correct={res and res['correct']} {vals}", flush=True)
        out[wl] = runs
        ok = [r["result"] for r in runs if r["result"]]
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in ok]
            if len(vals) >= 2:
                med, sp = spread(vals)
                print(f"  {wl} {m['name']}: median {med:.4g} spread {sp:.3f} "
                      f"(bound {m['bound']})", flush=True)
        print(f"  {wl} wall: median {statistics.median(r['wall_s'] for r in runs):.1f}s "
              f"max {max(r['wall_s'] for r in runs):.1f}s", flush=True)
    os.makedirs(os.path.join(ROOT, ".kgbench"), exist_ok=True)
    with open(os.path.join(ROOT, ".kgbench", "steadiness.json"), "w") as f:
        json.dump(out, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
