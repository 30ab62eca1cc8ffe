"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload dashboard --seeds 1-10 [--trace 0]

For every metric: the median of the runs and the distance between the
first and third quartile (``statistics.quantiles(values, n=4)``) as a share
of the median, next to the metric's bound from BENCHMARK.json. Runs go one
after another; each run's last stdout line is kept in the JSON summary
printed at the end.
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
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    runs = []
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        wall = time.perf_counter() - t0
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        res = json.loads(last) if p.returncode == 0 and last else None
        info = next((json.loads(line[5:]) for line in p.stderr.splitlines()
                     if line.startswith("info {")), None)
        runs.append({"seed": seed, "rc": p.returncode, "wall_s": round(wall, 1),
                     "result": res, "info": info})
        brief = {k: round(v["value"], 4) for k, v in (res or {}).get("metrics", {}).items()}
        print(f"seed {seed} rc {p.returncode} wall {wall:.1f}s "
              f"correct {(res or {}).get('correct')} {brief}", file=sys.stderr, flush=True)
    ok = [r["result"] for r in runs if r["result"]]
    summary = {}
    for name in (ok[0]["metrics"] if ok else {}):
        vals = [r["metrics"][name]["value"] for r in ok]
        summary[name] = {
            "median": statistics.median(vals),
            "iqr_share": spread(vals) if len(vals) >= 2 else None,
            "bound": bounds.get(name),
        }
    print(json.dumps({
        "workload": args.workload, "trace": args.trace, "runs": runs,
        "all_correct": all(r["result"] and r["result"]["correct"] for r in runs),
        "summary": summary,
    }, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
