"""Run the benchmark on several seeds and record each end-to-end metric's
spread (interquartile range over median), with the 1-minute load average
beside every run.

    python3 perfbench/steadiness.py --workloads glm_fits dedup_ingest --seeds 10 --out perfbench/steadiness.json
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", type=Path, required=True)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    record = {"run_seconds": spec["run_seconds"], "workloads": {}}
    for wl in args.workloads:
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            before, t0 = load1(), time.monotonic()
            out = subprocess.run(
                [*spec["command"], "--workload", wl, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600,
            )
            result = json.loads(out.stdout.strip().splitlines()[-1])
            runs.append({"seed": seed, "load1_before": before, "load1_after": load1(),
                         "run_s": time.monotonic() - t0, "correct": result["correct"],
                         "failed": result["failed"],
                         "metrics": {k: v["value"] for k, v in result["metrics"].items()}})
            print(wl, seed, json.dumps(runs[-1]), flush=True)
        spread = {}
        for m in runs[0]["metrics"]:
            vals = [r["metrics"][m] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread[m] = {"median": med, "q1": q1, "q3": q3, "iqr_over_median": (q3 - q1) / med}
        record["workloads"][wl] = {"runs": runs, "spread": spread}
        for m, s in spread.items():
            print(f"{wl} {m}: median {s['median']:.4g}, IQR/median {s['iqr_over_median']:.3f}", flush=True)
    args.out.write_text(json.dumps(record, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
