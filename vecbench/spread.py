#!/usr/bin/env python3
"""Run one workload under several seeds and report each metric's spread.

    python3 vecbench/spread.py --workload sql-topk-bycell --seeds 1-10 --seconds 18

For every metric of the result line it prints the median, the first and
third quartiles (statistics.quantiles(values, n=4)) and the spread, the
quartile distance as a share of the median. With --out it also writes
that record, the host's nproc and the 1-minute load average before each
run as JSON.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "values": values}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()

    runs, metrics, units = [], {}, {}
    for seed in seeds(a.seeds):
        load1 = os.getloadavg()[0]
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(a.seconds), "--trace", str(a.trace)],
            cwd=ROOT, capture_output=True, text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode != 0 or not last.startswith("{"):
            sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
            sys.exit(f"seed {seed}: run failed (exit {p.returncode})")
        res = json.loads(last)
        runs.append({"seed": seed, "load1_before": load1, "correct": res["correct"],
                     "attempted": res["attempted"], "failed": res["failed"]})
        for name, m in res["metrics"].items():
            metrics.setdefault(name, []).append(m["value"])
            units[name] = m["unit"]
        print(f"seed {seed}: " + ", ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)

    record = {"workload": a.workload, "seconds": a.seconds, "trace": a.trace,
              "nproc": os.cpu_count(), "runs": runs,
              "metrics": {n: dict(summary(v), unit=units[n]) for n, v in metrics.items()}}
    for n, s in record["metrics"].items():
        print(f"{n:34s} median {s['median']:12.4f} {s['unit']:10s} spread {s['spread']:.3f}")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(record, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
