"""Print every metric of every workload in one table.

    python3 perfbench/report.py [--seeds 1 2 3] [--seconds 8] [--workloads ...]

For each workload and seed this runs ``run.py`` twice, untraced
(end-to-end metrics) and traced (per-layer metrics), and prints per
metric the median over seeds, the spread (interquartile range over
median, with three or more seeds), the unit and the samples behind one
run's value.  It adds the error rate and the tracing overhead: the
traced run's median latency minus the untraced one's.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    """Run ``run.py`` once; returns its report table and JSON line."""
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=False)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: "
                         f"exit code {p.returncode}")
    samples = {}
    for ln in lines[:-1]:
        parts = ln.split()
        if len(parts) == 4 and parts[3].startswith("n="):
            samples[parts[0]] = int(parts[3][2:])
    return {"json": json.loads(lines[-1]), "samples": samples,
            "header": [ln for ln in lines if ln.startswith("#")]}


def spread(values) -> float | None:
    if len(values) < 3:
        return None
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else None


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--workloads", nargs="+", default=list(WORKLOADS))
    args = ap.parse_args(argv)

    for w in args.workloads:
        runs = {t: [one_run(w, s, args.seconds, t) for s in args.seeds]
                for t in (0, 1)}
        att = sum(r["json"]["attempted"] for t in runs for r in runs[t])
        fail = sum(r["json"]["failed"] for t in runs for r in runs[t])
        print(f"\n== {w}  seeds={args.seeds}  error_rate={fail / att:.4f} "
              f"({fail}/{att})  correct="
              f"{all(r['json']['correct'] for t in runs for r in runs[t])}")
        for r in runs[0]:
            for h in r["header"]:
                print("   " + h)
        print(f"   {'metric':32s} {'median':>14s} {'spread':>8s} "
              f"{'unit':8s} samples/run")
        for t in (0, 1):
            names = runs[t][0]["json"]["metrics"]
            for k, first in names.items():
                vals = [r["json"]["metrics"][k]["value"] for r in runs[t]]
                sp = spread(vals)
                n = sorted({r["samples"].get(k) for r in runs[t]}, key=str)
                print(f"   {k:32s} {statistics.median(vals):>14.6g} "
                      f"{'-' if sp is None else f'{sp:.3f}':>8s} "
                      f"{first['unit']:8s} {','.join(map(str, n))}")
        over = [b["json"]["metrics"]["trace.latency_p50_s"]["value"]
                - a["json"]["metrics"]["latency_p50_s"]["value"]
                for a, b in zip(runs[0], runs[1])]
        print(f"   {'trace.overhead_s':32s} {statistics.median(over):>14.6g} "
              f"{'-':>8s} {'s':8s} traced minus untraced latency_p50_s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
