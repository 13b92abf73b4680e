#!/usr/bin/env python3
"""Print every benchmark metric by name with its unit.

    python3 perfbench/report.py --run      # run each workload untraced and traced, then report
    python3 perfbench/report.py            # report the run records already in .perfbench_out/

For each workload: the end-to-end metrics (median and quartiles over
the untraced runs), the summary names (dag_s, light_s,
light_p50_s, light_p90_s, heavy_s, error_rate), the per-layer metrics
of the traced runs, host noise, and the count-determinism check: every
operation's Spark job count as a range over all recorded passes, with
the operations whose count is not identical named.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
from collections import defaultdict

from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(ROOT, ".perfbench_out", "runs")


def _load(workload: str) -> list[dict]:
    recs = []
    for path in sorted(glob.glob(os.path.join(RUNS, workload, "*.json"))):
        with open(path) as f:
            recs.append(json.load(f))
    return recs


def _summary(vals: list[float]) -> str:
    if len(vals) >= 2:
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        return f"{statistics.median(vals):12.4f}  [{q1:.4f} .. {q3:.4f}]"
    return f"{vals[0]:12.4f}" if vals else "           -"


def report(workload: str) -> None:
    recs = _load(workload)
    plain = [r for r in recs if not r["trace"]]
    traced = [r for r in recs if r["trace"]]
    print(f"\n== {workload}: {len(plain)} untraced and {len(traced)} traced runs, "
          f"seeds {sorted({r['seed'] for r in recs})}")
    if plain:
        print("  end-to-end (median [q1 .. q3] over untraced runs)")
        for name, spec in plain[-1]["metrics"].items():
            vals = [r["metrics"][name]["value"] for r in plain if name in r["metrics"]]
            print(f"    {name:34s}{_summary(vals)}  {spec['unit']}")
    aliases = {}
    if workload == "survey_dag" and plain:
        aliases["dag_s"] = ([r["metrics"]["pass_s"]["value"] for r in plain], "s")
    if workload == "registry_mix" and plain:
        for k in ("light_s", "light_p50_s", "light_p90_s", "heavy_s"):
            aliases[k] = ([r["registry_subtotals"][f"registry.{k}"] for r in plain], "s")
    if recs:
        aliases["error_rate"] = ([r["error_rate"] for r in recs], "ratio")
        aliases["host.steal_share"] = ([r["host_noise"]["steal_share"] for r in recs], "ratio")
        aliases["host.load1_end"] = ([r["host_noise"]["load1_end"] for r in recs], "load")
    if aliases:
        print("  summary names and host noise (all runs)")
        for name, (vals, unit) in aliases.items():
            print(f"    {name:34s}{_summary(vals)}  {unit}")
    if traced:
        print("  per-layer (median [q1 .. q3] over traced runs)")
        for name, spec in traced[-1]["metrics"].items():
            vals = [r["metrics"][name]["value"] for r in traced if name in r["metrics"]]
            print(f"    {name:34s}{_summary(vals)}  {spec['unit']}")
    jobs = defaultdict(set)
    for r in recs:
        for op in r["ops"]:
            if op["jobs"] is not None:
                jobs[op["name"]].add(op["jobs"])
    drifting = {n: sorted(v) for n, v in jobs.items() if len(v) > 1}
    print(f"  job counts: {len(jobs) - len(drifting)} operations identical in every pass; "
          + ("not identical: " + ", ".join(f"{n} {v[0]}..{v[-1]}" for n, v in sorted(
              drifting.items())) if drifting else "none drift"))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--run", action="store_true", help="run every workload first")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    args = ap.parse_args(argv)
    if args.run:
        for workload in WORKLOADS:
            for trace in (0, 1):
                cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                       "--seed", str(args.seed), "--seconds", str(args.seconds),
                       "--trace", str(trace)]
                done = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                      stderr=subprocess.DEVNULL, text=True)
                if done.returncode != 0:
                    print(f"{' '.join(cmd)} exited {done.returncode}", file=sys.stderr)
                    return done.returncode
    for workload in WORKLOADS:
        report(workload)
    return 0


if __name__ == "__main__":
    sys.exit(main())
