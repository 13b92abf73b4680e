#!/usr/bin/env python3
"""Benchmark entry point: one workload, one closed-loop client.

    python3 perfbench/run.py --workload survey_dag --seed 1 --seconds 8 --trace 0

Runs from the root of a checkout.  Generates the workload's inputs from
``--seed`` (before the Spark session starts), starts the session with
``SPARK_GRAFT_CPUS`` set to the usable core count, warms up, then runs
passes over the workload's operations until ``--seconds`` have been
measured and the workload's minimum number of passes is made.  Outputs
are checked outside the timed region.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  A traced run alternates
untraced and traced passes, so it also reports the tracing overhead and
whether job counts agree between the two.  The full record (every
operation, span, check and host reading) goes to
``.perfbench_out/runs/<workload>/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import uuid
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")

END_TO_END_UNITS = {"pass_s": "s", "setup_s": "s"}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _confine_to_checkout(tmp: str) -> dict:
    """Point every scratch location of Python, Spark and the JVM inside
    the checkout; returns the session's extra conf."""
    local = os.path.join(tmp, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    import tempfile

    tempfile.tempdir = tmp
    return {
        "spark.sql.warehouse.dir": os.path.join(OUT, "warehouse"),
        # no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # keep every job and stage of a run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def _median(vals):
    return statistics.median(vals) if vals else 0.0


def _typical_pass(ops, passes) -> float:
    """Wall time of a typical pass: the sum over operations of each
    one's median time across ``passes``."""
    times = defaultdict(list)
    for op in ops:
        if op.pass_no in passes and op.main:
            times[op.name].append(op.seconds)
    return sum(_median(v) for v in times.values())


def _span_sum(spans, pass_no, key):
    return sum(s.get(key, 0) for s in spans if s.get("kind") == "op" and s.get("pass") == pass_no)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_process = time.perf_counter()
    run_id = uuid.uuid4().hex[:12]
    tmp = os.path.join(OUT, "tmp", run_id)
    try:
        return _run(args, run_id, t_process, _confine_to_checkout(tmp))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _stop(spark) -> None:
    """Stop the session, then end the JVM behind it and wait for it: the
    gateway exits when its stdin closes."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _run(args, run_id, t_process, extra_conf) -> int:
    sys.path.insert(0, ROOT)
    try:
        from peskas_mozambique_data_pipeline_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import ledger as ledger_mod
    import workloads

    try:
        wl = workloads.make(args.workload, OUT)
    except ValueError as e:
        print(f"perfbench: {e}; choose from {', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    noise = ledger_mod.HostNoise()

    t0 = time.perf_counter()
    inputs = wl.prepare(args.seed)
    prepare_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        wl.bind(spark)
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0

        led = ledger_mod.Ledger(spark, run_id)
        ops = []
        traced_passes, plain_passes = [], []
        measured = 0.0
        pass_no = 0
        # whole passes, with what the operation times leave out: output
        # checks and garbage collection between operations
        pass_walls = []
        # a traced run alternates plain and traced passes; the JVM is
        # still warming up in its first pass, so the overhead and
        # job-count comparisons leave that pass out
        while True:
            traced = bool(args.trace) and pass_no % 2 == 1
            n_spans = len(led.spans)
            t0 = time.perf_counter()
            pass_ops = wl.run_pass(led, pass_no, traced)
            pass_walls.append(time.perf_counter() - t0)
            for s in led.spans[n_spans:]:
                s["pass"] = pass_no
            ops.extend(pass_ops)
            (traced_passes if traced else plain_passes).append(pass_no)
            measured += sum(op.seconds for op in pass_ops)
            pass_no += 1
            if measured >= args.seconds and pass_no >= max(
                    wl.min_passes, 3 if args.trace else 1):
                break

        failures = {}
        for op in ops:
            why = op.error or wl.wrong_output(op)
            if why:
                failures[f"{op.name}#{op.pass_no}"] = why
        checks = wl.run_checks()
        if args.trace:
            led.fold()
        rss = ledger_mod.peak_rss_mb(spark)
    finally:
        _stop(spark)
    host = noise.read()

    setup_s = session_s + warm_s
    jobs_by_op = defaultdict(lambda: defaultdict(set))
    compared = plain_passes[1:] if args.trace else plain_passes
    for op in ops:
        if op.span is not None and (op.pass_no in compared or op.pass_no in traced_passes):
            jobs_by_op[op.name]["traced" if op.pass_no in traced_passes else "plain"].add(
                op.span["jobs"])
    drifting = sorted(n for n, d in jobs_by_op.items()
                      if len(d["plain"] | d["traced"]) > 1)

    if not args.trace:
        metrics = {"pass_s": _typical_pass(ops, plain_passes), "setup_s": setup_s}
        units = END_TO_END_UNITS
    else:
        metrics, units = _layer_metrics(wl, ops, led.spans, traced_passes, compared, host,
                                        jobs_by_op, rss)

    attempted = len(ops)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "run_id": run_id, "cores": _cores(),
        "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "inputs": inputs,
        "setup": {"prepare_inputs_s": prepare_s, "session_s": session_s, "warm_up_s": warm_s},
        "wall_s": time.perf_counter() - t_process,
        "host_noise": host,
        "passes": {"plain": plain_passes, "traced": traced_passes, "wall_s": pass_walls},
        "ops": [op.as_dict() for op in ops],
        "job_counts": {n: {k: sorted(v) for k, v in d.items()} for n, d in jobs_by_op.items()},
        "job_count_drift": drifting,
        "checks": checks,
        "peak_rss_mb": rss,
        "op_p50_s": _median([op.seconds for op in ops if op.main and not op.error]),
        "registry_subtotals": wl.subtotals(ops) if hasattr(wl, "subtotals") else None,
        "failures": failures,
        "error_rate": len(failures) / attempted,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        "spans": led.spans if args.trace else [],
    }
    rec_dir = os.path.join(OUT, "runs", args.workload)
    os.makedirs(rec_dir, exist_ok=True)
    rec_path = os.path.join(
        rec_dir, f"{time.strftime('%Y%m%dT%H%M%S')}-s{args.seed}-t{args.trace}-{run_id}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1, default=str)

    print(f"# record {os.path.relpath(rec_path, ROOT)}")
    print(f"# host steal_share={host['steal_share']:.4f} load1={host['load1_start']:.2f}"
          f"->{host['load1_end']:.2f}; error_rate={record['error_rate']:.4f}")
    if drifting:
        print("# job counts not identical across passes: " + ", ".join(
            f"{n} {sorted(jobs_by_op[n]['plain'] | jobs_by_op[n]['traced'])}" for n in drifting))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": record["metrics"],
    }))
    return 0


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit.  A traced run reports all
    of them; a layer that does no work on a workload reads 0."""
    import workloads

    units = {
        "session.jobs": "count", "session.stages": "count", "session.tasks": "count",
        "session.s_per_job": "s", "session.busy_share": "ratio",
        "session.shuffle_write_mb": "MB", "session.spill_mb": "MB",
        "session.op_p50_s": "s", "session.peak_rss_mb": "MB",
        "registry.build_s": "s", "registry.exec_s": "s",
        "registry.light_s": "s", "registry.light_p50_s": "s", "registry.light_p90_s": "s",
        "registry.heavy_s": "s",
    }
    for row in workloads.HEAVY_ROWS:
        units[f"registry.{row}.s"] = "s"
        units[f"registry.{row}.jobs"] = "count"
    units.update({
        "plans.preprocess.s": "s", "plans.preprocess.jobs": "count",
        "plans.preprocess.shuffle_write_mb": "MB", "plans.preprocess.rows_out": "count",
        "plans.validate.s": "s", "plans.validate.jobs": "count",
        "plans.validate.shuffle_write_mb": "MB", "plans.validate.kept_share": "ratio",
        "plans.merge_trips.s": "s", "plans.merge_trips.jobs": "count",
        "plans.merge_trips.merged_share": "ratio",
        "plans.export.s": "s", "plans.export.jobs": "count",
        "io.parquet_io.bytes_written_mb": "MB", "io.parquet_io.files_written": "count",
        "io.parquet_io.rerun_noop_s": "s",
        "trace.overhead_share": "ratio", "trace.jobs_match": "ratio",
        "host.steal_share": "ratio", "host.load1": "load",
    })
    return units


def _layer_metrics(wl, ops, spans, traced_passes, plain_passes, host, jobs_by_op, rss):
    cores = _cores()
    units = per_layer_units()
    m: dict[str, float] = dict.fromkeys(units, 0.0)

    per_pass = []
    for p in traced_passes:
        per_pass.append({
            "wall": sum(op.seconds for op in ops if op.pass_no == p),
            "jobs": _span_sum(spans, p, "jobs"),
            "stages": _span_sum(spans, p, "stages"),
            "tasks": _span_sum(spans, p, "tasks"),
            "run_s": _span_sum(spans, p, "run_ms") / 1000.0,
            "shuffle_mb": _span_sum(spans, p, "shuffle_write_bytes") / 2**20,
            "spill_mb": _span_sum(spans, p, "spill_bytes") / 2**20,
        })

    def med(key):
        return _median([d[key] for d in per_pass])

    m["session.jobs"] = med("jobs")
    m["session.stages"] = med("stages")
    m["session.tasks"] = med("tasks")
    m["session.s_per_job"] = _median([d["wall"] / d["jobs"] for d in per_pass if d["jobs"]])
    m["session.busy_share"] = _median([d["run_s"] / (d["wall"] * cores) for d in per_pass])
    m["session.shuffle_write_mb"] = med("shuffle_mb")
    m["session.spill_mb"] = med("spill_mb")
    m["session.op_p50_s"] = _median(
        [op.seconds for op in ops if op.pass_no in traced_passes and op.main and not op.error])
    m["session.peak_rss_mb"] = rss

    def stage(name, key, scale=1.0):
        return _median([s.get(key, 0) * scale for s in spans
                        if s["name"] == name and s.get("pass") in traced_passes])

    for short in ("preprocess", "validate", "merge_trips", "export"):
        name = f"plans.{short}"
        m[f"{name}.s"] = _median([s["end"] - s["start"] for s in spans
                                  if s["name"] == name and s.get("pass") in traced_passes])
        m[f"{name}.jobs"] = stage(name, "jobs")
        if f"{name}.shuffle_write_mb" in m:
            m[f"{name}.shuffle_write_mb"] = stage(name, "shuffle_write_bytes", 2**-20)
    m.update(wl.layer_metrics([op for op in ops if op.pass_no in traced_passes]))

    plain = _typical_pass(ops, plain_passes)
    traced = _typical_pass(ops, traced_passes)
    m["trace.overhead_share"] = traced / plain - 1.0 if plain else 0.0
    m["trace.jobs_match"] = float(all(
        d["plain"] == d["traced"] for d in jobs_by_op.values() if d["plain"] and d["traced"]))
    m["host.steal_share"] = host["steal_share"]
    m["host.load1"] = host["load1_end"]
    return m, units


if __name__ == "__main__":
    sys.exit(main())
