"""The benchmark's workloads.

Each workload is a fixed set of operations one closed-loop client
issues in turn: a pass runs every operation once, and a run repeats
passes until its measuring time is spent.

* ``survey_dag``: one operation is ``plans.pipeline.run_full_pipeline``
  on a seeded synthetic survey, into a fresh zone root; each is followed
  by a no-op ``skip_fresh=True`` rerun, timed on its own.
* ``registry_mix``: one operation is one ``registry.SPARK_QUERIES``
  row: its build (the query-function call, including eager
  checkpoints) and its exec (a ``noop``-sink write).  Light rows read
  the sf0.01 tables, heavy rows the sf0.1 tables, both copies of the
  test data in ``data/`` (see ``TESTDATA.md``), so each row's expected
  output is derived once from its DuckDB oracle; the workload seed
  permutes the row order.  Each row's first execution, in the warm-up,
  is the collect its output check reads.
"""

from __future__ import annotations

import gc
import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import time
from collections import Counter
from contextlib import contextmanager, nullcontext

import pyarrow.parquet as pq

import checks
import datagen

LIGHT_SF = 0.01
# rows whose sf0.01 cost is mostly fixed per-job overhead: about a
# second or less each on a 4-core host
LIGHT_ROWS = (
    "quantile_coeffs", "last_wins", "doc_chunks", "scd2_versions", "sessionization",
    "flag_battery", "interval_join", "mix_quality", "rank_audit",
)
HEAVY_SF = 0.1
# rows dominated by operator compute at sf0.1: label-propagation
# connected components (about 45 jobs) and exact plus product-quantized
# top-k nearest-neighbour search
HEAVY_ROWS = ("embedding_clusters", "ann_audit")

# copies of the sf0.01 test tables and of the sf0.1 table the heavy rows
# read
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SURVEY_SUBMISSIONS = 10_000
WARM_SUBMISSIONS = 1_000
_LW_COEFFS = [("SNA", 0.02, 2.9), ("GRP", 0.015, 3.0), ("OCZ", 0.5, 2.2),
              ("TUN", 0.01, 3.1), ("MAC", 0.008, 3.05), ("RAY", 0.012, 2.95)]


def _generate_once(path: str, write, *args) -> dict:
    """Run ``write(tmp, *args)`` unless ``path`` already holds its
    output; the directory appears whole or not at all."""
    ready = os.path.join(path, "_READY")
    if not os.path.exists(ready):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        sizes = write(tmp, *args)
        with open(os.path.join(tmp, "_READY"), "w") as f:
            json.dump(sizes, f)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    with open(ready) as f:
        return json.load(f)


def _parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


class _Op:
    """Outcome of one operation."""

    def __init__(self, name: str, pass_no: int):
        self.name = name
        self.pass_no = pass_no
        self.seconds = 0.0
        self.parts: dict[str, float] = {}
        self.error: str | None = None
        self.span = None
        # counted in pass_s; the DAG's no-op rerun is timed on its own
        self.main = True

    def as_dict(self) -> dict:
        return {"name": self.name, "pass": self.pass_no, "s": self.seconds,
                "parts": self.parts, "error": self.error,
                "jobs": self.span["jobs"] if self.span else None}


class RegistryWorkload:
    """Light rows in a seed-permuted order, then the heavy rows."""

    # passes after each row's first execution; pass_s sums each row's
    # median over them, so it spans about 25 s of the host's fast and
    # slow periods rather than one pass
    min_passes = 2

    def __init__(self, out_dir: str):
        self.sfs = {row: LIGHT_SF for row in LIGHT_ROWS}
        self.sfs.update(dict.fromkeys(HEAVY_ROWS, HEAVY_SF))
        self.dirs = {sf: os.path.join(DATA_DIR, f"sf{sf}") for sf in (LIGHT_SF, HEAVY_SF)}
        self.oracle_dir = os.path.join(out_dir, "oracle")
        self.expected: dict[str, tuple[int, str]] = {}
        self.checked: dict[str, str | None] = {}
        self.order: list[str] = []

    # -- inputs (before the session starts) --------------------------
    def prepare(self, seed: int) -> dict:
        from peskas_mozambique_data_pipeline_spark import registry

        tables = {}
        for sf, path in self.dirs.items():
            tables[f"sf{sf}"] = {t: pq.ParquetFile(f).metadata.num_rows
                                 for t, f in checks.table_files(path).items()}
            rows = [r for r, rsf in self.sfs.items() if rsf == sf]
            self.expected.update(_oracle(
                path, os.path.join(self.oracle_dir, f"sf{sf}.json"),
                {r: registry.ORACLE_SQL[r] for r in rows}))
        # the heavy rows close every pass in a fixed order: placed at
        # random they ran up to a third slower when they came first,
        # before the JVM was warm, which dominated the spread of pass_s
        self.order = list(LIGHT_ROWS)
        random.Random(seed).shuffle(self.order)
        self.order += list(HEAVY_ROWS)
        return {"tables": tables,
                "rows": [(r, self.sfs[r]) for r in self.order]}

    # -- session-side steps -------------------------------------------
    def bind(self, spark) -> None:
        self.spark = spark

    def warm_up(self) -> None:
        """Run every row on its own tables and check its output.

        A row's first execution in a session compiles its generated code
        and took up to three times as long as its later ones, so it is
        left out of the measured passes.  It is the collect that the
        output check needs; the measured executions write to the
        ``noop`` sink.  The session caches each table's DataFrame, so no
        measured row is charged a table's first read either.
        """
        from peskas_mozambique_data_pipeline_spark import registry

        for row in self.order:
            fn = registry.SPARK_QUERIES[row]
            data_dir = self.dirs[self.sfs[row]]
            try:
                df = fn(self.spark, data_dir)
                self.checked[row] = self._check(row, df)
                # a light row's second execution still ran up to 40%
                # slower than its later ones; a heavy row's did not
                if row in LIGHT_ROWS:
                    fn(self.spark, data_dir).write.format("noop").mode("overwrite").save()
            except Exception as e:  # counted against the row's operations
                self.checked[row] = f"{type(e).__name__}: {e}"[:500]
            df = None
            gc.collect()

    def run_pass(self, ledger, pass_no: int, traced: bool) -> list[_Op]:
        return [self._run_row(ledger, row, pass_no, traced) for row in self.order]

    def _run_row(self, ledger, row: str, pass_no: int, traced: bool) -> _Op:
        from peskas_mozambique_data_pipeline_spark import registry

        op = _Op(row, pass_no)
        fn = registry.SPARK_QUERIES[row]
        data_dir = self.dirs[self.sfs[row]]
        child = ledger.span if traced else _no_span
        df = None
        with ledger.span(f"registry.{row}", kind="op") as sp:
            op.span = sp
            try:
                with child("registry.build"):
                    t0 = time.perf_counter()
                    df = fn(self.spark, data_dir)
                    t1 = time.perf_counter()
                with child("registry.exec"):
                    df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                op.parts = {"build": t1 - t0, "exec": t2 - t1}
                op.seconds = t2 - t0
            except Exception as e:  # a failing row is counted, the run goes on
                op.error = f"{type(e).__name__}: {e}"[:500]
        # drop the frame so the ContextCleaner can free its checkpoint
        # blocks before the next row, as bench.py does
        del df
        gc.collect()
        return op

    def _check(self, row: str, df) -> str | None:
        try:
            got = checks.spark_fingerprint(df)
        except Exception as e:
            return f"collect failed: {type(e).__name__}: {e}"[:500]
        want = self.expected[row]
        if got != want:
            return f"fingerprint mismatch: {got[0]} rows vs oracle {want[0]} ({want[1][:60]})"
        return None

    def wrong_output(self, op: _Op) -> str | None:
        return self.checked.get(op.name)

    def run_checks(self) -> dict:
        return {"rows_checked": len(self.checked),
                "rows_wrong": sorted(r for r, e in self.checked.items() if e)}

    def subtotals(self, ops: list[_Op]) -> dict[str, float]:
        """Per-pass medians of the light and heavy shares of a pass."""
        def pass_median(pick, part=None):
            per_pass = Counter()
            for op in ops:
                if pick(op.name):
                    per_pass[op.pass_no] += op.parts.get(part, 0.0) if part else op.seconds
            return _median(list(per_pass.values()))

        light = [op.seconds for op in ops if op.name in LIGHT_ROWS and not op.error]
        return {
            "registry.build_s": pass_median(lambda r: True, "build"),
            "registry.exec_s": pass_median(lambda r: True, "exec"),
            "registry.light_s": pass_median(lambda r: r in LIGHT_ROWS),
            "registry.light_p50_s": _median(light),
            "registry.light_p90_s": _quantile(light, 0.9) if light else 0.0,
            "registry.heavy_s": pass_median(lambda r: r in HEAVY_ROWS),
        }

    def layer_metrics(self, ops: list[_Op]) -> dict[str, float]:
        out = self.subtotals(ops)
        for row in HEAVY_ROWS:
            mine = [op for op in ops if op.name == row]
            out[f"registry.{row}.s"] = _median([op.seconds for op in mine])
            out[f"registry.{row}.jobs"] = _median([op.span["jobs"] for op in mine])
        return out


def _oracle(data_dir: str, cache: str,
            oracle_sql: dict[str, str]) -> dict[str, tuple[int, str]]:
    """Expected fingerprints, cached in ``cache`` and keyed on each
    oracle's SQL text, so each is derived once per checkout."""
    have = {}
    if os.path.exists(cache):
        with open(cache) as f:
            have = json.load(f)
    keys = {r: hashlib.sha256(sql.encode()).hexdigest() for r, sql in oracle_sql.items()}
    missing = {r: sql for r, sql in oracle_sql.items() if have.get(r, {}).get("sql") != keys[r]}
    if missing:
        for r, (n, fp) in checks.oracle_fingerprints(data_dir, missing).items():
            have[r] = {"sql": keys[r], "n": n, "fp": fp}
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        tmp = cache + f".tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(have, f, indent=1)
        os.replace(tmp, cache)
    return {r: (have[r]["n"], have[r]["fp"]) for r in oracle_sql}


class SurveyDagWorkload:
    min_passes = 1

    def __init__(self, out_dir: str):
        self.n = SURVEY_SUBMISSIONS
        self.out_dir = out_dir
        self.last_counts: dict | None = None
        self.zone_base = os.path.join(out_dir, "zones")
        self.problems: dict[int, list[str]] = {}
        self.stats: dict[int, dict] = {}

    def prepare(self, seed: int) -> dict:
        def write(n):
            path = os.path.join(self.out_dir, "data", f"survey-n{n}-s{seed}")
            return path, _generate_once(path, datagen.write_survey, n, seed)

        self.data_dir, self.sizes = write(self.n)
        self.warm_dir, _ = write(WARM_SUBMISSIONS)
        return {"submissions": self.n, "seed": seed, "tables": self.sizes}

    def bind(self, spark) -> None:
        from peskas_mozambique_data_pipeline_spark.session import read_table

        self.spark = spark
        self.raw = read_table(spark, self.data_dir, "raw")
        self.pds = read_table(spark, self.data_dir, "pds_trips")
        self.lw = spark.createDataFrame(_LW_COEFFS, "catch_taxon string, a double, b double")

    def _zone_root(self, tag) -> str:
        root = os.path.join(self.zone_base, f"{os.getpid()}-{tag}")
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        return root

    def warm_up(self) -> None:
        """One full DAG run on a small input of the same shape: it
        compiles the same plans as the measured runs in a fraction of
        their time."""
        from peskas_mozambique_data_pipeline_spark.plans import pipeline
        from peskas_mozambique_data_pipeline_spark.session import read_table

        root = self._zone_root("warm")
        pipeline.run_full_pipeline(
            self.spark, read_table(self.spark, self.warm_dir, "raw"), self.lw,
            read_table(self.spark, self.warm_dir, "pds_trips"), root)
        shutil.rmtree(root, ignore_errors=True)
        gc.collect()

    def run_pass(self, ledger, pass_no: int, traced: bool) -> list[_Op]:
        from peskas_mozambique_data_pipeline_spark.plans import pipeline

        root = self._zone_root(pass_no)
        run = _Op("run_full_pipeline", pass_no)
        rerun = _Op("rerun_noop", pass_no)
        rerun.main = False
        with _stage_spans(ledger, traced):
            with ledger.span("plans.run_full_pipeline", kind="op") as sp:
                run.span = sp
                t0 = time.perf_counter()
                try:
                    out = pipeline.run_full_pipeline(
                        self.spark, self.raw, self.lw, self.pds, root, git_sha="bench")
                except Exception as e:
                    run.error = f"{type(e).__name__}: {e}"[:500]
                    out = None
                run.seconds = time.perf_counter() - t0
        if out is None:
            rerun.error = "not attempted: the run failed"
            shutil.rmtree(root, ignore_errors=True)
            return [run, rerun]
        zone_files = [f for p in out.values() for f in _parquet_files(p)]
        with ledger.span("io.rerun_noop", kind="op") as sp:
            rerun.span = sp
            t0 = time.perf_counter()
            try:
                again = pipeline.run_full_pipeline(
                    self.spark, self.raw, self.lw, self.pds, root,
                    git_sha="bench", skip_fresh=True)
            except Exception as e:
                rerun.error = f"{type(e).__name__}: {e}"[:500]
                again = None
            rerun.seconds = time.perf_counter() - t0
        self.stats[pass_no] = {
            "bytes_written": sum(os.path.getsize(f) for f in zone_files),
            "files_written": len(zone_files),
        }
        try:
            self.problems[pass_no] = self._check(out, again)
        except Exception as e:  # an unreadable zone is a wrong output
            self.problems[pass_no] = [f"check failed: {type(e).__name__}: {e}"[:500]]
        shutil.rmtree(root, ignore_errors=True)
        return [run, rerun]

    def _check(self, out: dict, again: dict | None) -> list[str]:
        """Conservation across the stages of one DAG run, read back from
        the zones it wrote.  The zones are LZ4-framed parquet, which only
        Spark reads here, so these reads run as Spark jobs outside every
        span."""
        from pyspark.sql import functions as F

        def zone(p):
            return self.spark.read.parquet(out[p])

        bad = []
        if again != out:
            bad.append("skip_fresh rerun did not resolve to the same snapshots")
        prep = zone("preprocessed")
        prep_rows, subs = prep.agg(F.count(F.lit(1)), F.countDistinct("submission_id")).first()
        landings = prep.select("submission_id", "landing_date", "pds_imei").distinct().count()
        flags = zone("flags").withColumn("flagged", F.col("alert_flag").isNotNull())
        flag_rows, flag_subs, excluded = flags.agg(
            F.count(F.lit(1)), F.countDistinct("submission_id"), F.count("alert_flag")).first()
        validated, both_sides = zone("validated").join(
            flags.select("submission_id", "flagged"), "submission_id", "left").agg(
            F.count(F.lit(1)), F.count(F.when(F.col("flagged"), 1))).first()
        merged, pairs = zone("trips_merged").agg(
            F.count(F.lit(1)),
            F.count(F.when(F.col("trip").isNotNull() & F.col("submission_id").isNotNull(), 1)),
        ).first()
        per_flag = {r[0]: r[1] for r in flags.select(
            F.explode(F.split("alert_flag", ",")).alias("f")).groupBy("f").count().collect()}
        exports = {p: zone(p).count()
                   for p in ("monthly_metrics", "sites_stats", "habitat_gear_series")}
        if subs != self.sizes["raw"]:
            bad.append(f"preprocess: {subs} submissions out of {self.sizes['raw']} in")
        if flag_rows != subs or flag_subs != subs:
            bad.append(f"validate: {flag_rows} flag rows for {subs} preprocessed submissions")
        if validated + excluded != subs or both_sides:
            bad.append(f"validate: {validated} validated + {excluded} excluded "
                       f"!= {subs} preprocessed submissions")
        if merged != self.sizes["pds_trips"] + landings - pairs:
            bad.append(f"merge_trips: {merged} rows out != {self.sizes['pds_trips']} trips "
                       f"+ {landings} landings - {pairs} merged")
        for p, n in exports.items():
            if not n:
                bad.append(f"export: {p} is empty")
        self.last_counts = {
            "raw": self.sizes["raw"], "preprocessed_rows": prep_rows, "submissions": subs,
            "validated": validated, "excluded": excluded, "pds_trips": self.sizes["pds_trips"],
            "landings": landings, "merged_rows": merged, "merged_pairs": pairs,
            "flag_counts": dict(sorted(per_flag.items(), key=lambda kv: int(kv[0]))),
            "export_rows": exports,
        }
        return bad

    def wrong_output(self, op: _Op) -> str | None:
        bad = self.problems.get(op.pass_no)
        return "; ".join(bad) if bad else None

    def run_checks(self) -> dict:
        return {"conservation": self.last_counts}

    def layer_metrics(self, ops: list[_Op]) -> dict[str, float]:
        passes = sorted(self.stats)
        c = self.last_counts or {}
        reruns = [op.seconds for op in ops if op.name == "rerun_noop" and not op.error]
        return {
            "plans.preprocess.rows_out": c.get("preprocessed_rows", 0),
            "plans.validate.kept_share": c["validated"] / c["submissions"] if c else 0.0,
            "plans.merge_trips.merged_share": c["merged_pairs"] / c["pds_trips"] if c else 0.0,
            "io.parquet_io.bytes_written_mb": _median(
                [self.stats[p]["bytes_written"] for p in passes]) / 2**20,
            "io.parquet_io.files_written": _median([self.stats[p]["files_written"] for p in passes]),
            "io.parquet_io.rerun_noop_s": _median(reruns),
        }


# the DAG's stage entry points, wrapped with spans in traced passes
_STAGES = {
    "stage_preprocess": "plans.preprocess",
    "stage_validate": "plans.validate",
    "stage_merge_trips": "plans.merge_trips",
    "stage_export": "plans.export",
}


@contextmanager
def _stage_spans(ledger, traced: bool):
    """Within a traced pass, route ``run_full_pipeline``'s calls to its
    stage functions through spans; the product entry point itself is
    unchanged, so traced and untraced passes run the same code."""
    from peskas_mozambique_data_pipeline_spark.plans import pipeline

    saved = {fn_name: getattr(pipeline, fn_name) for fn_name in _STAGES} if traced else {}
    for fn_name, orig in saved.items():
        setattr(pipeline, fn_name, _spanned(ledger, _STAGES[fn_name], orig))
    try:
        yield
    finally:
        for fn_name, orig in saved.items():
            setattr(pipeline, fn_name, orig)


def _spanned(ledger, span_name: str, fn):
    def traced_stage(*args, **kw):
        with ledger.span(span_name):
            return fn(*args, **kw)

    return traced_stage


def _no_span(name: str):
    return nullcontext()


def _median(vals):
    return statistics.median(vals) if vals else 0.0


def _quantile(vals, q: float) -> float:
    """Inclusive-method quantile (``statistics.quantiles`` convention)."""
    if len(vals) < 2:
        return vals[0]
    return statistics.quantiles(vals, n=100, method="inclusive")[round(q * 100) - 1]


def make(name: str, out_dir: str):
    if name == "survey_dag":
        return SurveyDagWorkload(out_dir)
    if name == "registry_mix":
        return RegistryWorkload(out_dir)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("survey_dag", "registry_mix")
