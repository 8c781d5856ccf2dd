"""Seeded closed-loop benchmark of the go_dedupe_spark library.

    python3 perfbench/run.py --workload er_pipeline --seed 1 --seconds 1 --trace 0

One process, one ``local[<cores>]`` session, one job at a time. The run
generates its inputs from ``--seed``, sets up (session start, package
ship, one untimed warm-up job on a different seed), then runs jobs until
``--seconds`` of job time have passed (at least one), checks every job's
output, and prints one JSON line last:

* ``--trace 0``: the end-to-end metrics (medians over the run's jobs).
* ``--trace 1``: the session runs with Spark's event log on. Two or
  more untraced jobs, then one traced job whose spans set the job group;
  prints the per-layer metrics and the tracing overhead (traced job wall
  minus the median of the untraced jobs after the first, which still
  pays first-run costs).

Everything the run writes stays under ``perfbench/.work`` of the
checkout it runs from.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
WORK = BENCH_DIR / ".work"
sys.path.insert(0, str(ROOT))    # the library under test, from this checkout

from go_dedupe_spark.session import get_spark  # noqa: E402
from pyspark import SparkContext  # noqa: E402

import inputs  # noqa: E402
import ledger  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402
from procstat import RssPeak, tree_cpu_s  # noqa: E402

WORKLOADS = ("er_pipeline", "near_dup_ann")

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "cpu_s": "s",
    "py_peak_rss_mb": "MB",
    "quality": "ratio",
}

PHASES = ("normalize", "blocking", "pairs", "features", "scoring",
          "components", "resolve")
OPERATOR_SPANS = ("minhash_lsh", "ngram_jaccard", "simhash_hamming")
ANN_SPANS = ("ann.train", "ann.bruteforce", "ann.lsh", "ann.ivf")
# timed by a replay after the traced job (workloads.ErPipeline)
CHECKPOINT_SPANS = ("checkpoint.write", "checkpoint.read")
# job groups of a traced run's jobs that are not part of the traced job
NOT_TRACED = ("warmup", "untraced", "probe") + CHECKPOINT_SPANS
EVENT_LOG = WORK / "eventlog"
SPANS = PHASES + CHECKPOINT_SPANS + OPERATOR_SPANS + ANN_SPANS
# event-log columns reported for every span
SPAN_COLUMNS = {"exec_cpu_s": "s", "python_s": "s", "shuffle_write_mb": "MB",
                "task_skew": "ratio", "jobs": "count"}
# event-log columns reported once, summed over the traced job
TOTAL_COLUMNS = {"exec_run_s": "s", "gc_s": "s", "spill_mb": "MB",
                 "tasks": "count"}
COUNTS = {
    "blocking.rows_out": "count", "blocking.max_block_n": "count",
    "pairs.candidates": "count", "pairs.salted_share": "ratio",
    "scoring.floor_reject_ratio": "ratio", "components.edges": "count",
    "components.path": "flag", "resolve.clusters": "count",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.stored_bytes_per_input_byte": "ratio",
    "minhash_lsh.candidates": "count", "ngram_jaccard.kept_ratio": "ratio",
    "ann.lsh_scored_ratio": "ratio", "ann.lsh_recall_at_10": "ratio",
    "ann.ivf_recall_at_10": "ratio",
}


def span_metric(span: str) -> str:
    """Wall-time metric name of a span: ``scoring.s``, ``ann.train_s``,
    ``checkpoint.write_s``."""
    return f"{span}_s" if "." in span else f"{span}.s"


def per_layer_units() -> dict[str, str]:
    units = {span_metric(s): "s" for s in SPANS}
    units.update({"pipeline.overhead_s": "s", "pipeline.jobs": "count",
                  "checkpoint.jobs": "count",
                  "scoring.shuffle_read_mb": "MB",
                  "trace.overhead_s": "s"})
    for span in SPANS:
        for col, unit in SPAN_COLUMNS.items():
            units[f"{span}.{col}"] = unit
    for col, unit in TOTAL_COLUMNS.items():
        units[f"total.{col}"] = unit
    units.update(COUNTS)
    return units


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (the self-test uses a small one)")
    return p.parse_args(argv)


def prepare_environment() -> None:
    """Keep every file the run, Spark and its workers write in WORK."""
    for sub in ("tmp", "spark-local"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    tempfile.tempdir = os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    # a small driver heap: the inputs are small and memory is shared
    os.environ["SPARK_DRIVER_MEM"] = "2g"


def start_session(event_log: Path | None = None):
    tmp = WORK / "tmp"
    conf = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log.as_uri(),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark("perfbench", cores=len(os.sched_getaffinity(0)),
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the session's JVM and wait for it (and so for the UDF workers
    it forked) to exit. The JVM exits when its stdin closes."""
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def release(spark) -> None:
    """Drop the finished job's localCheckpoint blocks. Inputs are never
    checkpointed (every job rereads its parquet), so nothing a later
    job needs is lost."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    spark.catalog.clearCache()


def layer_shares(tracer, rows) -> list[str]:
    """Where a traced job's wall time went: for each span, its share of
    the job's span wall time and how busy it kept the cores (task run
    time / (cores x wall)); low busy shares mean fixed per-job costs."""
    cores = len(os.sched_getaffinity(0))
    totals = tracer.totals()
    spans = [s for s in SPANS
             if s not in CHECKPOINT_SPANS and totals.get(s)]
    wall = sum(totals[s] for s in spans)
    out = []
    for s in spans:
        run_s = rows.get(s, {}).get("exec_run_s", 0.0)
        out.append(f"share {s}: {totals[s] / wall:.3f} of span wall "
                   f"({totals[s]:.2f} s), cores busy "
                   f"{run_s / (cores * totals[s]):.3f}")
    return out


def interval_union(intervals) -> float:
    total, end = 0.0, float("-inf")
    for t0, t1 in sorted(intervals):
        if t1 > end:
            total += t1 - max(t0, end)
            end = t1
    return total


class Run:
    def __init__(self, args):
        self.args = args
        self.workload = workloads.make(args.workload, WORK)
        self.tracer_off = spans.Tracer()
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []
        self.seen_path = WORK / "checksums.json"
        self.seen = (json.loads(self.seen_path.read_text())
                     if self.seen_path.exists() else {})

    def make_inputs(self):
        name, seed, scale = self.args.workload, self.args.seed, self.args.scale
        run_dir = WORK / "inputs"
        shutil.rmtree(run_dir, ignore_errors=True)
        made = {}
        for role, factor in (("timed", 1.0), ("warmup", inputs.WARMUP_SHARE)):
            s = inputs.input_seed(name, seed, role)
            out = run_dir / f"{name}-{s}"
            out.mkdir(parents=True)
            made[role] = self.workload.make_input(out, s, scale * factor)
        return made["timed"], made["warmup"]

    def one_job(self, spark, inp, tracer) -> dict | None:
        """Time one job and check it. None if it raised."""
        self.attempted += 1
        cpu0, t0 = tree_cpu_s(), time.monotonic()
        try:
            with RssPeak() as rss:
                out = self.workload.job(spark, inp, tracer)
            wall, cpu = time.monotonic() - t0, tree_cpu_s() - cpu0
            fails, quality, info = self.workload.check(spark, inp, out,
                                                       self.seen)
        except Exception as exc:            # a failed job is a failed run
            self.failed += 1
            self.messages.append(f"job raised {type(exc).__name__}: {exc}")
            return None
        if fails:
            self.failed += 1
            self.messages.extend(fails)
        return {"wall": wall, "cpu": cpu, "rss": rss.peak_mb,
                "quality": quality, "info": info, "out": out}

    def setup(self, warm_inp):
        """Session start + package ship + one untimed warm-up job."""
        event_log = None
        if self.args.trace:
            shutil.rmtree(EVENT_LOG, ignore_errors=True)
            event_log = EVENT_LOG
        t0 = time.monotonic()
        spark = start_session(event_log)
        spark.sparkContext.setJobGroup("warmup", "warmup")
        self.workload.job(spark, warm_inp, self.tracer_off)
        release(spark)
        spark.sparkContext.setJobGroup("untraced", "untraced")
        return spark, time.monotonic() - t0

    def measure(self, spark, inp, min_jobs: int = 1) -> list[dict]:
        jobs, busy = [], 0.0
        while len(jobs) < min_jobs or busy < self.args.seconds:
            job = self.one_job(spark, inp, self.tracer_off)
            release(spark)
            if job is None:
                break
            jobs.append(job)
            busy += job["wall"]
        return jobs

    def end_to_end(self, setup_s: float, jobs: list[dict], n_items: int):
        med = lambda key: statistics.median(j[key] for j in jobs)  # noqa: E731
        values = {
            "setup_s": setup_s,
            "items_per_s": n_items / med("wall"),
            "cpu_s": med("cpu"),
            "py_peak_rss_mb": med("rss"),
            "quality": med("quality"),
        }
        for key in jobs[0]["info"]:
            self.messages.append(
                f"{self.args.workload}.{key} median "
                f"{statistics.median(j['info'][key] for j in jobs):.6g}")
        self.messages.append(f"jobs measured: {len(jobs)}, job wall s: "
                             + ", ".join(f"{j['wall']:.3f}" for j in jobs))
        return {k: {"value": v, "unit": END_TO_END[k]}
                for k, v in values.items()}

    def traced(self, spark, inp, untraced_wall: float) -> dict:
        """Run one traced job, then the workload's counters, and parse
        the session's event log."""
        tracer = spans.Tracer(spark, enabled=True)
        spark.sparkContext.setJobGroup(spans.OUTSIDE, spans.OUTSIDE)
        with spans.instrument(tracer):
            job = self.one_job(spark, inp, tracer)
        counts = {}
        if job is not None:
            with tracer.span("probe"):
                counts = self.workload.counts(spark, inp, job["out"], tracer)
        release(spark)
        spark.stop()
        rows = ledger.parse_dir(EVENT_LOG)
        if job is None:
            return {}
        return self.per_layer(tracer, rows, counts,
                              job["wall"] - untraced_wall)

    def per_layer(self, tracer, rows, counts, overhead_s) -> dict:
        zero = {c: 0.0 for c in ledger.COLUMNS}
        totals = tracer.totals()
        values = {span_metric(s): totals.get(s, 0.0) for s in SPANS}
        for span in SPANS:
            for col in SPAN_COLUMNS:
                values[f"{span}.{col}"] = rows.get(span, zero)[col]
        job_groups = [g for g in rows if g not in NOT_TRACED]
        for col in TOTAL_COLUMNS:
            values[f"total.{col}"] = sum(rows[g][col] for g in job_groups)
        self.messages.extend(layer_shares(tracer, rows))
        pipeline_groups = (set(PHASES) | {p + "@ckpt" for p in PHASES}
                           | {"pipeline"})
        inner = [(t0, t1) for name, t0, t1 in tracer.spans
                 if name in pipeline_groups and name != "pipeline"]
        values.update({
            "pipeline.overhead_s": max(0.0, totals.get("pipeline", 0.0)
                                       - interval_union(inner)),
            "pipeline.jobs": sum(rows.get(g, zero)["jobs"]
                                 for g in pipeline_groups),
            "checkpoint.jobs": sum(rows.get(g, zero)["jobs"]
                                   for g in CHECKPOINT_SPANS),
            "scoring.shuffle_read_mb":
                rows.get("scoring", zero)["shuffle_read_mb"],
            "trace.overhead_s": overhead_s,
        })
        values.update({k: counts.get(k, 0) for k in COUNTS})
        units = per_layer_units()
        return {k: {"value": float(values[k]), "unit": units[k]}
                for k in units}


def main(argv=None) -> int:
    args = parse_args(argv)
    prepare_environment()
    run = Run(args)
    inp, warm_inp = run.make_inputs()
    try:
        spark, setup_s = run.setup(warm_inp)
        jobs = run.measure(spark, inp, min_jobs=2 if args.trace else 1)
        if not jobs:
            metrics = {}
        elif args.trace:
            untraced = statistics.median(j["wall"] for j in jobs[1:] or jobs)
            run.messages.append("untraced job wall s: " + ", ".join(
                f"{j['wall']:.3f}" for j in jobs))
            metrics = run.traced(spark, inp, untraced)
        else:
            metrics = run.end_to_end(setup_s, jobs, inp.n_items)
    finally:
        stop_jvm()
    run.seen_path.write_text(json.dumps(run.seen))
    for msg in run.messages:
        print(msg)
    print(json.dumps({
        "correct": run.failed == 0 and bool(metrics),
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
