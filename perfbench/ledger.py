"""Per-span cost ledger from an uncompressed Spark event log.

Every job a traced run submits carries the job group of the span that
was open (``spans.Tracer``). Stages inherit the group through their
submission properties, and tasks through their stage, so each task's
metrics land in exactly one span's row. ``task_skew`` is max / median
task run time within the span's busiest stage (most task run time).

``python_s`` is task run time minus executor CPU time. The Python UDF
workers are separate processes whose CPU the JVM does not count, so
their time shows up as run time without CPU time (it also holds I/O
waits, which are small for these in-memory inputs).
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from pathlib import Path

GROUP_KEY = "spark.jobGroup.id"
COLUMNS = ("exec_run_s", "exec_cpu_s", "python_s", "gc_s",
           "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "tasks",
           "task_skew", "jobs")


def _group(props: dict | None) -> str | None:
    return (props or {}).get(GROUP_KEY)


def _skew(task_runs: list[float]) -> float:
    """max / median task run time of one stage."""
    median = statistics.median(task_runs)
    return max(task_runs) / median if median > 0 else 0.0


def parse(lines) -> dict[str, dict[str, float]]:
    """Event-log lines -> {job group: {column: value}} (see COLUMNS)."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    # task run times per (group, stage)
    runs: dict[tuple[str, int], list[float]] = defaultdict(list)
    sums: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = _group(ev.get("Properties"))
            if group is not None:
                jobs[group] += 1
                for sid in ev.get("Stage IDs", ()):
                    stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            group = _group(ev.get("Properties"))
            if group is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if group is None or not m:
                continue
            run_s = m.get("Executor Run Time", 0) / 1e3
            cpu_s = m.get("Executor CPU Time", 0) / 1e9
            read = m.get("Shuffle Read Metrics", {})
            write = m.get("Shuffle Write Metrics", {})
            row = sums[group]
            row["exec_run_s"] += run_s
            row["exec_cpu_s"] += cpu_s
            row["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            row["shuffle_read_mb"] += (read.get("Remote Bytes Read", 0)
                                       + read.get("Local Bytes Read", 0)) / 2**20
            row["shuffle_write_mb"] += write.get("Shuffle Bytes Written", 0) / 2**20
            row["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                + m.get("Disk Bytes Spilled", 0)) / 2**20
            runs[group, ev["Stage ID"]].append(run_s)
    out: dict[str, dict[str, float]] = {}
    for group in set(jobs) | set(sums):
        row = {c: 0.0 for c in COLUMNS}
        row.update(sums.get(group, {}))
        row["python_s"] = max(0.0, row["exec_run_s"] - row["exec_cpu_s"])
        stages = [r for (g, _), r in runs.items() if g == group]
        row["tasks"] = float(sum(len(r) for r in stages))
        row["task_skew"] = _skew(max(stages, key=sum)) if stages else 0.0
        row["jobs"] = float(jobs.get(group, 0))
        out[group] = row
    return out


def parse_dir(log_dir: Path) -> dict[str, dict[str, float]]:
    """Parse the one finished (not ``.inprogress``) log in ``log_dir``."""
    logs = [p for p in Path(log_dir).iterdir()
            if p.is_file() and not p.name.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {[p.name for p in logs]}")
    with logs[0].open() as f:
        return parse(f)
