"""Reader for an uncompressed, non-rolling Spark event log.

The traced run tags every operation with ``SparkContext.setJobGroup`` and
writes the log to a directory of its own.  This module groups the log's
jobs, stages and tasks by job group and sums, per group:

* the job floor: jobs, stages, tasks, task launch wait and deserialisation
  time, the union of the job intervals, task run and CPU time, result bytes
  collected by the driver, shuffle bytes and fetch wait, spill and GC;
* the Python boundary, from the ``MapInArrow``/``ArrowEvalPython`` SQL
  metrics the tasks report: worker start, init and run time, and the bytes
  sent to and returned from the workers.

Times are task time summed over tasks unless the name says otherwise
(``job_wall_s`` is wall time).  Spark reports them in ms (CPU time in ns).
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

#: SQL metric name -> (metric, scale to seconds or bytes)
PYTHON_METRICS = {
    "time to start Python workers": ("python.start_s", 1e-3),
    "time to initialize Python workers": ("python.init_s", 1e-3),
    "time to run Python workers": ("python.run_s", 1e-3),
    "data sent to Python workers": ("python.bytes_sent", 1),
    "data returned from Python workers": ("python.bytes_returned", 1),
}

SPARK_METRICS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_launch_wait_s",
    "spark.task_deser_s", "spark.job_wall_s", "spark.task_run_s",
    "spark.task_cpu_s", "spark.result_bytes", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.shuffle_fetch_wait_s",
    "spark.spill_bytes", "spark.gc_s",
)

METRICS = SPARK_METRICS + tuple(m for m, _ in PYTHON_METRICS.values())


def find_log(log_dir: str) -> str:
    """The single finished log in ``log_dir`` (the context must be stopped,
    which flushes the log and drops its ``.inprogress`` suffix)."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    done = [n for n in names if not n.endswith(".inprogress")]
    if len(done) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {names}")
    return os.path.join(log_dir, done[0])


def _union_s(intervals) -> float:
    """Length of the union of ``(start_ms, end_ms)`` intervals, in s."""
    total = 0
    end = None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1000.0


def read_groups(path: str) -> dict[str, dict[str, float]]:
    """Per job group, every metric in :data:`METRICS`.  Jobs run without a
    group are ignored."""
    stage_group: dict[int, str] = {}
    stage_submit: dict[int, int] = {}
    job_group: dict[int, str] = {}
    job_span: dict[int, list] = {}
    stages_run: dict[str, set] = defaultdict(set)
    acc: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(METRICS, 0.0))
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                job_group[ev["Job ID"]] = group
                job_span[ev["Job ID"]] = [ev["Submission Time"], None]
                acc[group]["spark.jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in job_span:
                    job_span[ev["Job ID"]][1] = ev["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                stage_submit[info["Stage ID"]] = info.get("Submission Time")
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is None:
                    continue
                _add_task(acc[group], ev, stage_submit.get(ev["Stage ID"]))
                stages_run[group].add((ev["Stage ID"],
                                       ev["Stage Attempt ID"]))
    spans = defaultdict(list)
    for job, (s, e) in job_span.items():
        if e is not None:
            spans[job_group[job]].append((s, e))
    for group, m in acc.items():
        m["spark.stages"] = float(len(stages_run[group]))
        m["spark.job_wall_s"] = _union_s(spans[group])
    return dict(acc)


def _add_task(m: dict, ev: dict, stage_submit_ms) -> None:
    info = ev["Task Info"]
    tm = ev.get("Task Metrics") or {}
    m["spark.tasks"] += 1
    if stage_submit_ms is not None:
        m["spark.task_launch_wait_s"] += max(
            0, info["Launch Time"] - stage_submit_ms) / 1000.0
    m["spark.task_deser_s"] += tm.get("Executor Deserialize Time", 0) / 1e3
    m["spark.task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
    m["spark.task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    m["spark.result_bytes"] += tm.get("Result Size", 0)
    m["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
    m["spark.spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
    sw = tm.get("Shuffle Write Metrics") or {}
    m["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    sr = tm.get("Shuffle Read Metrics") or {}
    m["spark.shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                      + sr.get("Local Bytes Read", 0))
    m["spark.shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
    for a in info.get("Accumulables", ()):
        hit = PYTHON_METRICS.get(a.get("Name"))
        if hit is not None and a.get("Update") is not None:
            m[hit[0]] += float(a["Update"]) * hit[1]
