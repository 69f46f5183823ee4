"""Seeded, layer-attributed benchmark for SOM fitting and MinHash dedup.

Run from the root of a checkout:

    python3 perfbench/run.py --workload som_fit_jobfloor --seed 1 \
        --seconds 12 --trace 0

One driver process runs the named workload on ``local[<cores>]``: it sets
up ``SETUPS`` times (session, seeded inputs written to parquet, scan and
cache, warm-up), then runs the workload's operation back to back for
``--seconds`` seconds, checks every output, and prints one JSON line:

    {"correct": ..., "attempted": <ops>, "failed": <wrong ops>,
     "metrics": {<name>: {"value": ..., "unit": ...}, ...}}

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` first repeats
the plain measurement after one set-up, then sets up again with Spark's
event log on, tags each operation with its own job group, times the public
functions of each layer from outside, and reports the per-layer metrics
instead (see README.md for which end-to-end metric each should move).

Everything the run writes stays under ``.perfbench_tmp/`` in the checkout
and is removed at exit; the traced run leaves its span detail in
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "xpysom_dask_spark"

#: set-ups per plain run; setup_s is their median
SETUPS = 2
#: fixed JVM heap, touched at start so that jvm_rss_peak_mb does not depend
#: on when the collector decides to grow the heap
HEAP = "1g"


class Tracer:
    """In-memory spans ``(name, start, end, parent)`` recorded around the
    calls into each layer; the parent is the enclosing span."""

    def __init__(self):
        self.spans = []
        self._stack = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(len(self.spans))
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": parent}
        self.spans.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _vm_hwm_mb(pid="self") -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for {pid}")


def start_session(work: str, event_dir: str | None = None):
    from xpysom_dask_spark.session import make_session

    n = _cores()
    tmp = os.path.join(work, "spark")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{HEAP} -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.eventLog.enabled": str(event_dir is not None).lower(),
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({"spark.eventLog.dir": "file://" + event_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = make_session(app_name="perfbench", master=f"local[{n}]",
                         shuffle_partitions=n, driver_memory=HEAP,
                         extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Run:
    """One workload measured for a fixed window after ``SETUPS`` set-ups."""

    def __init__(self, cls, seed: int, seconds: float, work: str):
        self.cls, self.seed, self.seconds, self.work = cls, seed, seconds, work
        self.tracer = Tracer()
        self.spark = None
        self.wl = None

    def setup(self, event_dir=None) -> float:
        self.stop()
        t0 = time.perf_counter()
        with self.tracer.span("setup"):
            with self.tracer.span("session.start"):
                self.spark = start_session(self.work, event_dir)
            self.wl = self.cls(self.seed, os.path.join(self.work, "data"),
                               self.tracer)
            self.wl.setup(self.spark)
        return time.perf_counter() - t0

    def measure(self, group_prefix=None):
        """Run ops back to back until the window closes; returns
        ``(seconds per op, outputs, ops that raised)``."""
        sc = self.spark.sparkContext
        times, outputs, raised = [], [], 0
        end = time.perf_counter() + self.seconds
        while not times or time.perf_counter() < end:
            if group_prefix is not None:
                sc.setJobGroup(f"{group_prefix}{len(times)}", "timed op")
            t0 = time.perf_counter()
            with self.tracer.span("op"):
                try:
                    outputs.append(self.wl.op())
                except Exception:  # counted as failed; the run goes on
                    traceback.print_exc()
                    raised += 1
            times.append(time.perf_counter() - t0)
        if not outputs:
            raise RuntimeError("every operation failed")
        return times, outputs, raised

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._jvm.java.lang.ProcessHandle \
            .current().pid()


def end_to_end(run: Run, setups, times, outputs, raised):
    wrong, quality = run.wl.check(outputs)
    p50 = statistics.median(times)
    metrics = {
        "setup_s": statistics.median(setups),
        "op_s_p50": p50,
        "rows_per_s": run.wl.rows_per_op() / p50,
        "final_qe": quality["final_qe"],
        "pair_recall": quality["pair_recall"],
        "driver_rss_peak_mb": _vm_hwm_mb(),
        "jvm_rss_peak_mb": _vm_hwm_mb(run.jvm_pid()),
    }
    return metrics, wrong + raised


def traced(run: Run, plain_p50: float):
    """Per-layer metrics: a fresh set-up with the event log on, the timed
    window with one job group per op, then the layer timings.  Returns
    ``(per-layer metrics, seconds per traced op)``."""
    import eventlog

    event_dir = os.path.join(run.work, "eventlog")
    run.setup(event_dir)
    times, outputs, raised = run.measure(group_prefix="op-")
    layer = dict.fromkeys(metric_units("per_layer"), 0.0)
    sc = run.spark.sparkContext
    sc.setJobGroup("layers", "layer timings")
    with run.tracer.span("layers"):
        layer.update(run.wl.layers(run.spark, outputs))
    wrong = run.wl.check(outputs)[0]
    run.stop()
    groups = eventlog.read_groups(eventlog.find_log(event_dir))
    ops = [groups.get(f"op-{i}", dict.fromkeys(eventlog.METRICS, 0.0))
           for i in range(len(times))]
    for name in eventlog.METRICS:
        layer[name] = statistics.mean(g[name] for g in ops)
    layer["spark.driver_gap_s"] = statistics.mean(
        t - g["spark.job_wall_s"] for t, g in zip(times, ops))
    first = run.tracer.durations
    layer["session.start_s"] = first("session.start")[0]
    layer["sources.scan_cache_s"] = first("sources.scan_cache")[0]
    layer["plans.exchange.ship_s"] = first("plans.exchange.ship")[0]
    if "scoring-transform" in groups:
        layer["plans.scoring.bytes_returned"] = \
            groups["scoring-transform"]["python.bytes_returned"]
    layer["trace.overhead_s"] = statistics.median(times) - plain_p50
    layer["_failed"] = raised + wrong + layer.pop("_wrong", 0)
    return layer, times


def stop_jvm() -> None:
    """Shut down the JVM that PySpark launched and wait until it exits (it
    exits when its stdin closes; its Python workers follow it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def metric_units(kind: str) -> dict[str, str]:
    """``{name: unit}`` of the ``end_to_end`` or ``per_layer`` metrics
    listed in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE}/ not found next to perfbench/ in {ROOT}: run from "
              "the root of a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_tmp",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # Python workers get one BLAS thread per task from Spark; the driver's
    # kernel timings and reference fits use the same.  Every temporary file
    # (the shipped package zip, Spark's scratch and shuffle files) stays in
    # the checkout.
    os.environ.update({"OMP_NUM_THREADS": "1", "OPENBLAS_NUM_THREADS": "1",
                       "MKL_NUM_THREADS": "1", "TMPDIR": work,
                       "SPARK_LOCAL_DIRS": os.path.join(work, "spark")})
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    run = Run(WORKLOADS[args.workload], args.seed, args.seconds, work)
    try:
        # a traced run needs only the untraced op_s_p50 for
        # trace.overhead_s, so it sets up once before the traced set-up
        setups = [run.setup() for _ in range(1 if args.trace else SETUPS)]
        times, outputs, raised = run.measure()
        metrics, failed = end_to_end(run, setups, times, outputs, raised)
        attempted = len(times)
        if args.trace:
            layer, ttimes = traced(run, metrics["op_s_p50"])
            failed += layer.pop("_failed")
            attempted += len(ttimes)
            metrics, units = layer, metric_units("per_layer")
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            with open(os.path.join(ROOT, ".perfbench_out",
                                   f"{args.workload}-{args.seed}.json"),
                      "w", encoding="utf-8") as fh:
                json.dump({"metrics": layer, "spans": run.tracer.spans}, fh,
                          indent=1)
        else:
            units = metric_units("end_to_end")
    finally:
        run.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    print(f"{args.workload}: {attempted} ops, {failed} failed; setups "
          f"{[round(s, 2) for s in run.tracer.durations('setup')]}, ops "
          f"{[round(s, 2) for s in run.tracer.durations('op')]}",
          file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
