"""Benchmark command: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload clips_suite --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Every workload runs on ``local[nproc]``
with ``nproc`` shuffle partitions, as a closed loop with one client: the
next operation starts when the previous one has returned and its output
has been checked.

``--trace 0`` measures the end-to-end metrics with tracing off:

- ``setup_s``: session start (``session.get_spark``) to the end of the
  untimed warm-up operations; set up ``SETUPS`` times (stopping the
  session in between), median reported;
- ``job_s``, ``cpu_s``: median wall and process-tree CPU seconds of one
  timed operation; ``rows_per_s`` = input rows / ``job_s``;
- ``peak_rss_mb``: peak RSS of the process tree while timing.

``--trace 1`` measures ``job_s`` untraced, then restarts the session with
the event log on, times traced operations and the layer calls each
workload names (``workloads.py``), and reports the per-layer metrics of
BENCHMARK.json. A layer the workload does not run reports 0.

The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``; the line before it is a report with the host record, the
samples, ``failed_frac`` and, for ``--trace 1``, the full breakdown.
All files a run writes stay under ``.perfbench_work/`` in the checkout;
the run's own directory is deleted when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
import uuid
from contextlib import contextmanager

from fixtures import DRIVER_MEM

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 2
MODULES = ("sources", "schema", "operators", "functions", "plans", "dedup", "snapshots")


def contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Tracer:
    """Spans kept in memory: name, parent, wall interval and process-tree
    CPU. Each span's name is also the Spark job description of every job
    started inside it, so the event log attributes stages to spans."""

    def __init__(self, sc, monitor):
        self.sc = sc
        self.monitor = monitor
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent and parent["id"]}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobDescription(name)
        cpu0, rec["start"] = self.monitor.cpu_s(), time.time()
        try:
            yield
        finally:
            rec["end"], rec["cpu_s"] = time.time(), self.monitor.cpu_s() - cpu0
            self._stack.pop()
            self.sc.setJobDescription(parent["name"] if parent else None)

    def instances(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def children(self, name: str) -> list[str]:
        """Names of the spans opened directly inside a ``name`` span."""
        ids = {s["id"] for s in self.instances(name)}
        return list(dict.fromkeys(s["name"] for s in self.spans if s["parent"] in ids))

    def self_s(self, span: dict) -> float:
        children = [c for c in self.spans if c["parent"] == span["id"]]
        return (span["end"] - span["start"]) - sum(c["end"] - c["start"] for c in children)

    def median_total(self, name: str) -> float:
        spans = self.instances(name)
        return statistics.median(s["end"] - s["start"] for s in spans) if spans else 0.0

    def median_cpu(self, name: str) -> float:
        spans = self.instances(name)
        return statistics.median(s["cpu_s"] for s in spans) if spans else 0.0

    def table(self) -> dict:
        out = {}
        for name in dict.fromkeys(s["name"] for s in self.spans):
            spans = self.instances(name)
            out[name] = {
                "calls": len(spans),
                "median_s": self.median_total(name),
                "median_self_s": statistics.median(self.self_s(s) for s in spans),
                "median_cpu_s": self.median_cpu(name),
            }
        return out


class Run:
    def __init__(self, args, run_dir: str, monitor):
        from marshmallow_spark.session import get_spark
        from workloads import WORKLOADS

        self.args = args
        self.run_dir = run_dir
        self.monitor = monitor
        self.get_spark = get_spark
        self.nproc = len(os.sched_getaffinity(0))
        self.wl = WORKLOADS[args.workload](args.seed, run_dir)
        self.spark = None
        self.checks: list[dict] = []

    def start_session(self, event_log_dir: str | None = None):
        from fixtures import spark_conf

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = self.get_spark(
            "perfbench",
            master=f"local[{self.nproc}]",
            shuffle_partitions=self.nproc,
            extra_conf=spark_conf(self.run_dir, event_log_dir),
        )
        return time.perf_counter() - t0

    def setup(self, event_log_dir: str | None = None) -> tuple[float, float]:
        """Start a session and run the first operation; returns (session
        start seconds, setup seconds)."""
        t0 = time.perf_counter()
        start_s = self.start_session(event_log_dir)
        self.wl.prepare(self.spark)
        self.wl.release(self.wl.op())
        return start_s, time.perf_counter() - t0

    def settle(self) -> None:
        """The untimed warm-up after the last setup."""
        for _ in range(self.wl.settle_ops):
            self.wl.release(self.wl.op())

    def warm_up(self) -> tuple[list[float], list[float]]:
        """``SETUPS`` setups, then the settle operations; returns the
        session start and setup seconds of each setup."""
        # a restart keeps the JVM's compiled code, so the later setups
        # also serve as warm-up for the timed operations
        starts, setups = [], []
        for _ in range(SETUPS):
            start_s, setup_s = self.setup()
            starts.append(start_s)
            setups.append(setup_s)
        self.settle()
        return starts, setups

    def measure(self, seconds: float, min_ops: int) -> dict:
        from procstat import host_steal_s

        walls, cpus, failed = [], [], 0
        self.monitor.reset_peak()
        steal0 = host_steal_s()
        deadline = time.monotonic() + seconds
        while time.monotonic() < deadline or len(walls) < min_ops:
            cpu0, t0 = self.monitor.cpu_s(), time.perf_counter()
            try:
                out, err = self.wl.op(), None
            except Exception:  # an operation that raises is a failed one
                out, err = None, traceback.format_exc()
            walls.append(time.perf_counter() - t0)
            cpus.append(self.monitor.cpu_s() - cpu0)
            failed += not self._check(out, err)
        return {
            "walls": walls,
            "cpus": cpus,
            "failed": failed,
            "peak_rss_mb": self.monitor.peak_rss_mb(),
            "host_steal_s": host_steal_s() - steal0,
        }

    def _check(self, out, err: str | None) -> bool:
        res = {"ok": False, "error": err} if err else self.wl.check(out)
        if not res["ok"]:
            print(json.dumps({"mismatch": self.wl.name, "op": len(self.checks), **res}), flush=True)
        self.checks.append({k: res.get(k) for k in ("ok", "rows", "digest", "per_check")})
        return res["ok"]

    def untraced(self) -> tuple[dict, dict]:
        starts, setups = self.warm_up()
        m = self.measure(self.args.seconds, self.wl.min_ops)
        job_s = statistics.median(m["walls"])
        metrics = {
            "setup_s": statistics.median(setups),
            "job_s": job_s,
            "rows_per_s": self.wl.rows / job_s,
            "cpu_s": statistics.median(m["cpus"]),
            "peak_rss_mb": m["peak_rss_mb"],
        }
        report = {"setup_samples": setups, "session_start_samples": starts,
                  "job_samples": m["walls"], "cpu_samples": m["cpus"], "failed": m["failed"],
                  "host_steal_s": m["host_steal_s"]}
        return metrics, report

    def traced(self) -> tuple[dict, dict]:
        import eventlog

        half = self.args.seconds / 2
        # Both halves time operations that follow a session restart and
        # the settle operations. The JVM's first session stays slower
        # than later ones, with or without the event log, so neither
        # half is timed in it.
        starts, setups = self.warm_up()
        base = self.measure(half, min_ops=2)
        log_dir = os.path.join(self.run_dir, "eventlog")
        self.setup(log_dir)
        self.settle()
        tr = Tracer(self.spark.sparkContext, self.monitor)
        pass_span = f"{self.wl.name}.pass"
        failed = base["failed"]
        deadline = time.monotonic() + half
        while time.monotonic() < deadline or len(tr.instances(pass_span)) < 2:
            with tr.span(pass_span):
                out = self.wl.traced_op(tr)
            failed += not self._check(out, None)
        self.wl.layers(tr)
        self.spark.stop()
        self.spark = None
        log = eventlog.read(log_dir)

        untraced_job_s = statistics.median(base["walls"])
        traced_job_s = tr.median_total(pass_span)
        layer = self.wl.layer_metrics(tr, log, pass_span)
        # parquet rows the operation's scans read per input row; Spark's
        # bytes-read task metric stays near zero for this parquet reader
        passes = len(tr.instances(pass_span))
        scanned = sum(
            log[d].total("input_records") for d in (pass_span, *tr.children(pass_span)) if d in log
        ) / passes
        metrics = {
            "session.start_s": statistics.median(starts),
            "sources.scan_amplification": scanned / self.wl.rows,
            "trace.job_s": traced_job_s,
            "trace.overhead": traced_job_s / untraced_job_s - 1.0,
            "trace.unattributed_share": layer.pop("unattributed"),
            **layer,
        }
        for module in MODULES:
            # every description of the module's spans, per call
            descs = [d for d in log if d.startswith(module + ".")]
            calls = max((len(tr.instances(d)) for d in descs), default=1) or 1
            merged = eventlog.Description()
            for d in descs:
                merged.stages.update(log[d].stages)
            metrics.update({
                f"{module}.shuffle_write_mb": merged.total("shuffle_write_bytes") / calls / 2**20,
                f"{module}.fetch_wait_s": merged.total("fetch_wait_ms") / calls / 1e3,
                f"{module}.spill_mb": merged.total("spill_bytes") / calls / 2**20,
                f"{module}.gc_s": merged.total("gc_ms") / calls / 1e3,
                f"{module}.task_skew": merged.skew(),
            })
        report = {
            "untraced_job_samples": base["walls"],
            "traced_job_samples": [s["end"] - s["start"] for s in tr.instances(pass_span)],
            "setup_samples": setups,
            "session_start_samples": starts,
            "failed": failed,
            "spans": tr.table(),
            "descriptions": {
                d: {
                    "jobs": len(v.jobs),
                    "tasks": v.tasks(),
                    "task_s": sum(sum(st.task_ms) for st in v.stages.values()) / 1e3,
                    "executor_cpu_s": v.total("cpu_ns") / 1e9,
                    "gc_s": v.total("gc_ms") / 1e3,
                    "shuffle_write_mb": v.total("shuffle_write_bytes") / 2**20,
                    "shuffle_read_mb": v.total("shuffle_read_bytes") / 2**20,
                    "fetch_wait_s": v.total("fetch_wait_ms") / 1e3,
                    "spill_mb": v.total("spill_bytes") / 2**20,
                    "input_mb": v.total("input_bytes") / 2**20,
                    "input_records": v.total("input_records"),
                    "output_mb": v.total("output_bytes") / 2**20,
                    "py_sent_mb": v.total("py_sent_bytes") / 2**20,
                    "py_returned_mb": v.total("py_returned_bytes") / 2**20,
                    "py_run_s": v.total("py_run_ms") / 1e3,
                    "py_start_s": v.total("py_start_ms") / 1e3,
                    "task_skew": v.skew(),
                    **({"by_call_site": {
                        site.replace(ROOT + os.sep, ""): totals
                        for site, totals in v.by_stage_name().items()
                    }} if d.startswith("snapshots.") else {}),
                }
                for d, v in sorted(log.items())
            },
        }
        return metrics, report


def host_record() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "python": sys.version.split()[0],
        "driver_mem": os.environ["SPARK_DRIVER_MEM"],
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the engine and its Python workers import from the checkout
    sys.path.insert(0, ROOT)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    try:
        import marshmallow_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    from procstat import TreeMonitor, become_subreaper, end_descendants, stop_jvm
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    spec = contract()

    load_before = os.getloadavg()
    run_dir = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(run_dir)
    os.environ["TMPDIR"] = run_dir
    tempfile.tempdir = None
    # every process the run starts ends before it exits, also when it is
    # terminated: orphans reparent to this process, SIGTERM unwinds
    become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    run = None
    try:
        with TreeMonitor() as monitor:
            run = Run(args, run_dir, monitor)
            metrics, report = run.traced() if args.trace else run.untraced()
            if run.spark is not None:
                run.spark.stop()
    finally:
        try:
            stop_jvm()
        finally:
            end_descendants()
            shutil.rmtree(run_dir, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    out = {}
    for m in wanted:
        value = metrics.get(m["name"], 0.0)
        out[m["name"]] = {"value": float(value), "unit": m["unit"]}
    attempted = len(run.checks)
    failed = report["failed"]
    report.update({
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "host": {**host_record(), "load_before": load_before, "load_after": os.getloadavg()},
        "inputs": run.wl.inputs,
        "failed_frac": {"value": failed / attempted, "unit": "ratio"},
        "checks": run.checks,
        "all_metrics": metrics,
    })
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
