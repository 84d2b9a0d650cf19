"""Measurement plumbing shared by the workloads: the Spark session launcher,
spans, noop-sink materialisation, output fingerprints, host weather and
the Spark event-log reader."""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import statistics
import subprocess
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

from inputs import ROOT


# ---------------------------------------------------------------------------
# session launcher
# ---------------------------------------------------------------------------

def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_process_env(run_dir: str) -> None:
    """Environment the JVM and its Python workers inherit: the repo on the
    workers' path and every temp/scratch dir inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)


def start_session(run_dir: str, event_log_dir: str | None):
    """(Re)start the engine's session at local[<cores>]. A second call in
    the same process restarts the SparkContext on the running JVM."""
    from pyspark.sql import SparkSession

    from gaia_spark.session import get_session

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = "file://" + event_log_dir
        confs["spark.eventLog.compress"] = "false"
        confs["spark.eventLog.rolling.enabled"] = "false"
    spark = get_session(f"local[{cores()}]", app_name="perfbench", confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_all() -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def materialize(df) -> None:
    """Run a plan to completion without keeping its rows. The noop sink
    consumes every output column, so Catalyst cannot prune any away."""
    df.write.format("noop").mode("overwrite").save()


def clean_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None


@dataclass
class Tracer:
    """In-memory spans around the benchmark's calls into each layer."""

    spans: list[Span] = field(default_factory=list)
    _stack: list[str] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append(Span(name, t0, time.perf_counter(), parent))
            self._stack.pop()

    def record(self, name: str, start: float, end: float) -> None:
        self.spans.append(Span(name, start, end, self._stack[-1] if self._stack else None))

    def timed(self, name: str, fn, *args):
        with self.span(name):
            return fn(*args)

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


# ---------------------------------------------------------------------------
# output fingerprints (order-insensitive)
# ---------------------------------------------------------------------------

FLOAT_TYPES = ("double", "float")


def spark_fingerprint(df) -> tuple:
    """(rows, hash-sum over exact columns, sums of float columns). Floats
    are summed, not hashed: their last bits depend on aggregation order."""
    import pyspark.sql.functions as F

    exact = [c for c, t in df.dtypes if t not in FLOAT_TYPES]
    floats = [c for c, t in df.dtypes if t in FLOAT_TYPES]
    aggs = [F.count(F.lit(1))]
    if exact:
        aggs.append(F.sum(F.pmod(F.xxhash64(*exact), F.lit(1 << 40))))
    aggs += [F.sum(c) for c in floats]
    row = df.agg(*aggs).first()
    n = row[0]
    h = row[1] if exact else 0
    return (n, h or 0, tuple(float(v or 0.0) for v in row[1 + bool(exact):]))


def rows_fingerprint(rows) -> tuple:
    """Driver-side fingerprint of collected rows (exact, order-insensitive)."""
    import hashlib

    digest = hashlib.sha1("\n".join(sorted(repr(tuple(r)) for r in rows)).encode()).hexdigest()
    return (len(rows), digest, ())


def same_fingerprint(a, b, rtol: float = 1e-9) -> bool:
    if a is None or b is None or a[0] != b[0] or a[1] != b[1] or len(a[2]) != len(b[2]):
        return False
    return all(math.isclose(x, y, rel_tol=rtol, abs_tol=1e-6) for x, y in zip(a[2], b[2]))


# ---------------------------------------------------------------------------
# host weather: CPU steal and a fixed memory-bandwidth canary
# ---------------------------------------------------------------------------

_CANARY = np.ones(2 << 20)  # 16 MiB of float64


def _cpu_times() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals[:8])


def membw_gbps() -> float:
    """Copy bandwidth of a fixed 16 MiB buffer (read + write bytes / s)."""
    out = np.empty_like(_CANARY)
    t0 = time.perf_counter()
    for _ in range(4):
        np.copyto(out, _CANARY)
    dt = time.perf_counter() - t0
    return 4 * 2 * _CANARY.nbytes / dt / 1e9


class Weather:
    """Per-pass host weather. Recorded and printed only: never used to drop
    or pick samples."""

    def __init__(self):
        self.passes: list[dict] = []
        self._t0 = None

    def before(self) -> None:
        self._t0 = (_cpu_times(), membw_gbps())

    def after(self) -> None:
        (s0, t0), bw0 = self._t0
        s1, t1 = _cpu_times()
        self.passes.append({
            "steal_share": (s1 - s0) / max(t1 - t0, 1),
            "membw_gbps_before": round(bw0, 3),
            "membw_gbps_after": round(membw_gbps(), 3),
        })

    def summary(self) -> dict:
        if not self.passes:
            return {}
        bw = [p[k] for p in self.passes for k in ("membw_gbps_before", "membw_gbps_after")]
        return {
            "passes": len(self.passes),
            "steal_share_max": max(p["steal_share"] for p in self.passes),
            "membw_gbps_min": min(bw),
            "membw_gbps_median": statistics.median(bw),
        }


# ---------------------------------------------------------------------------
# Spark event log (traced runs only)
# ---------------------------------------------------------------------------

def event_log_tasks(event_log_dir: str) -> list[dict]:
    """Finished tasks of every application logged under ``event_log_dir``:
    finish time (epoch s) and the metrics the per-layer report needs."""
    tasks = []
    for path in glob.glob(os.path.join(event_log_dir, "*")):
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "finish": ev["Task Info"]["Finish Time"] / 1000.0,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
                    "spill_b": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "failed": ev.get("Task End Reason", {}).get("Reason") != "Success",
                })
    return tasks


def spark_pass_metrics(tasks: list[dict], windows: list[tuple[float, float]]) -> dict[str, float]:
    """Median over passes of the event-log metrics of the tasks that finished
    inside each pass's wall-clock window (epoch seconds)."""
    per_pass = []
    for t0, t1 in windows:
        ts = [t for t in tasks if t0 <= t["finish"] <= t1]
        per_pass.append({
            "spark.cpu_busy_share": sum(t["cpu_s"] for t in ts) / ((t1 - t0) * cores()),
            "spark.gc_s": sum(t["gc_s"] for t in ts),
            "spark.shuffle_write_mb": sum(t["shuffle_write_b"] for t in ts) / 1e6,
            "spark.spill_mb": sum(t["spill_b"] for t in ts) / 1e6,
            "spark.tasks": float(len(ts)),
            "spark.task_failures": float(sum(t["failed"] for t in ts)),
        })
    return {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]} if per_pass else {}
