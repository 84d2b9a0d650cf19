"""gaia_spark benchmark.

    python3 perfbench/run.py --workload crawl_ingest --seed 1 --seconds 14 --trace 0
    python3 perfbench/run.py --workload all          # every workload, default seed

Runs one workload at local[<cores>] from one process with one client (closed
loop) and prints, as the last line of stdout, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced run.
Everything else (per-pass times, host weather, failures) goes to stderr.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "rows_per_s": "1/s",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
}
PER_LAYER = {
    "scan.self_s": "s",
    "geoparse.self_s": "s",
    "geoparse.hit_ratio": "share",
    "spatial_join.self_s": "s",
    "spatial_join.candidates": "count",
    "spatial_join.match_ratio": "share",
    "icelite.append_s": "s",
    "icelite.bytes_written_mb": "MB",
    "icelite.files_written": "count",
    "icelite.read_s": "s",
    "lineage.overhead_s": "s",
    "lineage.resume_skip_s": "s",
    "feature_join.self_s": "s",
    "feature_join.candidates": "count",
    "feature_join.match_ratio": "share",
    "zonal.self_s": "s",
    "raster.pyramid_s": "s",
    "raster.tiles_out": "count",
    "knn.self_s": "s",
    "interpolate.kde_s": "s",
    "queries.plan_ms": "ms",
    "queries.exec_ms": "ms",
    "queries.plan_share": "share",
    "spark.cpu_busy_share": "share",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.tasks": "count",
    "spark.task_failures": "count",
    "tracing.overhead_share": "share",
}
SETUP_REPS = 5


def log(obj) -> None:
    print("perfbench " + json.dumps(obj), file=sys.stderr, flush=True)


class Run:
    """Counts operations attempted and failed, and checks every output
    against the fingerprint recorded for this seed. An output with no
    recorded fingerprint is recorded from its first pass, and saved only if
    the whole run, its oracle check included, failed nothing."""

    def __init__(self, ref_path: str):
        self.attempted = self.failed = 0
        self.ref_path = ref_path
        self.refs = {}
        self.recorded = False
        if os.path.exists(ref_path):
            with open(ref_path) as f:
                self.refs = {k: (v[0], v[1], tuple(v[2])) for k, v in json.load(f).items()}

    def check(self, result) -> None:
        from harness import same_fingerprint

        for op, fp in result.outputs.items():
            self.attempted += 1
            if op not in self.refs:
                self.refs[op] = fp
                self.recorded = True
            elif not same_fingerprint(fp, self.refs[op]):
                self.failed += 1
                log({"mismatch": op, "got": fp, "recorded": self.refs[op]})

    def save(self) -> None:
        if self.failed or not self.recorded:
            return
        with open(self.ref_path, "w") as f:
            json.dump(self.refs, f)

    def failure(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        log({"failed": what, "error": traceback.format_exc()})


def run_workload(name: str, seed: int, seconds: float, trace: bool, size_name: str) -> dict:
    import harness as H
    from inputs import CACHE

    run_dir = os.path.join(CACHE, "runs", str(os.getpid()))
    H.prepare_process_env(run_dir)
    try:
        return measure(name, seed, seconds, trace, size_name, run_dir)
    finally:
        H.clean_dir(run_dir)


def measure(name: str, seed: int, seconds: float, trace: bool, size_name: str, run_dir: str) -> dict:
    import harness as H
    from inputs import SIZES
    from workloads import WORKLOADS

    event_dir = os.path.join(run_dir, "eventlog") if trace else None
    smoke = size_name == "smoke"
    w = WORKLOADS[name](seed, SIZES[size_name], run_dir, size_name)
    os.makedirs(w.dir, exist_ok=True)
    run = Run(getattr(w, "reference", None) or os.path.join(w.dir, "fingerprints.json"))
    weather = H.Weather()
    setups, passes, ops, traced, layers, windows, spans = [], [], [], [], [], [], []
    try:
        # set-up: session (re)start, seeded inputs (built once, then cached)
        # and the workload's prepare step; several times, median reported
        for _ in range(1 if smoke else SETUP_REPS):
            t0 = time.perf_counter()
            spark = H.start_session(run_dir, event_dir)
            w.prepare(spark)
            setups.append(time.perf_counter() - t0)
        warmup_s = []
        for _ in range(1 if smoke else w.warmup_passes):  # discarded
            t0 = time.perf_counter()
            run.check(w.run_pass(spark, -1))
            warmup_s.append(time.perf_counter() - t0)

        end = time.perf_counter() + seconds
        k = 0
        while True:
            weather.before()
            w0 = time.time()
            try:
                res = w.run_pass(spark, k)
            except Exception:
                run.failure(f"{name} pass {k}")
            else:
                windows.append((w0, time.time()))
                passes.append(res.seconds)
                ops += res.ops
                run.check(res)
            weather.after()
            if trace:
                tr = H.Tracer()
                try:
                    t, m = w.traced_pass(spark, tr, first=not layers)
                    traced.append(t)
                    layers.append(m)
                except Exception:
                    run.failure(f"{name} traced pass {k}")
                spans += tr.spans
            k += 1
            if smoke or time.perf_counter() >= end:
                break

        try:
            problems = w.oracle_check(spark)
        except Exception:
            run.failure(f"{name} oracle check")
        else:
            run.attempted += 1
            for problem in problems:
                run.failed += 1
                log({"oracle": problem})
        run.save()
    finally:
        H.stop_all()

    if not passes:
        raise RuntimeError(f"{name}: every pass failed")
    log({
        "workload": name, "seed": seed, "size": size_name, "trace": trace,
        "setup_s": setups, "warmup_s": warmup_s, "pass_s": passes, "error_rate": run.failed / run.attempted,
        "op_median_s": {op: statistics.median(dt for o, dt in ops if o == op) for op, _ in ops},
        "host_weather": weather.summary(), "host_weather_passes": weather.passes,
    })
    ops = [dt for _, dt in ops]
    pass_s = statistics.median(passes)
    if trace:
        values = {}
        for k in PER_LAYER:
            got = [m[k] for m in layers if k in m]
            if got:
                values[k] = (statistics.median(got), len(got))
        spark_metrics = H.spark_pass_metrics(H.event_log_tasks(event_dir), windows)
        values.update({k: (v, len(windows)) for k, v in spark_metrics.items()})
        if traced:
            values["tracing.overhead_share"] = (statistics.median(traced) / pass_s - 1.0, len(traced))
        values = {k: values.get(k, (0.0, 0)) for k in PER_LAYER}
        units = PER_LAYER
        H.Tracer(spans).dump(os.path.join(w.dir, "spans.json"))
    else:
        deciles = statistics.quantiles(ops, n=10, method="inclusive")
        values = {
            "setup_s": (statistics.median(setups), len(setups)),
            "pass_s": (pass_s, len(passes)),
            "rows_per_s": (w.input_rows / pass_s, len(passes)),
            "op_p50_ms": (1e3 * deciles[4], len(ops)),
            "op_p90_ms": (1e3 * deciles[8], len(ops)),
        }
        units = END_TO_END
    # The result line holds exactly value and unit per metric; the sample
    # counts go to stderr beside the other run details.
    log({"workload": name, "samples": {k: n for k, (_, n) in values.items()}})
    metrics = {k: {"value": v, "unit": units[k]} for k, (v, _) in values.items()}
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }


def run_all(args) -> int:
    """Every workload in its own process; one summary line with
    ``<workload>.<metric>`` names and each workload's error_rate."""
    summary = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in ("crawl_ingest", "interactive_ops", "points_analytics"):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace), "--size", args.size]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"perfbench: {name} exited with {proc.returncode}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        for key in ("attempted", "failed"):
            summary[key] += res[key]
        summary["correct"] &= res["correct"]
        for metric, v in res["metrics"].items():
            summary["metrics"][f"{name}.{metric}"] = v
        summary["metrics"][f"{name}.error_rate"] = {
            "value": res["failed"] / res["attempted"], "unit": "share",
        }
    print(json.dumps(summary))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True,
                   choices=["crawl_ingest", "points_analytics", "interactive_ops", "all"])
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=14.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "smoke"], default="full")
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "gaia_spark", "__init__.py")):
        print(f"perfbench: no gaia_spark package next to {HERE}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)

    # Only the result line may reach stdout: the JVM and its Python workers
    # inherit fd 1, so point it at stderr and keep a private copy.
    out_fd = os.dup(1)
    os.dup2(2, 1)
    sys.path[:0] = [HERE, ROOT]
    try:
        result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), args.size)
    except Exception:
        traceback.print_exc()
        return 1
    os.write(out_fd, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
