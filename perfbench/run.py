"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One run sets up (services, inputs,
JVM, one untimed warm-up pass), then repeats timed passes of the
workload for ``--seconds`` seconds and at least two passes (with
``--trace 1`` alternating untraced and traced), checks the outputs,
tears everything down and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones. Everything the run writes stays under ``.perfbench/`` in the
checkout; the spans of each run are kept in ``.perfbench/traces/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASE = os.path.join(ROOT, ".perfbench")
REQUIRED = ("s3_parquet_to_postgres_spark/pipeline.py", "__spark_entry__.py",
            "tools/live_local.py", "tests/oracle_harness.py")

# Input sizes per workload: ETL rows per object, catalog scale factor.
# "tiny" is the smoke test's.
SIZES = {
    "full": {"etl_lineitem_copy": 5_000, "catalog_scan": 0.1, "catalog_eager": 0.01},
    "tiny": {"etl_lineitem_copy": 200, "catalog_scan": 0.001, "catalog_eager": 0.001},
}
WORKLOADS = ("etl_lineitem_copy", "catalog_scan", "catalog_eager")
# Traced runs alternate untraced and traced passes, so two is the
# fewest that gives both.
MIN_PASSES = 2


def metric_table() -> tuple[dict[str, str], dict[str, str]]:
    """End-to-end and per-layer metric names with their units."""
    from perfbench.catalog_mix import QUERIES

    end_to_end = {"setup_s": "s", "wall_s": "s", "rows_per_s": "1/s",
                  "batch_s_p50": "s", "peak_rss_mb": "MB"}
    per_layer = {
        "copy.write_s": "s", "copy.encode_s": "s", "copy.partitions": "count",
        "pgwire.connect_s": "s", "pgwire.copy_s": "s",
        "pgwire.commit_s": "s", "pgwire.sent_mb": "MB", "pg.wal_mb": "MB",
        "pg.table_mb": "MB", "s3http.stage_s": "s", "s3http.staged_mb": "MB",
        "s3http.objects": "count", "s3http.unstage_s": "s",
        "work_list.next_batch_s": "s", "work_list.mark_completed_s": "s",
        "parquet.scan_s": "s", "pipeline.transform_s": "s",
        "plans.construct_s": "s",
        "spark.construct_jobs": "count", "spark.jobs": "count",
        "spark.between_jobs_s": "s", "spark.execute_s": "s",
        "spark.stages": "count", "spark.tasks": "count", "spark.task_s": "s",
        "spark.shuffle_write_mb": "MB", "trace.overhead_s": "s",
        "trace.residual_s": "s",
    }
    for q in QUERIES:
        per_layer.update({f"{q}.construct_s": "s", f"{q}.execute_s": "s",
                          f"{q}.jobs": "count"})
    return end_to_end, per_layer


class RunContext:
    """What one run shares with its workload: seed, cores, scratch
    directories, the Spark session, and the traced passes' Spark
    figures (the event-log ones are filled in after the session
    stops, when the log is complete)."""

    def __init__(self, seed: int, trace: bool, run_dir: str):
        self.root = ROOT
        self.seed = seed
        self.run_dir = run_dir
        self.tmp_dir = os.path.join(run_dir, "tmp")
        self.event_dir = os.path.join(run_dir, "events") if trace else None
        self.oracle_cache = os.path.join(BASE, "oracle-cache")
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        self.jvm_pid = None
        self.deferred: list[tuple[list[str], float, float, dict]] = []
        # perf_counter -> epoch seconds, for the event log's timestamps
        self.epoch_offset = time.time() - time.perf_counter()

    def start_spark(self):
        from perfbench.harness import build_spark

        if self.event_dir:
            os.makedirs(self.event_dir)
        self.spark = build_spark(self.cpus, self.run_dir, self.event_dir)
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return self.spark

    def add_spark_layers(self, layers: dict, groups: list[str], root,
                         construct_groups=()) -> None:
        """Status-tracker counts for a traced pass's job groups now;
        the event-log figures once the session has stopped."""
        from perfbench.harness import group_counts

        counts = [group_counts(self.spark, g) for g in groups]
        layers["spark.jobs"] = sum(c["jobs"] for c in counts)
        layers["spark.stages"] = sum(c["stages"] for c in counts)
        layers["spark.tasks"] = sum(c["tasks"] for c in counts)
        layers["spark.construct_jobs"] = sum(
            group_counts(self.spark, g)["jobs"] for g in construct_groups)
        self.deferred.append((groups, root.start, root.end, layers))

    def fill_event_log_layers(self) -> None:
        from perfbench.harness import MB, read_event_log, union_length

        by_group = read_event_log(self.event_dir)
        for groups, start, end, layers in self.deferred:
            evs = [by_group[g] for g in groups if g in by_group]
            jobs = [(s - self.epoch_offset, e - self.epoch_offset)
                    for ev in evs for s, e in ev.jobs]
            layers["spark.task_s"] = sum(ev.task_s for ev in evs)
            layers["spark.shuffle_write_mb"] = sum(
                ev.shuffle_write_bytes for ev in evs) / MB
            layers["spark.between_jobs_s"] = (end - start) - union_length(jobs, start, end)

    def rss_pids(self) -> list[int]:
        return [os.getpid(), self.jvm_pid]


def open_run(workload: str, seed: int, trace: bool, size: str = "full"):
    """A fresh scratch directory, the process environment the engine
    runs under, and the workload object."""
    run_dir = os.path.join(BASE, "runs", f"{workload}-{seed}-{int(trace)}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    ctx = RunContext(seed, trace, run_dir)
    os.makedirs(ctx.tmp_dir)
    os.environ["TMPDIR"] = ctx.tmp_dir
    tempfile.tempdir = None
    # every JVM, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={ctx.tmp_dir}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(ctx.cpus)
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    if workload == "etl_lineitem_copy":
        from perfbench.etl import EtlWorkload

        return ctx, EtlWorkload(ctx, SIZES[size][workload])
    from perfbench.catalog_mix import CatalogWorkload

    return ctx, CatalogWorkload(ctx, workload, SIZES[size][workload])


def _on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def run(workload: str, seed: int, seconds: float, trace: bool, size: str) -> dict:
    from perfbench import harness

    end_to_end, per_layer = metric_table()
    ctx, wl = open_run(workload, seed, trace, size)
    errors: list[str] = []
    passes: list[dict] = []
    failed = attempted = 0
    try:
        try:
            wl.setup()
            errors, check_s = wl.warm_up()
            setup_s = time.perf_counter() - T_START - check_s

            deadline = time.perf_counter() + seconds
            while True:
                i = len(passes)
                traced = trace and i % 2 == 1
                wl.reset()
                harness.reset_peak_rss(ctx.rss_pids())
                try:
                    res = wl.run_pass(f"p{i}", traced)
                except Exception as e:  # a failed pass is counted and reported
                    failed += 1
                    attempted += 1
                    errors.append(f"pass p{i} failed: {type(e).__name__}: {e}"[:500])
                    break
                res["peak_rss_mb"] = harness.peak_rss_mb(ctx.rss_pids())
                res["traced"] = traced
                attempted += res["units"]
                passes.append(res)
                if time.perf_counter() >= deadline and len(passes) >= MIN_PASSES:
                    break
            if passes:
                errors += wl.check([p["rows"] for p in passes])
        finally:
            try:
                if ctx.spark is not None:
                    harness.stop_spark(ctx.spark)
            finally:
                wl.teardown()

        if trace:
            ctx.fill_event_log_layers()
    finally:
        shutil.rmtree(ctx.run_dir, ignore_errors=True)

    trace_dir = os.path.join(BASE, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    tag = f"{workload}-seed{seed}-trace{int(trace)}" + ("" if size == "full" else f"-{size}")
    with open(os.path.join(trace_dir, tag + ".spans.jsonl"), "w") as fh:
        for p in passes:
            for s in p["tracer"].spans:
                fh.write(json.dumps(s.__dict__) + "\n")

    plain = [p for p in passes if not p["traced"]]
    metrics: dict[str, float] = {}
    self_s: dict[str, float] = {}
    if not trace:
        units = [u for p in plain for u in p["unit_s"]]
        metrics = {
            "setup_s": setup_s,
            "wall_s": harness.median([p["wall_s"] for p in plain]),
            "rows_per_s": harness.median([p["rows"] / p["wall_s"] for p in plain]),
            "batch_s_p50": harness.median(units),
            "peak_rss_mb": max((p["peak_rss_mb"] for p in plain), default=0.0),
        }
        table = end_to_end
    else:
        traced_passes = [p for p in passes if p["traced"]]
        for name in per_layer:
            metrics[name] = harness.median(
                [p["layers"].get(name, 0.0) for p in traced_passes])
        untraced_wall = harness.median([p["wall_s"] for p in plain])
        traced_wall = harness.median([p["wall_s"] for p in traced_passes])
        attributed = harness.median([_attributed(p) for p in traced_passes])
        metrics["trace.overhead_s"] = traced_wall - untraced_wall
        metrics["trace.residual_s"] = untraced_wall - attributed
        # Where a traced pass's wall goes: median self time per span
        # name, written beside the result, not part of the metrics.
        names = {s.name for p in traced_passes for s in p["tracer"].spans}
        self_s = {n: harness.median([_self_times(p).get(n, 0.0) for p in traced_passes])
                  for n in sorted(names)}
        table = per_layer
    context = {"workload": workload, "seed": seed, "cpus": ctx.cpus,
               "os_cpu_count": os.cpu_count(), "passes": len(passes),
               "trace": int(trace), "errors": errors}
    with open(os.path.join(trace_dir, tag + ".result.json"), "w") as fh:
        json.dump({"context": context, "metrics": metrics, "self_s": self_s},
                  fh, indent=1)
    return {
        "context": context,
        "result": {
            "correct": not errors and failed == 0 and bool(passes),
            "attempted": max(attempted, 1),
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u}
                        for k, u in table.items()},
        },
    }


def _self_times(p: dict) -> dict[str, float]:
    tracer = p["tracer"]
    root = next(i for i, s in enumerate(tracer.spans) if s.name == "pass")
    return tracer.self_times(root)


def _attributed(p: dict) -> float:
    """Seconds of a traced pass that layer spans account for: the
    pass wall minus the pass span's own self time."""
    return p["wall_s"] - _self_times(p).get("pass", 0.0)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(SIZES), default="full",
                    help="input size; tiny is for the smoke test")
    args = ap.parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the program is not in this checkout (missing {missing})",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    signal.signal(signal.SIGTERM, _on_sigterm)
    from perfbench import harness

    harness.become_subreaper()
    try:
        out = run(args.workload, args.seed, args.seconds, bool(args.trace), args.size)
    finally:
        harness.stop_children()
    print(json.dumps(out["context"]))
    print(json.dumps(out["result"]))
    return 0 if out["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
