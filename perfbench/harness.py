"""Shared machinery for the benchmark workloads: the Spark session,
spans, layer wrappers, Spark job counts and the event-log reader.

Tracing works from outside the engine: the traced pass swaps a
public function or method for a wrapper that records a span around
the original call, and restores it afterwards. Spans are kept in
memory and written out when the run ends. The untraced pass installs
no wrapper except the two work-list hooks that ``batch_s_p50`` needs.

All span times are ``time.perf_counter()`` values. On Linux that is
CLOCK_MONOTONIC, which every process on the host shares, so spans
recorded in Spark's Python workers line up with the driver's.
"""

from __future__ import annotations

import contextlib
import ctypes
import glob
import json
import os
import signal
import statistics
import time
from dataclasses import dataclass, field
from typing import Iterator

MB = 1024 * 1024


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    unit: str = ""  # pass / batch / query id shared by a unit's spans


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, unit: str | None = None) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        if unit is None:
            unit = self.spans[parent].unit if parent is not None else ""
        sp = Span(name, time.perf_counter(), parent=parent, unit=unit)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, unit: str,
            parent: int | None = None) -> None:
        self.spans.append(Span(name, start, end, parent, unit))

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def self_times(self, root: int) -> dict[str, float]:
        """Self time per span name in the subtree under ``root``: each
        span's duration minus the part its children cover."""
        children: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                children.setdefault(s.parent, []).append(i)
        out: dict[str, float] = {}
        todo = [root]
        while todo:
            i = todo.pop()
            s = self.spans[i]
            kids = children.get(i, [])
            covered = union_length([(self.spans[k].start, self.spans[k].end) for k in kids],
                             s.start, s.end)
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
            todo.extend(kids)
        return out


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@contextlib.contextmanager
def wrapped(tracer: Tracer, patches: list[tuple]) -> Iterator[None]:
    """Replace each ``owner.attr`` with a wrapper that records span
    ``name`` around the original call; restore them on exit. A patch
    ``(owner, attr, name, on_result)`` also hands each return value
    to ``on_result``."""
    saved = []
    for owner, attr, name, *hook in patches:
        orig = owner.__dict__[attr]

        def make(orig=orig, name=name, hook=hook):
            def wrapper(*a, **kw):
                with tracer.span(name):
                    out = orig(*a, **kw)
                for h in hook:
                    h(out)
                return out
            return wrapper

        saved.append((owner, attr, orig))
        setattr(owner, attr, make())
    try:
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


# -- executor-side COPY connection timing ---------------------------------


class TimedConnectionFactory:
    """``CopySink.connection_factory`` that delegates to
    ``pgwire.connect`` -- what ``copy._connect`` resolves to when
    psycopg2 is absent -- and appends one JSON line per partition to
    ``log_path``: connect, copy_expert and commit seconds, bytes sent,
    and the connect/close instants. Picklable (plain attributes)."""

    def __init__(self, log_path: str, unit: str):
        self.log_path = log_path
        self.unit = unit

    def __call__(self, conn_string: str):
        from s3_parquet_to_postgres_spark.sinks import pgwire

        t0 = time.perf_counter()
        conn = pgwire.connect(conn_string)
        return _TimedConnection(conn, self.log_path, self.unit, t0, time.perf_counter())


class _TimedCursor:
    def __init__(self, cur, rec: dict):
        self._cur, self._rec = cur, rec

    def __enter__(self):
        self._cur.__enter__()
        return self

    def __exit__(self, *exc):
        return self._cur.__exit__(*exc)

    def execute(self, sql: str) -> None:
        self._cur.execute(sql)

    def copy_expert(self, sql: str, buf) -> None:
        nbytes = buf.getbuffer().nbytes if hasattr(buf, "getbuffer") else len(buf.getvalue())
        t0 = time.perf_counter()
        self._cur.copy_expert(sql, buf)
        self._rec["copy_s"] += time.perf_counter() - t0
        self._rec["sent_bytes"] += nbytes


class _TimedConnection:
    def __init__(self, conn, log_path: str, unit: str, t0: float, t1: float):
        self._conn, self._log = conn, log_path
        self._rec = {"unit": unit, "pid": os.getpid(), "connect_start": t0,
                     "connect_end": t1, "copy_s": 0.0, "commit_s": 0.0,
                     "sent_bytes": 0}

    def cursor(self):
        return _TimedCursor(self._conn.cursor(), self._rec)

    def commit(self) -> None:
        t0 = time.perf_counter()
        self._conn.commit()
        self._rec["commit_s"] += time.perf_counter() - t0

    def rollback(self) -> None:
        self._conn.rollback()

    def close(self) -> None:
        self._rec["close_start"] = time.perf_counter()
        self._conn.close()
        self._rec["close_end"] = time.perf_counter()
        with open(self._log, "a") as fh:
            fh.write(json.dumps(self._rec) + "\n")


def read_jsonl(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(ln) for ln in fh if ln.strip()]


# -- process memory --------------------------------------------------------


def reset_peak_rss(pids: list[int]) -> None:
    """Reset each process's peak RSS (VmHWM) to its current RSS."""
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")


def peak_rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


# -- processes -------------------------------------------------------------

PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Have orphaned descendants (a Spark Python daemon whose JVM is
    gone, a Postgres backend whose postmaster was killed) re-parented
    to this process instead of init, so ``stop_children`` (and the
    smoke test's leak check) finds them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def children() -> list[int]:
    """Pids whose parent is this process, zombies included."""
    me, out = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields after it are fixed
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(entry))
    return out


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_children(grace: float = 20.0) -> None:
    """Stop every process left under this one and wait until each
    has ended: SIGTERM, then SIGKILL for those still there after
    ``grace`` seconds. With ``become_subreaper`` this covers every
    descendant, orphans included."""
    deadline = time.monotonic() + grace
    sent: dict[int, int] = {}
    while True:
        _reap()
        kids = children()
        if not kids:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in kids:
            if sent.get(pid) != sig:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
                sent[pid] = sig
        time.sleep(0.05)


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit.
    ``SparkSession.stop`` leaves the gateway JVM running until the
    Python process ends; closing its stdin makes it exit now."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            with contextlib.suppress(Exception):
                gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                with contextlib.suppress(OSError):
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


# -- Spark -----------------------------------------------------------------


def build_spark(cpus: int, work_dir: str, event_dir: str | None):
    """The engine's session (``session.build_session``, so its base
    confs) on ``local[cpus]`` with ``cpus`` shuffle partitions, a
    fixed 2 GiB driver heap, and the warehouse under ``work_dir``.
    Python workers import from ``$PYTHONPATH`` (the checkout)."""
    from s3_parquet_to_postgres_spark.session import build_session

    confs = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.driver.extraJavaOptions": "-Xms2g",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
    }
    if event_dir is not None:
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = "file://" + event_dir
        confs["spark.eventLog.rolling.enabled"] = "false"
        confs["spark.eventLog.compress"] = "false"
    return build_session(
        app_name="perfbench", master=f"local[{cpus}]",
        shuffle_partitions=cpus, extra_confs=confs,
    )


def set_job_group(spark, group: str | None) -> None:
    sc = spark.sparkContext
    if group is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    else:
        sc.setJobGroup(group, group)


def group_counts(spark, group: str) -> dict[str, int]:
    """Jobs, stages and tasks that ran under one job group, from the
    status tracker. A stage counts when at least one task completed
    (stages skipped on shuffle reuse run none)."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages: set[int] = set()
    for jid in jobs:
        info = st.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    n_stages = n_tasks = 0
    for sid in stages:
        si = st.getStageInfo(sid)
        if si is not None and si.numCompletedTasks > 0:
            n_stages += 1
            n_tasks += si.numCompletedTasks
    return {"jobs": len(jobs), "stages": n_stages, "tasks": n_tasks}


@dataclass
class GroupEvents:
    jobs: list[tuple[float, float]] = field(default_factory=list)  # epoch s
    task_s: float = 0.0
    shuffle_write_bytes: int = 0


def read_event_log(event_dir: str) -> dict[str, GroupEvents]:
    """Job intervals, task run time and shuffle bytes written, per job
    group, from the Spark event log(s) in ``event_dir``."""
    by_group: dict[str, GroupEvents] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    for path in glob.glob(os.path.join(event_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    jid = ev["Job ID"]
                    job_group[jid] = group
                    job_start[jid] = ev["Submission Time"] / 1000.0
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    g = by_group.setdefault(job_group.get(jid, ""), GroupEvents())
                    g.jobs.append((job_start.get(jid, 0.0), ev["Completion Time"] / 1000.0))
                elif kind == "SparkListenerTaskEnd":
                    g = by_group.setdefault(stage_group.get(ev["Stage ID"], ""), GroupEvents())
                    m = ev.get("Task Metrics") or {}
                    g.task_s += m.get("Executor Run Time", 0) / 1000.0
                    g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
    return by_group


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
