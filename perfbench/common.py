"""Shared machinery for the benchmark: checkout-local sandbox, Spark
session lifecycle, the outcome tally, the span tracer, Spark work
attribution through the public status tracker, and a resident-memory
sampler.

Nothing here reaches inside ``stateflow_spark``: spans are recorded around
the calls the benchmark makes into the package, and Spark counters come
from ``SparkContext.statusTracker()`` with a job group set around each
call. The Spark UI port is never used (the session runs with the UI off).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
import uuid
from contextlib import contextmanager
from typing import Any, Callable, Optional

# Set-ups per run; ``setup_s`` is their median. The first launches the JVM
# and the SparkContext, the others open a new session on that context.
SETUPS = 3


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


# -- sandbox ------------------------------------------------------------------


class Sandbox:
    """Fresh per-run directories inside the checkout, removed on exit.

    Every path Spark, the JVM, pyspark and the stored-layout builders
    write to (temp files, shuffle/state spill, the SQL warehouse, the
    engine workdirs, generated inputs) is pointed in here, so a run
    reads and writes only inside its checkout and leaves nothing behind
    except the trace file it was asked for."""

    def __init__(self, root: str):
        self.root = root
        self.base = os.path.join(root, ".perfbench")
        self.dir = os.path.join(self.base, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
        self.tmp = os.path.join(self.dir, "tmp")
        self.local = os.path.join(self.dir, "spark-local")
        self.warehouse = os.path.join(self.dir, "warehouse")
        self.data = os.path.join(self.dir, "data")
        for d in (self.tmp, self.local, self.warehouse, self.data):
            os.makedirs(d, exist_ok=True)

    def workdir(self, name: str) -> str:
        path = os.path.join(self.dir, name)
        os.makedirs(path, exist_ok=True)
        return path

    def remove(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)

    def trace_path(self, workload: str, seed: int) -> str:
        d = os.path.join(self.base, "traces")
        os.makedirs(d, exist_ok=True)
        return os.path.join(d, f"{workload}-seed{seed}.jsonl")


# -- outcome ----------------------------------------------------------------------


class Outcome:
    """Attempted/failed tally of every checked operation (calls, requests,
    query rows and the end-of-run checks), plus the first few failure
    reasons."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []
        self._lock = threading.Lock()

    def add(self, ok: bool, reason: str = "") -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                if len(self.reasons) < 5:
                    self.reasons.append(reason[:200])


# -- Spark session --------------------------------------------------------------


class Sessions:
    """Starts the SparkSession the workload runs on.

    The first start launches the JVM and the SparkContext; later ones open
    a new session on that context (its own SQL conf, temporary views and
    catalog state), which is what a fresh session costs a long-lived
    driver."""

    def __init__(self, sandbox: Sandbox):
        self.sandbox = sandbox
        self.spark = None
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": sandbox.warehouse,
            "spark.local.dir": sandbox.local,
            # no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={sandbox.tmp} -XX:-UsePerfData",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        }

    def start(self):
        from stateflow_spark.session import get_spark

        if self.spark is None:
            self.spark = get_spark(app_name="perfbench", extra_conf=self.conf)
            self.spark.sparkContext.setLogLevel("ERROR")
        else:
            self.spark = self.spark.newSession()
        return self.spark

    def jvm_pid(self) -> Optional[int]:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        return proc.pid if proc is not None else None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:
                pass
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:
            pass
        if proc is not None:
            try:
                proc.stdin.close()
            except Exception:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


# -- tracing --------------------------------------------------------------------


class Tracer:
    """In-memory spans plus counters; a no-op when disabled.

    A span records name, start, end, parent span and request id. Spans
    nest per thread (the parent is the innermost open span on the calling
    thread), and a request id set on a thread tags every span opened there
    until it is cleared. Self time of a span is its duration minus the
    durations of its direct children (children of one thread never
    overlap). Spans are written out once, when the run ends."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, list[float]] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_request(self, rid: Optional[str]) -> None:
        self._local.request = rid

    @contextmanager
    def span(self, name: str, **attrs: Any):
        if not self.enabled:
            yield None
            return
        with self._lock:
            self._next += 1
            sid = self._next
        stack = self._stack()
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "request": getattr(self._local, "request", None),
            "thread": threading.get_ident(),
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, name: str, fn: Callable) -> Callable:
        """``fn`` with a span around every call (identity when disabled)."""
        if not self.enabled:
            return fn

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                self.counters.setdefault(name, []).append(value)

    # -- derived ----------------------------------------------------------
    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self, name: str, spans: Optional[list] = None) -> list[float]:
        """Self time of every span called ``name`` among ``spans`` (all
        spans by default)."""
        spans = self.spans if spans is None else spans
        child: dict = {}
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        return [
            (s["end"] - s["start"]) - child.get(s["id"], 0.0)
            for s in spans
            if s["name"] == name
        ]

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                rec = dict(s)
                rec["start"] = round(s["start"] - t0, 6)
                rec["end"] = round(s["end"] - t0, 6)
                f.write(json.dumps(rec, default=str) + "\n")


# -- Spark work attribution -----------------------------------------------------


class SparkWork:
    """Attribute Spark jobs, stages and tasks to one call via a job group
    and the public status tracker."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer

    @contextmanager
    def group(self, spark, name: str, out: Optional[dict] = None):
        if not self.tracer.enabled:
            yield
            return
        sc = spark.sparkContext
        gid = f"{name}#{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(gid, name, interruptOnCancel=False)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            if out is not None:
                out.update(self.counts(sc, gid))

    @staticmethod
    def counts(sc, gid: str) -> dict:
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        stages = tasks = failed = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                sinfo = st.getStageInfo(sid)
                if sinfo is None or sinfo.numTasks == 0:
                    continue
                stages += 1
                tasks += sinfo.numCompletedTasks + sinfo.numFailedTasks
                failed += sinfo.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "failed_tasks": failed}


# -- memory -----------------------------------------------------------------------


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of the Python driver plus the JVM, sampled
    every 100 ms on a background thread."""

    def __init__(self, pids: Callable[[], list]):
        self._pids = pids
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(0.1)

    def sample(self) -> None:
        total = sum(_rss_kb(p) for p in self._pids() if p)
        self.peak_kb = max(self.peak_kb, total)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
