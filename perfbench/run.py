#!/usr/bin/env python3
"""Benchmark of the stateflow_spark engine. Run from the root of a checkout:

    python3 perfbench/run.py --workload entity_superstep --seed 1 --seconds 10 --trace 0

Workloads: ``entity_superstep`` and ``query_mix`` (see
``perfbench/METRICS.md``). The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a separate traced run (spans written to
``.perfbench/traces/<workload>-seed<n>.jsonl``). Everything else goes to
standard error. All files a run writes live under ``.perfbench/`` in the
checkout; the per-run directory is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import RssSampler, Sandbox, Sessions, Tracer, median  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "warm_wall_s": "s",
}

QUERY_MODULES = (
    "curation", "dedup", "entity_ops", "events", "joins", "multimodal",
    "tpch", "tpch2", "similarity", "text", "windows",
)

PER_LAYER = {
    "session.start_s": "s",
    "session.new_session_s": "s",
    "run.units": "count",
    "run.peak_rss_mb": "MB",
    "trace.warm_wall_s": "s",
    "trace.cold_wall_s": "s",
    "catalog.load_s": "s",
    "catalog.load_jobs": "count",
    "queries.fn_s": "s",
    "queries.exec_s": "s",
    "queries.jobs_in_fn": "count",
    "queries.jobs_in_exec": "count",
    "queries.stages": "count",
    "queries.tasks": "count",
    "queries.failed_tasks": "count",
    "queries.index_build_s": "s",
    "queries.build.ivf_index_s": "s",
    "queries.build.corpus_norms_s": "s",
    "queries.build.minhash_postings_s": "s",
    **{f"queries.{m}.{k}": "s" for m in QUERY_MODULES for k in ("fn_s", "exec_s")},
    "serde.encode_us": "us",
    "serde.decode_us": "us",
    "serde.event_bytes": "bytes",
    "entity.handle_us": "us",
    "entity.local_ops_per_s": "1/s",
    "superstep.run_s": "s",
    "superstep.supersteps": "count",
    "superstep.jobs": "count",
    "superstep.stages": "count",
    "superstep.tasks": "count",
    "superstep.failed_tasks": "count",
    "client.submit_us": "us",
    "client.flush_s": "s",
    "client.request_submit_us": "us",
    "client.request_flush_s": "s",
    "http.request_p50_s": "s",
    "http.req_per_s": "1/s",
    "http.self_ms": "ms",
    "stateful.send_ms": "ms",
    "stateful.drain_s": "s",
    "stateful.replies_ms": "ms",
    "stateful.batches_per_request": "count",
    "stateful.trigger_ms": "ms",
    "stateful.add_batch_ms": "ms",
    "stateful.latest_offset_ms": "ms",
    "stateful.wal_commit_ms": "ms",
    "stateful.state_commit_ms": "ms",
    "stateful.state_rows": "count",
    "stateful.state_memory_bytes": "bytes",
    "stateful.source_files": "count",
}


@dataclass
class Context:
    seed: int
    seconds: float
    tracer: Tracer
    sessions: Sessions
    sandbox: Sandbox
    rss: RssSampler


def _prepare_env(root: str, sandbox: Sandbox) -> None:
    """Point every writer at the sandbox and make the checkout's package
    importable here and on Spark's Python workers."""
    import tempfile

    cpus = min(4, len(os.sched_getaffinity(0)))
    os.environ["TMPDIR"] = sandbox.tmp
    os.environ["SPARK_LOCAL_DIRS"] = sandbox.local
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    tempfile.tempdir = sandbox.tmp
    sys.path.insert(0, root)


def _session_layers(tracer: Tracer) -> dict:
    starts = tracer.durations("session.start")
    return {
        "session.start_s": starts[0] if starts else 0.0,
        "session.new_session_s": median(starts[1:]),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("entity_superstep", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "stateflow_spark", "__init__.py")):
        print("perfbench: no stateflow_spark/ package in the working directory; "
              "run from the root of a checkout", file=sys.stderr)
        return 2

    sandbox = Sandbox(root)
    _prepare_env(root, sandbox)
    tracer = Tracer(enabled=bool(args.trace))
    sessions = Sessions(sandbox)
    ctx = Context(
        seed=args.seed,
        seconds=args.seconds,
        tracer=tracer,
        sessions=sessions,
        sandbox=sandbox,
        rss=RssSampler(lambda: [os.getpid(), sessions.jvm_pid()]),
    )
    if args.workload == "entity_superstep":
        from entity import run_superstep as run
    else:
        from query_mix import run_query_mix as run

    t0 = time.perf_counter()
    try:
        out = run(ctx)
    finally:
        sessions.shutdown()
        tracer.write(sandbox.trace_path(args.workload, args.seed))
        sandbox.remove()
    res, outcome = out["result"], out["outcome"]
    print(f"perfbench: {args.workload} seed={args.seed} done in "
          f"{time.perf_counter() - t0:.1f}s, units={res['units']}, "
          f"failed={outcome.failed}/{outcome.attempted}, "
          f"notes={outcome.reasons}", file=sys.stderr)

    if args.trace:
        values = {k: 0.0 for k in PER_LAYER}
        values.update(res.get("layers", {}))
        values.update(_session_layers(tracer))
        values["run.units"] = float(res["units"])
        values["run.peak_rss_mb"] = res["peak_rss_mb"]
        values["trace.warm_wall_s"] = res["warm_wall_s"]
        values["trace.cold_wall_s"] = res["cold_wall_s"]
        units = PER_LAYER
    else:
        values = {k: res[k] for k in END_TO_END}
        units = END_TO_END
    metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": int(outcome.attempted),
        "failed": int(outcome.failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
