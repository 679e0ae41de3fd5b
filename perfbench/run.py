#!/usr/bin/env python3
"""perfbench: the repository's benchmark.

    python3 perfbench/run.py --workload neardup_similarity --seed 1 --seconds 5 --trace 0

Runs one workload (``report_queries``, ``neardup_similarity`` or
``etl_jobs``; see ``workloads.py``) in a closed loop against a session
from ``session.get_spark`` with the engine's defaults, except that
``SPARK_GRAFT_CPUS`` is the number of usable cores and the console
progress bar is off.  Set-up (session plus one warm-up run of every op:
the query ops on the inputs the pass reads, the ETL jobs on small inputs
of their own) is timed on its own; then whole passes run until
``--seconds`` have gone by, each checked for correct outputs.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the run also keeps Spark's event log
and reports the per-layer metrics.  The tracing overhead is the traced
passes' wall time minus the mean of two untraced passes run just before
and just after them.  A ``result.json`` with the
environment record, per-pass figures and (traced) every span is left in
``.perfbench_run/<run>/``; everything else the run wrote is removed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "cubicerp_client_etl_spark")
RUN_ROOT = os.path.join(ROOT, ".perfbench_run")

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "rows/s",
    "online_p50_s": "s",
    "online_p90_s": "s",
    "cpu_s": "s",
    "ok_frac": "ratio",
}
_KINDS = ("csv", "txt", "parquet", "rpc", "online")
PER_LAYER = {
    "peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "queries.build_s": "s",
    "queries.execute_s": "s",
    "queries.jobs": "count",
    "queries.stages": "count",
    "queries.tasks": "count",
    "queries.shuffle_write_mb": "MB",
    "queries.shuffle_records": "count",
    "queries.spill_mb": "MB",
    "queries.task_skew": "ratio",
    "queries.executor_cpu_s": "s",
    "queries.gc_s": "s",
    "queries.python_worker_cpu_s": "s",
    "operators.pairs_out": "count",
    "operators.pairs_per_shuffled_row": "ratio",
    **{f"plans.{step}.{k}": "s" for step in ("extract_s", "transform_s", "load_sink_s", "job_s")
       for k in _KINDS},
    "plans.transform_self_s": "s",
    "sources.scan_s": "s",
    "sources.rows_read": "count",
    "sources.bytes_read": "bytes",
    **{f"operators.merge_actions.{a}": "count"
       for a in ("kept", "updated", "inserted", "replaced", "deleted")},
    "sinks.rows_written": "count",
    "sinks.files_written": "count",
    "sinks.bytes_per_row": "bytes",
    "sinks.ledger_rows": "count",
    **{f"connectors.rpc_calls.{m}": "count" for m in ("search_read", "create", "write", "unlink")},
    "connectors.rows_per_call": "ratio",
    "connectors.server_busy_s": "s",
    "connectors.row_errors": "count",
    "failed_frac": "ratio",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--smoke",
        action="store_true",
        help="one small pass: queries on the warm-up fixture, ETL at warm-up scale",
    )
    return p.parse_args(argv)


def _posture(run_dir: str) -> int:
    """Session environment, set before the JVM starts: the engine's
    defaults apart from the core count, and every scratch file inside
    the run directory."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    for v in ("SPARK_MASTER", "SPARK_GRAFT_CHECKPOINT_DIR", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(v, None)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # Python workers import the engine (and nothing from this directory)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return cpus


def _commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    out = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True
    )
    return out.stdout.strip() or None


def _source_digest() -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(ENGINE)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    return h.hexdigest()


def _stop(spark) -> None:
    """Stop the session and the JVM PySpark launched, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _p90(xs: list) -> float:
    # "inclusive" interpolates between the samples; the default extrapolates
    # past the largest one when there are fewer than ten
    return statistics.quantiles(xs, n=10, method="inclusive")[-1] if len(xs) >= 2 else xs[0]


def _measure(wl, args, run_dir: str, record: dict) -> dict:
    import workloads
    from probe import ProcSampler, Tracer, rollup_event_log

    from cubicerp_client_etl_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    log_dir = os.path.join(run_dir, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    tracer = Tracer(False)
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{wl.name}", extra_conf=conf)
    t1 = time.perf_counter()
    try:
        ctx = workloads.Ctx(spark, tracer, ProcSampler(spark.sparkContext._gateway.proc.pid), run_dir)
        wl.warmup(ctx)
        t2 = time.perf_counter()
        reference = []
        if args.trace:  # untraced passes before and after the traced ones
            reference.append(wl.run_pass(ctx, 0))
            tracer.enabled = True
        passes = []
        t_measure = time.perf_counter()
        while not passes or time.perf_counter() - t_measure < args.seconds:
            passes.append(wl.run_pass(ctx, len(passes) + 1))
        if args.trace:
            tracer.enabled = False
            reference.append(wl.run_pass(ctx, 0))
        t3 = time.perf_counter()
    finally:
        _stop(spark)
    record["timeline_s"] = {
        "get_spark": t1 - t0,
        "warmup": t2 - t1,
        "passes_and_checks": t3 - t2,
        "stop": time.perf_counter() - t3,
    }

    attempted = sum(p.attempted for p in passes)
    failures = [f for p in passes for f in p.failures]
    lat = [x for p in passes for x in p.latencies]
    record["passes"] = [
        {k: v for k, v in vars(p).items() if k != "layer"} for p in passes
    ]
    record["failures"] = failures
    if not args.trace:
        metrics = {
            "setup_s": (t1 - t0) + (t2 - t1),
            "wall_s": statistics.median(p.wall_s for p in passes),
            "rows_per_s": statistics.median(p.rows_out / p.rows_s for p in passes),
            "online_p50_s": statistics.median(lat) if lat else 0.0,
            "online_p90_s": _p90(lat) if lat else 0.0,
            "cpu_s": statistics.median(p.cpu_s for p in passes),
            "ok_frac": 1.0 - len(failures) / attempted,
        }
        units = END_TO_END
    else:
        rollup = rollup_event_log(log_dir)
        per_pass = []
        for n, p in enumerate(passes, 1):
            layer = dict.fromkeys(PER_LAYER, 0.0)
            layer.update(p.layer)
            layer.update(wl.layer_metrics(ctx, n, rollup))
            layer["peak_rss_mb"] = p.peak_rss_mb
            layer["session.get_spark_s"] = t1 - t0
            layer["session.warmup_s"] = t2 - t1
            layer["failed_frac"] = len(p.failures) / p.attempted
            layer["trace.wall_s"] = p.wall_s
            layer["trace.overhead_s"] = p.wall_s - statistics.mean(r.wall_s for r in reference)
            per_pass.append(layer)
        metrics = {k: statistics.median(x[k] for x in per_pass) for k in PER_LAYER}
        units = PER_LAYER
        record["reference_passes"] = [
            {k: v for k, v in vars(r).items() if k != "layer"} for r in reference
        ]
        record["spans"] = tracer.spans
        record["counts"] = tracer.counts
        record["rollup"] = rollup
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ENGINE, "session.py")):
        print(f"perfbench: engine package not found at {ENGINE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {list(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    run_dir = os.path.join(RUN_ROOT, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cpus = _posture(run_dir)
    wl = workloads.make(args.workload, args.seed, args.smoke)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "smoke": args.smoke,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "loadavg_1m_start": os.getloadavg()[0],
        "git_commit": _commit(),
        "engine_source_sha256": _source_digest(),
    }
    try:
        wl.start(run_dir)
        record["inputs"] = wl.inputs
        out = _measure(wl, args, run_dir, record)
    finally:
        wl.close()
        record["loadavg_1m_end"] = os.getloadavg()[0]
        for d in os.listdir(run_dir):  # keep only the record
            shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    record["result"] = out
    with open(os.path.join(run_dir, "result.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for f in record["failures"][:20]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    env = {k: record[k] for k in ("workload", "seed", "nproc", "SPARK_GRAFT_CPUS",
                                  "loadavg_1m_start", "loadavg_1m_end", "git_commit")}
    env["sf_dir"] = record["inputs"].get("sf_dir", "generated from the seed")
    print("perfbench env " + json.dumps(env))
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
