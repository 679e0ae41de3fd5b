"""Smoke test of the benchmark itself.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload once with ``--smoke`` (one small pass: the query
workloads on the sf0.001 fixture, the ETL jobs at warm-up scale), traced
and untraced, and checks the output contract: one JSON object on the
last stdout line naming every metric with its unit, and a correct pass.
A second test feeds the checks wrong expectations and requires every op
to be reported as failed, so a check that silently passes shows up.
About five minutes on four cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads  # noqa: E402


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_cli_names_every_metric(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    doc = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(doc) == {"correct", "attempted", "failed", "metrics"}
    assert doc["correct"] is True and doc["failed"] == 0, out.stderr[-3000:]
    assert doc["attempted"] >= 1
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in doc["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in doc["metrics"].values())
    if trace and workload != "etl_jobs":  # the connector layer is idle
        assert all(
            v["value"] == 0 for k, v in doc["metrics"].items() if k.startswith("connectors.")
        )


def test_checks_report_wrong_results(tmp_path):
    from probe import ProcSampler, Tracer

    run._posture(str(tmp_path))
    from cubicerp_client_etl_spark.session import get_spark

    spark = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
    wl = None
    try:
        ctx = workloads.Ctx(spark, Tracer(False), ProcSampler(spark.sparkContext._gateway.proc.pid),
                            str(tmp_path))
        q = workloads.make("report_queries", 7, smoke=True)
        q.expected = {n: {"rows": w["rows"] + 1, "digest": w["digest"]} for n, w in q.expected.items()}
        res = q.run_pass(ctx, 1)
        assert len(res.failures) == res.attempted == len(q.ops)

        wl = workloads.make("etl_jobs", 7, smoke=True)
        wl.start(str(tmp_path))
        wl.bench.bulk[0].expected_rows[0] = ("wrong",) * 7
        wl.bench.online[0].expected_rows.append(("extra",) * 7)
        wl.bench.rpc.planted_bad.clear()  # now every rpc error is unplanted
        failures = " | ".join(wl.run_pass(ctx, 1).failures)
        assert "bulk csv: output rows differ" in failures
        assert "online_0000: output rows differ" in failures
        assert "rpc: unplanted row errors" in failures
    finally:
        if wl is not None:
            wl.close()
        run._stop(spark)
