"""Tests of the benchmark itself (no Spark session is started).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import fixture  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_every_gate_is_registered():
    from market_microstructure_toolkit_spark.plans.queries import REGISTRY

    for wl in workloads.WORKLOADS.values():
        for gate in wl.gates:
            assert gate in REGISTRY, gate
            # outputs are checked against the DuckDB oracle
            assert REGISTRY[gate].sql, gate


def test_spec_matches_code():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    names = [m["name"] for m in spec["per_layer"]]
    assert names == ["session.start_s", "mem.peak_rss_mb", *tracing.REPORTED]
    for m in spec["per_layer"][2:]:
        assert m["unit"] == tracing.unit_of(m["name"])
    e2e = {m["name"] for m in spec["end_to_end"]}
    assert e2e == {"setup_s", "pass_s"}
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_metric_names():
    spec = _spec()
    seen = set()
    for m in spec["end_to_end"] + spec["per_layer"] + spec["workloads"]:
        assert NAME.fullmatch(m["name"]) and len(m["name"]) <= 64, m["name"]
        assert m["name"] not in seen
        seen.add(m["name"])


def test_pass_orders_follow_the_seed():
    wl = workloads.WORKLOADS["book_metrics"]
    a = workloads.pass_orders(wl, 7, 5)
    assert a == workloads.pass_orders(wl, 7, 5)
    assert a != workloads.pass_orders(wl, 8, 5)
    for rnd in a:
        # one pass per gate, each gate once at each position
        assert len(rnd) == len(wl.gates)
        assert all(sorted(o) == sorted(wl.gates) for o in rnd)
        for pos in range(len(wl.gates)):
            assert sorted(o[pos] for o in rnd) == sorted(wl.gates)


def test_pass_s_is_the_median_round():
    import run

    def p(kind, rnd, wall):
        return {"kind": kind, "round": rnd, "wall_s": wall, "gate_s": {}}

    passes = [p("cold", 0, 9.0), p("warmup", 0, 5.0), p("warm", 1, 2.0), p("warm", 1, 4.0),
              p("traced", 2, 8.0), p("warm", 3, 3.0), p("warm", 3, 5.0),
              p("warm", 4, 1.0), p("warm", 4, 1.0)]
    # round means 3.0, 4.0 and 1.0; cold, warm-up and traced passes are left out
    assert run.steady_pass_s(passes) == pytest.approx(3.0)


def test_fixture_is_seeded(tmp_path):
    a = fixture.write_fixture(str(tmp_path / "a"), 3, 2_000)
    b = fixture.write_fixture(str(tmp_path / "b"), 3, 2_000)
    c = fixture.write_fixture(str(tmp_path / "c"), 4, 2_000)
    ta, tb, tc = (pq.read_table(os.path.join(d, "events.parquet")) for d in (a, b, c))
    assert ta.equals(tb)
    assert not ta.equals(tc)
    assert ta.num_rows == tc.num_rows == 2_000
    ev = ta.to_pandas()
    assert ev["ts"].is_monotonic_increasing and ev["ts"].is_unique
    assert (ev["value"] * 100 - (ev["value"] * 100).round()).abs().max() < 1e-6
    assert ev["user_id"].nunique() == 30


def test_sql_metric_parse():
    v = "total (min, med, max (stageId: taskId))\n10.5 s (474 ms, 1.9 s, 2.1 s (stage 4.0: task 4))"
    assert tracing._sql_metric(v, "time") == pytest.approx(10.5)
    assert tracing._sql_metric("1.5 KiB", "size") == pytest.approx(1536.0)
    assert tracing._sql_metric("474 ms", "time") == pytest.approx(0.474)


def _gmt(t: float) -> str:
    from datetime import datetime, timezone

    return datetime.fromtimestamp(t, timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "GMT"


def test_report_attributes_and_writes_artifact(tmp_path):
    """Drive the tracer by hand through one cold and one traced pass,
    feed it canned REST data, and check the per-gate artifact."""
    tr = tracing.Tracer()

    class Ctx:
        def setJobGroup(self, *a):
            pass

    class Spark:
        sparkContext = Ctx()

    spark = Spark()  # no listener or helper patching in this test
    tr._gc_ms = lambda spark: 0
    for kind in ("cold", "traced"):
        # REST times have millisecond resolution: open the window early
        tr.pass_start(kind)
        tr._pass["start"] -= 1.0
        for gate in ("g1", "g2"):
            tr.gate_start(spark, gate)
            if gate == "g2":
                tr.run_of_query[f"q{len(tr.runs)}"] = tr.runs[-1]["id"]
                tr.progress.append({
                    "runId": f"q{len(tr.runs)}",
                    "numInputRows": 10,
                    "durationMs": {"triggerExecution": 40, "addBatch": 30},
                    "stateOperators": [{"numRowsTotal": 5, "allUpdatesTimeMs": 2,
                                        "commitTimeMs": 1}],
                })
            tr.constructed(spark)
            tr.gate_end(spark)
        tr.pass_end(0.5)
    now = time.time()
    jobs, stages = [], []
    for r in tr.runs:
        for phase in ("ctor", "action"):
            jid = len(jobs)
            jobs.append({"jobId": jid, "jobGroup": f"pb:{r['id']}:{phase}",
                         "stageIds": [jid], "submissionTime": _gmt(r["start"])})
            stages.append({"stageId": jid, "attemptId": 0, "status": "COMPLETE",
                           "numCompleteTasks": 2, "executorRunTime": 100,
                           "executorCpuTime": 50_000_000})
        if r["gate"] == "g2":
            jid = len(jobs)
            jobs.append({"jobId": jid, "jobGroup": f"q{r['id'] + 1}", "stageIds": [jid],
                         "submissionTime": _gmt(r["start"])})
            stages.append({"stageId": jid, "attemptId": 0, "status": "COMPLETE",
                           "numCompleteTasks": 1, "executorRunTime": 100})
    # one unattributed job inside the traced pass
    jobs.append({"jobId": len(jobs), "jobGroup": None, "stageIds": [len(jobs)],
                 "submissionTime": _gmt(now - 0.001)})
    stages.append({"stageId": len(stages), "attemptId": 0, "status": "COMPLETE",
                   "executorRunTime": 100})
    sql = [{"successJobIds": [1], "nodes": [{"nodeName": "ArrowEvalPython", "metrics": [
        {"name": "data returned from Python workers", "value": "2.0 KiB"}]}]}]
    canned = {"jobs": jobs, "stages": stages}
    tr._rest = lambda spark, path: canned.get(path.split("?")[0], sql)
    tr.passes[-1]["end"] = now

    path = tmp_path / "trace.json"
    metrics = tr.report(spark, str(path), "book_metrics", 1)
    doc = json.loads(path.read_text())
    assert set(doc["gates"]) == {"g1", "g2"}
    for gate in doc["gates"].values():
        assert set(tracing.METRICS) - set(gate["warm"]) <= {
            "trace.pass_s", "trace.untraced_pass_s", "trace.overhead_s",
            "exec.attributed_frac"}
    assert set(metrics) == set(tracing.REPORTED)
    # per traced pass: 2 + 3 jobs, the streaming one under the query's group
    assert metrics["exec.jobs"]["value"] == 5
    assert doc["summary"]["streaming.batches"] == 1
    assert doc["summary"]["streaming.state_rows"] == 5
    assert doc["summary"]["streaming.trigger_s"] == pytest.approx(0.04)
    # every gate run has a wall, so non-trigger time is never 0
    assert doc["gates"]["g1"]["warm"]["streaming.nontrigger_s"] > 0
    assert doc["gates"]["g1"]["cold"]["python.bytes_received"] == 2048
    # 10 of the 11 stages run inside the passes belong to a gate
    assert metrics["exec.attributed_frac"]["value"] == pytest.approx(10 / 11)
