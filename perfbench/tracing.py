"""Per-layer tracing for the benchmark's traced run (``--trace 1``).

Everything here works from outside the program:

- each gate run gets Spark job groups of its own, one for the
  constructor (``REGISTRY[name].spark(...)``) and one for the noop
  action, so the executor figures that the Spark REST API keeps per job
  and stage can be summed per gate;
- a ``StreamingQueryListener`` maps each streaming ``runId`` to the gate
  run that started it. Micro-batch jobs run under the query's own job
  group (its ``runId``), so this is how they are attributed, and the
  listener's progress events give the per-trigger phases;
- the ``plans/base.py`` footer and tape helpers are wrapped where the
  gate modules imported them, counting calls and time;
- the JVM's garbage-collector beans give the GC time of each gate run.

Spans (name, start, end, parent, gate run) are kept in memory and
written with the per-gate totals to one JSON artifact at the end.

Measured passes alternate between traced and untraced; the difference
of their medians is the tracing overhead.
"""

from __future__ import annotations

import functools
import json
import re
import statistics
import sys
import time
import urllib.request
from datetime import datetime, timezone

#: Keep every job, stage and SQL execution of a run in the UI store so
#: the REST API still has them when the run ends.
SESSION_CONF = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
    "spark.sql.ui.retainedExecutions": "1000000",
}

PACKAGE = "market_microstructure_toolkit_spark"
#: plans/base.py helpers that read parquet footers or the key histogram.
FOOTER_HELPERS = (
    "parquet_rows",
    "parquet_col_range",
    "parquet_column",
    "parquet_ts_range",
    "book_symbol_rows",
    "book_symbol_group_counts",
    "book_rows_per_key",
    "_glob_parquet_rows",
    "_glob_parquet_col_range",
)
#: The streaming tape memo; a tape build is a call of its ``build`` argument.
TAPE_HELPER = "_memo_tape"

_MB = 1024.0 * 1024.0
_SIZE = re.compile(r"([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNIT = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_DURATION = re.compile(r"([0-9.]+)\s*(ms|s|m|h)\b")
_SECONDS = {"ms": 0.001, "s": 1.0, "m": 60.0, "h": 3600.0}
#: SQL metrics of the Python-evaluating plan nodes, by per-layer metric.
_PYTHON_SQL_METRICS = {
    "data sent to Python workers": ("python.bytes_sent", "size"),
    "data returned from Python workers": ("python.bytes_received", "size"),
    "time to run Python workers": ("python.worker_run_s", "time"),
    "time to start Python workers": ("python.worker_start_s", "time"),
    "time to initialize Python workers": ("python.worker_start_s", "time"),
}

#: Per-layer metric names, in report order.
METRICS = (
    "plans.constructor_s",
    "plans.constructor_jobs",
    "plans.constructor_share",
    "plans.base.footer_calls",
    "plans.base.footer_s",
    "plans.base.tape_builds",
    "plans.base.tape_s",
    "exec.action_s",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.run_s",
    "exec.cpu_s",
    "exec.gc_s",
    "exec.cpu_ratio",
    "exec.shuffle_read_mb",
    "exec.shuffle_write_mb",
    "exec.spill_mb",
    "exec.input_mb",
    "exec.output_mb",
    "exec.attributed_frac",
    "streaming.batches",
    "streaming.trigger_s",
    "streaming.add_batch_s",
    "streaming.planning_s",
    "streaming.log_commit_s",
    "streaming.nontrigger_s",
    "streaming.input_rows",
    "streaming.state_rows",
    "streaming.state_update_s",
    "streaming.state_commit_s",
    "streaming.batch_ms_p50",
    "streaming.batch_ms_p90",
    "python.bytes_sent",
    "python.bytes_received",
    "python.worker_run_s",
    "python.worker_start_s",
    "trace.pass_s",
    "trace.untraced_pass_s",
    "trace.overhead_s",
)
#: Metrics that read exactly 0 on every run of some workload, so they
#: stay in the per-gate artifact and out of the result line: the
#: streaming, Python-worker and tape layers, which book_metrics bypasses,
#: and spill and output bytes, which neither workload has (the noop sink
#: writes nothing).
ARTIFACT_ONLY = (
    "plans.base.tape_builds",
    "plans.base.tape_s",
    "exec.spill_mb",
    "exec.output_mb",
    "streaming.batches",
    "streaming.trigger_s",
    "streaming.add_batch_s",
    "streaming.planning_s",
    "streaming.log_commit_s",
    "streaming.input_rows",
    "streaming.state_rows",
    "streaming.state_update_s",
    "streaming.state_commit_s",
    "streaming.batch_ms_p50",
    "streaming.batch_ms_p90",
    "python.bytes_sent",
    "python.bytes_received",
    "python.worker_run_s",
    "python.worker_start_s",
)
#: Per-layer metrics of the result line, in report order.
REPORTED = tuple(m for m in METRICS if m not in ARTIFACT_ONLY)
_UNITS = {"_s": "s", "_mb": "MB", "_ms_p50": "ms", "_ms_p90": "ms", "_frac": "ratio",
          "_share": "ratio", "_ratio": "ratio", "bytes_sent": "bytes",
          "bytes_received": "bytes"}


def unit_of(metric: str) -> str:
    for suffix, unit in _UNITS.items():
        if metric.endswith(suffix):
            return unit
    return "count"


def _rest_time(s: str | None) -> float | None:
    """Spark REST timestamps ("2024-01-01T00:00:00.000GMT") as epoch s."""
    if not s:
        return None
    dt = datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def _sql_metric(value: str, kind: str) -> float:
    """The total of a SQL metric string ("total (min, med, max ...)\\n1.2
    KiB (...)" or "1.2 KiB"), in bytes or seconds."""
    value = value.replace(",", "")
    if kind == "size":
        m = _SIZE.search(value)
        return float(m.group(1)) * _UNIT[m.group(2)] if m else 0.0
    m = _DURATION.search(value)
    return float(m.group(1)) * _SECONDS[m.group(2)] if m else 0.0


class Tracer:
    """Spans, job groups and streaming progress of one traced run."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.runs: list[dict] = []  # one per gate run
        self.passes: list[dict] = []
        self.run_of_query: dict[str, int] = {}
        self.progress: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self._listener = None
        self._pass: dict | None = None

    # -- spans ---------------------------------------------------------
    def _open(self, name: str) -> int:
        span = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": len(self.runs) - 1 if self.runs and self.runs[-1]["end"] is None else None,
        }
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def _close(self, idx: int) -> None:
        self.spans[idx]["end"] = time.time()
        while self._stack and self._stack[-1] != idx:
            self._stack.pop()
        if self._stack:
            self._stack.pop()

    # -- helper wrappers -------------------------------------------------
    def _wrap_footer(self, name: str, fn):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            idx = self._open(f"footer:{name}")
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(idx)

        return wrapped

    def _wrap_tape(self, fn):
        @functools.wraps(fn)
        def wrapped(sf_dir, kind, build):
            if not self.enabled:
                return fn(sf_dir, kind, build)

            def timed_build(base):
                idx = self._open(f"tape_build:{kind}")
                try:
                    return build(base)
                finally:
                    self._close(idx)

            return fn(sf_dir, kind, timed_build)

        return wrapped

    def _patch_helpers(self) -> None:
        from market_microstructure_toolkit_spark.plans import base

        originals = {n: getattr(base, n) for n in FOOTER_HELPERS}
        originals[TAPE_HELPER] = getattr(base, TAPE_HELPER)
        wrappers = {
            n: (self._wrap_tape(f) if n == TAPE_HELPER else self._wrap_footer(n, f))
            for n, f in originals.items()
        }
        # gate modules import the helpers by name: replace each binding
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for n, f in originals.items():
                if getattr(mod, n, None) is f:
                    self._patched.append((mod, n, f))
                    setattr(mod, n, wrappers[n])

    # -- lifecycle -------------------------------------------------------
    def install(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                run = tracer.runs[-1] if tracer.runs else None
                if run is not None and run["end"] is None:
                    tracer.run_of_query[str(event.runId)] = run["id"]

            def onQueryProgress(self, event):
                tracer.progress.append(json.loads(event.progress.json))

            def onQueryTerminated(self, event):
                pass

        # registered for the whole run: progress events reach it
        # asynchronously, after the gate that ran the query has returned
        self._listener = _Listener()
        spark.streams.addListener(self._listener)
        self._patch_helpers()

    def uninstall(self, spark) -> None:
        self.enabled = False
        spark.streams.removeListener(self._listener)
        for mod, n, f in self._patched:
            setattr(mod, n, f)
        self._patched.clear()

    def pass_start(self, kind: str) -> None:
        self.enabled = kind in ("cold", "traced")
        self._pass = {"index": len(self.passes), "kind": kind, "start": time.time()}

    def pass_end(self, wall: float) -> None:
        self._pass.update(end=time.time(), wall_s=wall)
        self.passes.append(self._pass)

    def gate_start(self, spark, gate: str) -> None:
        if not self.enabled:
            return
        run = {"id": len(self.runs), "gate": gate, "pass": self._pass["index"],
               "start": time.time(), "end": None}
        self.runs.append(run)
        run["gc_ms"] = -self._gc_ms(spark)
        run["span"] = self._open(f"gate:{gate}")
        run["ctor_span"] = self._open("constructor")
        spark.sparkContext.setJobGroup(f"pb:{run['id']}:ctor", gate)

    def constructed(self, spark) -> None:
        if not self.enabled:
            return
        run = self.runs[-1]
        self._close(run["ctor_span"])
        run["action_span"] = self._open("action")
        spark.sparkContext.setJobGroup(f"pb:{run['id']}:action", run["gate"])

    def gate_end(self, spark) -> None:
        if not self.enabled:
            return
        run = self.runs[-1]
        for key in ("action_span", "ctor_span", "span"):
            if key in run and self.spans[run[key]]["end"] is None:
                self._close(run[key])
        run["end"] = time.time()
        run["gc_ms"] += self._gc_ms(spark)
        spark.sparkContext.setJobGroup("pb:none", "between gate runs")

    @staticmethod
    def _gc_ms(spark) -> int:
        """Collection time so far of the JVM, which in local mode holds
        the driver and the executors."""
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())

    # -- report ----------------------------------------------------------
    def _rest(self, spark, path: str):
        port = spark.sparkContext.uiWebUrl.rsplit(":", 1)[1].strip("/")
        app = spark.sparkContext.applicationId
        url = f"http://127.0.0.1:{port}/api/v1/applications/{app}/{path}"
        with urllib.request.urlopen(url, timeout=60) as resp:
            return json.loads(resp.read())

    def _run_of_group(self, group: str | None) -> tuple[int | None, str]:
        if group and group.startswith("pb:") and group != "pb:none":
            _, rid, phase = group.split(":")
            return int(rid), phase
        if group in self.run_of_query:
            return self.run_of_query[group], "ctor"
        return None, ""

    def report(self, spark, artifact: str | None, workload: str, seed: int) -> dict:
        """Per-layer metrics per measured traced pass; writes the per-gate
        artifact to ``artifact``."""
        # progress events arrive on the listener bus after the query ends
        deadline = time.time() + 10
        n = -1
        while time.time() < deadline and n != len(self.progress):
            n = len(self.progress)
            time.sleep(0.5)
        jobs = self._rest(spark, "jobs")
        stages = {(s["stageId"], s["attemptId"]): s for s in self._rest(spark, "stages")}
        sql = self._rest(spark, "sql?details=true&planDescription=false&offset=0&length=1000000")

        per_run = {r["id"]: {m: 0.0 for m in METRICS} for r in self.runs}
        for r in self.runs:
            s = self.spans
            ctor = s[r["ctor_span"]]
            per_run[r["id"]]["plans.constructor_s"] = ctor["end"] - ctor["start"]
            per_run[r["id"]]["exec.gc_s"] = r["gc_ms"] / 1000.0
            if "action_span" in r:
                a = s[r["action_span"]]
                per_run[r["id"]]["exec.action_s"] = a["end"] - a["start"]
            r["wall_s"] = r["end"] - r["start"]

        # footer and tape spans: outermost ones carry the time
        for sp in self.spans:
            if sp["run"] is None or sp["end"] is None:
                continue
            m = per_run[sp["run"]]
            parent = self.spans[sp["parent"]]["name"] if sp["parent"] is not None else ""
            if sp["name"].startswith("footer:"):
                m["plans.base.footer_calls"] += 1
                if not parent.startswith("footer:"):
                    m["plans.base.footer_s"] += sp["end"] - sp["start"]
            elif sp["name"].startswith("tape_build:"):
                m["plans.base.tape_builds"] += 1
                m["plans.base.tape_s"] += sp["end"] - sp["start"]

        # executor work from the REST API, stage by stage, each stage
        # counted once, under the first job that ran it
        windows = [(p["start"], p["end"]) for p in self.passes if p["kind"] in ("cold", "traced")]
        job_run: dict[int, int] = {}
        seen_stages: set[int] = set()
        run_total = attributed = 0.0
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            rid, phase = self._run_of_group(job.get("jobGroup"))
            t_sub = _rest_time(job.get("submissionTime"))
            in_window = t_sub is not None and any(a <= t_sub <= b for a, b in windows)
            if rid is not None:
                job_run[job["jobId"]] = rid
                m = per_run[rid]
                m["exec.jobs"] += 1
                if phase == "ctor":
                    m["plans.constructor_jobs"] += 1
            for sid in job["stageIds"]:
                if sid in seen_stages:
                    continue
                st = stages.get((sid, 0))
                if st is None or st.get("status") != "COMPLETE":
                    continue
                seen_stages.add(sid)
                run_s = st.get("executorRunTime", 0) / 1000.0
                if in_window:
                    run_total += run_s
                    if rid is not None:
                        attributed += run_s
                if rid is None:
                    continue
                m = per_run[rid]
                m["exec.stages"] += 1
                m["exec.tasks"] += st.get("numCompleteTasks", st.get("numTasks", 0))
                m["exec.run_s"] += run_s
                m["exec.cpu_s"] += st.get("executorCpuTime", 0) / 1e9
                m["exec.shuffle_read_mb"] += st.get("shuffleReadBytes", 0) / _MB
                m["exec.shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / _MB
                m["exec.spill_mb"] += (
                    st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
                ) / _MB
                m["exec.input_mb"] += st.get("inputBytes", 0) / _MB
                m["exec.output_mb"] += st.get("outputBytes", 0) / _MB

        # Python worker bytes and time, from the SQL metrics of each
        # execution, attributed through its jobs
        for ex in sql:
            ids = ex.get("successJobIds", []) + ex.get("failedJobIds", []) + ex.get(
                "runningJobIds", []
            )
            rid = next((job_run[j] for j in ids if j in job_run), None)
            if rid is None:
                continue
            for node in ex.get("nodes", []):
                for met in node.get("metrics", []):
                    if met["name"] in _PYTHON_SQL_METRICS:
                        name, kind = _PYTHON_SQL_METRICS[met["name"]]
                        per_run[rid][name] += _sql_metric(met["value"], kind)

        # per-trigger streaming phases
        batch_ms: dict[int, list[float]] = {}
        state_rows: dict[tuple[int, str], float] = {}
        for p in self.progress:
            rid = self.run_of_query.get(p.get("runId"))
            d = p.get("durationMs", {})
            if rid is None or "addBatch" not in d:
                continue
            m = per_run[rid]
            m["streaming.batches"] += 1
            m["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1000.0
            m["streaming.add_batch_s"] += d.get("addBatch", 0) / 1000.0
            m["streaming.planning_s"] += d.get("queryPlanning", 0) / 1000.0
            m["streaming.log_commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0
            m["streaming.input_rows"] += p.get("numInputRows", 0)
            batch_ms.setdefault(rid, []).append(float(d.get("triggerExecution", 0)))
            for i, op in enumerate(p.get("stateOperators", [])):
                key = (rid, f"{p.get('runId')}:{i}")
                state_rows[key] = max(state_rows.get(key, 0), op.get("numRowsTotal", 0))
                m["streaming.state_update_s"] += op.get("allUpdatesTimeMs", 0) / 1000.0
                m["streaming.state_commit_s"] += op.get("commitTimeMs", 0) / 1000.0
        for (rid, _), rows in state_rows.items():
            per_run[rid]["streaming.state_rows"] += rows
        for r in self.runs:
            m = per_run[r["id"]]
            m["streaming.nontrigger_s"] = r["wall_s"] - m["streaming.trigger_s"]
            wall = r["wall_s"]
            m["plans.constructor_share"] = m["plans.constructor_s"] / wall if wall else 0.0
            m["exec.cpu_ratio"] = m["exec.cpu_s"] / m["exec.run_s"] if m["exec.run_s"] else 0.0

        traced = [p for p in self.passes if p["kind"] == "traced"]
        untraced = [p for p in self.passes if p["kind"] == "warm"]
        traced_ids = {p["index"] for p in traced}
        cold_ids = {p["index"] for p in self.passes if p["kind"] == "cold"}
        # time-like and count metrics are per pass; ratios are recomputed
        summed = [m for m in METRICS if not m.startswith("trace.")
                  and m not in ("plans.constructor_share", "exec.cpu_ratio",
                                "exec.attributed_frac", "streaming.batch_ms_p50",
                                "streaming.batch_ms_p90")]

        def per_pass(pass_ids: set[int], gate: str | None = None) -> dict[str, float]:
            runs = [r for r in self.runs if r["pass"] in pass_ids and (gate is None or r["gate"] == gate)]
            n = max(1, len(pass_ids))
            out = {m: sum(per_run[r["id"]][m] for r in runs) / n for m in summed}
            wall = sum(r["wall_s"] for r in runs) / n
            out["plans.constructor_share"] = out["plans.constructor_s"] / wall if wall else 0.0
            out["exec.cpu_ratio"] = out["exec.cpu_s"] / out["exec.run_s"] if out["exec.run_s"] else 0.0
            samples = [b for r in runs for b in batch_ms.get(r["id"], [])]
            out["streaming.batches_sampled"] = len(samples)
            out["streaming.batch_ms_p50"] = statistics.median(samples) if samples else 0.0
            out["streaming.batch_ms_p90"] = (
                statistics.quantiles(samples, n=10, method="inclusive")[-1]
                if len(samples) > 1 else (samples[0] if samples else 0.0)
            )
            out["gate_wall_s"] = wall
            return out

        warm = per_pass(traced_ids)
        cold = per_pass(cold_ids)
        med_traced = statistics.median(p["wall_s"] for p in traced) if traced else 0.0
        med_untraced = statistics.median(p["wall_s"] for p in untraced) if untraced else 0.0
        summary = dict(warm)
        # tapes are built once per process, in the cold pass
        summary["plans.base.tape_builds"] = cold["plans.base.tape_builds"]
        summary["plans.base.tape_s"] = cold["plans.base.tape_s"]
        summary["exec.attributed_frac"] = attributed / run_total if run_total else 1.0
        summary["trace.pass_s"] = med_traced
        summary["trace.untraced_pass_s"] = med_untraced
        summary["trace.overhead_s"] = med_traced - med_untraced

        if artifact:
            gates = sorted({r["gate"] for r in self.runs})
            doc = {
                "workload": workload,
                "seed": seed,
                "note": "per-layer values are per pass: 'warm' averages the "
                        "traced measured passes, 'cold' is the first pass",
                "passes": self.passes,
                "summary": summary,
                "exec_run_s_total": run_total,
                "exec_run_s_attributed": attributed,
                "gates": {g: {"warm": per_pass(traced_ids, g), "cold": per_pass(cold_ids, g)}
                          for g in gates},
                "runs": [{**r, **{"metrics": per_run[r["id"]]}} for r in self.runs],
                "spans": self.spans,
            }
            with open(artifact, "w") as f:
                json.dump(doc, f, indent=1)
        return {m: {"value": float(summary[m]), "unit": unit_of(m)} for m in REPORTED}
