"""One workload process: set up, run the timed passes, check outputs.

Started by ``run.py`` with the benchmark's pinned environment. It talks
to its parent through JSON lines on stdout: ``{"event": "ready"}`` once
the first pass can begin, then one ``{"event": "result", ...}``. Spark
logs go to stderr, which the parent sends to a log file.

``--setup-only`` stops after the ready line; the parent uses such
processes to sample set-up time more than once per run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import workloads

#: Rounds run before the measured ones: the cold pass, then untimed
#: warm-up passes. Pass walls fall for several passes after the cold one
#: while the JIT compiles the hot paths, and with two rounds some
#: processes were still about 20% above their final wall.
WARMUP_ROUNDS = 3
#: Measured rounds fill ``--seconds``, but never fewer than this many run
#: (in a traced run, half of them traced).
MIN_MEASURED_ROUNDS = 2
MAX_ROUNDS = 100


def emit(obj: dict) -> None:
    print(json.dumps(obj), flush=True)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _load_canon(root: str):
    import importlib.util

    path = os.path.join(root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _hash(canon, pdf) -> tuple[str, list[str], int]:
    """tools/check_oracle.py's canonical hash, with its row-count rule
    for switching to the vectorized hasher."""
    if len(pdf) > canon.FAST_ROWS:
        return canon.canon_hash_fast(pdf)
    return canon.canon_hash(pdf)


def verify(wl, registry, outputs, data_dir, root) -> dict[str, dict]:
    """Compare each gate's output (a pandas frame) with its DuckDB oracle
    over the same parquet: row count, column names and canonical value
    hash."""
    import duckdb

    canon = _load_canon(root)
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"'{os.path.join(data_dir, 'events.parquet')}'"
        )
        out: dict[str, dict] = {}
        for gate in wl.gates:
            if gate not in outputs:
                out[gate] = {"ok": False, "why": "no successful run"}
                continue
            sql = registry[gate].sql
            try:
                got = _hash(canon, outputs[gate])
                want = _hash(canon, con.execute(sql).fetchdf())
            except Exception as exc:  # a gate that cannot be checked fails
                out[gate] = {"ok": False, "why": f"{type(exc).__name__}: {exc}"[:300]}
                continue
            ok = got == want
            out[gate] = {"ok": ok, "rows": got[2], "hash": got[0]}
            if not ok:
                out[gate]["oracle"] = {"rows": want[2], "hash": want[0], "cols": want[1]}
                out[gate]["cols"] = got[1]
        return out
    finally:
        con.close()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--root", required=True)
    ap.add_argument("--artifact")
    ap.add_argument("--setup-only", action="store_true")
    args = ap.parse_args()

    t0 = time.perf_counter()
    from market_microstructure_toolkit_spark.plans.queries import REGISTRY
    from market_microstructure_toolkit_spark.session import get_spark

    tracer = None
    # the run directory is the working directory; managed tables stay in it
    extra_conf = {"spark.sql.warehouse.dir": os.path.abspath("warehouse")}
    if args.trace:
        import tracing

        tracer = tracing.Tracer()
        extra_conf.update(tracing.SESSION_CONF)
    t1 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", **extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    t2 = time.perf_counter()
    emit({"event": "ready", "import_s": t1 - t0, "session_start_s": t2 - t1})
    if args.setup_only:
        # the parent ends this process group once it has read the line
        time.sleep(60)
        return 1

    wl = workloads.WORKLOADS[args.workload]
    rounds = workloads.pass_orders(wl, args.seed, MAX_ROUNDS)
    if tracer is not None:
        tracer.install(spark)

    attempted = 0
    failed_runs: dict[str, int] = {}
    errors: dict[str, str] = {}
    # gate -> output collected in the untimed warm-up passes
    outputs = {}
    passes: list[dict] = []

    def run_pass(order: list[str], kind: str, round_no: int) -> None:
        nonlocal attempted
        if tracer is not None:
            tracer.pass_start(kind)
        gate_s: dict[str, float] = {}
        tp = time.perf_counter()
        for gate in order:
            attempted += 1
            tg = time.perf_counter()
            try:
                if tracer is not None:
                    tracer.gate_start(spark, gate)
                df = REGISTRY[gate].spark(spark, args.data)
                if tracer is not None:
                    tracer.constructed(spark)
                if kind == "warmup" and gate not in outputs:
                    outputs[gate] = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
                gate_s[gate] = time.perf_counter() - tg
            except Exception as exc:  # a failing gate is counted, not fatal
                failed_runs[gate] = failed_runs.get(gate, 0) + 1
                errors.setdefault(gate, f"{type(exc).__name__}: {exc}"[:300])
            finally:
                if tracer is not None:
                    tracer.gate_end(spark)
        wall = time.perf_counter() - tp
        if tracer is not None:
            tracer.pass_end(wall)
        passes.append({"kind": kind, "round": round_no, "wall_s": wall, "gate_s": gate_s})

    # the untimed warm-up passes also collect the outputs that are
    # checked once the timed passes are done
    for r in range(WARMUP_ROUNDS):
        for order in rounds[r]:
            run_pass(order, "cold" if not passes else "warmup", r)
    # a traced run alternates traced and untraced rounds
    kinds = ["traced", "warm"] if tracer is not None else ["warm"]
    t_end = time.perf_counter() + args.seconds
    r = WARMUP_ROUNDS
    # a round starts only if, judged by the last one, it ends by t_end
    while r < MAX_ROUNDS and (
        r - WARMUP_ROUNDS < MIN_MEASURED_ROUNDS
        or time.perf_counter() + sum(p["wall_s"] for p in passes if p["round"] == r - 1) <= t_end
    ):
        kind = kinds[(r - WARMUP_ROUNDS) % len(kinds)]
        for order in rounds[r]:
            run_pass(order, kind, r)
        r += 1

    rss_mb = _vm_hwm_mb("self") + _vm_hwm_mb(
        spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    )
    per_layer = None
    if tracer is not None:
        per_layer = tracer.report(spark, args.artifact, args.workload, args.seed)
        tracer.uninstall(spark)
    t_verify = time.perf_counter()
    checks = verify(wl, REGISTRY, outputs, args.data, args.root)
    t_verify = time.perf_counter() - t_verify
    # every gate runs once per pass; all runs of a gate whose output
    # differs from its oracle count as failed
    failed = sum(
        len(passes) if not checks[gate]["ok"] else failed_runs.get(gate, 0)
        for gate in wl.gates
    )
    result = {
        "event": "result",
        "passes": passes,
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "checks": checks,
        "peak_rss_mb": rss_mb,
        "verify_s": t_verify,
    }
    if per_layer is not None:
        result["per_layer"] = per_layer
    emit(result)
    # the parent ends this process group once it has read the result
    time.sleep(60)
    return 1


if __name__ == "__main__":
    sys.exit(main())
