"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It writes a seeded input fixture under
``perfbench/.work/``, starts the workload process (``worker.py``) with a
pinned environment, and prints, as its last stdout line, one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones from a traced run, which also writes a
per-gate artifact under ``perfbench/.work/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import fixture
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "market_microstructure_toolkit_spark"

#: Set-up is sampled this many times per run (the workload process plus
#: set-up-only processes) and reported as the median.
SETUP_SAMPLES = 2
#: Every run must end well inside the 180 s a run may take.
DEADLINE_S = 170.0
PR_SET_CHILD_SUBREAPER = 36


def pinned_env(run_dir: str, scratch: str) -> dict[str, str]:
    """The workload process's environment: the repo on PYTHONPATH (Spark's
    Python workers import the package from it), one core per CPU, an
    empty benchmark-owned scratch root for the program's replay scratch
    and tape cache, temp files inside the run directory, and no other
    ``SPARK_GRAFT_*`` setting."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    tmp = os.path.join(run_dir, "tmp")
    for d in (scratch, tmp):
        os.makedirs(d, exist_ok=True)
    env.update(
        PYTHONPATH=ROOT,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_SCRATCH_DIR=scratch,
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        # no hsperfdata file, which the JVM writes to /tmp whatever tmpdir is
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem",
        PYTHONHASHSEED="0",
    )
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    return env


class Child:
    """A worker process in its own process group, read line by line,
    killed with its group if the run's deadline passes."""

    def __init__(self, argv: list[str], env: dict[str, str], cwd: str, log, deadline: float):
        self.t_start = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *argv],
            stdout=subprocess.PIPE,
            stderr=log,
            env=env,
            cwd=cwd,
            text=True,
            start_new_session=True,
        )
        self.timer = threading.Timer(max(1.0, deadline - time.perf_counter()), self.kill)
        self.timer.start()

    def kill(self) -> None:
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    def events(self):
        for line in self.proc.stdout:
            line = line.strip()
            if line.startswith("{"):
                yield time.perf_counter(), json.loads(line)

    def finish(self) -> None:
        """End the worker and every process it started (the JVM), and
        wait until all have exited."""
        self.kill()
        self.proc.wait()
        self.proc.stdout.close()
        t_stop = time.perf_counter() + 30
        while True:
            try:
                os.killpg(self.proc.pid, 0)
            except ProcessLookupError:
                break
            # the worker's JVM, orphaned when the worker died, is our
            # child: reap it here rather than wait for init to
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            if time.perf_counter() > t_stop:
                self.kill()
                t_stop += 30
            time.sleep(0.01)
        self.timer.cancel()


def run_child(argv, env, cwd, log, deadline) -> tuple[float, dict | None, dict]:
    """Run one worker; return (set-up seconds, result event, ready event)."""
    child = Child(argv, env, cwd, log, deadline)
    setup_s, ready, result = None, {}, None
    want = "ready" if "--setup-only" in argv else "result"
    try:
        for t, ev in child.events():
            if ev.get("event") == "ready":
                setup_s, ready = t - child.t_start, ev
            elif ev.get("event") == "result":
                result = ev
            if ev.get("event") == want:
                break
    finally:
        child.finish()
    if setup_s is None or (want == "result" and result is None):
        raise RuntimeError("worker ended before reporting")
    return setup_s, result, ready


def steady_pass_s(passes: list[dict]) -> float:
    """Wall of one warm pass: the median over the measured untraced
    rounds of the round's mean pass wall. Every gate runs once at each
    position in a round, so a round's mean does not depend on the gate
    orders the seed drew."""
    rounds: dict[int, list[float]] = {}
    for p in passes:
        if p["kind"] == "warm":
            rounds.setdefault(p["round"], []).append(p["wall_s"])
    return statistics.median(statistics.mean(w) for w in rounds.values())


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.perf_counter() + DEADLINE_S
    # orphaned descendants of a worker are reparented to this process
    ctypes.CDLL(None).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)

    for need in (os.path.join(ROOT, PACKAGE), os.path.join(ROOT, "tools", "check_oracle.py")):
        if not os.path.exists(need):
            print(f"perfbench: {need} is missing; run from a checkout of the repo",
                  file=sys.stderr)
            return 2

    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    wl = workloads.WORKLOADS[args.workload]
    data = fixture.write_fixture(os.path.join(run_dir, "data"), args.seed, wl.n_events)
    common = ["--workload", args.workload, "--seed", str(args.seed),
              "--data", data, "--root", ROOT]
    artifact = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
    setups: list[float] = []
    log_path = os.path.join(run_dir, "worker.log")
    try:
        with open(log_path, "w") as log:
            n_setup_only = SETUP_SAMPLES - 1 if not args.trace else 0
            for k in range(n_setup_only):
                env = pinned_env(run_dir, os.path.join(run_dir, f"scratch-setup{k}"))
                setup_s, _, _ = run_child(
                    [*common, "--seconds", "0", "--setup-only"], env, run_dir, log, deadline
                )
                setups.append(setup_s)
            env = pinned_env(run_dir, os.path.join(run_dir, "scratch"))
            setup_s, res, ready = run_child(
                [*common, "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--artifact", artifact],
                env, run_dir, log, deadline,
            )
            setups.append(setup_s)
    except Exception as exc:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    for gate, chk in res["checks"].items():
        status = "ok" if chk["ok"] else "MISMATCH"
        print(f"check {gate:32s} {status} rows={chk.get('rows')} {chk.get('why', '')}")
    passes = res["passes"]
    for gate in wl.gates:
        walls = " ".join(f"{p['kind']}:{p['gate_s'].get(gate, float('nan')):.3f}" for p in passes)
        print(f"gate  {gate:32s} {walls}")
    for gate, err in res["errors"].items():
        print(f"error {gate}: {err}")
    if args.trace:
        metrics = {
            "session.start_s": {"value": ready["session_start_s"], "unit": "s"},
            "mem.peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB"},
            **res["per_layer"],
        }
    else:
        metrics = {
            "setup_s": {"value": statistics.median(setups), "unit": "s"},
            "pass_s": {"value": steady_pass_s(passes), "unit": "s"},
        }
    attempted, failed = res["attempted"], res["failed"]
    print(f"workload {args.workload} seed {args.seed}: cold pass {passes[0]['wall_s']:.3f}s, "
          f"pass walls {[(p['kind'], round(p['wall_s'], 3)) for p in passes]}, "
          f"setups {[round(s, 3) for s in setups]}, peak RSS {res['peak_rss_mb']:.0f} MB, "
          f"check {res['verify_s']:.2f}s")
    print(f"failed_frac {failed / attempted:.4f} ({failed}/{attempted} gate runs)")
    for name, m in metrics.items():
        print(f"{name:28s} {m['value']:.4f} {m['unit']}")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
