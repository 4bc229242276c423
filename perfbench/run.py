"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (``lake_nightly`` or ``registry_queries``; see
``BENCHMARK.json``) on inputs generated from seed N, checks every
output, and prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the per-layer
ones.
Lines starting with ``#`` before it carry every rep of every operation,
the operations whose median/min exceeds 1.5, and each workload's own
named metrics.

``lake_nightly`` runs a fixed schedule (``workloads.json``) whatever S
is; ``registry_queries`` runs at least three passes and keeps passing
until S seconds are spent, and reports per-query medians.

The workload runs in ``worker.py`` in its own process group, with every
scratch path (Spark local dirs, warehouse, event log, generated inputs,
the lake) inside one temporary directory under the working directory.
On exit, timeout, SIGTERM or SIGINT the whole group -- the JVM and the
Python workers included -- is killed and waited for, and the directory
is removed.  Exits non-zero without a result when the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
MARKER = "PERFBENCH_RUN"
TIMEOUT_S = 155  # plus up to 15 s of kill grace, within 180 s


def _marked_pids(run_id: str) -> list[int]:
    """Processes whose environment carries this run's marker."""
    needle = f"{MARKER}={run_id}".encode()
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/environ", "rb") as f:
                if needle in f.read().split(b"\0"):
                    pids.append(int(pid))
        except OSError:
            continue
    return pids


def _kill_all(proc: subprocess.Popen, run_id: str) -> None:
    """SIGTERM then SIGKILL the worker's group and any process still
    marked with this run, and wait until none is left."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            pass
        for pid in _marked_pids(run_id):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            proc.poll()
            if proc.returncode is not None and not _marked_pids(run_id) \
                    and not _group_alive(proc.pid):
                return
            time.sleep(0.1)
    proc.wait(timeout=5)


def _group_alive(pgid: int) -> bool:
    """True while any process, a zombie included, is in the group."""
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    repo = os.path.dirname(HERE)
    if not os.path.isdir(os.path.join(repo, "atd_data_lake_spark")):
        print("perfbench: the engine package atd_data_lake_spark is missing", file=sys.stderr)
        return 2

    scratch = tempfile.mkdtemp(prefix=".perfbench-run-", dir=os.getcwd())
    run_id = os.path.basename(scratch)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(scratch, sub))
    tmp = os.path.join(scratch, "tmp")
    env = dict(
        os.environ, TMPDIR=tmp, HOME=tmp, SPARK_LOCAL_DIRS=os.path.join(scratch, "local"),
        PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(filter(None, [repo, os.environ.get("PYTHONPATH")])),
    )
    env[MARKER] = run_id
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--scratch", scratch]

    def on_signal(signum, frame):
        signal.signal(signum, signal.SIG_IGN)  # one interrupt is enough
        raise KeyboardInterrupt

    old = {s: signal.signal(s, on_signal) for s in (signal.SIGTERM, signal.SIGINT)}
    proc = None
    code = 1
    try:
        proc = subprocess.Popen(cmd, cwd=scratch, env=env, start_new_session=True)
        code = proc.wait(timeout=TIMEOUT_S)
        result_path = os.path.join(scratch, "result.json")
        if code == 0 and os.path.exists(result_path):
            with open(result_path) as f:
                result = json.load(f)
        else:
            code = code or 1
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIMEOUT_S}s, killed", file=sys.stderr)
        code = 1
    except KeyboardInterrupt:
        print("perfbench: interrupted, killed", file=sys.stderr)
        code = 1
    finally:
        if proc is not None:
            _kill_all(proc, run_id)
        shutil.rmtree(scratch, ignore_errors=True)
        for s, h in old.items():
            signal.signal(s, h)
    if code != 0:
        return code
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
