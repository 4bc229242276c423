"""The benchmark leaves nothing behind: no process and no file survives a
normal, a failed or a killed run.

    python3 -m pytest perfbench/test_perfbench.py -q

Each case runs ``run.py`` with a temporary working directory, so the
run's scratch directory, the JVM's working directory and everything the
run writes live under it.  About a minute on a 4-core host.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
RUN = os.path.join(HERE, "run.py")
ARGS = ["--workload", "registry_queries", "--seed", "3", "--seconds", "1", "--trace", "0"]


def _procs_under(path: str) -> list[tuple[int, str]]:
    """Processes whose working directory is inside ``path``."""
    out = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            cwd = os.readlink(f"/proc/{pid}/cwd")
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if cwd.startswith(str(path)):
            out.append((int(pid), cmd))
    return out


def _wait_for_jvm(path, timeout=120.0) -> int:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        for pid, cmd in _procs_under(path):
            if "java" in cmd.split(" ")[0]:
                return pid
        time.sleep(0.5)
    raise AssertionError("the run never started a JVM")


def _assert_clean(path) -> None:
    assert _procs_under(path) == []
    assert os.listdir(path) == []


def test_normal_run_prints_a_result_and_leaves_nothing(tmp_path):
    out = subprocess.run(
        [sys.executable, RUN, *ARGS], cwd=tmp_path, capture_output=True, text=True,
        timeout=180,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    _assert_clean(tmp_path)


def test_failed_run_exits_nonzero_and_leaves_nothing(tmp_path):
    proc = subprocess.Popen(
        [sys.executable, RUN, *ARGS], cwd=tmp_path,
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    os.kill(_wait_for_jvm(tmp_path), signal.SIGKILL)  # the engine dies mid-run
    stdout, _ = proc.communicate(timeout=180)
    assert proc.returncode != 0
    assert '"metrics"' not in stdout
    _assert_clean(tmp_path)


def test_killed_run_exits_nonzero_and_leaves_nothing(tmp_path):
    proc = subprocess.Popen(
        [sys.executable, RUN, *ARGS], cwd=tmp_path,
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    _wait_for_jvm(tmp_path)
    time.sleep(5)
    proc.send_signal(signal.SIGTERM)
    stdout, _ = proc.communicate(timeout=60)
    assert proc.returncode != 0
    assert '"metrics"' not in stdout
    _assert_clean(tmp_path)


def test_exits_nonzero_without_the_engine(tmp_path):
    bench = tmp_path / "perfbench"
    shutil.copytree(HERE, bench, ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", *ARGS], cwd=tmp_path,
        capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
