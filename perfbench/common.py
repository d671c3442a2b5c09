"""Process, environment and statistics helpers shared by the workloads."""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
PACKAGE = "readwise_vector_db_spark"


def child_env(tmp: Path) -> dict[str, str]:
    """Environment for every process that runs the engine.

    - ``SPARK_GRAFT_CPUS``: the engine's ``local[N]`` width, pinned to the
      CPUs this process may use.
    - ``SPARK_DRIVER_MEMORY``: the engine defaults to 16g; 3g holds these
      inputs with room to spare and leaves the box's memory to others.
    - ``PYTHONPATH``: the pandas-UDF workers import the package by name,
      so the checkout root must be importable from any working directory.
    - ``TZ=UTC``: the engine's session time zone, so naive timestamps
      mean the same on both sides of py4j.
    - Spark's scratch, the JVM temp dir, Python's temp dir and the SQL
      warehouse all live under ``tmp``, which the run deletes at exit;
      ``-XX:-UsePerfData`` keeps the JVM from writing its monitoring
      file to ``/tmp``.
    """
    env = dict(os.environ)
    (tmp / "spark-local").mkdir(parents=True, exist_ok=True)
    (tmp / "py-tmp").mkdir(parents=True, exist_ok=True)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEMORY="3g",
        PYTHONPATH=os.pathsep.join(p for p in (str(ROOT), env.get("PYTHONPATH", "")) if p),
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=str(tmp / "spark-local"),
        TMPDIR=str(tmp / "py-tmp"),
        TZ="UTC",
        PYSPARK_SUBMIT_ARGS=(
            f"--conf spark.sql.warehouse.dir={tmp / 'warehouse'} "
            f"--driver-java-options '-Djava.io.tmpdir={tmp / 'py-tmp'} -XX:-UsePerfData' pyspark-shell"
        ),
    )
    return env


def spawn(args: list[str], env: dict[str, str], log: Path, stdout=subprocess.DEVNULL) -> subprocess.Popen:
    """Start ``args`` in its own process group (so every descendant —
    the JVM and its Python workers — can be stopped together)."""
    with open(log, "ab") as err:
        return subprocess.Popen(
            args, cwd=ROOT, env=env, stdout=stdout, stderr=err,
            text=True, start_new_session=True,
        )


def become_subreaper() -> None:
    """Adopt orphaned descendants (a JVM whose Python parent exited), so
    ``stop_group`` can reap them instead of leaving them to init."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def stop_group(proc: subprocess.Popen, grace_s: float = 30.0, sig: int = signal.SIGINT) -> None:
    """Signal ``proc`` and wait up to ``grace_s`` for it to exit, then
    kill what is left of its process group and reap it, returning only
    once no process of the group is alive."""
    if proc.poll() is None:
        proc.send_signal(sig)
        try:
            proc.wait(grace_s)
        except subprocess.TimeoutExpired:
            pass
    deadline = time.monotonic() + 30
    while True:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        if proc.poll() is None:
            proc.wait()
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        if not _group_alive(proc.pid) or time.monotonic() > deadline:
            return
        time.sleep(0.05)


def percentile(values: list[float], q: int) -> float:
    """The q-th percentile (inclusive interpolation)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def gemm_calibration_s() -> float:
    """Host probe, same pinned size as the repo's ``bench.py``: min of
    three 1536² float64 gemms.  Reported next to the metrics, never
    folded into them."""
    import numpy as np

    rng = np.random.default_rng(7)
    a, b = rng.standard_normal((1536, 1536)), rng.standard_normal((1536, 1536))
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        np.dot(a, b).sum()
        best = min(best, time.perf_counter() - t0)
    return best
