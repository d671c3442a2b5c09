"""In-memory span recording and Spark status-store counters.

Spans are recorded from the benchmark's own code: around the calls it
makes into a layer, and through timing wrappers it installs on the
module attributes of layers that are only reached through another
layer.  Wrappers are installed in traced runs only, after their
untraced measurement.

A span is ``{id, name, start, end, parent, rid}``: ``parent`` is the
enclosing span on the same thread and ``rid`` the request or query id
shared by every span of one operation.  Self time is a span's duration
minus the time its children cover (children of one thread run
sequentially, so that is the sum of their durations).
"""

from __future__ import annotations

import functools
import gc
import itertools
import sys
import threading
import time
from contextlib import contextmanager
from typing import Any, Callable


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._restore: list[tuple[Any, str, Any]] = []

    def _stack(self) -> list[dict[str, Any]]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, rid: Any = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "rid": rid if rid is not None else (parent["rid"] if parent else None),
        }
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.spans.append(rec)  # list.append is atomic under the GIL

    def wrapped(self, fn: Callable, name: str) -> Callable:
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return timed

    def install(self, original: Callable, name: str, package: str = "readwise_vector_db_spark") -> int:
        """Replace every module attribute of ``package`` bound to
        ``original`` with a timing wrapper (``from x import f`` copies
        the binding, so each importing module holds its own).  Returns
        the number of bindings replaced."""
        wrapper = self.wrapped(original, name)
        n = 0
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == package or mod_name.startswith(package + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    self._restore.append((mod, attr, val))
                    setattr(mod, attr, wrapper)
                    n += 1
        return n

    def install_method(self, cls: type, attr: str, name: str) -> None:
        original = getattr(cls, attr)
        self._restore.append((cls, attr, original))
        setattr(cls, attr, self.wrapped(original, name))

    def uninstall(self) -> None:
        for owner, attr, val in reversed(self._restore):
            setattr(owner, attr, val)
        self._restore.clear()

    def summary(self) -> dict[str, dict[str, float]]:
        return summarize(self.spans)


def self_ms(span_list: list[dict[str, Any]]) -> dict[int, float]:
    """Span id → self milliseconds (duration minus its children's)."""
    child_s: dict[int, float] = {}
    for s in span_list:
        if s["parent"] is not None:
            child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"] - child_s.get(s["id"], 0.0)) * 1e3 for s in span_list}


def summarize(span_list: list[dict[str, Any]]) -> dict[str, dict[str, float]]:
    """Per span name: count, total and self milliseconds."""
    selfs = self_ms(span_list)
    out: dict[str, dict[str, float]] = {}
    for s in span_list:
        row = out.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
        row["count"] += 1
        row["total_ms"] += (s["end"] - s["start"]) * 1e3
        row["self_ms"] += selfs[s["id"]]
    return out


# --- Spark status store ------------------------------------------------------

COUNTERS = (
    "jobs", "stages", "tasks", "job_ms", "exec_run_ms", "exec_cpu_ms",
    "shuffle_bytes", "spill_bytes", "gc_ms", "input_records",
)


@contextmanager
def job_group(spark, group: str):
    """Tag every Spark job the current thread starts with ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def group_counters(spark, group: str) -> dict[str, float]:
    """Jobs, stages, tasks and stage metrics of one job group, read from
    the status store (works with the UI disabled).  Skipped stages (a
    reused shuffle) are not counted."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(COUNTERS, 0)
    seen: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        jd = store.job(jid)
        t0, t1 = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
        if t0 is not None and t1 is not None:
            out["job_ms"] += t1 - t0
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — a stage the store never saw
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["exec_run_ms"] += sd.executorRunTime()
            out["exec_cpu_ms"] += sd.executorCpuTime() / 1e6
            out["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["gc_ms"] += sd.jvmGcTime()
            out["input_records"] += sd.inputRecords()
    return out


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning milliseconds of ``df``'s plan
    (forces planning if it has not happened yet)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total


# --- process memory ----------------------------------------------------------


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(p) for p in f.read().split()]
    except OSError:
        return []


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


def _driver_mb(pid: int, key: str) -> float:
    """``key`` of a Spark driver's ``/proc/<pid>/status``: the Python
    process plus its JVM child, in MB."""
    kb = _status_kb(pid, key)
    kb += sum(_status_kb(c, key) for c in children(pid) if _is_jvm(c))
    return kb / 1024


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of a Spark driver.  Mostly the heap
    the JVM's collector chose to grow to, so it varies run to run."""
    return _driver_mb(pid, "VmHWM")


def settle_heap(jvm, rounds: int = 12) -> float:
    """Collect a Spark driver's garbage until its JVM heap stops shrinking,
    and return the JVM heap in use then, in MB.

    Each round runs Python's collector (py4j proxies it frees release
    their JVM objects), then a full JVM collection, then waits 1 s for
    Spark's ContextCleaner to drop what that collection let go of.  It
    stops once three rounds in a row agree within 1 MB.  A single full
    collection leaves run-dependent garbage behind (from ~120 to ~450 MB
    on ``serve_http``); after three rounds the heap in use repeats within
    a few MB.  G1 then shrinks the heap to suit (``MaxHeapFreeRatio``)
    and hands the rest back to the OS."""
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    history: list[float] = []
    for _ in range(rounds):
        gc.collect()
        jvm.java.lang.System.gc()
        history.append(mx.getHeapMemoryUsage().getUsed() / 2**20)
        if len(history) >= 3 and max(history[-3:]) - min(history[-3:]) < 1.0:
            break
        time.sleep(1.0)
    return history[-1]


def retained_rss_mb(pid: int, settle_s: float = 3.0) -> float:
    """Resident set (``VmRSS``) of a Spark driver after ``settle_heap``:
    what the process holds once its garbage is gone.  Polls until two
    readings 0.25 s apart agree within 1 MB (the heap's uncommit has
    finished), for at most ``settle_s``."""
    deadline = time.monotonic() + settle_s
    last = _driver_mb(pid, "VmRSS")
    while time.monotonic() < deadline:
        time.sleep(0.25)
        now = _driver_mb(pid, "VmRSS")
        if abs(now - last) < 1.0:
            return now
        last = now
    return last
