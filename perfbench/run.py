"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Generates the workload's inputs from
the seed under ``.perfbench_tmp/`` in the checkout, runs the engine in
child processes, checks every output, and prints:

- a ``perfbench-info`` JSON line: environment, host calibration,
  the workload's own figures, and (traced) the span summary;
- as the last line, ``{"correct", "attempted", "failed", "metrics"}``
  with every end-to-end metric (``--trace 0``) or every per-layer
  metric (``--trace 1``) of BENCHMARK.json.

Everything the run writes is removed before it exits, including the
warm-index entries the engine creates for the generated corpora.
Workloads are described in DESIGN.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback
from pathlib import Path

import common
import names

WORKLOADS = ("serve_http", "write_batch")
WORKER_TIMEOUT_S = 165
# entries the engine may create in the checkout root
ENGINE_LEFTOVERS = (".warm_index", "spark-warehouse", "metastore_db", "derby.log")


def run_worker(seed: int, seconds: float, trace: bool, tmp: Path, env: dict) -> dict:
    out = tmp / "worker.json"
    args = [sys.executable, str(common.BENCH_DIR / "worker.py"), "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(int(trace)), "--tmp", str(tmp), "--out", str(out)]
    t_spawn = time.time()
    proc = common.spawn(args, env, tmp / "worker.log")
    try:
        rc = proc.wait(WORKER_TIMEOUT_S)
    finally:
        common.stop_group(proc, grace_s=5)
    log = (tmp / "worker.log").read_text(errors="replace")
    if rc != 0 or not out.exists():
        raise RuntimeError(f"worker exited with {rc}:\n{log[-3000:]}")
    sys.stderr.writelines(line + "\n" for line in log.splitlines() if line.startswith("perfbench-worker:"))
    res = json.loads(out.read_text())
    res["e2e"]["setup_s"] = res.pop("ready_epoch") - t_spawn
    return res


def snapshot() -> dict[str, set[str] | None]:
    """What the checkout root holds of ``ENGINE_LEFTOVERS`` now: None for
    an absent entry, a directory's listing; existing files are omitted."""
    out: dict[str, set[str] | None] = {}
    for name in ENGINE_LEFTOVERS:
        path = common.ROOT / name
        if not path.exists():
            out[name] = None
        elif path.is_dir():
            out[name] = set(os.listdir(path))
    return out


def cleanup(tmp: Path, before: dict[str, set[str] | None]) -> None:
    """Delete the run's temp root and whatever the engine added to the
    checkout root; leave what was there before the run untouched."""
    shutil.rmtree(tmp, ignore_errors=True)
    if tmp.parent.is_dir() and not os.listdir(tmp.parent):
        tmp.parent.rmdir()
    for name, had in before.items():
        path = common.ROOT / name
        if had is None:
            if path.is_dir():
                shutil.rmtree(path, ignore_errors=True)
            elif path.exists():
                path.unlink()
        elif path.is_dir():
            for entry in set(os.listdir(path)) - had:
                shutil.rmtree(path / entry, ignore_errors=True)


def environment(env: dict) -> dict:
    import platform

    import pyspark

    return {
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "cpus": env["SPARK_GRAFT_CPUS"],
        "driver_memory": env["SPARK_DRIVER_MEMORY"],
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans-out", type=Path, help="traced: also write every span to this file")
    args = ap.parse_args()
    if not (common.ROOT / common.PACKAGE / "__init__.py").is_file():
        print(f"perfbench: package {common.PACKAGE!r} not found under {common.ROOT}", file=sys.stderr)
        return 2
    common.become_subreaper()
    # a terminated run still stops its children and deletes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    tmp = common.ROOT / ".perfbench_tmp" / f"{args.workload}-s{args.seed}-p{os.getpid()}"
    before = snapshot()
    try:
        tmp.mkdir(parents=True)
        env = common.child_env(tmp)
        if args.workload == "serve_http":
            import serve

            res = serve.run(args.seed, args.seconds, bool(args.trace), tmp, env)
        else:
            import batch
            import ingest

            ingest.prepare(args.seed, tmp)
            batch.prepare(args.seed, tmp)
            res = run_worker(args.seed, args.seconds, bool(args.trace), tmp, env)
        calibration = {"numpy_gemm_1536_s": common.gemm_calibration_s(), **res.get("calibration", {})}
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "environment": environment(env),
            "calibration": calibration,
            "workload_metrics": res["workload"],
            "setup_failed": res.get("setup_failed", 0),
            "errors": res.get("errors", []),
        }
    except Exception:  # noqa: BLE001 — report and exit non-zero, printing no result
        traceback.print_exc()
        return 1
    finally:
        cleanup(tmp, before)
    if args.trace:
        info["span_summary"] = res.get("span_summary", {})
        if args.spans_out:
            args.spans_out.write_text(json.dumps(res.get("spans", [])))
        values, units = res.get("layers", {}), names.PER_LAYER
    else:
        values, units = res["e2e"], names.END_TO_END
    print("perfbench-info " + json.dumps(info))
    failed = res["failed"]
    result = {
        "correct": failed == 0 and res.get("setup_failed", 0) == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
