"""Engine process of the ``write_batch`` workload.

One pass is seven measured operations in one Spark session: the four
ingest calls (ingest.py: backfill, sync, dedup seed, dedup increment),
then the batch queries and the curation run (batch.py).  Passes repeat
until ``--seconds`` have elapsed (at least one).

Before them, the unmeasured warm-up pass runs the ingest calls on a
small export beside one batch rep (its outputs checked like any other);
it finishes JIT compilation, Python-worker start-up and lazy builds, and
its wall time is charged to ``setup_s``.  With ``--trace 1`` one more
pass runs with job groups and timing wrappers installed.  The result is
written as JSON to ``--out``.

Usage: python perfbench/worker.py --seed N --seconds S --trace 0|1
           --tmp DIR --out FILE
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path
from statistics import median

import batch
import ingest
import spans
from common import percentile


T_START = time.time()


def log(msg: str) -> None:
    print(f"perfbench-worker: {msg}", file=sys.stderr, flush=True)


def spark_sum_calibration_s(spark) -> float:
    """Host probe, same pinned size as the repo's ``bench.py``: min of
    three 50M-row Spark sums."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(50_000_000).selectExpr("sum(id * 2 + 1)").collect()
        best = min(best, time.perf_counter() - t0)
    return best


def one_pass(spark, tmp: Path, sf_dir: str, tag: str, tracer=None) -> list[dict]:
    root = tmp / "stores" / tag
    ops = ingest.Pass(spark, tmp / "inputs" / "main", root, tracer, tag).run()
    ops += batch.one_rep(spark, sf_dir, tmp, tracer, f"{tag}." if tracer else "")
    return ops


def run(spark, seed: int, seconds: float, trace: bool, tmp: Path) -> dict:
    log(f"session up {time.time() - T_START:.1f} s after start")
    sf_dir = str(batch.data_dir(tmp, seed))
    checks = batch.Checks(tmp)
    t0 = time.perf_counter()
    # the warm-up's two halves share no state, so they run side by side
    with ThreadPoolExecutor(2) as pool:
        halves = [
            pool.submit(ingest.Pass(spark, tmp / "inputs" / "warm", tmp / "stores" / "warm").run),
            pool.submit(batch.one_rep, spark, sf_dir, tmp, clean=False),
        ]
        warm = [op for half in halves for op in half.result()]
    log(f"warm-up pass {time.perf_counter() - t0:.1f} s: " + ", ".join(f"{o['name']} {o['s']:.2f}" for o in warm))
    ready_epoch = time.time()

    def failed(op: dict) -> bool:
        return not op["ok"] if op["name"] in ingest.CALLS else checks.failed(op)

    ops: list[dict] = []
    passes = 0
    t0 = time.perf_counter()
    while passes == 0 or time.perf_counter() - t0 < seconds:
        ops += one_pass(spark, tmp, sf_dir, f"p{passes}")
        shutil.rmtree(tmp / "stores" / f"p{passes}", ignore_errors=True)
        passes += 1
    log(f"{passes} measured passes {time.perf_counter() - t0:.1f} s: "
        + ", ".join(f"{o['name']} {o['s']:.2f}" for o in ops))
    all_s = [o["s"] for o in ops]
    res = {
        "ready_epoch": ready_epoch,
        "attempted": len(ops),
        "failed": sum(map(failed, ops)),
        "setup_failed": sum(map(failed, warm)),
        "errors": [o["error"] for o in warm + ops if "error" in o][:5],
        "e2e": {
            "op_p50_ms": median(all_s) * 1e3,
            "op_p90_ms": percentile(all_s, 90) * 1e3,
            "ops_per_s": len(ops) / sum(all_s),
        },
        "workload": {
            **ingest.figures(ops, tmp / "inputs" / "main"),
            **batch.figures(ops),
            "passes": passes,
            "ops_per_pass": len(ops) // passes,
        },
    }
    res["workload"]["peak_rss_mb"] = spans.peak_rss_mb(os.getpid())
    res["workload"]["jvm_live_heap_mb"] = spans.settle_heap(spark._jvm)
    res["e2e"]["retained_rss_mb"] = spans.retained_rss_mb(os.getpid())
    if trace:
        tracer = spans.Tracer()
        ingest.install_wrappers(tracer)
        batch.install_wrappers(tracer)
        traced = one_pass(spark, tmp, sf_dir, "traced", tracer)
        tracer.uninstall()
        res["attempted"] += len(traced)
        res["failed"] += sum(map(failed, traced))
        res["layers"] = {
            **ingest.layer_metrics(traced, tmp / "inputs" / "main", tmp / "stores" / "traced"),
            **batch.layer_metrics([o for o in traced if o["name"] not in ingest.CALLS]),
            "trace.overhead_ms": (median([o["s"] for o in traced]) - median(all_s)) * 1e3,
        }
        res["span_summary"] = tracer.summary()
        res["spans"] = tracer.spans
    return res


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--tmp", type=Path, required=True)
    ap.add_argument("--out", type=Path, required=True)
    args = ap.parse_args()

    from readwise_vector_db_spark.session import get_spark

    spark = get_spark("perfbench-write-batch")
    res = run(spark, args.seed, args.seconds, bool(args.trace), args.tmp)
    res["calibration"] = {"spark_sum_50m_s": spark_sum_calibration_s(spark)}
    args.out.write_text(json.dumps(res))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
