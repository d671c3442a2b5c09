"""Every metric the benchmark emits, with its unit: the single list that
``BENCHMARK.json`` must declare (tests/test_perfbench.py pins that)."""

from __future__ import annotations

from batch import QUERIES
from ingest import CALLS

END_TO_END = {
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "ops_per_s": "1/s",
    "setup_s": "s",
    "retained_rss_mb": "MB",
}

_SERVE = {
    "serve.http_ms": "ms",
    "serve.search_self_ms": "ms",
    "serve.embed_query_ms": "ms",
    "serve.served_rows_ms": "ms",
    "serve.served_rows_p95_ms": "ms",
    "serve.warm_tables_ms": "ms",
    "serve.shape_ms": "ms",
    "serve.spark_job_ms": "ms",
    "serve.driver_ms": "ms",
    "serve.jobs_per_req": "count",
    "serve.stages_per_req": "count",
    "serve.tasks_per_req": "count",
    "serve.exec_run_ms_per_req": "ms",
    "serve.exec_cpu_ms_per_req": "ms",
    "serve.fast_path_share": "ratio",
}
_INGEST = {
    **{
        f"ingest.{c}.{m}": u
        for c in CALLS
        for m, u in (("wall_s", "s"), ("jobs", "count"), ("exec_run_s", "s"), ("shuffle_mb", "MB"))
    },
    "ingest.sync.input_passes": "ratio",
    "ingest.bytes_stored_per_input_byte": "ratio",
}
_BATCH = {
    **{
        f"batch.{q}.{m}": u
        for q in QUERIES
        for m, u in (
            ("wall_s", "s"), ("build_s", "s"), ("jobs", "count"), ("exec_run_s", "s"), ("shuffle_mb", "MB"),
        )
    },
    "curate.score_s": "s",
    "curate.exact_s": "s",
    "curate.near_dup_s": "s",
    "curate.commit_s": "s",
    "curate.jobs": "count",
    "batch.catalyst_ms": "ms",
    "batch.tasks": "count",
    "batch.gc_s": "s",
    "batch.spill_mb": "MB",
}
PER_LAYER = {**_SERVE, **_INGEST, **_BATCH, "trace.overhead_ms": "ms"}

# counts and sizes that should fall; shares of a fast path that should rise
HIGHER_IS_BETTER = {"serve.fast_path_share"}
