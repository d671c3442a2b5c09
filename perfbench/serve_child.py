"""Launcher for the package's ``http`` CLI.

Runs ``readwise_vector_db_spark.main http`` unchanged.  On SIGUSR2 it
collects the driver's garbage (``spans.settle_heap``) and answers
``{"collected": <JVM heap in use, MB>}`` on stdout.  On SIGUSR1 it
installs timing wrappers on the serving layers and answers ``traced``.
On SIGINT the CLI returns; with ``--spans-out`` this launcher then reads
each request's Spark counters from the status store and writes every
span to that file.

Usage: python perfbench/serve_child.py --sf-dir DIR [--spans-out FILE]
"""

from __future__ import annotations

import argparse
import json
import signal
import sys
import threading

import spans
from spans import Tracer


def install(tracer: Tracer, state: dict) -> None:
    from readwise_vector_db_spark.api import models, service
    from readwise_vector_db_spark.functions import embedder
    from readwise_vector_db_spark.sources import search_index

    local = threading.local()
    parse = models.SearchRequest.from_dict.__func__

    def from_dict(cls, params):
        local.qid = params.get("qid") if isinstance(params, dict) else None
        return parse(cls, params)

    models.SearchRequest.from_dict = classmethod(from_dict)
    search = service.SearchService.search

    def traced_search(self, req):
        rid = getattr(local, "qid", None)
        state.setdefault("spark", self.spark)
        with spans.job_group(self.spark, f"req-{rid}"), tracer.span("api.search", rid):
            return search(self, req)

    service.SearchService.search = traced_search
    rows = search_index.served_search_rows

    def served_rows(*args, **kwargs):
        with tracer.span("sources.served_search_rows") as rec:
            out = rows(*args, **kwargs)
            rec["fast"] = out is not None
            return out

    search_index.served_search_rows = served_rows
    tracer.install(embedder.embed_text_local, "functions.embed_text_local")
    tracer.install(search_index.warm_tables, "sources.warm_tables")
    tracer.install(models.shape_result, "api.shape_result")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--spans-out")
    args = ap.parse_args()
    tracer, state = Tracer(), {}

    def on_usr1(_sig, _frame):
        install(tracer, state)
        print("traced", flush=True)

    def on_usr2(_sig, _frame):
        from pyspark import SparkContext

        live_mb = spans.settle_heap(SparkContext._active_spark_context._jvm)
        print(json.dumps({"collected": live_mb}), flush=True)

    signal.signal(signal.SIGUSR1, on_usr1)
    signal.signal(signal.SIGUSR2, on_usr2)
    from readwise_vector_db_spark.main import main as cli

    rc = cli(["--sf-dir", args.sf_dir, "http"])
    if not args.spans_out:
        return rc
    spark = state.get("spark")
    groups = {}
    if spark is not None:
        for rid in {s["rid"] for s in tracer.spans if s["name"] == "api.search"}:
            groups[str(rid)] = spans.group_counters(spark, f"req-{rid}")
    with open(args.spans_out, "w") as f:
        json.dump({"spans": tracer.spans, "groups": groups}, f)
    return rc


if __name__ == "__main__":
    sys.exit(main())
