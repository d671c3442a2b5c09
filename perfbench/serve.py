"""``serve_http``: the reference's read path at the reference's width.

A seeded corpus (5000 documents, 2000 clustered unit 3072-d vectors over
a seeded subset of the doc ids) is served by the package's own ``http``
CLI in a child process, on the exact warm path.  Load is a closed loop
of ``CLIENTS`` keep-alive connections from this process: each client
sends its next ``POST /search`` only after the previous reply arrived.
Queries are seeded vocabulary texts, k ∈ {5, 10, 20}; a third
unfiltered, a third filtered on ``source_type``, a third on ``lang``.

Every reply is checked, after the load stops, against the numpy exact
top-k (reference.py); a wrong reply is a failed request.
"""

from __future__ import annotations

import http.client
import itertools
import json
import os
import queue
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path
from statistics import median

import pyarrow.parquet as pq

import gen
import spans
from common import BENCH_DIR, percentile, spawn, stop_group
from reference import ExactIndex

N_DOCS, N_VECS, DIM = 5000, 2000, 3072
CLIENTS = 3
N_QUERIES = 3000
WARMUP = 6  # two requests of each filter kind
START_TIMEOUT_S = 120


def _post(conn: http.client.HTTPConnection, body: dict) -> tuple[int, dict]:
    data = json.dumps(body)
    conn.request("POST", "/search", data, {"Content-Type": "application/json"})
    resp = conn.getresponse()
    return resp.status, json.loads(resp.read())


def closed_loop(host: str, port: int, bodies: list[dict], seconds: float, tracer=None) -> tuple[list[dict], float]:
    """``CLIENTS`` clients, each waiting for its reply before sending the
    next request, until ``seconds`` elapse; requests in flight at the
    deadline complete and count.  Bodies are sent in order from
    ``bodies[WARMUP]`` on.  Returns (records, window seconds)."""
    ordinal = itertools.count()
    records: list[dict] = []
    t_start = time.perf_counter()
    deadline = t_start + seconds

    def client() -> None:
        conn = http.client.HTTPConnection(host, port, timeout=60)
        while time.perf_counter() < deadline:
            i = next(ordinal)
            b = WARMUP + i % (len(bodies) - WARMUP)
            body = dict(bodies[b], qid=i)
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    status, payload = _post(conn, body)
                else:
                    with tracer.span("http.request", i):
                        status, payload = _post(conn, body)
            except (OSError, http.client.HTTPException, ValueError) as exc:
                status, payload = 0, {"error": repr(exc)}
                conn.close()
                conn = http.client.HTTPConnection(host, port, timeout=60)
            records.append(
                {"qid": i, "body": b, "ms": (time.perf_counter() - t0) * 1e3,
                 "status": status, "payload": payload}
            )
        conn.close()

    threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records, time.perf_counter() - t_start


class Checker:
    """Exact top-k expectations, computed once per query body."""

    def __init__(self, index: ExactIndex, bodies: list[dict]):
        self.index, self.bodies, self._expected = index, bodies, {}

    def ok(self, body_idx: int, status: int, payload: dict) -> bool:
        if status != 200:
            return False
        exp = self._expected.get(body_idx)
        if exp is None:
            exp = self._expected[body_idx] = self.index.topk(self.bodies[body_idx])
        rows = payload.get("results", [])
        if [(r.get("id"), r.get("score")) for r in rows] != exp:
            return False
        for r in rows:
            m = self.index.meta[r["id"]]
            if (r.get("text"), r.get("source_type"), r.get("lang")) != (m["text"], m["source_type"], m["lang"]):
                return False
        return True


def _lines(stream) -> queue.Queue:
    q: queue.Queue = queue.Queue()

    def pump() -> None:
        for line in stream:
            q.put(line)
        q.put(None)

    threading.Thread(target=pump, daemon=True).start()
    return q


def _wait_line(lines: queue.Queue, proc: subprocess.Popen, timeout_s: float) -> str:
    try:
        line = lines.get(timeout=timeout_s)
    except queue.Empty:
        line = None
    if line is None:
        raise RuntimeError(f"server exited or stalled (rc={proc.poll()})")
    return line


def run(seed: int, seconds: float, trace: bool, tmp: Path, env: dict) -> dict:
    corpus = tmp / "data" / f"perfbench_serve_s{seed}_p{os.getpid()}"
    gen.write_corpus(corpus, seed, N_DOCS, N_VECS, DIM)
    bodies = gen.search_queries(seed, N_QUERIES)
    spans_out = tmp / "server_spans.json"
    args = [sys.executable, str(BENCH_DIR / "serve_child.py"), "--sf-dir", str(corpus)]
    if trace:
        args += ["--spans-out", str(spans_out)]
    t_spawn = time.perf_counter()
    proc = spawn(args, env, tmp / "server.log", stdout=subprocess.PIPE)
    tracer = spans.Tracer()
    traced: list[dict] = []
    try:
        # the reference index builds while the server starts
        checker = Checker(
            ExactIndex(pq.read_table(corpus / "documents.parquet"),
                       pq.read_table(corpus / "embeddings.parquet")),
            bodies,
        )
        lines = _lines(proc.stdout)
        url = json.loads(_wait_line(lines, proc, START_TIMEOUT_S))["listening"]
        host, port = url.split("//", 1)[1].rsplit(":", 1)
        port = int(port)
        conn = http.client.HTTPConnection(host, port, timeout=60)
        warm = [(i, *_post(conn, dict(bodies[i], qid=-1 - i))) for i in range(WARMUP)]
        conn.close()
        setup_s = time.perf_counter() - t_spawn
        measured, window_s = closed_loop(host, port, bodies, seconds)
        peak_mb = spans.peak_rss_mb(proc.pid)
        proc.send_signal(signal.SIGUSR2)
        live_mb = json.loads(_wait_line(lines, proc, 60))["collected"]
        retained_mb = spans.retained_rss_mb(proc.pid)
        if trace:
            proc.send_signal(signal.SIGUSR1)
            if _wait_line(lines, proc, 60).strip() != "traced":
                raise RuntimeError("server did not confirm tracing")
            traced, traced_window_s = closed_loop(host, port, bodies, seconds, tracer)
    finally:
        stop_group(proc)
    warm_failed = sum(not checker.ok(i, st, p) for i, st, p in warm)
    failed = sum(not checker.ok(r["body"], r["status"], r["payload"]) for r in measured)
    ms = [r["ms"] for r in measured]
    out = {
        "attempted": len(measured),
        "failed": failed,
        "setup_failed": warm_failed,
        "e2e": {
            "op_p50_ms": median(ms),
            "op_p90_ms": percentile(ms, 90),
            "ops_per_s": len(measured) / window_s,
            "setup_s": setup_s,
            "retained_rss_mb": retained_mb,
        },
        "workload": {
            "search_p50_ms": median(ms),
            "search_p95_ms": percentile(ms, 95),
            "search_qps": len(measured) / window_s,
            "peak_rss_mb": peak_mb,
            "jvm_live_heap_mb": live_mb,
            "requests": len(measured),
            "clients": CLIENTS,
        },
    }
    if trace:
        failed_traced = sum(not checker.ok(r["body"], r["status"], r["payload"]) for r in traced)
        out["failed"] += failed_traced
        out["attempted"] += len(traced)
        server = json.loads(spans_out.read_text())
        out["layers"] = layer_metrics(server, traced)
        out["layers"]["trace.overhead_ms"] = median([r["ms"] for r in traced]) - median(ms)
        # client and server spans number their ids apart, so each side
        # is summarized on its own
        out["span_summary"] = {**tracer.summary(), **spans.summarize(server["spans"])}
        out["spans"] = {"client": tracer.spans, "server": server["spans"]}
        out["traced_window_s"] = traced_window_s
    return out


def layer_metrics(server: dict, traced: list[dict]) -> dict[str, float]:
    """Per-request layer figures of the traced window (see DESIGN.md)."""
    selfs = spans.self_ms(server["spans"])
    per: dict = {}
    for s in server["spans"]:
        if s["rid"] is None:
            continue
        row = per.setdefault(s["rid"], {"fast": False})
        dur = (s["end"] - s["start"]) * 1e3
        row[s["name"]] = row.get(s["name"], 0.0) + dur
        if s["name"] == "api.search":
            row["search_self"] = selfs[s["id"]]
        if s["name"] == "sources.served_search_rows" and s.get("fast"):
            row["fast"] = True
    rt = {r["qid"]: r["ms"] for r in traced}
    reqs = [(rid, row) for rid, row in per.items() if "api.search" in row and rid in rt]
    if not reqs:
        return {}
    groups = server["groups"]

    def col(fn) -> list[float]:
        return [fn(rid, row) for rid, row in reqs]

    def g(rid, key) -> float:
        return groups.get(str(rid), {}).get(key, 0)

    served = col(lambda rid, row: row.get("sources.served_search_rows", 0.0))
    return {
        "serve.http_ms": median(col(lambda rid, row: rt[rid] - row["api.search"])),
        "serve.search_self_ms": median(col(lambda rid, row: row["search_self"])),
        "serve.embed_query_ms": median(col(lambda rid, row: row.get("functions.embed_text_local", 0.0))),
        "serve.served_rows_ms": median(served),
        "serve.served_rows_p95_ms": percentile(served, 95),
        "serve.warm_tables_ms": median(col(lambda rid, row: row.get("sources.warm_tables", 0.0))),
        "serve.shape_ms": median(col(lambda rid, row: row.get("api.shape_result", 0.0))),
        "serve.spark_job_ms": median(col(lambda rid, row: g(rid, "job_ms"))),
        "serve.driver_ms": median(
            col(lambda rid, row: row.get("sources.served_search_rows", 0.0) - g(rid, "job_ms"))
        ),
        "serve.jobs_per_req": sum(col(lambda rid, row: g(rid, "jobs"))) / len(reqs),
        "serve.stages_per_req": sum(col(lambda rid, row: g(rid, "stages"))) / len(reqs),
        "serve.tasks_per_req": sum(col(lambda rid, row: g(rid, "tasks"))) / len(reqs),
        "serve.exec_run_ms_per_req": median(col(lambda rid, row: g(rid, "exec_run_ms"))),
        "serve.exec_cpu_ms_per_req": median(col(lambda rid, row: g(rid, "exec_cpu_ms"))),
        "serve.fast_path_share": sum(col(lambda rid, row: float(row["fast"]))) / len(reqs),
    }
