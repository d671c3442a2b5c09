"""The ingest half of ``write_batch``: backfill, watermark sync, incremental dedup.

Input: a seeded Readwise export (JSONL, FIXTURES.md section 2) split into
a backfill file (80 % of the records) and a delta file (the other 20 %
as new records plus 10 % of the backfill ids re-exported with new text
and a later ``updated_at``).  It carries invalid and null dates, tag
structs without a name, null urls and planted exact-duplicate texts.

One pass makes four calls, each one measured operation:

1. ``backfill``: ``run_backfill`` of the backfill file at dim 3072;
2. ``sync``: ``run_incremental_sync`` of the delta with a ``since``
   watermark into the same store;
3. ``dedup_seed``: ``dedup_batch_against_store`` of the backfill batch
   into an empty dedup store;
4. ``dedup_increment``: the delta batch deduped against that store.

Every call's result is read back through a fresh ``VersionedTable`` and
checked (row counts, the updated rows' new text and ``updated_at``,
planted duplicates dropped); a wrong result fails that operation.
"""

from __future__ import annotations

import json
import time
from datetime import datetime
from pathlib import Path
from statistics import median

import gen
import spans

N_RECORDS = 1000
N_WARM = 60
DIM = 3072
CALLS = ("backfill", "sync", "dedup_seed", "dedup_increment")


def prepare(seed: int, tmp: Path) -> None:
    for tag, n, s in (("main", N_RECORDS, seed), ("warm", N_WARM, seed + 7919)):
        exp = gen.readwise_export(s, n)
        d = tmp / "inputs" / tag
        gen.write_jsonl(d / "backfill.jsonl", exp["backfill"])
        gen.write_jsonl(d / "delta.jsonl", exp["delta"])
        back_ids = {r["id"] for r in exp["backfill"]}
        updated = set(exp["updated_ids"])
        manifest = {
            "watermark": exp["watermark"],
            "n_back": len(exp["backfill"]),
            "n_delta": len(exp["delta"]),
            "updated": {str(r["id"]): r["updated_at"] for r in exp["delta"] if r["id"] in updated},
            "fresh_ids": [r["id"] for r in exp["delta"] if r["id"] not in back_ids],
            "dup_back": [i for i in exp["dup_ids"] if i in back_ids],
            "dup_ids": exp["dup_ids"],
        }
        (d / "manifest.json").write_text(json.dumps(manifest))


def _ts(iso: str) -> datetime:
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")


class Pass:
    """One backfill → sync → dedup seed → dedup increment pass over the
    inputs in ``inp``, writing its stores under ``root``."""

    def __init__(self, spark, inp: Path, root: Path, tracer=None, tag: str = ""):
        self.spark, self.inp, self.root, self.tracer, self.tag = spark, inp, root, tracer, tag
        self.m = json.loads((inp / "manifest.json").read_text())

    def _op(self, call: str, fn, check) -> dict:
        rec = {"name": call}
        group = f"ingest.{call}.{self.tag}"
        t0 = time.perf_counter()
        try:
            if self.tracer is None:
                out = fn()
            else:
                with spans.job_group(self.spark, group), self.tracer.span(f"jobs.{call}", group):
                    out = fn()
            rec["s"] = time.perf_counter() - t0
            rec["ok"] = bool(check(out))
        except Exception as exc:  # noqa: BLE001 — a failed call is a failed operation
            rec.setdefault("s", time.perf_counter() - t0)
            rec["ok"], rec["error"] = False, f"{call}: {exc!r}"[:500]
        if self.tracer is not None:
            rec["counters"] = spans.group_counters(self.spark, group)
        return rec

    def run(self) -> list[dict]:
        from pyspark.sql import functions as F

        from readwise_vector_db_spark.jobs.incremental_dedup import dedup_batch_against_store
        from readwise_vector_db_spark.jobs.sync import run_backfill, run_incremental_sync
        from readwise_vector_db_spark.sources.readwise_export import read_export_json
        from readwise_vector_db_spark.sources.versioned import VersionedTable

        spark, m = self.spark, self.m
        back, delta = str(self.inp / "backfill.jsonl"), str(self.inp / "delta.jsonl")
        store, state, dstore = (str(self.root / d) for d in ("store", "state", "dedup"))
        n_fresh = len(m["fresh_ids"])

        def stored():
            return VersionedTable(store).read(spark)

        def synced_ok(n: int) -> bool:
            if n != m["n_delta"] or stored().count() != m["n_back"] + n_fresh:
                return False
            rows = stored().filter(F.col("id").isin(list(m["updated"]))).select("id", "text", "updated_at").collect()
            return len(rows) == len(m["updated"]) and all(
                r["text"].endswith(" updated") and r["updated_at"] == _ts(m["updated"][r["id"]]) for r in rows
            )

        def dedup_ids() -> set[int]:
            return {r[0] for r in VersionedTable(dstore).read(spark).select("doc_id").collect()}

        def increment_ok(_stats) -> bool:
            ids = dedup_ids()
            keep = set(m["fresh_ids"]) - set(m["dup_ids"])
            return not ids & set(m["dup_ids"]) and keep <= ids

        def batch(path: str):
            return read_export_json(spark, path).select(F.col("id").alias("doc_id"), "text")

        since = _ts(m["watermark"])
        return [
            self._op("backfill", lambda: run_backfill(spark, back, store, dim=DIM),
                     lambda n: n == m["n_back"] and stored().count() == m["n_back"]),
            self._op("sync", lambda: run_incremental_sync(spark, delta, store, state, dim=DIM, since=since),
                     synced_ok),
            self._op("dedup_seed", lambda: dedup_batch_against_store(spark, batch(back), VersionedTable(dstore)),
                     lambda st: st["accepted"] == m["n_back"] - len(m["dup_back"])
                     and len(dedup_ids()) == st["accepted"]),
            self._op("dedup_increment", lambda: dedup_batch_against_store(spark, batch(delta), VersionedTable(dstore)),
                     increment_ok),
        ]


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def install_wrappers(tracer: spans.Tracer) -> None:
    from readwise_vector_db_spark.functions import embedder
    from readwise_vector_db_spark.sources import readwise_export
    from readwise_vector_db_spark.sources.versioned import VersionedTable

    tracer.install(readwise_export.parse_export, "sources.parse_export")
    tracer.install(embedder.deterministic_embedder, "functions.deterministic_embedder")
    for method in ("read", "commit", "commit_append", "merge"):
        tracer.install_method(VersionedTable, method, f"sources.VersionedTable.{method}")


def figures(ops: list[dict], inp: Path) -> dict:
    m = json.loads((inp / "manifest.json").read_text())
    walls = {c: [o["s"] for o in ops if o["name"] == c] for c in CALLS}
    return {
        "backfill_docs_per_s": m["n_back"] / median(walls["backfill"]),
        "sync_delta_s": median(walls["sync"]),
        "dedup_increment_s": median(walls["dedup_increment"]),
    }


def layer_metrics(traced: list[dict], inp: Path, root: Path) -> dict[str, float]:
    """Per-call figures of one traced pass whose stores are under ``root``."""
    m = json.loads((inp / "manifest.json").read_text())
    layers: dict[str, float] = {}
    for o in traced:
        if o["name"] not in CALLS:
            continue
        c, cnt = o["name"], o["counters"]
        layers[f"ingest.{c}.wall_s"] = o["s"]
        layers[f"ingest.{c}.jobs"] = cnt["jobs"]
        layers[f"ingest.{c}.exec_run_s"] = cnt["exec_run_ms"] / 1e3
        layers[f"ingest.{c}.shuffle_mb"] = cnt["shuffle_bytes"] / 2**20
    sync = next(o for o in traced if o["name"] == "sync")["counters"]
    # records the sync's stages read, per record it must read once (the
    # delta plus the snapshot it merges into)
    layers["ingest.sync.input_passes"] = sync["input_records"] / (m["n_delta"] + m["n_back"])
    input_bytes = sum((inp / f).stat().st_size for f in ("backfill.jsonl", "delta.jsonl"))
    layers["ingest.bytes_stored_per_input_byte"] = _dir_bytes(root / "store") / input_bytes
    return layers
