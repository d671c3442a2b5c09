"""The batch half of ``write_batch``: registered queries and the curation
funnel, cold per rep.

Input: fixed-content tables (1000 documents, 64-d embeddings, the
TPC-H-ish star schema and events at scale 0.01, from ``CONTENT_SEED``)
written in a row order drawn from the run's seed.  Content is the same
for every seed, so each query's DuckDB oracle expectation (row count,
columns and an order-insensitive value digest) depends only on the
content fingerprint; expectations are computed once by

    python3 perfbench/batch.py --write-oracle

and stored in ``oracle_expect.json`` (the live oracles take minutes,
longer than a run may).  A run whose content fingerprint has no stored
expectation stops with an error.

A rep collects every query in ``QUERIES``, then runs ``curate_corpus``
into a fresh ``VersionedTable``, with the detector cache released and
the Spark cache cleared before each, as the repo's ``bench.py`` does.
Every collected result is compared with its oracle after the clock
stops, and every curation's survivor count with the curation oracle's
row count.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import json
import shutil
import sys
import time
from statistics import median
from pathlib import Path

import gen
import spans
from common import ROOT

CONTENT_SEED = 42
N_DOCS = 1000
# cheap registered queries whose hidden jobs the roadmap targets:
# q5_region_revenue opens six tables through load_table (one
# schema-inference job each); boilerplate_removal runs an eager count
QUERIES = ("q5_region_revenue", "boilerplate_removal")
CURATE_ORACLE = "curate_survivors"
EXPECT_FILE = Path(__file__).resolve().parent / "oracle_expect.json"


def content() -> dict:
    """The batch tables: every fixture table, as the oracle's DuckDB
    connection views them all."""
    tables = gen.relational_tables(CONTENT_SEED, 0.01)
    tables["documents"] = gen.documents(CONTENT_SEED, N_DOCS)
    tables["embeddings"] = gen.embeddings(CONTENT_SEED, N_DOCS, N_DOCS, 64)
    return tables


def fingerprint(tables: dict) -> str:
    import pyarrow as pa

    h = hashlib.sha256()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()[:16]


def data_dir(tmp: Path, seed: int) -> Path:
    return tmp / "data" / f"perfbench_batch_s{seed}"


def prepare(seed: int, tmp: Path) -> None:
    tables = content()
    gen.write_tables(data_dir(tmp, seed), tables, seed)
    (tmp / "content.json").write_text(json.dumps({"fingerprint": fingerprint(tables)}))


@functools.cache
def _oracle_check():
    """The repo's oracle gate, ``tools/oracle_check.py``."""
    spec = importlib.util.spec_from_file_location("oracle_check", ROOT / "tools" / "oracle_check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def digest(rows, columns) -> dict:
    """Row count, sorted columns and a digest of the order-insensitive
    normalized value multiset (the oracle gate's comparison)."""
    counter = _oracle_check()._normalize(rows, list(columns))
    blob = repr(sorted(counter.items(), key=repr)).encode()
    return {"rows": len(rows), "columns": sorted(columns), "digest": hashlib.sha256(blob).hexdigest()}


def _registry():
    import readwise_vector_db_spark.suites  # noqa: F401  (populates the registry)
    from readwise_vector_db_spark.registry import all_oracle_sql, all_queries

    return all_queries(), all_oracle_sql()


def oracle_expectations(sf_dir: str) -> dict:
    """Run every query's DuckDB oracle (and the curation oracle) over the
    tables in ``sf_dir``: name → row count, columns and value digest."""
    _, oracles = _registry()
    con = _oracle_check().duckdb_conn(sf_dir)
    out = {}
    for name in QUERIES + (CURATE_ORACLE,):
        res = con.execute(oracles[name])
        out[name] = digest(res.fetchall(), [c[0] for c in res.description])
    return out


def _clean(spark) -> None:
    from readwise_vector_db_spark.operators.dedup import release_detector_cache

    release_detector_cache()
    spark.catalog.clearCache()
    spark._jvm.System.gc()


def query_op(spark, name: str, sf_dir: str, tracer=None, tag: str = "", clean: bool = True) -> dict:
    """One cold run of a registered query: build its DataFrame, collect
    the result.  The rows' digest is computed after the clock stops."""
    qs, _ = _registry()
    if clean:
        _clean(spark)
    rec = {"name": name}
    t0 = time.perf_counter()
    try:
        if tracer is None:
            df = qs[name](spark, sf_dir)
            rec["build_s"] = time.perf_counter() - t0
            rows = df.collect()
        else:
            group = f"{tag}{name}"
            with tracer.span(f"batch.{name}", name), spans.job_group(spark, group):
                with tracer.span("suites.query"):
                    df = qs[name](spark, sf_dir)
                rec["build_s"] = time.perf_counter() - t0
                with tracer.span("spark.action"):
                    rows = df.collect()
        rec["s"] = time.perf_counter() - t0
        rec["ok"] = True
        rec["digest"] = digest([tuple(r) for r in rows], df.columns)
        if tracer is not None:
            rec["counters"] = spans.group_counters(spark, group)
            rec["catalyst_ms"] = spans.catalyst_ms(df)
    except Exception as exc:  # noqa: BLE001 — a failed query is a failed operation
        rec["s"], rec["ok"], rec["error"] = time.perf_counter() - t0, False, f"{name}: {exc!r}"[:500]
    return rec


def one_rep(spark, sf_dir: str, tmp: Path, tracer=None, tag: str = "", clean: bool = True) -> list[dict]:
    """Every query, then one curation run.  ``clean=False`` skips the
    cache release between them (for a rep that runs beside other work)."""
    ops = [query_op(spark, name, sf_dir, tracer, tag, clean) for name in QUERIES]
    ops.append(curate_op(spark, sf_dir, tmp, tracer, tag, clean))
    return ops


def curate_op(spark, sf_dir: str, tmp: Path, tracer=None, tag: str = "", clean: bool = True) -> dict:
    """``curate_corpus`` into a fresh ``VersionedTable``, as one operation."""
    from readwise_vector_db_spark.jobs.curate import curate_corpus

    if clean:
        _clean(spark)
    out_root = tmp / "curate" / (tag or "rep")
    rec = {"name": "curate_corpus"}
    t0 = time.perf_counter()
    try:
        if tracer is None:
            stats = curate_corpus(spark, sf_dir, str(out_root))
        else:
            with spans.job_group(spark, f"{tag}curate"), tracer.span("jobs.curate_corpus", "curate"):
                stats = curate_corpus(spark, sf_dir, str(out_root))
            rec["counters"] = spans.group_counters(spark, f"{tag}curate")
        rec["s"] = time.perf_counter() - t0
        rec["survivors"] = stats["after_near_dup"]
        rec["stats"] = {k: v for k, v in stats.items() if k.startswith("wall_")}
        rec["ok"] = True
    except Exception as exc:  # noqa: BLE001 — a failed run is a failed operation
        rec["s"], rec["ok"], rec["error"] = time.perf_counter() - t0, False, repr(exc)[:500]
    shutil.rmtree(out_root, ignore_errors=True)
    if clean:
        _clean(spark)
    return rec


def install_wrappers(tracer: spans.Tracer) -> None:
    from readwise_vector_db_spark.sources import tables

    tracer.install(tables.load_table, "sources.load_table")


class Checks:
    """Oracle expectations for one input; ``failed(op)`` says whether a
    batch operation counts as failed: it raised, its rows differ from its
    query's oracle, or a curation run kept another number of survivors
    than the curation oracle returns."""

    def __init__(self, tmp: Path):
        fp = json.loads((tmp / "content.json").read_text())["fingerprint"]
        stored = json.loads(EXPECT_FILE.read_text())
        if fp not in stored:
            raise RuntimeError(
                f"no oracle expectation for batch content {fp}: run python3 perfbench/batch.py --write-oracle"
            )
        self.expected = stored[fp]

    def failed(self, op: dict) -> bool:
        if not op["ok"]:
            return True
        if op["name"] == "curate_corpus":
            return op["survivors"] != self.expected[CURATE_ORACLE]["rows"]
        return op["digest"] != self.expected[op["name"]]


def figures(ops: list[dict]) -> dict:
    return {f"{n}_s": median([o["s"] for o in ops if o["name"] == n]) for n in QUERIES + ("curate_corpus",)}


def layer_metrics(traced: list[dict]) -> dict[str, float]:
    out: dict[str, float] = {}
    totals = dict.fromkeys(("tasks", "gc_ms", "spill_bytes"), 0.0)
    catalyst = 0.0
    for o in traced:
        cnt = o.get("counters", {})
        for k in totals:
            totals[k] += cnt.get(k, 0)
        if o["name"] == "curate_corpus":
            for stage in ("score", "exact", "near_dup", "commit"):
                out[f"curate.{stage}_s"] = o.get("stats", {}).get(f"wall_{stage}", 0.0)
            out["curate.jobs"] = cnt.get("jobs", 0)
            continue
        q = o["name"]
        out[f"batch.{q}.wall_s"] = o["s"]
        out[f"batch.{q}.build_s"] = o.get("build_s", 0.0)
        out[f"batch.{q}.jobs"] = cnt.get("jobs", 0)
        out[f"batch.{q}.exec_run_s"] = cnt.get("exec_run_ms", 0) / 1e3
        out[f"batch.{q}.shuffle_mb"] = cnt.get("shuffle_bytes", 0) / 2**20
        catalyst += o.get("catalyst_ms", 0.0)
    out["batch.catalyst_ms"] = catalyst
    out["batch.tasks"] = totals["tasks"]
    out["batch.gc_s"] = totals["gc_ms"] / 1e3
    out["batch.spill_mb"] = totals["spill_bytes"] / 2**20
    return out


def write_oracle() -> int:
    """Store the oracle expectations of the current content under its
    fingerprint (replacing the file)."""
    import tempfile

    tables = content()
    with tempfile.TemporaryDirectory() as d:
        gen.write_tables(Path(d), tables, 0)
        exp = oracle_expectations(d)
    EXPECT_FILE.write_text(json.dumps({fingerprint(tables): exp}, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    if sys.argv[1:] != ["--write-oracle"]:
        sys.exit("usage: python3 perfbench/batch.py --write-oracle")
    sys.path.insert(0, str(ROOT))
    sys.exit(write_oracle())
