"""The benchmark's own tests: seeded inputs, declared metric names, the
exact top-k reference against the engine, and the no-package failure.

Run from the checkout root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
sys.path[:0] = [str(BENCH), str(ROOT)]

import batch  # noqa: E402
import gen  # noqa: E402
import names  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
from reference import ExactIndex  # noqa: E402


def _tree_digest(root: Path) -> dict[str, str]:
    return {
        str(p.relative_to(root)): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(root.rglob("*"))
        if p.is_file()
    }


def _inputs(tmp: Path, seed: int) -> dict[str, str]:
    gen.write_corpus(tmp / "serve", seed, 300, 120, 32)
    (tmp / "queries.json").write_text(json.dumps(gen.search_queries(seed, 50)))
    exp = gen.readwise_export(seed, 300)
    gen.write_jsonl(tmp / "export" / "backfill.jsonl", exp["backfill"])
    gen.write_jsonl(tmp / "export" / "delta.jsonl", exp["delta"])
    gen.write_tables(tmp / "tables", gen.relational_tables(seed, 0.001), seed)
    return _tree_digest(tmp)


def test_same_seed_same_inputs(tmp_path):
    assert _inputs(tmp_path / "a", 7) == _inputs(tmp_path / "b", 7)


def test_other_seed_other_inputs_same_size(tmp_path):
    a, b = _inputs(tmp_path / "a", 7), _inputs(tmp_path / "b", 8)
    assert a.keys() == b.keys()
    assert all(a[k] != b[k] for k in a if "region" not in k and "nation" not in k)
    for k in ("serve/documents.parquet", "serve/embeddings.parquet", "tables/lineitem.parquet"):
        pa = pytest.importorskip("pyarrow.parquet")
        assert pa.read_metadata(tmp_path / "a" / k).num_rows == pa.read_metadata(tmp_path / "b" / k).num_rows
    ea, eb = gen.readwise_export(7, 300), gen.readwise_export(8, 300)
    assert (len(ea["backfill"]), len(ea["delta"])) == (len(eb["backfill"]), len(eb["delta"]))


def test_batch_content_is_seed_independent(tmp_path):
    """The batch tables differ per seed only in row order, so one stored
    oracle expectation serves every seed."""
    pq = pytest.importorskip("pyarrow.parquet")
    tables = batch.content()
    gen.write_tables(tmp_path / "s1", tables, 1)
    gen.write_tables(tmp_path / "s2", tables, 2)
    a, b = (pq.read_table(tmp_path / s / "documents.parquet") for s in ("s1", "s2"))
    assert a.column("doc_id").to_pylist() != b.column("doc_id").to_pylist()
    assert sorted(a.to_pylist(), key=lambda r: r["doc_id"]) == sorted(b.to_pylist(), key=lambda r: r["doc_id"])
    stored = json.loads(batch.EXPECT_FILE.read_text())
    assert set(stored[batch.fingerprint(tables)]) == set(batch.QUERIES) | {batch.CURATE_ORACLE}


def test_metric_names_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == names.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == names.PER_LAYER
    assert {m["name"] for m in spec["per_layer"] if m["better"] == "higher"} == names.HIGHER_IS_BETTER
    assert {m["name"] for m in spec["end_to_end"] if m["better"] == "higher"} == {"ops_per_s"}
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_tracer_self_time():
    t = spans.Tracer()
    with t.span("outer", 1):
        with t.span("inner"):
            pass
    outer, inner = sorted(t.spans, key=lambda s: s["id"])
    assert inner["parent"] == outer["id"] and inner["rid"] == 1
    selfs = spans.self_ms(t.spans)
    whole = (outer["end"] - outer["start"]) * 1e3
    assert selfs[outer["id"]] == pytest.approx(whole - (inner["end"] - inner["start"]) * 1e3)


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve_http", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("spark")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--conf spark.sql.warehouse.dir={tmp / 'wh'} pyspark-shell"
    from readwise_vector_db_spark.session import get_spark

    session = get_spark("perfbench-tests", cores=2)
    yield session
    session.stop()


@pytest.mark.parametrize("warm", [False, True])
def test_exact_topk_agrees_with_search_service(spark, tmp_path, warm):
    """The numpy reference returns exactly the rows SearchService does
    (ids, 6-dp scores, order), filtered and unfiltered."""
    from readwise_vector_db_spark.api.models import SearchRequest
    from readwise_vector_db_spark.api.service import SearchService

    pq = pytest.importorskip("pyarrow.parquet")
    corpus = tmp_path / f"perfbench_test_p{os.getpid()}_{int(warm)}"
    gen.write_corpus(corpus, 3, 200, 90, 48)
    index = ExactIndex(pq.read_table(corpus / "documents.parquet"), pq.read_table(corpus / "embeddings.parquet"))
    warm_root = ROOT / ".warm_index"
    had_root = warm_root.exists()
    try:
        svc = SearchService(spark, str(corpus), warm=warm)
        for body in gen.search_queries(3, 12):
            got = [(r["id"], r["score"]) for r in svc.search(SearchRequest.from_dict(body))]
            assert got == index.topk(body), body
    finally:
        shutil.rmtree(warm_root / corpus.name, ignore_errors=True)
        if not had_root and warm_root.is_dir() and not os.listdir(warm_root):
            warm_root.rmdir()
