"""Seeded input generators for the benchmark workloads.

Everything here is pure numpy/pyarrow: the benchmark builds its inputs
without a Spark session, so input generation is never charged to the
engine.  Each table draws from its own random stream
(``_rng(seed, name)``), so changing one table's generator never shifts
another table's values.  The same seed always yields byte-identical
files; a different seed yields different values at the same sizes.

The table schemas follow the engine's fixture contract (FIXTURES.md):
``documents``/``embeddings`` for the highlights corpus, the TPC-H-ish
star schema plus ``events`` for the relational rows, and the Readwise
export JSONL shape (FIXTURES.md section 2) for ingest.
"""

from __future__ import annotations

import json
import zlib
from datetime import datetime, timedelta, timezone
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The fixture corpus's word vocabulary: 30 content words plus two
# stop words, so the text-analysis rows see the same token statistics.
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row agg "
    "key query scan batch the a"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def _texts(rng: np.random.Generator, n: int, near_dup_frac: float, exact_dups: int) -> list[str]:
    """``n`` texts of 10-100 vocabulary words.  A ``near_dup_frac`` share
    copies an earlier text with one word replaced (the dedup rows' pairs);
    ``exact_dups`` texts are byte copies of earlier ones."""
    out: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < near_dup_frac:
            words = out[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]
        out.append(" ".join(words))
    for pos in rng.choice(np.arange(n // 2, n), size=exact_dups, replace=False):
        out[int(pos)] = out[int(rng.integers(0, n // 2))]
    return out


def documents(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "documents")
    texts = _texts(rng, n, near_dup_frac=0.05, exact_dups=max(1, n // 600))
    lang = rng.choice(len(LANGS), size=n, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in lang], pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embedding_matrix(seed: int, n: int, dim: int, n_clusters: int = 10) -> tuple[np.ndarray, np.ndarray]:
    """(n × dim float32 unit vectors, cluster labels): each vector is its
    cluster's direction plus isotropic noise, renormalized."""
    rng = _rng(seed, f"embeddings{dim}")
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, n_clusters, n)
    noise = rng.standard_normal((n, dim)) / np.sqrt(dim)
    vecs = centers[labels] * 0.6 + noise
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype(np.float32), labels.astype(np.int32)


def embeddings(seed: int, n_docs: int, n: int, dim: int) -> pa.Table:
    """``n`` vectors over a seeded subset of the doc ids (vec_id ⊆ doc_id,
    the serving path's join-after-limit invariant).  Ids 0-4 are always
    present: the planted-duplicate IVF rows query them."""
    rng = _rng(seed, "vec_ids")
    rest = rng.choice(np.arange(5, n_docs), size=n - 5, replace=False)
    ids = np.sort(np.concatenate([np.arange(5), rest])).astype(np.int64)
    vecs, labels = embedding_matrix(seed, n, dim)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    return pa.table(
        {
            "vec_id": pa.array(ids),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat
            ),
            "label": pa.array(labels),
        }
    )


def write_corpus(out_dir: Path, seed: int, n_docs: int, n_vecs: int, dim: int) -> None:
    out_dir.mkdir(parents=True, exist_ok=True)
    pq.write_table(documents(seed, n_docs), out_dir / "documents.parquet")
    pq.write_table(embeddings(seed, n_docs, n_vecs, dim), out_dir / "embeddings.parquet")


def _ts(days: np.ndarray, start: str) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + (days * 86_400e6).astype("timedelta64[us]"), pa.timestamp("us"))


def relational_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The TPC-H-ish star schema plus ``events`` at ``scale`` (1.0 = the
    sf1-sized row counts: 150k customers, 6M lineitems)."""
    r = _rng(seed, "relational")
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_li, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    segs = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
    adj = "large hot blue red new small green old".split()
    noun = "ring bolt anvil rod plate gear nut pipe".split()
    ptypes = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    etypes = ["signup", "purchase", "view", "click", "error"]

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(r.uniform(lo, hi, n), 2)

    t = {
        "region": pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": regions}),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
                "c_acctbal": money(-999.99, 9999.99, n_cust),
                "c_mktsegment": [segs[i] for i in r.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
                "s_acctbal": money(-999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
                "p_name": [f"{adj[a]} {noun[b]}" for a, b in r.integers(0, 8, (n_part, 2))],
                "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
                "p_type": [ptypes[i] for i in r.integers(0, 6, n_part)],
                "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
                "o_custkey": pa.array(r.integers(0, n_cust, n_ord)),
                "o_orderstatus": [("O", "F", "P")[i] for i in r.integers(0, 3, n_ord)],
                "o_totalprice": money(1000, 500_000, n_ord),
                "o_orderdate": _ts(r.integers(0, 2404, n_ord).astype(np.float64), "1995-01-01"),
                "o_orderpriority": [prios[i] for i in r.integers(0, 5, n_ord)],
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(r.integers(0, n_ord, n_li)),
                "l_partkey": pa.array(r.integers(0, n_part, n_li)),
                "l_suppkey": pa.array(r.integers(0, n_supp, n_li)),
                "l_linenumber": pa.array(r.integers(1, 8, n_li).astype(np.int32)),
                "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": money(900, 105_000, n_li),
                "l_discount": np.round(r.integers(0, 11, n_li) * 0.01, 2),
                "l_tax": np.round(r.integers(0, 9, n_li) * 0.01, 2),
                "l_returnflag": [("N", "R", "A")[i] for i in r.integers(0, 3, n_li)],
                "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n_li)],
                "l_shipdate": _ts(r.integers(1, 2499, n_li).astype(np.float64), "1995-01-01"),
            }
        ),
    }
    secs = np.sort(r.uniform(0, 30 * 86_400, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": _ts(secs / 86_400, "2024-01-01"),
            "user_id": pa.array(r.integers(0, max(1, n_ev // 66), n_ev)),
            "event_type": [etypes[i] for i in r.integers(0, 5, n_ev)],
            "value": money(0, 200, n_ev),
            "props": [json.dumps({"k": int(k)}) for k in r.integers(0, 100, n_ev)],
        }
    )
    return t


def write_tables(out_dir: Path, tables: dict[str, pa.Table], seed: int) -> None:
    """Write each table with its rows in a seeded order: the contents are
    the generator's, the physical order differs per seed."""
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, table in tables.items():
        perm = _rng(seed, f"perm-{name}").permutation(table.num_rows)
        pq.write_table(table.take(pa.array(perm)), out_dir / f"{name}.parquet")


# --- Readwise export (ingest) ----------------------------------------------

_EPOCH = datetime(2023, 1, 1, tzinfo=timezone.utc)


def _iso(dt: datetime) -> str:
    return dt.strftime("%Y-%m-%dT%H:%M:%S.%fZ")


def readwise_export(seed: int, n: int) -> dict:
    """A Readwise export of ``n`` highlight records, split into an 80 %
    backfill file and a delta file (the remaining 20 % as new rows plus
    10 % of the backfill ids re-exported with new text and a later
    ``updated_at``), as an ``updated_after`` export call returns it.

    Planted cases the ingest contract must handle: invalid and null
    ``highlighted_at``, tag structs without a name, null urls falling
    back to the book's url, and exact duplicate texts (2 % of records
    copy an earlier record's text under a new id).

    Returns ``{"backfill": [...], "delta": [...], "watermark": iso,
    "updated_ids": [...], "dup_ids": [...]}``.
    """
    rng = _rng(seed, "export")
    n_books = max(1, n // 25)
    texts = _texts(rng, n, near_dup_frac=0.0, exact_dups=0)
    n_dup = n // 50
    dup_pos = rng.choice(np.arange(n // 4, n), size=n_dup, replace=False)
    for pos in dup_pos:
        texts[int(pos)] = texts[int(rng.integers(0, n // 4))]
    cats = ("books", "articles", "tweets", "podcasts", "supplementals")
    records = []
    for i in range(n):
        b = int(rng.integers(0, n_books))
        u = float(rng.random())
        if u < 0.03:
            hl_at = "not-a-date"
        elif u < 0.06:
            hl_at = None
        else:
            hl_at = _iso(_EPOCH + timedelta(minutes=int(rng.integers(0, 300_000))))
        tags = [{"name": VOCAB[int(j)]} for j in rng.integers(0, len(VOCAB), int(rng.integers(0, 4)))]
        if rng.random() < 0.05:
            tags.append({})
        records.append(
            {
                "id": 1_000_000 + i,
                "text": texts[i],
                "url": None if rng.random() < 0.3 else f"https://example.org/h/{i}",
                "note": f"note {VOCAB[int(rng.integers(0, len(VOCAB)))]}" if rng.random() < 0.3 else None,
                "location": int(rng.integers(0, 5000)),
                "highlighted_at": hl_at,
                "updated_at": _iso(_EPOCH + timedelta(seconds=i)),
                "tags": tags,
                "book": {
                    "id": 500 + b,
                    "title": f"Book {b}",
                    "author": f"Author {b % 97}",
                    "category": cats[b % len(cats)],
                    "source": "kindle",
                    "source_url": f"https://example.org/b/{b}",
                },
            }
        )
    n_back = int(n * 0.8)
    backfill, fresh = records[:n_back], records[n_back:]
    watermark = _EPOCH + timedelta(seconds=n + 10)
    upd_idx = np.sort(rng.choice(n_back, size=n // 10, replace=False))
    updated = []
    for j, i in enumerate(upd_idx):
        rec = dict(records[int(i)])
        rec["text"] = rec["text"] + " updated"
        rec["updated_at"] = _iso(watermark + timedelta(seconds=1 + j))
        updated.append(rec)
    # new rows in the delta carry post-watermark timestamps too
    for j, rec in enumerate(fresh):
        rec["updated_at"] = _iso(watermark + timedelta(seconds=1 + len(updated) + j))
    return {
        "backfill": backfill,
        "delta": updated + fresh,
        "watermark": _iso(watermark),
        "updated_ids": [records[int(i)]["id"] for i in upd_idx],
        "dup_ids": sorted(records[int(p)]["id"] for p in dup_pos),
    }


def write_jsonl(path: Path, records: list[dict]) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w") as f:
        for rec in records:
            f.write(json.dumps(rec, separators=(",", ":")) + "\n")


# --- search traffic ----------------------------------------------------------


def search_queries(seed: int, n: int) -> list[dict]:
    """``n`` POST /search bodies: 2-6 vocabulary words, k ∈ {5, 10, 20};
    a third unfiltered, a third filtered on ``source_type``, a third on
    ``lang``."""
    rng = _rng(seed, "queries")
    out = []
    for i in range(n):
        words = [VOCAB[j] for j in rng.integers(0, len(VOCAB) - 2, int(rng.integers(2, 7)))]
        body: dict = {"q": " ".join(words), "k": int((5, 10, 20)[int(rng.integers(0, 3))])}
        kind = i % 3
        if kind == 1:
            body["source_type"] = f"src{int(rng.integers(0, N_SOURCES))}"
        elif kind == 2:
            body["lang"] = LANGS[int(rng.integers(0, len(LANGS)))]
        out.append(body)
    return out
