"""Seeded input generators for the benchmark.

``make_tables`` writes the ten tables the registered queries read, with
the schemas and value distributions of the repo's synthetic fixture
(FIXTURES.md section B). ``make_corpus`` writes the document corpus and
the delta files the ``ingest`` workload feeds to ``run_pipeline``.

Everything is drawn from ``numpy.random.default_rng(seed)`` and written
with fixed writer options, so one seed gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# Row counts of the fixture at sf0.1. At sf0.01 row counts the per-row
# work of a scan-and-aggregate query was about a quarter of its wall;
# job launch and construction took the rest.
TABLE_ROWS = {
    "customer": 15000,
    "supplier": 1000,
    "part": 20000,
    "orders": 150000,
    "lineitem": 600000,
    "events": 100000,
    "documents": 5000,
    "embeddings": 2000,
}


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng: np.random.Generator, n_words: np.ndarray) -> list[str]:
    vocab = np.array(WORDS)
    return [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in n_words]


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n) * np.timedelta64(86400, "s")


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = _texts(rng, rng.integers(30, 101, n))
    # 5% near-duplicates (an original's text plus " dup") and a few exact
    # duplicates, as in the fixture, so the dedup queries find pairs.
    # Copies are taken from originals with a smaller doc_id, so every
    # cluster is a star centred on its smallest id.
    copies = rng.choice(np.arange(1, n), size=n // 20 + max(1, n // 500), replace=False)
    originals = np.setdiff1d(np.arange(n), copies)
    for k, i in enumerate(copies):
        src = texts[int(rng.choice(originals[originals < i]))]
        texts[int(i)] = src + " dup" if k < n // 20 else src
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def make_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write the query tables into ``out_dir``; returns rows per table."""
    rng = np.random.default_rng(seed)
    r = TABLE_ROWS
    n_nation = 25
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(n_nation), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(n_nation)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(n_nation)], pa.int32()),
        }
    )
    n = r["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, n_nation, n), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n), pa.string()),
        }
    )
    n = r["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, n_nation, n), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )
    n = r["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n), pa.int64()),
            "p_name": pa.array(rng.choice(names, n), pa.string()),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n)], pa.string()),
            "p_type": pa.array(rng.choice(PART_TYPES, n), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n) % 1000) * 0.1, 2),
        }
    )
    n_orders = r["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, r["customer"], n_orders), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"]), n_orders), pa.string()),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", 2400, n_orders), pa.timestamp("us")),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_orders), pa.string()),
        }
    )
    n = r["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, r["part"], n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, r["supplier"], n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": np.round(rng.integers(0, 11, n) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n) * 0.01, 2),
            "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n), pa.string()),
            "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n), pa.string()),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", 2500, n), pa.timestamp("us")),
        }
    )
    n = r["events"]
    span_us = 30 * 86400 * 10**6
    offs = np.sort(rng.choice(span_us, n, replace=False))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(15, n * 3 // 200), n), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n), pa.string()),
            "value": np.round(rng.gamma(2.0, 50.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
        }
    )
    tables["documents"] = _documents(rng, r["documents"])
    n = r["embeddings"]
    vecs = rng.standard_normal((n, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# --------------------------------------------------------------------
# ingest corpus
# --------------------------------------------------------------------

NULL_SHARE = 0.01
EMPTY_SHARE = 0.01
BLANK_SHARE = 0.01


def _corpus_rows(rng: np.random.Generator, first_id: int, n: int) -> pa.Table:
    """Documents with skewed text lengths (log-normal word counts, a few
    thousand words at the tail) and a fixed share of invalid text:
    null, empty and whitespace-only."""
    n_words = np.clip(rng.lognormal(3.5, 1.0, n), 1, 4000).astype(int)
    texts: list[str | None] = _texts(rng, n_words)
    kind = rng.random(n)
    for i in np.flatnonzero(kind < NULL_SHARE + EMPTY_SHARE + BLANK_SHARE):
        k = kind[i]
        texts[i] = None if k < NULL_SHARE else ("" if k < NULL_SHARE + EMPTY_SHARE else "   ")
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    order = rng.permutation(n)  # files are not sorted by doc_id
    return pa.table(
        {
            "doc_id": pa.array(ids[order], pa.int64()),
            "text": pa.array([texts[i] for i in order], pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in ids[order]], pa.string()),
            "n_chars": pa.array([len(texts[i] or "") for i in order], pa.int64()),
        }
    )


def make_corpus(
    out_dir: str, seed: int, n_docs: int, n_files: int, n_deltas: int, delta_share: float
) -> dict:
    """Write ``base/part-*.parquet`` (``n_docs`` docs over ``n_files``
    files) and ``delta_k/part-00000.parquet`` for each resume, with
    doc_ids above everything written before. Returns the layout."""
    rng = np.random.default_rng(seed)
    base = _corpus_rows(rng, 0, n_docs)
    bounds = np.linspace(0, n_docs, n_files + 1).astype(int)
    base_files = []
    for k in range(n_files):
        path = os.path.join(out_dir, "base", f"part-{k:05d}.parquet")
        _write(base.slice(bounds[k], bounds[k + 1] - bounds[k]), path)
        base_files.append(path)
    deltas = []
    next_id = n_docs
    n_delta = max(1, int(n_docs * delta_share))
    for k in range(n_deltas):
        path = os.path.join(out_dir, f"delta_{k}", "part-00000.parquet")
        _write(_corpus_rows(rng, next_id, n_delta), path)
        deltas.append(path)
        next_id += n_delta
    return {"base_files": base_files, "delta_files": deltas, "n_docs": n_docs, "n_delta": n_delta}


def read_docs(paths: list[str]) -> dict[int, str | None]:
    """doc_id -> text over the given corpus files."""
    out: dict[int, str | None] = {}
    for p in paths:
        t = pq.read_table(p, columns=["doc_id", "text"])
        out.update(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
    return out


def is_valid(text: str | None) -> bool:
    """The pipeline's validation rule: non-null text with a non-blank
    character (``functions.text.is_valid_content``; Spark's ``trim``
    strips spaces only, and the generator uses no other whitespace)."""
    return text is not None and len(text.strip(" ")) >= 1
