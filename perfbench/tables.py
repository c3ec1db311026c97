"""Seeded generator for the catalog tables the batch entries read.

Writes the ten tables ``weather_flink_spark.io.TABLES`` names, one
parquet file each, with the column names and physical types the engine's
catalog expects, at scale factor 0.1 (600,000 lineitem rows). Values
are uniform draws of the same shape as the engine's reference test data:
TPC-H-like keys and prices, a 30-word document vocabulary with 5% of the
documents near-duplicates of another (`` dup`` suffix), 64-d unit
embeddings with weak per-label structure, and a month of click events.

The tables depend only on ``DATA_SEED`` and ``SCALE``; a benchmark seed
picks which entries run, never the table contents. Generation is one
process, numpy + pyarrow, a few seconds at sf0.1.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
SCALE = 0.1
# bump when the generated values change, so cached tables are rebuilt
VERSION = "1"

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _days(start: str, end: str, n: int, rng: np.random.Generator) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(lo: float, hi: float, n: int, rng: np.random.Generator) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(values: list[str], n: int, rng: np.random.Generator, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def build_tables(scale: float = SCALE, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """Return every catalog table as an Arrow table (deterministic in seed)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line = int(1_500_000 * scale), int(6_000_000 * scale)
    n_events, n_docs, n_emb = int(1_000_000 * scale), int(50_000 * scale), int(20_000 * scale)
    i32, i64 = pa.int32(), pa.int64()

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(-999.99, 9999.99, n_cust, rng),
            "c_mktsegment": _pick(SEGMENTS, n_cust, rng),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(-999.99, 9999.99, n_supp, rng),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    keys = np.arange(n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, i64),
            "p_name": _pick(names, n_part, rng),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(PART_TYPES, n_part, rng),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": _pick(["F", "O", "P"], n_ord, rng),
            "o_totalprice": _money(1000.0, 500_000.0, n_ord, rng),
            "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
            "o_orderpriority": _pick(PRIORITIES, n_ord, rng),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(900.0, 105_000.0, n_line, rng),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(["A", "N", "R"], n_line, rng),
            "l_linestatus": _pick(["F", "O"], n_line, rng),
            "l_shipdate": _days("1995-01-02", "2001-11-04", n_line, rng),
        }
    )
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(start + rng.integers(0, span, n_events))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), i64),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, int(15_000 * scale), n_events), i64),
            "event_type": _pick(EVENT_TYPES, n_events, rng),
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )
    vocab = np.asarray(VOCAB, dtype=object)
    lengths = rng.integers(10, 101, n_docs)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    # 5% near-duplicates: another document's text plus one marker token
    dups = rng.choice(n_docs, n_docs // 20, replace=False)
    for d in dups:
        src = int(rng.integers(0, n_docs))
        if src != d and not texts[src].endswith(" dup"):
            texts[d] = texts[src] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), i64),
            "text": texts,
            "lang": _pick(LANGS, n_docs, rng, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(x) for x in texts], i64),
        }
    )
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.standard_normal((10, 64))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    vecs = rng.standard_normal((n_emb, 64)) + 0.6 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    return t


def stamp() -> str:
    """Identifies the generated table contents."""
    return f"{VERSION} {SCALE} {DATA_SEED}"


def ensure_tables(data_dir: str) -> str:
    """Generate the tables into ``data_dir`` once; reuse them afterwards.

    A ``_SUCCESS`` marker naming the generator version is written last,
    so an interrupted generation is redone rather than half-read.
    """
    marker = os.path.join(data_dir, "_SUCCESS")
    if os.path.exists(marker) and open(marker).read() == stamp():
        return data_dir
    shutil.rmtree(data_dir, ignore_errors=True)
    os.makedirs(data_dir)
    for name, table in build_tables().items():
        pq.write_table(table, os.path.join(data_dir, f"{name}.parquet"))
    with open(marker, "w") as f:
        f.write(stamp())
    return data_dir
