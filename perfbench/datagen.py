"""Seeded generator for the warehouse tables the query catalog reads.

Produces the ten tables ``queries.catalog.tables`` loads (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the schemas and value domains of the repository's
oracle fixtures, at any scale factor: row counts are the sf1 counts below
times ``sf``. Columns are drawn independently and uniformly, as in the
fixtures, so every query keeps a non-empty result at small scales.

The tables are written straight into the staged, scan-parallel layout:
each fact table is split into ``nproc`` parquet files (one scan task per
core) and each dimension stays one file. The writes run on a pool of
``nproc`` threads; pyarrow releases the interpreter lock while encoding.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
#: rows at sf1; region and nation are fixed-size
SF1_ROWS = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}
DIMENSIONS = {"region", "nation", "supplier"}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "screw"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_VOCAB = (
    "a agg batch big column data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table "
    "value vector window index cache shard"
).split()
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_DAY_US = 86_400_000_000


def rows_at(name: str, sf: float) -> int:
    if name == "region":
        return 5
    if name == "nation":
        return 25
    return max(10, int(round(SF1_ROWS[name] * sf)))


def _dates(rng, n: int, lo_day: int, hi_day: int) -> np.ndarray:
    days = rng.integers(lo_day, hi_day + 1, n)
    return _EPOCH_1995 + days.astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _build(name: str, sf: float, seed: int) -> pa.Table:
    # one stream per table, so a table's contents do not depend on which
    # other tables were generated first
    rng = np.random.default_rng([seed, TABLES.index(name)])
    n = rows_at(name, sf)
    ids = np.arange(n, dtype=np.int64)
    if name == "region":
        return pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": _REGIONS,
        })
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        })
    if name == "customer":
        return pa.table({
            "c_custkey": ids,
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": rng.integers(0, 25, n, dtype=np.int32),
            "c_acctbal": _money(rng, n, -999.99, 9999.99),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n)],
        })
    if name == "supplier":
        return pa.table({
            "s_suppkey": ids,
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": rng.integers(0, 25, n, dtype=np.int32),
            "s_acctbal": _money(rng, n, -999.99, 9999.99),
        })
    if name == "part":
        adj = np.array(_PART_ADJ)[rng.integers(0, 8, n)]
        noun = np.array(_PART_NOUN)[rng.integers(0, 8, n)]
        return pa.table({
            "p_partkey": ids,
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
            "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n)],
            "p_size": rng.integers(1, 51, n, dtype=np.int32),
            "p_retailprice": np.round(900.0 + (ids % 1000) * 0.1, 2),
        })
    if name == "orders":
        return pa.table({
            "o_orderkey": ids,
            "o_custkey": rng.integers(0, rows_at("customer", sf), n),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, n, 1000.0, 500000.0),
            "o_orderdate": _dates(rng, n, 0, 2403),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n)],
        })
    if name == "lineitem":
        return pa.table({
            "l_orderkey": rng.integers(0, rows_at("orders", sf), n),
            "l_partkey": rng.integers(0, rows_at("part", sf), n),
            "l_suppkey": rng.integers(0, rows_at("supplier", sf), n),
            "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, n, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": _dates(rng, n, 1, 2499),
        })
    if name == "events":
        start = np.datetime64("2024-01-01", "us")
        offs = np.sort(rng.integers(0, 30 * _DAY_US, n))
        return pa.table({
            "event_id": ids,
            "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": rng.integers(0, max(10, int(round(15_000 * sf))), n),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.gamma(2.0, 40.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        })
    if name == "documents":
        vocab = np.array(_VOCAB)
        texts = [
            " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
            for _ in range(n)
        ]
        # exact duplicates for the dedup queries: ~0.5% of documents
        # repeat an earlier document's text
        for i in rng.choice(np.arange(1, n), max(1, n // 200), replace=False):
            texts[i] = texts[int(rng.integers(0, i))]
        return pa.table({
            "doc_id": ids,
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(5, n, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        })
    if name == "embeddings":
        labels = rng.integers(0, 10, n)
        centers = rng.normal(0.0, 1.0, (10, 64))
        vecs = centers[labels] + rng.normal(0.0, 0.8, (n, 64))
        # near duplicates for the semantic-dedup queries: ~2% of vectors
        # sit very close to an earlier vector
        for i in rng.choice(np.arange(1, n), max(1, n // 50), replace=False):
            vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(0.0, 1e-3, 64)
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
        offsets = pa.array(np.arange(0, 64 * n + 1, 64, dtype=np.int32))
        return pa.table({
            "vec_id": ids,
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": labels.astype(np.int32),
        })
    raise ValueError(f"unknown table {name!r}")


def _write(table: pa.Table, path: str, files: int) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def generate(out_dir: str, sf: float, seed: int, nproc: int) -> dict[str, int]:
    """Write every table under ``out_dir/<name>.parquet/``; returns row
    counts. The same (sf, seed) always produces the same tables."""

    def one(name: str) -> int:
        table = _build(name, sf, seed)
        _write(table, os.path.join(out_dir, f"{name}.parquet"),
               1 if name in DIMENSIONS else nproc)
        return table.num_rows

    with ThreadPoolExecutor(max_workers=nproc) as pool:
        counts = list(pool.map(one, TABLES))
    return dict(zip(TABLES, counts))

