"""Seeded input generator for the benchmark.

Writes the engine's ten-table star schema (TPC-H-ish dimensions and facts
plus the ``events``/``documents``/``embeddings`` tables) as parquet, with
the same column names, physical types and value domains the engine's
queries are written against. Row counts scale with ``sf`` the way the
engine's reference datasets do (``lineitem`` = 6,000,000 x sf).

Two layouts:

* ``base_tables(root, sf)`` -- one parquet file per table, generated from a
  fixed seed, so every run at one scale factor sees the same star schema.
* ``landing_tables(root, base, seed)`` -- the streaming landing directory:
  the streamed tables are cut into several part files at seed-chosen
  points (``events`` in ``ts`` order), the rest are linked unchanged.
  Slicing goes through pyarrow, so each column keeps its physical type.

Both are cached: a directory that already carries its ``_SUCCESS`` marker
is reused.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
STREAMED = ["events", "documents", "embeddings", "lineitem"]

BASE_SEED = 42
_WORDS = (
    "a the data table row column key value part line order customer query "
    "scan filter join agg group sort merge hash window stream batch spark "
    "vector big small fast slow"
).split()
_ADJ = ["small", "red", "blue", "hot", "cold", "new", "old", "large"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "rod", "anvil"]
_DAY_US = 86_400 * 1_000_000


def row_counts(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": 5000 if sf >= 0.1 else 500,
        "embeddings": 2000 if sf >= 0.1 else 500,
    }


def _ts(epoch_day: str, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(epoch_day, "us").astype(np.int64)
    return pa.array(base + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], c),
    })
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    out["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (p, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], p),
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 1),
    })
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000, 500_000, o),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, o) * _DAY_US),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o),
    })
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, o, li).astype(np.int64),
        "l_partkey": rng.integers(0, p, li).astype(np.int64),
        "l_suppkey": rng.integers(0, s, li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, li) * _DAY_US),
    })
    e = n["events"]
    gaps = rng.exponential(30 * _DAY_US / e, e)
    out["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": _ts("2024-01-01", np.cumsum(gaps)),
        "user_id": rng.integers(0, max(150, e // 66), e).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], e),
        "value": np.maximum(np.round(rng.exponential(50, e), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts: list[str] = []
    for i in range(d):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], d, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.5 + rng.normal(0, 1, (m, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return out


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _finish(tmp: str, path: str) -> str:
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path


def base_tables(root: str, sf: float) -> str:
    """The star schema at ``sf``, one parquet file per table."""
    path = os.path.join(root, f"base_sf{sf}")
    if _done(path):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(sf, BASE_SEED).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    return _finish(tmp, path)


def landing_tables(root: str, base: str, seed: int, parts: int = 6) -> str:
    """Landing directory for ``seed``: each streamed table becomes a
    directory of ``parts`` part files cut at seed-chosen row offsets."""
    path = os.path.join(root, f"landing_{os.path.basename(base)}_seed{seed}")
    if _done(path):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    for name in TABLES:
        src = os.path.join(base, f"{name}.parquet")
        dst = os.path.join(tmp, f"{name}.parquet")
        if name not in STREAMED:
            try:
                os.link(src, dst)
            except OSError:  # no hard links on this file system
                shutil.copyfile(src, dst)
            continue
        table = pq.read_table(src)
        if name == "events":
            table = table.sort_by("ts")
        rows = table.num_rows
        cuts = np.sort(rng.choice(np.arange(1, rows), parts - 1, replace=False))
        bounds = [0, *cuts.tolist(), rows]
        os.makedirs(dst)
        for i in range(parts):
            piece = table.slice(bounds[i], bounds[i + 1] - bounds[i])
            pq.write_table(piece, os.path.join(dst, f"part-{i:05d}.parquet"))
    check_counts(tmp, row_counts_of(base))
    return _finish(tmp, path)


def row_counts_of(data_dir: str) -> dict[str, int]:
    return {t: pq.ParquetDataset(os.path.join(data_dir, f"{t}.parquet")).read(
        columns=[]).num_rows for t in TABLES}


def check_counts(data_dir: str, expected: dict[str, int]) -> None:
    got = row_counts_of(data_dir)
    if got != expected:
        raise RuntimeError(f"row counts of {data_dir} are {got}, expected {expected}")


def input_bytes(data_dir: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(data_dir):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
