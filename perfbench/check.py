"""Result checks: an order-insensitive, type-tagged hash of a result frame,
and the DuckDB oracle hashes it is compared with.

The normalisation follows the engine's own oracle comparator: int 1000 and
float 1000.0 hash differently, NaN is one value, dates and timestamps
compare as strings, column names compare case-insensitively.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from datetime import date, datetime
from decimal import Decimal


_HASH_FORMAT = 2  # part of the oracle cache key


def _norm(v):
    if v is None:
        return None
    if hasattr(v, "item"):
        return _norm(v.item())
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, float):
        return ("float", "NaN") if math.isnan(v) else ("float", v)
    if isinstance(v, Decimal):
        return ("dec", v)
    if isinstance(v, (datetime, date)):
        return str(v)
    return v


def _column(values) -> list:
    """Normalised values of one column; the dtype picks a fast path."""
    kind = values.dtype.kind
    items = values.tolist()
    if kind in "iu":
        return [("int", v) for v in items]
    if kind == "f":
        return [("float", "NaN") if v != v else ("float", v) for v in items]
    if kind == "b":
        return [("bool", v) for v in items]
    return [_norm(v) for v in items]


def frame_hash(pdf) -> tuple[str, int]:
    """(hash, rows) of a pandas frame, independent of row and column order."""
    cols = sorted(pdf.columns)
    rows = sorted(map(repr, zip(*(_column(pdf[c]) for c in cols))))
    digest = hashlib.sha1(repr([c.lower() for c in cols]).encode())
    for row in rows:
        digest.update(row.encode() + b"\n")
    return digest.hexdigest(), len(rows)


def oracle_hashes(data_dir: str, specs: dict[str, str | None]) -> dict[str, list]:
    """DuckDB oracle hash per name that has oracle SQL, cached beside the
    data directory (keyed by the SQL text, so an edited oracle is
    recomputed); the engine sees only the parquet files."""
    import duckdb

    from gen import TABLES

    cache_path = data_dir.rstrip("/") + ".oracle.json"
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    out, dirty, con = {}, False, None
    for name, sql in specs.items():
        if sql is None:
            continue
        key = hashlib.sha1(f"{_HASH_FORMAT}:{sql}".encode()).hexdigest()
        if cache.get(name, {}).get("sql") != key:
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"'{data_dir}/{t}.parquet'")
            cache[name] = {"sql": key, "hash": list(frame_hash(con.execute(sql).df()))}
            dirty = True
        out[name] = cache[name]["hash"]
    if con is not None:
        con.close()
    if dirty:
        with open(cache_path + ".tmp", "w") as f:
            json.dump(cache, f)
        os.replace(cache_path + ".tmp", cache_path)
    return out
