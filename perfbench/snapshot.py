"""Seeded snapshot generator and oracle cache for the benchmark.

The catalog reads ten parquet tables from one snapshot directory (see
``energy_data_pipeline_spark/sources/tables.py``). This module writes a
snapshot with the same schema, types and value shapes as the project's
synthetic test data, from a fixed generator seed, so the benchmark needs
nothing outside its checkout. ``build()`` is the benchmark's build step:
it writes the snapshot once per checkout and caches each selected catalog
entry's DuckDB oracle result next to it.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import pickle
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated data changes, so stale caches are rebuilt.
GENERATOR_VERSION = 1
GENERATOR_SEED = 20240101

# Row counts at sf=0.1; documents and embeddings keep a floor of 500 rows.
_ROWS_AT_SF01 = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EVENT_DAYS = 30
EVENT_START = dt.datetime(2024, 1, 1)
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def _rows(name: str, sf: float) -> int:
    n = max(1, round(_ROWS_AT_SF01[name] * sf / 0.1))
    return max(n, 500) if name in ("documents", "embeddings") else n


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def event_frame(
    rng: np.random.Generator, n: int, start: dt.datetime, days: int, first_id: int
) -> pd.DataFrame:
    """``n`` events spread over ``days`` days from ``start``, ts-ordered,
    ids consecutive from ``first_id`` (the events table's shape)."""
    span_us = days * 86_400_000_000
    offs = np.sort(rng.integers(0, span_us, n))
    ts = np.datetime64(start, "us") + offs.astype("timedelta64[us]")
    return pd.DataFrame(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, 1500, n).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 20 and r < 0.05:
            # near duplicate: an earlier document plus a marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 20 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), k)]))
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(len(_LANGS), n, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    m = rng.standard_normal((n, 64)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(m.ravel()), 64).cast(
        pa.list_(pa.float32())
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb,
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def generate(out_dir: str, sf: float, seed: int = GENERATOR_SEED) -> None:
    """Write the ten tables of a snapshot at scale ``sf`` into ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pd.DataFrame | pa.Table] = {}
    tables["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    n = _rows("customer", sf)
    tables["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": np.array(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
            )[rng.integers(0, 5, n)],
        }
    )
    n_supp = _rows("supplier", sf)
    tables["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    n_part = _rows("part", sf)
    adj = ["big", "blue", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "nut", "plate", "ring", "rod", "spring"]
    tables["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{adj[a]} {noun[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
            )[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    n_ord = _rows("orders", sf)
    order_days = _days(rng, "1995-01-01", "2001-08-01", n_ord)
    tables["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": order_days,
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, n_ord)],
        }
    )
    n_li = _rows("lineitem", sf)
    li_order = rng.integers(0, n_ord, n_li).astype(np.int64)
    ship = order_days[li_order] + rng.integers(1, 96, n_li).astype("timedelta64[D]")
    tables["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": li_order,
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": ship.astype("datetime64[us]"),
        }
    )
    n_ev = _rows("events", sf)
    ev = event_frame(rng, n_ev, EVENT_START, EVENT_DAYS, 0)
    ev["props"] = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]
    tables["events"] = ev
    tables["documents"] = _documents(rng, _rows("documents", sf))
    tables["embeddings"] = _embeddings(rng, _rows("embeddings", sf))
    for name, frame in tables.items():
        table = (
            frame
            if isinstance(frame, pa.Table)
            else pa.Table.from_pandas(frame, preserve_index=False)
        )
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _oracle_result(con, sql: str) -> dict:
    res = con.sql(sql)
    return {
        "columns": list(res.columns),
        "types": [str(t) for t in res.types],
        "rows": res.fetchall(),
    }


class CachedOracle:
    """Stands in for the DuckDB connection that
    ``tests.oracle_harness.compare`` queries, serving cached results."""

    def __init__(self, result: dict):
        self._result = result

    def sql(self, _sql: str) -> "CachedOracle":
        return self

    @property
    def columns(self) -> list[str]:
        return self._result["columns"]

    @property
    def types(self) -> list[str]:
        return self._result["types"]

    def fetchall(self) -> list[tuple]:
        return self._result["rows"]


def _source_digest(root: str) -> str:
    """Digest of the program sources the oracle cache depends on."""
    h = hashlib.sha256(str(GENERATOR_VERSION).encode())
    pkg = os.path.join(root, "energy_data_pipeline_spark", "plans")
    for name in sorted(os.listdir(pkg)):
        if name.endswith(".py"):
            with open(os.path.join(pkg, name), "rb") as f:
                h.update(name.encode() + f.read())
    return h.hexdigest()[:16]


def build(root: str, build_dir: str, sf: float, names: list[str]) -> tuple[str, dict]:
    """Ensure the snapshot at scale ``sf`` and the oracle results of
    ``names`` exist under ``build_dir``; return (snapshot dir, oracles).

    Written to a temporary directory and renamed into place, so an
    interrupted build is redone rather than half-used."""
    from energy_data_pipeline_spark.plans.catalog import CATALOG
    from tests.oracle_harness import duck_connection

    tag = f"sf{sf}-g{GENERATOR_VERSION}"
    snap = os.path.join(build_dir, f"snapshot-{tag}")
    if not os.path.isfile(os.path.join(snap, "_COMPLETE")):
        tmp = f"{snap}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        generate(tmp, sf)
        with open(os.path.join(tmp, "_COMPLETE"), "w") as f:
            f.write(json.dumps({"sf": sf, "seed": GENERATOR_SEED}))
        shutil.rmtree(snap, ignore_errors=True)
        os.rename(tmp, snap)
    cache_path = os.path.join(build_dir, f"oracles-{tag}-{_source_digest(root)}.pkl")
    cache: dict = {}
    if os.path.isfile(cache_path):
        with open(cache_path, "rb") as f:
            cache = pickle.load(f)
    missing = [n for n in names if n not in cache]
    if missing:
        con = duck_connection(snap)
        try:
            for name in missing:
                sql = CATALOG[name][1]
                cache[name] = _oracle_result(con, sql(snap) if callable(sql) else sql)
        finally:
            con.close()
        tmp = f"{cache_path}.tmp{os.getpid()}"
        with open(tmp, "wb") as f:
            pickle.dump(cache, f)
        os.replace(tmp, cache_path)
    return snap, {n: cache[n] for n in names}
