"""Deterministic synthetic tables for the benchmark.

The tables copy the schema, row counts and value distributions of the
repository's test data (a TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings``), so every frozen PQL text and pipeline
call runs on them and does the same amount of work; ``shape.py`` compares
the figures that decide that work between two table sets.  The same
``(scale, data_seed)`` always gives byte-identical parquet files.

Row counts per scale are in ``SCALES``: ``sf0.01`` is the benchmark's scale,
``tiny`` (sf0.001) the scale of its tests.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALES: dict[str, dict[str, int]] = {
    "sf0.01": {
        "customer": 1_500, "supplier": 100, "part": 2_000,
        "orders": 15_000, "lineitem": 60_000, "events": 10_000,
        "users": 150, "documents": 500, "embeddings": 500,
    },
    "tiny": {
        "customer": 150, "supplier": 10, "part": 200,
        "orders": 1_500, "lineitem": 6_000, "events": 1_000,
        "users": 15, "documents": 120, "embeddings": 60,
    },
}

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "de", "fr", "es"]
_LANG_P = [0.44, 0.15, 0.14, 0.13, 0.14]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _ts(start: dt.datetime, seconds: np.ndarray) -> pa.Array:
    us = (seconds * 1_000_000).astype(np.int64)
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(base + us, type=pa.int64()).cast(pa.timestamp("us"))


def _days(rng, n: int, lo: dt.datetime, hi: dt.datetime) -> pa.Array:
    span = (hi - lo).days + 1
    return _ts(lo, rng.integers(0, span, n).astype(np.float64) * 86_400)


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(scale: str, data_seed: int) -> dict[str, pa.Table]:
    """Build every table in memory; the same arguments give the same rows."""
    n = SCALES[scale]
    rng = np.random.default_rng(data_seed)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, nc),
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99),
    })
    npart = n["part"]
    adj = rng.integers(0, len(_PART_ADJ), npart)
    noun = rng.integers(0, len(_PART_NOUN), npart)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, npart)],
        "p_type": rng.choice(_PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 1),
    })
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": _days(
            rng, no, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)
        ),
        "o_orderpriority": rng.choice(_PRIORITIES, no),
    })
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(
            rng, nl, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)
        ),
    })
    ne = n["events"]
    secs = np.sort(rng.uniform(0, 30 * 86_400, ne))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1), secs),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, ne),
        "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts = [
        " ".join(rng.choice(_VOCAB, int(rng.integers(10, 100))))
        for _ in range(nd)
    ]
    # near-duplicates as in the test data: one document in twenty, taken
    # in random order, becomes a copy of any document plus " dup", so a
    # copy can be copied again (chains) or its source overwritten later
    for i in rng.choice(nd, nd // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, nd))] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, nd, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    return out


def ensure(root: Path, scale: str, data_seed: int) -> Path:
    """Write the tables under ``root`` once and return their directory.

    The directory is built beside its final name and renamed into place,
    so an interrupted run never leaves a partial table set behind.  The
    name carries a digest of this file, so a changed generator never
    reuses tables an older one wrote.
    """
    gen = hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:8]
    final = root / f"{scale}-seed{data_seed}-{gen}"
    if final.is_dir():
        return final
    tmp = root / f".{final.name}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for name, table in tables(scale, data_seed).items():
        pq.write_table(table, tmp / f"{name}.parquet")
    try:
        tmp.rename(final)
    except OSError:  # another run finished first
        shutil.rmtree(tmp, ignore_errors=True)
    return final
