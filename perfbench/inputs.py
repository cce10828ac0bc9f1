"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of the seed: the same seed yields
byte-identical parquet files and request parameters, a different seed
different ones. The engine only ever sees the generated files.

- ``write_photos``: the photo table, built with the repository's own
  fixture generator (``tools/gen_photo_fixture.build_rows``) so the
  schema and value distributions are exactly the committed fixture's.
- ``monument_rows``: the 19-row monuments side table of ``/runKMeans2``.
- ``write_catalog``: the ten catalog tables (TPC-H-shaped star schema plus
  ``events``, ``documents`` and ``embeddings``) with the column names,
  types and value domains of the repository's sf* test tables
  (``plans.registry._TABLE_DDL``), with row counts chosen per table.
"""

from __future__ import annotations

import datetime
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from workload import load_tool

#: Row counts of the generated catalog tables at sf0.01 (``region`` and
#: ``nation`` are fixed at 5 and 25 rows; ``lineitem`` has 1-7 lines per
#: order).
SF001_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["de", "en", "en", "en", "en", "es", "fr", "zh"]
#: Share of documents that are near-duplicates of an earlier document
#: (a copy with one or two trailing ``dup`` tokens, as in the sf* test tables).
DOC_NEAR_DUP_SHARE = 0.05

_DAY = 86_400 * 1_000_000  # microseconds


def write_photos(n: int, seed: int, path: Path) -> None:
    """Write ``n`` seeded photo rows in the corrected photo schema."""
    gen = load_tool("gen_photo_fixture")
    table = pa.Table.from_pylist(gen.build_rows(n, seed), schema=gen.arrow_schema())
    pq.write_table(table, path, compression="snappy")


def photo_vocab() -> dict[str, list]:
    """Tag, title-word and username domains of the photo generator."""
    gen = load_tool("gen_photo_fixture")
    return {
        "tags": list(gen.TAG_VOCAB),
        "words": list(gen.TITLE_WORDS),
        "users": [f"user_{i:03d}" for i in range(150)],
    }


def monument_rows(seed: int) -> list[dict]:
    """19 seeded monuments around Rome's centre (the reference's side table)."""
    rng = np.random.default_rng([seed, 19])
    return [
        {
            "name": f"monument_{i:02d}",
            "latitude": round(41.9 + float(rng.uniform(-0.05, 0.05)), 6),
            "longitude": round(12.5 + float(rng.uniform(-0.05, 0.05)), 6),
        }
        for i in range(19)
    ]


def _ts(start: datetime.datetime, micros: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000)
    return pa.array(base + micros.astype(np.int64), type=pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def catalog_tables(seed: int, rows: dict[str, int]) -> dict[str, pa.Table]:
    """The ten catalog tables, with ``rows`` rows in each table that
    ``SF001_ROWS`` names."""
    rng = np.random.default_rng([seed, 10])
    n_nation = 25
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(n_nation), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(n_nation)],
            "n_regionkey": pa.array([i % 5 for i in range(n_nation)], pa.int32()),
        }
    )
    nc = rows["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, n_nation, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(SEGMENTS, nc).tolist(),
        }
    )
    ns = rows["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, n_nation, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = rows["part"]
    keys = np.arange(npart)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": rng.choice(PART_TYPES, npart).tolist(),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
        }
    )
    no = rows["orders"]
    span_days = (datetime.datetime(2001, 8, 1) - datetime.datetime(1995, 1, 1)).days
    odays = rng.integers(0, span_days + 1, no)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _ts(datetime.datetime(1995, 1, 1), odays * _DAY),
            "o_orderpriority": rng.choice(PRIORITIES, no).tolist(),
        }
    )
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    ship = np.repeat(odays, lines) + rng.integers(1, 96, nl)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(lnum, pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
            "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
            "l_shipdate": _ts(datetime.datetime(1995, 1, 1), ship * _DAY),
        }
    )
    ne = rows["events"]
    n_users = max(10, ne // 66)
    ev_us = np.sort(rng.integers(0, 30 * _DAY, ne))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(datetime.datetime(2024, 1, 1), ev_us),
            "user_id": pa.array(rng.integers(0, n_users, ne), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, ne).tolist(),
            "value": np.round(rng.exponential(50.0, ne) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    t["documents"] = pa.table(_documents(rng, rows["documents"]))
    nv = rows["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
        }
    )
    return t


def _documents(rng, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < DOC_NEAR_DUP_SHARE:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(DOC_WORDS, k)))
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n).tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    }


def write_catalog(seed: int, out_dir: Path, rows: dict[str, int]) -> dict[str, int]:
    """Write every catalog table as ``<out_dir>/<name>.parquet``; returns
    the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in catalog_tables(seed, rows).items():
        pq.write_table(table, out_dir / f"{name}.parquet", compression="snappy")
        counts[name] = table.num_rows
    return counts
