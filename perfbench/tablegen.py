"""Seeded input tables for the `analytics` workload.

Writes the tables the timed registry entries read (`documents` for the
text entries, the TPC-H-shaped star for the relational one) as one
parquet file each, with the column names and types of the project's
test data (TESTDATA.md), so `catalog.load_table` and the entries'
DuckDB oracles read them unchanged. Every value comes from
``random.Random(f"tables:{seed}")``, so one seed always yields the same
rows.

- ``documents``: words drawn from a small vocabulary, 8-90 words each;
  ~25% of the documents copy an earlier one with a few words replaced,
  so the near-duplicate entries find pairs.
- ``orders`` / ``lineitem``: order dates over 1995-2001, 1-7 lines per
  order; suppliers and customers spread over 25 nations in 5 regions.
"""

from __future__ import annotations

import os
import random
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS = 400
NEAR_DUP_SHARE = 0.25
N_CUSTOMERS = 300
N_SUPPLIERS = 40
N_ORDERS = 3000

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query big stream "
    "group filter vector"
).split()
_LANGS = ("en", "zh", "es", "de", "fr")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_DATE0 = datetime(1995, 1, 1)
_DAYS = (datetime(2001, 8, 1) - _DATE0).days


def _documents(rng: random.Random) -> dict:
    texts: list[str] = []
    for _ in range(N_DOCS):
        if texts and rng.random() < NEAR_DUP_SHARE:
            words = rng.choice(texts).split()
            for _ in range(max(1, len(words) // 20)):
                words[rng.randrange(len(words))] = rng.choice(_WORDS)
        else:
            words = [rng.choice(_WORDS) for _ in range(rng.randint(8, 90))]
        texts.append(" ".join(words))
    return {
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(_LANGS) for _ in texts], pa.string()),
        "source": pa.array([f"src{rng.randrange(20)}" for _ in texts], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _star(rng: random.Random) -> dict[str, dict]:
    region = {
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    }
    nation = {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % len(REGIONS) for i in range(25)], pa.int32()),
    }
    customer = {
        "c_custkey": pa.array(range(N_CUSTOMERS), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMERS)], pa.string()),
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(N_CUSTOMERS)], pa.int32()),
        "c_acctbal": pa.array(
            [round(rng.uniform(-999, 9999), 2) for _ in range(N_CUSTOMERS)], pa.float64()
        ),
        "c_mktsegment": pa.array([rng.choice(_SEGMENTS) for _ in range(N_CUSTOMERS)], pa.string()),
    }
    supplier = {
        "s_suppkey": pa.array(range(N_SUPPLIERS), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)], pa.string()),
        "s_nationkey": pa.array([rng.randrange(25) for _ in range(N_SUPPLIERS)], pa.int32()),
        "s_acctbal": pa.array(
            [round(rng.uniform(-999, 9999), 2) for _ in range(N_SUPPLIERS)], pa.float64()
        ),
    }
    orders: dict[str, list] = {k: [] for k in (
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority",
    )}
    lines: dict[str, list] = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
    )}
    for o in range(N_ORDERS):
        date = _DATE0 + timedelta(days=rng.randrange(_DAYS))
        total = 0.0
        for ln in range(1, rng.randint(1, 7) + 1):
            qty = float(rng.randint(1, 50))
            price = round(qty * rng.uniform(900, 2100), 2)
            total += price
            for k, v in (
                ("l_orderkey", o), ("l_partkey", rng.randrange(2000)),
                ("l_suppkey", rng.randrange(N_SUPPLIERS)), ("l_linenumber", ln),
                ("l_quantity", qty), ("l_extendedprice", price),
                ("l_discount", rng.randint(0, 10) / 100), ("l_tax", rng.randint(0, 8) / 100),
                ("l_returnflag", rng.choice("ANR")), ("l_linestatus", rng.choice("FO")),
                ("l_shipdate", date + timedelta(days=rng.randint(1, 121))),
            ):
                lines[k].append(v)
        for k, v in (
            ("o_orderkey", o), ("o_custkey", rng.randrange(N_CUSTOMERS)),
            ("o_orderstatus", rng.choice("FOP")), ("o_totalprice", round(total, 2)),
            ("o_orderdate", date), ("o_orderpriority", rng.choice(_PRIORITIES)),
        ):
            orders[k].append(v)
    types = {
        "o_orderkey": pa.int64(), "o_custkey": pa.int64(), "o_orderstatus": pa.string(),
        "o_totalprice": pa.float64(), "o_orderdate": pa.timestamp("us"),
        "o_orderpriority": pa.string(), "l_orderkey": pa.int64(), "l_partkey": pa.int64(),
        "l_suppkey": pa.int64(), "l_linenumber": pa.int32(), "l_quantity": pa.float64(),
        "l_extendedprice": pa.float64(), "l_discount": pa.float64(), "l_tax": pa.float64(),
        "l_returnflag": pa.string(), "l_linestatus": pa.string(), "l_shipdate": pa.timestamp("us"),
    }
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "orders": {k: pa.array(v, types[k]) for k, v in orders.items()},
        "lineitem": {k: pa.array(v, types[k]) for k, v in lines.items()},
    }


def make_tables(seed: int) -> dict[str, pa.Table]:
    """Every table for `seed`, by name."""
    rng = random.Random(f"tables:{seed}")
    cols = {"documents": _documents(rng), **_star(rng)}
    return {name: pa.table(c) for name, c in cols.items()}


def write_tables(out_dir: str, seed: int) -> list[str]:
    """Write `make_tables(seed)` as `<out_dir>/<name>.parquet` (the
    layout `catalog.load_table` reads); returns the table names."""
    os.makedirs(out_dir, exist_ok=True)
    tables = make_tables(seed)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return sorted(tables)
