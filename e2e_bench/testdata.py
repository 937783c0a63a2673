"""Seeded TPC-H-ish tables for the registry slice, in the layout
``sources.tables.load_table`` reads: one parquet file per table.

The registry's queries read the shared synthetic test data of TESTDATA.md
(``region`` ... ``lineitem`` plus ``events``), which lives outside the checkout. The
benchmark writes its own copy instead, at the size of the smallest
scale factor (about 6,000 line items) and with the same schemas and
value domains, so every slice query has rows to work on.
"""

from __future__ import annotations

import os
import random
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

# the tables the slice's queries read
TABLES = ("customer", "orders", "lineitem", "part", "events")

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_PART_WORDS = ["blue", "cold", "small", "large", "red", "steel", "anvil", "widget", "bolt", "gear"]
_PART_TYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]


def write(out_dir: str, seed: int) -> str:
    """Write the slice's tables under ``out_dir`` and return it."""
    rng = random.Random(f"{seed}:testdata")
    os.makedirs(out_dir, exist_ok=True)
    ts = pa.timestamp("us")
    d0 = datetime(1995, 1, 1)

    n_cust, n_orders, n_parts = 150, 1500, 200
    customer = {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)], pa.int32()),
        "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_cust)],
        "c_mktsegment": [rng.choice(_SEGMENTS) for _ in range(n_cust)],
    }
    orders = {
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n_orders)], pa.int64()),
        "o_orderstatus": [rng.choice("FOP") for _ in range(n_orders)],
        "o_totalprice": [round(rng.uniform(1000, 500_000), 2) for _ in range(n_orders)],
        "o_orderdate": pa.array(
            [d0 + timedelta(days=rng.randrange(2400)) for _ in range(n_orders)], ts
        ),
        "o_orderpriority": [rng.choice(_PRIORITIES) for _ in range(n_orders)],
    }
    line = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                            "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                            "l_linestatus", "l_shipdate")}
    for o in range(n_orders):
        for n in range(1, rng.randint(1, 7) + 1):
            qty = float(rng.randint(1, 50))
            line["l_orderkey"].append(o)
            line["l_partkey"].append(rng.randrange(n_parts))
            line["l_suppkey"].append(rng.randrange(10))
            line["l_linenumber"].append(n)
            line["l_quantity"].append(qty)
            line["l_extendedprice"].append(round(qty * rng.uniform(900, 2100), 2))
            line["l_discount"].append(rng.randint(0, 10) / 100)
            line["l_tax"].append(rng.randint(0, 8) / 100)
            line["l_returnflag"].append(rng.choice("NAR"))
            line["l_linestatus"].append(rng.choice("OF"))
            line["l_shipdate"].append(d0 + timedelta(days=rng.randrange(2500)))
    line["l_orderkey"] = pa.array(line["l_orderkey"], pa.int64())
    line["l_partkey"] = pa.array(line["l_partkey"], pa.int64())
    line["l_suppkey"] = pa.array(line["l_suppkey"], pa.int64())
    line["l_linenumber"] = pa.array(line["l_linenumber"], pa.int32())
    line["l_shipdate"] = pa.array(line["l_shipdate"], ts)
    part = {
        "p_partkey": pa.array(range(n_parts), pa.int64()),
        "p_name": [f"{rng.choice(_PART_WORDS)} {rng.choice(_PART_WORDS)}" for _ in range(n_parts)],
        "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n_parts)],
        "p_type": [rng.choice(_PART_TYPES) for _ in range(n_parts)],
        "p_size": pa.array([rng.randint(1, 50) for _ in range(n_parts)], pa.int32()),
        "p_retailprice": [round(900 + i * 0.1, 1) for i in range(n_parts)],
    }
    n_events = 1000
    t0 = datetime(2024, 1, 1)
    stamps = sorted(t0 + timedelta(seconds=rng.uniform(0, 30 * 86400)) for _ in range(n_events))
    events = {
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(stamps, ts),
        "user_id": pa.array([rng.randrange(15) for _ in range(n_events)], pa.int64()),
        "event_type": [rng.choice(_EVENT_TYPES) for _ in range(n_events)],
        "value": [round(rng.uniform(0, 330), 2) for _ in range(n_events)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n_events)],
    }
    tables = dict(zip(TABLES, (customer, orders, line, part, events)))
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
