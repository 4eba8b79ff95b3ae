"""Seeded star-schema generator for the ``analytics_sf01`` workload.

Writes the tables its catalog entries read (``region nation customer
orders lineitem events``) as one parquet file each, with the column
names, types and value domains of the engine's registered star schema
(``sources.registry.STAR_TABLES``); lineitem's part and supplier keys
range over the TPC-H sizes of those (unwritten) tables.
Row counts scale with ``sf`` like TPC-H: ``lineitem`` ≈ 6,000,000 × sf.

The same ``(seed, sf)`` writes byte-identical files; nothing is read
from outside the output directory.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "orders", "lineitem", "events")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_US = np.int64(1_000_000)
_DAY_US = 86_400 * _US
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale ``sf`` (lineitem is derived: 1–7 lines
    per order); ``part`` and ``supplier`` only size lineitem's keys."""
    n = lambda base: max(int(round(base * sf)), 10)  # noqa: E731
    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000),
        "supplier": n(10_000),
        "part": n(200_000),
        "orders": n(1_500_000),
        "events": n(1_000_000),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; return rows per table."""
    rng = np.random.default_rng(seed)
    counts = row_counts(sf)
    n_part, n_supp = counts.pop("part"), counts.pop("supplier")
    os.makedirs(out_dir, exist_ok=True)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = counts["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(SEGMENTS, nc).tolist(),
        }
    )
    no = counts["orders"]
    odate = _EPOCH_1995 + rng.integers(0, 2405, no) * _DAY_US
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _ts(odate),
            "o_orderpriority": rng.choice(PRIORITIES, no).tolist(),
        }
    )
    # lineitem: 1–7 lines per order, ~2% of orders without lines
    per_order = rng.integers(1, 8, no) * (rng.random(no) >= 0.02)
    nl = int(per_order.sum())
    okey = np.repeat(np.arange(no), per_order)
    line_no = np.arange(nl) - np.repeat(np.cumsum(per_order) - per_order, per_order) + 1
    qty = rng.integers(1, 51, nl).astype(np.float64)
    flag = rng.choice(["A", "N", "R"], nl)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, nl), pa.int64()),
            "l_linenumber": pa.array(line_no, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, nl), 2),
            "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
            "l_returnflag": flag.tolist(),
            "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
            "l_shipdate": _ts(odate[okey] + rng.integers(1, 122, nl) * _DAY_US),
        }
    )
    counts["lineitem"] = nl
    ne = counts["events"]
    ev_ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * 86_400 * 1_000_000, ne))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(ev_ts),
            "user_id": pa.array(rng.integers(0, max(ne // 66, 10), ne), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, ne).tolist(),
            "value": np.round(rng.exponential(40.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    for name in TABLES:
        pq.write_table(t[name], os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
    return counts
