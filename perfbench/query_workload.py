"""The ``analytics_sf01`` workload: one job is one pass over a fixed
set of ``__spark_entry__.queries()`` entries, each forced with a
``noop`` write, in an order the seed permutes within each pass. Results
are checked once, on the warm-up pass, against the DuckDB oracle from
``__spark_entry__.oracle_sql()`` over the same generated tables.
"""

from __future__ import annotations

import os
import random

# Full-outer provenance join + collect_set, broadcast dimension joins,
# scan + aggregate, a three-way join with top-N, and session windows.
ANALYTICS = (
    "flagship_reconcile", "j_broadcast_dims", "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority", "events_sessionize",
)


def tables_read(fn, spark, sf_dir: str) -> set[str]:
    """Star-table files a query's plan scans (``DataFrame.inputFiles``)."""
    return {os.path.basename(f.rstrip("/")) for f in fn(spark, sf_dir).inputFiles()}


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def input_rows(names, spark, sf_dir: str) -> int:
    """Rows of the parquet tables each query reads (from parquet
    metadata), summed over the queries of one pass."""
    import __spark_entry__ as entry

    qs = entry.queries()
    total = 0
    for n in names:
        for t in tables_read(qs[n], spark, sf_dir):
            total += parquet_rows(os.path.join(sf_dir, t))
    return total


def oracle_results(names, sf_dir: str) -> dict[str, tuple[list, list]]:
    """DuckDB results of each entry's oracle over ``sf_dir``."""
    import duckdb

    import __spark_entry__ as entry

    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        # DuckDB spills to ``.tmp`` in the working directory by default
        con.execute(f"SET temp_directory = '{os.environ.get('TMPDIR', sf_dir)}'")
        for t in sorted(os.listdir(sf_dir)):
            name = t.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{t}'")
        out = {}
        for n in names:
            if n not in oracles:
                out[n] = None
                continue
            cur = con.execute(oracles[n])
            out[n] = ([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


def _cell(v):
    import datetime
    import math

    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        return "<NaN>" if math.isnan(v) else f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canonical(cols: list[str], rows: list) -> tuple[list[str], list[tuple]]:
    """Columns by name, cells rendered to 6 decimals, rows sorted —
    the order-insensitive comparison the catalog's oracle gate uses."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted(tuple(_cell(r[i]) for i in order) for r in rows)


def compare(name: str, cols: list[str], rows: list, oracle) -> str | None:
    if oracle is None:
        return f"{name}: no oracle"
    if sorted(cols) != sorted(oracle[0]):
        return f"{name}: columns {sorted(cols)} != oracle {sorted(oracle[0])}"
    got, want = canonical(cols, rows), canonical(*oracle)
    if got != want:
        return f"{name}: {len(rows)} rows differ from the oracle's {len(oracle[1])}"
    return None


class QueryPass:
    """One job = one pass over ``names`` in a seeded per-pass order."""

    def __init__(self, spark, names, sf_dir: str, seed: int):
        import __spark_entry__ as entry

        self.spark = spark
        self.names = list(names)
        self.sf_dir = sf_dir
        self.rng = random.Random(seed)
        self.queries = entry.queries()
        self.wrap = lambda name, fn: fn

    def run_query(self, name: str) -> None:
        self.queries[name](self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()

    def run(self) -> None:
        order = list(self.names)
        self.rng.shuffle(order)
        for name in order:
            self.wrap(name, self.run_query)(name)

    def collect_all(self) -> dict[str, tuple[list[str], list]]:
        out = {}
        for name in self.names:
            df = self.queries[name](self.spark, self.sf_dir)
            out[name] = (df.columns, [tuple(r) for r in df.collect()])
        return out
