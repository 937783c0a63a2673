"""The registry slice: a fixed handful of graded queries from
``__spark_entry__.queries()``, run over the benchmark's own test data
(``testdata.write``) and checked against their DuckDB oracles with the
``tools/check_oracle.py`` canonicalisation.

Each query runs in three steps, which the traced run wraps one by one:
``build`` calls the registered function (the ``sources.load_table``
reads and any eager jobs the query runs while it is built), ``plan``
forces the physical plan, and ``execute`` collects the rows. Collecting
stands in for ``bench.py``'s noop sink: the results are at most a few
thousand rows, and the same rows feed the oracle check, so each query
runs once.
"""

from __future__ import annotations

import os
import time

import __spark_entry__

from . import testdata

# workload -> the queries its slice runs. ``ingest_cycle`` takes the
# reference's write-side operators (S6 merge insert-if-absent, S7
# delete+insert refresh, the anti-join of the pending queue);
# ``serve_mix`` takes its read-side ones (latest snapshot per key, the
# point-document read, the refresh-policy bands) and one TPC-H query of
# ``tpch.py``.
SLICES = {
    "ingest_cycle": ("merge_insert_missing", "delete_insert_refresh", "anti_join_pending"),
    "serve_mix": ("latest_snapshot", "point_lookup", "staleness_bands", "tpch_q12"),
}


def build(spark, name: str, sf_dir: str):
    return __spark_entry__.queries()[name](spark, sf_dir)


def plan(df):
    df._jdf.queryExecution().executedPlan()
    return df


def execute(df):
    return df.toPandas()


def run(spark, names, sf_dir: str) -> tuple[float, dict]:
    """Run ``names`` one after another; returns (wall seconds, rows per query)."""
    rows = {}
    t0 = time.perf_counter()
    for name in names:
        rows[name] = execute(plan(build(spark, name, sf_dir)))
    return time.perf_counter() - t0, rows


def check(sf_dir: str, rows: dict, corrupt: bool = False) -> list[str]:
    """Compare each query's rows with its DuckDB oracle over the same
    files: row count, column names, and the canonical row strings."""
    import duckdb

    from tools.check_oracle import canon_pdf

    con = duckdb.connect()
    for t in testdata.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t + '.parquet')}'")
    oracles = __spark_entry__.oracle_sql()
    problems = []
    for name, got in rows.items():
        want = con.execute(oracles[name]).df()
        if corrupt:  # the checks' own self-test: expect one row too many
            want = want.iloc[[*range(len(want)), 0]]
        if sorted(got.columns) != sorted(want.columns):
            problems.append(f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}")
        elif canon_pdf(got) != canon_pdf(want):
            problems.append(f"{name}: {len(got)} rows differ from the oracle's {len(want)}")
    con.close()
    return problems
