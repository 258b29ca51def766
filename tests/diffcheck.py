"""Differential harness mimicking the driver's t2 correctness gate:
run a workload query on Spark AND its oracle SQL on DuckDB over the
same parquet, compare row count, column names, and sorted values."""

from __future__ import annotations

import datetime
import math
from decimal import Decimal

import duckdb

from ksql_streams_from_schema_converter_spark.sources.parquet import TABLE_NAMES


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Oracle connection with one view per table.  DuckDB's
    statistics-propagation pass is off: on the deep CTE chains of the
    unrolled oracles (``pretrain_pipeline_v4``, the BPE family) it
    dominates the query time (single-threaded planning, ~11 minutes
    for v4 at sf0.001), while every oracle that completes returns the
    same rows at sf0.001 with it on or off."""
    con = duckdb.connect()
    con.execute("SET disabled_optimizers = 'statistics_propagation'")
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _norm(v):
    """Normalize a cell for cross-engine comparison (mirrors an
    order-insensitive value hash: types collapse to canonical forms)."""
    if v is None:
        return None
    if isinstance(v, Decimal):
        return str(v.normalize())
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return v


def compare(spark_df, con: duckdb.DuckDBPyConnection, oracle_sql: str) -> tuple[bool, str]:
    oracle = con.execute(oracle_sql)
    o_cols = [d[0].lower() for d in oracle.description]
    o_rows = oracle.fetchall()
    s_cols = [c.lower() for c in spark_df.columns]
    s_rows = [tuple(r) for r in spark_df.collect()]

    if sorted(s_cols) != sorted(o_cols):
        return False, f"column mismatch: spark={sorted(s_cols)} oracle={sorted(o_cols)}"
    if len(s_rows) != len(o_rows):
        return False, f"row count mismatch: spark={len(s_rows)} oracle={len(o_rows)}"

    s_order = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
    o_order = sorted(range(len(o_cols)), key=lambda i: o_cols[i])
    s_norm = sorted(
        (tuple(_norm(r[i]) for i in s_order) for r in s_rows), key=repr
    )
    o_norm = sorted(
        (tuple(_norm(r[i]) for i in o_order) for r in o_rows), key=repr
    )
    for i, (a, b) in enumerate(zip(s_norm, o_norm)):
        if a != b:
            return False, f"first value mismatch at sorted row {i}:\n  spark : {a}\n  oracle: {b}"
    return True, f"ok ({len(s_rows)} rows)"
