"""Correctness checks that do not go through the package: the committed
files of a Spark parquet sink, read from its ``_spark_metadata`` log,
compared with the expected rows in DuckDB; and gate results compared
with their oracle SQL."""

from __future__ import annotations

import datetime
import json
import math
import os
from decimal import Decimal
from urllib.parse import unquote, urlparse

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from cdcgen import SINK_COLUMNS

_ARROW_TYPES = {
    "VARCHAR": pa.string(),
    "DATE": pa.date32(),
    "DECIMAL(18,2)": pa.decimal128(18, 2),
    "DECIMAL(12,2)": pa.decimal128(12, 2),
}


def write_expected(rows: list[tuple], path: str) -> None:
    cols = list(zip(*rows)) if rows else [[] for _ in SINK_COLUMNS]
    table = pa.table(
        {
            name: pa.array(list(col), type=_ARROW_TYPES[t])
            for (name, t), col in zip(SINK_COLUMNS, cols)
        }
    )
    pq.write_table(table, path)


def committed_files(sink_dir: str) -> list[str]:
    """Data files of a Spark file sink as its metadata log commits them:
    the newest ``N.compact`` plus every later batch file, add minus
    delete.  Files a restarted batch left behind are not in the log."""
    log = os.path.join(sink_dir, "_spark_metadata")
    batches = {}
    for name in os.listdir(log):
        stem = name.removesuffix(".compact")
        if stem.isdigit():
            batches[int(stem)] = name
    compacts = [b for b, n in batches.items() if n.endswith(".compact")]
    first = max(compacts, default=-1)
    files: dict[str, bool] = {}
    for b in sorted(batches):
        if b < first:
            continue
        with open(os.path.join(log, batches[b])) as f:
            for line in f.read().splitlines()[1:]:  # line 0 is the version
                entry = json.loads(line)
                path = unquote(urlparse(entry["path"]).path)
                files[path] = entry["action"] == "add"
    return sorted(p for p, live in files.items() if live)


def sink_stats(files: list[str]) -> dict[str, float]:
    return {
        "files": len(files),
        "bytes": sum(os.path.getsize(p) for p in files),
        "rows": sum(pq.ParquetFile(p).metadata.num_rows for p in files),
    }


def sink_diff(files: list[str], expected_path: str) -> tuple[int, int]:
    """(rows expected but missing, rows present but not expected), both
    as multisets (``EXCEPT ALL``)."""
    cols = ", ".join(f'"{n}"' for n, _ in SINK_COLUMNS)
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW s AS SELECT {cols} FROM read_parquet({files!r})")
        con.execute(f"CREATE VIEW e AS SELECT {cols} FROM read_parquet('{expected_path}')")
        missing = con.execute("SELECT count(*) FROM (SELECT * FROM e EXCEPT ALL SELECT * FROM s)").fetchone()[0]
        extra = con.execute("SELECT count(*) FROM (SELECT * FROM s EXCEPT ALL SELECT * FROM e)").fetchone()[0]
    finally:
        con.close()
    return int(missing), int(extra)


def _norm(v):
    if isinstance(v, Decimal):
        return str(v.normalize())
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def rows_equal(cols_a: list[str], rows_a: list[tuple], cols_b: list[str], rows_b: list[tuple]) -> str | None:
    """None when the two results hold the same rows under the same
    column names (order-insensitive, values normalised), else why not."""
    a_cols = [c.lower() for c in cols_a]
    b_cols = [c.lower() for c in cols_b]
    if sorted(a_cols) != sorted(b_cols):
        return f"columns differ: {sorted(a_cols)} vs {sorted(b_cols)}"
    if len(rows_a) != len(rows_b):
        return f"row counts differ: {len(rows_a)} vs {len(rows_b)}"
    ia = sorted(range(len(a_cols)), key=lambda i: a_cols[i])
    ib = sorted(range(len(b_cols)), key=lambda i: b_cols[i])
    na = sorted((tuple(_norm(r[i]) for i in ia) for r in rows_a), key=repr)
    nb = sorted((tuple(_norm(r[i]) for i in ib) for r in rows_b), key=repr)
    for k, (x, y) in enumerate(zip(na, nb)):
        if x != y:
            return f"sorted row {k} differs: {x} vs {y}"
    return None
