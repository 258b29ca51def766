"""The ``lifecycle_gates`` workload: a fixed set of ``workload.WORKLOAD``
gates, each a driver-orchestrated chain of many small Spark jobs, over
a seeded ``embeddings`` table; each result must equal its DuckDB
oracle over the same file."""

from __future__ import annotations

import os
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from ksql_streams_from_schema_converter_spark.workload import WORKLOAD

import check
from sparkstats import JobWindow, median

#: the gate set: train a two-level k-means, commit two versions to the
#: manifest store, load one back by sequence number, prune under it
GATES = ("kmeans_lifecycle",)
WARM_PASSES = 2
EMB_ROWS, EMB_DIMS, EMB_CLUSTERS = 500, 64, 10


def make_embeddings(seed: int, path: str) -> None:
    """Unit-norm float32 vectors around :data:`EMB_CLUSTERS` seeded
    centres, in the layout of the engine's ``embeddings`` table."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(EMB_CLUSTERS, EMB_DIMS))
    labels = rng.integers(0, EMB_CLUSTERS, size=EMB_ROWS)
    vecs = centres[labels] + 0.6 * rng.normal(size=(EMB_ROWS, EMB_DIMS))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(EMB_ROWS, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    pq.write_table(table, path)


class GateRun:
    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.data = os.path.join(work, "data")
        os.makedirs(self.data)
        make_embeddings(seed, os.path.join(self.data, "embeddings.parquet"))
        self.gates = {g: WORKLOAD[g] for g in GATES}
        self.results: list[dict[str, tuple[list[str], list[tuple]]]] = []
        self.passes: list[dict] = []

    def one_pass(self, traced: bool) -> dict:
        out: dict = {"gates": {}}
        results = {}
        whole = JobWindow(self.spark) if traced else None
        if whole:
            whole.start()
        t0 = time.perf_counter()
        for name, (fn, _) in self.gates.items():
            win = JobWindow(self.spark) if traced else None
            if win:
                win.start()
            t = time.perf_counter()
            df = fn(self.spark, self.data)
            rows = [tuple(r) for r in df.collect()]
            wall = time.perf_counter() - t
            results[name] = (df.columns, rows)
            out["gates"][name] = {"wall_s": wall, **(win.stop() if win else {})}
        out["wall_s"] = time.perf_counter() - t0
        out["spark"] = whole.stop() if whole else {}
        self.results.append(results)
        return out

    def warm_up(self) -> None:
        for _ in range(WARM_PASSES):
            self.one_pass(traced=False)

    def measure(self, seconds: float, traced: bool) -> tuple[dict, dict]:
        t0 = time.perf_counter()
        while True:
            self.passes.append(self.one_pass(traced))
            if time.perf_counter() - t0 >= seconds:
                break
        elapsed = time.perf_counter() - t0
        rows_in = EMB_ROWS * len(self.gates) * len(self.passes)
        e2e = {
            "records_per_s": rows_in / elapsed,
            "pass_s": median([p["wall_s"] for p in self.passes]),
        }
        layers: dict[str, list[float]] = {}
        for p in self.passes:
            for k, v in p["spark"].items():
                layers.setdefault(f"spark.{k}", []).append(v)
            if traced:
                for g, stats in p["gates"].items():
                    for k in ("wall_s", "jobs", "driver_gap_ms"):
                        layers.setdefault(f"gate.{g}.{k}", []).append(stats[k])
        return e2e, layers

    def check_all(self) -> dict[str, list[float]]:
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{self.data}/embeddings.parquet')")
            for name, (_, oracle_sql) in self.gates.items():
                cur = con.execute(oracle_sql)
                o_cols = [d[0] for d in cur.description]
                o_rows = cur.fetchall()
                for i, res in enumerate(self.results):
                    why = check.rows_equal(*res[name], o_cols, o_rows)
                    if why:
                        raise AssertionError(f"gate {name} pass {i}: {why}")
        finally:
            con.close()
        return {}
