"""Driver-held k-means state: the coarse Lloyd's memory bound, both
sides of the artifact-IO cap, legacy stores with empty super-cells,
and job-count ceilings for the k-means calls."""

import random
import tracemalloc

import pytest

from ksql_streams_from_schema_converter_spark.operators import clustering
from ksql_streams_from_schema_converter_spark.operators.clustering import (
    _coarse_lloyd_py,
    assign_frozen,
    kmeans_fit,
    kmeans_fixed_point,
    kmeans_two_level,
    kmeans_two_level_fit,
    load_kmeans_model,
    quantize_points,
    save_kmeans_model,
)
from ksql_streams_from_schema_converter_spark.sources.parquet import load_table
from ksql_streams_from_schema_converter_spark.workload import WORKLOAD

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark):
    return load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _coarse_lloyd_reference(cpts, kc, nc_iter):
    """Plain-Python replay of the coarse recurrence: nearest seed by
    ``min((dist, sc))``, truncate-toward-zero integer means, empty
    super-cells keep their centroid."""
    ordered = sorted(cpts, key=lambda t: t[0])
    cc = [list(q) for _, q in ordered[:kc]]
    for j in range(nc_iter):
        assign = [
            min(
                (sum((a - b) ** 2 for a, b in zip(q, c)), sc)
                for sc, c in enumerate(cc)
            )[1]
            for _, q in ordered
        ]
        if j == nc_iter - 1:
            break
        for sc in set(assign):
            members = [q for (_, q), a in zip(ordered, assign) if a == sc]
            n = len(members)
            sums = [sum(col) for col in zip(*members)]
            cc[sc] = [s // n if s >= 0 else -(-s // n) for s in sums]
    return (
        [(cpid, sc) for (cpid, _), sc in zip(ordered, assign)],
        list(enumerate(cc)),
    )


def test_coarse_lloyd_matches_reference_with_ties():
    """Duplicated centroids and a tiny coordinate range force distance
    ties; every tie must go to the smallest super-cell."""
    rng = random.Random(7)
    base = [[rng.randint(-3, 3) for _ in range(4)] for _ in range(12)]
    cpts = [(cpid, list(base[cpid % 12])) for cpid in range(40)]
    rng.shuffle(cpts)
    for kc, nc_iter in ((3, 1), (5, 3), (12, 2)):
        assert _coarse_lloyd_py(cpts, kc, nc_iter) == _coarse_lloyd_reference(
            cpts, kc, nc_iter
        )


def test_coarse_lloyd_peak_memory_is_linear_in_k():
    """At k=4000, kc=64, dim=64 a (k, kc, dim) int64 temporary alone is
    131 MB; the running argmin keeps the peak at O(k·dim)."""
    rng = random.Random(11)
    k, kc, dim = 4000, 64, 64
    cpts = [
        (i, [rng.randint(-1_000_000, 1_000_000) for _ in range(dim)])
        for i in range(k)
    ]
    tracemalloc.start()
    try:
        _coarse_lloyd_py(cpts, kc, 2)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 32 * 2**20, f"peak {peak / 2**20:.1f} MB"


@pytest.fixture(scope="module")
def models(spark):
    emb = _emb(spark)
    return {
        "single": kmeans_fit(emb, k=4, n_iter=2),
        "two_level": kmeans_two_level_fit(emb, k=8, kc=3, n_iter=2, nc_iter=2),
    }


@pytest.mark.parametrize("kind", ["single", "two_level"])
def test_artifact_io_cap_both_sides(spark, models, tmp_path, monkeypatch, kind):
    """A model saved and loaded above KM_STATE_CAP (distributed write
    and read) returns the same rows, label and two_level flag as the
    driver-side path."""
    model = models[kind]
    driver_store = str(tmp_path / "driver")
    save_kmeans_model(spark, driver_store, model, seq=0)
    want = load_kmeans_model(spark, driver_store)
    monkeypatch.setattr(clustering, "KM_STATE_CAP", 0)
    dist_store = str(tmp_path / "distributed")
    assert save_kmeans_model(spark, dist_store, model, seq=0) == "km0"
    got = load_kmeans_model(spark, dist_store)
    assert got[1:] == want[1:] == ("km0", kind == "two_level")
    assert _rows(got[0]) == _rows(want[0]) == _rows(model)


@pytest.mark.parametrize("cap", [clustering.KM_STATE_CAP, 0])
def test_legacy_store_drops_unrouted_coarse_rows(
    spark, models, tmp_path, monkeypatch, cap
):
    """Stores saved before models kept only non-empty super-cells may
    hold coarse rows no fine centroid routes to.  One placed exactly on
    a point would capture that point's routing, leaving it no in-cell
    candidates; after loading, the model assigns every point exactly as
    the fitted model does."""
    monkeypatch.setattr(clustering, "KM_STATE_CAP", cap)
    emb = _emb(spark)
    model = models["two_level"]
    q = quantize_points(emb).orderBy("pid").first()["q"]
    stray = spark.createDataFrame(
        [("c", None, 99, list(q))],
        "level string, cluster bigint, sc bigint, c array<bigint>",
    )
    store = str(tmp_path / "legacy")
    save_kmeans_model(spark, store, model.unionByName(stray), seq=0)
    loaded, _, two_level = load_kmeans_model(spark, store)
    assert two_level
    assert _rows(loaded) == _rows(model)
    assert _rows(assign_frozen(emb, loaded, two_level=True)) == _rows(
        assign_frozen(emb, model)
    )


#: Spark jobs per call, result collect included, at sf0.001 (AQE may
#: lower a count; a rise means a scheduling regression)
JOB_CEILINGS = {
    "kmeans_fixed_point": 9,
    "kmeans_two_level": 11,
    "semdedup_two_level": 18,
    "kmeans_lifecycle": 23,
}

_CALLS = {
    "kmeans_fixed_point": lambda s: kmeans_fixed_point(_emb(s), k=4, n_iter=2),
    "kmeans_two_level": lambda s: kmeans_two_level(_emb(s), k=16, kc=4),
    "semdedup_two_level": lambda s: WORKLOAD["semdedup_two_level"][0](s, SF_DIR),
    "kmeans_lifecycle": lambda s: WORKLOAD["kmeans_lifecycle"][0](s, SF_DIR),
}


@pytest.mark.parametrize("name", sorted(JOB_CEILINGS))
def test_kmeans_job_ceiling(spark, name):
    sc = spark.sparkContext
    group = f"job-ceiling-{name}"
    sc.setJobGroup(group, name)
    try:
        _CALLS[name](spark).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs <= JOB_CEILINGS[name], f"{name}: {jobs} jobs"
