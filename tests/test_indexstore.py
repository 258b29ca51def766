"""Manifest-tracked index store (operators/indexstore.py): committed-
only visibility, atomic compaction, and the refresh key-space pruning
(VERDICT r6 #1/#2, ADVICE r6)."""

import os

import pytest
from pyspark.sql import functions as F

from ksql_streams_from_schema_converter_spark.multimodal import attach_fake_media
from ksql_streams_from_schema_converter_spark.multimodal.index import (
    build_dhash_index,
    compact_dhash_index,
    read_dhash_band_rows,
    refresh_dhash_index,
    retract_from_dhash_index,
)
from ksql_streams_from_schema_converter_spark.operators import indexstore as S
from ksql_streams_from_schema_converter_spark.operators.ann_index import (
    build_ivf_index,
    compact_ivf_index,
    read_cells,
    refresh_ivf_index,
    retract_from_ann_index,
    search_ivf_index,
)
from ksql_streams_from_schema_converter_spark.operators.incremental import (
    build_lsh_index,
    compact_lsh_index,
    read_verdicts,
    refresh_against_index,
    retract_from_index,
)


def _corpus(spark, lo, hi):
    return spark.createDataFrame(
        [
            (i, " ".join(f"w{(i * 7 + k) % 50}" for k in range(12)))
            for i in range(lo, hi)
        ],
        "doc_id long, text string",
    )


def _vec(i, dim=8):
    return [float((i * 31 + d * 7) % 13 - 6) for d in range(dim)]


def _emb(spark, ids):
    return spark.createDataFrame(
        [(i, _vec(i)) for i in ids], "vec_id long, embedding array<double>"
    )


def test_torn_uncommitted_ingest_is_invisible(spark, tmp_path):
    """A directory on disk that never reached its manifest commit —
    the torn-write shape — must be invisible to every reader, and a
    fresh auto label must NOT skip past it (ADVICE r6: label from
    committed count, not directory count)."""
    idx = str(tmp_path / "idx")
    build_lsh_index(_corpus(spark, 0, 40), idx)
    want = sorted(tuple(r) for r in read_verdicts(spark, idx).collect())
    # plant a ghost: postings + verdicts written, commit never happened
    ghost = _corpus(spark, 100, 120)
    from ksql_streams_from_schema_converter_spark.operators.dedup import (
        lsh_band_rows,
    )

    lsh_band_rows(ghost).write.mode("overwrite").partitionBy("band").parquet(
        os.path.join(idx, "bands", "ingest=r000001")
    )
    ghost.select("doc_id", F.lit(True).alias("kept")).write.mode(
        "overwrite"
    ).parquet(os.path.join(idx, "docs", "ingest=r000001"))
    assert S.committed_labels(idx) == ["base"]
    assert sorted(tuple(r) for r in read_verdicts(spark, idx).collect()) == want
    # the auto label for the next refresh REUSES the torn slot
    assert S.next_auto_label(idx) == "r000001"
    out = refresh_against_index(spark, idx, ghost)
    assert S.committed_labels(idx) == ["base", "r000001"]
    assert out.where("phase = 'new'").count() == 20


def test_lsh_compaction_preserves_verdicts_and_refresh(spark, tmp_path):
    """compact N ingests -> 1: verdicts identical before/after, the
    replaced directories are gone, and a FURTHER refresh composes on
    the compacted index exactly as on the uncompacted one."""
    idx = str(tmp_path / "idx")
    build_lsh_index(_corpus(spark, 0, 40), idx)
    refresh_against_index(spark, idx, _corpus(spark, 100, 130))
    refresh_against_index(spark, idx, _corpus(spark, 200, 230))
    before = sorted(tuple(r) for r in read_verdicts(spark, idx).collect())
    manifest_before = S.read_manifest(idx)
    label = compact_lsh_index(spark, idx)
    after = sorted(tuple(r) for r in read_verdicts(spark, idx).collect())
    assert after == before
    assert S.committed_labels(idx) == [label]
    # max_id survives the swap (the monotone guard's input)
    assert S.committed_max_id(idx) == max(
        e["max_id"] for e in manifest_before
    )
    # replaced directories are physically gone — no small-file residue
    assert sorted(os.listdir(os.path.join(idx, "bands"))) == [
        f"ingest={label}"
    ]
    out = refresh_against_index(spark, idx, _corpus(spark, 300, 320))
    assert out.count() == len(before) + 20


def test_lsh_torn_compaction_replay_converges(spark, tmp_path):
    """Crash injected after the compacted data lands but BEFORE the
    manifest swap: the index must read exactly as uncompacted, and a
    re-run of the compaction must converge."""
    idx = str(tmp_path / "idx")
    build_lsh_index(_corpus(spark, 0, 40), idx)
    refresh_against_index(spark, idx, _corpus(spark, 100, 130))
    before = sorted(tuple(r) for r in read_verdicts(spark, idx).collect())

    # simulate the torn attempt: write the compacted dirs by hand with
    # the label compaction would choose, but never swap the manifest
    torn_label = S.next_auto_label(idx, prefix="c")
    postings = S.read_ingests(spark, idx, "bands", S.committed_labels(idx))
    postings.select("doc_id", "band", "key").write.mode("overwrite").partitionBy(
        "band"
    ).parquet(os.path.join(idx, "bands", f"ingest={torn_label}"))
    assert sorted(tuple(r) for r in read_verdicts(spark, idx).collect()) == before

    label = compact_lsh_index(spark, idx)
    assert label == torn_label  # replay overwrote the torn directory
    assert sorted(tuple(r) for r in read_verdicts(spark, idx).collect()) == before


def test_ivf_compaction_search_equivalence_and_torn_replay(spark, tmp_path):
    idx = str(tmp_path / "ivf")
    build_ivf_index(_emb(spark, range(0, 200)), idx, n_cells=4)
    refresh_ivf_index(spark, idx, _emb(spark, range(200, 260)))
    refresh_ivf_index(spark, idx, _emb(spark, range(260, 300)))
    queries = _emb(spark, [7, 42]).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    before = sorted(
        tuple(r)
        for r in search_ivf_index(spark, idx, queries, k=5, nprobe=2).collect()
    )
    # torn attempt: compacted cells land, manifest never swaps
    torn_label = S.next_auto_label(idx, prefix="c")
    cells = S.read_ingests(spark, idx, "cells", S.committed_labels(idx))
    cells.drop("ingest").write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(idx, "cells", f"ingest={torn_label}")
    )
    assert (
        sorted(
            tuple(r)
            for r in search_ivf_index(
                spark, idx, queries, k=5, nprobe=2
            ).collect()
        )
        == before
    )
    label = compact_ivf_index(spark, idx)
    assert label == torn_label
    assert S.committed_labels(idx) == [label]
    after = sorted(
        tuple(r)
        for r in search_ivf_index(spark, idx, queries, k=5, nprobe=2).collect()
    )
    assert after == before


def test_refresh_prunes_stored_scan_to_batch_key_space(spark, tmp_path):
    """VERDICT r6 #1: on a kp-partitioned (corpus-scale layout) index
    the stored-postings side of the refresh join must carry the
    batch's kp set as a PARTITION filter (directory pruning) and the
    batch's keys as a pushed data filter — the scan reads the batch's
    touched key-space, not the whole index."""
    from ksql_streams_from_schema_converter_spark.operators.dedup import (
        lsh_band_rows,
    )
    from ksql_streams_from_schema_converter_spark.operators.incremental import (
        _stored_postings,
        _with_kp,
        pruned_stored_postings,
    )

    idx = str(tmp_path / "idx")
    build_lsh_index(_corpus(spark, 0, 400), idx, kp_split=True)
    new = _corpus(spark, 1000, 1003)  # tiny batch: 3 docs, <=12 keys
    new_bands = _with_kp(lsh_band_rows(new)).localCheckpoint(eager=True)
    pruned = pruned_stored_postings(
        spark, idx, S.committed_labels(idx), new_bands
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    part = plan.split("PartitionFilters")[1].split("]")[0]
    assert "kp" in part, plan  # kp isin reached directory pruning
    pushed = plan.split("PushedFilters")[1].split("]")[0]
    assert "key" in pushed, plan  # key IN-list reached the parquet scan
    # and the pruned stored read physically opens fewer files than the
    # full postings directory holds — the executed scan's numFiles
    # metric, not inputFiles() (which lists the unpruned file index)
    def files_read(df):
        df.collect()
        leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
        total = 0
        for i in range(leaves.length()):
            m = leaves.apply(i).metrics()
            if m.contains("numFiles"):
                total += m.apply("numFiles").value()
        return total

    full = _stored_postings(spark, idx, S.committed_labels(idx), "doc_id")
    n_full = files_read(full)
    n_pruned = files_read(pruned)
    assert 0 < n_pruned < n_full, (n_pruned, n_full)
    # semantics preserved: the full refresh still answers correctly
    out = refresh_against_index(spark, idx, new, append=False)
    assert out.where("phase = 'new'").count() == 3


def test_adaptive_kp_layout_small_ingests_are_band_only(spark, tmp_path):
    """VERDICT r7 #1: a micro-batch ingest must NOT pay the 256-way kp
    directory split (bands×256 near-empty files per ingest was the r7
    bench regression) — below KP_SPLIT_MIN_ROWS the postings partition
    by band alone, the layout is recorded per-ingest in the manifest,
    and mixed-layout indexes read correctly."""
    from ksql_streams_from_schema_converter_spark.operators.incremental import (
        pruned_stored_postings,
        _with_kp,
    )
    from ksql_streams_from_schema_converter_spark.operators.dedup import (
        lsh_band_rows,
    )

    idx = str(tmp_path / "idx")
    build_lsh_index(_corpus(spark, 0, 40), idx)  # auto: small -> band-only
    base_dir = os.path.join(idx, "bands", "ingest=base")
    band_dirs = [d for d in os.listdir(base_dir) if d.startswith("band=")]
    assert band_dirs, os.listdir(base_dir)
    # no kp= sub-directories anywhere under a band-only ingest
    for b in band_dirs:
        assert not any(
            e.startswith("kp=") for e in os.listdir(os.path.join(base_dir, b))
        )
    entry = {e["label"]: e for e in S.read_manifest(idx)}["base"]
    assert entry["kp_split"] is False and entry["rows"] > 0
    # a MIXED-layout index: force the second ingest to kp-split, then
    # verify the pruned read unions both layouts and verdicts stay exact
    from ksql_streams_from_schema_converter_spark.operators import incremental as I

    old = I.KP_SPLIT_MIN_ROWS
    I.KP_SPLIT_MIN_ROWS = 1
    try:
        refresh_against_index(spark, idx, _corpus(spark, 100, 130))
    finally:
        I.KP_SPLIT_MIN_ROWS = old
    entries = {e["label"]: e for e in S.read_manifest(idx)}
    assert entries["r000001"]["kp_split"] is True
    new = _corpus(spark, 1000, 1003)
    new_bands = _with_kp(lsh_band_rows(new)).localCheckpoint(eager=True)
    pruned = pruned_stored_postings(
        spark, idx, S.committed_labels(idx), new_bands
    )
    assert set(pruned.columns) == {"doc_id", "band", "kp", "key"}
    out = refresh_against_index(spark, idx, new)
    assert out.where("phase = 'new'").count() == 3


def test_compaction_rebucks_to_kp_when_combined_size_crosses(spark, tmp_path):
    """Compaction re-decides the layout on the COMBINED row count:
    small band-only ingests graduate to the kp split when the sum
    crosses the threshold (forced here by monkeypatching the
    constant), and verdicts survive the re-bucket."""
    from ksql_streams_from_schema_converter_spark.operators import incremental as I

    idx = str(tmp_path / "idx")
    build_lsh_index(_corpus(spark, 0, 40), idx)
    refresh_against_index(spark, idx, _corpus(spark, 100, 130))
    before = sorted(tuple(r) for r in read_verdicts(spark, idx).collect())
    old = I.KP_SPLIT_MIN_ROWS
    I.KP_SPLIT_MIN_ROWS = 1  # combined count always crosses
    try:
        label = compact_lsh_index(spark, idx)
    finally:
        I.KP_SPLIT_MIN_ROWS = old
    entry = {e["label"]: e for e in S.read_manifest(idx)}[label]
    assert entry["kp_split"] is True
    comp_dir = os.path.join(idx, "bands", f"ingest={label}", "band=0")
    assert any(e.startswith("kp=") for e in os.listdir(comp_dir))
    assert (
        sorted(tuple(r) for r in read_verdicts(spark, idx).collect()) == before
    )
    # and a further refresh composes on the re-bucketed index
    out = refresh_against_index(spark, idx, _corpus(spark, 300, 310))
    assert out.where("phase = 'new'").count() == 10


def test_refresh_pruning_does_one_bounded_collect(spark, tmp_path, monkeypatch):
    """VERDICT r7 #4: the key-space pruning costs ONE driver round-trip
    per refresh — the kp set is derived driver-side from the collected
    key list, never collected separately — and the collect is bounded
    by the pushdown cap."""
    # Spark 4 instantiates pyspark.sql.classic.dataframe.DataFrame
    # (the abstract pyspark.sql.DataFrame never executes collect)
    from pyspark.sql.classic.dataframe import DataFrame

    from ksql_streams_from_schema_converter_spark.operators.dedup import (
        lsh_band_rows,
    )
    from ksql_streams_from_schema_converter_spark.operators.incremental import (
        pruned_stored_postings,
    )

    idx = str(tmp_path / "idx")
    build_lsh_index(_corpus(spark, 0, 100), idx)
    new_bands = lsh_band_rows(_corpus(spark, 1000, 1005)).localCheckpoint(
        eager=True
    )
    calls = []
    orig = DataFrame.collect

    def counting(self):
        calls.append(1)
        return orig(self)

    monkeypatch.setattr(DataFrame, "collect", counting)
    pruned = pruned_stored_postings(
        spark, idx, S.committed_labels(idx), new_bands
    )
    assert len(calls) == 1, f"{len(calls)} driver collects in the pruning path"
    monkeypatch.undo()
    assert pruned.count() >= 0  # the pruned plan still executes


def test_refresh_pruning_over_cap_branch_is_bounded_and_lossless(
    spark, tmp_path, monkeypatch
):
    """ADVICE r8: the over-cap fallback (batch key count exceeds the
    pushdown cap) was unpinned exactly where refreshes are largest.
    Contract asserted here: that branch performs exactly TWO driver
    collects — the capped key sample (cap+1 rows) plus the distinct kp
    set (<= 256 values), both bounded — and its kp-only pruning keeps
    EVERY stored row that could join the batch (lossless relative to
    the exact-key filter)."""
    from pyspark.sql.classic.dataframe import DataFrame

    from ksql_streams_from_schema_converter_spark.operators.dedup import (
        lsh_band_rows,
    )
    from ksql_streams_from_schema_converter_spark.operators.incremental import (
        _stored_postings,
        pruned_stored_postings,
    )

    idx = str(tmp_path / "idx")
    build_lsh_index(_corpus(spark, 0, 100), idx)
    new_bands = lsh_band_rows(_corpus(spark, 1000, 1040)).localCheckpoint(
        eager=True
    )
    n_batch_keys = new_bands.select("key").distinct().count()
    cap = 3
    assert n_batch_keys > cap  # the over-cap branch really triggers
    calls = []
    orig = DataFrame.collect

    def counting(self):
        calls.append(1)
        return orig(self)

    monkeypatch.setattr(DataFrame, "collect", counting)
    pruned = pruned_stored_postings(
        spark,
        idx,
        S.committed_labels(idx),
        new_bands,
        key_pushdown_cap=cap,
    )
    assert len(calls) == 2, (
        f"{len(calls)} driver collects in the over-cap pruning path "
        "(contract: capped key sample + kp distinct)"
    )
    monkeypatch.undo()
    # losslessness: every stored row whose key appears in the batch
    # must survive the kp-only pruning
    batch_keys = {r.key for r in new_bands.select("key").distinct().collect()}
    stored = _stored_postings(spark, idx, S.committed_labels(idx), "doc_id")
    must_keep = sorted(
        tuple(r)
        for r in stored.collect()
        if r.key in batch_keys
    )
    kept = sorted(
        tuple(r) for r in pruned.collect() if r.key in batch_keys
    )
    assert kept == must_keep


def test_compaction_drops_refresh_io_to_single_ingest(spark, tmp_path):
    """VERDICT r7 #7: after refresh cadence accumulates N ingest
    directories, compaction must return the NEXT refresh's stored-side
    scan to single-ingest file counts — and search/verdict results
    must be identical before and after (equivalence, not just cost)."""
    from ksql_streams_from_schema_converter_spark.operators.dedup import (
        lsh_band_rows,
    )
    from ksql_streams_from_schema_converter_spark.operators.incremental import (
        _with_kp,
        pruned_stored_postings,
    )

    idx = str(tmp_path / "idx")
    build_lsh_index(_corpus(spark, 0, 200), idx)
    for j in range(6):
        refresh_against_index(
            spark, idx, _corpus(spark, 1000 + j * 100, 1020 + j * 100)
        )
    before_verdicts = sorted(
        tuple(r) for r in read_verdicts(spark, idx).collect()
    )

    probe = _corpus(spark, 9000, 9010)
    probe_bands = _with_kp(lsh_band_rows(probe)).localCheckpoint(eager=True)

    def files_read(df):
        df.collect()
        leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
        total = 0
        for i in range(leaves.length()):
            m = leaves.apply(i).metrics()
            if m.contains("numFiles"):
                total += m.apply("numFiles").value()
        return total

    n_before = files_read(
        pruned_stored_postings(spark, idx, S.committed_labels(idx), probe_bands)
    )
    label = compact_lsh_index(spark, idx)
    n_after = files_read(
        pruned_stored_postings(spark, idx, S.committed_labels(idx), probe_bands)
    )
    # 7 ingests (base + 6 refreshes) -> 1: the stored-side scan opens a
    # fraction of the files, and exactly one ingest directory remains
    assert n_after < n_before / 2, (n_before, n_after)
    assert sorted(os.listdir(os.path.join(idx, "bands"))) == [f"ingest={label}"]
    assert (
        sorted(tuple(r) for r in read_verdicts(spark, idx).collect())
        == before_verdicts
    )
    # and the next refresh composes on the compacted index
    out = refresh_against_index(spark, idx, probe)
    assert out.where("phase = 'new'").count() == 10


def test_unmanifested_legacy_index_fails_loudly_and_adopts(spark, tmp_path):
    """ADVICE r7: a pre-manifest index (data dirs, no manifest.json)
    must raise a dedicated error on read/refresh — never silently read
    as empty — and adopt_unmanifested_index() migrates it one-shot."""
    import pytest

    from ksql_streams_from_schema_converter_spark.operators.dedup import (
        lsh_band_rows,
    )

    idx = str(tmp_path / "legacy")
    docs = _corpus(spark, 0, 40)
    # the pre-r7 layout: band-partitioned postings + verdicts, NO manifest
    lsh_band_rows(docs).write.partitionBy("band").parquet(
        os.path.join(idx, "bands", "ingest=base")
    )
    docs.select("doc_id", F.lit(True).alias("kept")).write.parquet(
        os.path.join(idx, "docs", "ingest=base")
    )
    with pytest.raises(S.UnmanifestedIndexError, match="adopt"):
        read_verdicts(spark, idx)
    with pytest.raises(S.UnmanifestedIndexError, match="adopt"):
        refresh_against_index(spark, idx, _corpus(spark, 100, 110))
    adopted = S.adopt_unmanifested_index(idx, ("bands", "docs"), max_id=39)
    assert adopted == ["base"]
    assert read_verdicts(spark, idx).count() == 40
    # adopted legacy postings read as band-only (kp recomputed) and a
    # refresh composes on top
    out = refresh_against_index(spark, idx, _corpus(spark, 100, 110))
    assert out.count() == 50
    # second adoption refuses (manifest now exists)
    with pytest.raises(ValueError, match="already has a manifest"):
        S.adopt_unmanifested_index(idx, ("bands", "docs"))


def test_corrupt_manifest_is_a_hard_error(tmp_path):
    idx = str(tmp_path / "idx")
    os.makedirs(idx)
    with open(os.path.join(idx, "manifest.json"), "w") as fh:
        fh.write('{"ingests": [truncated')
    import pytest

    with pytest.raises(ValueError, match="corrupt index manifest"):
        S.read_manifest(idx)


def test_no_driver_globs_in_index_modules():
    """ADVICE r6 / VERDICT r6 #2: ingest discovery is manifest-driven —
    no driver-side directory glob survives in either index module."""
    import inspect

    from ksql_streams_from_schema_converter_spark.operators import (
        ann_index,
        incremental,
    )

    for mod in (ann_index, incremental):
        src = inspect.getsource(mod)
        assert "glob" not in src, mod.__name__


def test_retraction_semantics_end_to_end(spark, tmp_path):
    """retract_from_index contract: retracted ids vanish from
    read_verdicts; a NEW document identical to a retracted one is KEPT
    (the content no longer exists); documents dropped BEFORE the
    retraction stay dropped (append-only history); retraction replay
    is idempotent; a FULL compaction makes the removal physical and
    clears the tombstones."""
    import glob

    from ksql_streams_from_schema_converter_spark.operators.incremental import (
        _stored_postings,
        data_labels,
        retract_from_index,
    )

    idx = str(tmp_path / "idx")
    # content-DISJOINT docs (unlike _corpus's cyclic vocab): a copy can
    # only ever match its own original, so the keep/drop expectations
    # below are unambiguous
    base = spark.createDataFrame(
        [
            (i, " ".join(f"d{i}w{k}" for k in range(12)))
            for i in range(40)
        ],
        "doc_id long, text string",
    )
    build_lsh_index(base, idx)
    # batch 1: exact copies of docs 0..4 -> all dropped against base
    dup1 = base.where(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 100).alias("doc_id"), "text"
    )
    refresh_against_index(spark, idx, dup1, full_output=False)
    v1 = {r.doc_id: r.kept for r in read_verdicts(spark, idx).collect()}
    assert all(not v1[100 + i] for i in range(5))

    # retract the originals 0..4 (and their copies 100..104: content
    # removal means every stored instance of it)
    t1 = retract_from_index(
        spark, idx, list(range(5)) + list(range(100, 105))
    )
    v2 = {r.doc_id: r.kept for r in read_verdicts(spark, idx).collect()}
    assert not any(i in v2 for i in range(5))
    assert not any(100 + i in v2 for i in range(5))
    # every non-retracted verdict is exactly what it was
    assert v2 == {i: k for i, k in v1.items() if i not in {*range(5), *range(100, 105)}}

    # batch 2: fresh copies of the retracted content -> KEPT now
    dup2 = base.where(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 200).alias("doc_id"), "text"
    )
    refresh_against_index(spark, idx, dup2, full_output=False)
    v3 = {r.doc_id: r.kept for r in read_verdicts(spark, idx).collect()}
    assert all(v3[200 + i] for i in range(5))
    # ...but a copy of NON-retracted content still drops
    dup3 = base.where((F.col("doc_id") >= 5) & (F.col("doc_id") < 8)).select(
        (F.col("doc_id") + 300).alias("doc_id"), "text"
    )
    refresh_against_index(spark, idx, dup3, full_output=False)
    v4 = {r.doc_id: r.kept for r in read_verdicts(spark, idx).collect()}
    assert all(not v4[300 + i] for i in range(5, 8))

    # idempotent replay: re-committing the SAME label replaces its
    # entry (one tombstone ingest, not two) and reads are unchanged
    v_before_replay = sorted(
        tuple(r) for r in read_verdicts(spark, idx).collect()
    )
    t1b = retract_from_index(
        spark, idx, list(range(5)) + list(range(100, 105)), label=t1
    )
    assert t1b == t1
    entries = [
        e for e in S.read_manifest(idx) if e.get("kind") == "tombstone"
    ]
    assert [e["label"] for e in entries] == [t1]
    assert (
        sorted(tuple(r) for r in read_verdicts(spark, idx).collect())
        == v_before_replay
    )

    # FULL compaction: physical removal + tombstones cleared
    before = sorted(tuple(r) for r in read_verdicts(spark, idx).collect())
    compact_lsh_index(spark, idx)
    assert [
        e for e in S.read_manifest(idx) if e.get("kind") == "tombstone"
    ] == []
    after = sorted(tuple(r) for r in read_verdicts(spark, idx).collect())
    assert after == before
    stored = _stored_postings(spark, idx, data_labels(idx), "doc_id")
    ids_in_postings = {
        r.doc_id for r in stored.select("doc_id").distinct().collect()
    }
    assert not ids_in_postings & ({*range(5)} | {*range(100, 105)})
    assert not glob.glob(os.path.join(idx, "tombstones", "ingest=*"))


def test_ann_retraction_vanishes_from_search_and_compaction(spark, tmp_path):
    """retract_from_ann_index: retracted vectors leave every search
    result (survivors shift up, top-k stays full), the frozen
    quantizer is untouched, and a FULL compaction makes the removal
    physical and clears the tombstones."""
    import glob

    from ksql_streams_from_schema_converter_spark.operators.ann_index import (
        load_centroids,
        read_cells,
        retract_from_ann_index,
        search_ivf_index,
    )

    idx = str(tmp_path / "ivf")
    build_ivf_index(_emb(spark, range(0, 200)), idx, n_cells=4)
    queries = _emb(spark, [7, 42]).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    before = search_ivf_index(spark, idx, queries, k=5, nprobe=4).collect()
    # retract each query's rank-1 neighbor
    top = {r.query_id: r.neighbor_id for r in before if r.rank == 1}
    cents_before = load_centroids(spark, idx)
    retract_from_ann_index(spark, idx, sorted(set(top.values())))
    after = search_ivf_index(spark, idx, queries, k=5, nprobe=4).collect()
    got_ids = {r.neighbor_id for r in after}
    assert not (set(top.values()) & got_ids)
    # k results still returned from the survivors, in the same order
    for qid in (7, 42):
        assert sorted(r.rank for r in after if r.query_id == qid) == [1, 2, 3, 4, 5]
        old_rest = [
            r.neighbor_id
            for r in sorted(before, key=lambda r: r.rank)
            if r.query_id == qid and r.neighbor_id not in set(top.values())
        ]
        new_order = [
            r.neighbor_id
            for r in sorted(after, key=lambda r: r.rank)
            if r.query_id == qid
        ]
        assert new_order[: len(old_rest)] == old_rest
    # frozen quantizer untouched
    assert load_centroids(spark, idx) == cents_before
    # full compaction: physical removal + tombstones cleared
    compact_ivf_index(spark, idx)
    assert [
        e for e in S.read_manifest(idx) if e.get("kind") == "tombstone"
    ] == []
    ids_left = {
        r.vec_id
        for r in read_cells(spark, idx).select("vec_id").distinct().collect()
    }
    assert not (set(top.values()) & ids_left)
    assert len(ids_left) == 200 - len(set(top.values()))
    assert not glob.glob(os.path.join(idx, "tombstones", "ingest=*"))
    final = search_ivf_index(spark, idx, queries, k=5, nprobe=4).collect()
    assert sorted(map(tuple, final)) == sorted(map(tuple, after))


def test_retraction_antijoin_preserves_key_space_pruning(spark, tmp_path):
    """The tombstone anti-join sits ABOVE the stored-postings scan;
    Catalyst must still push the kp partition filter and the key
    IN-list THROUGH it into the parquet scan — retraction cannot cost
    the index its key-space pruning (VERDICT r6 #1)."""
    from ksql_streams_from_schema_converter_spark.operators.dedup import (
        lsh_band_rows,
    )
    from ksql_streams_from_schema_converter_spark.operators.incremental import (
        _with_kp,
        pruned_stored_postings,
        retract_from_index,
    )

    idx = str(tmp_path / "idx")
    build_lsh_index(_corpus(spark, 0, 400), idx, kp_split=True)
    retract_from_index(spark, idx, range(10))
    new = _corpus(spark, 1000, 1003)
    new_bands = _with_kp(lsh_band_rows(new)).localCheckpoint(eager=True)
    from ksql_streams_from_schema_converter_spark.operators.incremental import (
        data_labels,
    )

    pruned = pruned_stored_postings(spark, idx, data_labels(idx), new_bands)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    part = plan.split("PartitionFilters")[1].split("]")[0]
    assert "kp" in part, plan
    pushed = plan.split("PushedFilters")[1].split("]")[0]
    assert "key" in pushed, plan
    # and the retracted ids are really gone from the pruned read
    ids = {r.doc_id for r in pruned.select("doc_id").distinct().collect()}
    assert not (ids & set(range(10)))


def test_as_of_read_is_a_true_snapshot(spark, tmp_path):
    """read_verdicts(as_of=label): later ingests AND later tombstones
    are invisible — the snapshot equals what read_verdicts returned at
    that commit; unknown labels fail loudly."""
    import pytest

    from ksql_streams_from_schema_converter_spark.operators.incremental import (
        retract_from_index,
    )

    idx = str(tmp_path / "idx")
    build_lsh_index(_corpus(spark, 0, 40), idx)
    at_base = sorted(tuple(r) for r in read_verdicts(spark, idx).collect())
    refresh_against_index(
        spark, idx, _corpus(spark, 100, 120), ingest_label="r1"
    )
    at_r1 = sorted(tuple(r) for r in read_verdicts(spark, idx).collect())
    retract_from_index(spark, idx, range(5), label="t1")
    refresh_against_index(
        spark, idx, _corpus(spark, 200, 210), ingest_label="r2"
    )
    # snapshots: base excludes r1/r2 AND the later tombstone; r1
    # includes the retracted docs (they were live at that commit)
    assert (
        sorted(tuple(r) for r in read_verdicts(spark, idx, as_of="base").collect())
        == at_base
    )
    assert (
        sorted(tuple(r) for r in read_verdicts(spark, idx, as_of="r1").collect())
        == at_r1
    )
    # as-of the tombstone: r1 data minus the retracted ids
    at_t1 = {r.doc_id for r in read_verdicts(spark, idx, as_of="t1").collect()}
    assert at_t1 == {r[0] for r in at_r1} - set(range(5))
    # the live head sees r2 and the retraction
    live = {r.doc_id for r in read_verdicts(spark, idx).collect()}
    assert live == ({r[0] for r in at_r1} | set(range(200, 210))) - set(range(5))
    with pytest.raises(ValueError, match="not committed"):
        read_verdicts(spark, idx, as_of="nope")


def test_no_append_full_output_subtracts_tombstones(spark, tmp_path):
    """ADVICE r9 (medium): refresh_against_index(append=False,
    full_output=True) reads prior verdicts directly — retracted ids
    must NOT reappear with phase 'old' (the retract_from_index
    'gone from every read' contract)."""
    from ksql_streams_from_schema_converter_spark.operators.incremental import (
        retract_from_index,
    )

    idx = str(tmp_path / "idx")
    build_lsh_index(_corpus(spark, 0, 40), idx)
    retract_from_index(spark, idx, range(5))
    out = refresh_against_index(
        spark, idx, _corpus(spark, 100, 110), append=False, full_output=True
    )
    rows = {r.doc_id: r.phase for r in out.collect()}
    assert not any(i in rows for i in range(5))
    assert all(rows[i] == "old" for i in range(5, 40))
    assert all(rows[i] == "new" for i in range(100, 110))


def test_ann_index_custom_id_col_roundtrip(spark, tmp_path):
    """ADVICE r9 (low): an IVF index built with a non-default id_col
    must survive search, retraction, and compaction — read_cells and
    compact_ivf_index must use the caller's id column, never the
    'vec_id' literal."""
    from ksql_streams_from_schema_converter_spark.operators.ann_index import (
        read_cells,
        retract_from_ann_index,
    )

    idx = str(tmp_path / "ivf_custom")
    emb = _emb(spark, range(0, 60)).withColumnRenamed("vec_id", "item_id")
    build_ivf_index(emb, idx, n_cells=4, id_col="item_id")
    queries = _emb(spark, [7]).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    before = search_ivf_index(
        spark, idx, queries, k=5, nprobe=4, id_col="item_id"
    ).collect()
    assert sorted(r.rank for r in before) == [1, 2, 3, 4, 5]
    gone = before[0].neighbor_id
    retract_from_ann_index(spark, idx, [gone], id_col="item_id")
    after = search_ivf_index(
        spark, idx, queries, k=5, nprobe=4, id_col="item_id"
    ).collect()
    assert gone not in {r.neighbor_id for r in after}
    compact_ivf_index(spark, idx, id_col="item_id")
    ids_left = {
        r.item_id
        for r in read_cells(spark, idx, id_col="item_id")
        .select("item_id")
        .distinct()
        .collect()
    }
    assert gone not in ids_left and len(ids_left) == 59
    final = search_ivf_index(
        spark, idx, queries, k=5, nprobe=4, id_col="item_id"
    ).collect()
    assert sorted(map(tuple, final)) == sorted(map(tuple, after))


def _media(spark, lo, hi):
    rows = [
        (i, f"payload {i} " + "".join(chr(97 + (i * 7 + j * j) % 26) for j in range(80)))
        for i in range(lo, hi)
    ]
    return attach_fake_media(spark.createDataFrame(rows, "doc_id long, text string"))


@pytest.mark.parametrize("family", ["lsh", "dhash"])
def test_compaction_keeps_monotone_guard_after_retracting_max_id(
    spark, tmp_path, family
):
    """The compacted entry's ``max_id`` is the max over the replaced
    manifest entries, never recomputed from the surviving rows: after
    retracting the highest id and compacting, a refresh re-using that
    id is still rejected, exactly as before the compaction."""
    if family == "lsh":
        build, refresh, retract, compact_ = (
            build_lsh_index,
            refresh_against_index,
            retract_from_index,
            compact_lsh_index,
        )
        rows = _corpus
    else:
        build, refresh, retract, compact_ = (
            build_dhash_index,
            refresh_dhash_index,
            retract_from_dhash_index,
            compact_dhash_index,
        )
        rows = _media
    idx = str(tmp_path / family)
    build(rows(spark, 0, 30), idx)
    retract(spark, idx, [29])
    with pytest.raises(ValueError, match="non-monotone refresh"):
        refresh(spark, idx, rows(spark, 29, 32))
    compact_(spark, idx)
    assert S.committed_max_id(idx) == 29
    assert not S.visible_labels(idx)[1]  # the tombstone was cleared
    with pytest.raises(ValueError, match="non-monotone refresh"):
        refresh(spark, idx, rows(spark, 29, 32))
    refresh(spark, idx, rows(spark, 30, 32))  # a fresh id still ingests


def test_tombstone_driver_read_threshold_both_sides(spark, tmp_path, monkeypatch):
    """Below ``TOMBSTONE_DRIVER_READ_MAX`` the tombstones are read on
    the driver and anti-joined as a LocalRelation; at 0 every list
    takes the distributed tombstone scan.  Both sides return the same
    rows for all three index families."""
    lsh, ivf, dh = (str(tmp_path / n) for n in ("lsh", "ivf", "dh"))
    build_lsh_index(_corpus(spark, 0, 40), lsh)
    retract_from_index(spark, lsh, [3, 7])
    build_ivf_index(_emb(spark, range(60)), ivf, n_cells=4)
    retract_from_ann_index(spark, ivf, [3, 7])
    build_dhash_index(_media(spark, 0, 20), dh)
    retract_from_dhash_index(spark, dh, [3, 7])
    reads = [
        (read_verdicts, lsh, "doc_id"),
        (read_cells, ivf, "vec_id"),
        (read_dhash_band_rows, dh, "doc_id"),
    ]

    def snapshot():
        out = []
        for read, idx, id_col in reads:
            df = read(spark, idx, id_col)
            plan = df._jdf.queryExecution().executedPlan().toString()
            rows = sorted(tuple(r) for r in df.collect())
            assert not {r[id_col] for r in df.select(id_col).collect()} & {3, 7}
            out.append((rows, plan.count("FileScan")))
        return out

    local = snapshot()
    monkeypatch.setattr(S, "TOMBSTONE_DRIVER_READ_MAX", 0)
    distributed = snapshot()
    for (rows_l, scans_l), (rows_d, scans_d) in zip(local, distributed):
        assert rows_l == rows_d
        # each side really took its branch: the distributed side adds
        # the tombstone file scan to the data scan
        assert (scans_l, scans_d) == (1, 2)


def _kmeans_save(spark, d, seq):
    from ksql_streams_from_schema_converter_spark.operators.clustering import (
        save_kmeans_model,
    )

    model = spark.createDataFrame(
        [("f", 0, 1, [1, 2])],
        "level string, cluster bigint, sc bigint, c array<bigint>",
    )
    return save_kmeans_model(spark, d, model, seq)


def _loaders():
    from ksql_streams_from_schema_converter_spark.operators import (
        bpe,
        clustering,
        langid,
        quality,
        text,
        unigram,
        wordpiece,
    )

    return {
        "kmeans": (_kmeans_save, clustering.load_kmeans_model),
        "bpe": (
            lambda spark, d, seq: bpe.save_bpe_merges(spark, d, ["a b"], seq),
            bpe.load_bpe_merges,
        ),
        "wordpiece": (
            lambda spark, d, seq: wordpiece.save_wordpiece_vocab(spark, d, {"a"}, seq),
            wordpiece.load_wordpiece_vocab,
        ),
        "unigram": (
            lambda spark, d, seq: unigram.save_unigram_vocab(spark, d, {"a": 1}, seq),
            unigram.load_unigram_vocab,
        ),
        "langid": (
            lambda spark, d, seq: langid.save_langid_weights(
                spark, d, {"en": {0: 1}}, seq
            ),
            langid.load_langid_weights,
        ),
        "quality": (
            lambda spark, d, seq: quality.save_quality_weights(spark, d, {0: 1}, seq),
            quality.load_quality_weights,
        ),
        "bigram_lm": (
            lambda spark, d, seq: text.save_bigram_lm(
                spark,
                d,
                spark.createDataFrame(
                    [("uni", "a", "", 1)], "kind string, w1 string, w2 string, c long"
                ),
                seq,
            ),
            text.load_bigram_lm,
        ),
    }


@pytest.mark.parametrize(
    "name",
    ["kmeans", "bpe", "wordpiece", "unigram", "langid", "quality", "bigram_lm"],
)
def test_versioned_loaders_resolve_through_one_lookup(spark, tmp_path, name):
    """Every trained-artifact loader resolves its version through
    ``indexstore.resolve_version``: an empty store and an unknown
    ``seq`` raise, and no ``seq`` picks the highest one (not the last
    committed)."""
    save, load = _loaders()[name]
    d = str(tmp_path / name)
    with pytest.raises(ValueError, match="no committed"):
        load(spark, d)
    labels = {seq: save(spark, d, seq) for seq in (1, 3, 2)}
    assert load(spark, d)[1] == labels[3]
    assert load(spark, d, seq=1)[1] == labels[1]
    with pytest.raises(ValueError, match="seq=7"):
        load(spark, d, seq=7)


def test_as_of_labels_resolve_in_one_place(tmp_path):
    """``visible_labels`` is the one as-of resolver: the manifest
    prefix ending at the label, split into data and tombstone labels;
    an unknown label fails loudly."""
    idx = str(tmp_path / "idx")
    S.commit_ingest(idx, "base", max_id=9)
    S.commit_ingest(idx, "t1", kind="tombstone")
    S.commit_ingest(idx, "r1", max_id=19)
    assert S.visible_labels(idx) == (["base", "r1"], ["t1"])
    assert S.visible_labels(idx, "base") == (["base"], [])
    assert S.visible_labels(idx, "t1") == (["base"], ["t1"])
    with pytest.raises(ValueError, match="not committed"):
        S.visible_labels(idx, "nope")
