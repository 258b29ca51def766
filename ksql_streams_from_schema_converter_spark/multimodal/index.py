"""Persisted perceptual-signature index for binary media — the dedup
(operators/incremental.py) and ANN (operators/ann_index.py) governance
discipline applied to the multimodal family (VERDICT r10 #2).

The r8 near-dup operators (binary.py:271-424) recompute dHash
signatures per query; at real cadence the signatures are an INDEX: a
media corpus signs once, new batches sign only themselves and trade
banded buckets against the store, and GDPR retraction / as-of time
travel must hold on the persisted artifact exactly as they do for the
LSH-postings and IVF-PQ stacks.

Layout: ``signatures/ingest=<label>/band=<b>/`` holds one row per
(media id, band) — the 16-bit band value ``v`` is the LSH bucket key,
and the FULL 4-band signature (h0..h3) rides on every row so the
Hamming verify after a bucket join is a map-side expression (the
near_dup_pairs discipline — no re-join against a signature table).
Visibility, retraction, full compaction and as-of reads follow the
segment-index contract in operators/indexstore.py.

Scale: signatures are 4 ints per media row (KBs per million items per
band); refresh signs only the batch (one Arrow pass) and its bucket
trade joins band-partition-pruned stored postings; retraction is a
KB-sized broadcast anti-join; as-of reads resolve a manifest prefix —
zero data copies.  Reference parity: the reference repo has no media
plane; this mirrors its persisted-template discipline
(controllers/index.js:611-615) at the index layer instead.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.indexstore import (
    commit_ingest,
    compact,
    next_auto_label,
    read_visible,
    require_manifested,
    require_monotone,
    retract_ids,
)
from .binary import _check_banding_exact, perceptual_dhash

#: store subdirectory for signature band postings
SIG_SUB = "signatures"
#: the base (build-time) ingest label
_BASE = "base"


def _sig_band_rows(media: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """``(id, h0..h3, band, v)`` — each media row becomes 4 band rows
    keyed by its 16-bit band value, carrying the full signature.
    ``perceptual_dhash``'s Arrow kernel is pinned to the ``doc_id``
    column name, so a non-default ``id_col`` is renamed around it
    (ADVICE r11 — the parameter used to fail inside the kernel)."""
    if id_col != "doc_id":
        if "doc_id" in media.columns:
            raise ValueError(
                f"id_col={id_col!r} with a 'doc_id' column also present "
                "is ambiguous — rename one"
            )
        media = media.withColumnRenamed(id_col, "doc_id")
    hashes = perceptual_dhash(media)
    return hashes.select(
        F.col("doc_id").alias(id_col),
        *[F.col(f"h{i}") for i in range(4)],
        F.posexplode(F.array("h0", "h1", "h2", "h3")).alias("band", "v"),
    )


def _write_sigs(rows: DataFrame, index_dir: str, label: str) -> None:
    """One ingest directory, partitioned by ``band`` and sorted by the
    bucket value ``v`` (row-group skipping for bucket point-lookups)."""
    (
        rows.sortWithinPartitions("band", "v")
        .write.mode("overwrite")
        .partitionBy("band")
        .parquet(os.path.join(index_dir, SIG_SUB, f"ingest={label}"))
    )


def build_dhash_index(
    media: DataFrame, index_dir: str, id_col: str = "doc_id"
) -> None:
    """One-time signature build over the existing media corpus:
    persist band postings and publish with one atomic manifest commit.
    Idempotent — a replayed build overwrites ``ingest=base`` and
    re-commits."""
    rows = _sig_band_rows(media, id_col).localCheckpoint(eager=True)
    _write_sigs(rows, index_dir, _BASE)
    stats = rows.agg(
        F.max(id_col).alias("mx"), (F.count("*") / 4).cast("long").alias("n")
    ).head()
    commit_ingest(index_dir, _BASE, max_id=stats["mx"], rows=stats["n"])


def refresh_dhash_index(
    spark: SparkSession,
    index_dir: str,
    new_media: DataFrame,
    id_col: str = "doc_id",
    ingest_label: str | None = None,
    check_monotone: bool = True,
) -> str:
    """Sign a NEW media batch (one Arrow pass over the batch only —
    stored media never re-signs) and append it as its own ingest:
    label-scoped overwrite + one atomic manifest commit, so an
    at-least-once caller passing a stable label (foreachBatch batch id)
    converges under redelivery.  Returns the label.

    ``check_monotone`` enforces the same monotone-ingest contract as
    the dedup stack's ``refresh_against_index`` (ADVICE r11 — the
    manifest records ``max_id`` per entry; without the guard a batch
    re-ingesting already-stored ids under a NEW label silently
    duplicates signature rows and inflates ``read_dhash_signatures``
    counts).  The current label is excluded so a replayed batch never
    trips on its own half-written first attempt.  The guard runs
    BEFORE the parquet write (ADVICE r12: the batch's min/max come
    from the checkpointed rows, so a rejected batch leaves no orphan
    uncommitted ingest directory on disk)."""
    label = ingest_label or next_auto_label(index_dir)
    require_manifested(index_dir, SIG_SUB, allow={label})
    rows = _sig_band_rows(new_media, id_col).localCheckpoint(eager=True)
    lo, mx, n = rows.agg(
        F.min(id_col), F.max(id_col), (F.count("*") / 4).cast("long")
    ).head()
    if check_monotone:
        require_monotone(index_dir, label, lo, id_col)
    _write_sigs(rows, index_dir, label)
    commit_ingest(index_dir, label, max_id=mx, rows=n)
    return label


def retract_from_dhash_index(
    spark: SparkSession,
    index_dir: str,
    ids,
    id_col: str = "doc_id",
    label: str | None = None,
) -> str:
    """GDPR-style removal of media ids (indexstore.retract_ids): the
    retracted media leave signature reads, in-index pair discovery and
    probe searches.  Returns the label."""
    return retract_ids(spark, index_dir, SIG_SUB, ids, id_col, label)


def read_dhash_band_rows(
    spark: SparkSession,
    index_dir: str,
    id_col: str = "doc_id",
    as_of: str | None = None,
) -> DataFrame:
    """The visible band postings ``(id, h0..h3, band, v)`` at the head
    or ``as_of`` a committed label (indexstore.read_visible; band
    pruning surviving retraction is plan-guarded by
    tests/test_multimodal_index.py)."""
    return read_visible(spark, index_dir, SIG_SUB, id_col, as_of)


def read_dhash_signatures(
    spark: SparkSession,
    index_dir: str,
    id_col: str = "doc_id",
    as_of: str | None = None,
) -> DataFrame:
    """One signature row ``(id, h0..h3)`` per visible media item —
    read from the ``band=0`` partition only (every band row carries the
    full signature, so one partition IS the signature table and the
    scan reads 1/4 of the store)."""
    return (
        read_dhash_band_rows(spark, index_dir, id_col, as_of)
        .where(F.col("band") == 0)
        .select(id_col, "h0", "h1", "h2", "h3")
    )


def _verified_pairs(a: DataFrame, b: DataFrame, max_hamming: int) -> DataFrame:
    """Bucket-join ``a`` and ``b`` on (band, v) and Hamming-verify from
    the carried signatures — the near_dup_pairs core over two arbitrary
    band-row sides."""
    ham = sum(
        F.bit_count(F.col(f"__a{i}").bitwiseXOR(F.col(f"__b{i}")))
        for i in range(4)
    ).cast("long")
    return (
        a.join(b, ["band", "v"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _sides(rows: DataFrame, id_col: str, tag: str) -> DataFrame:
    return rows.select(
        F.col(id_col).alias(f"id_{tag}"),
        *[F.col(f"h{i}").alias(f"__{tag}{i}") for i in range(4)],
        "band",
        "v",
    )


def index_near_dup_pairs(
    spark: SparkSession,
    index_dir: str,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    as_of: str | None = None,
) -> DataFrame:
    """Near-duplicate pairs among the index's visible media — the
    binary.near_dup_pairs semantics (4×16 Hamming banding, exact for
    distance ≤ 3 by pigeonhole, map-side verify) over the PERSISTED
    band postings: signatures are never recomputed, the bucket join
    reads the band-partitioned store, and retraction/as-of scoping
    applies before pairing."""
    _check_banding_exact(max_hamming)
    rows = read_dhash_band_rows(spark, index_dir, id_col, as_of)
    return _verified_pairs(
        _sides(rows, id_col, "a"), _sides(rows, id_col, "b"), max_hamming
    )


def search_dhash_index(
    spark: SparkSession,
    index_dir: str,
    probe_media: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    as_of: str | None = None,
) -> DataFrame:
    """Find stored near-duplicates of a PROBE media batch: sign the
    batch (one Arrow pass), trade its band buckets against the stored
    postings, Hamming-verify map-side.  Output ``(probe_id, stored_id,
    hamming)``; a stored row with the PROBE'S OWN id is excluded (a
    re-searched already-ingested item matching itself is noise, not a
    duplicate).  The probe side is batch-sized; the stored side is the
    band-pruned, tombstone-subtracted store."""
    _check_banding_exact(max_hamming)
    probe = _sig_band_rows(probe_media, id_col).localCheckpoint(eager=True)
    stored = read_dhash_band_rows(spark, index_dir, id_col, as_of)
    ham = sum(
        F.bit_count(F.col(f"__a{i}").bitwiseXOR(F.col(f"__b{i}")))
        for i in range(4)
    ).cast("long")
    return (
        _sides(probe, id_col, "a")
        .join(_sides(stored, id_col, "b"), ["band", "v"])
        .where(F.col("id_a") != F.col("id_b"))
        .select(
            F.col("id_a").alias("probe_id"),
            F.col("id_b").alias("stored_id"),
            ham.alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def compact_dhash_index(
    spark: SparkSession,
    index_dir: str,
    id_col: str = "doc_id",
) -> str:
    """FULL compaction (indexstore.compact) of the signature postings
    into one band-partitioned ingest.  The manifest ``rows`` counts
    media items, so a recount divides the band rows by 4.  Returns the
    new label."""

    def write(read, labels, label, rows):
        sigs = read(SIG_SUB).select(id_col, "h0", "h1", "h2", "h3", "band", "v")
        _write_sigs(sigs, index_dir, label)
        return {"rows": rows if rows is not None else sigs.count() // 4}

    return compact(spark, index_dir, (SIG_SUB,), id_col, write)


def incremental_near_dup_pairs(
    spark: SparkSession,
    index_dir: str,
    new_media: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    as_of: str | None = None,
) -> DataFrame:
    """Every near-dup pair TOUCHING a new media batch, without
    re-signing the stored corpus (VERDICT r11 #7 — the
    dedup_incremental_index query contract on the signature index):
    the batch signs itself once (one Arrow pass, eagerly
    checkpointed), trades its band buckets against the band-pruned
    stored postings (batch-vs-stored), and pairs within itself
    (batch-vs-batch).  Output ``(id_a, id_b, hamming)`` with
    ``id_a < id_b``, exact at Hamming <= 3 by the same 4-band
    pigeonhole on both legs — so the result is value-identical to the
    from-scratch all-pairs answer over corpus ∪ batch restricted to
    pairs with a batch member (the gate's oracle).  Scale: the stored
    side is a tombstone-subtracted band-partitioned scan keyed by the
    batch's bucket values; stored media payloads appear NOWHERE in the
    plan — only their postings."""
    _check_banding_exact(max_hamming)
    probe = _sig_band_rows(new_media, id_col).localCheckpoint(eager=True)
    stored = read_dhash_band_rows(spark, index_dir, id_col, as_of)
    ham = sum(
        F.bit_count(F.col(f"__a{i}").bitwiseXOR(F.col(f"__b{i}")))
        for i in range(4)
    ).cast("long")
    cross = (
        _sides(probe, id_col, "a")
        .join(_sides(stored, id_col, "b"), ["band", "v"])
        .where(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            ham.alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
    within = _verified_pairs(
        _sides(probe, id_col, "a"), _sides(probe, id_col, "b"), max_hamming
    )
    return cross.unionByName(within).distinct()
