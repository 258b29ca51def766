"""Learned quality classifier over hashed text features (VERDICT r6
#6 / r7 #3) — the missing LEARNED filter stage of the pretraining
recipe (the CCNet/GPT-3/LLaMA data pipelines all gate documents with a
linear classifier trained on weak labels; the heuristic Gopher/C4
gates in operators/text.py are its complement, not its substitute).

Model: a **batch perceptron** over hashed unigram features, in exact
integer arithmetic.

- Features: the whitespace tokens of ``lower(text)`` hashed into
  ``n_buckets`` buckets (md5-head mod — the same engine-portable hash
  family as dsir/span fingerprints) with integer COUNT values (counts,
  not binary presence, so length- and frequency-shaped quality rules
  are in the hypothesis space), plus a constant bias bucket
  ``b = n_buckets`` with value 1 on every document.  Hashed features
  are the fasttext/Vowpal trick that bounds the model at any
  vocabulary: the weight vector is ``n_buckets + 1`` integers no
  matter how many distinct tokens 100 TB holds.
- Weak labels: ±1 from document METADATA (the caller passes any
  boolean Column — e.g. ``n_chars >= 250``), the weak-supervision
  shape of real quality classifiers (label by a trusted-source rule,
  learn to predict it from content).
- Update: per round, ALL misclassified documents (``y * margin <= 0``
  under the previous round's weights) contribute ``y × count`` to each
  of their feature buckets at once; the summed per-bucket delta is
  scaled by :data:`FP_SCALE` and divided by ``|mistakes| × round``
  (sign-preserving truncating integer division — exact on both
  engines): the NORMALIZED batch perceptron with a 1/t learning-rate
  decay, in fixed-point integer arithmetic.  The set-based batch form
  — not the sequential perceptron — is chosen precisely so each round
  is a pure function of (features, labels, previous weights) and a SQL
  oracle can replay the training round-for-round (sequential updates
  are row-order-dependent and unfalsifiable by a set-based oracle);
  the 1/(k·t) normalization is what makes the batch form settle
  instead of oscillating with corpus-sized steps (measured: raw batch
  steps cycle between all-keep and all-drop on the length-rule task).
- Selection: the POCKET rule (Gallant, IEEE Trans. NN 1990) — the
  returned weights are the round state with the fewest TRAINING
  errors, ties to the earliest round.  On non-separable data the
  perceptron's final iterate has no optimality guarantee; the pocket
  does (it converges to the minimum-error linear rule in probability).
  Error counts per round are exact integers, so the pocket argmin is
  SQL-replayable like everything else.

Iteration discipline = the k-means/Bradley-Terry broadcast-state shape
(operators/clustering.py, operators/preference.py): the corpus-sized
feature table stays distributed and is scanned twice per round behind
a broadcast of the weight state; the state itself (n_buckets + 1
integers) is the ONLY thing collected — bounded like k centroids,
never corpus-sized.  All arithmetic is int64 (counts × small ints),
so Spark and DuckDB agree bit-for-bit and the driver hash gate proves
the training, not just the application.

Scale: one shuffle per round pair (margin groupBy doc, update groupBy
bucket), both partial-aggregated map-side; the feature table is
localCheckpointed once so tokenization/hashing runs once per fit, not
per round.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import WS_CLASS

#: default hashed-feature space (buckets 0..N-1; bucket N is the bias)
N_BUCKETS = 256
#: default training rounds — each is one decayed batch-perceptron step
N_ROUNDS = 16
#: fixed-point weight scale: updates carry FP_SCALE/(k*t) so small
#: per-bucket signals survive the integer truncation
FP_SCALE = 1_000


def hashed_features(
    docs: DataFrame,
    n_buckets: int = N_BUCKETS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(id, b, c)`` count-valued feature rows: hashed unigram counts
    plus the bias bucket ``n_buckets`` with count 1 (present on every
    document, so even an empty text has a margin and a learnable
    prior)."""
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), f"[{WS_CLASS}]+"),
        lambda t: t != "",
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("__tok")), 1, 8), 16, 10).cast("long"),
        F.lit(n_buckets),
    )
    feat = (
        docs.select(F.col(id_col), F.explode(toks).alias("__tok"))
        .select(F.col(id_col), bucket.alias("b"))
        .groupBy(id_col, "b")
        .agg(F.count("*").alias("c"))
    )
    bias = docs.select(
        F.col(id_col),
        F.lit(n_buckets).cast("long").alias("b"),
        F.lit(1).cast("long").alias("c"),
    )
    return feat.unionByName(bias)


def _weight_array(weights: dict[int, int]):
    """The weight state as a constant array column, encoded as ONE
    string literal split+cast in-plan (constant-folded once): a
    257-node literal array costs ~0.5 s of per-round analysis/codegen
    on the driver — measured 2-3× the whole round — while a single
    string node is free.  The state still rides inside the plan, so a
    round needs no extra join or createDataFrame round-trip."""
    packed = ",".join(str(weights[b]) for b in sorted(weights))
    return F.split(F.lit(packed), ",").cast("array<long>")


def _margin_expr(weights: dict[int, int]):
    """Per-row margin contribution ``c * w[b]`` under the constant
    weight state (buckets are 0-based; element_at is 1-based)."""
    return F.col("c") * F.element_at(
        _weight_array(weights), F.col("b").cast("int") + 1
    )


def _margins(
    feats: DataFrame, weights: dict[int, int], id_col: str
) -> DataFrame:
    """Per-document integer margin under the weight state."""
    return feats.groupBy(id_col).agg(
        F.sum(_margin_expr(weights)).alias("__m")
    )


def labeled_features(
    docs: DataFrame,
    label: Column,
    n_buckets: int = N_BUCKETS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(id, b, c, __y)`` — hashed count features with the ±1 weak
    label riding along (one join, once).  This is the PERSISTABLE
    training input (VERDICT r9 #6): because feature rows are a pure
    per-document function, the feature table of a corpus union equals
    the union of per-batch feature tables — so a streaming lifecycle
    can persist each batch's features once and refit from the stored
    union without ever re-tokenizing raw docs."""
    labels = docs.select(
        F.col(id_col),
        F.when(label, F.lit(1)).otherwise(F.lit(-1)).cast("long").alias("__y"),
    )
    return hashed_features(docs, n_buckets, text_col, id_col).join(
        labels, id_col
    )


def train_quality_perceptron(
    docs: DataFrame,
    label: Column,
    n_rounds: int = N_ROUNDS,
    n_buckets: int = N_BUCKETS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict[int, int]:
    """Fit the batch perceptron (module docstring): ``label`` is the
    weak-supervision boolean (True → +1).  Returns the final weight
    state as a dict over ALL buckets 0..n_buckets (bias included,
    untouched buckets 0) — bounded driver state, the k-means-centroid
    shape."""
    return train_on_features(
        labeled_features(docs, label, n_buckets, text_col, id_col),
        n_rounds,
        n_buckets,
        id_col,
    )


def train_on_features(
    labeled: DataFrame,
    n_rounds: int = N_ROUNDS,
    n_buckets: int = N_BUCKETS,
    id_col: str = "doc_id",
) -> dict[int, int]:
    """The fit over a prebuilt ``(id, b, c, __y)`` table (from
    :func:`labeled_features`, fresh or read back from a feature
    store) — tokenization/hashing runs zero times here, which is what
    makes feature persistence pay: a scheduled refit unions stored
    per-batch feature tables and the cost tracks the NEW batch, not
    the corpus."""
    from pyspark.sql import Window

    assert n_rounds >= 1
    # pre-partitioned by document so each round's per-doc margin window
    # runs shuffle-free over the checkpointed partitions
    feats = labeled.repartition(8, id_col).localCheckpoint(eager=True)
    wdoc = Window.partitionBy(id_col)

    def _mistake_agg(weights):
        """ONE job per round: per-doc margins as a window over the
        doc-partitioned feature table (no shuffle), then the per-bucket
        misclassified delta sums, with the mistake count riding along
        (every doc carries the bias bucket, so the bias row's
        distinct-doc count IS |mistakes|)."""
        m = F.sum(_margin_expr(weights)).over(wdoc)
        return (
            feats.withColumn("__m", m)
            .where(F.col("__y") * F.col("__m") <= 0)
            .groupBy("b")
            # feature rows are UNIQUE on (doc, bucket) by construction,
            # so the per-bucket row count IS the distinct-doc count —
            # no expensive distinct aggregation path
            .agg(
                F.sum(F.col("__y") * F.col("c")).alias("__s"),
                F.count("*").alias("__k"),
            )
            .collect()
        )

    w = {b: 0 for b in range(n_buckets + 1)}
    pocket: tuple[int, int, dict[int, int]] | None = None  # (err, t, w)
    for t in range(1, n_rounds + 1):
        upd = _mistake_agg(w)
        err = max((r["__k"] for r in upd), default=0)
        if pocket is None or err < pocket[0]:
            pocket = (err, t, dict(w))
        if err == 0:
            break  # linearly separated — converged
        den = err * t  # 1/(k*t): mistake-normalized, harmonically decayed
        moved = False
        for r in upd:
            # sign-preserving truncating division — Python // floors,
            # so route through abs() to match SQL integer div
            s = r["__s"] * FP_SCALE
            dw = (abs(s) // den) * (1 if s >= 0 else -1)
            if dw:
                w[r["b"]] += dw
                moved = True
        if not moved:
            break  # fixed point: every decayed delta truncated to 0
    else:
        # loop ran all rounds: the final iterate is also a candidate
        final = _mistake_agg(w)
        err = max((r["__k"] for r in final), default=0)
        if err < pocket[0]:
            pocket = (err, n_rounds + 1, dict(w))
    return pocket[2]


def weights_table(spark, weights: dict[int, int]) -> DataFrame:
    """The weight state as a ``(b, w)`` DataFrame (the persistable /
    hash-gateable artifact)."""
    return spark.createDataFrame(
        sorted(weights.items()), "b long, w long"
    )


def apply_quality_classifier(
    docs: DataFrame,
    weights: dict[int, int],
    n_buckets: int = N_BUCKETS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score every document under a trained weight state:
    ``(id, score, keep)`` with ``keep = score > 0``.  One broadcast
    join + one partial-aggregated groupBy — the filter stage a 100-TB
    pretraining pipeline runs per candidate document."""
    feats = hashed_features(docs, n_buckets, text_col, id_col)
    return (
        docs.select(id_col)
        .join(_margins(feats, weights, id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("__m"), F.lit(0)).alias("score"),
            (F.coalesce(F.col("__m"), F.lit(0)) > 0).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# persisted classifier lifecycle (VERDICT r8 #5)
# ---------------------------------------------------------------------------

#: data subdirectories of a quality store (indexstore-managed): model
#: weight versions, per-batch verdict tables, and the accumulated
#: training corpus the scheduled retrains read
WEIGHTS_SUB, VERDICTS_SUB, DOCS_SUB = "weights", "verdicts", "docs"
#: per-batch hashed-feature tables (kind='features') — what scheduled
#: refits actually read (VERDICT r9 #6): raw docs are re-tokenized
#: exactly once, when their batch arrives
FEATURES_SUB = "features"


def persist_batch_features(
    spark,
    store_dir: str,
    batch_df: DataFrame,
    label: Column,
    batch_id: int,
    n_buckets: int = N_BUCKETS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Tokenize/hash ONE batch and persist its ``(id, b, c, __y)``
    feature table under ``features/ingest=f{batch_id}`` (data first,
    atomic manifest commit last, label-scoped replay idempotent — the
    ingest discipline).  Returns the label."""
    import os

    from .indexstore import commit_ingest, ingest_paths

    lb = f"f{batch_id}"
    path = ingest_paths(store_dir, FEATURES_SUB, [lb])[0]
    labeled_features(batch_df, label, n_buckets, text_col, id_col).write.mode(
        "overwrite"
    ).parquet(path)
    os.makedirs(store_dir, exist_ok=True)
    commit_ingest(store_dir, lb, max_id=None, kind="features", seq=batch_id)
    return lb


def refit_from_feature_store(
    spark,
    store_dir: str,
    upto_seq: int,
    n_rounds: int = N_ROUNDS,
    n_buckets: int = N_BUCKETS,
    id_col: str = "doc_id",
) -> dict[int, int]:
    """Scheduled retrain that reads ONLY the stored per-batch feature
    tables with ``seq <= upto_seq`` (never the raw docs): feature rows
    are a pure per-document function and batch id-spaces are disjoint,
    so the union of stored tables IS the feature table of the full
    corpus-so-far — weights are bit-identical to a from-raw fit, at a
    cost that re-reads hashed integers instead of re-tokenizing text
    (the refit tracks stored-feature IO, not corpus tokenization)."""
    from .indexstore import read_ingests, read_manifest

    fl = [
        e["label"]
        for e in read_manifest(store_dir)
        if e.get("kind") == "features" and e["seq"] <= upto_seq
    ]
    if not fl:
        raise ValueError(
            f"quality store {store_dir} has no committed feature ingests"
            f" with seq <= {upto_seq}"
        )
    feats = read_ingests(spark, store_dir, FEATURES_SUB, fl).select(
        id_col, "b", "c", "__y"
    )
    return train_on_features(feats, n_rounds, n_buckets, id_col)


def save_quality_weights(
    spark, store_dir: str, weights: dict[int, int], seq: int
) -> str:
    """Persist a trained weight state as model version ``m{seq}``
    through the indexstore manifest (operators/indexstore.py — the
    LSH/ANN index commit discipline): parquet data FIRST, atomic
    manifest commit LAST, so a crash between the two leaves the store
    exactly as it was and a label-scoped replay overwrites the torn
    directory and commits once.  Idempotent: re-saving the same seq
    replaces both data and entry.  Returns the label."""
    import os

    from .indexstore import commit_ingest, ingest_paths, write_artifact_parquet

    label = f"m{seq}"
    path = ingest_paths(store_dir, WEIGHTS_SUB, [label])[0]
    # bounded artifact (n_buckets + 1 rows): driver-side parquet write,
    # no distributed job (r13)
    write_artifact_parquet(path, sorted(weights.items()), "b long, w long")
    os.makedirs(store_dir, exist_ok=True)
    commit_ingest(store_dir, label, max_id=None, kind="weights", seq=seq)
    return label


def load_quality_weights(
    spark, store_dir: str, seq: int | None = None
) -> tuple[dict[int, int], str]:
    """Read a committed model version (highest ``seq`` when None) —
    manifest-scoped, so torn saves are invisible; the collect is the
    bounded n_buckets+1 rows (the k-means-centroid shape)."""
    from .indexstore import read_artifact_rows, resolve_version

    best = resolve_version(store_dir, "weights", seq, "quality model")
    rows = read_artifact_rows(store_dir, WEIGHTS_SUB, [best["label"]])
    return {r["b"]: r["w"] for r in rows}, best["label"]


def threshold_sweep(
    scored: DataFrame,
    label: Column,
    score_col: str = "score",
    id_col: str = "doc_id",
    n_bins: int = 10,
) -> DataFrame:
    """Threshold calibration for a LOW-is-good quality score (the
    CCNet surprisal convention): sweep the keep-cutoff over the
    score's ``n_bins`` quantile boundaries and emit the exact
    confusion counts of the rule "keep iff score <= cutoff" against a
    reference label at every candidate — the evaluation table an
    operator reads to pick the production gate (precision/recall are
    ratios of these integer counts; emitting the counts keeps the
    whole table value-hash-gateable).

    One row per bin: ``(bin, cutoff, tp, fp, fn, tn)`` where cutoff is
    the bin's max score.  Bins are quantiles of the DISTINCT score
    values (docs collapse to per-score counts first), so a bin
    boundary can never split a tie — "score <= cutoff" is exactly the
    bin-prefix membership, which is what makes the confusion counts
    the literal evaluation of that rule (doc-quantile NTILE would cut
    through tied scores and break the cutoff semantics).  Scale: the
    per-score collapse and the per-bin sums are partial-aggregating
    groupBys; the distinct-score binning is the exact distributed
    NTILE (range partition + offset prefix-sum — never a corpus-sized
    single-reducer window); the cumulative sweep then runs as a window
    over the ``n_bins`` rows — bounded at any corpus size."""
    from pyspark.sql import Window

    from .ranking import global_ntile

    per_score = (
        scored.select(
            F.col(score_col),
            F.when(label, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("__y"),
        )
        .groupBy(score_col)
        .agg(F.sum("__y").alias("__sp"), F.sum(1 - F.col("__y")).alias("__sn"))
    )
    binned = global_ntile(per_score, [score_col], n_bins, out_col="__b")
    per_bin = binned.groupBy("__b").agg(
        F.max(score_col).alias("cutoff"),
        F.sum("__sp").alias("__p"),
        F.sum("__sn").alias("__n"),
    )
    totals = per_bin.agg(
        F.sum("__p").alias("__tot_p"), F.sum("__n").alias("__tot_n")
    )
    w = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_bin.withColumn("tp", F.sum("__p").over(w))
        .withColumn("fp", F.sum("__n").over(w))
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("__b").cast("long").alias("bin"),
            "cutoff",
            "tp",
            "fp",
            (F.col("__tot_p") - F.col("tp")).alias("fn"),
            (F.col("__tot_n") - F.col("fp")).alias("tn"),
        )
    )


def auc_ranksum(
    scored: DataFrame,
    label: Column,
    score_col: str = "score",
) -> DataFrame:
    """Exact AUC via the Mann-Whitney rank-sum statistic with
    tie-averaged ranks (Mann & Whitney 1947; Hanley & McNeil 1982 for
    the AUC identity) — the area summary of the
    :func:`threshold_sweep` calibration table, in EXACT integer
    arithmetic so the value hashes across engines.

    With documents collapsed to per-score (positives, negatives)
    counts, a tie group at cumulative offset ``c`` with ``t = sp+sn``
    members contributes ``sp * (2c + t + 1)`` to twice the positive
    rank sum; then

        u2 = Σ sp*(2c+t+1) - n_pos*(n_pos+1)   ( = 2*U )
        AUC = u2 / (2 * n_pos * n_neg)

    Output (one row): ``n_pos, n_neg, u2`` (DECIMAL(38,0) — rank sums
    exceed BIGINT around 3e9 rows) and ``auc_micro = u2*500000 div
    (n_pos*n_neg)`` (AUC in millionths, BIGINT).  AUC is read as
    "probability a random positive outranks (higher score) a random
    negative, ties at half".

    Scale: the per-score collapse is one partial-aggregating groupBy;
    the cumulative offsets come from :func:`~.ranking.global_prefix_sum`
    (range partition + driver-side KB offset array — never a
    single-reducer window over the score axis); the final reduction is
    a 1-row aggregate."""
    from .ranking import global_prefix_sum

    per_score = (
        scored.select(
            F.col(score_col).alias("__s"),
            F.when(label, F.lit(1)).otherwise(F.lit(0)).cast("long").alias("__y"),
        )
        .groupBy("__s")
        .agg(
            F.sum("__y").alias("__sp"),
            F.sum(1 - F.col("__y")).alias("__sn"),
        )
        .withColumn("__t", F.col("__sp") + F.col("__sn"))
    )
    pre = global_prefix_sum(per_score, ["__s"], "__t", out_col="__c")
    agg = pre.agg(
        F.sum("__sp").alias("n_pos"),
        F.sum("__sn").alias("n_neg"),
        F.sum(
            F.expr(
                "CAST(__sp AS DECIMAL(38,0)) * (2 * __c + __t + 1)"
            )
        ).alias("__r2"),
    )
    return agg.select(
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        F.expr(
            "CAST(__r2 - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1) "
            "AS DECIMAL(38,0))"
        ).alias("u2"),
        F.expr(
            "CAST((__r2 - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1)) * 500000 "
            "div (CAST(n_pos AS DECIMAL(19,0)) * CAST(n_neg AS DECIMAL(19,0))) "
            "AS BIGINT)"
        ).alias("auc_micro"),
    )


def _avg_ranks2(df: DataFrame, col: str) -> DataFrame:
    """Tie-averaged rank of ``df[col]`` ascending, DOUBLED so ties stay
    integer (a tie group at exclusive cumulative offset ``c`` with
    ``t`` members has average rank ``c + (t+1)/2`` → doubled =
    ``2c + t + 1``, the AUC algebra).  Returns ``df`` plus ``__r2``.
    Scale: per-value collapse + :func:`~.ranking.global_prefix_sum` +
    one keyed join-back — never a corpus-wide window."""
    from .ranking import global_prefix_sum

    per = df.groupBy(col).agg(F.count("*").alias("__t"))
    pre = global_prefix_sum(per, [col], "__t", out_col="__c")
    r2 = pre.select(
        col, (2 * F.col("__c") + F.col("__t") + 1).alias("__r2")
    )
    return df.join(r2, col)


def spearman_rank_moments(
    scored: DataFrame,
    x_col: str,
    y_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact sufficient statistics for the Spearman rank correlation
    between two scores (Spearman 1904; with ties, Spearman = Pearson
    over tie-averaged ranks): both scores are converted to DOUBLED
    tie-averaged ranks (exact integers), and the output is the one-row
    moment table ``(n, sx, sy, sxy, sxx, syy)`` over those ranks as
    DECIMAL(38,0) — the ``exact_moments_qty_price`` posture: emit the
    exact, mergeable sufficient statistics and leave the irrational
    final ratio ``rho = (n*sxy - sx*sy) / sqrt((n*sxx - sx^2)(n*syy -
    sy^2))`` to the reader, because a square root can never
    value-hash across engines while these sums always do.

    Scale: two per-value collapses + prefix sums (KB driver offsets),
    two keyed join-backs, one map-side-combined 1-row aggregation.
    Doubled ranks stay under 2^63 to ~4.6e18 rows; the DECIMAL(38,0)
    moment sums carry ~1e9-row corpora with headroom (beyond that,
    shard the moments and merge — they are plain sums).

    Domain rule (ADVICE r10): ranks are computed over the JOINED
    sample — rows where BOTH scores are non-null — never over each
    score's own domain.  Ranking each column's full domain first and
    inner-joining after would leave gaps in the ranks wherever the
    domains differ, and Pearson over gapped ranks is not Spearman of
    the joined sample.  The filter is a no-op when the caller already
    inner-joined two complete score tables (the spearman_lm_scores
    gate), so existing hashes are unchanged."""
    scored = scored.where(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    )
    xr = _avg_ranks2(
        scored.select(id_col, F.col(x_col).alias("__x")), "__x"
    ).select(id_col, F.col("__r2").alias("__rx"))
    yr = _avg_ranks2(
        scored.select(id_col, F.col(y_col).alias("__y")), "__y"
    ).select(id_col, F.col("__r2").alias("__ry"))
    j = xr.join(yr, id_col).select(
        F.expr("CAST(__rx AS DECIMAL(38,0))").alias("rx"),
        F.expr("CAST(__ry AS DECIMAL(38,0))").alias("ry"),
    )
    return j.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.expr("rx * ry")).alias("sxy"),
        F.sum(F.expr("rx * rx")).alias("sxx"),
        F.sum(F.expr("ry * ry")).alias("syy"),
    )
