"""Learned language identification (VERDICT r11 #6) — the fastText
posture (Joulin et al., "Bag of Tricks for Efficient Text
Classification", EACL 2017) in exact integer arithmetic: a MULTICLASS
batch perceptron over hashed token features, trained on WEAK labels
(here: the rule-based stopword-argmax heuristic ``text.lang_id`` — the
standard bootstrap where a cheap high-precision rule labels the corpus
and a trainable model generalizes it), persisted through the
indexstore manifest like every other trained artifact.

Model shape (the binary perceptron of ``quality.py`` lifted to L
classes, Collins EMNLP 2002's multiclass rule in batch form):

- Features: :func:`quality.hashed_features` — hashed unigram COUNTS
  plus the bias bucket.  The weight state is ``L × (n_buckets + 1)``
  integers no matter the vocabulary (the fastText hashing trick).
- Prediction: ``argmax_l Σ c·w[l][b]``; the election is
  ``min(struct(-score, lang))`` — highest score, ties to the
  lexicographically smallest language code — the repo's window-free
  extremum pattern, identical on both engines.
- Update (round t, mistake set M of size k): for every misclassified
  document, its feature counts move INTO its true class's weights and
  OUT of the predicted class's — summed per (lang, bucket) and scaled
  by ``FP_SCALE // (k·t)`` with sign-preserving truncating division
  (the quality.py discipline: set-based batch rounds are pure
  functions of the previous state, so a SQL oracle replays training
  round-for-round; sequential updates would be row-order-dependent
  and unfalsifiable).
- Selection: the pocket rule — the round state with the fewest
  training errors, ties to the earliest round.

Scale: the corpus-sized feature table is checkpointed once and scanned
per round behind the packed weight-state literals (L string literals —
the quality.py plan-cost trick); the collected state is L·(n_buckets+1)
integers, bounded like k centroids.  Everything is int64, so Spark and
DuckDB agree bit-for-bit and the driver hash gate proves the TRAINING,
not just the application.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .quality import FP_SCALE, hashed_features

#: default hashed-feature space for language ID (smaller than the
#: quality classifier's — the signal is a few dozen stopword tokens)
LID_BUCKETS = 64
#: default training rounds
LID_ROUNDS = 6


def char_ngram_features(
    docs: DataFrame,
    n_buckets: int = LID_BUCKETS,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_lo: int = 2,
    n_hi: int = 4,
) -> DataFrame:
    """``(id, b, c)`` hashed CHARACTER-n-gram counts (n = n_lo..n_hi,
    within tokens) plus the bias bucket — fastText's actual language-ID
    feature family (Joulin et al. 2017 use char n-grams because word
    unigrams cannot generalize to UNSEEN words; VERDICT r12 #8: on
    short / morphologically-rich text the signal is suffix morphology
    shared across a language's vocabulary, not word identity).  Same
    md5 hashing trick and bucket arithmetic as
    :func:`quality.hashed_features`, so the training recurrence and
    its SQL replay are unchanged — only the feature relation differs.
    Tokens shorter than n contribute no n-grams at that n (both
    engines filter before the position series, which would otherwise
    run descending in Spark)."""
    from .text import WS_CLASS

    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), f"[{WS_CLASS}]+"),
        lambda t: t != "",
    )
    tok_df = docs.select(F.col(id_col), F.explode(toks).alias("__tok"))
    grams = None
    for n in range(n_lo, n_hi + 1):
        g = tok_df.where(F.length("__tok") >= n).select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("__tok") - n + 1),
                    lambda i: F.substring(F.col("__tok"), i, F.lit(n)),
                )
            ).alias("__g"),
        )
        grams = g if grams is None else grams.unionByName(g)
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("__g")), 1, 8), 16, 10).cast("long"),
        F.lit(n_buckets),
    )
    feat = (
        grams.select(F.col(id_col), bucket.alias("b"))
        .groupBy(id_col, "b")
        .agg(F.count("*").alias("c"))
    )
    bias = docs.select(
        F.col(id_col),
        F.lit(n_buckets).cast("long").alias("b"),
        F.lit(1).cast("long").alias("c"),
    )
    return feat.unionByName(bias)


def _packed(weights: dict[str, dict[int, int]], lang: str, n_buckets: int):
    packed = ",".join(str(weights[lang][b]) for b in range(n_buckets + 1))
    return F.split(F.lit(packed), ",").cast("array<long>")


def _pred_expr(langs: list[str], score_cols: dict[str, Column]) -> Column:
    """The argmax election over per-language scores: highest score,
    ties to the smallest language code (min over (-score, lang))."""
    return F.array_min(
        F.array(
            *[
                F.struct(
                    (-score_cols[lg]).alias("ns"), F.lit(lg).alias("lg")
                )
                for lg in langs
            ]
        )
    )["lg"]


def _scored(
    labeled: DataFrame,
    weights: dict[str, dict[int, int]],
    langs: list[str],
    n_buckets: int,
    id_col: str,
) -> DataFrame:
    """Per-document scores under the weight state, the weak label
    riding along: ``(id, __y, __s_<lang>...)`` — one partial-aggregated
    groupBy over the checkpointed feature table."""
    aggs = [F.min("__y").alias("__y")]
    for lg in langs:
        arr = _packed(weights, lg, n_buckets)
        aggs.append(
            F.sum(
                F.col("c") * F.element_at(arr, F.col("b").cast("int") + 1)
            ).alias(f"__s_{lg}")
        )
    return labeled.groupBy(id_col).agg(*aggs)


def train_langid_perceptron(
    docs: DataFrame,
    label: Column,
    n_rounds: int = LID_ROUNDS,
    n_buckets: int = LID_BUCKETS,
    text_col: str = "text",
    id_col: str = "doc_id",
    features=None,
) -> dict[str, dict[int, int]]:
    """Fit the multiclass pocket perceptron (module docstring):
    ``label`` is the weak language-code Column.  Returns the pocket
    weight state ``{lang: {bucket: w}}`` over every observed class —
    bounded driver state.  ``features`` swaps the feature family —
    ``(docs, n_buckets, text_col, id_col) -> (id, b, c)``; default
    hashed word unigrams (:func:`quality.hashed_features`), pass
    :func:`char_ngram_features` for the fastText char-gram mode
    (VERDICT r12 #8) — the training recurrence is feature-agnostic."""
    if n_rounds < 1:
        raise ValueError(f"n_rounds ({n_rounds}) must be >= 1")
    if features is None:
        features = hashed_features
    labels = docs.select(F.col(id_col), label.alias("__y"))
    langs = sorted(
        r["__y"] for r in labels.select("__y").distinct().collect()
    )
    labeled = (
        features(docs, n_buckets, text_col, id_col)
        .join(labels, id_col)
        .repartition(8, id_col)
        .localCheckpoint(eager=True)
    )
    w: dict[str, dict[int, int]] = {
        lg: {b: 0 for b in range(n_buckets + 1)} for lg in langs
    }
    score_cols = {lg: F.col(f"__s_{lg}") for lg in langs}
    pocket: tuple[int, int, dict] | None = None  # (err, t, w)

    def _round_agg(weights):
        """ONE job per round (r13 — the quality.py _mistake_agg
        discipline; formerly 3: mistake checkpoint, count, delta
        collect): mistakes derive inline from the checkpointed feature
        table, self-joined back for the per-(lang, bucket) deltas,
        and |mistakes| rides along as the true-class-side row count of
        the BIAS bucket (every doc carries bias c=1, so the yl-side
        bias rows count exactly the mistake docs).  Returns (err,
        delta rows) — values identical to the former three actions."""
        sc = _scored(labeled, weights, langs, n_buckets, id_col)
        m = sc.select(
            id_col, "__y", _pred_expr(langs, score_cols).alias("__p")
        ).where(F.col("__y") != F.col("__p"))
        # labeled already carries the doc's true label __y; only the
        # prediction joins in (joining __y too would be ambiguous)
        dd = labeled.join(m.select(id_col, "__p"), id_col).select(
            "b", "c", F.col("__y").alias("yl"), F.col("__p").alias("pl")
        )
        rows = (
            dd.select(
                F.col("yl").alias("lang"),
                "b",
                F.col("c").alias("d"),
                F.lit(1).cast("long").alias("ky"),
            )
            .unionByName(
                dd.select(
                    F.col("pl").alias("lang"),
                    "b",
                    (-F.col("c")).alias("d"),
                    F.lit(0).cast("long").alias("ky"),
                )
            )
            .groupBy("lang", "b")
            .agg(F.sum("d").alias("s"), F.sum("ky").alias("ky"))
            .collect()
        )
        err = sum(r["ky"] for r in rows if r["b"] == n_buckets)
        return err, rows

    for t in range(1, n_rounds + 1):
        err, deltas = _round_agg(w)
        if pocket is None or err < pocket[0]:
            pocket = (err, t, {lg: dict(w[lg]) for lg in langs})
        if err == 0:
            break  # separated under the weak rule — converged
        den = err * t
        moved = False
        for r in deltas:
            s = r["s"] * FP_SCALE
            dw = (abs(s) // den) * (1 if s >= 0 else -1)
            if dw:
                w[r["lang"]][r["b"]] += dw
                moved = True
        if not moved:
            break  # fixed point under the truncating decay
    else:
        err, _ = _round_agg(w)
        if err < pocket[0]:
            pocket = (err, n_rounds + 1, {lg: dict(w[lg]) for lg in langs})
    return pocket[2]


def langid_weights_table(spark, weights: dict[str, dict[int, int]]) -> DataFrame:
    """The weight state as a ``(lang, b, w)`` DataFrame — the
    persistable / hash-gateable artifact."""
    rows = [
        (lg, b, wv)
        for lg in sorted(weights)
        for b, wv in sorted(weights[lg].items())
    ]
    return spark.createDataFrame(rows, "lang string, b long, w long")


def apply_langid_classifier(
    docs: DataFrame,
    weights: dict[str, dict[int, int]],
    n_buckets: int = LID_BUCKETS,
    text_col: str = "text",
    id_col: str = "doc_id",
    features=None,
) -> DataFrame:
    """Predict a language code for every document under a trained
    weight state: ``(id, lang_pred)``.  Every document carries the
    bias bucket, so every document scores (no dropouts).  ``features``
    must match the family the weights were trained under (default
    hashed word unigrams)."""
    if features is None:
        features = hashed_features
    langs = sorted(weights)
    feats = features(docs, n_buckets, text_col, id_col)
    aggs = []
    for lg in langs:
        arr = _packed(weights, lg, n_buckets)
        aggs.append(
            F.sum(
                F.col("c") * F.element_at(arr, F.col("b").cast("int") + 1)
            ).alias(f"__s_{lg}")
        )
    sc = feats.groupBy(id_col).agg(*aggs)
    score_cols = {lg: F.col(f"__s_{lg}") for lg in langs}
    return sc.select(
        id_col, _pred_expr(langs, score_cols).alias("lang_pred")
    )


#: store subdirectory for persisted language-ID weight states
LANGID_SUB = "langid_weights"


def save_langid_weights(
    spark, store_dir: str, weights: dict[str, dict[int, int]], seq: int
) -> str:
    """Persist a trained weight state as version ``lid{seq}`` (kind=
    "langid"): parquet data FIRST, atomic manifest commit LAST — the
    tokenizer-store discipline.  Returns the label."""
    import os

    from .indexstore import commit_ingest, ingest_paths, write_artifact_parquet

    label = f"lid{seq}"
    path = ingest_paths(store_dir, LANGID_SUB, [label])[0]
    # bounded artifact (L·(n_buckets+1) rows): driver-side parquet
    # write, no distributed job (r13)
    write_artifact_parquet(
        path,
        [
            (lg, b, wv)
            for lg in sorted(weights)
            for b, wv in sorted(weights[lg].items())
        ],
        "lang string, b long, w long",
    )
    os.makedirs(store_dir, exist_ok=True)
    commit_ingest(store_dir, label, max_id=None, kind="langid", seq=seq)
    return label


def load_langid_weights(
    spark, store_dir: str, seq: int | None = None
) -> tuple[dict[str, dict[int, int]], str]:
    """Read a committed weight state (highest ``seq`` when None) —
    manifest-scoped, torn saves invisible.  The artifact is
    L·(n_buckets+1) integers, so the collect is bounded."""
    from .indexstore import read_artifact_rows, resolve_version

    best = resolve_version(store_dir, "langid", seq, "langid weights")
    out: dict[str, dict[int, int]] = {}
    for r in read_artifact_rows(store_dir, LANGID_SUB, [best["label"]]):
        out.setdefault(r["lang"], {})[r["b"]] = r["w"]
    return out, best["label"]
