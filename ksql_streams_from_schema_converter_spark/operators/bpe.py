"""Distributed BPE tokenizer training (VERDICT r5 #4).

Byte-pair encoding per Sennrich, Haddow & Birch, "Neural Machine
Translation of Rare Words with Subword Units" (ACL 2016): start from a
word-frequency table with words split into characters, then repeat —
count adjacent symbol pairs (weighted by word frequency), merge the
most frequent pair corpus-wide, re-segment.  The result of *training*
is the ranked merge table, which is exactly what this operator emits.

Spark shape (the one that survives 100 TB of corpus):

- The corpus is scanned ONCE — word extraction + frequency count, a
  map-side-combining groupBy keyed by word.  Everything after operates
  on the *word-frequency table* (vocabulary-sized: ~sqrt-ish of corpus
  tokens under Zipf, here additionally capped), the standard
  distributed-BPE state (the same reduction Hugging Face `tokenizers`
  and SentencePiece make single-node).
- Each merge round is one aggregation over that table (pair-count with
  partial aggregation), one deterministic global argmax (`ORDER BY cnt
  DESC, pair` + LIMIT 1 — no driver collect; the 1-row winner is
  broadcast-crossJoined into the re-segmentation), and one map-side
  re-segmentation.  Rounds are a fixed constant (`n_merges`).
- The evolving segmentation is ``localCheckpoint``-ed per round (the
  k-means / Bellman-Ford fixed-point discipline, clustering.py /
  graph.py) — without it the `w → best(w) → w'` recurrence re-computes
  every prior round per new round (2^n blowup in the lazy plan).

Engine-exact re-segmentation trick: the segmentation is kept as a
SPACE-JOINED STRING with leading/trailing spaces (`" h e l l o "`),
and one merge round is ``replace(replace(w, ' a b ', ' ab '), ...)``
applied TWICE.  Both Spark's and DuckDB's ``replace`` scan
left-to-right non-overlapping; because adjacent pair occurrences share
their separator space, a single pass can skip every second occurrence
in a chain — skipped occurrences are then isolated, so the second pass
catches every remaining one, and merging can never create a new
occurrence of the merged pair (the merged symbol is strictly longer
than either part).  The result is a maximal non-overlapping merge set,
identical to the classic leftmost-greedy merge except inside runs of a
self-repeating pair (``"a a a a a"`` segments ``aa·a·aa`` here vs
greedy's ``aa·aa·a`` — same token multiset, different positions), a
deterministic variant BOTH engines replay bit-identically, which is
what the differential gate requires.  Symbols never contain spaces and ' ' sorts
below [a-z], so the string order of "a b" pairs equals the (a, b)
tuple order — the tie-break is engine-identical.

The DuckDB oracle replays the identical recurrence as unrolled
per-round CTEs (:func:`bpe_oracle_sql`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def word_frequencies(
    docs: DataFrame, text_col: str = "text", vocab_cap: int = 4000
) -> DataFrame:
    """(word, freq) over ``lower([a-z]+ runs)``, capped to the
    ``vocab_cap`` most frequent words (ties by word) — the frequency
    floor every practical BPE trainer applies."""
    words = (
        docs.select(
            F.explode(F.split(F.lower(F.col(text_col)), "[^a-z]+")).alias("word")
        )
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    return words.orderBy(F.desc("freq"), "word").limit(vocab_cap)


def collect_word_freqs(
    docs: DataFrame, text_col: str = "text", vocab_cap: int = 4000
) -> list[tuple[str, int]]:
    """The capped word-frequency table collected to the driver — a
    BOUNDED artifact (``vocab_cap`` rows at any corpus size, the
    k-means-centroid / unigram-vocab shape).  The corpus scan stays
    distributed; only the vocabulary-sized result crosses."""
    return [
        (r["word"], r["freq"])
        for r in word_frequencies(docs, text_col, vocab_cap).collect()
    ]


def bpe_merge_rounds(
    word_freqs: list[tuple[str, int]], n_merges: int
) -> list[tuple[int, str, str, int]]:
    """The ``n_merges`` BPE rounds over a collected word-frequency
    table, in exact integer arithmetic — pure driver compute, zero
    scheduled jobs (r13, guide §1.2: the rounds iterate a
    ``vocab_cap``-bounded table, so 2 distributed jobs per round were
    pure scheduling overhead at every scale; HF ``tokenizers`` and
    SentencePiece make the same single-node reduction).  Bit-identical
    to the former in-plan recurrence: the same ``" h e l l o "``
    segmentation strings, the same double non-overlapping left-to-right
    ``replace`` (Python ``str.replace`` shares the documented
    Spark/DuckDB semantics), the same ``cnt DESC, pair`` argmax —
    ASCII-only symbols make Python's code-point order equal both
    engines' binary string order.  Returns ``(merge_rank, pair,
    merged, cnt)`` rows; stops early when no pair remains (the emitted
    rows are identical — empty rounds contributed nothing)."""
    from collections import Counter

    words = [(" " + " ".join(w) + " ", f) for w, f in word_freqs]
    rows: list[tuple[int, str, str, int]] = []
    for i in range(n_merges):
        cnt: Counter[str] = Counter()
        for w, f in words:
            syms = [s for s in w.split(" ") if s]
            if len(syms) < 2:
                continue
            for a, b in zip(syms, syms[1:]):
                cnt[a + " " + b] += f
        if not cnt:
            break
        pair = min(cnt, key=lambda p: (-cnt[p], p))
        rows.append((i + 1, pair, pair.replace(" ", ""), cnt[pair]))
        if i == n_merges - 1:
            # the final round's winner needs no re-segmentation — the
            # oracle skips it too (w{i+1} emitted only between rounds)
            break
        s, r = f" {pair} ", " " + pair.replace(" ", "") + " "
        words = [(w.replace(s, r).replace(s, r), f) for w, f in words]
    return rows


def bpe_train(
    docs: DataFrame,
    n_merges: int = 10,
    vocab_cap: int = 4000,
    text_col: str = "text",
    word_freqs: list[tuple[str, int]] | None = None,
) -> DataFrame:
    """Train ``n_merges`` BPE merges; returns the ranked merge table
    ``(merge_rank, pair, merged, cnt)`` — pair is the space-joined
    symbol pair, merged its concatenation, cnt the frequency-weighted
    occurrence count that won the round.

    r13 shape: ONE distributed corpus scan collects the capped
    word-frequency table (bounded driver state), then the merge rounds
    run driver-side (:func:`bpe_merge_rounds`) — the former 2
    jobs/round (argmax checkpoint + re-segmentation checkpoint) over a
    4000-row table were scheduling overhead, not data work.  Callers
    that already collected the table pass ``word_freqs`` to skip the
    scan."""
    assert n_merges >= 1
    if word_freqs is None:
        word_freqs = collect_word_freqs(docs, text_col, vocab_cap)
    rows = bpe_merge_rounds(word_freqs, n_merges)
    return docs.sparkSession.createDataFrame(
        rows, "merge_rank long, pair string, merged string, cnt long"
    )


def bpe_segment_docs(
    docs: DataFrame,
    merge_pairs: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a trained merge list to segment documents — BPE ENCODE.

    The whole document becomes ONE spaced-symbol string: non-letter
    runs collapse to a ``|`` boundary symbol, characters are spaced,
    and each merge is the same double ``replace`` used in training.
    Because ``|`` participates in no trained pair, merges can never
    cross a word boundary, and within a word the string is identical
    to the training representation — so apply-segmentation equals
    train-segmentation exactly, including for words the vocabulary cap
    excluded from training (real BPE encodes out-of-vocab words with
    the learned merges; nothing is special-cased).

    2·len(merge_pairs) chained ``replace`` calls, all whole-stage
    codegen, ONE pass over the corpus — no shuffle at all; the merge
    table is driver-held (bounded: n_merges rows, the ANN-trainer-
    sample precedent).  Output per document: the base symbol count,
    the post-merge token count, and the md5 of the full segmented
    string (the strongest possible gate: any mis-segmented byte
    anywhere flips it)."""
    spaced = F.concat(
        F.lit(" "),
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z]+", "|"),
            "(.)",
            "$1 ",
        ),
    )
    out = docs.select(F.col(id_col), spaced.alias("w"))
    n_syms = "size(filter(split(w, ' '), x -> x != '' AND x != '|'))"
    out = out.withColumn("n_base_symbols", F.expr(n_syms).cast("bigint"))
    for pair in merge_pairs:
        s = F.lit(f" {pair} ")
        r = F.lit(f" {pair.replace(' ', '')} ")
        out = out.withColumn("w", F.replace(F.replace("w", s, r), s, r))
    return out.select(
        id_col,
        "n_base_symbols",
        F.expr(n_syms).cast("bigint").alias("n_tokens"),
        F.md5("w").alias("seg_fp"),
    )


def _bpe_cte_chain(
    n_merges: int, vocab_cap: int, corpus_sql: str
) -> str:
    """The shared oracle CTE chain ``words, w0, (c_i, b_i, w_{i+1})*``
    — ends after ``b{n-1}`` (training) with every intermediate ``w_i``
    defined, for both the train and the encode oracles."""
    parts = [
        f"""
    WITH words AS (
      SELECT word, count(*) AS freq FROM (
        SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
        FROM ({corpus_sql})
      ) WHERE word <> '' GROUP BY word
      ORDER BY freq DESC, word LIMIT {vocab_cap}
    ),
    w0 AS (
      SELECT ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS w, freq
      FROM words
    )"""
    ]
    for i in range(n_merges):
        parts.append(
            f""",
    c{i} AS (
      SELECT pair, sum(freq) AS cnt FROM (
        SELECT unnest(list_transform(generate_series(1, len(syms)-1),
                      j -> syms[j] || ' ' || syms[j+1])) AS pair, freq
        FROM (SELECT list_filter(string_split(w, ' '), x -> x <> '') AS syms,
                     freq
              FROM w{i})
        WHERE len(syms) >= 2
      ) GROUP BY pair
    ),
    b{i} AS (SELECT pair, cnt FROM c{i} ORDER BY cnt DESC, pair LIMIT 1)"""
        )
        if i != n_merges - 1:
            parts.append(
                f""",
    w{i + 1} AS (
      SELECT replace(replace(w, ' ' || pair || ' ',
                             ' ' || replace(pair, ' ', '') || ' '),
                     ' ' || pair || ' ',
                     ' ' || replace(pair, ' ', '') || ' ') AS w, freq
      FROM w{i}, b{i}
    )"""
            )
    return "".join(parts)


def bpe_oracle_sql(
    n_merges: int = 10,
    vocab_cap: int = 4000,
    corpus_sql: str = "SELECT text FROM documents",
) -> str:
    """DuckDB replay of :func:`bpe_train`: the same recurrence unrolled
    as per-round CTEs (count → argmax → double-replace)."""
    selects = [
        f"""
    SELECT CAST({i + 1} AS BIGINT) AS merge_rank, pair,
           replace(pair, ' ', '') AS merged, cnt
    FROM b{i}"""
        for i in range(n_merges)
    ]
    return _bpe_cte_chain(n_merges, vocab_cap, corpus_sql) + (
        "\n    UNION ALL".join(selects)
    )


def bpe_encode_oracle_sql(
    n_merges: int = 10,
    vocab_cap: int = 4000,
    corpus_sql: str = "SELECT doc_id, text FROM documents",
) -> str:
    """DuckDB replay of train-then-:func:`bpe_segment_docs`: reuse the
    training CTE chain to derive b0..b{n-1}, then thread every document
    through the same double-replace per merge (1-row cross joins)."""
    n_syms = "len(list_filter(string_split(w, ' '), x -> x <> '' AND x <> '|'))"
    parts = [
        _bpe_cte_chain(n_merges, vocab_cap, f"SELECT text FROM ({corpus_sql})"),
        f""",
    d0 AS (
      -- lateral column alias: n_base_symbols reads the w defined here
      SELECT doc_id,
             ' ' || regexp_replace(regexp_replace(lower(text), '[^a-z]+', '|', 'g'),
                                   '(.)', '\\1 ', 'g') AS w,
             CAST({n_syms} AS BIGINT) AS n_base_symbols
      FROM ({corpus_sql})
    )""",
    ]
    for i in range(n_merges):
        parts.append(
            f""",
    d{i + 1} AS (
      SELECT doc_id, n_base_symbols,
             replace(replace(w, ' ' || pair || ' ',
                             ' ' || replace(pair, ' ', '') || ' '),
                     ' ' || pair || ' ',
                     ' ' || replace(pair, ' ', '') || ' ') AS w
      FROM d{i}, b{i}
    )"""
        )
    parts.append(
        f"""
    SELECT doc_id, n_base_symbols,
           CAST({n_syms} AS BIGINT) AS n_tokens,
           md5(w) AS seg_fp
    FROM d{n_merges}"""
    )
    return "".join(parts)


# ---------------------------------------------------------------------------
# Tokenizer persistence (r11): versioned merge lists through the
# indexstore manifest — the save_wordpiece_vocab discipline applied to
# the BPE family (VERDICT r10 #5)
# ---------------------------------------------------------------------------

#: store subdirectory for BPE merge lists
BPE_SUB = "bpe_tokenizers"


def save_bpe_merges(spark, store_dir: str, merges: list[str], seq: int) -> str:
    """Persist a trained, ORDERED BPE merge list as version ``b{seq}``
    through the indexstore manifest (operators/indexstore.py): parquet
    data FIRST, atomic manifest commit LAST, so a torn save is
    invisible and a label-scoped replay overwrites its own directory
    and commits once.  Order is the artifact for BPE — encode applies
    merges in training order — so rows carry an explicit
    ``merge_rank``.  Idempotent per seq.  Returns the label."""
    import os

    from .indexstore import commit_ingest, ingest_paths, write_artifact_parquet

    label = f"b{seq}"
    path = ingest_paths(store_dir, BPE_SUB, [label])[0]
    # bounded artifact (n_merges rows): driver-side parquet write, no
    # distributed job (r13 — indexstore.write_artifact_parquet)
    write_artifact_parquet(
        path,
        [(i + 1, p) for i, p in enumerate(merges)],
        "merge_rank long, pair string",
    )
    os.makedirs(store_dir, exist_ok=True)
    commit_ingest(store_dir, label, max_id=None, kind="bpe_tokenizer", seq=seq)
    return label


def load_bpe_merges(
    spark, store_dir: str, seq: int | None = None
) -> tuple[list[str], str]:
    """Read a committed merge list (highest ``seq`` when None) in
    training order — manifest-scoped, so torn saves are invisible; the
    collect is the bounded trained artifact (n_merges rows)."""
    from .indexstore import read_artifact_rows, resolve_version

    best = resolve_version(store_dir, "bpe_tokenizer", seq, "BPE merge list")
    rows = read_artifact_rows(store_dir, BPE_SUB, [best["label"]])
    return (
        [r["pair"] for r in sorted(rows, key=lambda r: r["merge_rank"])],
        best["label"],
    )
