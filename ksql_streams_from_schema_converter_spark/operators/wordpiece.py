"""WordPiece tokenizer training + encoding — the third leg of the
tokenizer family beside BPE (operators/bpe.py) and the unigram LM
(operators/unigram.py), per Schuster & Nakajima, "Japanese and Korean
Voice Search" (ICASSP 2012) and the BERT tokenizer (Devlin et al.,
NAACL 2019; the Hugging Face ``tokenizers`` WordPiece trainer uses the
same rule).

Two places WordPiece differs from BPE, and both are implemented:

1. **Training picks merges by LIKELIHOOD RATIO, not raw frequency**:
   the winning pair maximizes ``count(ab) / (count(a) * count(b))`` —
   the increase in corpus unigram-LM likelihood from fusing ``a b``
   into ``ab`` — so rare-but-exclusive pairs beat frequent-but-
   incidental ones.  The ratio is computed in EXACT fixed-point
   integer arithmetic: ``score_q = (count(ab) * 10^12) div
   (count(a) * count(b))`` with DECIMAL(38,0) intermediates on the
   Spark side and HUGEINT on the DuckDB side — identical floor
   quotients, so the argmax (and the driver hash gate over it) is
   engine-exact.  Ties break on the pair string; symbols contain no
   spaces and ``' '`` sorts below ``[a-z]``, so string order equals
   (a, b) tuple order (the bpe.py argument).
2. **Encoding is greedy longest-match-first (MaxMatch)**, not merge
   replay: at each position the longest vocabulary piece prefixing
   the remainder is taken; if no piece matches, or the word exceeds
   ``MAX_WP_WORD`` characters, the WHOLE word becomes ``[UNK]`` (the
   BERT ``max_input_chars_per_word`` posture).  The vocabulary is the
   training alphabet (every character of the capped word table) plus
   each merge's output token.

Spark shape (the one that survives 100 TB):

- ONE corpus scan builds the capped word-frequency table (bpe.py's
  ``word_frequencies``); every training round runs over that bounded
  table — a symbol-count aggregation, a pair-count aggregation, two
  bounded joins to attach the denominators, a deterministic 1-row
  global argmax (``ORDER BY score_q DESC, pair`` + LIMIT 1, broadcast
  back — no driver collect), and the bpe.py double-``replace``
  re-segmentation, ``localCheckpoint``-ed per round (the fixed-point
  discipline: without it the recurrence re-computes every prior round
  per new round).
- Encoding is ONE Arrow-batched pass over the corpus (per-word greedy
  MaxMatch is genuinely imperative — the documented Pandas-UDF
  exception, the unigram_encode precedent); the vocabulary is the
  bounded trained artifact (alphabet + n_merges rows) riding in the
  task closure.  No shuffle at all in the apply.

The DuckDB oracles replay the identical recurrence as unrolled
per-round CTEs (:func:`wordpiece_oracle_sql`) and the greedy MaxMatch
as an unrolled per-step chain (:func:`wordpiece_encode_oracle_sql`) —
the longest matching piece at a position IS ``substr(word, pos+1,
max(len(piece)))``, so the step needs only the max matched length,
never an argmax over strings.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bpe import word_frequencies

#: fixed-point scale of the likelihood-ratio score: ratio 1.0 == 10^12
#: (count(ab) <= min(count(a), count(b)) implies ratio <= 1, so the
#: quotient fits BIGINT at any corpus size)
WP_PREC = 1_000_000_000_000

#: BERT's max_input_chars_per_word posture: longer words are [UNK]
#: without attempting segmentation (and the encode oracle's greedy
#: unroll is exactly this many steps deep — each step consumes >= 1
#: character)
MAX_WP_WORD = 16

#: the whole-word out-of-vocabulary token
UNK = "[UNK]"

#: likelihood-ratio fixed-point quotient, shared by both engines:
#: floor((cnt * 10^12) / (ca * cb)) — Spark `div` on DECIMAL(38,0)
#: and DuckDB `//` on HUGEINT both floor (all operands positive)
_SCORE_SPARK = (
    f"CAST((CAST(cnt AS DECIMAL(19,0)) * {WP_PREC}) div "
    "(CAST(ca AS DECIMAL(19,0)) * CAST(cb AS DECIMAL(19,0))) AS BIGINT)"
)


def wordpiece_merge_rounds(
    word_freqs: list[tuple[str, int]], n_merges: int
) -> list[tuple[int, str, str, int, int]]:
    """The ``n_merges`` WordPiece rounds over a collected
    word-frequency table, in exact integer arithmetic — pure driver
    compute, zero scheduled jobs (r13, guide §1.2: the rounds iterate
    a ``vocab_cap``-bounded table, so 3 distributed jobs per round
    were scheduling overhead at every scale; the bpe_merge_rounds
    rationale).  Bit-identical to the former in-plan recurrence: the
    same symbol/pair frequency sums, the same fixed-point quotient
    ``(cnt * 10^12) // (ca * cb)`` (floor on positive ints, exactly
    the DECIMAL/HUGEINT ``div``), the same ``score_q DESC, pair``
    argmax (ASCII symbols: Python code-point order == binary string
    order), the same double non-overlapping ``replace``.  Returns
    ``(merge_rank, pair, merged, cnt, score_q)``; stops when no pair
    remains (ADVICE r10: the emitted rows are identical — empty
    rounds contributed nothing)."""
    from collections import Counter

    words = [(" " + " ".join(w) + " ", f) for w, f in word_freqs]
    rows: list[tuple[int, str, str, int, int]] = []
    for i in range(n_merges):
        sym_cnt: Counter[str] = Counter()
        pair_cnt: Counter[tuple[str, str]] = Counter()
        for w, f in words:
            syms = [s for s in w.split(" ") if s]
            for s in syms:
                sym_cnt[s] += f
            for a, b in zip(syms, syms[1:]):
                pair_cnt[(a, b)] += f
        if not pair_cnt:
            break
        best: tuple[tuple[int, str], int] | None = None
        for (a, b), c in pair_cnt.items():
            score_q = (c * WP_PREC) // (sym_cnt[a] * sym_cnt[b])
            key = (-score_q, a + " " + b)
            if best is None or key < best[0]:
                best = (key, c)
        (neg_q, pair), cnt = best
        rows.append((i + 1, pair, pair.replace(" ", ""), cnt, -neg_q))
        if i == n_merges - 1:
            break
        s, r = f" {pair} ", " " + pair.replace(" ", "") + " "
        words = [(w.replace(s, r).replace(s, r), f) for w, f in words]
    return rows


def wordpiece_train(
    docs: DataFrame,
    n_merges: int = 10,
    vocab_cap: int = 4000,
    text_col: str = "text",
    word_freqs: list[tuple[str, int]] | None = None,
) -> DataFrame:
    """Train ``n_merges`` WordPiece merges; returns the ranked merge
    table ``(merge_rank, pair, merged, cnt, score_q)`` — pair is the
    space-joined symbol pair, merged its concatenation, cnt the
    frequency-weighted pair count, score_q the winning fixed-point
    likelihood ratio.

    r13 shape: ONE distributed corpus scan collects the capped
    word-frequency table (bounded driver state, the unigram_train
    precedent), then the merge rounds run driver-side
    (:func:`wordpiece_merge_rounds`).  Callers that already collected
    the table pass ``word_freqs`` to skip the scan."""
    from .bpe import collect_word_freqs

    assert n_merges >= 1
    if word_freqs is None:
        word_freqs = collect_word_freqs(docs, text_col, vocab_cap)
    rows = wordpiece_merge_rounds(word_freqs, n_merges)
    return docs.sparkSession.createDataFrame(
        rows,
        "merge_rank long, pair string, merged string, cnt long, score_q long",
    )


def wordpiece_alphabet(
    docs: DataFrame,
    vocab_cap: int = 4000,
    text_col: str = "text",
    word_freqs: list[tuple[str, int]] | None = None,
) -> DataFrame:
    """The training alphabet: every distinct character of the capped
    word-frequency table (bounded: <= 26 rows on the ``[a-z]+`` word
    shape) — the single-character base of the encode vocabulary.
    ``word_freqs`` (optional, r13) reuses a collected table so
    train+alphabet callers pay ONE corpus scan, not two."""
    if word_freqs is not None:
        pieces = sorted({ch for w, _ in word_freqs for ch in w})
        return docs.sparkSession.createDataFrame(
            [(p,) for p in pieces], "piece string"
        )
    wf = word_frequencies(docs, text_col, vocab_cap)
    return (
        wf.select(F.explode(F.split("word", "")).alias("piece"))
        .where(F.col("piece") != "")
        .distinct()
    )


def greedy_segment(word: str, vocab: set[str], max_word: int = MAX_WP_WORD) -> list[str]:
    """Greedy longest-match-first (MaxMatch) segmentation of ``word``
    under ``vocab``; returns ``[UNK]`` for over-long words and words
    any position of which no vocabulary piece matches (whole-word UNK,
    the BERT rule).  Driver/executor-shared; also what the encode
    oracle unrolls step-for-step."""
    if len(word) > max_word:
        return [UNK]
    out: list[str] = []
    pos = 0
    n = len(word)
    while pos < n:
        match_len = 0
        for ln in range(min(n - pos, max_word), 0, -1):
            if word[pos : pos + ln] in vocab:
                match_len = ln
                break
        if match_len == 0:
            return [UNK]
        out.append(word[pos : pos + match_len])
        pos += match_len
    return out


def wordpiece_encode(
    docs: DataFrame,
    vocab: set[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ENCODE under a trained vocabulary: every ``[a-z]+`` word of
    ``lower(text)`` is MaxMatch-segmented; emits per document the word
    count, the ``[UNK]`` word count, the token count, and the md5 of
    the space-joined segmentation with ``|`` word boundaries (the
    bpe_segment_docs gate shape: one mis-segmented byte anywhere flips
    it).  One Arrow pass, no shuffle; the vocabulary is the bounded
    trained artifact (alphabet + n_merges tokens)."""
    import pandas as pd

    def enc(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import hashlib
        import re

        # per-task memo: greedy_segment is a pure function of the word
        # under the fixed vocabulary, and corpora repeat words
        # Zipf-style — segment each DISTINCT word once per task, not
        # once per occurrence (guide §4.2).  Bounded by the task's
        # distinct words; results are identical.
        memo: dict[str, list[str]] = {}

        def seg_word(w: str) -> list[str]:
            s = memo.get(w)
            if s is None:
                s = greedy_segment(w, vocab)
                memo[w] = s
            return s

        for pdf in batches:
            ids, n_words, n_unk, n_toks, fps = [], [], [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col], strict=True):
                words = [w for w in re.split("[^a-z]+", text.lower()) if w]
                pieces: list[str] = []
                unk = 0
                for w in words:
                    seg = seg_word(w)
                    if seg == [UNK]:
                        unk += 1
                    if pieces:
                        pieces.append("|")
                    pieces.extend(seg)
                ids.append(doc_id)
                n_words.append(len(words))
                n_unk.append(unk)
                n_toks.append(sum(1 for p in pieces if p != "|"))
                fps.append(
                    hashlib.md5(" ".join(pieces).encode("utf-8")).hexdigest()
                )
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "n_words": pd.Series(n_words, dtype="int64"),
                    "n_unk": pd.Series(n_unk, dtype="int64"),
                    "n_tokens": pd.Series(n_toks, dtype="int64"),
                    "seg_fp": pd.Series(fps, dtype="object"),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(
        enc,
        schema=f"{id_col} long, n_words long, n_unk long, n_tokens long, seg_fp string",
    )


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------


def _wp_cte_chain(
    n_merges: int, vocab_cap: int, corpus_sql: str, with_kw: bool = True
) -> str:
    """The training replay ``words, w0, (cs_i, cp_i, b_i, w_{i+1})*`` —
    symbol counts, likelihood-ratio-scored pair counts, the per-round
    winner, the double-replace re-segmentation; ends after
    ``b{n-1}``."""
    lead = "WITH " if with_kw else ""
    parts = [
        f"""
    {lead}words AS MATERIALIZED (
      SELECT word, count(*) AS freq FROM (
        SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
        FROM ({corpus_sql})
      ) WHERE word <> '' GROUP BY word
      ORDER BY freq DESC, word LIMIT {vocab_cap}
    ),
    w0 AS MATERIALIZED (
      SELECT ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS w, freq
      FROM words
    )"""
    ]
    for i in range(n_merges):
        parts.append(
            f""",
    sy{i} AS MATERIALIZED (
      SELECT list_filter(string_split(w, ' '), x -> x <> '') AS syms, freq
      FROM w{i}
    ),
    cs{i} AS MATERIALIZED (
      SELECT sym, CAST(sum(freq) AS BIGINT) AS c
      FROM (SELECT unnest(syms) AS sym, freq FROM sy{i}) GROUP BY sym
    ),
    cp{i} AS MATERIALIZED (
      SELECT p.a AS a, p.b AS b, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        SELECT unnest(list_transform(generate_series(1, len(syms) - 1),
                      j -> {{'a': syms[j], 'b': syms[j + 1]}})) AS p, freq
        FROM sy{i} WHERE len(syms) >= 2
      ) GROUP BY p.a, p.b
    ),
    b{i} AS MATERIALIZED (
      SELECT p.a || ' ' || p.b AS pair, p.cnt,
             CAST((CAST(p.cnt AS HUGEINT) * {WP_PREC}) //
                  (CAST(ca.c AS HUGEINT) * cb.c) AS BIGINT) AS score_q
      FROM cp{i} p
      JOIN cs{i} ca ON ca.sym = p.a
      JOIN cs{i} cb ON cb.sym = p.b
      ORDER BY score_q DESC, pair LIMIT 1
    )"""
        )
        if i != n_merges - 1:
            parts.append(
                f""",
    w{i + 1} AS MATERIALIZED (
      SELECT replace(replace(w, ' ' || pair || ' ',
                             ' ' || replace(pair, ' ', '') || ' '),
                     ' ' || pair || ' ',
                     ' ' || replace(pair, ' ', '') || ' ') AS w, freq
      FROM w{i}, b{i}
    )"""
            )
    return "".join(parts)


def wordpiece_oracle_sql(
    n_merges: int = 10,
    vocab_cap: int = 4000,
    corpus_sql: str = "SELECT text FROM documents",
) -> str:
    """DuckDB replay of :func:`wordpiece_train`: the same recurrence
    unrolled as per-round CTEs (symbol counts → ratio-scored pair
    counts → argmax → double-replace)."""
    selects = [
        f"""
    SELECT CAST({i + 1} AS BIGINT) AS merge_rank, pair,
           replace(pair, ' ', '') AS merged, cnt, score_q
    FROM b{i}"""
        for i in range(n_merges)
    ]
    return _wp_cte_chain(n_merges, vocab_cap, corpus_sql) + (
        "\n    UNION ALL".join(selects)
    )


def wordpiece_encode_oracle_sql(
    n_merges: int = 10,
    vocab_cap: int = 4000,
    corpus_sql: str = "SELECT doc_id, text FROM documents",
) -> str:
    """DuckDB replay of train-then-:func:`wordpiece_encode`: the
    training chain derives the vocabulary (w0's alphabet + every
    merge output), then the greedy MaxMatch is unrolled ``MAX_WP_WORD``
    steps deep over the distinct corpus words — per step, the longest
    matching piece at the cursor is ``substr(word, pos+1,
    max(len(piece)))`` over a LEFT JOIN against the vocabulary, a
    no-match collapses the word to ``[UNK]``, and over-long words are
    ``[UNK]`` at step 0 — then the per-word segmentations reassemble
    in document order with ``|`` boundaries (the unigram encode oracle
    shape)."""
    return (
        wordpiece_encode_chain_sql(n_merges, vocab_cap, corpus_sql)
        + """
    SELECT doc_id, n_words, n_unk, n_tokens, seg_fp FROM encres"""
    )


def wordpiece_encode_chain_sql(
    n_merges: int = 10,
    vocab_cap: int = 4000,
    corpus_sql: str = "SELECT doc_id, text FROM documents",
    with_kw: bool = True,
    train_sql: str | None = None,
) -> str:
    """The train-then-encode replay as a ``WITH`` chain ending at the
    ``encres`` CTE ``(doc_id, n_words, n_unk, n_tokens, seg_fp)`` —
    spliceable into composed-pipeline oracles (pretrain_pipeline_v6);
    ``corpus_sql`` may reference CTEs the caller defined earlier.
    ``train_sql`` (optional) trains the vocabulary on a DIFFERENT
    corpus than the one encoded — the persisted-tokenizer posture
    (streaming_pretrain_v6 trains on the frozen reference half and
    encodes each arriving batch); default trains on ``corpus_sql``
    itself, byte-identical to the pre-r11 generator."""
    W = MAX_WP_WORD
    chain = _wp_cte_chain(
        n_merges,
        vocab_cap,
        f"SELECT text FROM ({train_sql or corpus_sql})",
        with_kw,
    )
    merges = " UNION ALL ".join(
        f"SELECT replace(pair, ' ', '') AS piece FROM b{i}"
        for i in range(n_merges)
    )
    parts = [
        chain,
        f""",
    vocab AS MATERIALIZED (
      SELECT DISTINCT piece FROM (
        SELECT unnest(list_filter(string_split(w, ' '), x -> x <> '')) AS piece
        FROM w0
        UNION ALL
        {merges}
      )
    ),
    gw AS MATERIALIZED (
      SELECT DISTINCT word FROM (
        SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
        FROM ({corpus_sql})
      ) WHERE word <> ''
    ),
    g0 AS MATERIALIZED (
      SELECT word, 0 AS pos, '' AS seg,
             strlen(word) > {W} AS unk,
             strlen(word) > {W} AS done
      FROM gw
    )""",
    ]
    for k in range(1, W + 1):
        parts.append(
            f""",
    g{k} AS MATERIALIZED (
      SELECT word, pos,
             CASE WHEN unk THEN '{UNK}' ELSE seg END AS seg, unk, done
      FROM g{k - 1} WHERE done
      UNION ALL
      SELECT g.word,
             g.pos + COALESCE(max(strlen(v.piece)), 0) AS pos,
             CASE WHEN max(strlen(v.piece)) IS NULL THEN '{UNK}'
                  ELSE g.seg || CASE WHEN g.seg = '' THEN '' ELSE ' ' END ||
                       substr(g.word, CAST(g.pos + 1 AS BIGINT),
                              CAST(max(strlen(v.piece)) AS BIGINT))
             END AS seg,
             max(strlen(v.piece)) IS NULL AS unk,
             max(strlen(v.piece)) IS NULL
               OR g.pos + COALESCE(max(strlen(v.piece)), 0) >= strlen(g.word)
               AS done
      FROM g{k - 1} g LEFT JOIN vocab v
        ON v.piece = substr(g.word, CAST(g.pos + 1 AS BIGINT),
                            CAST(strlen(v.piece) AS BIGINT))
      WHERE NOT g.done
      GROUP BY g.word, g.pos, g.seg, g.unk
    )"""
        )
    parts.append(
        f""",
    wseg AS MATERIALIZED (
      SELECT word, seg, unk FROM g{W}
    ),
    dwords AS MATERIALIZED (
      SELECT doc_id, w.word, w.ord
      FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(text), '[^a-z]+')) AS word,
               generate_subscripts(
                 string_split_regex(lower(text), '[^a-z]+'), 1) AS ord
        FROM ({corpus_sql})
      ) w WHERE w.word <> ''
    ),
    encres AS MATERIALIZED (
      SELECT d.doc_id,
             COALESCE(CAST(count(g.seg) AS BIGINT), 0) AS n_words,
             COALESCE(CAST(sum(CASE WHEN g.unk THEN 1 ELSE 0 END) AS BIGINT),
                      0) AS n_unk,
             COALESCE(CAST(sum(len(string_split(g.seg, ' '))) AS BIGINT),
                      0) AS n_tokens,
             md5(COALESCE(string_agg(g.seg, ' | ' ORDER BY dw.ord), ''))
               AS seg_fp
      FROM ({corpus_sql}) d
      LEFT JOIN dwords dw ON dw.doc_id = d.doc_id
      LEFT JOIN wseg g ON g.word = dw.word
      GROUP BY d.doc_id
    )"""
    )
    return "".join(parts)


# ---------------------------------------------------------------------------
# Tokenizer persistence (r10): versioned vocabularies through the
# indexstore manifest — the save_quality_weights discipline
# ---------------------------------------------------------------------------

#: store subdirectory for tokenizer vocabularies
TOKENIZER_SUB = "tokenizers"


def save_wordpiece_vocab(spark, store_dir: str, vocab: set[str], seq: int) -> str:
    """Persist a trained WordPiece vocabulary as version ``t{seq}``
    through the indexstore manifest (operators/indexstore.py — the
    quality-weights discipline): parquet data FIRST, atomic manifest
    commit LAST, so a torn save is invisible and a label-scoped replay
    overwrites its own directory and commits once.  Idempotent per
    seq.  Returns the label."""
    import os

    from .indexstore import commit_ingest, ingest_paths, write_artifact_parquet

    label = f"t{seq}"
    path = ingest_paths(store_dir, TOKENIZER_SUB, [label])[0]
    # bounded artifact (alphabet + n_merges rows): driver-side parquet
    # write, no distributed job (r13)
    write_artifact_parquet(
        path, sorted((p,) for p in vocab), "piece string"
    )
    os.makedirs(store_dir, exist_ok=True)
    commit_ingest(store_dir, label, max_id=None, kind="tokenizer", seq=seq)
    return label


def load_wordpiece_vocab(
    spark, store_dir: str, seq: int | None = None
) -> tuple[set[str], str]:
    """Read a committed vocabulary version (highest ``seq`` when None)
    — manifest-scoped, so torn saves are invisible; the collect is the
    bounded trained artifact (alphabet + n_merges rows)."""
    from .indexstore import read_artifact_rows, resolve_version

    best = resolve_version(store_dir, "tokenizer", seq, "WordPiece vocabulary")
    rows = read_artifact_rows(store_dir, TOKENIZER_SUB, [best["label"]])
    return {r["piece"] for r in rows}, best["label"]
