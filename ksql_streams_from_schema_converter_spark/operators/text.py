"""Text-analysis operators for large-scale training-data pipelines.

All hot-path logic is native Catalyst expressions (split / regexp /
aggregate) — whole-stage-codegen friendly, no Python UDFs — so these
scale linearly with executors over 100 TB of documents. Every function
has deterministic, SQL-expressible semantics so the DuckDB oracle can
replicate it exactly (the driver's correctness gate).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Explicit whitespace class used in every tokenization regex: Java's \s
# includes U+000B (vertical tab) while RE2's (the oracle engine's) does
# not — spelling the class out keeps both engines on identical semantics.
WS_CLASS = r" \t\n\f\r"

# Small multilingual stopword sets for the language-ID heuristic.
# Deliberately tiny + frozen: the oracle SQL embeds the same lists.
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "that", "was"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "von"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des", "que", "pour"],
}


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization of trimmed, lowercased text (explicit
    whitespace class — see WS_CLASS)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(F.lower(c)), f"[{WS_CLASS}]+")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def stopword_count(text: Column | str, lang: str = "en") -> Column:
    toks = tokens(text)
    words = STOPWORDS[lang]
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def punct_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    # count of non-alphanumeric, non-space characters
    return F.length(F.regexp_replace(c, f"[A-Za-z0-9{WS_CLASS}]", ""))


def normalize(text: Column | str) -> Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace, trim."""
    c = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(c), f"[{WS_CLASS}]+", " "))


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 of the normalized text (exact-dup key).
    md5 is bit-identical across engines, so the oracle can reproduce it."""
    return F.md5(normalize(text))


def ngrams_from_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles from a token-array column.

    Built as ``arrays_zip`` of the n shifted slices of the token array,
    then a ``transform`` whose lambda touches ONLY its own variable.
    This shape is load-bearing for performance: a lambda that referenced
    the token expression itself (e.g. ``element_at(toks, i+j)``) would
    re-evaluate it per element — and even a pre-materialized column gets
    re-inlined by CollapseProject once column pruning leaves it with a
    single reference, silently turning O(len) into O(len²) (observed
    16× on the repetition workload). With slices, the outer expression
    is evaluated a constant n times per row, whatever the optimizer
    collapses. Documents shorter than ``n`` tokens yield an empty array
    (slice length clamps to 0), and a NULL token array also yields an
    empty array (coalesce below) — the slice/arrays_zip chain would
    otherwise propagate NULL, changing the word_ngrams/minhash contract
    for dirty rows."""
    if n < 2:
        return toks
    width = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    slices = [F.slice(toks, j + 1, width).alias(f"g{j}") for j in range(n)]
    return F.coalesce(
        F.transform(
            F.arrays_zip(*slices),
            lambda s: F.concat_ws(" ", *[s[f"g{j}"] for j in range(n)]),
        ),
        F.array().cast("array<string>"),
    )


def word_ngrams(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles (space-joined), 1-based positions. Documents
    shorter than ``n`` tokens yield an empty array. Convenience form —
    for hot paths prefer materializing :func:`tokens` into a column and
    calling :func:`ngrams_from_tokens` (see its performance note)."""
    return ngrams_from_tokens(tokens(text), n)


# GPT-2-style pre-tokenizer pattern, simplified to the RE2-compatible
# subset (no lookahead, explicit whitespace class) so the oracle engine
# runs the exact same regex: contractions, letter runs, digit runs,
# punctuation runs, whitespace.
BPE_PATTERN = (
    r"'s|'t|'re|'ve|'m|'ll|'d"
    rf"| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9{WS_CLASS}]+|[{WS_CLASS}]+"
)


def bpe_tokens(text: Column | str) -> Column:
    """BPE-ish pre-tokenization (the approximate 'how many LLM tokens is
    this corpus' counter — exact BPE needs a merges table; the
    pre-tokenizer split is the standard cheap estimate)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(c, F.lit(BPE_PATTERN), 0)


def bpe_token_count(text: Column | str) -> Column:
    return F.size(bpe_tokens(text))


ROLLING_BASE = 31
ROLLING_MOD = 1_000_000_007


def token_hash(tok: Column) -> Column:
    """16-bit token hash from the md5 prefix — reproducible in plain SQL
    (hex-nibble arithmetic) for the oracle."""
    return F.conv(F.substring(F.md5(tok), 1, 4), 16, 10).cast("bigint")


def token_hashes(toks: Column) -> Column:
    return F.transform(toks, token_hash)


def rolling_from_hashes(hashes: Column) -> Column:
    """Fold-left ``acc = (acc*B + h) % M`` with a zero seed (identical
    to seeding with the first hash, since h1 < M), NULL for empty input.
    Pass a *materialized* hash column: it is referenced twice and
    higher-order functions get no common-subexpression elimination."""
    return F.when(
        F.size(hashes) > 0,
        F.aggregate(
            hashes,
            F.lit(0).cast("bigint"),
            lambda acc, x: (acc * ROLLING_BASE + x) % ROLLING_MOD,
        ),
    ).otherwise(F.lit(None).cast("bigint"))


def rolling_fingerprint(toks: Column) -> Column:
    """Polynomial rolling hash (Rabin-Karp style) over the token-hash
    sequence — order-sensitive, so reordered documents get different
    fingerprints (unlike the bag-of-words md5 fingerprint). Convenience
    form; hot paths should materialize :func:`token_hashes` into a
    column and use :func:`rolling_from_hashes`."""
    return rolling_from_hashes(token_hashes(toks))


def lang_id(text: Column | str) -> Column:
    """Heuristic language ID: argmax of stopword hits (ties → lexicographic
    first language code, 'und' when no stopwords hit at all)."""
    scores = [(lang, stopword_count(text, lang)) for lang in sorted(STOPWORDS)]
    best_score = F.greatest(*[s for _, s in scores])
    expr = F.lit("und")
    # reversed so earlier languages win ties
    for lang, score in reversed(scores):
        expr = F.when((score == best_score) & (best_score > 0), F.lit(lang)).otherwise(expr)
    return expr


# PII patterns, RE2-compatible (no lookaround) so the oracle engine can
# run the byte-identical regex. URL first: emails inside URLs must not
# be double-redacted.
PII_PATTERNS = [
    ("url", r"https?://[^ \t\n\f\r]+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+", "<EMAIL>"),
    ("phone", r"[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
]


def redact_pii(text: Column | str) -> Column:
    """Replace URLs, emails and phone-shaped digit runs with typed
    placeholder tokens — the standard pre-training scrub pass. Pure
    ``regexp_replace`` chain: whole-stage codegen, no Python."""
    c = F.col(text) if isinstance(text, str) else text
    for _, pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def pii_counts(text: Column | str) -> dict[str, Column]:
    """Per-kind redaction counts (how much PII a scrub pass would remove).
    Counted on the same progressively-redacted text the replacement chain
    sees, so counts always equal the number of substitutions made."""
    c = F.col(text) if isinstance(text, str) else text
    out: dict[str, Column] = {}
    for kind, pat, repl in PII_PATTERNS:
        out[kind] = F.size(F.regexp_extract_all(c, F.lit(pat), 0))
        c = F.regexp_replace(c, pat, repl)
    return out


def repetition_metrics(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality signals, all exact integers:
    token/2-gram totals, distinct counts, and the top 2-gram's frequency
    (a high ``top_2gram_count / n_2grams`` marks degenerate repetition).

    Distributed shape: the most-frequent-2-gram count needs a per-(doc,
    gram) aggregation — explode + two partial-agg shuffles keyed by
    doc_id, never a per-document O(n²) higher-order scan. Documents with
    <2 tokens survive via the left join (zero-filled). The token array
    is materialized into a column BEFORE the n-gram transform (see
    :func:`ngrams_from_tokens`'s performance note — an embedded split
    would re-tokenize per element)."""
    base = docs.select(F.col(id_col), tokens(text_col).alias("__t")).select(
        F.col(id_col),
        F.size("__t").alias("n_tokens"),
        F.size(F.array_distinct("__t")).alias("n_distinct_tokens"),
        ngrams_from_tokens(F.col("__t"), 2).alias("grams"),
    )
    gram_stats = (
        base.select(id_col, F.explode("grams").alias("gram"))
        .groupBy(id_col, "gram")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_2grams"),
            F.count("*").alias("n_distinct_2grams"),
            F.max("c").alias("top_2gram_count"),
        )
    )
    return base.drop("grams").join(gram_stats, id_col, "left").select(
        id_col,
        "n_tokens",
        "n_distinct_tokens",
        F.coalesce("n_2grams", F.lit(0)).cast("bigint").alias("n_2grams"),
        F.coalesce("n_distinct_2grams", F.lit(0)).cast("bigint").alias("n_distinct_2grams"),
        F.coalesce("top_2gram_count", F.lit(0)).cast("bigint").alias("top_2gram_count"),
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window chunking: token windows of ``chunk_tokens`` with
    ``overlap`` tokens of context carried between consecutive chunks
    (stride = chunk_tokens - overlap) — the standard layout for RAG
    indexing and long-doc training. One row per (doc, chunk), exact and
    deterministic: chunk k covers tokens [k*stride+1, k*stride+chunk]
    (1-based, clamped at the document end).

    All-native: sequence + explode + slice; the token array is
    materialized into a column before the explode so each chunk slice
    is O(chunk), not a re-tokenization."""
    stride = chunk_tokens - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than chunk_tokens")
    toked = docs.select(F.col(id_col), tokens(text_col).alias("__t"))
    n_chunks = F.ceil(F.size("__t") / F.lit(float(stride))).cast("int")
    # NULL-guard the sequence: Spark's sequence(0, -1) counts DOWN to
    # [0, -1] (the documented trap), which would emit two bogus rows for
    # a 0-token document where the oracle's generate_series(0, -1) is
    # empty. explode(NULL) drops the row, matching the oracle's 0 rows —
    # previously unreachable only because tokens() never returns an
    # empty array, a fragile invariant this removes.
    ks = toked.select(
        id_col,
        "__t",
        F.explode(
            F.when(n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1))
        ).alias("chunk_idx"),
    )
    window = F.slice("__t", F.col("chunk_idx") * stride + 1, chunk_tokens)
    return ks.select(
        id_col,
        "chunk_idx",
        F.array_join(window, " ").alias("chunk_text"),
        F.size(window).alias("n_chunk_tokens"),
    )


def gopher_quality_flags(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 30,
    max_tokens: int = 90,
    min_mean_word_len: int = 4,
    max_mean_word_len: int = 5,
    max_symbol_ratio_pct: int = 10,
    min_stopwords: int = 2,
    min_alpha_token_pct: int = 80,
) -> DataFrame:
    """Gopher-style rule-based document filter (Rae et al., "Scaling
    Language Models: ... Gopher", 2021 §A1.1): per-document boolean
    rule columns plus the conjunctive ``keep`` verdict.

    Every rule is evaluated in EXACT integer arithmetic (ratio bounds
    become cross-multiplications), so the verdict is bit-identical
    across engines — no float thresholds to drift. All-native
    expressions over one projection: map-side only, no shuffle; at
    100 TB this is a pure scan→filter stage that pushes the kept-doc
    projection straight into the parquet scan."""
    toks = tokens(text_col)
    # NULL-guard the verdict (same contract as c4_clean/ngrams): a NULL
    # document must land in the REJECTED partition (all flags false,
    # n_tokens 0), not vanish from both keep and reject via NULL flags.
    # NB size(NULL) is -1 under the ANSI-off legacy default, so the
    # guard must test the array, not coalesce the size.
    n_tok = F.when(toks.isNull(), F.lit(0)).otherwise(F.size(toks))
    # total non-whitespace chars == sum of token lengths (exact)
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    n_word_chars = F.length(F.regexp_replace(F.trim(c), f"[{WS_CLASS}]+", ""))
    n_alpha_toks = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))

    def guarded(flag):
        return F.coalesce(flag, F.lit(False))

    return docs.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        guarded((n_tok >= min_tokens) & (n_tok <= max_tokens)).alias("ok_word_count"),
        guarded(
            (n_word_chars >= min_mean_word_len * n_tok)
            & (n_word_chars <= max_mean_word_len * n_tok)
        ).alias("ok_mean_word_len"),
        guarded(
            punct_count(text_col) * 100 <= max_symbol_ratio_pct * n_tok
        ).alias("ok_symbol_ratio"),
        guarded(stopword_count(text_col) >= min_stopwords).alias("ok_stopwords"),
        guarded(n_alpha_toks * 100 >= min_alpha_token_pct * n_tok).alias(
            "ok_alpha_tokens"
        ),
    ).select(
        id_col,
        "n_tokens",
        "ok_word_count",
        "ok_mean_word_len",
        "ok_symbol_ratio",
        "ok_stopwords",
        "ok_alpha_tokens",
        (
            F.col("ok_word_count")
            & F.col("ok_mean_word_len")
            & F.col("ok_symbol_ratio")
            & F.col("ok_stopwords")
            & F.col("ok_alpha_tokens")
        ).alias("keep"),
    )


# C4 line-cleaning blocklist (Raffel et al., JMLR 2020 §2.2): lines
# containing these substrings are dropped outright. Frozen so the
# oracle SQL embeds the identical list.
C4_BLOCKLIST = ["javascript", "lorem ipsum", "{"]
# \z (absolute end), NOT $: Java's non-MULTILINE $ matches before a
# final line terminator, so a CRLF document's "line.\r" would pass in
# Spark but fail in the RE2/Python twins ($ there is end-of-text) —
# exactly the cross-engine divergence class WS_CLASS exists to prevent
C4_TERMINAL_RE = "[.!?\"']\\z"


def c4_line_keep(line: Column, min_words: int = 5) -> Column:
    """C4's per-line keep predicate (Raffel et al., JMLR 2020 §2.2):
    the line ends in terminal punctuation, has at least ``min_words``
    words, and contains no blocklisted substring (curly brace /
    boilerplate markers). Pure column expression — usable inside a
    higher-order ``filter`` lambda, so the whole rule set stays in
    whole-stage codegen."""
    keep = (
        line.rlike(C4_TERMINAL_RE)
        & (F.size(F.split(F.trim(line), f"[{WS_CLASS}]+")) >= min_words)
    )
    for bad in C4_BLOCKLIST:
        keep = keep & ~F.contains(F.lower(line), F.lit(bad))
    return keep


def c4_clean(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 5,
    min_kept_lines: int = 3,
) -> DataFrame:
    """C4 line-level cleaning (Raffel et al., JMLR 2020 §2.2): split
    each document on newlines, keep only lines that pass
    :func:`c4_line_keep`, reassemble the cleaned text, and flag
    documents retaining at least ``min_kept_lines`` lines (C4 drops
    pages with <3 sentences; the line is our sentence unit).

    Output: ``(id, n_lines, n_kept, cleaned, keep)`` — one row per
    input document, cleaned text NULL-safe (a NULL document yields
    0/0/NULL/false rather than propagating NULL into the verdict).

    Scale shape: one map-side projection, zero shuffles. The split and
    the higher-order ``filter`` run per-row inside codegen; each lambda
    touches only its own line variable, so cost is O(total chars) — no
    re-evaluation of the source array per element (the CollapseProject
    trap documented at :func:`ngrams_from_tokens` does not bite here
    because the lambda never references the outer array)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    lines = F.coalesce(F.split(c, "\n"), F.array().cast("array<string>"))
    kept = F.filter(lines, lambda l: c4_line_keep(l, min_words))
    return docs.select(
        F.col(id_col),
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept"),
        F.array_join(kept, "\n").alias("cleaned"),
        (F.size(kept) >= min_kept_lines).alias("keep"),
    )


def token_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document integer quality metrics (exact, oracle-checkable)."""
    return docs.select(
        F.col(id_col),
        token_count(text_col).alias("n_tokens"),
        stopword_count(text_col).alias("n_stopwords"),
        punct_count(text_col).alias("n_punct"),
        F.length(text_col).alias("n_chars_measured"),
    )


def quality_score(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Composite quality score in [0,1] (length, stopword density, mean
    token length) — the usual pre-training heuristic filter. Kept as a
    double; compare rows-only or via rounded casts."""
    toks = tokens(text_col)
    n_tok = F.size(toks)
    mean_len = F.length(F.trim(F.col(text_col))) / F.greatest(n_tok, F.lit(1))
    stop_ratio = stopword_count(text_col) / F.greatest(n_tok, F.lit(1))
    length_ok = F.when((n_tok >= 10) & (n_tok <= 1000), 1.0).otherwise(0.3)
    stop_ok = F.when(stop_ratio > 0.01, 1.0).otherwise(0.5)
    len_ok = F.when((mean_len >= 2.5) & (mean_len <= 12), 1.0).otherwise(0.5)
    return docs.select(
        F.col(id_col),
        F.round((length_ok * 0.4 + stop_ok * 0.3 + len_ok * 0.3), 4).alias("quality"),
    )


def unigram_surprisal_scores(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """CCNet-shaped LM quality signal (Wenzek et al., LREC 2020 §3.3)
    without an external language model: train the unigram LM ON the
    corpus (token occurrence counts) and score every document by its
    total integer surprisal

        surprisal(doc) = Σ_occurrences bitlen(T div c(tok))

    where ``T`` is the corpus token count and ``c(tok)`` the token's
    count — ``bitlen`` (= ⌊log2⌋ + 1 via base-2 string length, exact
    and identical on both engines) stands in for the float ``-log p``
    a real LM emits, keeping the whole score in BIGINT so the driver
    hash gate can check the values, not just the ordering.  Common
    tokens contribute small surprisal, rare ones large — low-scoring
    documents are the fluent "head", high-scoring the noisy "tail",
    exactly the signal CCNet buckets on.

    Scale: occurrences are first collapsed to ``(doc, tok, n)`` counts
    (VERDICT r8 #6 — the score join's shuffle shrinks by the
    repetition factor, and repeated tokens are exactly the skewed
    ones), then one token-keyed count shuffle (map-side combined), a
    1-row total broadcast, one token-keyed score join against the
    aggregated table with the doc-sum computed as ``sum(s*n)``, one
    doc-keyed sum — every stage partial-aggregates; nothing
    vocabulary-sized reaches the driver.  Documents with no tokens
    drop out (no LM evidence), as in the SQL formulation."""
    occ = (
        docs.select(
            F.col(id_col),
            F.explode(
                F.filter(tokens(text_col), lambda t: t != "")
            ).alias("tok"),
        )
        .groupBy(id_col, "tok")
        .agg(F.count("*").alias("n"))
    )
    cnt = occ.groupBy("tok").agg(F.sum("n").alias("c"))
    total = cnt.agg(F.sum("c").alias("T"))
    sp = cnt.crossJoin(F.broadcast(total)).select(
        "tok",
        F.length(F.conv(F.expr("T div c").cast("string"), 10, 2))
        .cast("long")
        .alias("s"),
    )
    return (
        occ.join(sp, "tok")
        .groupBy(id_col)
        .agg(F.sum(F.col("s") * F.col("n")).alias("surprisal"))
    )


def _bitlen(col: Column) -> Column:
    """``bit_length`` of a positive BIGINT column via base-2 rendering
    — exact and identical on both engines (= ``length(bin(x))`` in
    DuckDB, the unigram-surprisal idiom)."""
    return F.length(F.conv(col.cast("string"), 10, 2)).cast("long")


#: stupid-backoff penalty in integer bits (~ -log2 0.4 rounded up —
#: Brants et al., "Large Language Models in Machine Translation",
#: EMNLP 2007 use alpha = 0.4)
BACKOFF_BITS = 2


def bigram_lm_counts(
    ref_docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """The trained bigram-LM ARTIFACT over a reference corpus: one
    table ``(kind, w1, w2, c)`` holding the bigram counts
    (kind='c2') and unigram counts (kind='cu'; w1 NULL) — exactly the
    counts :func:`bigram_backoff_surprisal` derives internally, so
    scoring under this table is value-identical to scoring with
    ``ref_docs``.  The unigram-context totals c1 and the corpus total
    U are derived at load (sums over the stored rows), keeping the
    persisted artifact minimal and internally consistent by
    construction.  Vocabulary-sized: persist and load it as a
    DataFrame (save/load_bigram_lm) — it must never be collected."""
    toks = F.filter(tokens(text_col), lambda t: t != "")
    base = ref_docs.select(toks.alias("t"))
    c2 = (
        base.where(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t)-1), "
                    "j -> struct(element_at(t, j) AS w1, "
                    "element_at(t, j+1) AS w2))"
                )
            ).alias("p")
        )
        .groupBy("p.w1", "p.w2")
        .agg(F.count("*").alias("c"))
        .select(F.lit("c2").alias("kind"), "w1", "w2", "c")
    )
    cu = (
        base.select(F.explode("t").alias("w2"))
        .groupBy("w2")
        .agg(F.count("*").alias("c"))
        .select(
            F.lit("cu").alias("kind"),
            F.lit(None).cast("string").alias("w1"),
            "w2",
            "c",
        )
    )
    return c2.unionByName(cu)


def bigram_backoff_surprisal(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ref_docs: DataFrame | None = None,
    lm: DataFrame | None = None,
) -> DataFrame:
    """Bigram-LM document scoring with stupid backoff — the next rung
    of the CCNet-style LM-quality ladder above
    :func:`unigram_surprisal_scores` (Wenzek et al. LREC 2020 score
    with a 5-gram KenLM; the backoff recurrence here is the same
    family at order 2, in exact integer arithmetic so the driver hash
    gate checks VALUES).

    The LM is trained on the REFERENCE half of the corpus (documents
    with even id — the "train on the clean reference, score
    everything" posture; CCNet trains on Wikipedia) and scores EVERY
    document, so backoff genuinely triggers on the held-out half:

    - bigram seen in reference:  ``s = bitlen(c1(w1) div c2(w1,w2))``
      (integer stand-in for -log2 P(w2|w1))
    - unseen bigram, seen unigram: ``s = BACKOFF_BITS +
      bitlen(U div cu(w2))`` (stupid backoff to the unigram model)
    - out-of-vocabulary w2: ``s = BACKOFF_BITS + bitlen(U) + 1``
      (the count-1/2 OOV floor — one bit beyond the rarest unigram)

    Output per document (>= 2 tokens): ``n_bigrams``, total integer
    ``surprisal``, and ``bpb_milli = surprisal*1000 div n_bigrams``
    (milli-bits per bigram — the length-normalized perplexity proxy a
    quality gate thresholds on).

    Scale: occurrences collapse to ``(doc, w1, w2, n)`` FIRST (the
    VERDICT r8 #6 pre-aggregation — repeated bigrams are exactly the
    skewed join keys), counts are map-side-combined keyed shuffles,
    the three score joins are keyed on (w1,w2)/w1/w2 with the 1-row
    total broadcast, and the doc-sum is ``sum(s*n)``.  Nothing
    vocabulary-sized reaches the driver."""
    toks = F.filter(tokens(text_col), lambda t: t != "")

    def _occ(frame: DataFrame) -> DataFrame:
        b = frame.select(F.col(id_col), toks.alias("t"))
        return (
            b.where(F.size("t") >= 2)
            .select(
                id_col,
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(t)-1), "
                        "j -> struct(element_at(t, j) AS w1, "
                        "element_at(t, j+1) AS w2))"
                    )
                ).alias("p"),
            )
            .groupBy(id_col, "p.w1", "p.w2")
            .agg(F.count("*").alias("n"))
        )

    base = docs.select(F.col(id_col), toks.alias("t"))
    occ = _occ(docs)
    # reference model: a PERSISTED count table (``lm`` — the frozen-
    # artifact posture: save_bigram_lm/load_bigram_lm, nothing
    # retrained or re-counted at scoring time), an explicit frozen
    # reference corpus (``ref_docs`` — counted via bigram_lm_counts,
    # which needs only ``text_col``; ADVICE r11 flagged the old
    # _occ(ref_docs) path's undocumented id_col requirement), or the
    # even-id half of the scored input (the default CCNet posture).
    if ref_docs is not None and lm is None:
        lm = bigram_lm_counts(ref_docs, text_col)
    if lm is not None:
        c2 = lm.where(F.col("kind") == "c2").select(
            "w1", "w2", F.col("c").alias("c2")
        )
        cu = lm.where(F.col("kind") == "cu").select(
            "w2", F.col("c").alias("cu")
        )
    else:
        ref = occ.where((F.col(id_col) % 2) == 0)
        ref_base = base.where((F.col(id_col) % 2) == 0)
        c2 = ref.groupBy("w1", "w2").agg(F.sum("n").alias("c2"))
        cu = (
            ref_base
            .select(F.explode("t").alias("w2"))
            .groupBy("w2")
            .agg(F.count("*").alias("cu"))
        )
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    total = cu.agg(F.sum("cu").alias("U"))
    sc = (
        occ.join(c2, ["w1", "w2"], "left")
        .join(c1, "w1", "left")
        .join(cu, "w2", "left")
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            "n",
            F.when(
                F.col("c2").isNotNull(), _bitlen(F.expr("c1 div c2"))
            )
            .when(
                F.col("cu").isNotNull(),
                F.lit(BACKOFF_BITS) + _bitlen(F.expr("U div cu")),
            )
            .otherwise(F.lit(BACKOFF_BITS) + _bitlen(F.col("U")) + 1)
            .alias("s"),
        )
    )
    agg = sc.groupBy(id_col).agg(
        F.sum("n").alias("n_bigrams"),
        F.sum(F.col("s") * F.col("n")).alias("surprisal"),
    )
    return agg.select(
        id_col,
        "n_bigrams",
        "surprisal",
        F.expr("surprisal * 1000 div n_bigrams").alias("bpb_milli"),
    )


# ---------------------------------------------------------------------------
# Bigram-LM persistence (r11): versioned count tables through the
# indexstore manifest — the tokenizer-store discipline applied to the
# LM family, completing the frozen-artifact symmetry the streaming v6
# gate depends on (tokenizer AND language model both load from a store)
# ---------------------------------------------------------------------------

#: store subdirectory for bigram-LM count tables
BIGRAM_LM_SUB = "bigram_lms"


def save_bigram_lm(spark, store_dir: str, lm: DataFrame, seq: int) -> str:
    """Persist a trained bigram-LM count table
    (:func:`bigram_lm_counts`) as version ``lm{seq}``: parquet data
    FIRST, atomic manifest commit LAST — torn saves invisible,
    label-scoped replay idempotent.  The artifact is
    VOCABULARY-SIZED, so unlike the tokenizer stores it is written
    and read as a DataFrame (never collected); the write keeps
    Spark's parallelism.  Returns the label."""
    import os

    from .indexstore import commit_ingest, ingest_paths

    label = f"lm{seq}"
    path = ingest_paths(store_dir, BIGRAM_LM_SUB, [label])[0]
    lm.select("kind", "w1", "w2", "c").write.mode("overwrite").parquet(path)
    os.makedirs(store_dir, exist_ok=True)
    commit_ingest(store_dir, label, max_id=None, kind="bigram_lm", seq=seq)
    return label


def load_bigram_lm(
    spark, store_dir: str, seq: int | None = None
) -> tuple[DataFrame, str]:
    """Read a committed LM count table (highest ``seq`` when None) as
    a DataFrame — manifest-scoped, so torn saves are invisible.  Feed
    the result to ``bigram_backoff_surprisal(lm=...)``."""
    from .indexstore import read_ingests, resolve_version

    best = resolve_version(store_dir, "bigram_lm", seq, "bigram LM")
    df = read_ingests(spark, store_dir, BIGRAM_LM_SUB, [best["label"]])
    return df.select("kind", "w1", "w2", "c"), best["label"]
