"""Text-analysis operators: tokenization, quality scoring, language-ID
heuristic, document fingerprinting.

All expressions are JVM-side built-ins / higher-order functions — zero
Python per row, so every operator here is embarrassingly parallel and
shuffle-free (they only add columns). At 100 TB these run at parquet-scan
speed inside whole-stage codegen.

Capability target: the reference delegates the whole scalar-function
surface to Spark (``/root/reference/metaframe/metaframe.py:83-88``,
SURVEY.md §2.3 row 11); these compose those delegated built-ins into the
training-data-pipeline operators the build brief adds on top.
"""

from __future__ import annotations

from typing import Dict, List, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: tiny built-in stopword lists for the language-ID heuristic; callers pass
#: their own ``{lang: words}`` map for real corpora.
STOPWORDS: Dict[str, List[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein", "zu", "den"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "es", "se", "por"],
    "fr": ["le", "la", "de", "et", "que", "en", "un", "est", "se", "pour"],
}


def normalize_text(col) -> Column:
    """Canonical form: lowercase, whitespace collapsed to single spaces."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


#: characters clean_text DELETES: C0 controls (except \t \n), DEL, the
#: zero-width family and the BOM — invisible bytes that fragment dedup
#: keys and token counts without changing what a reader sees.
CLEAN_DELETE_RE = "[\\x00-\\x08\\x0B-\\x1F\\x7F​‌‍﻿]"
#: 1:1 typography fold: curly quotes -> ASCII quotes, en/em dash -> '-',
#: NBSP -> space. Kept as a translate() pair so both engines apply the
#: identical mapping in one pass.
CLEAN_TRANSLATE_SRC = "‘’‚“”„–— "
CLEAN_TRANSLATE_DST = "'''\"\"\"-- "


def clean_text(col) -> Column:
    """Unicode hygiene for crawled text (the CCNet/OSCAR-style scrub that
    runs before any hashing or tokenization): strip invisible characters
    (C0 controls, DEL, zero-widths, BOM), fold curly quotes and dashes
    to their ASCII forms, turn NBSP into a plain space and the ellipsis
    character into ``...``. Mojibake-lite — no charset re-decoding, just
    the high-frequency offenders that make byte-identical paragraphs
    hash differently across mirrors. Row-local codegen (one
    regexp_replace + one translate + one replace), zero shuffle;
    idempotent, so re-running a partially-cleaned corpus is safe."""
    c = col if not isinstance(col, str) else F.col(col)
    c = F.regexp_replace(c, CLEAN_DELETE_RE, "")
    c = F.translate(c, CLEAN_TRANSLATE_SRC, CLEAN_TRANSLATE_DST)
    return F.regexp_replace(c, "…", "...")


def tokens(col) -> Column:
    """Whitespace tokens of the normalized text (array<string>).

    Splits :func:`normalize_text` on single spaces. The whitespace collapse
    MUST happen before the split: ``trim`` strips only ASCII spaces, so
    splitting ``lower(trim(col))`` on ``\\s+`` keeps leading/trailing empty
    strings for tab/newline-edged text (``'\\thello\\n'`` → ``['', 'hello',
    '']``), silently corrupting token counts, shingles and
    quality scores downstream. After collapse+trim no empty element can
    survive the split, so no interpreted per-token filter lambda is needed
    (HOF lambdas are evaluated interpreted and were ~6× the cost of the
    whole tokenize). Empty/whitespace-only documents yield ``[]``, not a
    phantom ``['']``.
    """
    norm = normalize_text(col)
    return F.when(norm == "", F.array().cast("array<string>")).otherwise(
        F.split(norm, " ")
    )


def token_count(col) -> Column:
    return F.size(tokens(col)).cast("long")


#: BPE-ish pre-tokenizer pattern (GPT-2 style, simplified to constructs that
#: behave identically in Java regex (Spark) and RE2 (DuckDB): no lookarounds,
#: no unicode classes): letter runs | digit runs | single non-space symbol.
#: Subword merans are model-specific; a pipeline counts THESE pre-tokens to
#: budget/boundary-split documents before real BPE runs in the trainer.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """Split documents into overlapping fixed-token-budget chunks — the
    context-packing step before tokenization/training. Chunk i covers
    tokens [i·stride, i·stride + max_tokens) with stride = max_tokens −
    overlap, so consecutive chunks share ``overlap`` tokens and every
    token appears in at least one chunk.

    Row-expanding but shuffle-free: posexplode over a per-row sequence;
    each output row re-slices the token array in place. Empty documents
    yield no chunks. Returns (id, chunk_idx, n_tokens, chunk).

    The last chunk index is ``ceil((n - max_tokens) / stride)`` (floored at
    0), NOT ``floor((n - 1) / stride)``: a chunk is only emitted when it
    extends coverage past the previous chunk's end. The naive bound emits a
    trailing chunk wholly contained in its predecessor whenever the final
    stride window is already covered (e.g. 33 tokens, max_tokens=40,
    stride=32 → chunk 1 would be token 33 alone, already inside chunk 0),
    double-counting training text beyond the declared overlap.
    """
    if overlap >= max_tokens:
        raise ValueError("overlap must be smaller than max_tokens")
    stride = max_tokens - overlap
    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_t")).filter(
        F.size("_t") > 0
    )
    return toks.select(
        id_col,
        F.posexplode(
            F.expr(
                f"sequence(0, greatest(cast(ceil((size(_t) - {max_tokens}) "
                f"/ cast({stride} as double)) as bigint), 0))"
            )
        ).alias("chunk_idx", "_s"),
        "_t",
    ).select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(F.expr(f"slice(_t, chunk_idx * {stride} + 1, {max_tokens})"))
        .cast("long")
        .alias("n_tokens"),
        F.expr(
            f"concat_ws(' ', slice(_t, chunk_idx * {stride} + 1, {max_tokens}))"
        ).alias("chunk"),
    )


#: conservative PII patterns, restricted to constructs with identical
#: semantics in Java regex (Spark) and RE2 (DuckDB): no lookarounds.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}\b"


def mask_pii(col) -> Column:
    """Replace email addresses and phone-shaped numbers with placeholder
    tags — the C4-style scrub applied before text enters a training set.
    Two codegen regexp_replace passes, per-row, shuffle-free; patterns are
    deliberately conservative (precision over recall) and RE2-compatible
    so an external engine can reproduce the exact output."""
    masked = F.regexp_replace(col, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(masked, PHONE_RE, "<PHONE>")


def c4_line_filter(
    df: DataFrame,
    text_col: str = "text",
    min_words_per_line: int = 3,
    min_lines: int = 1,
) -> DataFrame:
    """C4-style LINE-level cleaning (Raffel et al. 2020, §2.2 — the public
    rule set behind the C4 corpus): split each document into lines and keep
    only lines that

    - end in terminal punctuation (``. ! ? "``),
    - contain at least ``min_words_per_line`` words,
    - do not contain the placeholder phrase "lorem ipsum" (any case),
    - do not contain a curly brace (code, not prose),
    - do not contain the word "javascript" (enable-JS boilerplate).

    Documents whose surviving line count falls below ``min_lines`` are
    dropped. Returns the input rows (filtered) with ``text_col`` REPLACED
    by the re-joined surviving lines plus ``n_lines_kept`` /
    ``n_lines_total`` yield columns.

    Scale shape: one higher-order ``filter`` lambda over the split-line
    array — per-row whole-stage codegen, no explode, no shuffle, no
    Python. Complements :func:`quality_features` (document-level score):
    run the line scrub first, score the cleaned text after.
    """
    lines = F.split(F.col(text_col), "\n")
    keep = (
        "l -> ("
        "trim(l) RLIKE '[.!?\"]$' "
        f"AND size(filter(split(trim(l), '\\\\s+'), w -> w != '')) >= {int(min_words_per_line)} "
        "AND NOT contains(lower(l), 'lorem ipsum') "
        "AND NOT contains(l, '{') "
        "AND NOT lower(l) RLIKE '\\\\bjavascript\\\\b')"
    )
    out = (
        df.withColumn("_lines", lines)
        .withColumn("_kept", F.expr(f"filter(_lines, {keep})"))
        .withColumn("n_lines_total", F.size("_lines").cast("long"))
        .withColumn("n_lines_kept", F.size("_kept").cast("long"))
        .filter(F.col("n_lines_kept") >= int(min_lines))
        .withColumn(text_col, F.array_join(F.col("_kept"), "\n"))
        .drop("_lines", "_kept")
    )
    return out


def bpe_token_count(col) -> Column:
    """Count of BPE-style pre-tokens (letter runs, digit runs, single
    symbols) — the standard cheap proxy for a trained tokenizer's token
    budget (true BPE counts are model-dependent; pre-token counts bound
    them and split on the same boundaries). Pure codegen regexp —
    per-row, shuffle-free, identical under RE2 so oracles can recompute."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_TOKEN_PATTERN), 0)).cast("long")


def bpe_encode_words(
    words: DataFrame,
    merges: DataFrame,
    word_col: str = "word",
    first_col: str = "first",
    second_col: str = "second",
    rank_col: str = "rank",
    merges_in_hex: bool = False,
) -> DataFrame:
    """REAL byte-level BPE encode of a word relation given a merges table
    — the exact subword segmentation a trained tokenizer produces, not
    the :func:`bpe_token_count` pre-token approximation (SURVEY §7.2
    P3). ``merges`` is the standard published artifact
    (one row per learned merge: ``first``/``second`` symbol strings +
    ``rank``, lower = applied earlier); every training-data budget is
    denominated in the counts this produces.

    Algorithm: each word becomes its UTF-8 byte sequence (symbols are
    2-hex-digit strings, so the alphabet is engine-neutral and any
    merged token is the concatenation of its bytes' hex); then the
    greedy encode loop — find the LOWEST-RANK adjacent pair present,
    merge its LEFTMOST occurrence, repeat to fixpoint. One merge per
    step (the HF-tokenizers heap order) rather than GPT-2's
    all-occurrences-per-pass: for any VALID merges table (each rule's
    constituent symbols are produced by earlier-ranked rules — true of
    every trained BPE vocabulary) the two orders provably coincide,
    because applying rank r can only create pairs whose rank exceeds r;
    one-at-a-time is chosen because a SQL oracle can replay it exactly
    (one recursive-CTE level per merge). Determinism: rank ties broken
    by leftmost position. Duplicate (first, second) rows raise at
    execution (Spark's duplicate-map-key error) — a trained merges
    table never repeats a pair; dedupe upstream if yours does.
    ``merges_in_hex=True`` reads ``first``/``second`` as hex-byte
    symbol strings already (a :func:`bpe_train` result) instead of
    UTF-8 text symbols.

    Returns one row per input word: ``word_col``, ``tokens``
    (array<string> of hex-byte symbols; ``unhex`` recovers the bytes)
    and ``n_tokens`` (long). Cost is O(bytes²) map lookups per word —
    words are short, and the intended call pattern (see
    :func:`bpe_tokenize`) encodes each DISTINCT word once, so at corpus
    scale the loop is paid per vocabulary entry, never per occurrence.
    Everything is row-local codegen over one broadcast rank map — zero
    shuffles, zero Python. Binding discipline as in
    ``winnow_fingerprints``: the rank map, the hash-symbol array, the
    pair-rank array, and the merge position each bind exactly once as
    lambda variables (CollapseProject would otherwise inline the
    defining expression per element — the measured O(n²) pathology)."""
    sym = (
        (lambda c: F.upper(F.col(c)))
        if merges_in_hex
        else (lambda c: F.hex(F.encode(F.col(c), "utf-8")))
    )
    rank_map = merges.agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    F.concat(
                        sym(first_col), F.lit(":"), sym(second_col)
                    ).alias("k"),
                    F.col(rank_col).cast("int").alias("v"),
                )
            )
        ).alias("_mf_ranks")
    )
    pairs_ranks = (
        "zip_with(slice(sym, 1, greatest(size(sym)-1, 0)), "
        "slice(sym, 2, greatest(size(sym)-1, 0)), "
        "(a, b) -> element_at(m, concat(a, ':', b)))"
    )
    # one greedy step: lowest-rank adjacent pair, leftmost occurrence
    step = (
        f"element_at(transform(array({pairs_ranks}), pr -> "
        "CASE WHEN array_min(pr) IS NULL THEN sym ELSE "
        "element_at(transform(array(cast(array_position(pr, array_min(pr)) "
        "as int)), p -> "
        "concat(slice(sym, 1, p-1), "
        "array(concat(element_at(sym, p), element_at(sym, p+1))), "
        "slice(sym, p+2, greatest(size(sym)-p-1, 0)))), 1) END), 1)"
    )
    # total merges <= n_symbols - 1, so a fold over that many steps always
    # reaches the fixpoint (steps past it are no-ops: best rank is NULL);
    # sequence(1, 0) DESCENDS on Spark 4, hence the greatest() floor and
    # the empty-word CASE guard
    sel = (
        "element_at(transform(array(_mf_ranks), m -> "
        "element_at(transform(array(CASE WHEN length(_mf_hx) = 0 "
        "THEN CAST(array() AS array<string>) "
        "ELSE transform(sequence(1, cast(length(_mf_hx)/2 as int)), "
        "i -> substring(_mf_hx, 2*i-1, 2)) END), s0 -> "
        f"aggregate(sequence(1, greatest(size(s0)-1, 1)), s0, "
        f"(sym, ign) -> {step}, sym -> sym)"
        "), 1)), 1)"
    )
    return (
        words.crossJoin(F.broadcast(rank_map))
        .withColumn("_mf_hx", F.hex(F.encode(F.col(word_col), "utf-8")))
        .withColumn("tokens", F.expr(sel))
        .withColumn("n_tokens", F.size("tokens").cast("long"))
        .drop("_mf_hx", "_mf_ranks")
    )


def bpe_train(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    checkpoint_every: int = 8,
) -> DataFrame:
    """Learn a byte-level BPE merges table FROM the corpus (Sennrich et
    al. 2016) — the training half completing the BPE story next to
    :func:`bpe_encode_words`'s encode half: repeatedly count adjacent
    symbol pairs over the frequency-weighted vocabulary, merge the most
    frequent pair everywhere, emit it as the next rank. The result
    feeds straight back into :func:`bpe_tokenize` /
    :func:`bpe_encode_words` with ``merges_in_hex=True`` (learned
    symbols are hex-byte strings — merged byte runs need not be valid
    UTF-8 prefixes, so they are never decoded back to text).

    Determinism: ties on pair count break lexicographically on
    ``(first, second)``; pair counts follow the reference get_stats
    (all adjacent positions, overlaps included — 'aaa' counts (a,a)
    twice) while the apply step merges left-to-right non-overlapping
    (the GPT-2 pass), both matching the published trainer. By
    construction every rule's constituents are produced by earlier
    ranks — exactly the VALID-table precondition under which the encode
    loop's two orders coincide (see :func:`bpe_encode_words`).

    Returns the merges relation ``(first, second, rank)`` in hex symbol
    space. Early-stops when no pair occurs twice (nothing left worth
    merging), so the result may be shorter than ``n_merges``.

    Scale shape: training state is the DISTINCT-pretoken vocabulary
    with frequencies (Heaps-bounded — never the corpus), built with one
    tokenize + groupBy pass; each of the ``n_merges`` iterations is one
    explode → partial-aggregated pair count → deterministic top-1
    (TakeOrderedAndProject) plus a row-local merge-pass rewrite —
    a driver-side loop of bounded jobs, the :func:`~.graph.
    domain_pagerank` pattern, with ``checkpoint_every`` truncating the
    unrolled lineage. In-pipeline training targets domain tokenizers of
    tens-to-hundreds of merges; train 50k-merge production vocabularies
    with a dedicated heap trainer offline and hand THIS engine the
    merges relation."""
    if n_merges < 1:
        raise ValueError(f"bpe_train: n_merges must be >= 1 ({n_merges})")
    if checkpoint_every < 0:
        raise ValueError("bpe_train: checkpoint_every must be >= 0")
    toks = F.regexp_extract_all(
        F.col(text_col), F.lit(BPE_TOKEN_PATTERN), 0
    )
    vocab = (
        df.select(F.explode(toks).alias("_w"))
        .groupBy("_w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("_hx", F.hex(F.encode("_w", "utf-8")))
        .select(
            F.expr(
                "CASE WHEN length(_hx) = 0 THEN CAST(array() AS "
                "array<string>) ELSE transform(sequence(1, "
                "cast(length(_hx)/2 as int)), i -> substring(_hx, 2*i-1, 2)) "
                "END"
            ).alias("syms"),
            "freq",
        )
        .localCheckpoint(eager=True)
    )
    pairs_expr = (
        "zip_with(slice(syms, 1, greatest(size(syms)-1, 0)), "
        "slice(syms, 2, greatest(size(syms)-1, 0)), "
        "(a, b) -> struct(a, b))"
    )
    merges = []
    cur = vocab
    for rank in range(1, int(n_merges) + 1):
        top = (
            cur.select(
                F.explode(F.expr(pairs_expr)).alias("_p"), F.col("freq")
            )
            .groupBy("_p")
            .agg(F.sum("freq").alias("_n"))
            .orderBy(F.col("_n").desc(), F.col("_p.a").asc(), F.col("_p.b").asc())
            .limit(1)
            .collect()
        )
        if not top or top[0]["_n"] < 2:
            break  # nothing occurs twice: merging stops paying
        f, snd = top[0]["_p"]["a"], top[0]["_p"]["b"]
        merges.append((f, snd, rank))
        # GPT-2 merge pass: left-to-right non-overlapping, all
        # occurrences of (f, snd); the merged symbol becomes pending but
        # can never re-match as `first` (f||snd != f)
        merge_pass = (
            "aggregate(syms, named_struct('o', CAST(array() AS "
            "array<string>), 'p', CAST(NULL AS string)), "
            f"(acc, s) -> CASE WHEN acc.p = '{f}' AND s = '{snd}' "
            "THEN named_struct('o', acc.o, 'p', concat(acc.p, s)) "
            "ELSE named_struct('o', CASE WHEN acc.p IS NULL THEN acc.o "
            "ELSE concat(acc.o, array(acc.p)) END, 'p', s) END, "
            "acc -> CASE WHEN acc.p IS NULL THEN acc.o "
            "ELSE concat(acc.o, array(acc.p)) END)"
        )
        cur = cur.select(F.expr(merge_pass).alias("syms"), "freq")
        if checkpoint_every and rank % checkpoint_every == 0:
            cur = cur.localCheckpoint(eager=True)
    spark = df.sparkSession
    return spark.createDataFrame(
        merges or [], "first string, second string, rank int"
    )


def bpe_tokenize(
    df: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    merges_in_hex: bool = False,
    n_special_per_doc: int = 0,
) -> DataFrame:
    """Per-document REAL BPE token counts: pre-tokenize with
    :data:`BPE_TOKEN_PATTERN` (the same boundaries the approximate
    counter uses, so the two are comparable), encode each DISTINCT
    pre-token once with :func:`bpe_encode_words`, and join the counts
    back — giving every document ``n_pretokens`` and ``n_tokens`` (the
    real subword count a trainer would see given this merges table).

    Feed ``n_tokens`` to
    :func:`~metaframe_spark.operators.packing.pack_sequences` /
    :func:`chunk_documents`-style budgets to make them denominated in
    real tokens instead of the regex bound.

    ``n_special_per_doc`` reserves that many special tokens (BOS/EOS,
    document separators) in every document's ``n_tokens`` — trainer
    budgets count the specials the collator inserts, not just the
    subwords, so a downstream token-budget cut
    (:func:`~metaframe_spark.operators.packing.take_token_budget`) only
    matches trainer reality with the reservation included. Applied to
    EVERY document, including zero-pre-token ones (a BOS/EOS still
    wraps an empty document). Default 0 preserves the pure-subword
    count.

    100 TB shape: the O(bytes²) encode loop is paid once per DISTINCT
    pre-token (Heaps'-law bounded — millions of short strings at corpus
    scale, not trillions of occurrences); the per-occurrence work is one
    hash join on the word plus a partial-aggregated groupBy back to the
    document. Zero-pre-token documents survive with ``n_tokens = 0``
    (explode_outer + coalesce), so downstream packing sees the whole
    corpus."""
    if n_special_per_doc < 0:
        raise ValueError(
            f"n_special_per_doc must be >= 0 ({n_special_per_doc})"
        )
    toks = F.regexp_extract_all(
        F.col(text_col), F.lit(BPE_TOKEN_PATTERN), 0
    )
    # the exploded (id, word) relation feeds BOTH the vocabulary branch
    # and the count join — Spark has no cross-branch subplan CSE, so pin
    # it once or the corpus is re-tokenized twice (the caller's
    # persist_scope releases it)
    exploded = df.select(
        F.col(id_col), F.explode_outer(toks).alias("_mf_word")
    ).persist()
    vocab = bpe_encode_words(
        exploded.filter(F.col("_mf_word").isNotNull())
        .select(F.col("_mf_word").alias("word"))
        .distinct(),
        merges,
        merges_in_hex=merges_in_hex,
    ).select("word", "n_tokens")
    return (
        exploded.join(
            vocab, exploded["_mf_word"] == vocab["word"], "left"
        )
        .groupBy(id_col)
        .agg(
            F.count("_mf_word").cast("long").alias("n_pretokens"),
            (
                F.coalesce(F.sum("n_tokens"), F.lit(0))
                + F.lit(int(n_special_per_doc))
            )
            .cast("long")
            .alias("n_tokens"),
        )
    )


def bpe_fertility(
    df: DataFrame,
    merges: DataFrame,
    by: Sequence[str] = ("lang",),
    text_col: str = "text",
    id_col: str = "doc_id",
    merges_in_hex: bool = False,
) -> DataFrame:
    """Tokenizer FERTILITY report: per ``by`` group, how many REAL BPE
    tokens the merges table spends per UTF-8 byte — the standard
    tokenizer-quality metric every multilingual data card prints
    (a vocabulary trained on English spends far more tokens per byte on
    underrepresented scripts; this is the number that shows it).
    Computable honestly only with a real encode — the regex pre-token
    bound is denominator-blind to merges — which is why it lands with
    :func:`bpe_tokenize`.

    Returns one row per group: ``n_docs``, ``n_bytes`` (UTF-8 octets of
    the raw text), ``n_pretokens``, ``n_tokens``, ``tokens_per_byte``
    and ``bytes_per_token`` (both rounded to 6; NULL for an empty-text
    group rather than a division error). Deterministic end-to-end —
    integer sums and single double divisions — so a SQL oracle replays
    it exactly.

    Scale shape: :func:`bpe_tokenize`'s economics (encode per DISTINCT
    word) plus one id-keyed join back to the group keys and one
    partial-aggregated groupBy on ``by`` — output cardinality is the
    group count."""
    counts = bpe_tokenize(
        df.select(id_col, text_col),
        merges,
        text_col,
        id_col,
        merges_in_hex=merges_in_hex,
    )
    base = df.select(
        F.col(id_col),
        *[F.col(c) for c in by],
        F.coalesce(F.octet_length(F.col(text_col)), F.lit(0))
        .cast("long")
        .alias("_mf_bytes"),
    )
    agg = (
        base.join(counts, id_col)
        .groupBy(*by)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_mf_bytes").cast("long").alias("n_bytes"),
            F.sum("n_pretokens").cast("long").alias("n_pretokens"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )
    safe = lambda num, den: F.when(
        F.col(den) > 0,
        F.round(F.col(num).cast("double") / F.col(den), 6),
    )
    return agg.select(
        *by,
        "n_docs",
        "n_bytes",
        "n_pretokens",
        "n_tokens",
        safe("n_tokens", "n_bytes").alias("tokens_per_byte"),
        safe("n_bytes", "n_tokens").alias("bytes_per_token"),
    )


def bpe_chunk_documents(
    df: DataFrame,
    merges: DataFrame,
    max_tokens: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
    merges_in_hex: bool = False,
    n_special_per_chunk: int = 0,
) -> DataFrame:
    """Split documents into chunks whose budgets are REAL BPE token
    counts — the :func:`chunk_documents` capability re-denominated in
    the trained tokenizer's subwords: every pre-token is
    BPE-encoded against ``merges`` (per DISTINCT word, the
    :func:`bpe_tokenize` economics) and the document's pre-token stream
    is cut every ``max_tokens`` real tokens.

    Chunking is WORD-ALIGNED stream-cut: a pre-token belongs to the
    chunk its starting token offset falls in, so chunks never split a
    word; a word straddling the boundary runs its chunk over budget by
    at most ``word_tokens − 1`` (documented trade — RAG and training
    chunkers cut at token-safe word boundaries for exactly this
    reason). Chunk text is the space-joined pre-token sequence, the
    same reconstruction convention :func:`chunk_documents` uses (and
    deliberately no overlap: real-token overlap would re-encode the
    shared words; compose with overlapping char windows upstream when
    overlap matters).

    ``n_special_per_chunk`` reserves that many special-token slots
    (BOS/EOS the collator adds per sequence) in EVERY chunk: the content
    stream is cut every ``max_tokens − n_special_per_chunk`` real
    tokens, and the reported ``n_tokens`` includes the reservation — so
    a chunk's count is exactly what the trainer's ``max_tokens``-sized
    context window receives. ``max_tokens`` must exceed the
    reservation; default 0 preserves the pure-content cut.

    Returns ``(id_col, chunk_idx, n_tokens, chunk)``; empty documents
    yield no chunks. Fully deterministic, so a SQL oracle replays the
    encode + cumulative cut + reassembly and hash-matches the chunk
    text itself.

    Scale shape: the encode is per DISTINCT word; the cumulative token
    offset is a window partitioned BY DOCUMENT (every doc its own
    partition slice — parallel, never a global sort); reassembly is one
    partial-aggregated groupBy on (doc, chunk) with an in-group
    array_sort, shuffle bounded by pre-token volume."""
    from pyspark.sql import Window

    if max_tokens < 1:
        raise ValueError(
            f"bpe_chunk_documents: max_tokens must be >= 1 ({max_tokens})"
        )
    if n_special_per_chunk < 0:
        raise ValueError(
            "bpe_chunk_documents: n_special_per_chunk must be >= 0 "
            f"({n_special_per_chunk})"
        )
    content_budget = int(max_tokens) - int(n_special_per_chunk)
    if content_budget < 1:
        raise ValueError(
            "bpe_chunk_documents: max_tokens must exceed "
            f"n_special_per_chunk ({max_tokens} <= {n_special_per_chunk})"
        )
    toks = F.regexp_extract_all(
        F.col(text_col), F.lit(BPE_TOKEN_PATTERN), 0
    )
    words = df.select(
        F.col(id_col), F.posexplode(toks).alias("_widx", "_w")
    ).persist()
    vocab = bpe_encode_words(
        words.select(F.col("_w").alias("word")).distinct(),
        merges,
        merges_in_hex=merges_in_hex,
    ).select("word", F.col("n_tokens").alias("_wtok"))
    win = (
        Window.partitionBy(id_col)
        .orderBy("_widx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    assigned = (
        words.join(vocab, words["_w"] == vocab["word"])
        .withColumn(
            "_start", (F.sum("_wtok").over(win) - F.col("_wtok")).cast("long")
        )
        .withColumn(
            "_chunk", F.floor(F.col("_start") / F.lit(content_budget))
        )
    )
    return (
        assigned.groupBy(id_col, "_chunk")
        .agg(
            (F.sum("_wtok") + F.lit(int(n_special_per_chunk)))
            .cast("long")
            .alias("n_tokens"),
            F.array_sort(
                F.collect_list(F.struct(F.col("_widx"), F.col("_w")))
            ).alias("_ws"),
        )
        .select(
            id_col,
            F.col("_chunk").cast("long").alias("chunk_idx"),
            "n_tokens",
            F.expr("array_join(transform(_ws, x -> x._w), ' ')").alias(
                "chunk"
            ),
        )
    )


def shingles(tokens_col, n: int = 3) -> Column:
    """Word n-gram strings over a token array (array<string>); empty array
    when the document has fewer than ``n`` tokens.

    Pure higher-order expression: ``transform(sequence(...))`` + ``slice`` —
    no explode, no shuffle; shingle count is len(tokens)-n+1 per row.
    The short-document case MUST be guarded with CASE: ``sequence(1, 0)``
    yields the descending ``[1, 0]`` on Spark 4, and ``slice(_, 0, n)``
    throws INVALID_PARAMETER_VALUE, so a short document must yield an
    empty array, never an error.

    The input binds ONCE as a lambda variable (single-element transform
    wrapper): callers pass a DERIVED column (``tokens(text)`` from a prior
    select), and CollapseProject inlines that split expression into every
    reference here. Simple inlined expressions measured fine (Spark reuses
    the per-row value), but an inlined array-producing HOF re-evaluates
    per lambda element — the failure mode measured at 200 µs/char in
    ``winnow_fingerprints`` — so the binding is kept as the uniform
    discipline for every composable array expression (A/B measured
    speed-neutral here: 0.46 s vs 0.51 s warm on a 20k-token doc).
    """
    return F.expr(
        f"element_at(transform(array({tokens_col}), tk -> "
        f"CASE WHEN size(tk) >= {n} THEN "
        f"transform(sequence(1, size(tk) - {n - 1}), "
        f"i -> concat_ws(' ', slice(tk, i, {n}))) "
        f"ELSE CAST(array() AS array<string>) END), 1)"
    )


def quality_features(
    df: DataFrame,
    text_col: str = "text",
    stopwords: Sequence[str] = tuple(STOPWORDS["en"]),
) -> DataFrame:
    """Add document-quality columns: n_chars, n_tokens, punct_ratio,
    stopword_ratio, and a composite quality_score in [0, 1].

    The score rewards reasonable length, low punctuation density, and a
    natural-language stopword rate — the standard cheap pre-filters before
    expensive LLM-training tokenization.
    """
    sw = ", ".join("'" + w.replace("'", "''") + "'" for w in stopwords)
    out = (
        df.withColumn("n_chars", F.length(text_col).cast("long"))
        .withColumn("_toks", tokens(F.col(text_col)))
        .withColumn("n_tokens", F.size("_toks").cast("long"))
        .withColumn(
            "punct_ratio",
            F.when(F.col("n_chars") > 0,
                   (F.col("n_chars")
                    - F.length(F.regexp_replace(text_col, "[.,;:!?]", "")))
                   / F.col("n_chars")).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "stopword_ratio",
            F.when(
                F.col("n_tokens") > 0,
                F.expr(f"size(filter(_toks, t -> array_contains(array({sw}), t)))")
                / F.col("n_tokens"),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "quality_score",
            F.round(
                F.lit(0.4) * F.least(F.col("n_tokens") / F.lit(100.0), F.lit(1.0))
                + F.lit(0.3) * (F.lit(1.0) - F.col("punct_ratio"))
                + F.lit(0.3) * F.col("stopword_ratio"),
                6,
            ),
        )
        .withColumn("punct_ratio", F.round("punct_ratio", 6))
        .withColumn("stopword_ratio", F.round("stopword_ratio", 6))
        .drop("_toks")
    )
    return out


def quality_threshold_sweep(
    df: DataFrame,
    score_col: str,
    thresholds: Sequence[float],
    tokens_col: str = None,
) -> DataFrame:
    """The "where do I set the quality bar?" table — the quality-filter
    counterpart of the dedup threshold sweep: for each candidate
    threshold, how many documents (and, with ``tokens_col``, how many
    tokens) survive ``score >= threshold``, and what corpus share that
    is. Data cards publish exactly this curve before committing a
    filtering run; picking a bar without it means guessing how much of
    the token budget the filter burns.

    ONE corpus scan no matter how many thresholds: every per-threshold
    survivor count is a conditional aggregate in a single global
    rollup (one output row, then a row-local explode of the
    |thresholds|-struct literal) — never a scan or join per threshold.
    The one-row global agg is the same declared-SinglePartition shape
    as the corpus-stats card. NULL scores survive no threshold but do
    count in the totals (they are corpus mass the filter drops);
    shares are NULL over an empty corpus ("no defined share", never
    0/0 NaN). Returns ``(threshold, n_docs, n_tokens, doc_share,
    token_share)`` — token columns NULL without ``tokens_col``."""
    ts = [float(t) for t in thresholds]
    if not ts:
        raise ValueError("thresholds must be non-empty")
    if len(set(ts)) != len(ts):
        raise ValueError("thresholds must be distinct")
    tok = (
        F.coalesce(F.col(tokens_col).cast("long"), F.lit(0))
        if tokens_col
        else F.lit(None).cast("long")
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("_td"),
        F.sum(tok).cast("long").alias("_tt"),
    ]
    for i, t in enumerate(ts):
        hit = F.col(score_col) >= F.lit(t)
        # coalesce: SUM over ZERO rows is NULL — an empty corpus must
        # report 0 survivors, not NULL
        aggs.append(
            F.coalesce(F.sum(F.when(hit, 1).otherwise(0)), F.lit(0))
            .cast("long")
            .alias(f"_d{i}")
        )
        aggs.append(
            F.sum(F.when(hit, tok)).cast("long").alias(f"_t{i}")
        )
    one = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(t).alias("threshold"),
                F.col(f"_d{i}").alias("n_docs"),
                F.coalesce(F.col(f"_t{i}"), F.lit(0)).cast("long").alias(
                    "n_tokens"
                )
                if tokens_col
                else F.lit(None).cast("long").alias("n_tokens"),
            )
            for i, t in enumerate(ts)
        ]
    )
    return (
        one.select(F.explode(rows).alias("_r"), "_td", "_tt")
        .select(
            F.col("_r.threshold").alias("threshold"),
            F.col("_r.n_docs").alias("n_docs"),
            F.col("_r.n_tokens").alias("n_tokens"),
            F.when(
                F.col("_td") > 0,
                F.round(F.col("_r.n_docs") / F.col("_td").cast("double"), 6),
            ).alias("doc_share"),
            F.when(
                F.col("_tt") > 0,
                F.round(
                    F.col("_r.n_tokens") / F.col("_tt").cast("double"), 6
                ),
            ).alias("token_share"),
        )
    )


def vocabulary_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Unigram-distribution drift between two corpus snapshots — the
    text-side sibling of the numeric histogram drift monitor
    (operators/maintenance.py::histogram_drift): did the new crawl /
    the filtered corpus shift the LANGUAGE, not just the numbers?
    Returns ONE row: ``n_vocab`` (union vocabulary), ``total_a`` /
    ``total_b`` (token masses) and ``psi`` — the Population Stability
    Index ``Σ (p−q)·ln(p/q)`` over the union vocabulary with Laplace
    add-one smoothing (``p = (c+1)/(total+|V|)``; the categorical
    convention, vs the numeric monitor's epsilon floor — add-one keeps
    every union term defined on both sides without an arbitrary
    epsilon scale). The classic ~0.1 warn / ~0.25 act thresholds
    apply.

    Scale shape: one partial-aggregated unigram rollup per side (the
    shuffle carries the term relation, never the corpus), a full-outer
    equi-join on the term, a one-row totals aggregate broadcast back,
    and a DECIMAL(38,9) sum of per-term contributions each rounded to
    9 decimals — addition-order-independent, so the PSI is
    bit-reproducible cross-engine and under any partitioning. The
    joined term relation is persisted (it feeds the totals AND the
    contribution pass); the caller's
    :func:`~metaframe_spark.session.persist_scope` releases it."""
    def _counts(df, side):
        return (
            df.select(F.explode(tokens(F.col(text_col))).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).cast("long").alias(side))
        )

    ca, cb = _counts(df_a, "c_a"), _counts(df_b, "c_b")
    j = (
        ca.join(cb, "term", "full_outer")
        .select(
            "term",
            F.coalesce(F.col("c_a"), F.lit(0)).cast("long").alias("c_a"),
            F.coalesce(F.col("c_b"), F.lit(0)).cast("long").alias("c_b"),
        )
        .persist()
    )
    scal = j.agg(
        F.coalesce(F.sum("c_a"), F.lit(0)).cast("long").alias("total_a"),
        F.coalesce(F.sum("c_b"), F.lit(0)).cast("long").alias("total_b"),
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
    )
    p = (F.col("c_a") + F.lit(1.0)) / (
        F.col("total_a") + F.col("n_vocab")
    ).cast("double")
    q = (F.col("c_b") + F.lit(1.0)) / (
        F.col("total_b") + F.col("n_vocab")
    ).cast("double")
    contrib = j.crossJoin(F.broadcast(scal)).select(
        F.round((p - q) * F.log(p / q), 9)
        .cast("decimal(38,9)")
        .alias("_c")
    )
    return contrib.agg(
        F.round(F.sum("_c").cast("double"), 6).alias("psi")
    ).crossJoin(F.broadcast(scal)).select(
        "n_vocab", "total_a", "total_b", "psi"
    )


#: the Gopher rule-set's required-stopword list (Rae et al. 2021, A1.1)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Per-rule booleans for the published Gopher quality filters (Rae et
    al. 2021, Appendix A1.1 — the public rule set behind MassiveText, also
    used by RefinedWeb/FineWeb):

    - ``g_word_count``: ``min_words`` ≤ word count ≤ ``max_words``;
    - ``g_mean_word_len``: mean word length in [3, 10];
    - ``g_symbol_ratio``: (# of ``#`` or ``...``) / words < 0.1;
    - ``g_bullet_lines``: < 90% of lines start with a bullet marker;
    - ``g_ellipsis_lines``: < 30% of lines end with "...";
    - ``g_alpha_words``: ≥ 80% of words contain a letter;
    - ``g_stopwords``: contains ≥ 2 distinct words of the 8-word Gopher
      stop list;

    plus the conjunction ``gopher_pass``. Kept as flags, not a filter, so
    pipelines can report per-rule rejection rates (the data-card numbers)
    and tune thresholds; ``df.filter("gopher_pass")`` applies the gate.

    Everything is higher-order codegen over the split word/line arrays —
    per-row, shuffle-free, no Python. The Gopher repetition rules
    (top-n-gram fraction etc.) live in :func:`repetition_signals`; run
    both for the full published gate.
    """
    words = "filter(split(`%s`, '\\\\s+'), w -> w != '')" % text_col
    lines = "split(`%s`, '\\n')" % text_col
    sw = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    out = (
        df.withColumn("_w", F.expr(words))
        .withColumn("_l", F.expr(lines))
        .withColumn("_nw", F.size("_w"))
        .withColumn(
            "g_word_count",
            (F.col("_nw") >= int(min_words)) & (F.col("_nw") <= int(max_words)),
        )
        .withColumn(
            "g_mean_word_len",
            F.when(F.col("_nw") > 0,
                   F.expr("aggregate(_w, 0L, (a, w) -> a + length(w))")
                   / F.col("_nw"))
            .otherwise(F.lit(0.0))
            .between(3.0, 10.0),
        )
        .withColumn(
            "g_symbol_ratio",
            F.when(
                F.col("_nw") > 0,
                (
                    F.size(F.expr(f"regexp_extract_all(`{text_col}`, '#|\\\\.\\\\.\\\\.', 0)"))
                    / F.col("_nw")
                ),
            ).otherwise(F.lit(0.0))
            < 0.1,
        )
        .withColumn(
            "g_bullet_lines",
            F.expr("size(filter(_l, l -> trim(l) RLIKE '^[-*\\u2022\\u2023\\u25E6]'))")
            / F.greatest(F.size("_l"), F.lit(1))
            < 0.9,
        )
        .withColumn(
            "g_ellipsis_lines",
            F.expr("size(filter(_l, l -> trim(l) RLIKE '\\\\.\\\\.\\\\.$'))")
            / F.greatest(F.size("_l"), F.lit(1))
            < 0.3,
        )
        .withColumn(
            "g_alpha_words",
            F.when(
                F.col("_nw") > 0,
                F.expr("size(filter(_w, w -> w RLIKE '[A-Za-z]'))") / F.col("_nw"),
            ).otherwise(F.lit(0.0))
            >= 0.8,
        )
        .withColumn(
            "g_stopwords",
            F.expr(
                f"size(array_intersect(transform(_w, w -> lower(w)), array({sw}))) >= 2"
            ),
        )
        .withColumn(
            "gopher_pass",
            F.col("g_word_count")
            & F.col("g_mean_word_len")
            & F.col("g_symbol_ratio")
            & F.col("g_bullet_lines")
            & F.col("g_ellipsis_lines")
            & F.col("g_alpha_words")
            & F.col("g_stopwords"),
        )
        .drop("_w", "_l", "_nw")
    )
    return out


#: published Gopher repetition thresholds (Rae et al. 2021, Table A1):
#: a document passes when every signal is <= its threshold
GOPHER_REP_THRESHOLDS = {
    "dup_line_frac": 0.30,
    "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "dup_para_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
}


def repetition_signals(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The full published Gopher REPETITION filter set (Rae et al. 2021,
    Appendix A1.1, Table A1 — the half of the MassiveText gate that
    :func:`gopher_quality_flags` leaves to this operator; together they
    are the complete rule set FineWeb/RefinedWeb re-use):

    * ``dup_line_frac`` / ``dup_para_frac`` — fraction of (trimmed,
      non-empty) lines / blank-line-separated paragraphs that are repeats
      of an earlier one: ``(total − distinct) / total``;
    * ``dup_line_char_frac`` / ``dup_para_char_frac`` — characters inside
      ALL occurrences of units appearing ≥ 2 times, / document chars;
    * ``top_{2,3,4}gram_char_frac`` — characters covered by every
      occurrence of the single most frequent word n-gram, / document
      chars (ties broken deterministically: highest count, then longest,
      then lexicographically greatest gram);
    * ``dup_{5..10}gram_char_frac`` — characters inside all occurrences
      of duplicated n-grams, / document chars;

    plus the conjunction ``gopher_rep_pass`` over
    :data:`GOPHER_REP_THRESHOLDS` (every signal ≤ its published
    threshold), evaluated on the rounded-to-6 values so the verdict is
    engine-reproducible. Overlapping n-gram occurrences each count their
    full character span (the published accounting), so the n-gram
    fractions can exceed 1 on degenerate loops — exactly the documents
    the gate exists to drop. Document chars = ``length(text)``; n-grams
    are over :func:`tokens` (normalized lowercase), joined by single
    spaces.

    Scale shape: ZERO shuffles — every signal depends only on units of
    the document's OWN row (the grouping key of the published
    accounting is the document), so the whole filter set is computed
    row-locally over per-kind ``array_sort``-ed unit arrays: duplicate
    counts read adjacent equal neighbours in the sorted array, run
    lengths come from run-start position deltas, and the top-gram
    ``(count, length, gram)`` maximum is an ``array_max`` over the run
    structs. The former shape — one explode into a
    ``groupBy(id, kind, unit)`` — shuffled one distinct-unit-bounded
    row per (doc, kind, unit) (2.2 M rows at sf0.1) only to regroup
    them by the very document they came from; the row-local form moves
    nothing and is embarrassingly parallel at any corpus size.
    Per-row cost is O(units · log units) on bounded-size documents."""
    T, I = text_col, id_col
    base = df.filter(F.trim(F.col(T)) != "").select(
        F.col(I), F.col(T), F.length(F.col(T)).cast("double").alias("_chars")
    )
    kind_exprs = {
        # trimmed non-empty lines / blank-line paragraphs
        "line": "filter(transform(split({t}, '\\n'), x -> trim(x)), "
        "x -> x != '')".format(t=T),
        "para": "filter(transform(split({t}, '\\n\\n+'), x -> trim(x)), "
        "x -> x != '')".format(t=T),
    }
    for n in range(2, 11):
        kind_exprs[f"g{n}"] = (
            f"IF(size(_t) >= {n}, transform(sequence(1, size(_t) - {n} + 1), "
            f"i -> array_join(slice(_t, i, {n}), ' ')), "
            "CAST(array() AS ARRAY<STRING>))"
        )
    # each sorted array is its own projected column, referenced several
    # times downstream — CollapseProject keeps multi-referenced non-cheap
    # aliases materialized, so the sort runs once per row per kind
    sorted_units = base.withColumn("_t", tokens(F.col(T))).select(
        I,
        "_chars",
        *[
            F.expr(f"array_sort({e})").alias(f"_s_{kd}")
            for kd, e in kind_exprs.items()
        ],
    )

    def _starts(kd: str) -> str:
        # 1-based positions where a new run begins in the sorted array
        s = f"_s_{kd}"
        return (
            f"filter(transform({s}, (x, i) -> "
            f"IF(i = 0 OR x != element_at({s}, i), i + 1, 0)), p -> p > 0)"
        )

    with_starts = sorted_units.select(
        "*", *[F.expr(_starts(f"g{n}")).alias(f"_st_g{n}") for n in (2, 3, 4)]
    )

    def _top_expr(kd: str) -> str:
        # the (count, length, gram) maximum over runs — identical to the
        # former max(struct(c, l, u)) over the grouped counts
        s, st = f"_s_{kd}", f"_st_{kd}"
        return (
            f"array_max(transform({st}, (p, j) -> struct("
            f"cast(IF(j < size({st}) - 1, element_at({st}, j + 2), "
            f"size({s}) + 1) - p as bigint) AS c, "
            f"cast(length(element_at({s}, p)) as bigint) AS l, "
            f"element_at({s}, p) AS u)))"
        )

    with_tops = with_starts.select(
        "*", *[F.expr(_top_expr(f"g{n}")).alias(f"_tp_g{n}") for n in (2, 3, 4)]
    )

    def _dup_chars(kd: str):
        # chars inside ALL occurrences of units appearing >= 2 times: a
        # sorted element belongs to such a run iff it equals a neighbour
        s = f"_s_{kd}"
        return F.expr(
            f"aggregate(transform({s}, (x, i) -> "
            f"IF((i > 0 AND x = element_at({s}, i)) OR "
            f"(i < size({s}) - 1 AND x = element_at({s}, i + 2)), "
            f"cast(length(x) as bigint), 0L)), 0L, (a, v) -> a + v)"
        )

    zero = F.lit(0).cast("long")
    outs = [F.col(I)]
    metrics = {}
    for kind in ("line", "para"):
        n_u = F.size(f"_s_{kind}")
        d_u = F.size(F.array_distinct(F.col(f"_s_{kind}")))
        # (n - d)/n; NULL (not NaN) for a unit-less kind, matching the
        # former sum-over-absent-rows semantics
        metrics[f"dup_{kind}_frac"] = F.when(
            n_u > 0, F.round((n_u - d_u) / n_u.cast("double"), 6)
        )
        metrics[f"dup_{kind}_char_frac"] = F.round(
            _dup_chars(kind) / F.col("_chars"), 6
        )
    for n in (2, 3, 4):
        t = F.col(f"_tp_g{n}")
        metrics[f"top_{n}gram_char_frac"] = F.round(
            F.coalesce(t["c"] * t["l"], zero) / F.col("_chars"), 6
        )
    for n in range(5, 11):
        metrics[f"dup_{n}gram_char_frac"] = F.round(
            _dup_chars(f"g{n}") / F.col("_chars"), 6
        )
    passed = F.lit(True)
    for name, thr in GOPHER_REP_THRESHOLDS.items():
        outs.append(metrics[name].alias(name))
        passed = passed & (metrics[name] <= F.lit(thr))
    outs.append(passed.alias("gopher_rep_pass"))
    return with_tops.select(*outs)


def language_scores(
    df: DataFrame,
    text_col: str = "text",
    stopwords: Dict[str, List[str]] = None,
) -> DataFrame:
    """Add per-language stopword-overlap scores and ``predicted_lang``.

    Heuristic n-gram/stopword language ID: score(lang) = fraction of tokens
    found in that language's stopword list; argmax wins, ties broken by
    language code ascending (fully deterministic). Per-row only — no
    shuffle, no model, no Python.

    Inner-loop note (measured): the per-token
    ``array_contains`` over each language's list looks like the expensive
    part, but three reformulations — a constant-folded word→bitmask
    ``map`` literal (one ``element_at`` per token), ``t IN (...)``, and a
    two-step mask-array lowering — all measured EQUAL OR SLOWER on an ×8
    corpus (interleaved medians 0.28 s old vs 0.31–0.38 s each variant):
    Spark map literals are array-backed (``GetMapValue`` is a linear key
    scan, not a hash lookup), and at this list size (4 langs × 10 words)
    the interpreted lambda *invocation* per token dominates, which every
    HOF formulation pays equally. The direct formulation is kept; with
    stopword lists in the hundreds per language the bitmask-map variant
    would win (array_contains is O(|list|) per token, the map scan is
    shared across languages).
    """
    stopwords = stopwords or STOPWORDS
    out = df.withColumn("_toks", tokens(F.col(text_col)))
    structs = []
    for lang in sorted(stopwords):
        sw = ", ".join("'" + w.replace("'", "''") + "'" for w in stopwords[lang])
        score = F.when(
            F.size("_toks") > 0,
            F.expr(f"size(filter(_toks, t -> array_contains(array({sw}), t)))")
            / F.size("_toks"),
        ).otherwise(F.lit(0.0))
        out = out.withColumn(f"score_{lang}", F.round(score, 6))
        structs.append(f"struct(score_{lang} AS score, '{lang}' AS lang)")
    cmp = (
        "(l, r) -> case when l.score > r.score then -1 "
        "when l.score < r.score then 1 "
        "when l.lang < r.lang then -1 when l.lang > r.lang then 1 else 0 end"
    )
    out = out.withColumn(
        "predicted_lang",
        F.expr(f"array_sort(array({', '.join(structs)}), {cmp})[0].lang"),
    )
    return out.drop("_toks")


def fingerprint_column(
    df: DataFrame, text_col: str = "text", out_col: str = "fp", n: int = 3
) -> DataFrame:
    """Append the min-md5-of-word-n-gram fingerprint as a column (NULL when
    the document has fewer than ``n`` tokens).

    This is a single-permutation MinHash: P[fp(A) == fp(B)] equals the
    shingle-set Jaccard similarity of A and B, so equality on ``fp`` is an
    LSH *block key* whose cardinality grows with the corpus — the scale-safe
    blocking input for :func:`~metaframe_spark.operators.dedup.
    jaccard_similarity_pairs` (a fixed low-cardinality attribute like
    ``source`` as the block key makes verification quadratic).
    Shuffle-free; md5 keeps it oracle-checkable cross-engine.
    """
    fp = F.array_min(F.transform(shingles("_fp_toks", n), F.md5))
    return (
        df.withColumn("_fp_toks", tokens(F.col(text_col)))
        .withColumn(out_col, fp)  # empty shingle array -> array_min = NULL
        .drop("_fp_toks")
    )


def doc_fingerprint(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """MinHash-style document fingerprint: the minimum md5 over word
    n-gram shingles (winnowing-lite rolling fingerprint).

    Two documents sharing any lowest shingle hash collide on ``fp`` —
    a cheap, shuffle-free first-pass near-dup signal; md5 is used (not
    xxhash64) because it is bit-identical across engines, making the
    operator oracle-checkable.
    """
    return (
        df.withColumn("_toks", tokens(F.col(text_col)))
        .filter(F.size("_toks") >= n)
        .select(
            id_col,
            F.array_min(F.transform(shingles("_toks", n), F.md5)).alias("fp"),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document — the per-doc keyword signal a
    curation pipeline uses for topic bucketing / relevance filters.
    ``tfidf = tf · ln(N / df)`` with tf the in-document term count, df the
    number of documents containing the term, N the corpus size (documents
    with ≥1 token). Returns (id, term, tf, doc_freq, tfidf) with tfidf
    rounded to 6; ties rank by term ascending so the selection is fully
    deterministic.

    Scale shape — ONE tokenize+explode pass: explode → (doc, term) rollup
    with map-side partial agg; doc frequency is a count window partitioned
    by term over that same relation (a join back to a groupBy'd doc-freq
    relation would re-derive the whole tokenize lineage a second time —
    Spark does not share subplans). N (docs with ≥1 token ⇔ non-blank
    normalized text) comes from a tokenize-free scan of the raw text,
    riding in as a broadcast one-row cross join so the plan stays lazy —
    no driver count. The per-doc top-k is a rank window partitioned by doc
    (WindowGroupLimit pre-prunes each input partition on Spark 4). ln() is
    evaluated on the same IEEE doubles in any engine, so the scores are
    oracle-checkable.
    """
    from pyspark.sql import Window

    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_t")).filter(
        F.size("_t") > 0
    )
    terms = toks.select(id_col, F.explode("_t").alias("term"))
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    dfreq = F.count(F.lit(1)).over(Window.partitionBy("term")).cast("long")
    n_docs = df.filter(normalize_text(F.col(text_col)) != "").agg(
        F.count(F.lit(1)).cast("double").alias("_n_docs")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("_score"), F.asc("term")
    )
    return (
        tf.withColumn("doc_freq", dfreq)
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "_score",
            F.col("tf") * F.log(F.col("_n_docs") / F.col("doc_freq")),
        )
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .select(
            id_col,
            "term",
            "tf",
            "doc_freq",
            F.round("_score", 6).alias("tfidf"),
        )
    )


def bm25_scores(
    df: DataFrame,
    query_terms: Sequence[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """BM25 keyword relevance of every document against a fixed term set —
    the standard retrieval scorer, usable for corpus search or
    reference-answer mining. Per matching term:
    ``idf · tf·(k1+1) / (tf + k1·(1 − b + b·len/avglen))`` with
    ``idf = ln((N − df + 0.5)/(df + 0.5) + 1)`` (the Lucene/BM25+ form —
    never negative). Returns the ``top_k`` documents by total score
    (ties: id ascending) as (id, n_hits, score).

    Determinism: each per-term score is rounded to 6 decimals and summed in
    DECIMAL — per-row IEEE arithmetic is engine-identical, and the decimal
    sum removes float addition-order sensitivity between Spark's partial
    aggregation and a sequential engine, so the result is oracle-checkable.

    Scale shape: terms are filtered to the query set BEFORE any shuffle
    (an ``isin`` against a literal array — map-side, prunes ~the entire
    corpus), so the rollups only see matching (doc, term) rows; the doc
    length rides through the explode as a constant-per-doc column (never a
    join back to the corpus-sized length relation). Corpus stats (N, total
    length → avglen) are one tiny agg broadcast into the score expression;
    the final top-k is TakeOrderedAndProject.
    """
    qset = sorted(set(query_terms))
    if not qset:
        raise ValueError("bm25_scores: query_terms must be non-empty")
    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_t")).filter(
        F.size("_t") > 0
    )
    stats = toks.agg(
        F.count(F.lit(1)).cast("double").alias("_n_docs"),
        F.sum(F.size("_t")).cast("double").alias("_tot_len"),
    )
    hits = (
        toks.select(
            id_col,
            F.size("_t").cast("long").alias("_len"),
            F.explode("_t").alias("term"),
        )
        .filter(F.col("term").isin(qset))
        .groupBy(id_col, "term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("tf"),
            F.max("_len").alias("_len"),  # constant within a doc
        )
    )
    from pyspark.sql import Window

    # document frequency as a window over the (already tiny) hits relation:
    # one shuffle on term, no second tokenize pass and no self-join
    dfreq = F.count(F.lit(1)).over(Window.partitionBy("term")).cast("long")
    idf = F.log(
        (F.col("_n_docs") - F.col("_df") + F.lit(0.5))
        / (F.col("_df") + F.lit(0.5))
        + F.lit(1.0)
    )
    norm = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("_len") / (F.col("_tot_len") / F.col("_n_docs"))
    )
    term_score = F.round(idf * F.col("tf") * F.lit(k1 + 1.0) / norm, 6)
    return (
        hits.withColumn("_df", dfreq)
        .crossJoin(F.broadcast(stats))
        .withColumn("_s", term_score.cast("decimal(18,6)"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hits"),
            F.sum("_s").cast("double").alias("score"),
        )
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(top_k)
    )


def ngram_vocabulary(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 1,
    top_k: int = 1000,
) -> DataFrame:
    """Corpus vocabulary with document frequencies: the ``top_k`` word
    n-grams ranked by how many documents contain them — the corpus-stats /
    BPE-vocab-seed step of a training pipeline. Returns
    (gram, doc_freq, n_occurrences); ties break by occurrence count then
    gram text, so the selected set is deterministic.

    Scale: two shuffles, BOTH with map-side partial aggregation — first a
    (gram, doc) rollup (dedups a document's repeated grams without any
    count-distinct sketch state), then the gram rollup; the final top-k is
    TakeOrderedAndProject, never a full sort of the vocabulary.
    """
    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks")).filter(
        F.size("_toks") >= n
    )
    gram_col = F.explode(F.col("_toks") if n == 1 else shingles("_toks", n))
    grams = toks.select(id_col, gram_col.alias("gram"))
    per_doc = grams.groupBy("gram", id_col).agg(F.count(F.lit(1)).alias("_c"))
    vocab = per_doc.groupBy("gram").agg(
        F.count(F.lit(1)).cast("long").alias("doc_freq"),
        F.sum("_c").cast("long").alias("n_occurrences"),
    )
    return vocab.orderBy(
        F.desc("doc_freq"), F.desc("n_occurrences"), F.asc("gram")
    ).limit(top_k)


def char_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    row_local: bool = True,
) -> DataFrame:
    """Character-level Shannon entropy per document (bits/char) — the
    classic gibberish/compression-artifact detector: natural prose sits
    ~3.5-4.5 bits, base64 blobs and key-mash near log2(alphabet), repeated
    filler near 0. Returns (id, n_chars, char_entropy).

    Two plan shapes, identical results (pinned by test):

    * ``row_local=True`` (default): ZERO-shuffle codegen projection — per
      doc, the distinct-character array (``array_distinct(split(text,
      ''))``), each char's count via the length-difference of a
      ``replace``, the −p·log2(p) terms rounded to 6 and summed in
      DECIMAL inside one ``aggregate`` HOF. Work is O(N × |alphabet|)
      string scanning per doc but entirely row-local — measured 2.8×
      faster than the explode shape on prose at sf0.1 (1.7 s vs 4.7 s,
      interleaved medians) because no explode rows and no shuffle exist
      at all. The right default for natural-language corpora
      (|alphabet| ≲ a few hundred).
    * ``row_local=False``: per-character explode + (doc, char) rollup
      with map-side combine — at most |alphabet| rows per doc reach the
      shuffle, and per-doc work is O(N). The right shape when documents
      can be alphabet-unbounded (CJK-heavy or binary-ish corpora), where
      the replace-count's O(N × |alphabet|) would degenerate toward
      O(N²).

    Each term is rounded then DECIMAL-summed in both shapes, so addition
    order cannot perturb the total and the result hash-matches an
    external engine.
    """
    if row_local:
        cnt = f"(length({text_col}) - length(replace({text_col}, c, '')))"
        p = f"({cnt} / CAST(length({text_col}) AS DOUBLE))"
        expr = (
            f"aggregate("
            f"transform(filter(array_distinct(split({text_col}, '')), "
            f"c -> c <> ''), "
            f"c -> CAST(round(-{p} * log2({p}), 6) AS DECIMAL(18,6))), "
            f"CAST(0 AS DECIMAL(28,6)), "
            f"(a, x) -> CAST(a + x AS DECIMAL(28,6)))"
        )
        return (
            df.filter(F.length(text_col) > 0)
            .select(
                F.col(id_col),
                F.length(text_col).cast("long").alias("n_chars"),
                F.round(F.expr(expr).cast("double"), 6).alias("char_entropy"),
            )
        )
    chars = (
        df.filter(F.length(text_col) > 0)
        .select(
            F.col(id_col),
            F.length(text_col).cast("long").alias("_n"),
            F.explode(
                F.expr(
                    f"transform(sequence(1, length({text_col})), "
                    f"i -> substr({text_col}, i, 1))"
                )
            ).alias("_ch"),
        )
    )
    counts = chars.groupBy(id_col, "_n", "_ch").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    p = F.col("_c") / F.col("_n")
    term = F.round(-(p * F.log2(p)), 6).cast("decimal(18,6)")
    return (
        counts.withColumn("_t", term)
        .groupBy(id_col)
        .agg(
            F.max("_n").cast("long").alias("n_chars"),
            F.round(F.sum("_t").cast("double"), 6).alias("char_entropy"),
        )
    )


def unigram_nll(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document unigram-LM cross-entropy (mean negative log-likelihood)
    — the CCNet/fastText-era perplexity quality signal (Wenzek et al. 2020
    score documents with a language model and keep the low-perplexity
    tail; a corpus-fit unigram model is the dependency-free form).

    Returns ``(id_col, n_tokens, unigram_nll)`` where ``unigram_nll`` is
    ``mean over tokens of -ln(cf(token)/total_tokens)`` with ``cf`` the
    corpus frequency. Low values = stereotypical fluent text, high values
    = rare-token noise. Perplexity is ``exp(unigram_nll)`` — the exp is
    left to the caller to keep every emitted number oracle-exact.
    Token-less documents (empty/whitespace text) carry no probability
    mass and are absent from the output.

    Scale shape (the plan, in order):
    * one tokenize scan exploded to ``(doc, term)``, partial-aggregated
      into ``tf`` rows — the only relation ever shuffled is distinct
      (doc, term) pairs, never raw tokens;
    * corpus frequencies via ``SUM(tf) OVER (PARTITION BY term)`` on that
      same relation — one term-keyed exchange, no re-tokenize, no
      separate vocabulary join;
    * the total-token scalar comes from a tokenize-free second scan
      (``SUM(size(tokens))`` — no explode) broadcast onto every row;
    * per-(doc, term) contributions are rounded to 6 decimals and
      DECIMAL-summed per document, so partial-agg addition order cannot
      perturb the result (the cross-engine determinism rule used by
      bm25_scores/char_entropy).

    No counterpart in the reference (its surface stops at relational
    ops); extends the engine for training-data curation per the build
    brief.
    """
    from pyspark.sql import Window

    col = F.col(text_col)
    tok = df.select(F.col(id_col), F.explode(tokens(col)).alias("term"))
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    cf = F.sum("tf").over(Window.partitionBy("term"))
    totals = df.agg(
        F.sum(token_count(col)).cast("double").alias("_total")
    )
    p = F.col("_cf").cast("double") / F.col("_total")
    contrib = F.round(F.col("tf") * -F.log(p), 6).cast("decimal(18,6)")
    return (
        tf.withColumn("_cf", cf)
        .join(F.broadcast(totals))
        .withColumn("_c", contrib)
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.round(
                F.sum("_c").cast("double") / F.sum("tf"), 6
            ).alias("unigram_nll"),
        )
    )


def bigram_nll(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document bigram-LM cross-entropy: mean over a document's
    bigrams of ``-ln p(w2 | w1)`` with add-one (Laplace) smoothing,
    ``p = (c(w1 w2) + 1) / (c(w1) + V)`` — the second-order companion to
    :func:`unigram_nll` (conditional fluency, not just token rarity:
    shuffled text keeps its unigram NLL but its bigram NLL explodes).

    Returns ``(id_col, n_bigrams, bigram_nll)``; documents with fewer
    than 2 tokens have no bigrams and are absent. All counts are corpus
    totals; ``V`` is the distinct-unigram vocabulary size.

    Scale shape: bigrams are formed ROW-LOCALLY from the token array
    (``transform(sequence(...))`` — no self-join, no window over token
    position); the only shuffled relations are the distinct (doc, bigram)
    tf pairs, the bigram-keyed and unigram-keyed count rollups, and the
    final doc rollup — all key-bounded with map-side partial aggregation.
    The V and unigram-count relations join back by broadcast/hash join on
    the first word. Per-(doc, bigram) contributions are rounded to 6 and
    DECIMAL-summed (the cross-engine determinism rule shared with
    bm25_scores / unigram_nll).
    """
    from pyspark.sql import Window

    toks = tokens(F.col(text_col))
    bigrams = F.expr(
        "transform(sequence(1, size(_toks) - 1), "
        "i -> concat(element_at(_toks, i), ' ', element_at(_toks, i + 1)))"
    )
    bg = (
        df.select(F.col(id_col), toks.alias("_toks"))
        .filter(F.size("_toks") >= 2)
        .select(F.col(id_col), F.explode(bigrams).alias("bg"))
    )
    tf = bg.groupBy(id_col, "bg").agg(F.count(F.lit(1)).alias("tf"))
    # corpus bigram counts: window over the tf relation (no re-tokenize)
    cbg = F.sum("tf").over(Window.partitionBy("bg"))
    # corpus unigram counts + vocabulary size from a second tokenize scan
    uni = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vocab = uni.agg(F.count(F.lit(1)).cast("double").alias("_v"))
    p = (F.col("_cbg").cast("double") + 1.0) / (
        F.col("c1").cast("double") + F.col("_v")
    )
    contrib = F.round(F.col("tf") * -F.log(p), 6).cast("decimal(18,6)")
    return (
        tf.withColumn("_cbg", cbg)
        .withColumn("w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .join(uni, "w1")
        .join(F.broadcast(vocab))
        .withColumn("_c", contrib)
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            F.round(
                F.sum("_c").cast("double") / F.sum("tf"), 6
            ).alias("bigram_nll"),
        )
    )


# -- corpus-law / safety data cards ------------------------------------------

def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 256,
) -> DataFrame:
    """One-row Zipf's-law data card: OLS fit of ``ln(freq) ~ ln(rank)``
    over the corpus's ``top_k`` most frequent whitespace tokens (rank ties
    broken by token text ascending, so the ranking is deterministic).
    Natural-text corpora sit near slope −1 (Zipf 1935; Piantadosi 2014);
    template/boilerplate floods flatten the head (slope → 0) and
    synthetic/random text steepens or destroys the linear fit — so
    ``(zipf_slope, zipf_r2)`` is a standing one-glance health check next
    to the volume counters a corpus card already carries.

    Returns a single row: (n_tokens, vocab_size, top_v, zipf_slope,
    zipf_intercept, zipf_r2). ``top_v`` is the number of ranked points the
    fit actually used (≤ ``top_k`` on tiny corpora). Degenerate contract
    (NULLIF guards, never a 0/0 NaN): with fewer than 2 ranked points the
    rank variance is 0, so slope/intercept/r2 are all NULL; with ≥2 points
    of UNIFORM frequency only the frequency variance is 0, so the fit
    honestly reports slope 0.0 (a flat head is a meaningful signal) with
    r2 NULL.

    Determinism (oracle-checkable): per-point ``x = round(ln(rank), 6)``
    and ``y = round(ln(freq), 6)``; the five OLS sums run in
    DECIMAL(18,6) (order-independent across Spark partial aggs vs a
    sequential engine); the closed-form slope/intercept/r² divisions are
    one-row double arithmetic with identical expression shapes both
    engines, rounded to 6.

    Scale shape: ONE shuffle with map-side combine (the token rollup);
    corpus totals (n_tokens, vocab_size) aggregate the same persisted
    counts relation — never a second tokenize scan; the head selection is
    TakeOrderedAndProject over the vocabulary; ranking + the OLS sums
    then run on ≤ ``top_k`` rows (a bounded single-partition window —
    the one-row output IS the plan's product). The counts relation is
    persisted for its two consumers and released by the caller's
    :func:`~metaframe_spark.session.persist_scope`.
    """
    from pyspark.sql import Window

    if top_k < 2:
        raise ValueError("zipf_fit: top_k must be >= 2")
    counts = (
        df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .persist()
    )
    totals = counts.agg(
        # coalesce: an empty corpus reports 0 tokens, not NULL (the
        # one-row card still emits — the empty-input sweep's contract)
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
    )
    head = counts.orderBy(F.desc("cnt"), F.asc("tok")).limit(int(top_k))
    rank = F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("tok")))
    pts = head.select(
        F.round(F.log(rank.cast("double")), 6).alias("_x"),
        F.round(F.log(F.col("cnt").cast("double")), 6).alias("_y"),
    )
    d = "decimal(18,6)"
    sums = pts.agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum(F.col("_x").cast(d)).cast("double").alias("_sx"),
        F.sum(F.col("_y").cast(d)).cast("double").alias("_sy"),
        F.sum((F.col("_x") * F.col("_y")).cast(d)).cast("double").alias("_sxy"),
        F.sum((F.col("_x") * F.col("_x")).cast(d)).cast("double").alias("_sxx"),
        F.sum((F.col("_y") * F.col("_y")).cast(d)).cast("double").alias("_syy"),
    )
    cov = F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    varx = F.nullif(
        F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx"), F.lit(0.0)
    )
    vary = F.nullif(
        F.col("_n") * F.col("_syy") - F.col("_sy") * F.col("_sy"), F.lit(0.0)
    )
    slope = cov / varx
    return totals.join(F.broadcast(sums)).select(
        "n_tokens",
        "vocab_size",
        F.col("_n").cast("long").alias("top_v"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("_sy") - slope * F.col("_sx")) / F.col("_n"), 6).alias(
            "zipf_intercept"
        ),
        F.round(cov * cov / (varx * vary), 6).alias("zipf_r2"),
    )


#: Credential-shaped patterns, ordered by masking precedence. Constructs are
#: limited to what Java regex (Spark) and RE2 (DuckDB) evaluate identically:
#: no lookarounds, no backreferences; ``(?i)`` and ``\b`` are portable.
#: Conservative by design (precision over recall): a hex run must be a full
#: 32+-char word, a base64 run 40+ chars — short ids and ordinary words
#: never match.
SECRET_PATTERNS: List[tuple] = [
    ("aws_key", r"\bAKIA[0-9A-Z]{16}\b"),
    (
        "kv_secret",
        r"(?i)\b(?:api[_-]?key|secret|token|passwd|password)\s*[=:]\s*[^\s]+",
    ),
    ("hex_blob", r"\b[0-9a-fA-F]{32,}\b"),
    ("b64_blob", r"[A-Za-z0-9+/]{40,}={0,2}"),
]


def secrets_scan(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mask: str = "<SECRET>",
) -> DataFrame:
    """Credential / secret detection and scrubbing — the safety sibling of
    :func:`mask_pii` (emails/phones): training corpora scraped from code
    hosts and pastebins carry live API keys, and a pipeline must both
    COUNT them (per-class data card, drives source-level triage) and MASK
    them (so the trained model cannot memorize a credential — Carlini et
    al. 2021's extraction attack is the threat model).

    Four portable pattern classes (:data:`SECRET_PATTERNS`): AWS access
    key ids, ``key=value``-shaped credential assignments, 32+-char hex
    blobs (token/digest-shaped), 40+-char base64 runs. Returns the input
    id plus per-class match counts (``n_aws_key`` …), ``n_secrets``
    (their sum — classes can overlap on one substring by design; each
    class reports independently), ``has_secret``, and ``text`` REPLACED
    by the scrubbed form (classes applied in declaration order, so a
    ``kv_secret``'s value is consumed before the bare ``hex_blob`` rule
    sees it).

    Scale shape: per-row codegen ``regexp_count`` counts + chained
    ``regexp_replace`` — no shuffle, no Python, no match-array
    materialization; runs at parquet-scan speed and composes with any
    downstream filter/rollup.
    """
    out = df
    total = F.lit(0).cast("long")
    for name, pat in SECRET_PATTERNS:
        # regexp_count: same non-overlapping match count as
        # size(regexp_extract_all) without materializing the match array
        c = F.regexp_count(F.col(text_col), F.lit(pat))
        out = out.withColumn(f"n_{name}", c.cast("long"))
        total = total + F.col(f"n_{name}")
    masked = F.col(text_col)
    for name, pat in SECRET_PATTERNS:
        masked = F.regexp_replace(masked, pat, mask)
    return (
        out.withColumn("n_secrets", total)
        .withColumn("has_secret", F.col("n_secrets") > 0)
        .withColumn(text_col, masked)
    )


#: Mojibake sequences: the characteristic 2-3 char artifacts produced by
#: decoding UTF-8 bytes as Latin-1/CP1252 (``é`` → ``Ã©``, 2 chars; ``'``
#: → ``â€™``, 3 chars — the â€-family decodes three UTF-8 bytes). A fixed
#: literal alternation — portable across Java regex and RE2, and cheap:
#: one scan, no classes.
MOJIBAKE_SEQS: List[str] = [
    "Ã©", "Ã¨", "Ã¼", "Ã¶", "Ã¤", "Ã±", "Ã§",
    "â€™", "â€œ", "â€“", "â€”", "Â«", "Â»", "Â°",
]


def encoding_quality(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bad_ratio: float = 0.001,
) -> DataFrame:
    """Encoding-damage data card: per-document counts of the three
    artifact classes that mark a document as having survived a broken
    decode — U+FFFD replacement characters (a decoder already gave up),
    C0/DEL control characters (binary junk or terminal dumps; tab/CR/LF
    excluded), and mojibake digraphs (UTF-8 read as Latin-1 — the classic
    double-decode, :data:`MOJIBAKE_SEQS`). CCNet/RefinedWeb-class
    pipelines drop or re-decode these documents before any quality
    scoring, because token statistics over mojibake are garbage.

    Returns the input id plus ``n_replacement`` / ``n_control`` /
    ``n_mojibake`` (match counts), ``n_chars``, ``bad_char_ratio``
    (artifact CHARS over text length, rounded 6 — each mojibake match
    contributes its full character length, which the 3-char ``â€``
    family makes differ from 2·count) and ``encoding_ok`` (ratio ≤
    ``max_bad_ratio``).

    Scale shape: per-row codegen regex counts plus one
    ``regexp_replace`` length difference for the matched-char mass —
    no shuffle, no Python, parquet-scan speed.
    """
    ctl = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"
    moji = "|".join(MOJIBAKE_SEQS)
    t = F.col(text_col)

    def _n(pat: str) -> Column:
        return F.regexp_count(t, F.lit(pat)).cast("long")

    # matched-char mass, not match count: the â€-family artifacts are 3
    # chars, so counting 2 per match undercounts damaged text by a third
    moji_chars = (F.length(t) - F.length(F.regexp_replace(t, moji, ""))).cast(
        "long"
    )
    bad = F.col("n_replacement") + F.col("n_control") + moji_chars
    return (
        df.withColumn("n_replacement", _n("�"))
        .withColumn("n_control", _n(ctl))
        .withColumn("n_mojibake", _n(moji))
        .withColumn("n_chars", F.length(t).cast("long"))
        .withColumn(
            "bad_char_ratio",
            F.round(
                bad.cast("double") / F.greatest(F.col("n_chars"), F.lit(1)).cast("double"),
                6,
            ),
        )
        .withColumn("encoding_ok", F.col("bad_char_ratio") <= F.lit(float(max_bad_ratio)))
    )


def hashed_token_ids(col, vocab_size: int = 32768) -> Column:
    """Map the BPE-style pre-tokens of a text column to deterministic
    integer ids in ``[0, vocab_size)`` via the first 8 md5 hex digits —
    the hashing-trick vocabulary (Weinberger et al. 2009): no trained
    tokenizer needed, identical ids on any engine that can md5 a string,
    which is what makes the packed-corpus export oracle-checkable. Use a
    trained :func:`bpe_tokenize` vocabulary instead when token identity
    must match a real model. Returns ``array<bigint>``. Pure codegen:
    one regexp scan + a per-token md5 inside a single ``transform``."""
    if vocab_size < 1:
        raise ValueError("hashed_token_ids: vocab_size must be >= 1")
    # Spark SQL string literals eat single backslashes: double them so the
    # regex engine sees the pattern bpe_token_count feeds via F.lit
    pat = BPE_TOKEN_PATTERN.replace("\\", "\\\\")
    return F.expr(
        f"transform(regexp_extract_all({col}, '{pat}', 0), "
        f"t -> pmod(cast(conv(substring(md5(t), 1, 8), 16, 10) as bigint), "
        f"{int(vocab_size)}))"
    )


def source_quality_report(
    df: DataFrame,
    threshold: float = 0.5,
    stratum_col: str = "source",
    text_col: str = "text",
    z: float = 1.96,
) -> DataFrame:
    """Per-source quality triage card: each stratum's document count,
    mean :func:`quality_features` score, and the share of documents at or
    above ``threshold`` WITH a Wilson score interval (the interval that
    stays honest at small n and extreme rates, unlike the normal
    approximation) — the table a curation team reads to decide which
    sources to keep, cap, or re-crawl, and whether an observed source
    difference is real or sample noise.

    Returns (stratum, n_docs, mean_score, n_good, good_rate, wilson_lo,
    wilson_hi) — the interval covers the true above-threshold rate at
    ~95% for the default ``z``.

    Determinism: mean_score is a DECIMAL(18,6) sum of the (already
    6-rounded) scores over the count; the Wilson arithmetic is per-group
    double math from two integers (n, k) with identical expression
    shapes both engines, rounded to 6.

    Scale shape: the scoring is per-row codegen; ONE map-side-combined
    rollup on the stratum key produces every column — no second scan, no
    window, no collect.
    """
    n = F.col("n_docs").cast("double")
    k = F.col("n_good").cast("double")
    phat = k / n
    z2 = float(z) * float(z)
    denom = F.lit(1.0) + F.lit(z2) / n
    center = (phat + F.lit(z2) / (F.lit(2.0) * n)) / denom
    half = (
        F.lit(float(z))
        * F.sqrt(phat * (F.lit(1.0) - phat) / n + F.lit(z2) / (F.lit(4.0) * n * n))
        / denom
    )
    return (
        quality_features(df, text_col)
        .groupBy(stratum_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("quality_score").cast("decimal(18,6)"))
            .cast("double")
            .alias("_sum"),
            F.sum(
                F.when(F.col("quality_score") >= F.lit(float(threshold)), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_good"),
        )
        .select(
            stratum_col,
            "n_docs",
            F.round(F.col("_sum") / F.col("n_docs"), 6).alias("mean_score"),
            "n_good",
            F.round(phat, 6).alias("good_rate"),
            F.round(F.greatest(center - half, F.lit(0.0)), 6).alias("wilson_lo"),
            F.round(F.least(center + half, F.lit(1.0)), 6).alias("wilson_hi"),
        )
    )


def distinctive_terms(
    df: DataFrame,
    stratum_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 10,
    alpha0: float = 100.0,
) -> DataFrame:
    """What vocabulary makes each stratum DISTINCTIVE: weighted log-odds
    with an informative Dirichlet prior (Monroe, Colaresi & Quinn 2008
    — "Fightin' Words"), each stratum against the rest of the corpus.
    The prior (``α_w = α0·y_w/n``, the corpus rate scaled to ``α0``
    pseudo-counts) shrinks rare-term noise, and dividing by the
    estimated standard deviation turns the log-odds difference into a
    z-score — so the ranking surfaces terms that are both
    over-represented AND well-attested, where raw tf-idf or PMI rank
    one-off typos first. The per-source triage sibling of
    :func:`tfidf_top_terms` (which characterizes documents, not strata).

    Returns the ``top_k`` rows per stratum (stratum, term, n_in_stratum,
    n_corpus, zscore, rank), restricted to terms the stratum actually
    contains; ties break by term text. Degenerate corpora where one term
    IS a whole stratum and the whole corpus yield an infinite log-odds —
    callers with single-token corpora don't need this card.

    Scale shape: one (stratum, term) rollup with map-side combine; the
    corpus term totals ride a window over that same relation (term-keyed
    exchange, vocabulary-sized); stratum totals and the corpus total are
    a bounded broadcast and a one-row broadcast; the final top-k is a
    rank window per stratum over the already-reduced relation. Nothing
    document-shaped survives past the first rollup.
    """
    from pyspark.sql import Window

    if top_k < 1:
        raise ValueError("distinctive_terms: top_k must be >= 1")
    if alpha0 <= 0:
        raise ValueError("distinctive_terms: alpha0 must be > 0")
    tf = (
        df.select(F.col(stratum_col), F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy(stratum_col, "term")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    yw = F.sum("y").over(Window.partitionBy("term")).cast("long")
    gtot = tf.groupBy(stratum_col).agg(F.sum("y").cast("long").alias("_ni"))
    ntot = tf.agg(F.sum("y").cast("long").alias("_n"))
    a0 = F.lit(float(alpha0))
    aw = a0 * F.col("_yw").cast("double") / F.col("_n").cast("double")
    yi = F.col("y").cast("double")
    yj = (F.col("_yw") - F.col("y")).cast("double")
    ni = F.col("_ni").cast("double")
    nj = (F.col("_n") - F.col("_ni")).cast("double")
    delta = F.log((yi + aw) / (ni + a0 - yi - aw)) - F.log(
        (yj + aw) / (nj + a0 - yj - aw)
    )
    var = F.lit(1.0) / (yi + aw) + F.lit(1.0) / (yj + aw)
    wr = Window.partitionBy(stratum_col).orderBy(F.desc("zscore"), F.asc("term"))
    return (
        tf.withColumn("_yw", yw)
        .join(F.broadcast(gtot), stratum_col)
        .crossJoin(F.broadcast(ntot))
        .withColumn("zscore", F.round(delta / F.sqrt(var), 6))
        .withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= int(top_k))
        .select(
            stratum_col,
            "term",
            F.col("y").alias("n_in_stratum"),
            F.col("_yw").alias("n_corpus"),
            "zscore",
            "rank",
        )
    )
