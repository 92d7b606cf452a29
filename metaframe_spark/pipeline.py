"""End-to-end training-data curation pipeline.

Composes the operator library into the canonical LLM-corpus flow — the
pipeline a reference user would actually run:

1. **exact dedup** — one shuffle on a content digest;
2. **near-dup removal** — banded MinHash candidates → exact Jaccard
   verify → connected components → keep one survivor per duplicate group;
3. **quality gate** — codegen quality features, threshold filter;
4. **language filter** — stopword-overlap language ID;
5. **deterministic interleave + sharding** — reproducible global order,
   contiguous near-equal training shards.

Every stage is the library operator (see each module's scale notes); this
module only wires them and reports per-stage row counts. Each counted
relation is computed once, and its count is the action that materializes
it:

* the exact-dedup output is persisted BEFORE its count, so the count fills
  the cache stage 2 reads twice (MinHash pipeline + the anti-join); the
  cache is released once the near-dup survivors are checkpointed;
* the near-dup survivor set is localCheckpointed, so stages 3-5 never
  re-traverse the MinHash/verify lineage;
* the quality survivors are localCheckpointed lazily: their count fills
  the checkpoint and the interleave's range sample and range shuffle read
  it instead of re-running the feature plan;
* the interleave is checkpointed by :func:`~metaframe_spark.operators.
  sampling.global_shuffle`, and sharding takes N from its rank offsets.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators import (
    exact_dedup_rows,
    global_shuffle,
    minhash_near_dup_pairs,
    near_dup_groups,
    shard_assignments,
)
from .operators.text import language_scores, quality_features


def curate_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.3,
    keep_langs: Optional[List[str]] = None,
    near_dup_jaccard: float = 0.85,
    n_shards: int = 0,
    line_filter: bool = False,
    dedup_spans: bool = False,
    dedup_substrings: bool = False,
    split_fractions: Optional[Dict[str, float]] = None,
    benchmark: Optional[DataFrame] = None,
    benchmark_ngram: int = 8,
    embeddings: Optional[DataFrame] = None,
    embedding_col: str = "embedding",
    semantic_min_cosine: float = 0.85,
    semantic_cells: int = 16,
    url_col: Optional[str] = None,
    url_dedup: bool = False,
    blocked_domains: Optional[List[str]] = None,
    domain_cap: int = 0,
    domain_quality_col: Optional[str] = None,
    psl: Optional[DataFrame] = None,
    quality_model: Optional[Dict] = None,
    min_classifier_prob: float = 0.5,
    stage_counts: bool = True,
    html_input: bool = False,
    unicode_clean: bool = False,
    dsir_target: Optional[DataFrame] = None,
    dsir_keep: int = 0,
    dsir_buckets: int = 8192,
    dsir_seed: int = 0,
    max_tokens: int = 0,
    token_merges: Optional[DataFrame] = None,
    n_special_per_doc: int = 0,
) -> Tuple[DataFrame, Dict[str, int]]:
    """Run the full curation flow; returns (curated_df, stage_counts).

    ``stage_counts`` records the surviving row count after each stage —
    the per-stage yield report every curation run needs for its data card.
    The counts force one action (an extra scan of that stage's relation)
    per stage; pass ``stage_counts=False`` for the fire-and-forget mode,
    which skips every intermediate count — only the actions the pipeline
    NEEDS (the near-dup checkpoint chain) run, and the returned dict
    holds just ``input``, ``near_dedup`` (free: a cached scan of the
    already-materialized checkpoint) and ``output``.

    ``html_input=True`` treats ``text_col`` as raw HTML and rewrites it
    to extracted plain text first
    (:func:`~metaframe_spark.operators.web.extract_html_text` — a
    row-local codegen rewrite, so it adds no stage count of its own);
    every later stage then sees clean text. ``unicode_clean=True`` then
    applies the typography/invisible-character scrub
    (:func:`~metaframe_spark.operators.clean_text`) — also a row-local
    rewrite with no stage count; run it whenever the corpus mixes
    mirrors, or dedup keys fragment on curly quotes and zero-widths.

    ``line_filter=True`` prepends the C4 line-level scrub
    (:func:`~metaframe_spark.operators.c4_line_filter`);
    ``dedup_spans=True`` inserts global three-sentence-span dedup
    (:func:`~metaframe_spark.operators.span_dedup`) after exact dedup,
    dropping rows whose text was entirely boilerplate;
    ``dedup_substrings=True`` then applies exact-substring removal
    (:func:`~metaframe_spark.operators.substring_dedup`, Lee et al.
    2022 — the duplicated passage itself is excised from the loser,
    text normalized to winnow space). All three default off: they
    rewrite document text, and the default pipeline is
    content-preserving.

    ``dsir_target`` + ``dsir_keep > 0`` append DSIR importance
    resampling (:func:`~metaframe_spark.operators.sampling.dsir_weights`
    → log-space :func:`~metaframe_spark.operators.sampling.
    weighted_sample_exact`): the filtered survivors are re-weighted by
    how target-like their hashed-n-gram bag is and ``dsir_keep`` of them
    are drawn — the Xie et al. 2023 "select toward a quality domain"
    step, last among the filters so weights are computed only on rows
    that survived everything else. Note the stage also drops zero-gram
    survivors (documents whose normalized text yields no hashed n-grams,
    e.g. empty after normalization): ``dsir_weights`` emits no row for
    them, so the left-semi join excludes them even when ``dsir_keep``
    exceeds the corpus size — a document with no content signal has no
    defined importance weight, and silently keeping it would bypass the
    resampling.

    ``max_tokens > 0`` caps the corpus at a TOKEN budget: after the
    deterministic interleave, the maximal prefix of the ``seq`` order
    whose token total fits the budget survives
    (:func:`~metaframe_spark.operators.packing.take_token_budget`) —
    exact and rerun-stable. Pass ``token_merges`` (a BPE merges
    relation) to denominate the budget in REAL subword counts
    (:func:`~metaframe_spark.operators.text.bpe_tokenize`); without it
    the regex pre-token bound applies. ``n_special_per_doc`` reserves
    that many collator special tokens (BOS/EOS) in every document's
    budget count, so the cap matches what the trainer actually consumes.
    The output carries the budget denomination as ``budget_tokens``
    (``n_tokens`` is already the quality stage's whitespace count).

    With ``n_shards > 0`` the result carries ``seq`` (deterministic global
    interleave order) and ``shard`` columns, ready for a partitioned write
    via :func:`~metaframe_spark.operators.write_training_shards`'s layout.

    ``benchmark`` (a DataFrame with ``text_col``) enables the
    decontamination stage real curation always runs before training:
    documents sharing any ``benchmark_ngram``-gram with the eval set are
    dropped (:func:`~metaframe_spark.operators.ngram_contamination` —
    broadcast benchmark shingles, GPT-3/PaLM-style collision check). The
    default n=8 is deliberately longer than the dedup shingle n: short
    n-grams collide by chance and would shred the corpus; 8+ means a
    verbatim phrase leak. Runs after dedup (fewer rows to scan) and
    before the quality gate.

    ``url_col`` + ``url_dedup=True`` prepend canonical-URL dedup: the
    same page fetched as ``HTTP://Site.com/a/?utm_source=x`` and
    ``http://site.com/a`` collapses to its lowest-id fetch before any
    content is scanned (:func:`~metaframe_spark.operators.web.
    canonicalize_url` — one codegen chain plus one shuffle on the
    canonical key). Runs FIRST: refetch duplicates are the cheapest rows
    to drop and exact content dedup cannot see them when mirrors differ
    in boilerplate.

    ``url_col`` + ``blocked_domains`` enable the domain blocklist gate
    (:func:`~metaframe_spark.operators.web.domain_filter`) as the FIRST
    stage — it is metadata-only (no text scanned), so running it before
    any content stage is free yield: everything downstream processes
    fewer rows.

    ``url_col`` + ``domain_cap > 0`` add the per-domain cap every
    web-curation run applies (C4/Gopher-style: a dominant crawl domain
    must not swamp the corpus): at most ``domain_cap`` documents survive
    per registrable domain. With ``domain_quality_col`` (a numeric
    column of ``df``) the cap keeps the BEST-scored documents; without
    it, a deterministic md5 draw. Runs right after the blocklist —
    still metadata-only (:func:`~metaframe_spark.operators.web.
    url_features` → :func:`~metaframe_spark.operators.
    stratified_sample_exact`, a WindowGroupLimit that pre-prunes each
    input partition to its own top-n before the shuffle). Rows whose
    URL yields no domain (malformed/NULL) form one shared stratum and
    are capped together. ``psl`` (a public-suffix relation) upgrades
    both the blocklist and the cap to exact registrable domains.

    ``quality_model`` (the dict from
    :func:`~metaframe_spark.operators.classifier.fit_quality_classifier`,
    or hand-specified weights) adds the LEARNED quality filter after the
    heuristic gate: documents scoring below ``min_classifier_prob``
    under :func:`~metaframe_spark.operators.classifier.score_quality`
    are dropped — the fastText-style wiki-vs-crawl stage of
    GPT-3/LLaMA-era pipelines.

    ``embeddings`` (a DataFrame of ``id_col`` + ``embedding_col``) enables
    SemDeDup-style semantic deduplication after the lexical stages:
    vectors of the surviving documents are unit-normalized, near-duplicate
    pairs found within k-means cells
    (:func:`~metaframe_spark.operators.dedup.semantic_dup_pairs` with
    ``semantic_min_cosine`` / ``semantic_cells``), and each duplicate
    component keeps its smallest id. Lexical dedup first is the standard
    order — exact/MinHash are cheap and shrink the vector workload;
    semantic then catches paraphrases no shingle overlap can see.
    Documents without an embedding row pass through untouched.

    ``split_fractions`` (e.g. ``{"train": 98, "val": 1, "test": 1}``) adds
    a deterministic ``split`` column via
    :func:`~metaframe_spark.operators.hash_split` on ``id_col`` — safe
    here because stages 1–2 already removed exact and near duplicates, so
    no eval document has a training-set twin. (Splitting an *uncurated*
    corpus needs ``hash_split(by_col=<group id>)`` to keep whole near-dup
    groups in one split.)
    """
    counts: Dict[str, int] = {"input": df.count()}

    # 0a0. optional canonical-URL dedup — metadata-only and the cheapest
    # duplicate class there is (refetches of one page), so it runs first
    if url_col is not None and url_dedup:
        from pyspark.sql import Window

        from .operators.web import canonicalize_url

        # NULL-url docs are NOT duplicates of each other: give each one a
        # private partition key (derived from its id) so they all survive,
        # matching domain_filter's keep-unparseable contract — and avoiding
        # the one-giant-partition skew a shared NULL key would create.
        w = Window.partitionBy("_canon").orderBy(F.col(id_col).asc())
        df = (
            df.withColumn(
                "_canon",
                F.coalesce(
                    canonicalize_url(url_col),
                    F.concat(F.lit("\x00id:"), F.col(id_col).cast("string")),
                ),
            )
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_canon", "_rn")
        )
        if stage_counts:
            counts["url_dedup"] = df.count()

    # 0a. optional domain blocklist — metadata-only, so cheapest-first
    if url_col is not None and blocked_domains:
        from .operators.web import domain_filter

        df = domain_filter(df, blocked_domains, url_col, psl=psl)
        if stage_counts:
            counts["domain_filter"] = df.count()

    # 0b. optional per-domain cap — still metadata-only (+ the ranking
    # column when domain_quality_col is set)
    if url_col is not None and domain_cap > 0:
        from .operators.sampling import stratified_sample_exact
        from .operators.web import url_features

        # url_features/stratified_sample_exact emit fixed column names;
        # stash any input columns that clash so caller data survives the
        # stage (rename is metadata-only — no extra jobs)
        _feature_names = ("host", "domain", "is_https", "path_depth", "draw_rank")
        _stash = {c: f"_mf_stash_{c}" for c in df.columns if c in _feature_names}
        work = df
        for c, t in _stash.items():
            work = work.withColumnRenamed(c, t)
        feat = url_features(work, _stash.get(url_col, url_col), psl=psl)
        df = stratified_sample_exact(
            feat,
            ["domain"],
            domain_cap,
            _stash.get(id_col, id_col),
            by=_stash.get(domain_quality_col, domain_quality_col),
            descending=domain_quality_col is not None,
        ).drop(*_feature_names)
        for c, t in _stash.items():
            df = df.withColumnRenamed(t, c)
        if stage_counts:
            counts["domain_cap"] = df.count()

    # 0c. optional HTML -> text extraction (raw-crawl input): a pure
    # per-row codegen rewrite of text_col, so no count of its own — the
    # next counted stage reflects it
    if html_input:
        from .operators.web import extract_html_text

        df = df.withColumn(text_col, extract_html_text(text_col))

    # 0d. optional unicode scrub — same no-count contract as 0c (pure
    # row-local rewrite); after HTML extraction so entities' output is
    # scrubbed too
    if unicode_clean:
        from .operators.text import clean_text

        df = df.withColumn(text_col, clean_text(text_col))

    # 0. optional C4 line scrub (drops boilerplate lines + emptied docs)
    if line_filter:
        from .operators.text import c4_line_filter

        df = c4_line_filter(df, text_col).drop("n_lines_kept", "n_lines_total")
        if stage_counts:
            counts["line_filter"] = df.count()

    # 1. exact dedup (full surviving rows, min-id survivor). Stage 2
    # traverses its output twice (minhash pipeline + the anti-join), so it
    # is pinned BEFORE the count: the count is the action that fills the
    # cache. Pins are released once cur2 is checkpointed below.
    pinned = [exact_dedup_rows(df, text_col, id_col).persist()]
    cur = pinned[0]
    if stage_counts:
        counts["exact_dedup"] = cur.count()

    # 1b. optional global span dedup (cross-corpus boilerplate removal)
    if dedup_spans:
        from .operators.dedup import span_dedup

        cur = (
            span_dedup(cur, text_col, id_col)
            .drop("n_spans_removed")
            .filter(F.length(F.col(text_col)) > 0)
            .persist()
        )
        pinned.append(cur)
        if stage_counts:
            counts["span_dedup"] = cur.count()

    # 1c. optional exact-substring removal (Lee et al. 2022): the
    # duplicated passage itself is cut out of the losing doc — stronger
    # than whole-sentence spans; text comes back in winnow's normalized
    # space, so run it AFTER span dedup (which re-joins on normalized
    # whitespace anyway) and before the near-dup stage reads the text
    if dedup_substrings:
        from .operators.dedup import substring_dedup

        cur = (
            substring_dedup(cur, text_col, id_col)
            .drop("n_spans_removed", "n_chars_removed")
            .filter(F.length(F.col(text_col)) > 0)
            .persist()
        )
        pinned.append(cur)
        if stage_counts:
            counts["substring_dedup"] = cur.count()

    # 2. near-dup removal: verified pairs -> components -> keep min id
    pairs = minhash_near_dup_pairs(
        cur, id_col, text_col, min_jaccard=near_dup_jaccard
    )
    groups = near_dup_groups(pairs, "id_a", "id_b")
    losers = groups.filter(F.col("id") != F.col("group_id")).select(
        F.col("id").alias(id_col)
    )
    # no broadcast hint: the loser set is usually tiny (AQE will broadcast
    # it), but a heavily-duplicated crawl can make it a large fraction of
    # the corpus — let the optimizer decide from measured sizes
    cur2 = cur.join(losers, id_col, "left_anti")
    # Truncate lineage so stages 3-5 never re-traverse the losers ->
    # pairs -> LSH band/verify pipeline (pairs itself is already
    # checkpointed by the operator; this pins the anti-join's survivors).
    cur2 = cur2.localCheckpoint(eager=True)
    counts["near_dedup"] = cur2.count()
    for frame in pinned:
        frame.unpersist()

    # 2c. optional benchmark decontamination (drop docs leaking eval text)
    if benchmark is not None:
        from .operators.dedup import ngram_contamination

        contaminated = ngram_contamination(
            cur2, benchmark, id_col, text_col, n=benchmark_ngram
        ).select(id_col)
        cur2 = cur2.join(contaminated, id_col, "left_anti")
        if stage_counts:
            counts["decontaminate"] = cur2.count()

    # 2d. optional semantic (embedding) dedup on the lexical survivors
    if embeddings is not None:
        from .operators import unit_normalize
        from .operators.dedup import semantic_dup_pairs

        surv_emb = unit_normalize(
            embeddings.join(cur2.select(id_col), id_col), embedding_col
        )
        sem_pairs = semantic_dup_pairs(
            surv_emb,
            min_cosine=semantic_min_cosine,
            n_cells=semantic_cells,
            id_col=id_col,
            vec_col=embedding_col,
        )
        sem_groups = near_dup_groups(sem_pairs, "id_a", "id_b")
        sem_losers = sem_groups.filter(F.col("id") != F.col("group_id")).select(
            F.col("id").alias(id_col)
        )
        cur2 = cur2.join(sem_losers, id_col, "left_anti")
        if stage_counts:
            counts["semantic_dedup"] = cur2.count()

    # 3. quality gate. The survivors are checkpointed lazily: their count
    # (or, without stage counts, the interleave's range sample) fills the
    # checkpoint, and every later stage — the range shuffle included —
    # reads it instead of re-running the feature plan.
    scored = quality_features(cur2, text_col)
    kept = scored.filter(F.col("quality_score") >= min_quality).localCheckpoint(
        eager=False
    )
    if stage_counts:
        counts["quality"] = kept.count()

    # 3b. optional learned quality classifier (fastText-style filter —
    # runs after the heuristic gate so the scoring scan sees fewer rows)
    if quality_model is not None:
        from .operators.classifier import score_quality

        probs = score_quality(kept, quality_model, text_col, id_col).select(
            id_col, "quality_prob"
        )
        kept = kept.join(probs, id_col).filter(
            F.col("quality_prob") >= min_classifier_prob
        ).drop("quality_prob")
        if stage_counts:
            counts["classifier"] = kept.count()

    # 4. language filter
    if keep_langs:
        kept = language_scores(kept, text_col).filter(
            F.col("predicted_lang").isin(list(keep_langs))
        )
        if stage_counts:
            counts["language"] = kept.count()

    # 4b. optional DSIR importance resampling toward a target corpus —
    # runs LAST among the filters (weights are only worth computing on
    # rows that survived everything else) and before the interleave so
    # the shard/order layout sees the final selection. Log-space A-ES
    # keeps the DSIR log-likelihood ratios from ever exponentiating.
    if dsir_target is not None and dsir_keep > 0:
        from .operators.sampling import dsir_weights, weighted_sample_exact

        wts = dsir_weights(
            kept.select(id_col, text_col),
            dsir_target,
            text_col,
            id_col,
            buckets=dsir_buckets,
        )
        chosen = weighted_sample_exact(
            wts,
            dsir_keep,
            "log_weight",
            id_col,
            seed=dsir_seed,
            log_space=True,
        ).select(id_col)
        kept = kept.join(chosen, id_col, "left_semi")
        if stage_counts:
            counts["dsir"] = kept.count()

    # 5. deterministic interleave (+ optional sharding)
    out = (
        shard_assignments(kept, n_shards, id_col)
        if n_shards > 0
        else global_shuffle(kept, id_col)
    )

    # 5b. optional token-denominated corpus cap: keep the maximal PREFIX
    # of the deterministic interleave whose token total fits max_tokens —
    # exact and rerun-stable because seq is a pure function of the data.
    # With token_merges the budget is REAL byte-level BPE counts
    # (bpe_tokenize); without, the regex pre-token bound (bpe_token_count).
    if max_tokens > 0:
        from .operators.packing import take_token_budget
        from .operators.text import bpe_token_count, bpe_tokenize

        if token_merges is not None:
            tok = bpe_tokenize(
                out.select(id_col, text_col), token_merges, text_col, id_col,
                n_special_per_doc=n_special_per_doc,
            ).select(
                id_col, F.col("n_tokens").alias("budget_tokens")
            )
            out = out.join(tok, id_col, "left").withColumn(
                "budget_tokens",
                F.coalesce(
                    F.col("budget_tokens"), F.lit(int(n_special_per_doc))
                ),
            )
        else:
            out = out.withColumn(
                "budget_tokens",
                F.coalesce(bpe_token_count(F.col(text_col)), F.lit(0))
                + F.lit(int(n_special_per_doc)),
            )
        out = take_token_budget(out, max_tokens, "budget_tokens", "seq")
        if stage_counts:
            counts["token_budget"] = out.count()

    # 6. optional deterministic train/val/test split (post-dedup, so a
    # per-id draw is leakage-safe — see docstring)
    if split_fractions:
        from .operators import hash_split

        out = hash_split(out, split_fractions, id_col)
    counts["output"] = out.count()
    return out, counts
