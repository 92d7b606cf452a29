"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

Scale design (the 100-TB contract of the build brief):

* **exact_dedup** — one shuffle on the content hash, nothing else; the
  winner per group is chosen with ``min_by`` (map-side partial agg), not a
  window sort.
* **minhash_candidate_pairs** — shingle → HashingTF sparse vectors →
  ``pyspark.ml.feature.MinHashLSH`` banded ``approxSimilarityJoin``: the
  join key is the band bucket, so candidate volume is O(collisions), never
  the O(n²) cross product.
* **banded MinHash near-dup** — one path for every operator of the
  family (:func:`minhash_near_dup_pairs`, :func:`minhash_near_dup_against`,
  :func:`prefix_filter_pairs` and ``stream_neardup_dedup``'s fold): the
  :func:`minhash_signatures` relation (``_shingle_sets`` is its one
  tokenizer) → a candidate join → :func:`_verify_pairs`, the one
  exact-Jaccard verify. Every banded operator's candidates come from
  :func:`_banded_pairs`, one band self-join over :func:`_band_keys`: within
  one relation, strictly cross-side (``minhash_near_dup_against``), or
  over a batch ∪ store band relation with a side flag, which gives
  ``stream_neardup_dedup`` its within-batch and against-store pairs in
  one join and one checkpoint; :func:`prefix_filter_pairs` joins on
  prefix shingles instead. Text is tokenized once per call and every
  operator applies the same threshold test.
* **simhash** — 64-bit fingerprint computed per-row with nested
  higher-order functions (zero shuffle, zero Python); near-dup candidates
  come from a banded self-join on 16-bit sub-bands (any pair within
  Hamming distance 3 shares at least one of 4 bands — pigeonhole), then
  exact Hamming verification via ``bit_count(xor)`` on candidates only.
* **jaccard_similarity_pairs** — exact verifier for a *bounded* candidate
  set (same block / LSH candidates); the block key is the equi-join key,
  so Spark plans a hash join, not BNLJ.
"""

from __future__ import annotations

import logging
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import normalize_text, shingles, tokens

LOG = logging.getLogger("metaframe_spark")


def content_hash(col) -> Column:
    """sha256 of the normalized content — the exact-dedup equivalence key."""
    return F.sha2(normalize_text(col), 256)


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    quality_col: str = None,
) -> DataFrame:
    """Keep one survivor per distinct normalized content: the lowest id
    by default, or — with ``quality_col`` — the HIGHEST-quality copy
    (ties broken by lowest id), the "keep canonical" policy pipelines
    want when duplicates differ in upstream cleanliness. NULL quality
    ranks below every real score; ``id_col`` must be numeric for the
    tie-break (it is negated inside the ordering struct).

    Single hash-shuffle on the 256-bit content digest either way;
    ``min``/``max_by`` keep the survivor with map-side partial
    aggregation (no window sort, no second shuffle). Returns
    (hash, survivor id, group size).
    """
    cols = [content_hash(F.col(text_col)).alias("content_sha256"), F.col(id_col)]
    if quality_col is not None:
        cols.append(
            F.coalesce(F.col(quality_col).cast("double"), F.lit(float("-inf"))).alias(
                "_q"
            )
        )
        survivor = F.max_by(
            id_col, F.struct(F.col("_q"), (-F.col(id_col)).alias("_nid"))
        ).alias(id_col)
    else:
        survivor = F.min(id_col).alias(id_col)
    return (
        df.select(*cols)
        .groupBy("content_sha256")
        .agg(survivor, F.count(F.lit(1)).alias("n_copies"))
    )


#: sentence boundary: whitespace following terminal punctuation. Java-regex
#: lookbehind (fine engine-side; this operator has no SQL oracle — span
#: winners depend on global order, which the per-rule tests pin instead).
SENTENCE_SPLIT_RE = r"(?<=[.!?])\s+"


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_sentences: int = 3,
    joiner: str = " ",
) -> DataFrame:
    """C4-style GLOBAL span dedup (Raffel et al. 2020, §2.2): any exact
    ``n_sentences``-sentence span that occurs more than once in the corpus
    is kept only at its canonical occurrence — the lowest ``(id, position)``
    — and every sentence covered by a losing span is removed from its
    document. The boilerplate killer: nav bars, footers, license blocks
    repeated across millions of pages disappear even when the surrounding
    documents differ.

    Returns the input rows with ``text_col`` replaced by the surviving
    sentences (re-joined with ``joiner``; original inter-sentence
    whitespace is normalized) plus ``n_spans_removed``. Documents with
    fewer than ``n_sentences`` sentences pass through untouched. A
    document that was entirely boilerplate comes back with empty text —
    callers filter on ``length(text) > 0`` (kept so yield accounting sees
    the row, matching :func:`~metaframe_spark.pipeline.curate_corpus`'s
    per-stage counts).

    Scale shape: the exploded relation is one (id, pos, hash) row per
    span — three longs, regardless of sentence length; one groupBy on the
    64-bit span hash (uniform — no skew), one hash-join back, one
    per-document regroup of losing positions. Sentence removal itself is a
    higher-order ``filter`` with index — codegen, row-local. No
    all-pairs anything; cost is O(spans) + two bounded shuffles.
    """
    n = int(n_sentences)
    sents = F.split(F.col(text_col), SENTENCE_SPLIT_RE)
    base = df.withColumn("_sents", sents).withColumn(
        "_spanh",
        F.expr(
            f"CASE WHEN size(_sents) >= {n} THEN "
            f"transform(sequence(0, size(_sents) - {n}), "
            f"i -> xxhash64(concat_ws(' ', slice(_sents, i + 1, {n})))) "
            f"ELSE CAST(array() AS array<bigint>) END"
        ),
    )
    ex = base.select(
        F.col(id_col), F.posexplode("_spanh").alias("_pos", "_h")
    )
    # canonical occurrence per span text: lexicographic min of (id, pos) —
    # min over a struct is a map-side partial agg, no window sort
    winners = ex.groupBy("_h").agg(
        F.min(F.struct(F.col(id_col).alias("i"), F.col("_pos").alias("p"))).alias("_w")
    )
    losers = (
        ex.join(winners, "_h")
        .filter(
            (F.col(id_col) != F.col("_w.i")) | (F.col("_pos") != F.col("_w.p"))
        )
        .groupBy(id_col)
        .agg(F.collect_list("_pos").alias("_lose"))
    )
    covered = (
        f"(s, j) -> NOT exists(coalesce(_lose, CAST(array() AS array<int>)), "
        f"p -> j >= p AND j <= p + {n - 1})"
    )
    out = (
        base.join(losers, id_col, "left")
        .withColumn("n_spans_removed", F.coalesce(F.size("_lose"), F.lit(0)).cast("long"))
        .withColumn(text_col, F.array_join(F.expr(f"filter(_sents, {covered})"), joiner))
        .drop("_sents", "_spanh", "_lose")
    )
    return out


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hash_tables: int = 8,
    num_features: int = 1 << 18,
    max_jaccard_distance: float = 0.6,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash LSH (banded bucket join).

    Returns (id_a, id_b, jaccard_dist) with id_a < id_b. ``jaccard_dist``
    is the exact Jaccard distance between the *hashed shingle sets* (what
    ``approxSimilarityJoin`` verifies on the banded candidates) — the LSH
    approximation is in candidate *generation*, so recall < 1 but
    precision of the returned distances is exact.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    # filter on the TOKEN count, not on size(_shs): a filter over the
    # computed shingle column re-evaluates the whole (interpreted) shingle
    # lambda inside the predicate — measured ~8× the projection cost.
    # size(tokens) >= n  ⟺  shingles nonempty, so these are equivalent.
    toks = (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
        .filter(F.size("_toks") >= shingle_n)
        .withColumn("_sh", shingles("_toks", shingle_n))
        .select(id_col, "_sh")
    )
    tf = HashingTF(inputCol="_sh", outputCol="features", numFeatures=num_features)
    feats = tf.transform(toks)
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=seed
    )
    model = lsh.fit(feats)
    joined = model.approxSimilarityJoin(
        feats, feats, max_jaccard_distance, distCol="jaccard_dist"
    )
    return (
        joined.select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
            F.col("jaccard_dist"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    n_bands: int = 16,
    band_rows: int = 3,
    min_jaccard: float = 0.7,
    seed: int = 42,
) -> DataFrame:
    """End-to-end near-duplicate pairs: banded MinHash candidates + EXACT
    n-gram Jaccard verification, all in codegen'd DataFrame ops.

    Classic (b × r) banding — ``n_bands`` band keys per document, each the
    hash of ``band_rows`` consecutive minhash permutations; a pair becomes
    a candidate iff it agrees on a FULL band. ``band_rows`` sets the
    low-similarity rejection power: per-band collision is J^r, and on a
    realistic corpus the candidate flood is (number of low-J pairs) ×
    b·J^r — with ~n²/2 pairs at J≈0.05 (measured on the test corpus),
    r=2 admitted millions of candidates while r=3 admits ~1e-4 of pairs.
    Candidate recall at the threshold is 1-(1-J^r)^b (b=16, r=3,
    J=0.7 → ~1-1e-3 per pair; J=0.9 where actual near-dups live →
    ~1-2e-7), verified exact against the exhaustive join in tests and by
    the per-round DuckDB oracle.

    Verification recomputes exact set sizes over xxhash64-hashed shingles
    (a 64-bit collision *inside one compared pair* ~1e-15 — the counts are
    exact in practice, and cheap: long arrays, not strings).

    Scale shape: one tokenize scan — the :func:`minhash_signatures`
    relation is referenced three times (band build + both verify sides)
    and is ``persist()``-ed (MEMORY_AND_DISK) so the text is tokenized
    once, the standard shape for multi-pass LSH pipelines. The cache is
    released by the operator itself: the (small) verified-pairs result is
    ``localCheckpoint``-ed eagerly — materializing it once and truncating
    its lineage off the cached relation — and the cache unpersisted
    before returning, so a call with no caller scope leaves no
    CacheManager entry behind (same shape as
    :func:`~metaframe_spark.operators.sampling.global_shuffle`). The band
    relation is (id, band, key) —
    b small rows per doc, NOT b copies of the shingle array; the shingle
    relation shuffles once per join side keyed on id. No all-pairs path,
    no per-candidate black-box distance UDF.

    Returns (id_a, id_b, n_inter, n_union, jaccard), id_a < id_b.
    """
    sigs = minhash_signatures(df, id_col, text_col, shingle_n).persist()
    out = _banded_pairs(sigs, id_col, n_bands, band_rows, min_jaccard, seed)
    sigs.unpersist()
    return out


def _band_keys(
    sigs: DataFrame, id_col: str, n_bands: int, band_rows: int, seed: int
) -> DataFrame:
    """``(id, _band, _bk)``: the ``n_bands`` band keys of every document of
    a :func:`minhash_signatures` relation. Permutation p re-hashes every
    shingle hash with salt ``seed + p`` and takes the min; band j hashes
    its ``band_rows`` consecutive permutation minima (a slice of the
    permutation array) into one 64-bit key. One nested-transform
    expression — all codegen, zero Python, one pass over the shingle
    array per permutation. Key equality is the banded candidate test, so
    every operator that compares band keys must derive them here."""
    n_perms = n_bands * band_rows
    perms = (
        f"transform(sequence(0, {n_perms - 1}), "
        f"p -> array_min(transform(shingle_hashes, h -> xxhash64(h, {seed} + p))))"
    )
    return sigs.withColumn("_perms", F.expr(perms)).select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}), "
                f"j -> xxhash64(slice(_perms, j * {band_rows} + 1, {band_rows}), j))"
            )
        ).alias("_band", "_bk"),
    )


def _verify_pairs(
    cand: DataFrame,
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    names: Sequence[str],
    min_jaccard: float,
) -> DataFrame:
    """Exact-Jaccard verification of a candidate pair relation ``cand``
    whose two id columns are ``names``: each side's shingle hashes come
    from the :func:`minhash_signatures` relation ``left`` / ``right``
    (keyed on ``id_col``). Returns ``(*names, n_inter, n_union, jaccard)``
    for the pairs with ``J ≥ min_jaccard``.

    |A ∪ B| = |A| + |B| − |A ∩ B| over distinct sets: the intersection is
    computed once per pair and the union is pure arithmetic. The threshold
    test is ``n_inter ≥ t·n_union − 1e-9`` in doubles — the epsilon keeps
    exact-boundary pairs whose product rounds up (``0.56·25 →
    14.000000000000002``) and, for ``n_union ≤ 1e6``, admits no
    sub-threshold pair; :func:`neardup_threshold_sweep` re-applies the
    same comparison."""
    a, b = names
    t = float(min_jaccard)

    def side(sigs, name, tag):
        return sigs.select(
            F.col(id_col).alias(name),
            F.col("shingle_hashes").alias(f"_sh_{tag}"),
            F.col("n_shingles").alias(f"_n{tag}"),
        )

    return (
        cand.join(side(left, a, "a"), a)
        .join(side(right, b, "b"), b)
        .select(
            a,
            b,
            F.size(F.array_intersect("_sh_a", "_sh_b")).cast("long").alias("n_inter"),
            (F.col("_na") + F.col("_nb")).cast("long").alias("_nsum"),
        )
        .select(a, b, "n_inter", (F.col("_nsum") - F.col("n_inter")).alias("n_union"))
        .filter(
            F.col("n_inter").cast("double")
            >= t * F.col("n_union").cast("double") - 1e-9
        )
        .withColumn(
            "jaccard", F.round(F.col("n_inter") / F.col("n_union").cast("double"), 6)
        )
    )


def _banded_pairs(
    sigs: DataFrame,
    id_col: str,
    n_bands: int,
    band_rows: int,
    min_jaccard: float,
    seed: int,
    store: Optional[DataFrame] = None,
    within: bool = True,
) -> DataFrame:
    """The one banded candidate join: verified near-dup pairs of the
    :func:`minhash_signatures` relation ``sigs`` (which the caller pins),
    :func:`_band_keys` → one band self-join → :func:`_verify_pairs`. The
    result is ``localCheckpoint``-ed eagerly, so its lineage no longer
    reads ``sigs`` or ``store`` and the caller may release them.

    Without ``store``: ``(id_a, id_b, n_inter, n_union, jaccard)``,
    ``id_a < id_b``, the pairs within ``sigs``. With ``store`` (a second
    signature relation, e.g. a stream's history) the band relation is
    ``sigs`` (side 0) ∪ ``store`` (side 1), every row keyed on
    ``(side, id)`` so the two id spaces may overlap; a side-0 document
    pairs with a side-0 document of higher id or with any store
    document, never store with store. The result gains ``side``, the
    side of ``id_b`` (1: ``id_a`` near-matches the store); ``within=False``
    keeps only those cross pairs."""

    def keyed(rel, side):
        key = F.col(id_col)
        if store is not None:
            key = F.struct(F.lit(side).alias("side"), key.alias("id"))
        return rel.select(key.alias("_key"), "shingle_hashes", "n_shingles")

    left = keyed(sigs, 0)
    # the left side's bands are read by both join sides; without this pin
    # the n_perms-permutation minhash pass over every shingle array runs
    # twice (the broadcast build side cannot reuse the probe side's
    # computation). The cached relation is tiny: (key, band, band key) ×
    # n_bands rows per document.
    bands = _band_keys(left, "_key", n_bands, band_rows, seed).persist()
    right, right_bands = left, bands
    if store is not None:
        right = keyed(store, 1)
        right_bands = _band_keys(right, "_key", n_bands, band_rows, seed)
        if within:
            right, right_bands = (
                left.unionByName(right), bands.unionByName(right_bands)
            )
    a, b = bands.alias("a"), right_bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._band") == F.col("b._band"))
            & (F.col("a._bk") == F.col("b._bk"))
            # (0, id) < (1, id') for every pair of ids: cross pairs pass
            & (F.col("a._key") < F.col("b._key")),
        )
        .select(F.col("a._key").alias("id_a"), F.col("b._key").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    out = _verify_pairs(cand, left, right, "_key", ("id_a", "id_b"), min_jaccard)
    if store is not None:
        out = out.select(
            F.col("id_a.id").alias("id_a"),
            F.col("id_b.id").alias("id_b"),
            F.col("id_b.side").alias("side"),
            "n_inter",
            "n_union",
            "jaccard",
        )
    out = out.localCheckpoint(eager=True)
    bands.unpersist()
    return out


def simhash_column(
    df: DataFrame, text_col: str = "text", out_col: str = "simhash"
) -> DataFrame:
    """Add a 64-bit SimHash fingerprint computed entirely per-row.

    Nested higher-order functions: token hashes via ``xxhash64`` inside
    ``transform``, per-bit majority vote via ``aggregate`` — the whole
    fingerprint stays inside whole-stage codegen with zero shuffle and
    zero Python, so it runs at scan speed on any corpus size.
    """
    expr = f"""
    aggregate(
      transform(sequence(0, 63), b ->
        IF(aggregate(_sh_hashes, 0,
             (acc, h) -> acc + IF(((shiftright(h, b) & 1)) = 1, 1, -1)) > 0,
           shiftleft(1L, b), 0L)),
      0L, (acc, v) -> acc + v)
    """
    return (
        df.withColumn("_sh_toks", tokens(F.col(text_col)))
        .withColumn("_sh_hashes", F.expr("transform(_sh_toks, t -> xxhash64(t))"))
        .withColumn(out_col, F.expr(expr))
        .drop("_sh_toks", "_sh_hashes")
    )


#: token-hash functions usable for SimHash: expression over `_t` + bit width.
#: ``xxhash64`` is the fast default; ``md5`` takes the top 60 bits of the md5
#: digest (15 hex chars — the widest slice that fits a signed BIGINT in both
#: Spark and DuckDB), making the whole fingerprint reproducible cross-engine
#: so the banded-pairs operator is oracle-checkable.
_TOKEN_HASHES = {
    "xxhash64": ("xxhash64(_t)", 64),
    "md5": ("cast(conv(substr(md5(_t), 1, 15), 16, 10) as bigint)", 60),
}


def simhash_by_id(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_hash: str = "xxhash64",
) -> DataFrame:
    """(id, simhash) via explode + per-bit codegen'd bit-vote sums — ~6×
    faster than the higher-order-function formulation (HOFs are interpreted
    per element; these aggregates run in whole-stage codegen).

    Scale shape: tokens explode within their input partition and the
    map-side partial aggregation collapses them back to one counter row
    per document BEFORE the exchange, so shuffle volume is ~bits+1 longs
    per doc regardless of document length. Use :func:`simhash_column` when
    the fingerprint must be appended to a wide row without any shuffle.
    """
    from ..scale import fan_out

    hash_expr, bits = _TOKEN_HASHES[token_hash]
    tok = fan_out(df).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_t")
    ).withColumn("_h", F.expr(hash_expr))
    votes = tok.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.expr(f"(shiftright(_h, {b}) & 1) = 1"), 1).otherwise(-1)
            ).alias(f"_b{b}")
            for b in range(bits)
        ]
    )
    acc = None
    for b in range(bits):
        term = F.when(F.col(f"_b{b}") > 0, F.expr(f"shiftleft(1L, {b})")).otherwise(
            F.lit(0).cast("long")
        )
        acc = term if acc is None else (acc + term)
    return votes.select(id_col, acc.alias("simhash"))


def hamming_near_dup_pairs(
    fp: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "simhash",
    bits: int = 64,
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Banded Hamming self-join over an (id, fingerprint) relation — the
    shared engine under :func:`simhash_near_dup_pairs` (text SimHash) and
    :func:`~metaframe_spark.multimodal.image_near_dup_pairs` (perceptual
    dHash): the ``bits``-wide fingerprint splits into ``n_bands``
    sub-bands; by pigeonhole any pair within Hamming distance
    ``n_bands - 1`` agrees on at least one full band, so the
    band-equality equi-join generates all such pairs as candidates (plus
    collisions) and ``bit_count(xor)`` verifies exactly — output is
    IDENTICAL to an exhaustive all-pairs Hamming scan, at
    O(band-bucket collisions) cost, never all-pairs. All codegen: the
    band explode, equi-join, and xor popcount stay JVM-side."""
    assert max_hamming < n_bands, "banding guarantees recall only for hamming < n_bands"
    assert bits % n_bands == 0, "fingerprint width must divide into bands"
    width = bits // n_bands
    bands = fp.select(
        id_col,
        F.col(fp_col).alias("_fp"),
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}), b -> "
                f"struct(b AS band, shiftright({fp_col}, b * {width}) & {(1 << width) - 1} AS v))"
            )
        ).alias("bv"),
    ).select(id_col, "_fp", F.col("bv.band").alias("band"), F.col("bv.v").alias("v"))
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a._fp").alias("_fp_a"),
            F.col("b._fp").alias("_fp_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.expr("_fp_a ^ _fp_b")).cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_bands: int = 4,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs with Hamming(simhash) <= max_hamming — the
    SimHash fingerprint (:func:`simhash_by_id`) fed through the shared
    banded-Hamming engine (:func:`hamming_near_dup_pairs`; see there for
    the pigeonhole completeness argument). ``token_hash="md5"`` makes the
    fingerprint DuckDB-reproducible (see :data:`_TOKEN_HASHES`) so the
    whole operator is oracle-checkable.
    """
    bits = _TOKEN_HASHES[token_hash][1]
    # pin the fingerprint relation — both sides of the banded self-join
    # consume it, and without the pin the per-document SimHash aggregate
    # (tokenize + per-token hash + 64-bit majority vote) runs once per
    # side (the same choreography as the multimodal
    # _fingerprint_near_dup_pairs wrapper)
    sh = simhash_by_id(df, id_col, text_col, token_hash=token_hash).persist()
    return hamming_near_dup_pairs(
        sh,
        id_col,
        "simhash",
        bits=bits,
        max_hamming=max_hamming,
        n_bands=n_bands,
    )


def jaccard_similarity_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: Optional[str] = None,
    shingle_n: int = 3,
    min_jaccard: float = 0.0,
    hash_shingles: bool = True,
    minhash_block: bool = False,
    max_block_size: Optional[int] = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs within a block.

    The candidate set must be bounded — at scale an unblocked call would be
    an all-pairs cross join, so it is refused. Two blocking modes:

    * ``block_col`` — a caller-supplied blocking key (source, LSH bucket,
      simhash band...); the equi-join key, so Spark plans a hash join.
    * ``minhash_block=True`` — derive the block key internally as the
      1-permutation MinHash fingerprint (min md5 over the document's own
      shingle set). Everything — fingerprint AND hashed shingle sets — is
      derived from ONE tokenize+shingle pass (fingerprinting separately
      via ``fingerprint_column`` would tokenize the corpus twice).

    ``max_block_size`` bounds the quadratic within-block work: blocks
    larger than the cap are split by a *second* fingerprint permutation
    (min md5 over salted shingles), so a corpus where many documents share
    one min-shingle (boilerplate headers) degrades to banded-LSH recall
    instead of a quadratic hot block. Single-permutation
    blocking bounds pair volume in expectation only — the cap makes the
    worst case sub-quadratic too. ``None`` disables the cap (and its extra
    exchange of the shingle relation).

    Returns (id_a, id_b, n_inter, n_union, jaccard) with id_a < id_b.

    ``hash_shingles`` replaces shingle strings with xxhash64 longs before
    the set operations — array_intersect over fixed-width longs is several
    times cheaper than over strings, and a 64-bit collision inside one
    compared pair (what it would take to change a count) has probability
    ~n²/2⁶⁴ ≈ 1e-15 per pair. Turn off only for exact-string auditing.

    The hashed-shingle relation both self-join sides consume is pinned
    (the caller's :func:`~metaframe_spark.session.persist_scope` releases
    it), so the tokenize+shingle pipeline executes once, not once per
    join side.
    """
    if block_col is None and not minhash_block:
        raise ValueError(
            "jaccard_similarity_pairs requires a block_col or minhash_block=True: "
            "exact Jaccard over an unblocked corpus is an all-pairs cross join — "
            "generate candidates with minhash_candidate_pairs/"
            "simhash_near_dup_pairs first"
        )
    keep = [F.col(block_col).alias("_block")] if block_col else []
    base = _shingle_sets(df, id_col, text_col, shingle_n, *keep)
    if minhash_block:
        # 1-permutation MinHash over the same shingle array — min md5; block
        # cardinality grows with the corpus (md5 so oracles can reproduce it)
        base = base.withColumn("_block", F.array_min(F.transform(F.col("_shs"), F.md5)))
    if max_block_size is not None:
        from pyspark.sql import Window

        # one extra exchange on _block (reused by the join when the cap never
        # fires); rows in oversized blocks get the salted second-permutation
        # suffix — lazily computed only for those rows (CASE branches)
        cnt = F.count(F.lit(1)).over(Window.partitionBy("_block"))
        fp2 = F.array_min(F.transform(F.col("_shs"), lambda s: F.md5(F.concat(F.lit("2|"), s))))
        base = base.withColumn(
            "_block",
            F.when(
                cnt > max_block_size,
                F.concat(F.col("_block").cast("string"), F.lit("#"), fp2),
            ).otherwise(F.col("_block").cast("string")),
        )
    base = (
        base.select(
            id_col,
            "_block",
            (
                F.array_distinct(F.expr(_SHINGLE_HASHES))
                if hash_shingles
                else F.col("_shs")
            ).alias("_sh"),
        )
        .withColumn("_n", F.size("_sh"))
    )
    # both self-join sides consume base; without this pin the whole
    # tokenize → shingle → md5-block (+ window recount under the cap)
    # pipeline executes twice — once per join side (the broadcast
    # build side cannot reuse the probe side's computation)
    base = base.persist()
    a = base.alias("a")
    b = base.alias("b")
    # |A ∪ B| = |A| + |B| - |A ∩ B| over distinct sets: the intersection is
    # computed once per pair and the union is pure arithmetic (materializing
    # array_union per pair would double the dominant cost)
    return (
        a.join(
            b,
            (F.col("a._block") == F.col("b._block"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.size(F.array_intersect(F.col("a._sh"), F.col("b._sh")))
            .cast("long")
            .alias("n_inter"),
            (F.col("a._n") + F.col("b._n")).cast("long").alias("_nsum"),
        )
        .select(
            "id_a",
            "id_b",
            "n_inter",
            (F.col("_nsum") - F.col("n_inter")).alias("n_union"),
        )
        .withColumn(
            "jaccard", F.round(F.col("n_inter") / F.col("n_union").cast("double"), 6)
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round: every node connects its STRICTLY LARGER
    neighbors to the minimum of its closed neighborhood. Input/output are
    undirected edge sets stored one row per edge (output oriented
    src > dst). The output is a BAG (duplicates possible): the only
    consumer is :func:`_small_star`, whose leading ``distinct`` performs
    the dedup with ITS exchange — a trailing ``distinct`` here would add
    a whole extra Exchange per round for rows the next shuffle's partial
    aggregation collapses anyway (guide §2.4)."""
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("_m")
    )
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: orient each edge toward its larger endpoint,
    then connect every smaller neighbor (and the center) to the minimum.
    Output oriented src > dst; self-loops dropped."""
    oriented = (
        edges.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    mins = oriented.groupBy("src").agg(F.min("dst").alias("_m"))
    spokes = (
        oriented.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
    )
    centers = mins.select("src", F.col("_m").alias("dst"))
    return (
        spokes.unionByName(centers)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


_JOB_DESC = "spark.job.description"


def near_dup_groups(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Collapse near-duplicate pairs into groups (connected components):
    returns (id, group_id) where group_id is the smallest id in the
    component — the canonical survivor.

    The edge list is checkpointed once (every later step reads it instead
    of re-running the upstream pair-generation pipeline — LSH candidates
    plus exact verification, at any scale the dominant cost) and counted;
    the count is the action that fills the checkpoint. Which algorithm
    runs then follows Spark's own "small enough to ship whole" rule:

    * **driver path** — the edge list's estimated size (edge count × the
      schema's default row size) is within
      ``spark.sql.autoBroadcastJoinThreshold``: it is collected over
      Arrow, union-find with min-id roots runs on the driver, and the
      labels return as a local relation. One collect job replaces the
      star path's two jobs per round, which on a typical near-dup pair
      list (tens to thousands of edges) are pure per-job overhead.
    * **star path** — larger edge lists, or the threshold at ``-1``:
      alternating large-star/small-star contraction (Kiveris et al.,
      "Connected Components in MapReduce and Beyond", SoCC'14) in pure
      DataFrame ops. Each round halves chain depth, so convergence is
      O(log diameter) rounds — vs O(diameter) for plain min-label
      propagation — with every round just two groupBy-min +
      broadcast-or-shuffle joins over the current edge set, whose size
      never exceeds the input edge count. The fixpoint is a forest of
      stars rooted at each component's minimum id, read off as the
      (child, root) edge list. No pair list ever reaches the driver on
      this path, so it scales past driver memory.

    Measured on the star path (sf-independent probe, local[32]): one
    10^5-edge chain — diameter 10^5, the pathological worst case;
    min-label propagation would need ~10^5 rounds — converges in 18
    rounds / ~30 s, exactly the log2(d) the algorithm promises.
    ``max_iterations=50`` is runaway protection only (covers diameters
    beyond 2^49; convergence breaks the loop early), not a tuning knob.

    Star-path convergence detection: count + order-independent xxhash64
    sum over the canonically-oriented edge set — an exact set-difference
    check would cost another join per round. A false "converged" needs
    two DIFFERENT edge sets with equal count and equal 64-bit hash sum in
    consecutive rounds (~2^-64); accepted.

    Jobs are labelled ``near_dup_groups:<step>`` (the caller's job
    description is restored on return), and the chosen path, edge count
    and rounds are logged to the ``metaframe_spark`` logger.
    ``near_dup_groups.last_rounds`` records the star rounds of the most
    recent call — 0 on the driver path (introspection for the O(log d)
    test; not part of the API).
    """
    edges = (
        pairs.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("src"),
            F.least(F.col(id_a), F.col(id_b)).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    spark = edges.sparkSession
    sc = spark.sparkContext
    caller_desc = sc.getLocalProperty(_JOB_DESC)
    try:
        sc.setJobDescription("near_dup_groups:edges")
        edges = edges.localCheckpoint(eager=False)
        # one job over the internal rows fills the lazy checkpoint — the
        # same single job an eager checkpoint runs, now also yielding n
        n_edges = edges._jdf.queryExecution().toRdd().count()
        size = n_edges * edges._jdf.schema().defaultSize()
        conf = spark._jsparkSession.sessionState().conf()
        if 0 <= size <= conf.autoBroadcastJoinThreshold():
            path, rounds = "driver", 0
            out = _driver_components(edges, n_edges)
        else:
            path = "star"
            out, rounds = _star_components(edges, max_iterations)
    finally:
        sc.setLocalProperty(_JOB_DESC, caller_desc)
    near_dup_groups.last_rounds = rounds
    LOG.info("near_dup_groups: path=%s edges=%d rounds=%d", path, n_edges, rounds)
    return out


def _driver_components(edges: DataFrame, n_edges: int) -> DataFrame:
    """Connected components of a small, checkpointed ``(src, dst)`` edge
    list by union-find on the driver: every union hangs the larger root
    under the smaller, so each root is its component's minimum id.
    Returns ``(id, group_id)`` typed like the edge columns."""
    import pyarrow as pa
    from pyspark.sql.types import StructField, StructType

    spark = edges.sparkSession
    id_type = edges.schema["src"].dataType
    schema = StructType(
        [StructField("id", id_type), StructField("group_id", id_type)]
    )
    if n_edges == 0:
        return spark.createDataFrame([], schema)
    spark.sparkContext.setJobDescription("near_dup_groups:collect")
    table = edges.toArrow()
    parent = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(table.column("src").to_pylist(), table.column("dst").to_pylist()):
        ra, rb = find(parent.setdefault(a, a)), find(parent.setdefault(b, b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    ids = list(parent)
    arrow_type = table.schema.field("src").type
    labels = pa.table(
        {
            "id": pa.array(ids, arrow_type),
            "group_id": pa.array([find(x) for x in ids], arrow_type),
        }
    )
    return spark.createDataFrame(labels, schema)


def _star_components(edges: DataFrame, max_iterations: int):
    """Alternating large-star/small-star rounds over a checkpointed edge
    list until two consecutive rounds agree (see :func:`near_dup_groups`).
    Returns ``(labels, rounds)``."""
    sc = edges.sparkSession.sparkContext
    # all node ids, from the ORIGINAL edges (star rounds rewire edges, so
    # intermediate edge sets need not mention every node); lazy — read off
    # the checkpoint by the final labels plan, no eager job of its own
    nodes = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )

    def _sig(e: DataFrame):
        r = e.select(
            F.count(F.lit(1)).alias("n"),
            # decimal accumulator: a long sum of 64-bit hashes overflows
            # under ANSI mode
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (r["n"], r["h"])

    def _ckpt_rdd(df: DataFrame):
        """The persisted RDD behind a localCheckpoint()-ed DataFrame —
        so a SUPERSEDED round's checkpoint can be released the moment the
        next round has materialized, instead of every round's blocks
        piling up until the ContextCleaner notices (O(rounds) live edge
        snapshots; at 100 TB edge scale that is the executors' storage
        memory). Returns None on any plan shape surprise — cleanup is
        best-effort, never load-bearing."""
        try:
            plan = df._jdf.queryExecution().analyzed()
            if plan.getClass().getSimpleName() == "LogicalRDD":
                return plan.rdd()
        except Exception:
            pass
        return None

    # convergence = two consecutive round outputs identical; seeding
    # prev_sig lazily (round 1's output) saves the initial signature job at
    # the cost of one extra round in the rare already-converged-input case
    prev_sig = None
    rounds = 0
    prev_ckpt = None  # round k-1's checkpoint RDD, releasable after round k
    for _ in range(max_iterations):
        rounds += 1
        sc.setJobDescription(f"near_dup_groups:round{rounds}")
        # LAZY checkpoint + signature in one action: the _sig aggregation
        # scans every partition, so it both materializes the round's
        # checkpoint and reads the convergence signature in a single job
        # instead of the eager checkpoint's materialize-then-count pair
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        sig = _sig(edges)
        # the new round is materialized: its input (the previous round's
        # checkpoint) can never be read again — release it now. The FINAL
        # round's checkpoint is never released here: the labels plan below
        # reads it. The input checkpoint is likewise kept (nodes reads it)
        # — prev_ckpt starts at None, so round 1 releases nothing.
        if prev_ckpt is not None:
            prev_ckpt.unpersist(False)
        prev_ckpt = _ckpt_rdd(edges)
        if sig == prev_sig:
            break
        prev_sig = sig
    # fixpoint edges are (child, component-min); roots appear only as dst
    parents = edges.groupBy("src").agg(F.min("dst").alias("_g"))
    labels = nodes.join(parents, nodes["id"] == parents["src"], "left").select(
        "id", F.coalesce(F.col("_g"), F.col("id")).alias("group_id")
    )
    return labels, rounds


def dedup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """End-to-end near-dup dedup: given the corpus and a near-dup pair list
    (from minhash/simhash/cosine candidates + verification), keep one
    survivor per connected component (the smallest id) plus all unpaired
    documents. Returns the surviving rows of ``df``."""
    return df.join(_near_dup_losers(pairs, id_col), id_col, "left_anti")


def _near_dup_losers(pairs: DataFrame, id_col: str) -> DataFrame:
    """``(id_col)``: the ids :func:`dedup_survivors` drops — every paired
    id that is not the smallest of its :func:`near_dup_groups` group."""
    groups = near_dup_groups(pairs, "id_a", "id_b")
    return groups.filter(F.col("id") != F.col("group_id")).select(
        F.col("id").alias(id_col)
    )


def exact_dedup_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Full-row variant of :func:`exact_dedup`: returns the surviving rows
    of ``df`` (lowest id per distinct normalized content), all columns
    intact. One shuffle on the content hash + a per-group row_number —
    use :func:`exact_dedup` when only ids/counts are needed (cheaper:
    min_by needs no sort)."""
    from pyspark.sql import Window

    w = Window.partitionBy("_h").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("_h", content_hash(F.col(text_col)))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_h", "_rn")
    )


def dedup_against(
    df: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Incremental (cross-snapshot) exact dedup: drop rows of ``df`` whose
    normalized content digest already occurs in ``seen`` — the daily-crawl
    shape, where today's snapshot is deduplicated against everything
    ingested so far without re-deduplicating the historical corpus.

    Left-anti hash join on the 256-bit content digest: only digests of
    ``seen`` move (never its rows), both sides shuffle on the digest alone,
    and AQE broadcasts the digest set when it is small. Nothing is ever
    compared row-to-row and ``df`` is scanned once.
    """
    seen_h = seen.select(content_hash(F.col(text_col)).alias("_seen_h")).distinct()
    return df.join(
        seen_h, content_hash(F.col(text_col)) == F.col("_seen_h"), "left_anti"
    )


def _distinct_shingles(
    df: DataFrame, text_col: str, shingle_n: int, *keep: Column
) -> DataFrame:
    """``(*keep, _toks, _shs)``: every document's distinct word
    ``shingle_n``-grams — the one tokenizer of every shingle-set operator
    in this module (through :func:`_shingle_sets` for the banded family and
    :func:`jaccard_similarity_pairs`; directly for the contamination and
    novelty operators).
    Documents with fewer than ``shingle_n`` tokens have no shingles and are
    dropped. The filter is on the TOKEN count, before the shingle
    projection: filtering on ``size(_shs)`` afterwards re-evaluates the
    interpreted shingle lambda inside the predicate (measured ~8× the
    projection cost), and ``size(tokens) >= n`` ⟺ shingles nonempty."""
    return (
        df.select(*keep, tokens(F.col(text_col)).alias("_toks"))
        .filter(F.size("_toks") >= shingle_n)
        .withColumn("_shs", F.array_distinct(shingles("_toks", shingle_n)))
    )


def _shingle_sets(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int, *keep: Column
) -> DataFrame:
    """``(id, *keep, _toks, _shs)`` over the fanned-out corpus: the
    tokenizer of :func:`minhash_signatures` (hence of every banded near-dup
    operator) and :func:`jaccard_similarity_pairs`."""
    from ..scale import fan_out

    return _distinct_shingles(fan_out(df), text_col, shingle_n, F.col(id_col), *keep)


#: ``_shs`` (shingle strings) → 64-bit shingle hashes: the one hash every
#: signature, band key and verify intersection is computed over.
_SHINGLE_HASHES = "transform(_shs, s -> xxhash64(s))"


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """The persistable MinHash SIGNATURE STORE relation for a corpus:
    ``(id, shingle_hashes array<bigint>, n_shingles, shingle_n)`` — the
    per-document distinct-shingle hash set every banded near-dup
    operator derives its permutations/bands from, with the raw text
    dropped. Write it once per ingested snapshot
    (``.write.parquet(path)``) and feed it back to
    :func:`minhash_near_dup_against` via ``seen_signatures`` on later
    runs: today's crawl is then checked against ALL of history without
    re-tokenizing (or even storing) the historical text. Band keys are
    a cheap derived transform of ``shingle_hashes``, so the store is
    parameter-light — only ``shingle_n`` is baked in (carried as a
    column; the consumer validates it), while ``n_bands``/``band_rows``/
    ``seed`` remain free per query.

    Per document the store holds one hash per distinct shingle (8 bytes
    each) — typically ~1/10th of the text it replaces, and exactly the
    relation the verify stage needs for exact-Jaccard precision.
    """
    return (
        _shingle_sets(df, id_col, text_col, shingle_n)
        .select(id_col, F.expr(_SHINGLE_HASHES).alias("shingle_hashes"))
        .withColumn("n_shingles", F.size("shingle_hashes"))
        .withColumn("shingle_n", F.lit(int(shingle_n)))
    )


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_jaccard: float = 0.7,
    shingle_n: int = 3,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    SSJoin/PPJoin family) — the deterministic sibling of
    :func:`minhash_near_dup_pairs`: all pairs with shingle-set Jaccard
    ≥ ``min_jaccard``, GUARANTEED complete (MinHash banding has a
    ~1e-3 per-pair miss probability at the threshold boundary; the
    prefix filter has zero, by the prefix lemma). Same output schema
    ``(id_a, id_b, n_inter, n_union, jaccard)``.

    The prefix lemma: order every document's distinct shingles by one
    GLOBAL total order (rarest-first — document frequency, ties by
    value) and keep each document's first ``n − ⌈t·n⌉ + 1`` shingles.
    ``J(A,B) ≥ t`` forces ``|A∩B| ≥ ⌈t·max(|A|,|B|)⌉``, and an overlap
    that large cannot avoid BOTH prefixes — so equi-joining on prefix
    shingles finds every qualifying pair, and exact verification keeps
    precision exact too.

    Scale shape: the frequency join and the per-doc re-sort shuffle the
    exploded (id, shingle) relation — the same volume the banded
    operators explode — and the candidate join runs on PREFIX shingles
    only, which are by construction the RAREST in the corpus, so the
    equi-join fan-out is inherently skew-resistant (the common shingles
    that would blow up a naive token join never enter a prefix at
    selective thresholds). Work scales with candidate count, never
    all-pairs. The length filter ``min(n) ≥ t·max(n)`` prunes
    impossible pairs before verification.

    Float robustness: every ``t·n`` comparison subtracts a
    1e-9 epsilon before ``ceil``/``>=`` so double rounding can never
    round an exact integer product UP (e.g. ``0.1*10 →
    1.0000000000000002 → ceil 2``, which would shorten the prefix below
    what the lemma requires, or reject an exact-boundary pair). The
    epsilon only ever LENGTHENS prefixes / LOOSENS pruning — for
    integer ``n ≤ 1e6`` the product's rounding error is < 1e-10, so no
    sub-threshold pair can sneak in — keeping completeness guaranteed
    and precision exact."""
    if not (0.0 < min_jaccard <= 1.0):
        raise ValueError(
            f"prefix_filter_pairs: min_jaccard must be in (0, 1] "
            f"({min_jaccard})"
        )
    t = float(min_jaccard)
    sigs = minhash_signatures(df, id_col, text_col, shingle_n).persist()
    tok = sigs.select(
        id_col, F.col("n_shingles").alias("_n"), F.explode("shingle_hashes").alias("_tok")
    )
    freq = tok.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    # rarest-first total order: (document frequency, hash value) — every
    # document sorts by the SAME order, which the prefix lemma requires
    ordered = (
        tok.join(freq, "_tok")
        .groupBy(id_col, "_n")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_df"), F.col("_tok")))
            ).alias("_ord")
        )
    )
    # both self-join sides consume pref; without this pin the whole
    # explode → frequency-join → per-doc sort → prefix-explode subtree
    # executes twice (the broadcast build side cannot reuse the probe
    # side's exchanges)
    pref = ordered.select(
        F.col(id_col),
        F.col("_n"),
        F.explode(
            F.expr(
                # required overlap = ceil(t*n); subtract 1e-9 so float
                # rounding above an exact integer never SHORTENS the prefix
                f"slice(transform(_ord, s -> s._tok), 1, "
                f"cast(_n - ceil({t!r}D * _n - 1e-9D) + 1 as int))"
            )
        ).alias("_tok"),
    ).persist()
    cand = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a._tok") == F.col("b._tok"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            # length filter: J >= t needs min(n) >= t * max(n); the 1e-9
            # slack keeps exact-boundary pairs (verify re-checks exactly)
            & (F.col("a._n").cast("double") >= t * F.col("b._n") - 1e-9)
            & (F.col("b._n").cast("double") >= t * F.col("a._n") - 1e-9),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return _verify_pairs(cand, sigs, sigs, id_col, ("id_a", "id_b"), t)


def neardup_threshold_sweep(
    df: DataFrame,
    thresholds,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Near-duplicate threshold sweep — the data card that answers "which
    Jaccard threshold do I dedup at?" as a table instead of a belief:
    for each candidate threshold, the qualifying pair count, the number
    of documents touched by at least one qualifying pair, and that
    count's share of the corpus. A curation team reads the knee of the
    ``dup_doc_rate`` curve to pick the threshold before committing a
    destructive dedup pass.

    Candidates are generated ONCE at the sweep's FLOOR threshold via
    :func:`prefix_filter_pairs` — guaranteed complete there by the
    prefix lemma, hence complete for every higher threshold too (a pair
    qualifying at t ≥ floor qualifies at the floor). Each pair's exact
    ``(n_inter, n_union)`` is computed once; the per-threshold
    qualification re-uses those integers against the same
    epsilon-guarded comparison the pair generator applies
    (``n_inter ≥ t·n_union − 1e-9``), so the sweep rows are mutually
    consistent and a SQL oracle replays them exactly.

    Scale shape: the expensive stage (shingle explode + prefix join +
    verify) runs once at the floor — the bounded pair relation is
    PERSISTED because it feeds two aggregation branches (pair counts
    and the doc-distinct); the caller's
    :func:`~metaframe_spark.session.persist_scope` releases it and the
    generator's signature cache. The sweep itself multiplies only that
    bounded relation (near-dup volume, not corpus volume) by a literal
    handful of thresholds — one broadcast join, two partial-aggregated
    groupBys on ≤ |thresholds| keys, one distinct on (threshold, doc)
    bounded by pair volume. The corpus total is a one-row aggregate broadcast
    back. Zero-pair thresholds still emit a row (left join from the
    threshold literal relation)."""
    ts = sorted({float(t) for t in thresholds})
    if not ts:
        raise ValueError("neardup_threshold_sweep: thresholds is empty")
    if not (0.0 < ts[0] and ts[-1] <= 1.0):
        raise ValueError(
            f"neardup_threshold_sweep: thresholds must be in (0, 1] ({ts})"
        )
    spark = df.sparkSession
    inner = prefix_filter_pairs(
        df, id_col, text_col, min_jaccard=ts[0], shingle_n=shingle_n
    )
    # persist the bounded pair relation: it feeds TWO aggregation
    # branches (pair counts and the doc-distinct), so without the pin
    # the candidate join + verify subtree would execute twice
    pairs = inner.select("id_a", "id_b", "n_inter", "n_union").persist()
    th = spark.createDataFrame([(t,) for t in ts], "threshold double")
    qual = pairs.crossJoin(F.broadcast(th)).filter(
        F.col("n_inter").cast("double")
        >= F.col("threshold") * F.col("n_union").cast("double") - 1e-9
    )
    pair_counts = qual.groupBy("threshold").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    doc_counts = (
        qual.select(
            "threshold", F.explode(F.array("id_a", "id_b")).alias("_d")
        )
        .distinct()
        .groupBy("threshold")
        .agg(F.count(F.lit(1)).alias("n_dup_docs"))
    )
    total = df.select(F.count(F.lit(1)).alias("_n_total"))
    return (
        th.join(F.broadcast(pair_counts), "threshold", "left")
        .join(F.broadcast(doc_counts), "threshold", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "threshold",
            F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce(F.col("n_dup_docs"), F.lit(0))
            .cast("long")
            .alias("n_dup_docs"),
            # nullif: an empty corpus has no defined dup rate — NULL, not
            # the IEEE 0/0 NaN (the threshold rows themselves still emit)
            F.round(
                F.coalesce(F.col("n_dup_docs"), F.lit(0)).cast("double")
                / F.nullif(F.col("_n_total").cast("double"), F.lit(0.0)),
                6,
            ).alias("dup_doc_rate"),
        )
    )


def minhash_near_dup_against(
    new: "DataFrame | None" = None,
    seen: "DataFrame | None" = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    n_bands: int = 16,
    band_rows: int = 3,
    min_jaccard: float = 0.7,
    seed: int = 42,
    seen_signatures: "DataFrame | None" = None,
    new_signatures: "DataFrame | None" = None,
) -> DataFrame:
    """Incremental NEAR-duplicate detection: pairs of ``new`` documents
    that near-match an already-ingested ``seen`` corpus — the sibling of
    :func:`dedup_against` for fuzzy matches (today's crawl vs everything
    ingested so far, without re-comparing the historical corpus to
    itself).

    Same banded MinHash + exact-Jaccard-verify machinery as
    :func:`minhash_near_dup_pairs`, but the candidate join is STRICTLY
    cross-side — new band keys against seen band keys — so the work is
    O(new × collision rate), never new×new or seen×seen, and the two id
    namespaces may overlap freely (no ``id_a < id_b`` trick is needed or
    used).

    Pass EITHER ``seen`` (raw text — tokenized/shingled on the fly) OR
    ``seen_signatures`` (a :func:`minhash_signatures` relation, usually
    reloaded from parquet): the signature-store path skips re-tokenizing
    history entirely — at steady state the store is the only trace of
    past snapshots this operator needs. A store built with a different
    ``shingle_n`` than this call raises (the stored and fresh shingle
    spaces would silently never collide). The NEW side takes the same
    pair — ``new`` (raw text) or ``new_signatures`` — so a caller that
    already built today's signatures (to append them to the store
    afterwards) never tokenizes the batch twice. The candidates come from
    the same band join as every banded operator (:func:`_banded_pairs`,
    cross pairs only); ``stream_neardup_dedup`` runs that join itself,
    within-batch pairs included, instead of calling this operator.

    Returns (new_id, seen_id, n_inter, n_union, jaccard), one row per
    cross near-match at ``min_jaccard``. To drop the matched new docs::

        survivors = new.join(
            pairs.select(F.col("new_id").alias(id_col)).distinct(),
            id_col, "left_anti")
    """
    if (seen is None) == (seen_signatures is None):
        raise ValueError(
            "minhash_near_dup_against: pass exactly one of seen= (raw "
            "text) or seen_signatures= (a minhash_signatures relation)"
        )
    if (new is None) == (new_signatures is None):
        raise ValueError(
            "minhash_near_dup_against: pass exactly one of new= (raw "
            "text) or new_signatures= (a minhash_signatures relation)"
        )

    sig_sides = []  # (label, relation) of every signature-store side

    def _side(raw, sigs, label):
        if sigs is None:
            sigs = minhash_signatures(raw, id_col, text_col, shingle_n)
        else:
            missing = {"shingle_hashes", "n_shingles", "shingle_n"} - set(
                sigs.columns
            )
            if missing or id_col not in sigs.columns:
                raise ValueError(
                    f"{label} is not a minhash_signatures relation "
                    f"(missing columns: "
                    f"{sorted(missing) + ([id_col] if id_col not in sigs.columns else [])!r})"
                )
            sig_sides.append((label, sigs))
        return sigs.select(id_col, "shingle_hashes", "n_shingles")

    h_new = _side(new, new_signatures, "new_signatures")
    h_seen = _side(seen, seen_signatures, "seen_signatures")
    if sig_sides:
        # any row with a foreign shingle_n proves a parameter mismatch that
        # would otherwise yield silent zero-recall (stored and fresh shingle
        # spaces never collide); null-safe so a malformed store with NULL
        # shingle_n also raises. Every side is checked in ONE noop scan
        # whose observed metric is the first offending side's index.
        from functools import reduce

        from pyspark.sql import Observation

        scan = reduce(
            DataFrame.unionByName,
            [
                sigs.select(
                    F.when(
                        ~F.col("shingle_n").eqNullSafe(F.lit(int(shingle_n))),
                        F.lit(i),
                    ).alias("_bad_side")
                )
                for i, (_, sigs) in enumerate(sig_sides)
            ],
        )
        check = Observation()
        scan.observe(check, F.min("_bad_side").alias("side")).write.format(
            "noop"
        ).mode("overwrite").save()
        bad_side = check.get["side"]
        if bad_side is not None:
            raise ValueError(
                f"{sig_sides[bad_side][0]} was built with a different "
                f"shingle_n than this call's shingle_n={shingle_n}; rebuild "
                "the store or match the parameter"
            )
    h_new, h_seen = h_new.persist(), h_seen.persist()
    out = _banded_pairs(
        h_new, id_col, n_bands, band_rows, min_jaccard, seed,
        store=h_seen, within=False,
    ).select(
        F.col("id_a").alias("new_id"),
        F.col("id_b").alias("seen_id"),
        "n_inter",
        "n_union",
        "jaccard",
    )
    h_new.unpersist()
    h_seen.unpersist()
    return out


def _reshard_hot_cells(
    assigned: DataFrame,
    centroids,
    fit_X,
    n_rows: int,
    n_cells: int,
    cap: int,
    id_col: str,
    vec_col: str,
    seed: int,
    max_fit_rows: int,
    kmeans_max_iter: int,
    kmeans_init: str,
) -> DataFrame:
    """Split projected-hot k-means cells one level deeper.

    Per-cell load is PROJECTED driver-side from the already-collected fit
    sample (counts of the sample's nearest-centroid assignment, scaled by
    n/|sample|) — zero extra distributed jobs on the no-hot-cell path.
    Cells projected above ``0.6 * cap`` (the safety factor absorbs
    sampling error; a ±2% estimate at a 100k sample never hides a truly
    hot cell behind a 40% margin) are re-counted exactly, and each
    still-hot cell gets a secondary sampled k-means fit over ITS rows
    (2·ceil(size/cap) sub-centroids, cell-distinct seed) and a composite
    cell id beyond the primary range. One level only: a sub-cell still
    above ``cap`` hits the executor guard, which at that point means
    near-identical vector mass no clustering can separate.

    The assignment relation is persisted only when a hot cell is found
    (it is then scanned once per hot cell for the sub-fits plus once by
    the pairs stage); the common path touches nothing.
    """
    import numpy as np

    from .similarity import assign_cells, fit_sampled_centroids

    C = np.asarray(centroids, dtype=np.float64)
    scores = -2.0 * (fit_X @ C.T) + (C * C).sum(axis=1)[None, :]
    sample_counts = np.bincount(
        np.argmin(scores, axis=1), minlength=len(C)
    )
    scale = n_rows / max(1, len(fit_X))
    hot_est = [int(c) for c in np.nonzero(sample_counts * scale > 0.6 * cap)[0]]
    if not hot_est:
        return assigned
    assigned = assigned.persist()
    parts = [assigned.filter(~F.col("_cell").isin(hot_est))]
    next_cell = int(n_cells)
    for c in hot_est:
        cell_rows = assigned.filter(F.col("_cell") == c)
        sub = cell_rows.select(id_col, vec_col)
        sz = sub.count()
        if sz <= cap:  # projection overshot; the cell is fine as-is
            parts.append(cell_rows)
            continue
        k_sub = max(2, -(-2 * sz // cap))
        subcent = fit_sampled_centroids(
            sub, k_sub, vec_col=vec_col, seed=seed + 101 + c,
            max_fit_rows=max_fit_rows, max_iter=kmeans_max_iter,
            init=kmeans_init, n_rows=sz, order_col=id_col,
        )
        parts.append(
            assign_cells(sub, subcent, vec_col=vec_col).withColumn(
                "_cell", (F.col("_cell") + F.lit(next_cell)).cast("int")
            )
        )
        next_cell += int(k_sub)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def semantic_dup_pairs(
    corpus: DataFrame,
    min_cosine: float = 0.85,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_fit_rows: int = 100_000,
    kmeans_max_iter: int = 10,
    kmeans_init: str = "k-means++",
    max_cell_rows: int = 200_000,
    gemm_margin: float = 1e-4,
    gemm_chunk_target: int = 2_000_000,
    reshard_hot_cells: bool = True,
) -> DataFrame:
    """Semantic near-duplicate pairs, SemDeDup-shaped (Abbas et al. 2023,
    arXiv:2303.09540): k-means cells bound the quadratic — cosine pairs
    are computed only WITHIN each cell, the way blocks bound
    :func:`jaccard_similarity_pairs` — so cost is Σ|cell|² instead of N².
    Cross-cell near-dups are missed by construction (that is the
    approximation SemDeDup accepts; exact duplicates always share a cell
    because assignment is a deterministic function of the vector).

    Pipeline (every stage reused from the library):

    1. centroids fit on a driver-side sample
       (:func:`~metaframe_spark.operators.similarity.fit_sampled_centroids`);
    2. distributed GEMM cell assignment
       (:func:`~metaframe_spark.operators.similarity.assign_cells`);
    3. per-cell pairs via ``applyInPandas``: one chunked float64 GEMM per
       cell (BLAS at memory bandwidth); chunking keeps the score matrix
       ~2M doubles regardless of cell size. Hot cells (projected above
       ``max_cell_rows``) are automatically re-sharded ONE level when
       ``reshard_hot_cells`` (default): the driver projects per-cell load
       from the already-collected fit sample (zero extra distributed
       jobs), and each projected-hot cell gets its own secondary sampled
       k-means split — the SemDeDup approximation applied one level
       deeper, so sub-cell-straddling pairs inside a former hot cell are
       the (additional) recall cost. A cell still above the cap at the
       executor raises rather than silently OOMing the task — after a
       split that means near-identical vector mass k-means cannot
       separate (raise ``max_cell_rows``), and with
       ``reshard_hot_cells=False`` (or ``n_cells=1``, where exhaustive
       semantics forbid splitting) it is the hard guard;
    4. GEMM only *nominates* (score ≥ min_cosine − ``gemm_margin``);
       survivors are re-verified JVM-side with the sequential ``zip_with``
       inner-product fold, so emitted cosines are bit-identical to a SQL
       engine's (same contract as :func:`cosine_pairs_exact`).

    ``n_cells=1`` skips the fit and is provably exhaustive (every pair is
    within-cell) — the oracle-checkable setting, exactly as
    ``ivf_topk(n_probe=n_lists)`` is the provably-exact IVF. Vectors must
    be unit-normalized (:func:`unit_normalize`) and ``id_col`` must be
    unique (duplicate ids multiply pair rows through the re-verify
    joins). Returns (id_a, id_b, cosine) with id_a < id_b, cosine
    rounded to 6.
    """
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    from .similarity import assign_cells, cosine_expr, fit_sampled_centroids

    id_type = corpus.schema[id_col].dataType
    if not isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"semantic_dup_pairs: id column {id_col!r} has type "
            f"{id_type.simpleString()}; the GEMM path carries ids as int64 "
            "through numpy. Project a surrogate id first (e.g. "
            "monotonically_increasing_id()) and join the original ids back"
        )
    # Precondition: id_col must be UNIQUE. The re-verify stage joins the
    # nominated (id_a, id_b) pairs back to the corpus on id, so each
    # duplicated id multiplies its pairs' rows. Not checked here (a
    # distinct-count job per call would tax every well-formed caller);
    # exact_dedup first if uniqueness is in doubt.
    cfeats = corpus.select(F.col(id_col), F.col(vec_col))
    if n_cells <= 1:
        assigned = cfeats.withColumn("_cell", F.lit(0))
    else:
        # count before the fit: an empty / single-row corpus can have no
        # pairs, and the numpy centroid fit would otherwise die on a bare
        # "need at least one array to stack". The count is reused by the
        # fit's sampling decision (n_rows=) so it costs no extra job.
        n = cfeats.count()
        if n < 2:
            return cfeats.sparkSession.createDataFrame(
                [], "id_a long, id_b long, cosine double"
            )
        centroids, fit_X = fit_sampled_centroids(
            cfeats, n_cells, vec_col=vec_col, seed=seed,
            max_fit_rows=max_fit_rows, max_iter=kmeans_max_iter,
            init=kmeans_init, n_rows=n, order_col=id_col,
            return_sample=True,
        )
        assigned = assign_cells(cfeats, centroids, vec_col=vec_col)
        if reshard_hot_cells:
            assigned = _reshard_hot_cells(
                assigned, centroids, fit_X, n,
                n_cells=n_cells, cap=int(max_cell_rows), id_col=id_col,
                vec_col=vec_col, seed=seed, max_fit_rows=max_fit_rows,
                kmeans_max_iter=kmeans_max_iter, kmeans_init=kmeans_init,
            )

    cut = min_cosine - gemm_margin
    cap = int(max_cell_rows)
    chunk_target = max(1, int(gemm_chunk_target))

    def _cell_pairs(pdf):
        # executor-side: numpy/pandas only, self-contained
        import numpy as _np
        import pandas as _pd

        n = len(pdf)
        if n > cap:
            raise RuntimeError(
                f"semantic_dup_pairs: cell with {n} rows exceeds "
                f"max_cell_rows={cap}; raise n_cells (smaller cells) or "
                "max_cell_rows (bigger executors). If reshard_hot_cells "
                "already split this cell, its vectors are too "
                "near-identical for k-means to separate — raise "
                "max_cell_rows"
            )
        if n < 2:
            return _pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        M = _np.ascontiguousarray(
            _np.stack(pdf.iloc[:, 1].to_numpy()).astype(_np.float64)
        )
        ids = pdf.iloc[:, 0].to_numpy(dtype=_np.int64)
        chunk = max(1, chunk_target // n)
        outs_a, outs_b = [], []
        for s in range(0, n, chunk):
            S = M[s : s + chunk] @ M.T
            keep = (S >= cut) & (ids[None, :] > ids[s : s + chunk, None])
            li, ri = _np.nonzero(keep)
            outs_a.append(ids[s : s + chunk][li])
            outs_b.append(ids[ri])
        return _pd.DataFrame(
            {"id_a": _np.concatenate(outs_a), "id_b": _np.concatenate(outs_b)}
        )

    cand = assigned.select(id_col, vec_col, "_cell").groupBy("_cell").applyInPandas(
        _cell_pairs, schema="id_a long, id_b long"
    )
    ea = cfeats.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    eb = cfeats.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .select("id_a", "id_b", F.round(cosine_expr("_va", "_vb"), 6).alias("cosine"))
        .filter(F.col("cosine") >= min_cosine)
    )


def semantic_dup_against(
    spark,
    corpus_path: str,
    new_corpus: DataFrame,
    min_cosine: float = 0.85,
    new_id: str = "vec_id",
    seen_id: str = "vec_id",
    vec_col: str = "embedding",
    format: str = "parquet",
    max_cell_rows: int = 200_000,
    gemm_margin: float = 1e-4,
    gemm_chunk_target: int = 2_000_000,
) -> DataFrame:
    """Incremental SEMANTIC near-dup check — the embedding-space analogue
    of :func:`minhash_near_dup_against`, completing the incremental-dedup
    story (exact → digest anti-join, MinHash → signature store, semantic
    → THIS): a new ingest batch is compared against an already-persisted
    :func:`~metaframe_spark.operators.similarity.write_ivf_corpus` layout
    WITHOUT re-scanning, re-assigning, or re-fitting anything about the
    history. Returns ``(new_id, seen_id, cosine)`` for every cross pair
    with ``cosine ≥ min_cosine`` under SemDeDup's within-cell semantics
    (:func:`semantic_dup_pairs`): a pair is compared iff both vectors
    assign to the same cell of the layout's own co-persisted centroids —
    deterministic, so re-ingesting an identical vector ALWAYS lands in
    its twin's cell (exact duplicates are never missed); cross-cell
    near-dups are the documented SemDeDup approximation, and a 1-list
    layout is provably exhaustive (the oracle-checkable setting).

    Scale shape: the delta pays one Arrow GEMM assignment pass over
    ITSELF; the driver collects only the ≤ n_lists distinct touched cell
    ids; the history scan is PARTITION-PRUNED to exactly those cells
    (the same static PartitionFilters contract as ``ivf_topk_stored`` —
    a small batch touching 3 of 1024 cells reads ~3/1024 of a 100 TB
    corpus); per-cell cross pairs run as one chunked float64 GEMM per
    cell via cogrouped ``applyInPandas`` (score matrix bounded by
    ``gemm_chunk_target``); and the GEMM only NOMINATES (``min_cosine −
    gemm_margin``) — survivors re-verify JVM-side with the sequential
    ``zip_with`` fold so emitted cosines are bit-identical to a SQL
    engine's (the :func:`cosine_pairs_exact` contract).

    Quantized layouts are refused: the stored codes reconstruct only
    midpoint approximations, and a dedup gate acting on approximate
    cosines would silently drop the wrong documents — keep a float
    corpus for the dedup path (or decode offline). Vectors must be
    unit-normalized and ids integral (the GEMM carries ids as int64),
    matching :func:`semantic_dup_pairs`."""
    return _semantic_dup_against(
        spark, corpus_path, new_corpus, min_cosine, new_id, seen_id,
        vec_col, format, max_cell_rows, gemm_margin, gemm_chunk_target,
    )[0]


def _semantic_dup_against(
    spark,
    corpus_path: str,
    new_corpus: DataFrame,
    min_cosine: float = 0.85,
    new_id: str = "vec_id",
    seen_id: str = "vec_id",
    vec_col: str = "embedding",
    format: str = "parquet",
    max_cell_rows: int = 200_000,
    gemm_margin: float = 1e-4,
    gemm_chunk_target: int = 2_000_000,
):
    """:func:`semantic_dup_against`'s body, also returning the pinned
    ``(new_id, vec_col, _cell)`` assignment relation: ``(pairs, assigned)``."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    from .similarity import assign_cells, cosine_expr, read_ivf_index

    index_path = corpus_path.rstrip("/") + "/_ivf_index"
    try:
        centroids = read_ivf_index(spark, index_path, format=format)
    except ValueError:
        raise
    except Exception:
        raise ValueError(
            f"semantic_dup_against: no readable IVF index at {index_path!r} "
            "— the seen corpus must be a write_ivf_corpus layout so new "
            "vectors assign into ITS cell space"
        )
    seen_scan = spark.read.format(format).load(corpus_path)
    vec_dtype = dict(seen_scan.dtypes).get(vec_col, "")
    if vec_dtype.startswith("array<int") or vec_dtype.startswith("array<smallint"):
        raise ValueError(
            f"semantic_dup_against: {corpus_path!r} stores quantized codes "
            f"({vec_dtype}); a dedup gate needs exact cosines — keep a "
            "float corpus for the dedup path"
        )
    id_type = new_corpus.schema[new_id].dataType
    if not isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"semantic_dup_against: id column {new_id!r} has type "
            f"{id_type.simpleString()}; the GEMM path carries ids as int64 "
            "— project a surrogate id first"
        )
    d = int(centroids.shape[1])
    guarded = new_corpus.select(new_id, vec_col).withColumn(
        vec_col,
        F.when(
            F.assert_true(
                F.size(F.col(vec_col)) == F.lit(d),
                F.lit(
                    f"semantic_dup_against: new-vector dimension must be {d} "
                    f"to match the index at {index_path!r}"
                ),
            ).isNull(),
            F.col(vec_col),
        ),
    )
    # assignment GEMM runs once: the relation feeds the bounded
    # distinct-cell collect, the cogroup, AND the verify join
    assigned = assign_cells(guarded, centroids, vec_col=vec_col).persist()
    cells = sorted(r["_cell"] for r in assigned.select("_cell").distinct().collect())
    seen = seen_scan.filter(F.col("cell").isin(cells)).select(
        F.col(seen_id), F.col(vec_col), F.col("cell").alias("_cell")
    )

    cut = min_cosine - gemm_margin
    cap = int(max_cell_rows)
    chunk_target = max(1, int(gemm_chunk_target))

    def _cross_pairs(left, right):
        # executor-side: numpy/pandas only, self-contained. left = the new
        # batch's rows in this cell, right = the seen corpus's.
        import numpy as _np
        import pandas as _pd

        nl, nr = len(left), len(right)
        if nl > cap or nr > cap:
            raise RuntimeError(
                f"semantic_dup_against: cell with {max(nl, nr)} rows "
                f"exceeds max_cell_rows={cap}; rebuild the layout with "
                "more lists (smaller cells) or raise max_cell_rows"
            )
        if nl == 0 or nr == 0:
            return _pd.DataFrame({"new_id": [], "seen_id": []}).astype("int64")
        L = _np.ascontiguousarray(
            _np.stack(left.iloc[:, 1].to_numpy()).astype(_np.float64)
        )
        R = _np.ascontiguousarray(
            _np.stack(right.iloc[:, 1].to_numpy()).astype(_np.float64)
        )
        lids = left.iloc[:, 0].to_numpy(dtype=_np.int64)
        rids = right.iloc[:, 0].to_numpy(dtype=_np.int64)
        chunk = max(1, chunk_target // nr)
        outs_l, outs_r = [], []
        for s in range(0, nl, chunk):
            S = L[s : s + chunk] @ R.T
            li, ri = _np.nonzero(S >= cut)
            outs_l.append(lids[s : s + chunk][li])
            outs_r.append(rids[ri])
        return _pd.DataFrame(
            {"new_id": _np.concatenate(outs_l), "seen_id": _np.concatenate(outs_r)}
        )

    cand = (
        assigned.select(new_id, vec_col, "_cell")
        .groupBy("_cell")
        .cogroup(seen.groupBy("_cell"))
        .applyInPandas(_cross_pairs, schema="new_id long, seen_id long")
    )
    na = assigned.select(F.col(new_id).alias("new_id"), F.col(vec_col).alias("_va"))
    sb = seen.select(F.col(seen_id).alias("seen_id"), F.col(vec_col).alias("_vb"))
    result = (
        cand.join(na, "new_id")
        .join(sb, "seen_id")
        .select(
            "new_id",
            "seen_id",
            F.round(cosine_expr("_va", "_vb"), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= min_cosine)
    )
    return result, assigned


def semantic_dedup(
    corpus: DataFrame,
    min_cosine: float = 0.85,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **kwargs,
) -> DataFrame:
    """End-to-end semantic (embedding-cluster) dedup — the SemDeDup
    composition: :func:`semantic_dup_pairs` (cell-bounded cosine pairs) →
    :func:`near_dup_groups` (connected components) →
    :func:`dedup_survivors` (smallest id per component survives, unpaired
    rows pass through). Returns the surviving rows of ``corpus``.
    ``kwargs`` forward to :func:`semantic_dup_pairs`."""
    pairs = semantic_dup_pairs(
        corpus, min_cosine=min_cosine, n_cells=n_cells,
        id_col=id_col, vec_col=vec_col, **kwargs,
    )
    return dedup_survivors(corpus, pairs, id_col=id_col)


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination signal (GPT-3/PaLM-style n-gram collision
    check): for every corpus document, the number of DISTINCT word n-grams
    it shares with the benchmark/eval set. Returns (id, n_overlap) for
    contaminated documents only (n_overlap >= 1); anti-join the result
    against the corpus to drop them.

    Benchmarks are MBs while corpora are TBs, so the benchmark's distinct
    shingle set is broadcast (``broadcast_benchmark=False`` falls back to a
    shuffled join for oversized eval sets) and the corpus side never
    shuffles its text: shingles are exploded once, filtered against the
    broadcast set map-side, and only the HITS reach the per-document
    count's shuffle.
    """
    bench_sh = (
        _distinct_shingles(benchmark, text_col, n)
        .select(F.explode("_shs").alias("_sh"))
        .distinct()
    )
    if broadcast_benchmark:
        bench_sh = F.broadcast(bench_sh)
    corp_sh = _distinct_shingles(corpus, text_col, n, F.col(id_col)).select(
        id_col, F.explode("_shs").alias("_sh")
    )
    return (
        corp_sh.join(bench_sh, "_sh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )


def bloom_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_bits: int = 1 << 22,
    n_hashes: int = 2,
) -> DataFrame:
    """:func:`ngram_contamination` for benchmark sets too large to
    broadcast as STRINGS: broadcast a Bloom filter of the benchmark's
    shingles instead, prefilter corpus shingles through it map-side, and
    exact-verify the survivors. The output is identical to the exact
    operator (the verify join removes every false positive) — the bloom
    stage only bounds how much corpus data reaches a shuffle.

    The filter is a relation, not a driver object: benchmark shingles
    hash to ``n_hashes`` bit positions in a ``n_bits``-wide space, the
    positions OR-fold into 64-bit words via ``bit_or`` partial
    aggregation, and the resulting word table (``n_bits/64`` rows max —
    8 MB of longs at the 2^22 default, usually far less) broadcast-joins
    against corpus shingle word indexes. Each of the ``n_hashes`` probes
    is an inner broadcast join + bit test, so a shingle with an absent
    word drops immediately and progressively fewer rows reach each probe.
    Only bloom SURVIVORS (true hits + the small false-positive fraction,
    ~(set_bits/n_bits)^n_hashes of the corpus) reach the exact semi-join
    verify — the one shuffle whose left side scales with hits, not with
    the corpus.
    """
    if n_bits < 64:
        raise ValueError("n_bits must be >= 64")
    if n_hashes < 1:
        raise ValueError("n_hashes must be >= 1")
    bench_sh = (
        _distinct_shingles(benchmark, text_col, n)
        .select(F.explode("_shs").alias("_sh"))
        .distinct()
    )

    def _pos(i):
        return F.pmod(F.xxhash64(F.col("_sh"), F.lit(i)), F.lit(n_bits))

    words = (
        bench_sh.select(
            F.explode(F.array(*[_pos(i) for i in range(n_hashes)])).alias("_p")
        )
        .select(
            F.floor(F.col("_p") / 64).cast("long").alias("_w"),
            F.expr("shiftleft(cast(1 AS bigint), cast(_p % 64 AS int))").alias("_b"),
        )
        .groupBy("_w")
        .agg(F.bit_or("_b").alias("_word"))
    )

    cand = _distinct_shingles(corpus, text_col, n, F.col(id_col)).select(
        id_col, F.explode("_shs").alias("_sh")
    )
    for i in range(n_hashes):
        wi = words.select(
            F.col("_w").alias(f"_w{i}"), F.col("_word").alias(f"_word{i}")
        )
        cand = (
            cand.withColumn("_p", _pos(i))
            .withColumn(f"_w{i}", F.floor(F.col("_p") / 64).cast("long"))
            .join(F.broadcast(wi), f"_w{i}")
            .filter(
                F.expr(f"(shiftright(_word{i}, cast(_p % 64 AS int)) & 1) = 1")
            )
            .drop("_p", f"_w{i}", f"_word{i}")
        )
    return (
        cand.join(bench_sh, "_sh", "semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )


def containment_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Per-PAIR benchmark contamination by asymmetric CONTAINMENT —
    which eval items are leaked, and by which training documents.
    :func:`ngram_contamination` answers the corpus-side question ("drop
    this training doc, it collides with the eval set"); this answers the
    eval-side one the decontamination reports (GPT-3 appendix C,
    PaLM §7) are built from: for every (corpus doc, benchmark doc) pair,
    ``containment = |shared distinct n-grams| / |benchmark doc's
    distinct n-grams|`` — Jaccard's denominator would let a long
    training doc hide a fully-swallowed short eval item (union dwarfs
    the intersection), containment cannot.

    Returns ``(bench_id, corpus_id, n_shared, bench_size,
    containment)`` for pairs at ``containment >= threshold``. The
    threshold gate compares INTEGERS — ``n_shared >=
    ceil(threshold·bench_size − 1e-9)`` — the same epsilon discipline
    as :func:`prefix_filter_pairs` (a bare float ``ceil(t·n)`` rounds
    past exact products like 0.1·10 and silently drops boundary pairs).
    ``containment`` itself is emitted rounded to 6 places for
    engine-portable hashing.

    Scale shape: the benchmark's (bench_id, shingle) relation and its
    per-doc sizes are benchmark-sized (MBs against a TB corpus) and
    broadcast (``broadcast_benchmark=False`` falls back to shuffled
    joins); corpus shingles explode once and filter against the
    broadcast map-side, so only HITS reach the per-pair count's shuffle
    — identical volume discipline to ngram_contamination, one extra
    bench_id column on the wire. Documents shorter than ``n`` tokens
    have no shingles: they cannot be contaminated and do not appear."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(
            f"containment_contamination: threshold must be in (0, 1] "
            f"({threshold})"
        )
    if n < 1:
        raise ValueError(f"containment_contamination: n must be >= 1 ({n})")
    bench_sh = _distinct_shingles(
        benchmark, text_col, n, F.col(id_col).alias("bench_id")
    ).select("bench_id", F.explode("_shs").alias("_sh"))
    bench_sizes = bench_sh.groupBy("bench_id").agg(
        F.count(F.lit(1)).cast("long").alias("bench_size")
    )
    if broadcast_benchmark:
        bench_sh = F.broadcast(bench_sh)
        bench_sizes = F.broadcast(bench_sizes)
    corp_sh = _distinct_shingles(
        corpus, text_col, n, F.col(id_col).alias("corpus_id")
    ).select("corpus_id", F.explode("_shs").alias("_sh"))
    pairs = corp_sh.join(bench_sh, "_sh").groupBy("bench_id", "corpus_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shared")
    )
    required = F.ceil(
        F.lit(float(threshold)) * F.col("bench_size") - F.lit(1e-9)
    ).cast("long")
    return (
        pairs.join(bench_sizes, "bench_id")
        .filter(F.col("n_shared") >= required)
        .select(
            "bench_id",
            "corpus_id",
            "n_shared",
            "bench_size",
            F.round(
                F.col("n_shared").cast("double") / F.col("bench_size"), 6
            ).alias("containment"),
        )
    )


def _cluster_key(columns: Sequence[str]) -> Column:
    """INJECTIVE cluster key over the content columns: each value is
    normalized (:func:`~.text.normalize_text` — exact_dedup's
    equivalence, so case/whitespace variants still cluster together),
    then LENGTH-PREFIXED (``"<len>:<value>"``; NULL encodes as the
    bare marker ``"N"``, which no prefixed value can equal) and the
    encoded fields joined. The length prefix makes the encoding a
    prefix code — a separator byte INSIDE a value can no longer shift
    content across field boundaries (``('a\\x00b','c')`` vs
    ``('a','b\\x00c')`` collide under naive concat_ws), and NULL can
    never collide with any real string. The whole key is one codegen
    expression feeding sha256."""
    parts = []
    for c in columns:
        v = normalize_text(F.col(c).cast("string"))
        parts.append(
            F.when(F.col(c).isNull(), F.lit("N")).otherwise(
                F.concat(F.length(v).cast("string"), F.lit(":"), v)
            )
        )
    return F.sha2(F.concat_ws("\x00", *parts), 256)


def duplication_report(
    df: DataFrame,
    columns: Sequence[str],
    group_by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Data-card duplication summary — the report every curation run
    publishes next to its dedup pass (what fraction of the corpus is
    copies, and how big the worst pile is): rows are clustered by the
    EXACT content hash over ``columns`` (the :func:`exact_dedup` key),
    and per ``group_by`` group the report emits ``n_rows``,
    ``n_clusters`` (distinct contents), ``n_dup_rows`` (rows a dedup
    pass would drop: every row beyond the first per cluster),
    ``dup_pct`` (= n_dup_rows / n_rows, rounded 6), and
    ``max_cluster`` (the largest single pile — the skew signal that
    says whether dedup's shuffle needs salting). The cluster key
    normalizes each column like :func:`content_hash` (exact_dedup's
    equivalence — case/whitespace variants cluster together), then
    length-prefix-encodes the fields before joining so the key is
    INJECTIVE over tuples: NULLs stay distinct from every real value
    and separator bytes inside a value cannot shift content across
    field boundaries (see :func:`_cluster_key`).

    Plan shape: one partial-aggregated ``groupBy(keys, hash)`` count —
    the shuffle carries the distinct-content relation, not the input
    rows — then one tiny re-aggregation to a row per group. No
    windows, no driver state; the report costs what a dedup pass's
    first stage costs."""
    if not columns:
        raise ValueError("duplication_report: columns must be non-empty")
    keys = list(group_by or [])
    h = _cluster_key(columns)
    per_cluster = df.groupBy(*keys, h.alias("_h")).agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    g = per_cluster.groupBy(*keys) if keys else per_cluster.groupBy()
    return g.agg(
        F.sum("_c").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        (F.sum("_c") - F.count(F.lit(1))).cast("long").alias("n_dup_rows"),
        F.round(
            (F.sum("_c") - F.count(F.lit(1))).cast("double") / F.sum("_c"),
            6,
        ).alias("dup_pct"),
        F.max("_c").cast("long").alias("max_cluster"),
    )


def cluster_size_histogram(
    df: DataFrame,
    columns: Sequence[str],
    group_by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """The duplication report's distribution face: per ``group_by``
    group, one row per observed exact-duplicate ``cluster_size`` with
    ``n_clusters`` (how many distinct contents occur exactly that many
    times) and ``n_rows`` (= cluster_size × n_clusters) — the
    "1 copy / 2 copies / 100+ copies" table on a dataset card, and the
    long-tail view :func:`duplication_report`'s max_cluster summarizes.
    Same two partial-aggregated shuffles (distinct-content relation,
    then size-histogram rows — at most the count of DISTINCT cluster
    sizes per group, log-ish in practice)."""
    if not columns:
        raise ValueError("cluster_size_histogram: columns must be non-empty")
    keys = list(group_by or [])
    h = _cluster_key(columns)
    per_cluster = df.groupBy(*keys, h.alias("_h")).agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return per_cluster.groupBy(*keys, "cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        (F.count(F.lit(1)) * F.first("cluster_size"))
        .cast("long")
        .alias("n_rows"),
    )


def corpus_overlap(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    shingle_n: int = 3,
    hash_shingles: bool = True,
) -> DataFrame:
    """EXACT pairwise content overlap between corpus groups (sources,
    snapshots, language buckets …): for every group pair ``a < b`` the
    Jaccard similarity of their DISTINCT word-``shingle_n``-gram sets —
    the corpus-comparison matrix a data card publishes before mixing
    sources ("how much of source B is already in source A"), and the
    corpus-level complement of the per-document near-dup operators.

    Exact, not sketched, yet scale-safe: the computation never touches
    document pairs. One shuffle builds the distinct ``(group, shingle)``
    relation (partial-aggregated — duplicate shingles within a group
    collapse map-side), PERSISTED because three consumers read it (the
    size relation plus both self-join sides; the caller's
    :func:`~metaframe_spark.session.persist_scope` releases it);
    intersections come from a self-equi-join ON THE
    SHINGLE, where per-key fan-out is bounded by the number of groups
    (a shingle can co-occur in at most |groups| of them), so candidate
    volume is O(distinct shingles × |groups|), never O(n²); unions are
    inclusion-exclusion from the per-group set sizes (|A|+|B|−|A∩B| —
    no third relation). Group pairs with ZERO shared shingles are
    emitted too (jaccard 0.0) via the bounded |groups|² pair frame —
    an absent row and a disjoint pair must be distinguishable on a
    data card. With ``hash_shingles`` (default) the join relation
    carries 8-byte ``xxhash64`` keys instead of shingle strings — the
    same injective-in-practice compression :func:`minhash_signatures`
    stores (a collision would merge two shingles corpus-wide; at 64
    bits that needs ~2³² distinct shingles to matter).

    Returns ``(group_a, group_b, n_inter, n_a, n_b, jaccard)`` with
    ``group_a < group_b``, one row per unordered pair of groups that
    have at least one shingle each; both-empty groups carry no
    shingles and drop out of the frame (nothing to compare).
    """
    sh = (
        df.select(F.col(group_col).alias("_g"), tokens(F.col(text_col)).alias("_toks"))
        .filter(F.size("_toks") >= shingle_n)
        .select("_g", F.explode(shingles("_toks", shingle_n)).alias("_sh"))
    )
    if hash_shingles:
        sh = sh.select("_g", F.xxhash64("_sh").alias("_sh"))
    # distinct (group, shingle) relation, persisted: the scan + tokenize +
    # explode + distinct pipeline has THREE consumers (sizes feeds both
    # pair-frame sides, rel both self-join sides) and would otherwise
    # execute ~3x per action
    rel = sh.distinct().persist()
    sizes = rel.groupBy("_g").agg(F.count(F.lit(1)).cast("long").alias("_n"))
    # bounded |groups|² pair frame: sizes is a per-group relation (one row
    # per group), so the theta self-join is broadcast-nested-loop over a
    # few-KB side — the same bounded-relation contract as the centroid /
    # bounds collects elsewhere in the package
    pairs = (
        sizes.select(F.col("_g").alias("group_a"), F.col("_n").alias("n_a"))
        .join(
            F.broadcast(
                sizes.select(F.col("_g").alias("group_b"), F.col("_n").alias("n_b"))
            ),
            F.col("group_a") < F.col("group_b"),
        )
    )
    inter = (
        rel.select(F.col("_g").alias("group_a"), "_sh")
        .join(rel.select(F.col("_g").alias("group_b"), "_sh"), "_sh")
        .filter(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    return (
        pairs.join(inter, ["group_a", "group_b"], "left")
        .withColumn("n_inter", F.coalesce(F.col("n_inter"), F.lit(0)).cast("long"))
        .select(
            "group_a",
            "group_b",
            "n_inter",
            "n_a",
            "n_b",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def shingle_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    hash_shingles: bool = True,
) -> DataFrame:
    """Per-document novelty score against the REST of the corpus: the
    fraction of a document's distinct word-``shingle_n``-grams that
    appear in NO other document (corpus document-frequency 1) — the
    uniqueness signal that separates original content from remixes,
    mirrors and template mass without running a dedup pass, and the
    per-document complement of :func:`corpus_overlap`'s group matrix.

    Returns one row per input document: ``(id_col, n_shingles,
    n_unique, novelty)`` with ``novelty = n_unique / n_shingles``
    rounded to 6 (NULL — not 0 — for documents too short to carry a
    shingle: "no evidence" must stay distinguishable from "all
    shingles seen elsewhere").

    Scale shape: the per-document distinct shingle relation explodes
    once (``hash_shingles`` compresses the keys to 8-byte xxhash64,
    the :func:`minhash_signatures` idiom); document frequency is one
    partial-aggregated groupBy on the shingle key; the join back is
    1:N on the same key (the DF side has ONE row per shingle, so a
    stopword shingle shared by millions of documents adds zero fan-out
    beyond the rows that already exist); the per-document rollup
    shuffles on the id. Everything is linear in the distinct
    (document, shingle) relation — no pairs anywhere."""
    sh = _distinct_shingles(df, text_col, shingle_n, F.col(id_col)).select(
        id_col, F.explode("_shs").alias("_sh")
    )
    if hash_shingles:
        sh = sh.select(id_col, F.xxhash64("_sh").alias("_sh"))
    # both the DF rollup and the join-back consume the exploded relation —
    # persist so the scan+tokenize+explode runs once. A count-over-window
    # single-pass alternative would drop the second consumer but funnels
    # every occurrence of a hot shingle (stopword trigrams: millions of
    # rows) through ONE window task; groupBy+join partial-aggregates and
    # stays skew-safe.
    sh = sh.persist()
    dfreq = sh.groupBy("_sh").agg(F.count(F.lit(1)).alias("_c"))
    per = (
        sh.join(dfreq, "_sh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("_c") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_unique"),
        )
    )
    return (
        df.select(id_col)
        .join(per, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_shingles"), F.lit(0)).cast("long").alias(
                "n_shingles"
            ),
            F.coalesce(F.col("n_unique"), F.lit(0)).cast("long").alias(
                "n_unique"
            ),
            F.when(
                F.col("n_shingles") > 0,
                F.round(
                    F.col("n_unique") / F.col("n_shingles").cast("double"), 6
                ),
            ).alias("novelty"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS algorithm): per document, hash every character
    ``k``-gram of the normalized text, slide a ``window`` over the hash
    sequence and select each window's minimum — the selection every
    copy-detection system keys on, with the winnowing GUARANTEE that
    any shared substring of length ≥ ``window + k − 1`` chars
    contributes at least one shared selected fingerprint, while only
    ~``2/(window+1)`` of all positions are kept. This is the
    PASSAGE-level layer of the fingerprinting story:
    :func:`~.text.doc_fingerprint` identifies whole near-identical
    documents, winnowing catches a copied paragraph inside two
    otherwise-different ones.

    Returns one row per SELECTED fingerprint: (``id_col``, ``fp``
    long — the 60-bit hash value, ``pos`` long — the 1-based character
    position of the k-gram it came from; duplicates of the same
    (fp, pos) collapse). Ties inside a window break to the LEFTMOST
    minimum (deterministic; any fixed rule preserves the guarantee).
    Documents shorter than ``k`` normalized chars yield no rows;
    documents with fewer than ``window`` k-grams yield the single
    minimum of what they have.

    The hash is the md5-mod-2⁶⁰ draw (:func:`~.maintenance._cms_bucket`
    family), so a SQL oracle replays the selection exactly. Everything
    is row-local codegen over higher-order functions — zero shuffles,
    zero Python; cost is O(chars · k) md5 bytes per document, the
    standard winnowing price."""
    if k < 2:
        raise ValueError(f"winnow_fingerprints: k must be >= 2 ({k})")
    if window < 1:
        raise ValueError(
            f"winnow_fingerprints: window must be >= 1 ({window})"
        )
    # raw-length prefilter with a 2× safety margin: trim/collapse shrink,
    # but lower() can LENGTHEN some Unicode strings (U+0130 'İ' → 'i' +
    # combining dot, 1 → 2 chars), and no lowercase mapping
    # expands beyond 2×, so length(raw)·2 < k cannot reach k normalized
    # chars and is a sound cheap reject; the EXACT short-doc gate lives
    # inside the bound expression below so the normalize regexp runs
    # exactly once per row (a normalize_text filter here would be a
    # second full-text regex pass)
    base = df.select(F.col(id_col), F.col(text_col)).filter(
        F.length(F.col(text_col)) * 2 >= k
    )
    # BINDING DISCIPLINE: the normalized text, the hash array, and each
    # window slice ALL bind exactly once as lambda variables (`t`, `hs`,
    # `win`) through single-element transform wrappers. A plain
    # select/withColumn reference lets CollapseProject inline the
    # defining expression into every lambda element — first measured as
    # the md5 array recomputed per window (O(n²), 52 s/KB), then as the
    # normalize regexp re-run per POSITION (~200 µs/char) once the hash
    # array was bound. Each level of this expression evaluates its
    # argument once per row, period.
    norm = (
        f"lower(trim(regexp_replace({text_col}, '\\\\s+', ' ')))"
    )
    # h[i] = 60-bit md5 of the k chars at 1-based position i
    hashes = (
        f"transform(sequence(1, length(t) - {k} + 1), "
        f"i -> cast(conv(substring(md5(substring(t, i, {k})), 1, 15), "
        f"16, 10) as bigint))"
    )
    # windows start at j = 1 .. max(n_h - window + 1, 1); slice truncates
    # at the end, so a short document gets one window over everything
    empty = (
        "CAST(array() AS array<struct<fp: bigint, pos: bigint>>)"
    )
    sel = (
        f"element_at(transform(array({norm}), t -> "
        f"CASE WHEN length(t) >= {k} THEN "
        f"element_at(transform(array({hashes}), hs -> "
        f"transform("
        f"sequence(1, greatest(size(hs) - {window} + 1, 1)), "
        f"j -> element_at(transform(array(slice(hs, j, {window})), "
        f"win -> named_struct("
        f"'fp', array_min(win), "
        f"'pos', cast(j - 1 + array_position(win, array_min(win)) "
        f"as bigint))), 1))), 1) "
        f"ELSE {empty} END), 1)"
    )
    # adjacent windows usually select the SAME (fp, pos); the collapse is
    # a hash-based DataFrame distinct (array_distinct over a struct array
    # is O(n²) interpreted — measured superlinear at 16 KB docs)
    return (
        base.select(F.col(id_col), F.expr(sel).alias("_sel"))
        .select(F.col(id_col), F.explode("_sel").alias("_f"))
        .select(
            id_col,
            F.col("_f.fp").alias("fp"),
            F.col("_f.pos").alias("pos"),
        )
        .distinct()
    )


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
    min_shared: int = 2,
    max_df: Optional[int] = None,
) -> DataFrame:
    """Passage-copy candidate pairs by shared winnowing fingerprints:
    documents sharing ≥ ``min_shared`` DISTINCT selected fingerprints
    (:func:`winnow_fingerprints`) are reported with the shared count —
    the MOSS-style "these two documents contain common passages"
    signal that whole-document near-dup (MinHash/SimHash over the full
    shingle set) dilutes away when the copied block is a small
    fraction of each document.

    ``max_df`` drops fingerprints selected in more than that many
    documents before pairing — boilerplate k-grams ("and the ", license
    headers) otherwise put ~df² pairs per hot fingerprint on the
    shuffle; with the cap, candidate volume per fingerprint is bounded
    by ``max_df²`` and the guarantee narrows to passages whose
    fingerprints stay under the cap (the standard winnowing-at-scale
    trade, same role as the LSH band-bucket cap). Set it for any
    natural-language corpus.

    Plan shape: fingerprint selection is row-local codegen; the
    distinct (id, fp) relation shuffles once for the doc-freq filter
    and once for the equi-join on fp (never all-pairs); the pair count
    partial-aggregates map-side."""
    if min_shared < 1:
        raise ValueError(
            f"winnow_overlap_pairs: min_shared must be >= 1 ({min_shared})"
        )
    if max_df is not None and max_df < 2:
        raise ValueError(
            f"winnow_overlap_pairs: max_df must be >= 2 ({max_df})"
        )
    # the fingerprint relation feeds the doc-freq filter AND both join
    # sides — three plan branches; Spark has no cross-branch subplan CSE,
    # so pin it once
    fps = (
        winnow_fingerprints(
            df, text_col=text_col, id_col=id_col, k=k, window=window
        )
        .select(id_col, "fp")
        .distinct()
        .persist()
    )
    kept = fps
    if max_df is not None:
        dfreq = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("_df"))
        kept = (
            fps.join(dfreq.filter(F.col("_df") <= max_df), "fp")
            .select(id_col, "fp")
        )
    a = kept.select(F.col(id_col).alias("id_a"), "fp")
    b = kept.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """EXACT-SUBSTRING removal (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): cut the duplicated span itself
    out of the losing document — not the whole document
    (:func:`exact_dedup`), not whole sentences (:func:`span_dedup`).
    The published strongest-dedup result: verbatim passages repeated
    anywhere in the corpus (or within one document) survive at exactly
    one canonical occurrence.

    Built from two halves: the winnowing
    fingerprints (:func:`winnow_fingerprints`) LOCALIZE shared content
    — their positions land inside every duplicated passage — and the
    indexed splice (the span_dedup removal idea, here at character
    granularity) excises it. Per selected fingerprint, the canonical
    occurrence is the lexicographic minimum ``(id, pos)``; every OTHER
    occurrence marks the extent ``[pos-(window-1), pos+k-1+(window-1)]``
    for removal from its document. Overlapping/adjacent extents merge,
    then one pass rebuilds the text from the kept gaps.

    GUARANTEE (tested): any substring of length ≥ ``window + k - 1``
    NORMALIZED chars occurring more than once is fully excised from
    every non-canonical occurrence. Proof shape: hash windows fully
    inside the shared span see identical hashes in both occurrences, so
    they select identical relative positions; consecutive selections are
    ≤ ``window`` apart and the first/last land within ``window-1`` of
    the span's edges, so the ±(window−1) padding closes every gap.
    The trade vs the paper's suffix-array method: removal granularity
    is coarser by ≤ ``window-1`` chars of slack per span edge, and an
    isolated duplicated k-gram costs up to ``k + 2(window-1)`` chars —
    in exchange the whole operator is shuffles over the sparse
    fingerprint relation instead of a corpus-wide suffix array.

    Text is compared and returned in winnow's NORMALIZED space
    (``lower(trim(collapse-whitespace))``) — positions are only
    meaningful there; untouched documents come back normalized too, so
    the output space is uniform. Returns the input relation with
    ``text_col`` replaced by the spliced text plus ``n_spans_removed``
    (merged extents) and ``n_chars_removed``.

    Scale shape: fingerprint selection is row-local codegen; one groupBy
    on fp (uniform 60-bit keys — no skew) finds canonicals with a
    map-side partial min; one join back + one per-doc collect of losing
    extents (bounded by DUPLICATED volume, not corpus size — clean docs
    carry zero extents); merge + splice are row-local higher-order
    folds. Same cost shape as span_dedup: O(fingerprints) + two bounded
    shuffles, never all-pairs. Reference behavior: the exact-substring
    half of github.com/google-research/deduplicate-text-datasets
    (public), re-expressed via winnowing instead of suffix arrays."""
    if k < 2:
        raise ValueError(f"substring_dedup: k must be >= 2 ({k})")
    if window < 1:
        raise ValueError(f"substring_dedup: window must be >= 1 ({window})")
    pad = int(window) - 1
    # the fingerprint relation feeds the canonical-occurrence groupBy AND
    # the loser join — two branches, no cross-branch CSE, and selection
    # is the expensive O(chars·k) md5 work: pin it once (the
    # winnow_overlap_pairs persist convention)
    fps = winnow_fingerprints(
        df, text_col=text_col, id_col=id_col, k=k, window=window
    ).persist()
    winners = fps.groupBy("fp").agg(
        F.min(
            F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))
        ).alias("_w")
    )
    ext = (
        fps.join(winners, "fp")
        .filter(
            (F.col(id_col) != F.col("_w.i")) | (F.col("pos") != F.col("_w.p"))
        )
        .select(
            F.col(id_col),
            F.struct(
                F.greatest(F.col("pos") - pad, F.lit(1))
                .cast("int")
                .alias("s"),
                (F.col("pos") + k - 1 + pad).cast("int").alias("e"),
            ).alias("_x"),
        )
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list("_x")).alias("_mf_ext"))
    )
    norm = f"lower(trim(regexp_replace({text_col}, '\\\\s+', ' ')))"
    empty_ext = "CAST(array() AS array<struct<s: int, e: int>>)"
    # sorted extents merge when the next start touches the current end
    # (s <= e+1 — adjacency changes no removed char, but must count as
    # ONE span in both engines)
    merge = (
        f"aggregate(coalesce(_mf_ext, {empty_ext}), {empty_ext}, "
        "(acc, x) -> CASE WHEN size(acc) > 0 "
        "AND x.s <= element_at(acc, -1).e + 1 "
        "THEN concat(slice(acc, 1, size(acc) - 1), "
        "array(named_struct('s', element_at(acc, -1).s, "
        "'e', greatest(element_at(acc, -1).e, x.e)))) "
        "ELSE concat(acc, array(x)) END)"
    )
    # BINDING DISCIPLINE (winnow_fingerprints' lesson): the normalized
    # text and the merged-extent array each bind exactly once as lambda
    # variables — a plain column reference would let CollapseProject
    # re-run the normalize regexp / the merge fold per splice element.
    sel = (
        f"element_at(transform(array({norm}), t -> "
        f"element_at(transform(array({merge}), mg -> named_struct("
        "'txt', aggregate(mg, named_struct('o', '', 'p', 0), "
        "(acc, x) -> named_struct("
        "'o', concat(acc.o, substring(t, acc.p + 1, x.s - 1 - acc.p)), "
        "'p', greatest(acc.p, least(x.e, length(t)))), "
        "acc -> concat(acc.o, substring(t, acc.p + 1, "
        "length(t) - acc.p))), "
        "'n', size(mg), "
        "'c', aggregate(mg, 0, (a, x) -> "
        "a + least(x.e, length(t)) - x.s + 1)"
        ")), 1)), 1)"
    )
    passthrough = [c for c in df.columns if c != text_col]
    return (
        df.join(ext, id_col, "left")
        .withColumn("_mf_out", F.expr(sel))
        .select(
            *passthrough,
            F.col("_mf_out.txt").alias(text_col),
            F.col("_mf_out.n").cast("long").alias("n_spans_removed"),
            F.col("_mf_out.c").cast("long").alias("n_chars_removed"),
        )
    )
