"""Sequence packing: concat-and-chunk a corpus into fixed-length training
sequences.

LLM pretraining consumes fixed-length token sequences, not documents. The
standard preparation (GPT-2/3, Llama, most open pipelines) lays the
tokenized documents end-to-end into one global token stream and cuts it
every ``seq_len`` tokens; a document that straddles a cut contributes a
slice to each sequence it overlaps. :func:`pack_sequences` computes that
assignment — which (document, token-slice) lands in which training
sequence — as a deterministic, fully distributed plan.

The only global state is a running token offset per document. The naive
form (``SUM(n) OVER (ORDER BY id)`` with no partition) drags the whole
corpus through one task; here it is the same two-phase shape as
:func:`~metaframe_spark.operators.sampling.global_shuffle`:

1. range-repartition + in-partition sort on the document id — a parallel
   total order;
2. per-partition token sums (one row per partition) become start offsets
   on the driver, added to an in-partition cumulative sum.

Everything after the offsets is per-row codegen: the sequence span of a
document is ``[start // L, (start+n-1) // L]``, exploded row-locally.
Output volume is ``n_docs + n_straddles`` — each straddle adds one row —
so the op scales with corpus size, never with ``corpus_tokens²``.

No counterpart exists in the reference (its surface stops at relational
ops); this extends the engine for training-data preparation per the build
brief.

Why there is deliberately NO streaming face for this module: packing is
a batch-FINALIZATION step,
not a maintenance step. Every operator here derives its assignment from
a total property of the finalized corpus — pack_sequences from the
global running token offset (any later arrival would shift every
downstream cut), take_token_budget from the global budget boundary, and
pack_documents/FFD from the full multiset of document sizes inside each
bucket (first-fit-decreasing is order-sensitive: a late large document
re-ranks ahead of already-placed smaller ones, invalidating placements).
A streaming maintainer could only ever pack each micro-batch in
isolation, which is exactly the batch operator applied per batch — no
shared state to maintain, so the staged-commit machinery the sketch/IVF
maintainers need buys nothing. The continuous-training story is: curate
incrementally (the streaming dedup/sketch maintainers), then run the
packing stage once per training-data SNAPSHOT, when the corpus it packs
is immutable. The pipeline module's curate→budget→pack composition
pins that ordering.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    tokens_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign every document its training-sequence slices under
    concat-and-chunk packing with sequence length ``seq_len``.

    Documents are concatenated in ascending ``id_col`` order (the
    deterministic corpus order — compose with
    :func:`~metaframe_spark.operators.sampling.global_shuffle` first if an
    interleaved order is wanted) and the stream is cut every ``seq_len``
    tokens. Zero-token documents occupy no stream space and are dropped.

    Returns one row per (document × overlapped sequence):

    - ``seq_id``    — 0-based training-sequence index;
    - ``start_off`` — the document's global token offset in the stream;
    - ``tok_start`` — 0-based offset *within the document* where this
      sequence's slice begins;
    - ``tok_len``   — slice length (≤ ``seq_len``).

    Per-document slice lengths always sum to the document's token count,
    and per-sequence slice lengths sum to ``seq_len`` for every sequence
    but the last — properties pinned by tests.

    Returns ONLY the assignment relation (id + the four columns above):
    the in-partition running token sum is an ordered window over the
    partition id, whose required hash exchange re-shuffles its input —
    so the operator first projects to the narrow ``(id, tokens)``
    relation, making both shuffles move ~16-byte rows no matter how wide
    the caller's documents are (join the slices back on ``id_col`` to
    recover payloads). Unlike ``global_shuffle`` — whose per-row ordinal
    needs no aggregation and comes exchange-free from
    ``monotonically_increasing_id`` — a running SUM genuinely requires
    the ordered window. Partition start offsets are a dense literal
    array indexed by partition id (O(1) per row; a literal map lookup
    would be a per-row linear scan). The sorted intermediate is released
    via localCheckpoint before returning (same cache discipline as
    ``global_shuffle``).
    """
    if seq_len < 1:
        raise ValueError("seq_len must be >= 1")
    n = F.col(tokens_col).cast("long")
    sorted_df = (
        df.select(id_col, tokens_col)
        .filter(n > 0)
        .repartitionByRange(F.asc(id_col))
        .sortWithinPartitions(F.asc(id_col))
        .withColumn("_pid", F.spark_partition_id())
        # the offsets job and the final plan must observe the same range
        # boundaries / pid assignment, and the sort shouldn't run twice
        .persist()
    )
    part_sums = {
        r["_pid"]: r["_toks"]
        for r in sorted_df.groupBy("_pid").agg(F.sum(n).alias("_toks")).collect()
    }
    offsets = []
    acc = 0
    for pid in range(max(part_sums, default=-1) + 1):
        offsets.append(acc)
        acc += part_sums.get(pid, 0)
    off_expr = (
        F.element_at(F.array(*[F.lit(o) for o in offsets]), F.col("_pid") + 1)
        if offsets
        else F.lit(0)
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (off_expr + F.sum(n).over(w) - n).cast("long")
    L = F.lit(seq_len).cast("long")
    packed = (
        sorted_df.withColumn("start_off", start)
        .withColumn(
            "seq_id",
            # floor() is LONG-typed already; casting here would nest the
            # generator in an expression, which Spark refuses
            F.explode(
                F.sequence(
                    F.floor(F.col("start_off") / L),
                    F.floor((F.col("start_off") + n - 1) / L),
                )
            ),
        )
        .withColumn("_slice_from", F.greatest(F.col("start_off"), F.col("seq_id") * L))
        .withColumn(
            "tok_start", (F.col("_slice_from") - F.col("start_off")).cast("long")
        )
        .withColumn(
            "tok_len",
            (
                F.least(F.col("start_off") + n, (F.col("seq_id") + 1) * L)
                - F.col("_slice_from")
            ).cast("long"),
        )
        .drop("_pid", "_slice_from")
        .localCheckpoint(eager=True)
    )
    sorted_df.unpersist()
    return packed


def largest_remainder_quotas(weights: dict, total: int) -> dict:
    """Apportion ``total`` into integer per-key quotas proportional to
    ``weights`` (largest-remainder / Hamilton method): quotas sum to
    exactly ``total``, each within 1 of its exact share; ties broken
    deterministically on the key's string form."""
    if total < 0:
        raise ValueError("total must be >= 0")
    if not weights:
        raise ValueError("weights must be non-empty")
    # fsum over key-sorted weights: float addition is not associative, so a
    # plain sum() over dict order would make `norm` — and hence remainder
    # tie-breaks — depend on insertion order.
    norm = math.fsum(weights[k] for k in sorted(weights, key=str))
    if norm <= 0:
        raise ValueError("weights must sum to > 0")
    exact = {k: total * w / norm for k, w in weights.items()}
    quotas = {k: int(v) for k, v in exact.items()}
    leftover = total - sum(quotas.values())
    for k in sorted(exact, key=lambda k: (-(exact[k] - quotas[k]), str(k)))[
        :leftover
    ]:
        quotas[k] += 1
    return quotas


def weighted_mixture_sample(
    df: DataFrame,
    weights: dict,
    total: int,
    stratum_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Domain-mixture resampling: draw a corpus of ~``total`` documents
    whose composition follows ``weights`` (a ``{stratum value: weight}``
    map, weights need not sum to 1 — they are normalized).

    Per-stratum quotas are fixed on the driver by largest-remainder
    apportionment (quotas sum to exactly ``total``; deterministic
    tie-break on the stratum value), then each stratum keeps its first
    ``quota`` rows in ``md5(id)`` order — the same reproducible draw as
    :func:`~metaframe_spark.operators.sampling.stratified_sample_exact`,
    so the realized sample is identical on any cluster layout and
    recomputable by the SQL oracle. Strata absent from ``weights`` are
    dropped; a stratum with fewer rows than its quota contributes all its
    rows (the shortfall is NOT redistributed — mixture targets are caps,
    matching how data-mixture specs are used in practice).

    Scale: one shuffle (the per-stratum rank window, planned as
    WindowGroupLimit — partitions pre-prune to their own top-quota before
    shuffling). The quota computation is driver-side arithmetic over the
    weights dict alone; no data-dependent collect.
    """
    quotas = largest_remainder_quotas(weights, total)
    quota_expr = F.create_map(
        *[F.lit(x) for kv in sorted(quotas.items()) for x in kv]
    )[F.col(stratum_col)]
    w = Window.partitionBy(stratum_col).orderBy(
        F.md5(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()
    )
    max_quota = max(quotas.values(), default=0)
    return (
        df.filter(F.col(stratum_col).isin(list(quotas)))
        .withColumn("draw_rank", F.row_number().over(w).cast("long"))
        # the literal max-quota conjunct is what lets Catalyst plan
        # WindowGroupLimit (the rewrite needs a foldable rank bound —
        # the per-stratum map lookup alone would disable the pre-shuffle
        # prune); the map-lookup conjunct then trims each stratum to its
        # own quota
        .filter(
            (F.col("draw_rank") <= F.lit(max_quota))
            & (F.col("draw_rank") <= quota_expr)
        )
    )


def take_token_budget(
    df: DataFrame,
    budget: int,
    tokens_col: str,
    order_col: str = "seq",
) -> DataFrame:
    """Maximal prefix of ``df`` in ``order_col`` order whose token count
    stays within ``budget`` — the reproducible "train on the first N
    tokens of the curated corpus" cut every token-denominated data
    budget needs. A row survives iff the running
    INCLUSIVE sum of ``tokens_col`` up to and including it is ≤
    ``budget``; with a deterministic total order (the curation
    pipeline's ``seq`` interleave — ``order_col`` values must be
    unique) the cut is exact and rerun-stable.

    Same shuffle shape as :func:`pack_sequences` (this is its
    running-sum machinery with a filter instead of a slice explode):
    range-partition + in-partition sort on ``order_col``, per-partition
    token sums collected once (a few KB), partition start offsets as a
    dense literal array — never a single-partition global window. The
    sorted intermediate is released after the filter materializes."""
    if budget < 0:
        raise ValueError("budget must be >= 0")
    n = F.coalesce(F.col(tokens_col).cast("long"), F.lit(0))
    sorted_df = (
        df.repartitionByRange(F.asc(order_col))
        .sortWithinPartitions(F.asc(order_col))
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    part_sums = {
        r["_pid"]: r["_toks"]
        for r in sorted_df.groupBy("_pid").agg(F.sum(n).alias("_toks")).collect()
    }
    offsets = []
    acc = 0
    for pid in range(max(part_sums, default=-1) + 1):
        offsets.append(acc)
        acc += part_sums.get(pid, 0) or 0
    off_expr = (
        F.element_at(F.array(*[F.lit(o) for o in offsets]), F.col("_pid") + 1)
        if offsets
        else F.lit(0)
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(F.asc(order_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        sorted_df.withColumn("_cum", (off_expr + F.sum(n).over(w)).cast("long"))
        .filter(F.col("_cum") <= int(budget))
        .drop("_pid", "_cum")
        .localCheckpoint(eager=True)
    )
    sorted_df.unpersist()
    return out


def pack_documents(
    df: DataFrame,
    bin_capacity: int,
    tokens_col: str,
    id_col: str = "doc_id",
    n_groups: int = 32,
) -> DataFrame:
    """Document-boundary-respecting bin packing:
    assign each document to a fixed-capacity training bin WITHOUT ever
    splitting a document — the packing trainers want when cross-document
    attention is forbidden (concat-and-chunk, :func:`pack_sequences`, is
    the splitting alternative). First-fit-decreasing (FFD, the classic
    11/9·OPT+1 guarantee) runs EXACTLY within each of ``n_groups``
    deterministic md5(id) buckets, so the assignment is a pure function
    of the data — reproducible on any cluster layout and recomputable by
    a SQL oracle.

    Output: one row per input document — ``id_col``, ``tokens_col``
    (coalesced to long; NULL and negative sizes clamp to 0, since a
    negative size would corrupt the FFD segment-tree descent),
    ``pack_group`` (the md5 bucket), ``bin_id``
    (1-based FFD bin within the group; a (pack_group, bin_id) pair is a
    globally unique bin), plus the collator manifest the trainer needs
    to lay the bin out without recomputing anything: ``bin_slot`` (this
    document's 1-based placement order within its bin — FFD placement
    order, deterministic) and ``tok_start`` (the document's token offset
    within the bin, i.e. the summed sizes of earlier slots; padding to
    ``bin_capacity`` goes after the last slot). Documents LARGER than
    ``bin_capacity`` cannot be packed without splitting and come back
    with ``bin_id``/``bin_slot``/``tok_start`` NULL — the caller decides
    whether to truncate, split via :func:`pack_sequences`, or drop
    them.

    Scale contract: the corpus shuffles ONCE (hash on ``pack_group``);
    each group is ~``n_docs / n_groups`` documents, so the caller sizes
    ``n_groups`` to keep groups executor-bounded (10k-100k docs each is
    comfortable). Inside a group the Arrow-batched pandas stage runs FFD
    with a segment tree over bin remainders — leftmost-fit descent is
    O(log bins) per document, so a 100k-doc group costs ~2M comparisons,
    never the naive O(docs × bins) scan. Bucket-local FFD wastes at most
    one partial tail bin per group versus corpus-global FFD — bounded,
    and corpus-global FFD is inherently sequential (every placement
    depends on all prior placements), so the bucketed form IS the
    scalable semantics, not an approximation of a reachable ideal.

    Properties pinned by tests: per-bin fill ≤ capacity; at most one bin
    per group ≤ half-full (the FFD half-fill lemma: two half-empty bins
    cannot coexist — the later one's first item would have fit in the
    earlier); partitioning-invariance; every input row present exactly
    once.
    """
    import pandas as pd

    if bin_capacity <= 0:
        raise ValueError("bin_capacity must be > 0")
    if n_groups <= 0:
        raise ValueError("n_groups must be > 0")
    # NULL -> 0 and negative -> 0: a negative size would satisfy
    # `tree[1] >= s` even when only unopened (-1) leaves exist, letting
    # the segment tree "place" a doc into a never-opened bin (nbins not
    # incremented, tok_start past capacity) — clamping keeps the FFD
    # contract the tests and oracle pin.
    n = F.greatest(
        F.lit(0).cast("long"), F.coalesce(F.col(tokens_col).cast("long"), F.lit(0))
    )
    g = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("long")
        % F.lit(n_groups)
    )
    id_type = df.schema[id_col].dataType.simpleString()
    base = df.select(
        F.col(id_col),
        n.alias(tokens_col),
        g.alias("pack_group"),
    )
    schema = (
        f"{id_col} {id_type}, {tokens_col} long, "
        "pack_group long, bin_id long, bin_slot long, tok_start long"
    )
    cap = int(bin_capacity)
    tok, idc = tokens_col, id_col

    def _ffd(pdf: "pd.DataFrame") -> "pd.DataFrame":
        # self-contained (executors don't have the repo on sys.path):
        # exact first-fit-decreasing via a max-segment-tree over bin
        # remainders; descending leftmost-child-first finds the FIRST bin
        # with remainder >= size in O(log bins). Oversized documents
        # ride the same shuffle (they must reach the output anyway) and
        # take NULL placement here — one scan, one exchange, no union.
        pdf = pdf.sort_values([tok, idc], ascending=[False, True])
        sizes = [int(x) for x in pdf[tok]]
        m = len(sizes)
        width = 1
        while width < max(1, m):
            width <<= 1
        tree = [-1] * (2 * width)  # -1 marks a not-yet-opened bin
        slots = [0] * width  # docs placed so far per bin
        nbins = 0
        bins, bslots, starts = [], [], []
        for s in sizes:
            if s > cap:
                # unpackable without splitting
                bins.append(None)
                bslots.append(None)
                starts.append(None)
                continue
            if tree[1] >= s:
                i = 1
                while i < width:
                    i = 2 * i if tree[2 * i] >= s else 2 * i + 1
                b = i - width
                rem = tree[i] - s
                start = cap - tree[i]  # fill before this placement
            else:
                b = nbins
                nbins += 1
                rem = cap - s
                start = 0
            slots[b] += 1
            i = width + b
            tree[i] = rem
            i >>= 1
            while i:
                tree[i] = max(tree[2 * i], tree[2 * i + 1])
                i >>= 1
            bins.append(b + 1)
            bslots.append(slots[b])
            starts.append(start)
        out = pdf.copy()
        out["bin_id"] = pd.Series(bins, index=pdf.index, dtype="Int64")
        out["bin_slot"] = pd.Series(bslots, index=pdf.index, dtype="Int64")
        out["tok_start"] = pd.Series(starts, index=pdf.index, dtype="Int64")
        return out

    return base.groupBy("pack_group").applyInPandas(_ffd, schema=schema)


def pack_efficiency_report(
    packed: DataFrame,
    bin_capacity: int,
    tokens_col: str,
    group_col: str = "pack_group",
    bin_col: str = "bin_id",
) -> DataFrame:
    """Packing data card over a :func:`pack_documents` assignment — the
    numbers a trainer checks before committing a run: per ``group_col``,
    ``n_docs``, ``n_oversized`` (NULL-bin documents that cannot pack
    without splitting), ``n_bins``, ``packed_tokens``,
    ``capacity_tokens`` (bins × capacity), ``fill_rate``
    (packed/capacity, rounded to 6 — the fraction of every training
    batch that is real signal rather than padding) and ``waste_tokens``
    (the padding the collator will emit). One partial-aggregated
    groupBy on the (already tiny per-group) assignment relation — no
    join, no second pass over the corpus."""
    if bin_capacity <= 0:
        raise ValueError("bin_capacity must be > 0")
    has_bin = F.col(bin_col).isNotNull()
    agg = packed.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(~has_bin, 1).otherwise(0)).cast("long").alias(
            "n_oversized"
        ),
        F.count_distinct(F.col(bin_col)).cast("long").alias("n_bins"),
        F.coalesce(
            F.sum(F.when(has_bin, F.col(tokens_col))), F.lit(0)
        )
        .cast("long")
        .alias("packed_tokens"),
    )
    cap_total = (F.col("n_bins") * F.lit(int(bin_capacity))).cast("long")
    return agg.select(
        group_col,
        "n_docs",
        "n_oversized",
        "n_bins",
        "packed_tokens",
        cap_total.alias("capacity_tokens"),
        F.when(
            F.col("n_bins") > 0,
            F.round(
                F.col("packed_tokens").cast("double") / cap_total, 6
            ),
        ).alias("fill_rate"),
        (cap_total - F.col("packed_tokens")).cast("long").alias(
            "waste_tokens"
        ),
    )


def dynamic_batches(
    df: DataFrame,
    tokens_col: str,
    id_col: str = "doc_id",
    batch_size: int = 8,
    max_len: int = 2048,
    min_bucket: int = 16,
    n_shards: int = 32,
) -> DataFrame:
    """Length-bucketed INFERENCE batch plan — the serving-side sibling of
    :func:`pack_documents` (training packs to a fixed window; inference
    pads each batch to its longest member, so throughput is won by
    batching similar lengths together). Every sequence is assigned a
    power-of-two padding bucket (the smallest of ``min_bucket``,
    ``2·min_bucket``, … ``max_len`` that fits; lengths are clamped to
    ``[1, max_len]``, the truncation contract), then batches of
    ``batch_size`` are cut inside each (bucket, md5-shard) — so the
    whole plan is a pure function of the data, reproducible on any
    cluster layout, like the FFD packer's md5 groups. Returns one row
    per BATCH: ``padded_len``, ``shard``, ``batch_id`` (0-based within
    the shard), ``n_seqs``, ``sum_tokens`` (real tokens), and
    ``waste_pct`` (padding fraction of the ``n_seqs × padded_len``
    rectangle the accelerator will actually execute).

    Scale contract: bucket assignment is a row-local filter over a
    ~log₂(max_len/min_bucket)-element literal array (no join, no
    Python); the only exchange is the window's hash shuffle on
    (bucket, shard), and ``n_shards`` bounds every window partition to
    ~n/(buckets·shards) rows — executor-sized by construction, never a
    single global sort. The per-batch rollup partial-aggregates
    map-side on the same key, so AQE coalesces a tiny result.
    """
    if batch_size <= 0:
        raise ValueError("batch_size must be > 0")
    if min_bucket <= 0:
        raise ValueError("min_bucket must be > 0")
    if max_len < min_bucket:
        # max_len <= 0 would clamp every length into a [0]-bucket plan
        # with divide-by-zero waste — fail loudly like the siblings
        raise ValueError("max_len must be >= min_bucket")
    if n_shards <= 0:
        raise ValueError("n_shards must be > 0")
    buckets = []
    b = int(min_bucket)
    while b < int(max_len):
        buckets.append(b)
        b *= 2
    buckets.append(int(max_len))  # the clamp cap is always a bucket
    n = F.least(
        F.greatest(F.coalesce(F.col(tokens_col).cast("long"), F.lit(0)), F.lit(1)),
        F.lit(int(max_len)),
    )
    shard = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("long")
        % F.lit(int(n_shards))
    )
    arr = ", ".join(str(x) for x in buckets)
    base = df.select(
        F.col(id_col),
        n.alias("_n"),
        shard.alias("shard"),
        F.md5(F.col(id_col).cast("string")).alias("_ord"),
    ).withColumn(
        "padded_len",
        F.expr(f"array_min(filter(array({arr}), b -> b >= _n))").cast("long"),
    )
    w = Window.partitionBy("padded_len", "shard").orderBy(
        F.asc("_ord"), F.asc(id_col)
    )
    assigned = base.withColumn(
        "batch_id",
        ((F.row_number().over(w) - F.lit(1)) / F.lit(int(batch_size)))
        .cast("long"),
    )
    return assigned.groupBy("padded_len", "shard", "batch_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_seqs"),
        F.sum("_n").cast("long").alias("sum_tokens"),
        F.round(
            F.lit(1.0)
            - F.sum("_n")
            / (F.count(F.lit(1)) * F.col("padded_len")).cast("double"),
            6,
        ).alias("waste_pct"),
    )


def pack_token_arrays(
    df: DataFrame,
    seq_len: int,
    ids_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """MATERIALIZE the packed training corpus: compose
    :func:`pack_sequences`' concat-and-chunk assignment with the actual
    per-document token-id arrays and emit one row per training sequence —
    the physical export step after which a data-loader only reads fixed
    shapes. Returns (seq_id, n_docs, n_tokens, token_ids, segment_ids):
    ``token_ids`` is the concatenated ``array<bigint>`` slice stream cut
    every ``seq_len`` tokens (only the final sequence may be shorter — no
    padding is added; the trainer's collator owns pad tokens),
    ``segment_ids`` marks each position with its document's 0-based index
    WITHIN the sequence (the attention-isolation / position-reset signal
    packed-sequence training needs, cf. T5's packing and the
    block-diagonal attention variants).

    Scale shape: token COUNTS (16-byte rows) flow through
    pack_sequences' two narrow shuffles, never the arrays; the arrays
    move exactly twice — the assignment hash-join on ``id_col`` and the
    one ``seq_id`` exchange that BOTH the within-sequence order window
    and the final rollup share. ``array_sort`` of the collected
    (offset, slice) structs makes the concatenation order a property of
    the data, not of task scheduling. Per-group state is bounded by
    ``seq_len + 2·max_document_tokens`` elements (a document overlaps at
    most its own length past a boundary), so executor memory is sized by
    the sequence length — not by corpus size. The token-id relation is
    persisted for its two consumers (the count pass and the slice join)
    and released by the caller's
    :func:`~metaframe_spark.session.persist_scope`.
    """
    if seq_len < 1:
        raise ValueError("pack_token_arrays: seq_len must be >= 1")
    from pyspark.sql import Window

    toks = (
        df.select(F.col(id_col), F.col(ids_col).alias("_ids"))
        .filter(F.size("_ids") > 0)
        .persist()
    )
    asg = pack_sequences(
        toks.withColumn("_n", F.size("_ids").cast("long")), seq_len, "_n", id_col
    )
    seg = F.row_number().over(
        Window.partitionBy("seq_id").orderBy(F.asc("start_off"))
    )
    sliced = (
        asg.join(toks, id_col)
        .withColumn(
            "_slice",
            F.expr("slice(_ids, cast(tok_start + 1 as int), cast(tok_len as int))"),
        )
        .withColumn("_seg", (seg - 1).cast("long"))
    )
    return (
        sliced.groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("tok_len").cast("long").alias("n_tokens"),
            F.array_sort(
                F.collect_list(F.struct("start_off", "_slice", "_seg", "tok_len"))
            ).alias("_parts"),
        )
        .select(
            "seq_id",
            "n_docs",
            "n_tokens",
            F.flatten(F.expr("transform(_parts, p -> p._slice)")).alias("token_ids"),
            F.flatten(
                F.expr(
                    "transform(_parts, p -> array_repeat(p._seg, "
                    "cast(p.tok_len as int)))"
                )
            ).alias("segment_ids"),
        )
    )


def temperature_mixture(
    df: DataFrame,
    alpha: float,
    total: int,
    stratum_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-scaled mixture resampling (the multilingual-corpus
    balancing rule of mBERT/XLM-R/mT5: sampling share ∝ n_s^α): like
    :func:`weighted_mixture_sample`, but the stratum weights are DERIVED
    FROM THE DATA — ``w_s = n_s^α`` — so low-resource strata are
    up-weighted as α falls (α=1 is proportional sampling, α=0 uniform).
    Quotas are largest-remainder apportioned and each stratum keeps its
    first ``quota`` rows in md5(id) order; a stratum smaller than its
    (boosted) quota contributes all its rows — quotas are caps, which is
    exactly the regime temperature sampling creates for the long tail.
    Rows with a NULL stratum are excluded up front (unassigned
    provenance is not a samplable population).

    Returns (id, stratum, n_stratum, quota, draw_rank) rows of the
    realized sample.

    Cross-engine determinism (what makes a SQL oracle possible where the
    driver-side float apportionment would not be): ``w_s = round(n_s^α,
    6)``; the normalizer is a DECIMAL(18,6) sum of those rounded
    weights; exact shares round to 6 before the floor/remainder split —
    so no engine's addition order can flip a floor. The whole quota
    computation is IN THE PLAN (a bounded |strata|-row relation: two
    windows + two one-row aggregates), never a driver-side collect.

    Scale shape: one stratum rollup with map-side combine; the quota
    relation is broadcast back; the draw is the standard per-stratum
    md5-rank window with a FOLDABLE ``rank ≤ total`` conjunct so
    Catalyst plans WindowGroupLimit (each task pre-prunes to its own
    top-``total`` before the shuffle) and the data-dependent per-stratum
    quota trims after.
    """
    from pyspark.sql import Window

    if total < 0:
        raise ValueError("temperature_mixture: total must be >= 0")
    if alpha < 0:
        raise ValueError("temperature_mixture: alpha must be >= 0")
    # NULL strata are unassigned provenance, not a samplable population:
    # a NULL group would win a quota in the rollup but then lose every
    # row at the equi-join (NULL never equals NULL), silently
    # undershooting `total` — and its leftover tie-break slot would
    # resolve differently across engines (NULLS FIRST vs LAST). Excluded
    # up front, the stratified_ks contract.
    df = df.filter(F.col(stratum_col).isNotNull())
    counts = df.groupBy(stratum_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_stratum")
    )
    w = F.round(F.pow(F.col("n_stratum").cast("double"), F.lit(float(alpha))), 6)
    weighted = counts.withColumn("_w", w)
    norm = weighted.agg(
        F.sum(F.col("_w").cast("decimal(18,6)")).cast("double").alias("_norm")
    )
    share = F.round(F.lit(int(total)) * F.col("_w") / F.col("_norm"), 6)
    based = (
        weighted.crossJoin(F.broadcast(norm))
        .withColumn("_share", share)
        .withColumn("_base", F.floor("_share").cast("long"))
        .withColumn("_rem", F.col("_share") - F.col("_base"))
    )
    leftover = based.agg(
        (F.lit(int(total)) - F.sum("_base")).cast("long").alias("_left")
    )
    wrank = Window.orderBy(F.desc("_rem"), F.asc(F.col(stratum_col).cast("string")))
    quotas = (
        based.crossJoin(F.broadcast(leftover))
        .withColumn("_rrank", F.row_number().over(wrank))
        .withColumn(
            "quota",
            (F.col("_base") + F.when(F.col("_rrank") <= F.col("_left"), 1).otherwise(0))
            .cast("long"),
        )
        .select(stratum_col, "n_stratum", "quota")
    )
    wd = Window.partitionBy(stratum_col).orderBy(
        F.md5(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()
    )
    return (
        df.select(id_col, stratum_col)
        .withColumn("draw_rank", F.row_number().over(wd).cast("long"))
        # foldable bound first: enables the WindowGroupLimit pre-prune
        .filter(F.col("draw_rank") <= F.lit(int(total)))
        .join(F.broadcast(quotas), stratum_col)
        .filter(F.col("draw_rank") <= F.col("quota"))
        .select(id_col, stratum_col, "n_stratum", "quota", "draw_rank")
    )
