"""Deterministic sampling operators for training-data curation.

Spark's native samplers (``df.sample``, ``df.sampleBy``) are
Bernoulli/Poisson draws: fast and scale-free, but the realized count
fluctuates and the draw depends on partitioning — fine for stats, wrong for
"give me exactly N documents per (lang, source) cell, reproducibly, on any
cluster layout". The operators here trade one shuffle for exactness and
bit-level reproducibility: the draw order is a cryptographic hash of the
row id, so the same inputs select the same rows on any engine (the DuckDB
oracle recomputes the identical sample).
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def shard_assignments(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    seq_col: str = "seq",
    shard_col: str = "shard",
) -> DataFrame:
    """Assign every row to one of ``n_shards`` contiguous, near-equal
    training shards in the :func:`global_shuffle` order:
    ``shard = floor((seq − 1) · n_shards / N)`` — shard sizes differ by at
    most 1, shard boundaries follow the deterministic interleave, and the
    same inputs produce the same shards on any cluster layout.

    The interleave is materialized once, as :func:`global_shuffle`'s
    checkpoint, and N is the row total its rank offsets already collect
    (the per-partition counts, summed on the driver) — sharding adds no
    job of its own.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    shuffled, n = _interleave(df, id_col, seq_col)
    return shuffled.withColumn(
        shard_col,
        F.floor((F.col(seq_col) - 1) * n_shards / F.lit(max(n, 1))).cast("int"),
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
    fmt: str = "parquet",
) -> None:
    """Materialize the corpus as ``n_shards`` training shards under
    ``path/shard=K/`` — the terminal step of a curation pipeline: one
    deterministic global interleave, near-equal contiguous shards, rows
    inside each shard stored in interleave order (training readers consume
    files sequentially; parquet preserves row order per file).

    ``repartition(n_shards, shard)`` co-locates each shard's rows before
    the partitioned write, so each ``shard=K`` directory is written by the
    task(s) owning that key — no shard is scattered across every task's
    output files the way a direct partitionBy-after-shuffle write would be.
    """
    sharded = shard_assignments(df, n_shards, id_col)
    (
        sharded.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("seq")
        .write.partitionBy("shard")
        .mode("overwrite")
        .format(fmt)
        .save(path)
    )


def stratified_sample_exact(
    df: DataFrame,
    strata: Sequence[str],
    n_per_stratum: int,
    id_col: str = "doc_id",
    by: str = None,
    descending: bool = False,
) -> DataFrame:
    """Exact per-stratum quota sample: within every distinct combination of
    ``strata`` columns, rank rows by ``md5(id)`` — a uniform but fully
    reproducible draw order — and keep the first ``n_per_stratum``.
    Returns the surviving rows plus their ``draw_rank`` (1-based).

    ``by``: rank by this column instead of the md5 draw (``descending=
    True`` for best-first), turning the quota sample into a per-group CAP
    that keeps the top n — e.g. ``strata=["domain"], by="quality_score",
    descending=True`` is the per-domain cap every web-curation run applies
    (pairs with :func:`~metaframe_spark.operators.web.url_features`).
    ``id_col`` stays the tie-break, so the cap is deterministic.

    Scale: the rank-then-filter shape is planned as ``WindowGroupLimit``
    on Spark 3.5+/4 — every input partition pre-prunes to its own top-n
    per stratum BEFORE the shuffle, so shuffled volume is
    O(input_partitions × n), not O(|stratum|), and no stratum is ever
    fully sorted. The md5 tie-break on ``id_col`` makes the sample
    well-defined even if ids hash-collide.
    """
    # nulls_last in BOTH directions: plain asc() sorts NULL first, so a
    # NULL ranking score would preferentially consume the per-stratum cap
    # ahead of every real score (desc() already defaults to nulls-last)
    first = (
        (F.col(by).desc_nulls_last() if descending else F.col(by).asc_nulls_last())
        if by is not None
        else F.md5(F.col(id_col).cast("string")).asc()
    )
    w = Window.partitionBy(*strata).orderBy(first, F.col(id_col).asc())
    return df.withColumn(
        "draw_rank", F.row_number().over(w).cast("long")
    ).filter(F.col("draw_rank") <= n_per_stratum)


def _global_rank(df: DataFrame, order_cols, out_col: str):
    """The shared two-phase distributed global row number (the scale-safe
    replacement for a one-task ``row_number() OVER (ORDER BY …)`` window)
    used by :func:`global_shuffle` (md5 draw order) and
    :func:`curriculum_stages` (score order) — see global_shuffle's
    docstring for why each piece is shaped this way (range repartition +
    in-partition sort, per-partition counts as a dense literal offset
    array, the monotonic-id local ordinal; ADVICE r4 on the release
    pattern).

    Returns ``(ranked, handle, total)``: ``ranked`` carries ``out_col``
    (1-based long) plus the internal ``_pid`` column; ``handle`` is the
    pinned sorted intermediate and ``total`` the row count. The CALLER
    must drop ``_pid``, derive anything rank-based, then
    ``localCheckpoint(eager=True)`` the result and ``handle.unpersist()``
    — the offsets job and the final plan must observe the same range
    boundaries and cached row order until then."""
    sorted_df = (
        df.repartitionByRange(*order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    counts = {
        r["_pid"]: r["count"]
        for r in sorted_df.groupBy("_pid").count().collect()
    }
    offsets = []
    acc = 0
    for pid in range(max(counts, default=-1) + 1):
        offsets.append(acc)
        acc += counts.get(pid, 0)
    off_expr = (
        F.element_at(F.array(*[F.lit(o) for o in offsets]), F.col("_pid") + 1)
        if offsets
        else F.lit(0)
    )
    ordinal = F.monotonically_increasing_id().bitwiseAND((1 << 33) - 1)
    ranked = sorted_df.withColumn(out_col, (off_expr + ordinal + 1).cast("long"))
    return ranked, sorted_df, acc


def global_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    seq_col: str = "seq",
) -> DataFrame:
    """Deterministic global training-data interleave: assign every row a
    1-based global sequence number in ``md5(id)`` order — the "shuffle the
    corpus once, reproducibly" step before sharding into training files.

    The naive form — ``row_number() OVER (ORDER BY ...)`` with no
    partition — moves the ENTIRE dataset through one task. This is the
    scale-safe two-phase shape instead:

    1. range-repartition + in-partition sort on the draw key: a parallel
       total order (partition i's keys all precede partition i+1's);
    2. per-partition row counts (a tiny agg, one row per partition)
       become start offsets on the driver, indexed back as a dense
       literal array, so ``seq = offsets[pid] + local ordinal + 1``.

    The local ordinal is the low 33 bits of
    ``monotonically_increasing_id()`` evaluated over the pinned sorted
    relation (its documented layout: partition id high, per-partition
    record number low; a partition cannot exceed 2³³ rows — that would be
    a multi-TB task). A ``row_number() OVER (PARTITION BY pid)`` window
    would instead force a SECOND full exchange + sort (Catalyst cannot
    know range partitioning already clusters by pid), i.e. the whole
    corpus shuffled twice; this shape adds ZERO exchanges after the range
    sort, and the dense-array offset lookup is O(1) per row (a literal
    map lookup is a per-row linear scan — pathological at 10k+
    partitions).

    The sorted intermediate must be pinned while BOTH the offsets job and
    the final plan run (they must observe the same range boundaries / pid
    assignment AND the same cached row order); it is released before
    returning by localCheckpoint-ing the result — the checkpoint
    materializes the output once, truncates the lineage back to the
    cache, and lets ``unpersist()`` free the intermediate instead of
    pinning it for the session (ADVICE r4).

    The mechanism itself lives in :func:`_global_rank`, shared with
    :func:`curriculum_stages` (same machinery pointed at a score).
    """
    return _interleave(df, id_col, seq_col)[0]


def _interleave(df: DataFrame, id_col: str, seq_col: str):
    """:func:`global_shuffle`'s body, also returning the row total the
    rank offsets were built from: ``(checkpointed result, n)``."""
    ranked, handle, n = _global_rank(
        df.withColumn("_draw", F.md5(F.col(id_col).cast("string"))),
        [F.asc("_draw"), F.asc(id_col)],
        seq_col,
    )
    result = ranked.drop("_draw", "_pid").localCheckpoint(eager=True)
    handle.unpersist()
    return result, n


def curriculum_stages(
    df: DataFrame,
    score_col: str,
    n_stages: int,
    id_col: str = "doc_id",
    ascending: bool = True,
    rank_col: str = "rank",
    stage_col: str = "stage",
) -> DataFrame:
    """Curriculum staging: a deterministic global rank over a difficulty
    score plus an equal-width stage assignment — the "train on easy
    documents first" ordering (Bengio et al. 2009's curriculum learning,
    applied corpus-side) that turns any per-document score (length,
    perplexity, quality) into ``n_stages`` contiguous training phases.
    Rows are ranked 1..N in ``(score_col, id_col)`` order (``ascending``
    picks the direction of the score; the id tie-break makes the order
    total) and ``stage = ((rank-1) · n_stages) div N`` — 0-based,
    equal-width to within one row, exact integer arithmetic any SQL
    engine replays.

    Scale shape: the same two-phase global order as
    :func:`global_shuffle` (range-repartition + in-partition sort, then
    per-partition counts as a dense literal offset array + the
    monotonic-id local ordinal) — never a one-task
    ``row_number() OVER (ORDER BY …)`` window; see global_shuffle's
    docstring for why each piece is shaped this way. Adds ``rank_col``
    and ``stage_col`` to the input columns.
    """
    if n_stages <= 0:
        raise ValueError("n_stages must be > 0")
    order = [
        F.asc(score_col) if ascending else F.desc(score_col),
        F.asc(id_col),
    ]
    ranked, handle, n_total = _global_rank(df, order, rank_col)
    total = max(n_total, 1)  # no rows -> the stage expr never evaluates
    result = (
        ranked.withColumn(
            stage_col,
            F.expr(f"(({rank_col} - 1) * {int(n_stages)}) div {total}").cast(
                "long"
            ),
        )
        .drop("_pid")
        .localCheckpoint(eager=True)
    )
    handle.unpersist()
    return result


def hash_split(
    df: DataFrame,
    fractions: dict,
    id_col: str = "doc_id",
    by_col: str = None,
    split_col: str = "split",
) -> DataFrame:
    """Leakage-safe deterministic train/val/test split: every row gets a
    split label from the md5 of its key, so the assignment is a pure
    function of the data — reproducible on any cluster layout, on reruns,
    and across engines (the oracle recomputes it), with no shuffle and no
    RNG state.

    ``fractions`` maps label -> weight (normalized; e.g. ``{"train": 98,
    "val": 1, "test": 1}``). Pass ``by_col`` to route every row sharing
    that key to the SAME split — the near-dup/leakage guard: after
    near-dup grouping, splitting on the group id keeps all variants of a
    document out of the eval sets. Realized sizes are binomial around the
    weights (hash buckets), which is the correct trade: an exact-count
    split cannot be a pure per-row function of the key.

    Plan: a single codegen projection — md5 of the key's string form,
    first 8 hex chars as an integer draw in [0, 2^32), compared against
    cumulative weight boundaries. No exchange anywhere.

    NULL keys: a NULL key has no md5 draw, so null-keyed rows are routed
    explicitly — and deterministically — to the LARGEST-weight label
    (ties broken alphabetically). This keeps unkeyed rows out of the
    small eval splits (they would otherwise all land in whatever label
    the ``otherwise`` branch happened to hold) and keeps the assignment a
    pure function of the key. Filter nulls first if they should not be
    split at all.
    """
    if not fractions:
        raise ValueError("fractions must be non-empty")
    total = math.fsum(float(w) for w in fractions.values())
    if total <= 0:
        raise ValueError("fractions must sum to > 0")
    key = F.col(by_col if by_col is not None else id_col)
    largest = sorted(fractions, key=lambda l: (-float(fractions[l]), l))[0]
    draw = F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast(
        "double"
    ) / F.lit(float(2**32))
    expr = None
    acc = 0.0
    labels = sorted(fractions)  # deterministic boundary order
    for label in labels[:-1]:
        acc += float(fractions[label]) / total
        cond = draw < F.lit(acc)
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(
            cond, F.lit(label)
        )
    expr = (
        F.lit(labels[-1])
        if expr is None
        else expr.otherwise(F.lit(labels[-1]))
    )
    expr = F.when(key.isNull(), F.lit(largest)).otherwise(expr)
    return df.withColumn(split_col, expr)


def weighted_sample_exact(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    strata: Sequence[str] = (),
    seed: int = 0,
    key_col: str = "sample_key",
    log_space: bool = False,
) -> DataFrame:
    """Deterministic weighted sampling without replacement — the
    Efraimidis–Spirakis exponential-race form (A-ES, Inf. Proc. Lett.
    2006): every row draws ``key = -ln(u) / w`` with ``u`` a uniform in
    (0, 1), and the ``k`` SMALLEST keys win; inclusion probability is
    proportional to weight, exactly the "subsample the corpus, favoring
    high-quality documents" step of a curation run.

    Like every sampler in this module the draw is derandomized: ``u``
    comes from the md5 of ``(id, seed)``, so the sample is a pure
    function of the data — identical on any partitioning, on reruns, and
    across engines (a SQL oracle recomputes it). ``u`` is the first 15
    hex digits (60 bits) offset by +0.5, so it is never exactly 0 (no
    infinite key) and never 1.

    Rows with NULL, NaN, or non-positive weight have zero inclusion
    probability and are excluded (documented A-ES domain; filter or
    clamp upstream to include them). NaN needs its own predicate in
    both modes: Spark evaluates ``NaN > 0`` as true, so a plain
    positivity filter would keep NaN weights.

    ``log_space=True`` reads ``weight_col`` as a LOG weight and draws
    the monotone-equivalent key ``ln(-ln u) - log_w`` instead of
    ``-ln(u) / exp(log_w)`` — the same selection (ln is monotone on the
    positive keys) without ever exponentiating, so the DSIR-scale
    log-likelihood ratios (:func:`dsir_weights`, routinely ±hundreds)
    cannot overflow to inf or underflow to an excluded 0. Any finite
    log weight is a valid positive weight, so the non-positive-weight
    exclusion applies only to NULLs and NaNs in this mode (NaN would
    otherwise produce a NaN draw key, which sorts greater than any
    double and could be selected when k exceeds the finite-weight row
    count).

    With ``strata``, k rows are kept per stratum and the plan is the
    WindowGroupLimit shape (each input partition pre-prunes to its own
    top-k before the shuffle). Without strata the global top-k plans as
    ``TakeOrderedAndProject`` — a distributed per-partition prune + one
    bounded merge, never a full global sort. Output carries ``key_col``
    (the draw key) and ``draw_rank`` (1-based, ties broken by id).
    """
    if k <= 0:
        raise ValueError("k must be positive")
    w = F.col(weight_col).cast("double")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.col(id_col).cast("string"), F.lit(str(seed))
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(16**15))
    if log_space:
        key = F.log(-F.log(u)) - w
        # NaN must be excluded explicitly: NaN survives isNotNull(), and a
        # NaN draw key sorts GREATER than every double in Spark, so such a
        # row could still be selected whenever k exceeds the count of
        # finite-weight rows.
        scored = df.filter(w.isNotNull() & ~F.isnan(w)).withColumn(
            key_col, key
        )
    else:
        key = -F.log(u) / w
        # NaN must be excluded here too: Spark evaluates NaN > 0 as TRUE
        # (NaN sorts greater than every double), so `w > 0` alone keeps
        # NaN weights, whose NaN draw key sorts last ascending and gets
        # selected whenever k exceeds the positive-weight row count.
        scored = df.filter((w > 0) & ~F.isnan(w)).withColumn(key_col, key)
    if strata:
        win = Window.partitionBy(*strata).orderBy(
            F.col(key_col).asc(), F.col(id_col).asc()
        )
        return scored.withColumn(
            "draw_rank", F.row_number().over(win).cast("long")
        ).filter(F.col("draw_rank") <= k)
    top = scored.orderBy(F.col(key_col).asc(), F.col(id_col).asc()).limit(k)
    # rank the k survivors; the window input is at most k rows, so the
    # single partition is bounded by construction
    win = Window.orderBy(F.col(key_col).asc(), F.col(id_col).asc())
    return top.withColumn("draw_rank", F.row_number().over(win).cast("long"))


def mixture_report(
    df: DataFrame,
    by: Sequence[str],
    weight_col: str = None,
) -> DataFrame:
    """Data-card mixture report: per ``by`` combination, the document
    count, summed weight (e.g. token or character count), and each
    one's share of the corpus total — the table every training-data
    card prints ("X% of tokens are lang=en / source=web").

    Two partial-aggregated shuffles on bounded relations: one groupBy on
    ``by`` (output cardinality = distinct combinations, small by
    definition for a report) and one one-row global rollup of the same
    relation, broadcast back across the groups. Weight sums ride a
    DECIMAL(38,6) cast so shares are identical on any addition order /
    engine.
    """
    by = list(by)
    docs = F.count(F.lit(1)).alias("docs")
    aggs = [docs]
    if weight_col is not None:
        aggs.append(
            F.sum(F.col(weight_col).cast("decimal(38,6)")).alias("_w")
        )
    g = df.groupBy(*by).agg(*aggs)
    tot_aggs = [F.sum("docs").alias("_tot_docs")]
    if weight_col is not None:
        tot_aggs.append(F.sum("_w").alias("_tot_w"))
    tot = g.agg(*tot_aggs)
    out = g.crossJoin(F.broadcast(tot))
    cols = by + [
        F.col("docs"),
        F.round(F.col("docs") / F.col("_tot_docs"), 6).alias("doc_share"),
    ]
    if weight_col is not None:
        # divide as DOUBLE (the decimal sums are exact; double division
        # is IEEE-identical across engines, while decimal-division result
        # scales are engine-specific)
        cols += [
            F.col("_w").cast("double").alias("weight"),
            F.round(
                F.col("_w").cast("double") / F.col("_tot_w").cast("double"), 6
            ).alias("weight_share"),
        ]
    return out.select(*cols)


def mixture_plan(
    df: DataFrame,
    by: str,
    targets: dict,
    weight_col: str = None,
    total: float = None,
) -> DataFrame:
    """Mixture planning card — the step BEFORE :func:`mixture_report`
    measures what you got: given per-group target shares (the Pile /
    DoReMi-style domain weights) and what the corpus actually holds, how
    many tokens can a run draw at EXACTLY those proportions, and what
    does each group contribute? The closed form: with normalized shares
    ``w_g`` and availability ``a_g``, the maximum total at exact
    proportions without repeating data is ``feasible_total =
    min_g(a_g / w_g)`` — the scarcest group relative to its share is the
    binding constraint. Per group the plan reports availability, share,
    the allocated weight (``w_g ×`` the planned total), and
    ``repetition`` = allocated / available — ≤ 1 means a subsample
    (the utilization), > 1 means that many epochs over the group
    (requested ``total`` exceeds what exists at these proportions), NULL
    when the group has nothing at all.

    ``targets`` maps ``by``-column values to positive weights
    (normalized internally, so {'en': 5, 'fr': 2} and {'en': 0.5,
    'fr': 0.2} plan identically after normalization over the given
    keys). Weights/shares ride as driver-computed literals, so an
    oracle replays the identical arithmetic. Corpus groups OUTSIDE the
    target keys are ignored (they are not part of the mixture); target
    keys ABSENT from the corpus report availability 0 and pin
    ``feasible_total`` to 0 — a plan that silently dropped a missing
    domain would misreport every other group's epochs.

    Scale: one partial-aggregated groupBy on ``by`` over the
    target-filtered corpus (the ``isin`` filter pushes down), joined to
    the |targets|-row literal relation, with the one-row feasibility
    minimum broadcast back. Availability sums ride DECIMAL(38,6) then
    divide as double — the :func:`mixture_report` determinism rule."""
    import math

    if not targets:
        raise ValueError("mixture_plan: targets is empty")
    weights = {k: float(w) for k, w in targets.items()}
    # not (w > 0) rather than w <= 0: NaN fails BOTH comparisons, and a
    # NaN weight would otherwise turn every share into NaN silently —
    # the same trap the weighted_sample_exact NaN fix closes
    if any(not (w > 0) or math.isinf(w) for w in weights.values()):
        raise ValueError(
            f"mixture_plan: every target weight must be a positive "
            f"finite number ({targets})"
        )
    wsum = sum(weights.values())
    shares = {k: w / wsum for k, w in weights.items()}
    if total is not None and (not (float(total) > 0) or math.isinf(float(total))):
        raise ValueError(
            f"mixture_plan: total must be a positive finite number ({total})"
        )
    spark = df.sparkSession
    w = (
        F.col(weight_col).cast("decimal(38,6)")
        if weight_col is not None
        else F.lit(1).cast("decimal(38,6)")
    )
    keys = sorted(shares)
    avail = (
        df.filter(F.col(by).isin(keys))
        .groupBy(by)
        .agg(F.sum(w).alias("_a"))
    )
    # StructType, not a DDL string: a grouping column whose name needs
    # quoting (space, hyphen, leading digit) would fail DDL parsing
    from pyspark.sql.types import DoubleType, StructField, StructType

    tdf = spark.createDataFrame(
        [(k, shares[k]) for k in keys],
        StructType(
            [df.schema[by], StructField("target_share", DoubleType(), False)]
        ),
    )
    planned = (
        tdf.join(F.broadcast(avail), by, "left")
        .select(
            by,
            "target_share",
            F.coalesce(F.col("_a").cast("double"), F.lit(0.0)).alias("_av"),
        )
    )
    feas = planned.agg(
        F.min(F.col("_av") / F.col("target_share")).alias("_feasible")
    )
    # allocated is denominated in the REQUESTED total when one is given
    # (repetition > 1 then reads as epochs over the group); with no
    # requested total the plan fills the no-repeat maximum
    alloc = F.col("target_share") * (
        F.lit(float(total)) if total is not None else F.col("_feasible")
    )
    return (
        planned.crossJoin(F.broadcast(feas))
        .select(
            by,
            F.round(F.col("_av"), 6).alias("available"),
            F.round(F.col("target_share"), 6).alias("target_share"),
            F.round(alloc, 6).alias("allocated"),
            F.round(alloc / F.nullif(F.col("_av"), F.lit(0.0)), 6).alias(
                "repetition"
            ),
            F.round(F.col("_feasible"), 6).alias("feasible_total"),
        )
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 8192,
    alpha: float = 1.0,
    seed: int = 0,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every RAW
    document by how much more likely its hashed-n-gram bag is under the
    TARGET corpus's distribution than under the raw corpus's own — the
    standard "curate toward a target domain" step. Feed the result to
    :func:`weighted_sample_exact` with ``log_space=True`` on
    ``log_weight`` (never ``exp`` it — DSIR ratios run ±hundreds) to
    resample the corpus toward the target, as the ``curate_corpus``
    ``dsir_target`` stage does.

    Features are the paper's: unigrams + bigrams of the normalized
    whitespace tokens (:func:`~.text.tokens` — the same tokenization
    every quality signal here uses), hashed into ``buckets`` via the
    md5-mod draw (the :func:`~.maintenance._cms_bucket` family, so a
    SQL oracle replays the hashing exactly). Both corpora fit smoothed
    bag-of-buckets unigram LMs — ``p_b = (c_b + α) / (N + α·B)`` — and
    a document's log-importance is the sum over its gram OCCURRENCES of
    ``ln p_target(b) − ln p_raw(b)``.

    Cross-engine determinism: per-bucket log-ratios are rounded to 6
    decimals and the per-document sum rides DECIMAL(18,6) (the
    unigram_nll / bm25 discipline), so addition order cannot perturb
    the result and a DuckDB oracle hash-matches. Documents with zero
    grams carry no evidence and are absent from the output (the
    unigram_nll convention).

    Returns ``(id_col, n_grams, log_weight)``.

    100 TB shape: two explode → partial-aggregated groupBy passes over
    gram buckets (shuffled relations bounded by ``buckets``, NOT corpus
    size — the whole point of hashed features), one ≤ ``buckets``-row
    ratio relation broadcast onto the raw grams, one partial-aggregated
    groupBy back to documents. The target corpus is typically tiny
    (a quality seed set); the raw side is touched twice, both times
    reduced map-side to bucket granularity. No Python, no collect."""
    if buckets < 2:
        raise ValueError(f"dsir_weights: buckets must be >= 2 ({buckets})")
    if alpha <= 0:
        raise ValueError(f"dsir_weights: alpha must be > 0 ({alpha})")
    from .text import tokens

    # unigrams ++ bigrams, tokens bound once as a lambda variable (the
    # winnow_fingerprints binding discipline — a plain column reference
    # would inline the normalize+split per bigram element)
    grams = (
        "element_at(transform(array(_mf_tk), tk -> concat(tk, "
        "CASE WHEN size(tk) >= 2 THEN transform(sequence(1, size(tk) - 1), "
        "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1))) "
        "ELSE CAST(array() AS array<string>) END)), 1)"
    )
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("_g"), F.lit(f":{int(seed)}"))), 1, 15
            ),
            16,
            10,
        ).cast("long"),
        F.lit(int(buckets)),
    ).alias("_b")

    def _bucketed(df):
        return (
            df.withColumn("_mf_tk", tokens(F.col(text_col)))
            .select(F.col(id_col), F.explode(F.expr(grams)).alias("_g"))
            .select(F.col(id_col), bucket)
        )

    # raw grams feed BOTH the raw-LM fit and the per-doc scoring join —
    # no cross-branch CSE in Spark, so pin the (id, bucket) relation once
    # (the caller's persist_scope releases it)
    raw_g = _bucketed(raw).persist()
    tgt_b = _bucketed(target).groupBy("_b").agg(
        F.count(F.lit(1)).alias("_ct")
    )
    raw_b = raw_g.groupBy("_b").agg(F.count(F.lit(1)).alias("_cr"))
    a = float(alpha)
    aB = a * int(buckets)
    tot_t = tgt_b.agg(F.sum("_ct").cast("double").alias("_T"))
    tot_r = raw_b.agg(F.sum("_cr").cast("double").alias("_R"))
    # log p_target(b) - log p_raw(b), one row per bucket the raw corpus
    # occupies (raw grams always hit a raw-present bucket, so a left
    # join covers every probe); absent target bucket -> smoothed alpha
    ratio = (
        raw_b.join(tgt_b, "_b", "left")
        .crossJoin(F.broadcast(tot_t))
        .crossJoin(F.broadcast(tot_r))
        .select(
            "_b",
            F.round(
                F.log(
                    (F.coalesce(F.col("_ct"), F.lit(0)).cast("double") + a)
                    / (F.coalesce(F.col("_T"), F.lit(0.0)) + aB)
                )
                - F.log(
                    (F.col("_cr").cast("double") + a) / (F.col("_R") + aB)
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("_lr"),
        )
    )
    return (
        raw_g.join(F.broadcast(ratio), "_b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.round(F.sum("_lr").cast("double"), 6).alias("log_weight"),
        )
    )
