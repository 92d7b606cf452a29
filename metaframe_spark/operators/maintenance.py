"""Warehouse-maintenance operators: column profiling and small-file
compaction.

The reference has no maintenance surface (its 197-line wrapper stops at
delegation); these are the ANALYZE/OPTIMIZE-shaped capabilities an
engine operating a 100-TB lake needs, expressed Spark-first.
"""

from __future__ import annotations

import math
import re
from typing import List, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_columns(
    df: DataFrame,
    columns: Optional[Sequence[str]] = None,
    exact_distinct: bool = True,
    percentiles: Optional[Sequence[float]] = None,
    exact_percentiles: bool = True,
) -> DataFrame:
    """ANALYZE-style column profile: one row per column with ``n_rows``,
    ``n_nulls``, ``n_distinct`` and min/max (as strings, so the output
    schema is column-type-independent).

    One aggregation pass over the input: all per-column statistics are
    computed in a single ``agg`` (Spark plans the multi-column distinct
    counts with one Expand + shuffle — input is scanned once), then the
    one-row wide result is unpivoted row-locally into the long profile.

    ``exact_distinct=False`` swaps ``count(DISTINCT c)`` for
    ``approx_count_distinct`` (HLL) — at petabyte scale the exact
    multi-distinct Expand multiplies the shuffled relation by the column
    count, while HLL keeps it one sketch per column per partition; the
    default stays exact because profile numbers feed data cards and
    equality checks.

    ``percentiles``: the ANALYZE-EXTENDED histogram block — e.g.
    ``(0.25, 0.5, 0.75)`` adds ``p25``/``p50``/``p75`` double columns for
    every NUMERIC profiled column (NULL for non-numeric).
    ``exact_percentiles=False`` swaps the exact interpolated
    ``percentile`` (whose state is the full column per group — fine for
    data cards at report time, heavy at petabyte scan scale) for
    ``approx_percentile`` (t-digest sketch, bounded state — the 100-TB
    shape, same lever as ``exact_distinct``). Values are rounded to 6
    decimals so exact mode is engine-reproducible.

    Plan shape with percentiles: TWO one-row aggregations (distinct
    counts in one, everything else in the other) cross-joined. Mixing
    ``count(DISTINCT ...)`` with percentile aggregates in one agg makes
    Spark ship the percentile value buffers through the distinct-agg
    Expand shuffle — measured 6× slower at 150k rows and scaling with the
    data; the split lets each agg plan its optimal shape and the join of
    two one-row relations is free. Without percentiles the profile stays
    a single agg pass, and each percentile column uses ONE array-form
    ``percentile(c, array(...))`` buffer, not one buffer per quantile.
    """
    from pyspark.sql.types import NumericType

    cols: List[str] = list(columns) if columns else list(df.columns)
    qs: List[float] = [float(q) for q in (percentiles or [])]
    if any(not (0.0 <= q <= 1.0) for q in qs):
        raise ValueError(f"percentiles must be in [0, 1]: {qs!r}")
    q_labels = [f"p{q * 100:g}".replace(".", "_") for q in qs]
    if len(set(q_labels)) != len(q_labels):
        raise ValueError(f"duplicate percentiles: {qs!r}")
    # column names are interpolated into an expr string below — restrict to
    # plain identifiers so exotic names fail loudly instead of mis-parsing
    bad = [c for c in cols if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", c)]
    if bad:
        raise ValueError(
            f"profile_columns requires identifier-safe column names; "
            f"rename {bad!r} (e.g. withColumnRenamed) before profiling"
        )
    distinct = (
        (lambda c: F.countDistinct(F.col(c)))
        if exact_distinct
        else (lambda c: F.approx_count_distinct(F.col(c)))
    )
    numeric = {
        f.name for f in df.schema.fields if isinstance(f.dataType, NumericType)
    }
    base_aggs = [F.count(F.lit(1)).alias("_rows")]
    nd_aggs = []
    for c in cols:
        base_aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"_nulls_{c}")
        )
        nd_aggs.append(distinct(c).cast("long").alias(f"_nd_{c}"))
        base_aggs.append(F.min(F.col(c)).cast("string").alias(f"_min_{c}"))
        base_aggs.append(F.max(F.col(c)).cast("string").alias(f"_max_{c}"))
    if qs:
        fn = "percentile" if exact_percentiles else "approx_percentile"
        q_arr = "array(" + ", ".join(f"{q!r}D" for q in qs) + ")"
        for c in cols:
            for i, lbl in enumerate(q_labels):
                expr = (
                    F.round(
                        F.expr(f"element_at({fn}({c}, {q_arr}), {i + 1})").cast(
                            "double"
                        ),
                        6,
                    )
                    if c in numeric
                    else F.lit(None).cast("double")
                )
                base_aggs.append(expr.alias(f"_{lbl}_{c}"))
        # distinct counts in their OWN one-row agg (see docstring)
        wide = df.agg(*base_aggs).crossJoin(df.agg(*nd_aggs))
    else:
        wide = df.agg(*base_aggs, *nd_aggs)
    struct_items = ", ".join(
        (
            f"named_struct('column', '{c}', 'n_nulls', _nulls_{c}, "
            f"'n_distinct', _nd_{c}, 'min_value', _min_{c}, "
            f"'max_value', _max_{c}"
            + "".join(f", '{lbl}', _{lbl}_{c}" for lbl in q_labels)
            + ")"
        )
        for c in cols
    )
    return wide.select(
        F.col("_rows").alias("n_rows"),
        F.explode(F.expr(f"array({struct_items})")).alias("_s"),
    ).select(
        F.col("_s.column").alias("column"),
        "n_rows",
        F.col("_s.n_nulls").cast("long").alias("n_nulls"),
        F.col("_s.n_distinct").alias("n_distinct"),
        F.col("_s.min_value").alias("min_value"),
        F.col("_s.max_value").alias("max_value"),
        *[F.col(f"_s.{lbl}").alias(lbl) for lbl in q_labels],
    )


def distinct_sketches(
    df: DataFrame,
    columns: Sequence[str],
    group_by: Optional[Sequence[str]] = None,
    lg_k: int = 12,
) -> DataFrame:
    """MERGEABLE distinct-count sketches: one binary Datasketches-HLL
    sketch per (group, column) via ``hll_sketch_agg`` — the incremental
    answer to "distinct users across daily runs" at 100 TB: sketch each
    day's partition once, persist the few-KB sketches, and merge across
    runs (:func:`merge_distinct_sketches`) without ever rescanning
    history. ``profile_columns(exact_distinct=False)`` uses the same HLL
    machinery but throws the state away per run; this keeps it.

    Returns ``group_by`` columns (none → one global row) plus a
    ``{col}_sketch`` binary column per entry of ``columns``. NULLs are
    not counted (``hll_sketch_agg`` semantics, matching
    ``count(DISTINCT c)``). ``lg_k`` is the sketch precision knob
    (2^lg_k buckets; relative error ≈ 1.04/√2^lg_k — ~1.6% at the
    default 12) and must match across runs that will be merged.

    One aggregation pass, partial sketches combined map-side like any
    algebraic agg — per-partition state is ``len(columns)`` sketches,
    independent of row count.
    """
    if not columns:
        raise ValueError("distinct_sketches: columns must be non-empty")
    aggs = [
        F.hll_sketch_agg(F.col(c), F.lit(int(lg_k))).alias(f"{c}_sketch")
        for c in columns
    ]
    if group_by:
        return df.groupBy(*group_by).agg(*aggs)
    return df.agg(*aggs)


def merge_distinct_sketches(
    *sketch_dfs: DataFrame,
    group_by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Merge sketch relations from multiple runs (days, snapshots,
    backfills) into one: union the inputs and ``hll_union_agg`` every
    ``*_sketch`` column per group. Register-wise max — order- and
    SPLIT-independent: merging any partition of the stream (2-way,
    30-way, re-ordered) produces the identical register state, hence the
    identical estimate (hash-proved by q85_hll_sketch). The one caveat:
    a MERGED sketch estimates with the composite estimator, while a
    single-pass sketch uses the slightly tighter HIP estimator — so a
    merged estimate can differ from a one-shot estimate by a fraction of
    the ~1.04/√2^lg_k error band (both are within it; in the small-n
    coupon-exact range they agree exactly). Inputs must share schema and
    ``lg_k`` (mismatched precisions raise in the union agg rather than
    silently degrading).
    """
    if not sketch_dfs:
        raise ValueError("merge_distinct_sketches: need at least one input")
    u = sketch_dfs[0]
    for other in sketch_dfs[1:]:
        u = u.unionByName(other)
    sketch_cols = [c for c in u.columns if c.endswith("_sketch")]
    if not sketch_cols:
        raise ValueError(
            "merge_distinct_sketches: no *_sketch columns in input "
            f"(columns: {u.columns!r})"
        )
    aggs = [F.hll_union_agg(F.col(c)).alias(c) for c in sketch_cols]
    if group_by:
        return u.groupBy(*group_by).agg(*aggs)
    return u.agg(*aggs)


def sketch_estimates(
    sketches: DataFrame,
    group_by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Distinct-count estimates from a sketch relation: every
    ``{col}_sketch`` binary column becomes a ``{col}_distinct`` long via
    ``hll_sketch_estimate``. Row-local (the sketches are already
    aggregated) — no shuffle. Small cardinalities sit in the sketch's
    exact (coupon) range, so day-over-day dashboards on modest groups
    are exact; large ones carry the ~1.04/√2^lg_k relative error.
    """
    keys = list(group_by or [])
    outs = [F.col(k) for k in keys]
    for c in sketches.columns:
        if c.endswith("_sketch"):
            outs.append(
                F.hll_sketch_estimate(F.col(c))
                .cast("long")
                .alias(c[: -len("_sketch")] + "_distinct")
            )
    return sketches.select(*outs)


def moment_sketches(
    df: DataFrame,
    columns: Sequence[str],
    group_by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """MERGEABLE moment sketches: per (group, numeric column) a struct
    ``{col}_moments`` of ``{n, sum, sumsq, min, max}`` — the exact
    incremental companion to :func:`distinct_sketches`: persist one tiny
    row per group per run and fold mean/std/min/max/count across runs
    (:func:`merge_moment_sketches` → :func:`moment_estimates`) without
    rescanning history. Unlike HLL this store is EXACT: sums and
    sums-of-squares are algebraic, so merged estimates equal a
    from-scratch pass over the concatenated data.

    Determinism contract: ``sum`` is ``DECIMAL(38,6)`` (values quantized
    to 6 decimal places, |x| < 1e12) and ``sumsq`` ``DECIMAL(38,12)`` —
    decimal addition is associative/commutative, so the stored state is
    bit-identical under ANY partitioning or merge order (double sums are
    not; same idiom as pagerank's DECIMAL rank mass). min/max stay
    double (order statistics are exact in any type). Inputs with more
    than 6 significant decimals are quantized; metrics at or beyond 1e12
    overflow the decimal and need a rescale first — this store targets
    bounded pipeline metrics (quality scores, lengths, prices, counts).
    Overflow fails loudly regardless of ``spark.sql.ansi.enabled``: with
    ANSI on the cast itself raises, and with ANSI off (where a cast
    silently NULLs) an explicit row-level guard raises instead, so an
    out-of-range value can never skew ``std`` by dropping out of
    ``sumsq`` while still being counted in ``n``.

    One aggregation pass, map-side partial like any algebraic agg;
    per-partition state is a handful of numbers per (group, column).
    """
    from pyspark.sql.types import NumericType

    if not columns:
        raise ValueError("moment_sketches: columns must be non-empty")
    numeric = {
        f.name for f in df.schema.fields if isinstance(f.dataType, NumericType)
    }
    bad = [c for c in columns if c not in numeric]
    if bad:
        raise ValueError(
            f"moment_sketches: non-numeric columns {bad!r} "
            f"(numeric columns present: {sorted(numeric)!r})"
        )
    def _checked18(c: str) -> "F.Column":
        # decimal(18,6) holds |x| < 1e12.  With ANSI off an overflowing
        # cast silently NULLs; the When-guard turns that into a loud
        # raise_error (never evaluated on in-range rows — When is lazy),
        # and with ANSI on the cast inside the condition raises itself.
        q = F.col(c).cast("decimal(18,6)")
        return F.when(
            F.col(c).isNotNull() & q.isNull(),
            F.raise_error(
                F.lit(
                    f"moment_sketches: a value in column {c!r} overflows "
                    "decimal(18,6) (|x| >= 1e12); rescale the metric first"
                )
            ).cast("decimal(18,6)"),
        ).otherwise(q)

    aggs = [
        F.struct(
            F.count(F.col(c)).alias("n"),
            F.sum(_checked18(c).cast("decimal(28,6)")).alias("sum"),
            F.sum(_checked18(c) * _checked18(c)).alias("sumsq"),
            F.min(F.col(c).cast("double")).alias("min"),
            F.max(F.col(c).cast("double")).alias("max"),
        ).alias(f"{c}_moments")
        for c in columns
    ]
    if group_by:
        return df.groupBy(*group_by).agg(*aggs)
    return df.agg(*aggs)


def merge_moment_sketches(
    *moment_dfs: DataFrame,
    group_by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Merge moment-sketch relations from multiple runs: counts and
    (decimal-exact) sums add, min/min and max/max fold — the merged
    state is IDENTICAL to sketching the concatenated inputs in one pass,
    for any split and any merge order. Output schema equals the input
    sketch schema, so stores re-merge indefinitely (day → month → year
    rollups at a few rows per group per level)."""
    if not moment_dfs:
        raise ValueError("merge_moment_sketches: need at least one input")
    u = moment_dfs[0]
    for other in moment_dfs[1:]:
        u = u.unionByName(other)
    mcols = [c for c in u.columns if c.endswith("_moments")]
    if not mcols:
        raise ValueError(
            "merge_moment_sketches: no *_moments columns in input "
            f"(columns: {u.columns!r})"
        )
    aggs = [
        F.struct(
            F.sum(F.col(f"{m}.n")).cast("long").alias("n"),
            F.sum(F.col(f"{m}.sum")).cast("decimal(38,6)").alias("sum"),
            F.sum(F.col(f"{m}.sumsq")).cast("decimal(38,12)").alias("sumsq"),
            F.min(F.col(f"{m}.min")).alias("min"),
            F.max(F.col(f"{m}.max")).alias("max"),
        ).alias(m)
        for m in mcols
    ]
    if group_by:
        return u.groupBy(*group_by).agg(*aggs)
    return u.agg(*aggs)


def moment_estimates(
    moments: DataFrame,
    group_by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Statistics from a moment-sketch relation: every ``{col}_moments``
    struct becomes ``{col}_count/mean/std/min/max`` (std is the SAMPLE
    standard deviation; NULL below 2 observations, mean NULL at 0).
    Row-local — the sketches are already aggregated, no shuffle. The
    double math runs on decimal-exact inputs, so estimates are identical
    regardless of how many runs the store was accreted from; values are
    rounded to 6 decimals (the repo-wide reproducibility idiom)."""
    keys = list(group_by or [])
    outs = [F.col(k) for k in keys]
    for m in moments.columns:
        if not m.endswith("_moments"):
            continue
        base = m[: -len("_moments")]
        n = F.col(f"{m}.n")
        s = F.col(f"{m}.sum").cast("double")
        s2 = F.col(f"{m}.sumsq").cast("double")
        nd = n.cast("double")
        var = (s2 - s * s / nd) / (nd - 1)
        outs += [
            n.alias(f"{base}_count"),
            F.when(n >= 1, F.round(s / nd, 6)).alias(f"{base}_mean"),
            F.when(n >= 2, F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6)).alias(
                f"{base}_std"
            ),
            F.col(f"{m}.min").alias(f"{base}_min"),
            F.col(f"{m}.max").alias(f"{base}_max"),
        ]
    return moments.select(*outs)


def histogram_sketch(
    df: DataFrame,
    column: str,
    lo: float,
    hi: float,
    n_bins: int,
    group_by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """MERGEABLE equi-width histogram: per group a struct ``{col}_hist``
    of ``{lo, hi, below, above, counts}`` with ``counts[i]`` the EXACT
    number of values in bin i of ``[lo, hi]`` (``hi`` inclusive in the
    last bin; values outside the range land in the unbounded ``below``/
    ``above`` tallies). This is the quantile-digest persistence story
    (SURVEY §2.3 row 6): ``approx_percentile``'s t-digest state cannot
    be persisted or merged across Spark runs, but exact bin counts can —
    bin-sum merge (:func:`merge_histograms`) is associative, so per-day
    histograms fold into month/year quantile estimates
    (:func:`histogram_quantile_estimates`) with error bounded by one bin
    width, never rescanning history.

    Plan shape: one ``groupBy(keys, bin)`` count (partial map-side, the
    shuffled relation is at most ``groups × (n_bins + 2)`` rows
    regardless of input size), then a per-group assembly of the dense
    counts array via a map lookup over ``sequence(0, n_bins-1)`` — no
    per-bin aggregate expressions, so ``n_bins`` scales to thousands
    without codegen blow-up. Groups whose values are all NULL are absent
    from the output (nothing was observed).

    The bin rule ``least(floor((x - lo) / ((hi - lo) / n_bins)),
    n_bins - 1)`` is plain double arithmetic — any engine reproduces the
    exact same assignment, which is what lets the q88 oracle hash-match
    bin contents across Spark and DuckDB.
    """
    if not n_bins >= 1:
        raise ValueError(f"histogram_sketch: n_bins must be >= 1 ({n_bins})")
    if not float(lo) < float(hi):
        raise ValueError(f"histogram_sketch: need lo < hi ({lo!r} >= {hi!r})")
    lo, hi = float(lo), float(hi)
    w = (hi - lo) / n_bins
    keys = list(group_by or [])
    x = F.col(column).cast("double")
    bin_ = (
        F.when(x.isNull(), F.lit(None))
        .when(x < lo, F.lit(-1))
        .when(x > hi, F.lit(n_bins))
        .otherwise(F.least(F.floor((x - F.lit(lo)) / F.lit(w)), F.lit(n_bins - 1)))
    ).cast("int")
    per_bin = (
        df.select(*keys, bin_.alias("_bin"))
        .filter(F.col("_bin").isNotNull())
        .groupBy(*keys, "_bin")
        .count()
    )
    g = per_bin.groupBy(*keys) if keys else per_bin.groupBy()
    assembled = g.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("_bin"), F.col("count")))
        ).alias("_m")
    )
    zero = F.lit(0).cast("long")
    return assembled.select(
        *keys,
        F.struct(
            F.lit(lo).alias("lo"),
            F.lit(hi).alias("hi"),
            F.coalesce(F.element_at("_m", F.lit(-1)), zero).alias("below"),
            F.coalesce(F.element_at("_m", F.lit(n_bins)), zero).alias("above"),
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bins - 1)),
                lambda i: F.coalesce(F.element_at("_m", i), zero),
            ).alias("counts"),
        ).alias(f"{column}_hist"),
    )


def merge_histograms(
    *hist_dfs: DataFrame,
    group_by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Merge histogram relations from multiple runs: below/above/counts
    add element-wise per group — exact, order- and split-independent.
    Mismatched bin specs (different lo/hi/n_bins) cannot be merged
    meaningfully and raise AT EXECUTION per group via ``assert_true``
    rather than silently misaligning bins. The element-wise array sum
    folds a ``collect_list`` of the runs' count arrays — state is
    (runs × n_bins) longs per group, bounded by the number of runs being
    merged in one call, not by data volume."""
    if not hist_dfs:
        raise ValueError("merge_histograms: need at least one input")
    u = hist_dfs[0]
    for other in hist_dfs[1:]:
        u = u.unionByName(other)
    hcols = [c for c in u.columns if c.endswith("_hist")]
    if not hcols:
        raise ValueError(
            "merge_histograms: no *_hist columns in input "
            f"(columns: {u.columns!r})"
        )
    keys = list(group_by or [])
    zero = F.lit(0).cast("long")
    tmp_aggs, final_cols = [], [F.col(k) for k in keys]
    for m in hcols:
        tmp_aggs += [
            F.min(F.col(f"{m}.lo")).alias(f"_{m}_lo_mn"),
            F.max(F.col(f"{m}.lo")).alias(f"_{m}_lo_mx"),
            F.min(F.col(f"{m}.hi")).alias(f"_{m}_hi_mn"),
            F.max(F.col(f"{m}.hi")).alias(f"_{m}_hi_mx"),
            F.min(F.size(F.col(f"{m}.counts"))).alias(f"_{m}_nb_mn"),
            F.max(F.size(F.col(f"{m}.counts"))).alias(f"_{m}_nb_mx"),
            F.sum(F.col(f"{m}.below")).alias(f"_{m}_below"),
            F.sum(F.col(f"{m}.above")).alias(f"_{m}_above"),
            F.collect_list(F.col(f"{m}.counts")).alias(f"_{m}_cl"),
        ]
        consistent = (
            (F.col(f"_{m}_lo_mn") == F.col(f"_{m}_lo_mx"))
            & (F.col(f"_{m}_hi_mn") == F.col(f"_{m}_hi_mx"))
            & (F.col(f"_{m}_nb_mn") == F.col(f"_{m}_nb_mx"))
        )
        cl = F.col(f"_{m}_cl")
        summed = F.aggregate(
            cl,
            F.transform(F.element_at(cl, 1), lambda _: zero),
            lambda acc, a: F.zip_with(acc, a, lambda p, q: p + q),
        )
        final_cols.append(
            F.struct(
                # assert_true returns NULL when the check holds and raises
                # otherwise — gating lo on it keeps the check in the plan
                # (a free-standing checked column would be pruned away)
                F.when(
                    F.assert_true(
                        consistent,
                        F.lit(f"merge_histograms: mismatched bin specs for {m}"),
                    ).isNull(),
                    F.col(f"_{m}_lo_mn"),
                ).alias("lo"),
                F.col(f"_{m}_hi_mn").alias("hi"),
                F.col(f"_{m}_below").alias("below"),
                F.col(f"_{m}_above").alias("above"),
                summed.alias("counts"),
            ).alias(m)
        )
    g = u.groupBy(*keys) if keys else u.groupBy()
    return g.agg(*tmp_aggs).select(*final_cols)


def histogram_quantile_estimates(
    hists: DataFrame,
    quantiles: Sequence[float],
    group_by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Quantile estimates from a histogram relation: every ``{col}_hist``
    struct yields ``{col}_p{q}`` doubles by the cumulative-count walk
    with linear interpolation inside the target bin — error is bounded
    by one bin width against the true in-range quantile (both live in
    the bin holding rank ``q × n``), the classic equi-width trade: bin
    count buys precision, and the store stays mergeable where t-digest
    state is not. Estimates cover the IN-RANGE distribution only
    (``below``/``above`` are unbounded bins — nothing to interpolate);
    a group with zero in-range observations estimates NULL.

    Row-local on an already-aggregated relation (one row per group); the
    cumulative array is built with higher-order functions — O(n_bins²)
    per row, trivial at histogram-sized n_bins.
    """
    qs = [float(q) for q in quantiles]
    if any(not (0.0 < q <= 1.0) for q in qs):
        raise ValueError(f"quantiles must be in (0, 1]: {qs!r}")
    labels = [f"p{q * 100:g}".replace(".", "_") for q in qs]
    if len(set(labels)) != len(labels):
        raise ValueError(f"duplicate quantiles: {qs!r}")
    keys = list(group_by or [])
    outs = [F.col(k) for k in keys]
    for m in hists.columns:
        if not m.endswith("_hist"):
            continue
        base = m[: -len("_hist")]
        counts = F.col(f"{m}.counts")
        lo = F.col(f"{m}.lo")
        w = (F.col(f"{m}.hi") - lo) / F.size(counts)
        cum = F.transform(
            counts,
            lambda _, i: F.aggregate(
                F.slice(counts, F.lit(1), i + 1),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            ),
        )
        total = F.element_at(cum, -1)
        for q, lbl in zip(qs, labels):
            # greatest(..., tiny) makes q→0 resolve to the left edge of the
            # first occupied bin instead of dividing by an empty bin 0
            target = F.greatest(F.lit(q) * total.cast("double"), F.lit(1e-12))
            idx = F.size(F.filter(cum, lambda c: c.cast("double") < target))
            prev = F.when(idx == 0, F.lit(0).cast("long")).otherwise(
                F.element_at(cum, idx)
            )
            cnt = F.element_at(counts, idx + 1)
            est = lo + w * (
                idx.cast("double")
                + (target - prev.cast("double")) / cnt.cast("double")
            )
            outs.append(
                F.when(total > 0, F.round(est, 6)).alias(f"{base}_{lbl}")
            )
    return hists.select(*outs)


def term_sketches(
    df: DataFrame,
    column: str,
    group_by: Optional[Sequence[str]] = None,
    max_terms: Optional[int] = None,
) -> DataFrame:
    """MERGEABLE frequent-terms (heavy-hitters) sketches — the fourth
    member of the incremental-stats family (distinct counts →
    :func:`distinct_sketches`, moments → :func:`moment_sketches`,
    quantiles → :func:`histogram_sketch`): per run, the EXACT per-group
    term counts, optionally pruned to the top ``max_terms`` per group.
    Persist one small relation per run and fold top-k term rankings
    across runs (:func:`merge_term_sketches` →
    :func:`frequent_term_estimates`) without rescanning history —
    ``ngram_vocabulary`` computes the same ranking per run and throws
    the state away; this keeps it.

    Output rows: ``group_by`` keys + ``term`` (string), ``count``
    (long, the term's EXACT count in this run), ``max_err`` (long,
    always 0 for a fresh sketch — counts are exact) and ``prune_bound``
    (long, constant per group: the LARGEST count discarded by the
    top-``max_terms`` prune, 0 when nothing was pruned). The bound is
    the SpaceSaving/Misra-Gries guarantee carrier: any term ABSENT from
    this run's sketch has true count ≤ ``prune_bound`` in this run, so
    a merged count can undercount by at most the sum of the pruned
    runs' bounds — which the merge exposes per row as ``max_err``.
    With ``max_terms`` ≥ the group's distinct-term count (or ``None``),
    nothing is pruned and the whole pipeline is provably exact
    (``max_err`` stays 0) — the same n_probe=n_lists trick the IVF
    oracle uses. NULL terms are not counted (``count(DISTINCT)``/HLL
    semantics).

    Plan shape: one partial-aggregated ``groupBy(keys, term)`` count —
    the shuffled relation is the distinct (group, term) vocabulary, not
    the input rows — then, only when pruning, one window pass
    partitioned by the group keys (rank + full-partition max over the
    pruned tail in the same shuffle)."""
    keys = list(group_by or [])
    counts = (
        df.filter(F.col(column).isNotNull())
        .groupBy(*keys, F.col(column).cast("string").alias("term"))
        .agg(F.count(F.lit(1)).alias("count"))
    )
    zero = F.lit(0).cast("long")
    if max_terms is None:
        return counts.withColumn("max_err", zero).withColumn(
            "prune_bound", zero
        )
    if max_terms < 1:
        raise ValueError(f"term_sketches: max_terms must be >= 1 ({max_terms})")
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(F.desc("count"), F.asc("term"))
    wg = Window.partitionBy(*keys)
    return (
        counts.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "prune_bound",
            F.coalesce(
                F.max(
                    F.when(F.col("_rn") > max_terms, F.col("count"))
                ).over(wg),
                zero,
            ),
        )
        .filter(F.col("_rn") <= max_terms)
        .drop("_rn")
        .withColumn("max_err", zero)
        .select(*keys, "term", "count", "max_err", "prune_bound")
    )


def merge_term_sketches(
    *sketch_dfs: DataFrame,
    group_by: Optional[Sequence[str]] = None,
    run_col: Optional[str] = None,
) -> DataFrame:
    """Merge term-sketch relations from multiple runs: per (group, term)
    the stored counts SUM (each run's count is exact for its slice), and
    the undercount bound composes by the Misra-Gries merge rule — a term
    can only be undercounted in the runs it was PRUNED from, so

    ``max_err = Σ_present max_err + (Σ_all runs prune_bound
    − Σ_present prune_bound)``

    i.e. the carried-in errors of the rows that were present plus every
    absent run's prune bound. The output's ``prune_bound`` is the
    per-group TOTAL bound (a term absent from every run has true count
    ≤ it), so the merged relation has the same schema and the same
    [count, count + max_err] / prune_bound contract as a fresh sketch —
    stores re-merge indefinitely (day → month → year), and when nothing
    was ever pruned every bound is 0 and the merge is EXACT and
    split-independent (hash-proved by q89_heavy_hitters).

    Run identity: each positional DataFrame is one run, unless
    ``run_col`` names a column whose distinct values identify runs
    WITHIN each input (the store-compaction shape — a store directory
    holding many runs is one DataFrame). ``run_col`` is consumed, not
    emitted. Shuffles touch only sketch-sized relations (vocabulary
    rows, never raw data)."""
    if not sketch_dfs:
        raise ValueError("merge_term_sketches: need at least one input")
    keys = list(group_by or [])
    need = {"term", "count", "max_err", "prune_bound"}
    tagged = []
    for i, s in enumerate(sketch_dfs):
        missing = need - set(s.columns)
        if missing:
            raise ValueError(
                f"merge_term_sketches: input {i} is not a term sketch "
                f"(missing columns {sorted(missing)!r})"
            )
        rid = (
            F.concat_ws(
                "\x00", F.lit(str(i)), F.col(run_col).cast("string")
            )
            if run_col is not None
            else F.lit(str(i))
        )
        cols = [*keys, "term", "count", "max_err", "prune_bound"]
        tagged.append(s.select(*cols, rid.alias("_mf_run")))
    u = tagged[0]
    for other in tagged[1:]:
        u = u.unionByName(other)
    # per-(run, group) bound: constant within a run-group by construction
    # (max is a no-op on well-formed sketches, and tolerant of drift)
    per_run = u.groupBy(*keys, "_mf_run").agg(
        F.max("prune_bound").alias("_mf_rb")
    )
    total = per_run.groupBy(*keys).agg(
        F.sum("_mf_rb").cast("long").alias("_mf_total_bound")
    )
    merged = u.groupBy(*keys, "term").agg(
        F.sum("count").cast("long").alias("count"),
        F.sum("max_err").cast("long").alias("_mf_present_err"),
        F.sum("prune_bound").cast("long").alias("_mf_present_bound"),
    )
    joined = (
        merged.join(total, keys)
        if keys
        else merged.crossJoin(F.broadcast(total))
    )
    return joined.select(
        *keys,
        "term",
        "count",
        (
            F.col("_mf_present_err")
            + F.col("_mf_total_bound")
            - F.col("_mf_present_bound")
        )
        .cast("long")
        .alias("max_err"),
        F.col("_mf_total_bound").alias("prune_bound"),
    )


def prune_term_sketch(
    sketch: DataFrame,
    max_terms: int,
    group_by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Shrink a term sketch to its top ``max_terms`` rows per group
    (by stored count, ties broken by term — the deterministic ranking
    :func:`frequent_term_estimates` uses). The group's ``prune_bound``
    rises to cover the discarded rows: a newly-pruned term's true count
    is at most its ``count + max_err``, so the new bound is
    ``max(old prune_bound, max over pruned (count + max_err))`` — the
    retention knob for a store that would otherwise accrete every term
    ever seen."""
    if max_terms < 1:
        raise ValueError(
            f"prune_term_sketch: max_terms must be >= 1 ({max_terms})"
        )
    from pyspark.sql import Window

    keys = list(group_by or [])
    w = Window.partitionBy(*keys).orderBy(F.desc("count"), F.asc("term"))
    wg = Window.partitionBy(*keys)
    pruned_upper = F.max(
        F.when(F.col("_rn") > max_terms, F.col("count") + F.col("max_err"))
    ).over(wg)
    return (
        sketch.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "prune_bound",
            F.greatest(
                F.col("prune_bound"),
                F.coalesce(pruned_upper, F.lit(0).cast("long")),
            ).cast("long"),
        )
        .filter(F.col("_rn") <= max_terms)
        .drop("_rn")
    )


def frequent_term_estimates(
    sketch: DataFrame,
    k: int,
    group_by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Top-k heavy hitters from a term-sketch relation: per group the k
    highest stored counts (ties by term, so the ranking is
    deterministic), each with its ``[count, count + max_err]`` bracket.
    ``rank`` is by the stored LOWER bound — when ``max_err`` > 0 two
    terms closer than their error brackets can legitimately swap (the
    standard SpaceSaving caveat); when the sketches were never pruned
    every ``max_err`` is 0 and the ranking is the exact one. Row-local
    but for the one rank window over the already-aggregated relation."""
    from pyspark.sql import Window

    keys = list(group_by or [])
    w = Window.partitionBy(*keys).orderBy(F.desc("count"), F.asc("term"))
    return (
        sketch.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(*keys, "term", "count", "max_err", "rank")
    )


_SKETCH_SUFFIXES = ("_sketch", "_moments", "_hist")
_TERM_SKETCH_COLS = frozenset(["term", "count", "max_err", "prune_bound"])
_CMS_SKETCH_COLS = frozenset(
    ["depth_i", "bucket", "count", "width", "depth", "seed"]
)


def compact_sketch_relation(
    df: DataFrame,
    run_col: str,
    coarsen,
    keep_since=None,
    group_by: Optional[Sequence[str]] = None,
    max_terms: Optional[int] = None,
    k: Optional[int] = None,
) -> DataFrame:
    """Re-merge a sketch store's aged runs into coarser grains — the
    retention story for stores that grow by one partition per run
    forever: rows older than ``keep_since`` have ``run_col`` rewritten
    by ``coarsen`` (a Column or SQL expression string, e.g.
    ``date_trunc('week', run_day)``) and are re-merged per (coarse run,
    group); rows at or after ``keep_since`` pass through untouched
    (``keep_since=None`` compacts everything). Because every merge in
    the family is exact (moments, histograms, term counts) or
    register-wise (HLL), the compacted store's estimates are IDENTICAL
    to the uncompacted store's — proved by q90_sketch_compact's hash
    oracle and the bit-equality unit tests.

    Sketch kinds are detected by column shape — ``*_sketch`` (HLL),
    ``*_moments``, ``*_hist`` structs merge in ONE groupBy pass over
    the aged slice (they share the same algebraic-fold shape); a
    relation carrying ``term/count/max_err/prune_bound`` is a term
    sketch and merges by the Misra-Gries rule with the ORIGINAL
    ``run_col`` values as run identity. ``group_by`` defaults to every
    column that is not the run column and not sketch state. Output
    schema equals input schema, so compaction composes (day → week →
    month) and the result re-merges like any store.

    The sketch store families compact through the same door: a relation
    carrying ``depth_i/bucket/count/width/depth/seed`` is a COUNT-MIN
    store (cell counts sum per coarse grain — one groupBy, exact by
    commutativity, spec validated per grain), and one carrying
    ``draw_key`` is a BOTTOM-K sample store (per coarse grain the k
    smallest draws survive — ``k`` is REQUIRED, matching the merge
    contract, and ``group_by`` must be explicit because the id/payload
    columns are indistinguishable from group keys by shape alone).

    ``max_terms`` (term stores only): after each coarse grain's merge,
    :func:`prune_term_sketch` caps the grain at its top ``max_terms``
    rows per group — the row-count retention knob a term store needs on
    top of grain coarsening (merging alone UNIONS vocabularies, so an
    uncapped compacted grain can hold every term its days ever saw);
    the discarded tail folds into the grain's ``prune_bound`` so the
    bracket contract survives. Estimates are then exact only down to
    that bound (q90-style bit-identity holds with ``max_terms=None``)."""
    if run_col not in df.columns:
        raise ValueError(
            f"compact_sketch_relation: run_col {run_col!r} not in input "
            f"(columns: {df.columns!r})"
        )
    coarse = F.expr(coarsen) if isinstance(coarsen, str) else coarsen
    is_term = _TERM_SKETCH_COLS <= set(df.columns)
    is_cms = not is_term and _CMS_SKETCH_COLS <= set(df.columns)
    is_bottomk = not is_term and not is_cms and "draw_key" in df.columns
    sketch_cols = [
        c for c in df.columns if c.endswith(_SKETCH_SUFFIXES) and c != run_col
    ]
    if not is_term and not is_cms and not is_bottomk and not sketch_cols:
        raise ValueError(
            "compact_sketch_relation: input has no sketch state "
            f"(*_sketch / *_moments / *_hist columns or the term / CMS / "
            f"bottom-k sketch shape); columns: {df.columns!r}"
        )
    if is_bottomk:
        if k is None:
            raise ValueError(
                "compact_sketch_relation: a bottom-k store needs k= (the "
                "k the sketches were built with) to re-rank coarse grains"
            )
        if group_by is None:
            raise ValueError(
                "compact_sketch_relation: a bottom-k store needs explicit "
                "group_by — its id/payload columns are indistinguishable "
                "from group keys by shape"
            )
    elif k is not None:
        raise ValueError(
            "compact_sketch_relation: k applies only to bottom-k stores "
            f"(columns: {df.columns!r})"
        )
    state = set(sketch_cols)
    if is_term:
        state |= _TERM_SKETCH_COLS
    if is_cms:
        state |= _CMS_SKETCH_COLS
    if is_bottomk:
        state |= {"draw_key"}
    keys = (
        list(group_by)
        if group_by is not None
        else [c for c in df.columns if c != run_col and c not in state]
    )
    order = df.columns
    if keep_since is not None:
        aged = df.filter(F.col(run_col) < F.lit(keep_since))
        # NULL-run rows (malformed store data) must not VANISH: a bare
        # negated comparison is NULL for them, filtering them out of BOTH
        # splits — coalesce keeps them in the untouched passthrough
        recent = df.filter(
            F.coalesce(~(F.col(run_col) < F.lit(keep_since)), F.lit(True))
        )
    else:
        aged, recent = df, None
    if max_terms is not None and not is_term:
        raise ValueError(
            "compact_sketch_relation: max_terms applies only to term "
            f"sketches (columns: {df.columns!r})"
        )
    aged = aged.withColumn("_mf_coarse", coarse)
    gb = ["_mf_coarse", *keys]
    if is_term:
        merged = merge_term_sketches(aged, group_by=gb, run_col=run_col)
        if max_terms is not None:
            merged = prune_term_sketch(merged, max_terms, group_by=gb)
    elif is_cms:
        merged = merge_cms_sketches(aged, group_by=gb)
    elif is_bottomk:
        # the merge passes every column through (unlike the groupBy
        # families), so the original run column must drop BEFORE the
        # coarse rename or the two would collide
        merged = merge_bottomk_samples(aged.drop(run_col), k=k, group_by=gb)
    else:
        # one groupBy folds every non-histogram sketch column; histograms
        # need their two-step assembly, so they merge separately and join
        # back on the (coarse run, keys) — both sides are sketch-sized
        hists = [c for c in sketch_cols if c.endswith("_hist")]
        flat = [c for c in sketch_cols if not c.endswith("_hist")]
        merged = None
        if flat:
            aggs = []
            for c in flat:
                if c.endswith("_sketch"):
                    aggs.append(F.hll_union_agg(F.col(c)).alias(c))
                else:  # _moments
                    aggs.append(
                        F.struct(
                            F.sum(F.col(f"{c}.n")).cast("long").alias("n"),
                            F.sum(F.col(f"{c}.sum"))
                            .cast("decimal(38,6)")
                            .alias("sum"),
                            F.sum(F.col(f"{c}.sumsq"))
                            .cast("decimal(38,12)")
                            .alias("sumsq"),
                            F.min(F.col(f"{c}.min")).alias("min"),
                            F.max(F.col(f"{c}.max")).alias("max"),
                        ).alias(c)
                    )
            merged = aged.groupBy(*gb).agg(*aggs)
        if hists:
            h = merge_histograms(
                aged.select(*gb, *hists), group_by=gb
            )
            # null-safe: a NULL group key (or NULL coarse grain, when
            # keep_since=None lets NULL-run rows through) forms a real
            # group on BOTH sides and must survive the join-back
            merged = h if merged is None else _join_null_safe(merged, h, gb)
    merged = merged.withColumnRenamed("_mf_coarse", run_col).select(*order)
    return merged if recent is None else merged.unionByName(
        recent.select(*order)
    )


def compact_sketch_store(
    spark,
    src_path: str,
    dest_path: str,
    run_col: str,
    coarsen,
    keep_since=None,
    group_by: Optional[Sequence[str]] = None,
    format: str = "parquet",
    max_terms: Optional[int] = None,
    k: Optional[int] = None,
) -> DataFrame:
    """Disk-to-disk :func:`compact_sketch_relation`: read the store at
    ``src_path``, re-merge runs older than ``keep_since`` into
    ``coarsen``-grained ones, and write the result to ``dest_path``
    partitioned by ``run_col`` — one output directory per surviving
    grain, so the file count tracks grains (a store accreting a
    partition per day forever compacts day → week → month without
    estimate drift). Writes to a NEW path rather than in place — swap
    is the caller's atomic rename, same discipline as the CDC sink.
    Returns the compacted relation (lazily re-read from ``dest_path``,
    so downstream plans scan the compacted layout)."""
    # enforce the "NEW path" contract: the compaction plan
    # reads src_path LAZILY while mode('overwrite') deletes dest_path
    # first — dest == src (or either nested in the other) would destroy
    # the store the job is still reading, possibly the only copy
    norm_src = src_path.rstrip("/")
    norm_dest = dest_path.rstrip("/")
    if (
        norm_dest == norm_src
        or norm_dest.startswith(norm_src + "/")
        or norm_src.startswith(norm_dest + "/")
    ):
        raise ValueError(
            f"compact_sketch_store: dest_path {dest_path!r} overlaps "
            f"src_path {src_path!r}; the overwrite would delete the store "
            "being read — write to a NEW path and atomic-rename afterwards"
        )
    try:
        df = spark.read.format(format).load(src_path)
    except Exception as e:
        # a run-partitioned store with zero rows writes no data files at
        # all, so the read cannot infer a schema — surface that as the
        # contract violation it is instead of a schema-inference error
        raise ValueError(
            f"compact_sketch_store: no readable sketch store at "
            f"{src_path!r} (missing or empty): {e}"
        ) from e
    out = compact_sketch_relation(
        df, run_col, coarsen, keep_since=keep_since, group_by=group_by,
        max_terms=max_terms, k=k,
    )
    out.write.mode("overwrite").partitionBy(run_col).format(format).save(
        dest_path
    )
    return spark.read.format(format).load(dest_path)


def bottomk_sample_sketch(
    df: DataFrame,
    id_col: str,
    k: int,
    group_by: Optional[Sequence[str]] = None,
    seed: int = 42,
    payload: Optional[Sequence[str]] = None,
) -> DataFrame:
    """MERGEABLE bottom-k (KMV) sample sketch — the fifth incremental
    statistic (distinct → HLL, moments, quantiles → histograms, top
    terms → Misra-Gries, and now a UNIFORM SAMPLE): per group, the k
    rows whose ``md5(id, seed)`` draw keys are smallest. Because the
    draw key is a pure function of the id, the bottom-k of a UNION is
    exactly the bottom-k of the per-run bottom-k's —
    :func:`merge_bottomk_samples` is provably EXACT and split/order
    independent (hash-proved by q94_bottomk_sample), so per-day sample
    sketches fold into month/year samples without ever rescanning
    history, and the accreted sample is identical to sampling the
    concatenated data in one pass. The hash draw makes membership
    partition-layout-independent too (the same derandomization as
    ``weighted_sample_exact``).

    Output rows: ``group_by`` keys + ``id_col``, optional ``payload``
    columns carried alongside, and ``draw_key`` (the hex draw,
    persisted so merges never re-hash). Duplicate ids share a draw key
    — dedupe upstream if ids can repeat across runs (the merge keeps
    one row per (group, id)). Doubles as a KMV distinct-count sketch:
    with n distinct ids, E[k-th smallest normalized key] ≈ k/(n+1)
    (:func:`kmv_distinct_estimates`).

    Plan shape: one projection + one rank window per group (the same
    WindowGroupLimit top-k pruning the samplers use) — the shuffled
    relation is capped at the input rows, the state at groups × k."""
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"bottomk_sample_sketch: k must be >= 1 ({k})")
    keys = list(group_by or [])
    cols = [*keys, id_col, *(payload or [])]
    # the same ':'-separated derandomized draw the samplers use (and the
    # q94 oracle can replay: md5(cast(id as varchar) || ':<seed>'))
    draw = F.md5(
        F.concat(F.col(id_col).cast("string"), F.lit(f":{int(seed)}"))
    )
    w = Window.partitionBy(*keys).orderBy(F.asc("draw_key"), F.asc(id_col))
    return (
        df.select(*cols)
        .filter(F.col(id_col).isNotNull())
        .withColumn("draw_key", draw)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def merge_bottomk_samples(
    *sample_dfs: DataFrame,
    k: int,
    group_by: Optional[Sequence[str]] = None,
    id_col: Optional[str] = None,
) -> DataFrame:
    """Merge bottom-k sample sketches from multiple runs: union, drop
    duplicate ids (same id ⇒ same draw key in every run), re-rank by
    draw key and keep the k smallest per group. EXACT: the result is
    identical to :func:`bottomk_sample_sketch` over the concatenated
    inputs, for any split and any merge order — a deterministic
    function of the distinct id set. Inputs must share ``k`` seeds
    (different seeds produce disjoint key spaces and merge to
    garbage; the draw key travels with the row precisely so merges
    never re-hash).

    The merge keys on ``draw_key`` itself: the draw key is
    a pure function of the id, so ``(group, id)`` duplicates are exactly
    ``(group, draw_key)`` duplicates and the post-dedup key is unique
    per group, making the rank order total — no id-column inference,
    so a re-projected sketch with a payload column ahead of the id can
    no longer silently dedupe on the payload. ``id_col``, when given,
    additionally arms the SEED CROSS-CHECK: the same id appearing with
    two different draw keys proves the inputs were hashed with
    different seeds (disjoint key spaces — such a merge is garbage:
    duplicate ids displace legitimate sample rows and corrupt the KMV
    estimate), and the merge raises at execution instead of passing it
    through. The store carries no seed column, so id_col is the only
    handle that can detect the mismatch — pass it when merging stores
    of uncertain provenance."""
    if not sample_dfs:
        raise ValueError("merge_bottomk_samples: need at least one input")
    keys = list(group_by or [])
    u = sample_dfs[0]
    for other in sample_dfs[1:]:
        u = u.unionByName(other)
    if "draw_key" not in u.columns:
        raise ValueError(
            "merge_bottomk_samples: inputs are not bottom-k sketches "
            f"(no draw_key column; columns: {u.columns!r})"
        )
    from pyspark.sql import Window

    if id_col is not None:
        if id_col not in u.columns:
            raise ValueError(
                f"merge_bottomk_samples: id_col {id_col!r} not in input "
                f"(columns: {u.columns!r})"
            )
        wid = Window.partitionBy(*keys, id_col)
        seed_ok = F.assert_true(
            F.min("draw_key").over(wid) == F.max("draw_key").over(wid),
            F.lit(
                "merge_bottomk_samples: the same id carries two different "
                "draw keys — inputs were built with different seeds and "
                "cannot be merged"
            ),
        )
        # gate the dedup/rank key itself so the check survives projection
        u = u.withColumn(
            "draw_key", F.when(seed_ok.isNull(), F.col("draw_key"))
        )
    w = Window.partitionBy(*keys).orderBy(F.asc("draw_key"))
    return (
        u.dropDuplicates([*keys, "draw_key"])
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def kmv_distinct_estimates(
    samples: DataFrame,
    k: int,
    group_by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """KMV distinct-count estimate from a bottom-k sample sketch: with
    the k-th smallest draw key at normalized position ``u`` in [0, 1),
    the unbiased estimator is ``(k − 1) / u``; groups holding fewer
    than k rows are EXACT (the sketch has every id). The 128-bit md5
    key is normalized by its first 15 hex digits (60 bits — the same
    uniform-draw trick the samplers use). Error ~ 1/√k, the classic
    KMV bound; this rides for free on the sample store where HLL
    (:func:`distinct_sketches`) is the purpose-built estimator.

    ``k`` MUST be the k the sketch was built/merged with: a group
    holding MORE than k rows proves a mismatch and raises at execution
    (a too-small k would divide at the wrong rank). The converse — a
    sketch built with a SMALLER k than passed — is undetectable from
    the relation alone (a k'-row group looks exactly like an exact
    small group) and would report sample sizes as "exact" counts, so
    carry k alongside the store path."""
    keys = list(group_by or [])
    g = samples.groupBy(*keys) if keys else samples.groupBy()
    agg = g.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.max("draw_key").alias("_kth"),
    )
    u = (
        F.conv(F.substring(F.col("_kth"), 1, 15), 16, 10).cast("double")
        / float(16**15)
    )
    est = (
        F.when(
            # assert_true is NULL when the check holds and raises otherwise;
            # the never-true isNotNull() branch keeps it in the plan
            F.assert_true(
                F.col("_n") <= k,
                F.lit(
                    "kmv_distinct_estimates: a group holds more rows than "
                    f"k={k} — the sketch was built with a larger k"
                ),
            ).isNotNull(),
            F.lit(None).cast("double"),
        )
        .when(F.col("_n") < k, F.col("_n").cast("double"))
        .otherwise(F.lit(float(k - 1)) / u)
    )
    return agg.select(
        *keys, F.round(est, 6).alias("distinct_estimate"),
        F.col("_n").alias("sample_size"),
    )


def histogram_drift(
    hist_a: DataFrame,
    hist_b: DataFrame,
    group_by: Optional[Sequence[str]] = None,
    epsilon: float = 1e-6,
) -> DataFrame:
    """Distribution drift between two histogram-sketch relations sharing
    a bin spec — the data-quality monitor the sketch stores were built
    to feed: compare yesterday's (or last month's compacted) histogram
    against today's WITHOUT touching raw data. Per group and per
    ``{col}_hist`` column present in both inputs, emits:

    * ``{col}_psi`` — Population Stability Index,
      ``Σ (p_i − q_i)·ln(p_i / q_i)`` over the in-range bins with zero
      proportions floored at ``epsilon`` (the standard smoothing; the
      classic alert thresholds are ~0.1 warn / 0.25 act);
    * ``{col}_ks`` — the Kolmogorov–Smirnov statistic,
      ``max_i |cdf_a(i) − cdf_b(i)|`` over bin edges — exact for the
      binned distributions (true KS is approximated to bin resolution);
    * ``{col}_n_a`` / ``{col}_n_b`` — the in-range counts.

    Mismatched bin specs cannot be compared and raise AT EXECUTION per
    group (``assert_true``, same discipline as ``merge_histograms``).
    Groups present in only one input are dropped (inner join — drift is
    defined over the intersection; count a one-sided group as born/dead
    in inventory terms, not drifted). Row-local after one key-equi join
    of two already-aggregated sketch relations — no data rescan, state
    independent of input volume. Values round to 6 decimals (the
    repo-wide reproducibility idiom; q92's oracle recomputes them)."""
    keys = list(group_by or [])
    a_cols = {c for c in hist_a.columns if c.endswith("_hist")}
    b_cols = {c for c in hist_b.columns if c.endswith("_hist")}
    both = sorted(a_cols & b_cols)
    if not both:
        raise ValueError(
            "histogram_drift: no shared *_hist columns "
            f"(a: {sorted(a_cols)!r}, b: {sorted(b_cols)!r})"
        )
    a = hist_a.select(*keys, *[F.col(m).alias(f"_a_{m}") for m in both])
    b = hist_b.select(*keys, *[F.col(m).alias(f"_b_{m}") for m in both])
    j = a.join(b, keys) if keys else a.crossJoin(b)
    eps = F.lit(float(epsilon))
    outs = [F.col(k) for k in keys]
    for m in both:
        base = m[: -len("_hist")]
        ca, cb = F.col(f"_a_{m}.counts"), F.col(f"_b_{m}.counts")
        spec_ok = (
            (F.col(f"_a_{m}.lo") == F.col(f"_b_{m}.lo"))
            & (F.col(f"_a_{m}.hi") == F.col(f"_b_{m}.hi"))
            & (F.size(ca) == F.size(cb))
        )
        na = F.aggregate(ca, F.lit(0).cast("long"), lambda x, y: x + y)
        nb = F.aggregate(cb, F.lit(0).cast("long"), lambda x, y: x + y)
        # proportions floored at epsilon (PSI is undefined on zeros); the
        # fold runs in ascending bin order on a fixed-length array, so the
        # double summation order is engine-reproducible
        terms = F.zip_with(
            ca,
            cb,
            lambda x, y: (
                lambda p, q: (p - q) * F.log(p / q)
            )(
                F.greatest(x.cast("double") / na.cast("double"), eps),
                F.greatest(y.cast("double") / nb.cast("double"), eps),
            ),
        )
        psi = F.aggregate(terms, F.lit(0.0), lambda x, y: x + y)
        cum_diff = F.zip_with(
            F.transform(
                ca,
                lambda _, i: F.aggregate(
                    F.slice(ca, F.lit(1), i + 1),
                    F.lit(0).cast("long"),
                    lambda x, y: x + y,
                ),
            ),
            F.transform(
                cb,
                lambda _, i: F.aggregate(
                    F.slice(cb, F.lit(1), i + 1),
                    F.lit(0).cast("long"),
                    lambda x, y: x + y,
                ),
            ),
            lambda x, y: F.abs(
                x.cast("double") / na.cast("double")
                - y.cast("double") / nb.cast("double")
            ),
        )
        ks = F.array_max(cum_diff)
        # a side with zero IN-RANGE observations has no distribution to
        # compare (all mass in below/above) — NULL, not NaN from 0-division
        defined = (na > 0) & (nb > 0)
        # EVERY output column carries the spec check: if only
        # {col}_ks survives projection pruning, the assert must still run —
        # otherwise zip_with NULL-pads unequal-length count arrays and
        # array_max returns a silently wrong KS instead of raising
        checked = F.assert_true(
            spec_ok, F.lit(f"histogram_drift: mismatched bin specs for {m}")
        ).isNull()
        outs += [
            F.when(checked & defined, F.round(psi, 6)).alias(f"{base}_psi"),
            F.when(checked & defined, F.round(ks, 6)).alias(f"{base}_ks"),
            F.when(checked, na).alias(f"{base}_n_a"),
            F.when(checked, nb).alias(f"{base}_n_b"),
        ]
    return j.select(*outs)


def histogram_drift_from_store(
    store: DataFrame,
    run_col: str,
    group_by: Optional[Sequence[str]] = None,
    window: int = 1,
    epsilon: float = 1e-6,
) -> DataFrame:
    """Drift of the LATEST run against its own trailing history, straight
    from a persisted histogram store — the anomaly-detection face of
    :func:`histogram_drift`: instead of the caller hand-picking two
    sketch relations, the store (one row per (run, group) with
    ``{col}_hist`` structs, as :func:`histogram_sketch` writes per run)
    is ranked by recency per group, the trailing ``window`` runs are
    folded into one baseline via :func:`merge_histograms` (bin-sum merge
    is exact, so the baseline equals a histogram over the concatenated
    trailing data), and PSI + binned KS compare latest-vs-baseline. No
    raw data is rescanned; cost is O(runs × groups) sketch rows.

    ``window=1`` is day-over-day ("PSI vs previous run", the classic
    monitor); ``window=7`` is day-vs-trailing-week, robust to one odd
    day in the baseline. Output: per group, the group's latest run
    value as ``run_col``, ``n_runs_baseline`` (how many trailing runs
    existed, ≤ window), and ``histogram_drift``'s ``{col}_psi/ks/n_a/
    n_b`` columns (a = latest, b = merged baseline). Groups with NO
    trailing runs drop out (inner join — drift against nothing is
    undefined; a cold group alarms via the expectations tier, not
    here). Each group compares against its own latest run, matching
    :func:`~metaframe_spark.operators.expectations.validate_anomalies`.
    Mismatched bin specs across runs raise at execution (inherited from
    ``merge_histograms``/``histogram_drift``)."""
    from pyspark.sql import Window

    if window < 1:
        raise ValueError("histogram_drift_from_store: window must be >= 1")
    keys = list(group_by or [])
    hcols = [c for c in store.columns if c.endswith("_hist")]
    if not hcols:
        raise ValueError(
            "histogram_drift_from_store: no *_hist columns in store "
            f"(columns: {store.columns!r})"
        )
    # a keyless store rides a constant internal key so the no-history
    # case degrades the same way as keyed groups (empty output from the
    # inner join) instead of tripping merge_histograms on an empty
    # keyless aggregate
    dummy = not keys
    if dummy:
        store = store.withColumn("_g", F.lit(1))
        keys = ["_g"]
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(F.desc(run_col))
    ranked = store.withColumn("_rk", F.row_number().over(w))
    latest = ranked.filter(F.col("_rk") == 1).select(*keys, run_col, *hcols)
    trailing = ranked.filter(
        (F.col("_rk") >= 2) & (F.col("_rk") <= window + 1)
    )
    baseline = merge_histograms(
        trailing.select(*keys, *hcols), group_by=keys
    )
    n_base = trailing.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_runs_baseline")
    )
    d = histogram_drift(
        latest.drop(run_col), baseline, group_by=keys, epsilon=epsilon
    )
    meta = latest.select(*keys, run_col)
    out = meta.join(n_base, keys).join(d, keys)
    return out.drop("_g") if dummy else out


def compact_files(
    spark,
    src_path: str,
    dest_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    format: str = "parquet",
) -> int:
    """Small-file compaction: rewrite ``src_path`` (a directory of
    ``format`` files) into ``dest_path`` with files sized near
    ``target_file_bytes``. Returns the number of output files requested.

    The fragmentation killer for table scans: a 100-TB table accreted
    from streaming micro-batches carries millions of KB-sized files, and
    every one costs a task + a footer read + (for parquet) an
    unsplittable row group. Output file count is
    ``ceil(total_input_bytes / target)`` from the source's file listing
    (driver-side metadata only — no data pass), then one
    ``repartition(n)`` round-robin shuffle rewrites the data evenly.
    Row order is not preserved (compaction is a layout operation, not a
    logical one).
    """
    if target_file_bytes <= 0:
        raise ValueError("target_file_bytes must be > 0")
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(src_path)
    fs = path.getFileSystem(conf)
    total = 0
    it = fs.listFiles(path, True)
    while it.hasNext():
        status = it.next()
        name = status.getPath().getName()
        if not name.startswith(("_", ".")):
            total += status.getLen()
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.format(format).load(src_path)
    df.repartition(n_files).write.format(format).mode("overwrite").save(
        dest_path
    )
    return n_files


def _cms_bucket(value, depth_i: int, width: int, seed: int):
    """Bucket index for one CMS row: the first 60 bits of
    ``md5(value || ':<depth_i>:<seed>')`` mod ``width``. md5 over the
    same UTF-8 bytes is engine-portable, so a DuckDB oracle replays it
    exactly (``CAST(('0x' || substring(md5(v || ':i:s'), 1, 15)) AS
    BIGINT) % width`` — the q94 draw-key trick)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(value, F.lit(f":{int(depth_i)}:{int(seed)}"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return F.pmod(h, F.lit(int(width))).cast("long")


def _join_null_safe(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    how: str = "inner",
) -> DataFrame:
    """Equi-join that treats NULL keys as EQUAL (``<=>`` per key), keeping
    the left side's key columns — the semantics a sketch store needs:
    ``groupBy`` puts NULL group keys in a real group, so every join that
    routes sketch cells back to their group must match that group rather
    than silently dropping it (through a plain column-name-list join,
    ``merge_cms_sketches`` would lose NULL-key groups, breaking the
    documented merged-store exactness, and ``cms_estimates`` would answer
    0 for them). Column-name-list joins use ``EqualTo``; this chains
    ``eqNullSafe`` on renamed right-side keys and drops them after."""
    if not keys:
        raise ValueError("_join_null_safe: need at least one key")
    r = right
    for k in keys:
        r = r.withColumnRenamed(k, f"__ns_{k}")
    cond = None
    for k in keys:
        c = left[k].eqNullSafe(r[f"__ns_{k}"])
        cond = c if cond is None else (cond & c)
    return left.join(r, cond, how).drop(*[f"__ns_{k}" for k in keys])


def cms_sketches(
    df: DataFrame,
    column: str,
    width: int = 1024,
    depth: int = 4,
    group_by: Optional[Sequence[str]] = None,
    seed: int = 42,
) -> DataFrame:
    """MERGEABLE Count-Min sketch — the sixth incremental statistic
    (distinct → HLL, moments, quantiles → histograms, top terms →
    Misra-Gries, uniform sample → bottom-k, and now POINT FREQUENCY
    with a fixed footprint): per group, a ``depth × width`` counter
    matrix stored as one relation row per occupied cell. Unlike
    :func:`term_sketches` (exact but sized by the vocabulary), the
    CMS footprint is capped at ``groups × depth × width`` rows no
    matter how many distinct values stream through — the store for
    unbounded vocabularies (URLs, n-grams, user ids). The two are
    complementary error regimes: Misra-Gries never OVERcounts
    (prune bound = undercount ceiling), CMS never UNDERcounts
    (estimate ≥ true always; overcount ≤ ⌈e/width · N⌉ with
    probability 1 − e^−depth, the Cormode-Muthukrishnan bound).

    Output rows: ``group_by`` keys + ``depth_i`` (int, 0..depth−1),
    ``bucket`` (long), ``count`` (long), and the spec columns
    ``width``/``depth``/``seed`` (int, constant) that
    :func:`merge_cms_sketches` validates so sketches with different
    geometries can never silently cross-merge. NULL values are not
    counted (``count(DISTINCT)``/HLL semantics). ``depth`` is capped
    at 9 so the ``value:depth_i:seed`` hash pre-image stays injective
    (single-digit depth index).

    Counter updates commute, so the merge (cell-wise sum) is EXACT
    and split/order independent: a merged store is bit-identical to a
    one-pass sketch of the concatenated data (hash-proved by
    q98_cms_counts). Plan shape: one ``explode`` of ``depth`` structs
    per input row feeding a partial-aggregated ``groupBy`` — the
    shuffled relation is the occupied-cell set (≤ depth × width rows
    per group), never the input rows."""
    if not 1 <= int(depth) <= 9:
        raise ValueError(f"cms_sketches: depth must be in [1, 9] ({depth})")
    if int(width) < 2:
        raise ValueError(f"cms_sketches: width must be >= 2 ({width})")
    keys = list(group_by or [])
    v = F.col(column).cast("string")
    cells = df.filter(F.col(column).isNotNull()).select(
        *keys,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("int").alias("depth_i"),
                        _cms_bucket(v, i, width, seed).alias("bucket"),
                    )
                    for i in range(int(depth))
                ]
            )
        ).alias("_dh"),
    )
    return (
        cells.groupBy(
            *keys,
            F.col("_dh.depth_i").alias("depth_i"),
            F.col("_dh.bucket").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("count"))
        .withColumn("width", F.lit(int(width)).cast("int"))
        .withColumn("depth", F.lit(int(depth)).cast("int"))
        .withColumn("seed", F.lit(int(seed)).cast("int"))
    )


def merge_cms_sketches(
    *sketch_dfs: DataFrame,
    group_by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Merge Count-Min sketches from multiple runs: counts sum
    cell-wise per (group, depth_i, bucket) — exact, order- and
    split-independent (counter updates commute). Inputs whose
    ``width``/``depth``/``seed`` specs differ hash values to different
    cells and CANNOT be merged meaningfully; the mismatch raises AT
    EXECUTION per group via ``assert_true``, and the check gates EVERY
    output column so projection pruning can never silently skip it
    (as in histogram_drift). Shuffles touch only
    sketch-sized relations (occupied cells, never raw data)."""
    if not sketch_dfs:
        raise ValueError("merge_cms_sketches: need at least one input")
    need = {"depth_i", "bucket", "count", "width", "depth", "seed"}
    keys = list(group_by or [])
    u = sketch_dfs[0]
    for other in sketch_dfs[1:]:
        u = u.unionByName(other)
    missing = need - set(u.columns)
    if missing:
        raise ValueError(
            "merge_cms_sketches: inputs are not CMS sketches "
            f"(missing columns {sorted(missing)!r})"
        )
    g = u.groupBy(*keys) if keys else u.groupBy()
    spec = g.agg(
        *[
            f(c).alias(f"_{c}_{tag}")
            for c in ("width", "depth", "seed")
            for tag, f in (("mn", F.min), ("mx", F.max))
        ]
    )
    # an EMPTY keyless union still emits one all-NULL spec row (groupBy()
    # over zero rows); that is vacuously consistent — zero cells merge to
    # zero cells — not a geometry mismatch, so the NULL case short-circuits
    # TRUE instead of letting assert_true(NULL) throw
    consistent = F.when(F.col("_width_mn").isNull(), F.lit(True)).otherwise(
        (F.col("_width_mn") == F.col("_width_mx"))
        & (F.col("_depth_mn") == F.col("_depth_mx"))
        & (F.col("_seed_mn") == F.col("_seed_mx"))
    )
    spec = spec.select(
        *keys,
        F.col("_width_mn").alias("_spec_width"),
        F.col("_depth_mn").alias("_spec_depth"),
        F.col("_seed_mn").alias("_spec_seed"),
        F.assert_true(
            consistent,
            F.lit(
                "merge_cms_sketches: mismatched width/depth/seed specs — "
                "sketches with different geometries cannot be merged"
            ),
        ).alias("_spec_ok"),
    )
    merged = u.groupBy(*keys, "depth_i", "bucket").agg(
        F.sum("count").cast("long").alias("count")
    )
    # null-safe on the group keys: groupBy put a NULL-key group in both
    # relations, and a plain equi-join would silently drop it
    joined = (
        _join_null_safe(merged, spec, keys)
        if keys
        else merged.crossJoin(F.broadcast(spec))
    )
    # _spec_ok is NULL iff the assert held; gating every column on it
    # keeps the check alive under any projection
    gate = F.col("_spec_ok").isNull()
    return joined.select(
        *[F.when(gate, F.col(k)).alias(k) for k in keys],
        F.when(gate, F.col("depth_i")).alias("depth_i"),
        F.when(gate, F.col("bucket")).alias("bucket"),
        F.when(gate, F.col("count")).alias("count"),
        F.when(gate, F.col("_spec_width")).alias("width"),
        F.when(gate, F.col("_spec_depth")).alias("depth"),
        F.when(gate, F.col("_spec_seed")).alias("seed"),
    )


def cms_estimates(
    sketch: DataFrame,
    queries: DataFrame,
    column: str,
    group_by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Point-frequency estimates from a CMS relation: for every query
    row (``group_by`` keys + ``column``), hash the value into its
    ``depth`` cells and take the MINIMUM stored count (an unoccupied
    cell counts 0 — the value was never seen in that row's slice).
    The estimate NEVER undercounts: every cell holds true + collided
    counts, so ``true ≤ estimate``, deterministically — the mirror
    guarantee of the Misra-Gries store's never-overcount. ``n_total``
    (the group's total counted values, recovered exactly as any single
    depth row's cell sum) bounds the overcount: estimate ≤ n_total,
    and E[estimate − true] ≤ N/width per the CM analysis.

    The sketch spec (width/depth/seed) is read FROM the relation — one
    bounded driver read of max 1 row per spec column (the IVF
    read-index pattern), validated uniform — so callers can't probe a
    store with the wrong geometry. Plan shape: queries explode into
    ``depth`` rows, left-join the sketch cells on (keys, depth_i,
    bucket) — broadcastable when the sketch is small — then one
    aggregate back to one row per query."""
    need = {"depth_i", "bucket", "count", "width", "depth", "seed"}
    missing = need - set(sketch.columns)
    if missing:
        raise ValueError(
            "cms_estimates: input is not a CMS sketch "
            f"(missing columns {sorted(missing)!r})"
        )
    keys = list(group_by or [])
    spec_rows = (
        sketch.select("width", "depth", "seed").distinct().limit(2).collect()
    )
    if len(spec_rows) == 0:
        # an EMPTY sketch (nothing ever counted) answers every query with
        # estimate 0 / n_total 0 — the correct degenerate case, not an
        # error (an empty source must flow through, not raise)
        zero = F.lit(0).cast("long")
        # distinct mirrors the non-empty path's final groupBy(keys, column):
        # duplicate query rows must not change output cardinality depending
        # on whether anything was ever counted
        return queries.select(*keys, F.col(column)).distinct().select(
            *keys,
            F.col(column),
            zero.alias("estimate"),
            zero.alias("n_total"),
        )
    if len(spec_rows) > 1:
        raise ValueError(
            "cms_estimates: sketch holds mixed width/depth/seed specs — "
            "merge_cms_sketches inputs must share a geometry"
        )
    width, depth, seed = (
        int(spec_rows[0]["width"]),
        int(spec_rows[0]["depth"]),
        int(spec_rows[0]["seed"]),
    )
    v = F.col(column).cast("string")
    probes = queries.select(
        *keys,
        F.col(column),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("int").alias("depth_i"),
                        _cms_bucket(v, i, width, seed).alias("bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("_dh"),
    ).select(*keys, column, "_dh.depth_i", "_dh.bucket")
    cells = sketch.select(*keys, "depth_i", "bucket", "count")
    totals_g = (
        sketch.filter(F.col("depth_i") == 0).groupBy(*keys)
        if keys
        else sketch.filter(F.col("depth_i") == 0).groupBy()
    )
    totals = totals_g.agg(F.sum("count").cast("long").alias("n_total"))
    # null-safe on the group keys (depth_i/bucket are non-null on the cell
    # side, so <=> coincides with = there): a NULL-key group the sketch
    # actually holds must answer its true counts, not 0
    est = (
        _join_null_safe(probes, cells, [*keys, "depth_i", "bucket"], "left")
        .groupBy(*keys, column)
        .agg(
            F.min(F.coalesce(F.col("count"), F.lit(0).cast("long")))
            .cast("long")
            .alias("estimate")
        )
    )
    # LEFT join: a query group the sketch never saw still answers — its
    # cells are all unoccupied (estimate 0 via the coalesce above) and its
    # total is 0, rather than the row silently vanishing from the output
    return (
        _join_null_safe(est, totals, keys, "left")
        if keys
        else est.crossJoin(F.broadcast(totals))
    ).select(
        *keys,
        column,
        "estimate",
        F.coalesce(F.col("n_total"), F.lit(0).cast("long")).alias("n_total"),
    )


def kmv_overlap_estimates(
    a: DataFrame,
    b: DataFrame,
    k: int,
    group_by: Optional[Sequence[str]] = None,
    id_col: Optional[str] = None,
) -> DataFrame:
    """Set-OVERLAP estimates between two bottom-k (KMV) sample sketches
    — the set operation the HLL store cannot do (HLL unions losslessly
    but cannot intersect): per group, estimates of ``|A ∪ B|``,
    ``|A ∩ B|`` and the Jaccard resemblance of the two id sets, straight
    from the stores — "how many of yesterday's distinct users did we
    see today", "what fraction of corpus snapshot v2 overlaps v1" —
    with NO rescan of either side's raw data.

    The classic bottom-k resemblance estimator (Broder; Cohen-Kaplan):
    the k smallest draws of A ∪ B are computable from the two sketches
    alone (merge + re-rank — the bottom-k merge exactness), and each
    union-sample member's presence in BOTH sketches is checkable by
    draw key. With ``n = |union sample| ≤ k``:

    * ``jaccard_estimate = n_common / n`` (unbiased for J(A, B)),
    * ``union_estimate`` = the KMV distinct estimate over the union
      sample (exact when n < k — the sample IS the union),
    * ``intersect_estimate = jaccard × union`` (exact in the same
      small regime).

    Inputs MUST share the draw seed (same contract as
    :func:`merge_bottomk_samples` — the draw key travels precisely so
    this never re-hashes) and the ``k`` they were built with; groups
    missing from one side report zero overlap against the other.
    ``id_col``, when given, arms the same SEED CROSS-CHECK as the
    merge: mixed-seed inputs put the same id under two draw keys —
    which would otherwise report total churn between IDENTICAL sets,
    silently — and raise at execution instead. ``k`` must be ≥ 2: the
    saturated-regime estimator is (k−1)/u, degenerate at k=1. Error
    ~ 1/√k on the resemblance, the standard bound. Every step — md5
    draws, ranks, membership flags, the two divisions — is
    deterministic and engine-replayable (hash-proved by
    q99_kmv_overlap).

    Plan shape: one union of two sketch-sized relations, one
    membership groupBy, one rank window, one aggregate. Nothing
    scales with the data the sketches summarize."""
    from pyspark.sql import Window

    if k < 2:
        raise ValueError(
            f"kmv_overlap_estimates: k must be >= 2 ({k}) — the "
            "saturated-regime estimator (k-1)/u is degenerate at k=1"
        )
    keys = list(group_by or [])
    for side, df in (("a", a), ("b", b)):
        if "draw_key" not in df.columns:
            raise ValueError(
                f"kmv_overlap_estimates: input {side} is not a bottom-k "
                f"sketch (no draw_key column; columns: {df.columns!r})"
            )
        if id_col is not None and id_col not in df.columns:
            raise ValueError(
                f"kmv_overlap_estimates: id_col {id_col!r} not in input "
                f"{side} (columns: {df.columns!r})"
            )
    extra = [id_col] if id_col is not None else []
    sa = a.select(*keys, *extra, "draw_key").select(
        "*", F.lit(True).alias("_in_a"), F.lit(False).alias("_in_b")
    )
    sb = b.select(*keys, *extra, "draw_key").select(
        "*", F.lit(False).alias("_in_a"), F.lit(True).alias("_in_b")
    )
    u = sa.unionByName(sb)
    if id_col is not None:
        wid = Window.partitionBy(*keys, id_col)
        seed_ok = F.assert_true(
            F.min("draw_key").over(wid) == F.max("draw_key").over(wid),
            F.lit(
                "kmv_overlap_estimates: the same id carries two different "
                "draw keys — the sketches were built with different seeds "
                "and their overlap is meaningless"
            ),
        )
        u = u.withColumn(
            "draw_key", F.when(seed_ok.isNull(), F.col("draw_key"))
        )
    joined = u.groupBy(*keys, "draw_key").agg(
        F.max("_in_a").alias("_in_a"), F.max("_in_b").alias("_in_b")
    )
    w = Window.partitionBy(*keys).orderBy(F.asc("draw_key"))
    u = (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
    )
    g = u.groupBy(*keys) if keys else u.groupBy()
    agg = g.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.max("draw_key").alias("_kth"),
        F.sum(
            (F.col("_in_a") & F.col("_in_b")).cast("long")
        ).cast("long").alias("n_common"),
    )
    norm = (
        F.conv(F.substring(F.col("_kth"), 1, 15), 16, 10).cast("double")
        / float(16**15)
    )
    union_est = F.when(
        F.col("_n") < k, F.col("_n").cast("double")
    ).otherwise(F.lit(float(k - 1)) / norm)
    jac = F.col("n_common").cast("double") / F.col("_n").cast("double")
    return agg.select(
        *keys,
        F.round(union_est, 6).alias("union_estimate"),
        F.round(jac * union_est, 6).alias("intersect_estimate"),
        F.round(jac, 6).alias("jaccard_estimate"),
        F.col("n_common"),
        F.col("_n").alias("sample_size"),
    )


def stratified_ks(
    df: DataFrame,
    value_col: str,
    stratum_col: str,
) -> DataFrame:
    """EXACT two-sample Kolmogorov–Smirnov statistic of every stratum
    against the rest of the corpus — the unbinned, resolution-free
    sibling of :func:`histogram_drift`'s binned KS: is source X's length
    (score, token-count, …) distribution actually different, and where?
    Since both empirical CDFs are step functions that jump only at
    observed values, evaluating |F_s − F_rest| on the grid of ALL
    observed values is the exact supremum, not an approximation.

    Returns one row per stratum: (stratum, n_stratum, n_rest, ks_stat,
    ks_at_value) — ``ks_at_value`` is the (lowest, on ties) value where
    the supremum is attained, in the value column's own numeric type,
    which is what makes the card actionable ("the divergence lives at
    short documents"). A stratum that IS the whole corpus has no rest to
    compare against: NULL statistic. Rows with a NULL value OR a NULL
    stratum are excluded up front (a NULL stratum is unassigned
    provenance, not a comparable population — and the grid's equi-join
    could never see its own counts).

    Determinism: the per-grid-point difference is per-row double
    arithmetic from four integers, rounded to 6 BEFORE the max — so no
    engine's last-ulp division noise can flip the argmax; the argmax
    tie-break rides a max(struct(diff, −value)).

    Scale shape: one (stratum, value) rollup with map-side combine
    (everything downstream is value-distinct-sized, documents never
    survive the first shuffle); the evaluation grid is the bounded
    |strata| relation broadcast across the distinct values; BOTH
    cumulative sums and the final per-stratum max share a single
    stratum-keyed exchange. State is O(|strata| · |distinct values|),
    independent of corpus row count.
    """
    from pyspark.sql import Window

    vals = df.select(
        F.col(stratum_col), F.col(value_col).alias("_v")
    ).filter(F.col(value_col).isNotNull() & F.col(stratum_col).isNotNull())
    s = vals.groupBy(stratum_col, "_v").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    dv = s.groupBy("_v").agg(F.sum("_c").cast("long").alias("_cv"))
    st = s.groupBy(stratum_col).agg(F.sum("_c").cast("long").alias("_ns"))
    nt = s.agg(F.sum("_c").cast("long").alias("_n"))
    grid = (
        dv.crossJoin(F.broadcast(st))
        .join(s, [stratum_col, "_v"], "left")
        .withColumn("_cs", F.coalesce(F.col("_c"), F.lit(0)).cast("long"))
    )
    w = (
        Window.partitionBy(stratum_col)
        .orderBy(F.asc("_v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cums = F.sum("_cs").over(w)
    cumc = F.sum("_cv").over(w)
    diff = F.round(
        F.abs(
            cums.cast("double") / F.col("_ns").cast("double")
            - (cumc - cums).cast("double") / (F.col("_n") - F.col("_ns")).cast("double")
        ),
        6,
    )
    top = F.max(F.struct(F.col("_d").alias("d"), (-F.col("_v")).alias("mv")))
    return (
        grid.crossJoin(F.broadcast(nt))
        .withColumn(
            "_d", F.when(F.col("_n") > F.col("_ns"), diff)
        )
        .groupBy(stratum_col)
        .agg(
            F.max("_ns").alias("n_stratum"),
            (F.max("_n") - F.max("_ns")).cast("long").alias("n_rest"),
            top.alias("_t"),
        )
        .select(
            stratum_col,
            "n_stratum",
            "n_rest",
            F.col("_t.d").alias("ks_stat"),
            # keep the value column's own type: a cast to long would
            # truncate fractional value columns (scores, ratios)
            F.when(F.col("_t.d").isNotNull(), -F.col("_t.mv")).alias(
                "ks_at_value"
            ),
        )
    )
