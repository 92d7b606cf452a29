"""Graph analytics over edge relations: damped PageRank.

Connected components (dedup.py::near_dup_groups, large-star/small-star)
covers the clustering side of graph work; this module adds the ranking
side — the domain-authority signal web curation mixes into quality
scores (a page on a heavily-referenced domain is a different prior than
one on a link farm). No counterpart in the reference (its 197-line
wrapper stops at delegation); brief-extension surface like the rest of
the pipeline family.

Scale design: every iteration is ONE equi-join of the edge list with the
current rank relation (keyed on the source node) plus ONE aggregation
keyed on the destination node — the standard Pregel-without-Pregel
shape. No all-pairs anything, no driver-side matrices; the single
driver action is the node COUNT (one scalar, needed as a literal in the
teleport term).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: cross-engine-exact accumulator for rank mass: contributions are cast
#: to this decimal type BEFORE the sum, making the addition
#: order-independent (the queries.py module doc's _dsum argument, at the
#: precision rank fractions need).
_PR_DEC = "decimal(28,18)"


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 10,
    damping: float = 0.85,
    dangling: str = "drop",
    checkpoint_every: int = 0,
) -> DataFrame:
    """Damped PageRank over a directed edge list (duplicate edges count
    as parallel edges). Returns (node, pr) for every node appearing as a
    source or destination.

    Semantics: ``pr_0 = 1/N``;
    ``pr_{t+1}(v) = (1-d)/N + d * (Σ_{u→v} m_{uv} · pr_t(u) / outdeg(u)
    [+ D_t/N])`` with ``m_{uv}`` the edge multiplicity and ``outdeg``
    counted WITH multiplicity. ``dangling`` picks what happens to the
    mass of nodes with no outgoing edge (``D_t``):

    * ``"drop"`` (default) — dangling mass vanishes; ranks are
      comparable scores, not a probability distribution (the usual
      choice when the product is an ordering signal; document it on the
      data card).
    * ``"redistribute"`` — dangling mass is spread uniformly over all
      nodes each sweep (the ``D_t/N`` term), the NetworkX/GraphFrames
      convention: ranks stay a probability distribution (Σpr = 1 up to
      fp error). Costs one extra aggregation (a one-row dangling-mass
      relation, broadcast into the rank update) per iteration.

    ``checkpoint_every=k`` truncates the unrolled lineage with an eager
    ``localCheckpoint`` every ``k`` iterations. The default (0) means:
    no checkpointing in ``"drop"`` mode — the plan grows linearly and
    10-20 sweeps analyze fine (n_iter ≥ ~30 wants ``k`` set) — but
    every 2 iterations in ``"redistribute"`` mode, which references the
    rank relation twice per sweep (contribution join + dangling
    aggregate), doubling the unrolled plan per iteration: measured, the
    uncheckpointed redistribute plan is exponential and dies around
    n_iter=10, while truncating the N-row rank relation every other
    sweep (plan growth capped at 4×) is microscopic next to the
    shuffles it already does — and measured faster than every-sweep
    truncation. Checkpointing is bit-level result-identical (tested) in
    both modes.

    Determinism: rank mass (and the dangling term) is summed in
    ``DECIMAL(28,18)``, so partial aggregation order cannot change a bit
    of the result; every other step is per-row IEEE arithmetic — two
    engines running this recipe agree exactly (hash-proved by the
    llm_domain_pagerank and llm_pagerank_redistribute oracles).

    Scale shape per iteration: one hash join of edges (keyed ``src``)
    against the rank relation and one aggregation keyed ``dst`` — both
    shuffles on bounded node keys, edge relation never replicated (the
    redistribute mode adds one anti-join + scalar agg over the N-row
    rank relation). The out-degree relation is computed once. ``n_iter``
    is a fixed unrolled loop (PageRank converges geometrically; 10-20
    iterations is the standard operating range).
    """
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    if not (0.0 <= damping <= 1.0):
        raise ValueError("damping must be in [0, 1]")
    if dangling not in ("drop", "redistribute"):
        raise ValueError("dangling must be 'drop' or 'redistribute'")
    if checkpoint_every < 0:
        raise ValueError("checkpoint_every must be >= 0")
    e = edges.to_spark() if hasattr(edges, "to_spark") else edges
    e = e.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    deg = e.groupBy("_s").agg(F.count(F.lit(1)).alias("_deg"))
    nodes = (
        e.select(F.col("_s").alias("node"))
        .unionAll(e.select(F.col("_d").alias("node")))
        .distinct()
    )
    nodes.persist()
    n = nodes.count()  # the one driver scalar (teleport term literal)
    if n == 0:
        # empty edge list -> empty ranking, not a ZeroDivisionError
        return nodes.withColumn("pr", F.lit(0.0)).select("node", "pr")
    teleport = (1.0 - damping) / n
    # redistribute references pr twice per sweep -> the unrolled plan
    # doubles per iteration; truncate every other sweep unless the
    # caller chose a cadence (see docstring)
    eff_ck = checkpoint_every or (2 if dangling == "redistribute" else 0)
    pr = nodes.withColumn("_pr", F.lit(1.0 / n))
    for it in range(n_iter):
        contrib = (
            e.join(deg, "_s")
            .join(pr.select(F.col("node").alias("_s"), "_pr"), "_s")
            .select(F.col("_d"), (F.col("_pr") / F.col("_deg")).alias("_c"))
        )
        mass = contrib.groupBy("_d").agg(
            F.sum(F.col("_c").cast(_PR_DEC)).cast("double").alias("_m")
        )
        nxt = nodes.join(
            mass.select(F.col("_d").alias("node"), "_m"), "node", "left"
        )
        if dangling == "redistribute":
            # dangling mass D_t: Σ pr over nodes with no out-edge, summed
            # in decimal (order-independent), as a ONE-row relation the
            # rank update cross-joins (broadcast-nested-loop of a scalar)
            dang = (
                pr.join(deg.select(F.col("_s").alias("node")), "node", "left_anti")
                .agg(
                    F.coalesce(
                        F.sum(F.col("_pr").cast(_PR_DEC)),
                        F.lit(0).cast(_PR_DEC),
                    )
                    .cast("double")
                    .alias("_dm")
                )
            )
            pr = nxt.crossJoin(dang).select(
                "node",
                (
                    F.lit(teleport)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("_m"), F.lit(0.0))
                        + F.col("_dm") / F.lit(float(n))
                    )
                ).alias("_pr"),
            )
        else:
            pr = nxt.select(
                "node",
                (
                    F.lit(teleport)
                    + F.lit(damping) * F.coalesce(F.col("_m"), F.lit(0.0))
                ).alias("_pr"),
            )
        if eff_ck and (it + 1) % eff_ck == 0 and (it + 1) < n_iter:
            pr = pr.localCheckpoint(eager=True)
    return pr.select("node", F.col("_pr").alias("pr"))
