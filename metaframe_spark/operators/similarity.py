"""Similarity search over embedding columns (``array<float>``).

Two tiers, matching the build brief:

* **brute_force_topk** — exact top-k for a *small query set*: the queries
  are broadcast, the corpus is streamed once, the dot product is a JVM
  ``zip_with``/``aggregate`` fold (no Python), and per-query top-k is a
  rank window partitioned by query id. Cost: O(|corpus| · |queries| · d)
  with no shuffle of the corpus — the right baseline at any corpus size
  when |queries| is bounded.
* **ann_topk / ann_similarity_join** — the scale path: p-stable
  random-projection LSH (the same family as ``pyspark.ml``'s
  BucketedRandomProjectionLSH) implemented as plain codegen DataFrame
  expressions — seeded unit-gaussian projections as SQL literals, bucket
  = floor(v·p/w), candidates from an equi-join on the narrow
  (id, table, bucket) relation. On unit-normalized vectors, euclidean
  distance is monotone in cosine (cos = 1 - d²/2), so bucket collision
  probability is monotone in cosine.
* **cosine_pairs_exact** — the low-threshold regime where LSH cannot
  reach recall 1.0: honest all-pairs via one BLAS GEMM per Arrow batch
  against the (guarded) broadcast corpus matrix, JVM-verified.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: pyarrow types for the bounded sidecar-relation schemas below — the
#: exact arrow types Spark's parquet writer emits for the same DDL, so a
#: driver-written sidecar is byte-compatible with a Spark-written one.
_SIDECAR_PA_TYPES = {
    "int": "int32",
    "long": "int64",
    "double": "float64",
    "array<double>": "list<double>",
}


def _local_rel_dir(path: str, format: str, spark=None) -> "str | None":
    """Filesystem directory for a sidecar relation the DRIVER may touch
    directly: parquet format and a DRIVER-LOCAL path — an explicit
    ``file://`` scheme, or a scheme-less path *when the session's
    ``fs.defaultFS`` is the local filesystem*. On a real cluster a
    scheme-less path resolves against HDFS/S3A, so treating it as
    driver-local would split the layout between the driver's disk and
    the cluster FS; those return None and the
    caller takes the regular Spark job path, as do non-parquet formats
    and explicit remote schemes."""
    if format != "parquet":
        return None
    if path.startswith("file://"):
        return path[7:]
    if "://" in path:
        return None
    if spark is not None:
        fs = spark._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
        if not str(fs).startswith("file:"):
            return None
    return path


def _write_small_relation(spark, rows, schema: str, path: str, format: str) -> None:
    """Persist a BOUNDED metadata relation (centroid index, SQ bounds,
    PQ codebooks — KBs, never data) as one parquet file written by the
    driver when the path is local: a ``createDataFrame → repartition(1)
    → write`` of k rows costs a full Spark job (~0.7 s measured — pure
    fixed overhead at any scale), the driver write ~1 ms (guide §5: the
    driver may do bounded work; the relation is smaller than the task
    that would ship it). Non-parquet formats and remote paths keep the
    Spark path — identical layout either way."""
    fsdir = _local_rel_dir(path, format, spark)
    if fsdir is not None:
        import os
        import shutil

        import pyarrow as pa
        import pyarrow.parquet as paq

        names, types = [], []
        for col in schema.split(","):
            n, t = col.strip().rsplit(" ", 1)
            names.append(n)
            types.append(
                pa.list_(pa.float64())
                if _SIDECAR_PA_TYPES[t] == "list<double>"
                else getattr(pa, _SIDECAR_PA_TYPES[t])()
            )
        tbl = pa.table(
            {
                n: pa.array([r[i] for r in rows], ty)
                for i, (n, ty) in enumerate(zip(names, types))
            }
        )
        if os.path.isdir(fsdir):
            shutil.rmtree(fsdir)
        os.makedirs(fsdir, exist_ok=True)
        paq.write_table(tbl, os.path.join(fsdir, "part-00000.parquet"))
        return
    # one output file via repartition(1) — coalesce(1) over a local
    # relation hits a pathological ~4 s planning stall on Spark 4.1
    spark.createDataFrame(rows, schema).repartition(1).write.mode(
        "overwrite"
    ).format(format).save(path)


def _read_small_relation(spark, path: str, format: str):
    """Rows of a bounded sidecar relation as a list of dicts. Local
    parquet sidecars are read by the driver (~2 ms vs ~200 ms for a
    ``spark.read → collect`` job); everything else goes through Spark.
    Absence raises ``AnalysisException`` either way — the signal every
    call site already distinguishes from corruption."""
    fsdir = _local_rel_dir(path, format, spark)
    if fsdir is not None:
        import glob
        import os

        files = (
            sorted(glob.glob(os.path.join(fsdir, "*.parquet")))
            if os.path.isdir(fsdir)
            else []
        )
        if not files:
            from pyspark.errors import AnalysisException

            raise AnalysisException(
                f"[PATH_NOT_FOUND] Path does not exist: {path}"
            )
        import pyarrow.parquet as paq

        out = []
        for f in files:
            out.extend(paq.read_table(f).to_pylist())
        return out
    return [
        r.asDict() for r in spark.read.format(format).load(path).collect()
    ]


def _folded_json_array_sql(arr) -> str:
    """A (possibly nested) double-array constant as ONE analysis node:
    ``from_json`` over a single string literal, constant-folded to the
    array before execution — instead of an ``array(array(...))`` literal
    tree whose m·c·dsub nodes cost ~1 s of ANALYSIS per query
    construction (measured: PQ reconstruct construction+run 1.41 s →
    0.24 s, identical output). Doubles round-trip exactly (Python repr
    shortest-form → ``Double.parseDouble``). MUST sit in a top-level
    expression position — ConstantFolding does not descend into
    higher-order-function lambdas, and an unfolded ``from_json`` would
    re-parse the JSON per row."""
    import json as _json

    import numpy as np

    a = np.asarray(arr, dtype=float)
    typ = "double"
    for _ in range(a.ndim):
        typ = f"array<{typ}>"
    js = _json.dumps(a.tolist(), separators=(",", ":"))
    return f"from_json('{js}', '{typ}')"


def cosine_expr(a: str, b: str) -> Column:
    """Dot product of two (unit-normalized) float-array columns, computed in
    double precision JVM-side. For unit vectors this IS the cosine."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
        f"0D, (acc, v) -> acc + v)"
    )


def unit_normalize(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """L2-normalize an array<float> column (kept as array<double>).

    The norm is bound ONCE per row as a lambda variable (the
    ``element_at(transform(array(X), n -> ...), 1)`` single-bind
    discipline): the earlier ``withColumn("_norm", ...)`` formulation let
    CollapseProject inline the whole O(d) norm aggregate into the
    per-element division lambda — O(d²) per row, measured ~0.25 ms/row
    (992 ms → 228 ms over a 2 000×64 corpus; bit-identical output)."""
    sq = (
        f"sqrt(aggregate(transform({vec_col}, x -> cast(x as double) * cast(x as double)), "
        f"0D, (acc, v) -> acc + v))"
    )
    return df.withColumn(
        vec_col,
        F.expr(
            f"element_at(transform(array({sq}), n -> "
            f"transform({vec_col}, x -> cast(x as double) / n)), 1)"
        ),
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query (ties broken by corpus id ascending).

    The query side is broadcast — Spark plans BroadcastNestedLoopJoin, so
    the corpus is scanned exactly once with no shuffle; the only shuffled
    data is |queries| · |corpus| score rows pre-aggregated by the rank
    window's partial top-k (AQE coalesces the tiny result).
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(query_id), F.col(vec_col).alias("_qvec")
    )
    scored = corpus.select(F.col(corpus_id), F.col(vec_col)).crossJoin(
        F.broadcast(q)
    ).select(
        query_id,
        corpus_id,
        F.round(cosine_expr(vec_col, "_qvec"), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(corpus_id))
    return (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= k)
        .select(query_id, corpus_id, "cosine", F.col("r").cast("long").alias("r"))
    )


def _fit_centroids(X, k: int, max_iter: int, init: str, seed: int):
    """Seeded Lloyd's k-means on an in-memory sample (numpy, driver-side).

    ``init='random'`` draws k distinct rows; anything else runs seeded
    k-means++ (D² sampling). Empty clusters keep their previous centroid;
    ``np.argmin`` breaks assignment ties by lowest cell index, so the fit
    is bit-deterministic for a fixed sample and seed.
    """
    import numpy as np

    rng = np.random.RandomState(seed)
    if init == "random":
        centroids = X[rng.choice(len(X), size=k, replace=False)].copy()
    else:  # k-means++
        idx = [int(rng.randint(len(X)))]
        d2 = ((X - X[idx[0]]) ** 2).sum(axis=1)
        for _ in range(1, k):
            probs = d2 / d2.sum() if d2.sum() > 0 else None
            idx.append(int(rng.choice(len(X), p=probs)))
            d2 = np.minimum(d2, ((X - X[idx[-1]]) ** 2).sum(axis=1))
        centroids = X[idx].copy()
    prev_assign = None
    for _ in range(max_iter):
        # argmin over ||x||² − 2x·c + ||c||²; ||x||² is constant per row
        scores = -2.0 * (X @ centroids.T) + (centroids * centroids).sum(axis=1)[None, :]
        assign = np.argmin(scores, axis=1)
        if prev_assign is not None and (assign == prev_assign).all():
            break
        prev_assign = assign
        counts = np.bincount(assign, minlength=k)
        sums = np.zeros_like(centroids)
        np.add.at(sums, assign, X)
        nonempty = counts > 0
        centroids[nonempty] = sums[nonempty] / counts[nonempty, None]
    return centroids


def _collect_fit_sample(
    corpus: DataFrame,
    vec_col: str,
    seed: int,
    max_fit_rows: int,
    n_rows: int = None,
    order_col: str = None,
):
    """Driver-side bounded fit sample shared by :func:`fit_sampled_centroids`
    and :func:`fit_pq_codebooks` — the sampling discipline documented on
    fit_sampled_centroids (md5 per-row draw + sort when ``order_col``
    makes membership and order partition-independent; plain Bernoulli
    otherwise). Returns a float64 numpy matrix, never empty."""
    import numpy as np

    n = corpus.count() if n_rows is None else n_rows
    fit_df = corpus
    if n > max_fit_rows:
        # oversample 20% above the cap so draw variance can't starve
        # the fit, never above 1.0
        frac = min(1.0, 1.2 * max_fit_rows / n)
        if order_col is not None:
            # partition-independent membership: uniform in [0,1) from the
            # first 15 hex digits (60 bits) of md5(order_col, seed)
            draw = (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                "\x00",
                                F.col(order_col).cast("string"),
                                F.lit(str(seed)),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("double")
                / float(16**15)
            )
            fit_df = corpus.filter(draw < F.lit(frac))
        else:
            fit_df = corpus.sample(fraction=frac, seed=seed)
    if order_col is not None:
        # sort DRIVER-SIDE after the collect instead of a distributed
        # orderBy before it: the sample is bounded (≤ ~1.2·max_fit_rows),
        # so a stable numpy argsort reproduces the ascending order at a
        # fraction of the cost — the orderBy's range-partitioning sample
        # job + sort exchange measured 1.37 s vs 0.57 s for the plain
        # Arrow collect on the same relation (pure fixed overhead; the
        # matrix handed to the fit is identical)
        pdf = fit_df.select(order_col, vec_col).toPandas()
        if len(pdf) == 0:
            raise ValueError("empty corpus (no vectors to fit on)")
        order = np.argsort(pdf[order_col].to_numpy(), kind="stable")
        sample = pdf[vec_col].to_numpy()[order]
    else:
        sample = fit_df.select(vec_col).toPandas()[vec_col].to_numpy()
        if len(sample) == 0:
            raise ValueError("empty corpus (no vectors to fit on)")
    return np.stack(sample).astype(np.float64)


def fit_sampled_centroids(
    corpus: DataFrame,
    k: int,
    vec_col: str = "embedding",
    seed: int = 42,
    max_fit_rows: int = 100_000,
    max_iter: int = 20,
    init: str = "k-means++",
    n_rows: int = None,
    order_col: str = None,
    return_sample: bool = False,
) -> "np.ndarray":
    """Fit k-means centroids on a driver-side sample of an embedding
    column — the FAISS/ScaNN index-build shape: centroid quality needs a
    representative sample, not every vector, and a 100k × d sample is
    megabytes, so seeded numpy Lloyd's on the driver beats a distributed
    fit's per-iteration job-scheduling overhead by orders of magnitude.
    ``k`` is clamped to the sample size. Pass ``n_rows`` if the caller
    already counted the corpus (saves a job).

    ``order_col``: the fit indexes into the collected sample, so the
    centroids depend on sample MEMBERSHIP and ROW ORDER. With an
    ``order_col``, both are made partition-independent: membership is a
    deterministic per-row hash draw on ``(order_col, seed)`` (Bernoulli
    ``sample()`` draws per (seed, partition-index), so the sampled row
    SET would shift with partition layout exactly when n > max_fit_rows),
    and the surviving rows are sorted before collection. Result: the fit
    — and everything derived from the centroids — is deterministic under
    repartitioning at ANY corpus size. Without ``order_col`` the cheaper
    Bernoulli path is used and determinism holds only for
    n <= max_fit_rows (no sampling)."""
    X = _collect_fit_sample(
        corpus, vec_col, seed, max_fit_rows, n_rows, order_col
    )
    cent = _fit_centroids(X, min(k, len(X)), max_iter, init, seed)
    # return_sample hands the (bounded, already-collected) fit matrix back
    # so callers can derive driver-side estimates — e.g. per-cell load
    # projections — without a second distributed pass
    return (cent, X) if return_sample else cent


def assign_cells(
    corpus: DataFrame,
    centroids,
    vec_col: str = "embedding",
    cell_col: str = "_cell",
) -> DataFrame:
    """Distributed nearest-centroid assignment: appends ``cell_col``
    (int32 argmin cell, euclidean metric, ties to the lowest index) to the
    input's columns. One ``mapInPandas`` pass, one float64 GEMM per Arrow
    batch against the broadcast (k × d) centroid matrix — the shared
    distributed half of IVF indexing (:func:`ivf_topk`) and semantic
    dedup (:func:`~metaframe_spark.operators.dedup.semantic_dedup`).
    Deterministic for fixed centroids, so downstream results are
    reproducible on any partitioning."""
    import numpy as np
    from pyspark.sql.types import IntegerType, StructField, StructType

    spark = corpus.sparkSession
    b_cent = spark.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))
    schema = StructType(
        corpus.schema.fields + [StructField(cell_col, IntegerType())]
    )

    def _assign(batches):
        # executor-side: numpy/pandas only, self-contained
        import numpy as _np

        C = b_cent.value
        c2 = (C * C).sum(axis=1)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            B = _np.stack(pdf[vec_col].to_numpy()).astype(_np.float64)
            # argmin over ||x||² − 2x·c + ||c||²; ||x||² constant per row
            scores = -2.0 * (B @ C.T) + c2[None, :]
            out = pdf.copy()
            out[cell_col] = _np.argmin(scores, axis=1).astype(_np.int32)
            yield out

    return corpus.mapInPandas(_assign, schema=schema)


def write_ivf_index(spark, centroids, path: str, format: str = "parquet") -> int:
    """Persist an IVF centroid matrix as a tiny ``(cell int, centroid
    array<double>)`` relation — the index-build-once story
    :func:`ivf_topk` was missing: ``fit_sampled_centroids`` →
    ``write_ivf_index`` pays the k-means fit ONE time, and every later
    query batch reloads the few-KB relation
    (:func:`read_ivf_index` → ``ivf_topk(centroids=...)``) instead of
    re-counting and re-fitting the corpus per call — the same
    persistable-state pattern as the MinHash signature store and the
    sketch stores. Returns the number of lists written."""
    rows = [
        (int(i), [float(x) for x in c]) for i, c in enumerate(centroids)
    ]
    if not rows:
        raise ValueError("write_ivf_index: empty centroid matrix")
    d = len(rows[0][1])
    if any(len(v) != d for _, v in rows):
        raise ValueError("write_ivf_index: ragged centroid matrix")
    _write_small_relation(
        spark, rows, "cell int, centroid array<double>", path, format
    )
    return len(rows)


def read_ivf_index(spark, path: str, format: str = "parquet"):
    """Load a persisted IVF index back into the (k × d) numpy centroid
    matrix ``ivf_topk(centroids=...)`` / ``assign_cells`` take. Validates
    the relation is a well-formed index — contiguous cells 0..k-1, one
    row each, equal-length vectors — so a corrupted or non-index path
    fails loudly instead of silently mis-assigning every vector."""
    import numpy as np

    rows = _read_small_relation(spark, path, format)
    if not rows:
        raise ValueError(f"read_ivf_index: no rows at {path!r}")
    try:
        cells = sorted((int(r["cell"]), list(r["centroid"])) for r in rows)
    except (KeyError, TypeError) as e:
        raise ValueError(
            f"read_ivf_index: {path!r} is not an IVF index "
            f"(need cell int, centroid array<double>): {e}"
        )
    if [c for c, _ in cells] != list(range(len(cells))):
        raise ValueError(
            f"read_ivf_index: cells at {path!r} are not contiguous 0..k-1: "
            f"{[c for c, _ in cells]!r}"
        )
    d = len(cells[0][1])
    if any(len(v) != d or any(x is None for x in v) for _, v in cells):
        raise ValueError(f"read_ivf_index: ragged or NULL centroids at {path!r}")
    return np.asarray([v for _, v in cells], dtype=np.float64)


def ann_similarity_join(
    left: DataFrame,
    right: DataFrame,
    min_cosine: float = 0.8,
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    vec_col: str = "embedding",
    bucket_length: float = 0.5,
    num_hash_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate similarity join: pairs with cosine >= min_cosine.

    p-stable random-projection LSH (the same family as ``pyspark.ml``'s
    BucketedRandomProjectionLSH — cites `/root/reference` has no ANN op;
    this is the brief's scale path), reimplemented as plain DataFrame
    expressions: per hash table t, bucket = floor(v·p_t / bucket_length)
    with p_t a seeded unit gaussian; a pair is a candidate iff it shares
    a (table, bucket) cell. No ML Vector UDT conversion, no black-box
    per-candidate distance UDF — candidates come from an equi-join on the
    narrow (id, table, bucket) relation (never a copy of the vector per
    table), and survivors get the exact sequential-fold cosine from a
    join back to the vectors, bit-identical to a SQL engine's inner
    product.

    Vectors must be unit-normalized (use :func:`unit_normalize`) —
    cos >= t ⇔ ||a-b|| <= sqrt(2-2t), so bucket collision probability is
    monotone in cosine. Returns (id_l, id_r, cosine), cosine rounded 6.
    """
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    first = left.select(F.size(vec_col).alias("d")).first()
    if first is None:  # empty input: empty result, correct schema
        # derive id types from the inputs — hardcoding `long` would make
        # the empty path diverge from the non-empty path for string/other
        # id columns
        schema = StructType(
            [
                StructField("id_l", left.schema[left_id].dataType),
                StructField("id_r", right.schema[right_id].dataType),
                StructField("cosine", DoubleType()),
            ]
        )
        return left.sparkSession.createDataFrame([], schema)
    rng = np.random.RandomState(seed)
    projs = rng.normal(size=(num_hash_tables, int(first["d"])))
    projs /= np.linalg.norm(projs, axis=1, keepdims=True)
    bl = float(bucket_length)

    def bucket_keys(df: DataFrame, id_in: str, id_out: str) -> DataFrame:
        cells = ", ".join(
            f"floor(aggregate(zip_with({vec_col}, array("
            + ", ".join(repr(float(x)) for x in p)
            + f"), (x, y) -> cast(x as double) * y), 0D, (a, v) -> a + v) / {bl!r})"
            for p in projs
        )
        return df.select(
            F.col(id_in).alias(id_out),
            F.posexplode(F.expr(f"array({cells})")).alias("_t", "_b"),
        )

    lk = bucket_keys(left, left_id, "id_l").alias("lk")
    rk = bucket_keys(right, right_id, "id_r").alias("rk")
    cand = (
        lk.join(rk, (F.col("lk._t") == F.col("rk._t")) & (F.col("lk._b") == F.col("rk._b")))
        .select("id_l", "id_r")
        .dropDuplicates(["id_l", "id_r"])
    )
    lv = left.select(F.col(left_id).alias("id_l"), F.col(vec_col).alias("_vl"))
    rv = right.select(F.col(right_id).alias("id_r"), F.col(vec_col).alias("_vr"))
    return (
        cand.join(lv, "id_l")
        .join(rv, "id_r")
        .withColumn("_cos", cosine_expr("_vl", "_vr"))
        .filter(F.col("_cos") >= min_cosine)
        .select("id_l", "id_r", F.round("_cos", 6).alias("cosine"))
    )


def cosine_pairs_exact(
    corpus: DataFrame,
    min_cosine: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_broadcast_rows: int = 1_000_000,
    gemm_margin: float = 1e-4,
) -> DataFrame:
    """EXACT all-pairs cosine join: every (a, b) with a < b and
    round(cos, 6) >= ``min_cosine``.

    An exact join at a *low* threshold (pairs that are nearly orthogonal)
    is information-theoretically all-pairs — no LSH family separates
    cos 0.35 from cos 0.30 with recall 1.0, so a bucketed join either
    misses pairs or floods candidates until it IS all-pairs, paying LSH
    overhead on top (the previous formulation pushed ~all N² pairs
    through ``approxSimilarityJoin``'s per-candidate distance UDF). This
    operator embraces the N² honestly and spends it in BLAS:

    * the (id, vector) matrix is collected and broadcast ONCE —
      O(N·d) doubles, guarded by ``max_broadcast_rows`` (1M × 64d ≈
      0.5 GB; beyond that, raise the guard on a big-memory cluster or
      accept approximate recall via :func:`ann_similarity_join`);
    * ``mapInPandas`` streams the corpus in Arrow batches; each batch
      runs one float64 GEMM (batch × broadcastᵀ) — the N²·d multiplies
      happen inside BLAS at memory bandwidth, distributed across
      executors, with only O(batch) rows per task in flight;
    * the GEMM only nominates candidates (score >= threshold − margin −
      float noise); survivors are re-verified JVM-side with the same
      sequential ``zip_with`` fold every SQL engine uses for an inner
      product, so emitted cosines are bit-identical to an oracle's and
      the margin only costs a few extra verifications.

    Returns (id_a, id_b, cosine), id_a < id_b, cosine rounded to 6.
    """
    import numpy as np
    from pyspark.sql.types import (
        ByteType,
        DoubleType,
        IntegerType,
        LongType,
        ShortType,
        StructField,
        StructType,
    )

    # the GEMM path keys rows by int64 id inside numpy; anything else would
    # silently miscast (e.g. string ids) — fail loudly up front
    id_type = corpus.schema[id_col].dataType
    if not isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"cosine_pairs_exact: id column {id_col!r} has type "
            f"{id_type.simpleString()}; the GEMM candidate path requires an "
            "integral id (it carries ids as int64 through numpy). Project a "
            "surrogate id first, e.g. monotonically_increasing_id(), and "
            "join the original ids back on the result"
        )
    # guard BEFORE collecting: the count is a cheap distributed job, while
    # toPandas() on an over-cap corpus would OOM the driver before any
    # check could fire
    n = corpus.count()
    if n == 0:  # np.stack refuses an empty frame; empty in, empty out
        return corpus.sparkSession.createDataFrame(
            [],
            StructType(
                [
                    StructField("id_a", id_type),
                    StructField("id_b", id_type),
                    StructField("cosine", DoubleType()),
                ]
            ),
        )
    if n > max_broadcast_rows:
        raise ValueError(
            f"cosine_pairs_exact: corpus has {n} rows > max_broadcast_rows="
            f"{max_broadcast_rows}; exact all-pairs needs the O(N·d) factor "
            "broadcast. Raise the cap, or use ann_similarity_join for "
            "approximate recall at near-dup thresholds"
        )
    ids_mat = corpus.select(F.col(id_col), F.col(vec_col)).toPandas()
    all_ids = np.asarray(ids_mat[id_col].values, dtype=np.int64)
    mat = np.ascontiguousarray(
        np.stack(ids_mat[vec_col].to_numpy()).astype(np.float64)
    )
    spark = corpus.sparkSession
    b_ids = spark.sparkContext.broadcast(all_ids)
    b_mat = spark.sparkContext.broadcast(mat)
    cut = min_cosine - gemm_margin

    def _candidates(batches):
        # executor-side: numpy/pandas only, no library imports
        import pandas as pd

        M = b_mat.value
        I = b_ids.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            B = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            row_ids = pdf[id_col].to_numpy(dtype=np.int64)
            scores = B @ M.T
            keep = (scores >= cut) & (I[None, :] > row_ids[:, None])
            li, ri = np.nonzero(keep)
            yield pd.DataFrame({"id_a": row_ids[li], "id_b": I[ri]})

    cand = corpus.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        _candidates, schema="id_a long, id_b long"
    )
    ea = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    eb = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .select("id_a", "id_b", F.round(cosine_expr("_va", "_vb"), 6).alias("cosine"))
        .filter(F.col("cosine") >= min_cosine)
    )


def ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.0,
    bucket_length: float = 0.5,
    num_hash_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k neighbors per query via the LSH similarity join
    (bucketed candidates → exact cosine → rank window). Recall depends on
    num_hash_tables/bucket_length; verify with brute_force_topk on a sample.
    """
    from pyspark.sql import Window

    pairs = ann_similarity_join(
        corpus,
        queries,
        min_cosine=min_cosine,
        left_id=corpus_id,
        right_id=query_id,
        vec_col=vec_col,
        bucket_length=bucket_length,
        num_hash_tables=num_hash_tables,
        seed=seed,
    ).select(
        F.col("id_r").alias(query_id),
        F.col("id_l").alias(corpus_id),
        "cosine",
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(corpus_id))
    return (
        pairs.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= k)
        .select(query_id, corpus_id, "cosine", F.col("r").cast("long").alias("r"))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: "int | None" = None,
    n_probe: int = 4,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_fit_rows: int = 100_000,
    kmeans_max_iter: int = 20,
    kmeans_init: str = "k-means++",
    centroids=None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means partitions the corpus
    into ``n_lists`` cells; each query probes only its ``n_probe`` nearest
    cells, so the scan cost drops to ~n_probe/n_lists of brute force.

    ``centroids``: a pre-fit (k × d) matrix — typically
    :func:`read_ivf_index` on a store written once by
    ``fit_sampled_centroids`` + :func:`write_ivf_index` — skips the
    per-call corpus count and k-means fit entirely, so the index-build
    cost is paid once and amortized over every query batch;
    ``n_lists`` is then taken from the matrix (ANY explicit value that
    disagrees raises — the default is ``None``, not a number, precisely
    so an explicit 16 is distinguishable from "unset"). The pre-fit
    path never counts the corpus (that is its point), so an empty
    corpus returns an empty result there instead of raising as the fit
    path does. Results are exact-given-centroids either way: the cell
    layout only moves WHICH candidates are probed, never their cosine.

    Scale shape, index build: the centroids are FIT ON A SAMPLE capped at
    ``max_fit_rows`` — centroid quality needs a representative sample, not
    every vector — and the fit itself is seeded numpy Lloyd's ON THE
    DRIVER (a 100k × d sample is megabytes; a distributed fit would spend
    orders of magnitude more time in per-iteration job scheduling than in
    arithmetic, which is why FAISS/ScaNN train IVF indexes on a sample in
    one process too). Cell assignment of the FULL corpus is the
    distributed part: one ``mapInPandas`` pass, one float64 GEMM per
    Arrow batch against the broadcast (n_lists × d) centroid matrix.

    Probe: queries rank cells against the same broadcast centroids and
    equi-join on cell id — a hash join, never a full-corpus
    broadcast-nested-loop. Exact cosine is computed inside the probed
    cells, so precision is exact and only recall is approximate (raise
    ``n_probe`` to trade speed for recall; n_probe = n_lists probes every
    cell — exact brute force regardless of where the centroids landed).
    ``kmeans_max_iter`` bounds index-build cost; partition quality
    degrades gracefully (probing compensates).
    """
    import numpy as np
    from pyspark.sql import Window

    cfeats = corpus.select(F.col(corpus_id), vec_col)
    if centroids is not None:
        centroids = np.asarray(centroids, dtype=np.float64)
        if centroids.ndim != 2 or len(centroids) == 0:
            raise ValueError(
                f"ivf_topk: centroids must be a non-empty (k, d) matrix "
                f"(got shape {centroids.shape!r})"
            )
        if n_lists is not None and n_lists != len(centroids):
            raise ValueError(
                f"ivf_topk: n_lists={n_lists} conflicts with the "
                f"{len(centroids)}-list centroid matrix passed in"
            )
        n_lists = len(centroids)
    else:
        if n_lists is None:
            n_lists = 16
        n = cfeats.count()
        if n == 0:
            raise ValueError("ivf_topk: empty corpus")
        centroids = fit_sampled_centroids(
            cfeats, n_lists, vec_col=vec_col, seed=seed,
            max_fit_rows=max_fit_rows, max_iter=kmeans_max_iter,
            init=kmeans_init, n_rows=n, order_col=corpus_id,
        )
    indexed = assign_cells(cfeats, centroids, vec_col=vec_col)
    probed = _probe_cells(queries, centroids, query_id, vec_col, n_probe)
    return _topk_within_cells(probed, indexed, k, corpus_id, query_id, vec_col)


def _probe_cells(queries, centroids, query_id, vec_col, n_probe):
    """Rank every query against the broadcast (n_lists × d) centroid
    relation and keep its ``n_probe`` nearest cells — the shared probe
    half of :func:`ivf_topk` and :func:`ivf_topk_stored`. Cells are
    ranked by EUCLIDEAN distance — the same metric KMeans used to
    assign corpus vectors; ranking by dot product would mis-order cells
    whenever centroid norms differ (centroids are not unit-norm),
    missing even exact-duplicate neighbors."""
    from pyspark.sql import Window

    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    q = queries.select(F.col(query_id), F.col(vec_col).alias("_qvec"))
    if C.size <= 16384:
        # small centroid matrices ride the plan as an inlined
        # array-of-structs literal exploded with ``inline`` — same
        # (cell, centroid) rows as the broadcast relation, but the
        # ``createDataFrame`` + BroadcastExchange job pair disappears
        # (measured 1.20 s → 0.50 s per probe at 8×64). Bigger matrices
        # (e.g. 1024 lists × 768 dims) keep the broadcast relation: a
        # multi-MB literal bloats plan text and codegen instead.
        cells_sql = "array(" + ", ".join(
            f"named_struct('_cell', {i}, '_cvec', array("
            + ", ".join(f"{float(x)!r}D" for x in c)
            + "))"
            for i, c in enumerate(C)
        ) + ")"
        paired = q.select(
            F.col(query_id), "_qvec", F.expr(f"inline({cells_sql})")
        )
    else:
        spark = queries.sparkSession
        centers = [(i, [float(x) for x in c]) for i, c in enumerate(C)]
        cdf = spark.createDataFrame(centers, "_cell int, _cvec array<double>")
        paired = q.crossJoin(F.broadcast(cdf))
    sqdist = F.expr(
        "aggregate(zip_with(_qvec, _cvec, (x, y) -> (cast(x as double) - y) * "
        "(cast(x as double) - y)), 0D, (acc, v) -> acc + v)"
    )
    wq = Window.partitionBy(query_id).orderBy(F.asc("_cdist"), F.asc("_cell"))
    return (
        paired.withColumn("_cdist", sqdist)
        .withColumn("_cr", F.row_number().over(wq))
        .filter(F.col("_cr") <= n_probe)
        .select(query_id, "_qvec", "_cell")
    )


def _topk_within_cells(probed, indexed, k, corpus_id, query_id, vec_col):
    """Exact cosine inside the probed cells + per-query rank window —
    the shared verify half of the IVF paths. ``indexed`` must carry a
    ``_cell`` column aligned with the probe's centroid indices."""
    from pyspark.sql import Window

    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(corpus_id))
    return (
        probed.join(indexed, "_cell")
        .select(
            query_id,
            corpus_id,
            F.round(cosine_expr(vec_col, "_qvec"), 6).alias("cosine"),
        )
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= k)
        .select(query_id, corpus_id, "cosine", F.col("r").cast("long").alias("r"))
    )


def write_ivf_corpus(
    corpus: DataFrame,
    centroids,
    path: str,
    vec_col: str = "embedding",
    format: str = "parquet",
    quantize_bits: "int | None" = None,
    pq_codebooks=None,
) -> None:
    """Materialize the corpus CELL-PARTITIONED on disk — the serving
    layout that makes IVF probes cheap at 100 TB: one ``assign_cells``
    pass (Arrow-batched GEMM against the broadcast centroid matrix)
    writes every vector under its ``cell=N`` directory, so a later
    :func:`ivf_topk_stored` probe reads ONLY the probed cells' files
    (partition pruning at the scan — ~n_probe/n_lists of the bytes)
    instead of re-assigning the whole corpus per query batch, which is
    what :func:`ivf_topk` must do.

    The centroid index is co-persisted under ``{path}/_ivf_index`` —
    the underscore prefix hides it from the corpus scan's file index,
    and it travels WITH the layout it defines, so a probe can never
    pair the partitions with the wrong centroids (probing a layout
    with foreign centroids silently looks in the wrong cells;
    :func:`ivf_topk_stored` loads the co-persisted matrix by default
    and REJECTS a conflicting explicit one).

    ``quantize_bits`` stores SQ codes instead of the float vectors —
    the FAISS IVF-SQ layout: cells are assigned on the ORIGINAL floats
    (full assignment precision), the stored column becomes
    ``array<int>`` codes (8× smaller than float64 at 8 bits — at 100 TB
    that is the difference between the hot set fitting in page cache or
    not), and the per-dimension bounds co-persist under
    ``{path}/_sq_bounds`` so the probe can decode. The probe then ranks
    by the ASYMMETRIC score — float query × midpoint-reconstructed
    corpus vector — trading a bounded quantization error for the byte
    reduction (recall/ranking drift is bounded by half a code bin per
    dimension).

    ``pq_codebooks`` (a :func:`fit_pq_codebooks` array; mutually
    exclusive with ``quantize_bits``) stores PRODUCT-QUANTIZED codes
    instead — the FAISS IVFPQ layout, the standard billion-scale
    serving configuration: cells are still assigned on the original
    floats, the stored column becomes ``array<int>`` of m codes (m ints
    vs d floats — 128× smaller at 4×16 over 64 dims, far past what SQ
    reaches), and the codebooks co-persist under
    ``{path}/_pq_codebooks`` so :func:`ivf_topk_stored` can reconstruct
    for the asymmetric ADC ranking inside the probed cells. Codes
    quantize the RAW vectors, not the per-cell residuals (FAISS's
    ``by_residual=false`` configuration): raw coding keeps the code
    space independent of the IVF centroids — one codebook serves any
    cell layout, appends never depend on assignment, and the decode is
    oracle-replayable; residual coding buys extra precision per bit at
    the cost of coupling every code to its cell's centroid, a trade to
    revisit only if the recall budget demands it."""
    if quantize_bits is not None and pq_codebooks is not None:
        raise ValueError(
            "write_ivf_corpus: quantize_bits and pq_codebooks are mutually "
            "exclusive (one stored code space per layout)"
        )
    assigned = assign_cells(corpus, centroids, vec_col=vec_col, cell_col="cell")
    spark = corpus.sparkSession
    if quantize_bits is not None:
        # bounds from the RAW corpus (column-pruned scan) so the stats
        # pass does not pull a second GEMM through assign_cells
        mins, spans = _sq_bounds(corpus, vec_col)
        assigned = assigned.withColumn(
            vec_col, _sq_encode_expr(vec_col, mins, spans, quantize_bits)
        )
    if pq_codebooks is not None:
        assigned = assigned.withColumn(
            vec_col, _pq_encode_expr(vec_col, pq_codebooks)
        )
    assigned.write.mode("overwrite").partitionBy("cell").format(format).save(
        path
    )
    if pq_codebooks is not None:
        _write_pq_codebooks(
            spark, pq_codebooks, path.rstrip("/") + "/_pq_codebooks", format
        )
    if quantize_bits is not None:
        _write_small_relation(
            spark,
            [
                (i, float(m), float(s), int(quantize_bits))
                for i, (m, s) in enumerate(zip(mins, spans))
            ],
            "pos int, mn double, span double, n_bits int",
            path.rstrip("/") + "/_sq_bounds",
            format,
        )
    write_ivf_index(
        spark,
        centroids,
        path.rstrip("/") + "/_ivf_index",
        format=format,
    )


def append_ivf_corpus(
    spark,
    corpus_path: str,
    new_corpus: DataFrame,
    vec_col: str = "embedding",
    format: str = "parquet",
) -> None:
    """Append new vectors to a :func:`write_ivf_corpus` layout — the
    FAISS ``add()`` analogue a continuously-ingesting 100 TB serving
    store needs: assigning a delta batch with the STORED centroids and
    appending per-cell files costs one Arrow GEMM pass over the delta
    plus an append write of just the touched cells, versus
    re-assigning and rewriting the entire corpus (the only option the
    write-once layout offered).

    Invariants the append preserves, loudly:

    * **The stored index is the only index.** Cells are assigned with
      the co-persisted ``{path}/_ivf_index`` matrix — there is no
      ``centroids=`` parameter, so a foreign matrix can never split
      the layout into two incompatible cell spaces. A path without a
      readable co-persisted index is refused (layouts written without
      one must be rewritten once via :func:`write_ivf_corpus`).
    * **Stored bounds, never refit.** A quantized layout
      (``write_ivf_corpus(quantize_bits=...)``) encodes the delta with
      the STORED ``{path}/_sq_bounds`` — refitting bounds on the union
      would silently re-code nothing yet decode EVERYTHING differently,
      corrupting every existing vector's reconstruction. Delta values
      outside the stored range clamp to the edge codes, the standard
      SQ behavior for out-of-sample points.
    * **Schema and dimension pinned.** The delta's columns must match
      the stored data columns exactly and every delta vector's length
      must equal the index dimension — checked by a codegen
      ``assert_true`` that rides the assignment scan (no extra pass),
      so a ragged or transposed batch fails instead of GEMM-ing
      garbage.

    After the append, :func:`ivf_topk_stored` probes the union — with
    ``n_probe = n_lists`` the result is pair-for-pair the exact
    brute-force top-k over the unioned corpus (the ``llm_ivf_append``
    oracle proves this hash-exactly), and at partial probe the recall
    story is unchanged because the cell space is unchanged."""
    assigned = _prepare_ivf_delta(spark, corpus_path, new_corpus, vec_col, format)
    assigned.write.mode("append").partitionBy("cell").format(format).save(
        corpus_path
    )


def _prepare_ivf_delta(
    spark,
    corpus_path: str,
    new_corpus: DataFrame,
    vec_col: str = "embedding",
    format: str = "parquet",
    cells: Optional[DataFrame] = None,
    cells_on: Optional[str] = None,
) -> DataFrame:
    """The validated, cell-assigned (and stored-bounds-encoded, for
    quantized layouts) delta relation behind :func:`append_ivf_corpus` —
    shared with the streaming maintainers
    (:func:`~metaframe_spark.streaming.stream_ivf_append`), which stage
    the same relation and move files instead of a direct append so
    replays stay exactly-once.

    ``cells``/``cells_on`` is the internal assignment-reuse fast path: a
    caller that ALREADY paid the assignment GEMM against THIS layout's
    co-persisted centroids (e.g.
    ``stream_semantic_dedup``, whose dup-check assigns the whole batch)
    passes the (``cells_on``, ``_cell``) relation and the delta joins it
    instead of re-running ``assign_cells`` over the survivors. Every
    validation (schema, types, dimension guard, stored-bounds encode)
    still applies — only the redundant GEMM is skipped. The caller is
    responsible for the relation having been assigned with the SAME
    index this path would load."""
    index_path = corpus_path.rstrip("/") + "/_ivf_index"
    try:
        centroids = read_ivf_index(spark, index_path, format=format)
    except ValueError:
        raise  # corrupt index: read_ivf_index's message says what's wrong
    except Exception:
        raise ValueError(
            f"append_ivf_corpus: no readable IVF index at {index_path!r} — "
            "appending without the layout's own centroids would assign new "
            "vectors into a different cell space; rewrite the layout once "
            "with write_ivf_corpus to co-persist its index"
        )
    existing = spark.read.format(format).load(corpus_path)
    want = sorted(c for c in existing.columns if c != "cell")
    got = sorted(new_corpus.columns)
    if got != want:
        raise ValueError(
            f"append_ivf_corpus: delta columns {got!r} do not match the "
            f"stored data columns {want!r} at {corpus_path!r}"
        )
    # types must match too — parquet append never validates against the
    # existing files, so a float delta into a double corpus (or vice
    # versa) would silently write a mixed-schema layout that breaks or
    # up-casts on read; the vector column is exempt when the layout is
    # quantized (the stored-bounds encode below converts it to the
    # stored code type)
    stored_types = dict(existing.dtypes)
    vec_is_coded = stored_types.get(vec_col, "").startswith(
        ("array<int", "array<smallint")
    )
    for c, t in new_corpus.dtypes:
        if c == vec_col and vec_is_coded:
            continue
        if stored_types[c] != t:
            raise ValueError(
                f"append_ivf_corpus: delta column {c!r} has type {t} but "
                f"the stored corpus has {stored_types[c]} — cast the delta "
                "to the stored schema (appended files must match exactly)"
            )
    d = int(centroids.shape[1])
    # dimension guard rides the assignment scan as codegen — no extra pass
    guarded = new_corpus.withColumn(
        vec_col,
        F.when(
            F.assert_true(
                F.size(F.col(vec_col)) == F.lit(d),
                F.lit(
                    f"append_ivf_corpus: delta vector dimension must be {d} "
                    f"to match the index at {index_path!r}"
                ),
            ).isNull(),
            F.col(vec_col),
        ),
    )
    if cells is not None:
        if not cells_on or cells_on not in new_corpus.columns:
            raise ValueError(
                "_prepare_ivf_delta: cells= requires cells_on naming a "
                f"delta column (got {cells_on!r})"
            )
        assigned = guarded.join(
            cells.select(
                F.col(cells_on), F.col("_cell").alias("cell")
            ),
            cells_on,
        )
    else:
        assigned = assign_cells(
            guarded, centroids, vec_col=vec_col, cell_col="cell"
        )
    bounds_path = corpus_path.rstrip("/") + "/_sq_bounds"
    try:
        bounds = _read_small_relation(spark, bounds_path, format)
    except Exception as e:
        if type(e).__name__ != "AnalysisException":
            raise  # a real read failure, not mere absence of the relation
        bounds = None
    # PQ layouts: encode the delta with the STORED codebooks — refitting
    # on the union would re-code nothing yet decode everything
    # differently, the same corruption the stored-bounds rule prevents
    pq_path = corpus_path.rstrip("/") + "/_pq_codebooks"
    try:
        pq_cb = _read_pq_codebooks(spark, pq_path, format)
    except ValueError:
        raise  # corrupt codebooks: fail loudly, never encode against them
    except Exception as e:
        if type(e).__name__ != "AnalysisException":
            raise
        pq_cb = None
    if bounds and pq_cb is not None:
        raise ValueError(
            f"append_ivf_corpus: {corpus_path!r} carries BOTH _sq_bounds "
            "and _pq_codebooks — the stored code space is ambiguous"
        )
    vec_dtype = dict(existing.dtypes).get(vec_col, "")
    if pq_cb is not None:
        if pq_cb.shape[0] * pq_cb.shape[2] != d:
            raise ValueError(
                f"append_ivf_corpus: {pq_path!r} reconstructs "
                f"{pq_cb.shape[0] * pq_cb.shape[2]} dims but the index is "
                f"{d}-dimensional"
            )
        assigned = assigned.withColumn(
            vec_col, _pq_encode_expr(vec_col, pq_cb)
        )
    elif bounds:
        if len(bounds) != d:
            raise ValueError(
                f"append_ivf_corpus: {bounds_path!r} has {len(bounds)} "
                f"dimensions but the index is {d}-dimensional"
            )
        mins, spans = [0.0] * d, [1.0] * d
        for r in bounds:
            mins[r["pos"]], spans[r["pos"]] = r["mn"], r["span"]
        n_bits = {int(r["n_bits"]) for r in bounds}
        if len(n_bits) != 1:
            raise ValueError(
                f"append_ivf_corpus: inconsistent n_bits in {bounds_path!r}"
            )
        # encode with the STORED bounds; the encode's least(..., top_code)
        # clamps high overshoot, greatest(..., 0) clamps low overshoot —
        # out-of-sample deltas land on the edge codes instead of escaping
        # the code range the decode expects
        enc = _sq_encode_expr(vec_col, mins, spans, n_bits.pop())
        assigned = assigned.withColumn(
            vec_col, F.transform(enc, lambda c: F.greatest(c, F.lit(0)))
        )
    elif vec_dtype.startswith("array<int") or vec_dtype.startswith(
        "array<smallint"
    ):
        raise ValueError(
            f"append_ivf_corpus: {corpus_path!r} stores quantized codes "
            f"({vec_dtype}) but no readable {bounds_path!r} — appending "
            "float vectors would mix code and float spaces; restore the "
            "bounds relation or rewrite the layout"
        )
    return assigned


def delete_from_ivf_corpus(
    spark,
    corpus_path: str,
    ids,
    id_col: str = "vec_id",
    format: str = "parquet",
) -> int:
    """Targeted vector deletion from a :func:`write_ivf_corpus` layout —
    the right-to-be-forgotten path a 100 TB serving store needs: only the
    cells that actually CONTAIN deleted ids are rewritten (dynamic
    partition overwrite), every other cell's files are untouched bytes,
    and the co-persisted ``_ivf_index``/``_sq_bounds`` sidecars are never
    touched (deletion does not change the cell space or the code space —
    quantized corpora keep their exact codes). Completes the corpus
    lifecycle: build → append/stream → compact → DELETE.

    ``ids`` is a DataFrame carrying ``id_col`` (extra columns ignored).
    Returns the number of corpus rows deleted. Plan shape: one semi-join
    counts the victims and collects the ≤ n_lists affected cell ids
    (bounded driver read, the ``ivf_topk_stored`` contract), one
    anti-join rewrites ONLY those cells' surviving rows via dynamic
    partition overwrite, and cells left EMPTY by the deletion — which
    dynamic overwrite would silently skip, leaving the victims alive —
    are removed explicitly afterwards. Re-running after a crash is
    idempotent (deleting already-gone ids is a no-op) — with the one
    honest caveat of any non-transactional dynamic overwrite: a crash in
    the narrow commit window (old partition files removed, staged
    replacements not yet promoted) can lose an AFFECTED cell's
    surviving rows, and a concurrent reader mid-rewrite can observe a
    cell's old or new version per file. For irreplaceable corpora run
    deletes against a snapshot copy and atomic-rename it in (the same
    promote discipline as ``compact_ivf_corpus``); a transactional table
    format is the at-scale answer when deletes are frequent."""
    # the index is the layout's identity — refuse paths that are not a
    # write_ivf_corpus layout instead of blind-rewriting parquet dirs
    read_ivf_index(spark, corpus_path.rstrip("/") + "/_ivf_index", format=format)
    root = corpus_path.rstrip("/")
    corpus = spark.read.format(format).load(corpus_path)
    if id_col not in corpus.columns:
        raise ValueError(
            f"delete_from_ivf_corpus: id column {id_col!r} not in the "
            f"corpus (columns: {corpus.columns!r})"
        )
    victims = ids.select(id_col).distinct()
    hit = corpus.join(victims, id_col, "leftsemi")
    # one pass over the (pruned-by-nothing, but column-pruned) corpus:
    # victim count + the affected cells, both tiny
    stats = hit.groupBy("cell").agg(F.count(F.lit(1)).alias("_n")).collect()
    n_deleted = int(sum(r["_n"] for r in stats))
    if n_deleted == 0:
        return 0
    cells = sorted(int(r["cell"]) for r in stats)
    remaining = (
        corpus.filter(F.col("cell").isin(cells))
        .join(victims, id_col, "left_anti")
    )
    # cells every one of whose rows is a victim emit NOTHING, and dynamic
    # overwrite silently skips absent partitions (the victims would
    # survive) — find them up front so their dirs can be dropped after
    surviving_cells = {
        int(r["cell"]) for r in remaining.select("cell").distinct().collect()
    }
    # dynamic overwrite replaces exactly the partitions PRESENT in the
    # output — untouched cells' files are never rewritten
    (
        remaining.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell")
        .format(format)
        .save(corpus_path)
    )
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    P = jvm.org.apache.hadoop.fs.Path
    fs = P(root).getFileSystem(conf)
    for c in cells:
        if c not in surviving_cells:
            fs.delete(P(f"{root}/cell={c}"), True)
    # invariant: one pruned re-scan proves every victim is gone — cheap
    # insurance against a silently-skipped partition
    left = (
        spark.read.format(format)
        .load(corpus_path)
        .filter(F.col("cell").isin(cells))
        .join(victims, id_col, "leftsemi")
        .count()
    )
    if left:
        raise RuntimeError(
            f"delete_from_ivf_corpus: {left} victim rows still present "
            "after the rewrite — the layout may be mid-crash; re-run the "
            "delete (it is idempotent)"
        )
    return n_deleted


def compact_ivf_corpus(
    spark,
    corpus_path: str,
    dest_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    format: str = "parquet",
) -> None:
    """Rewrite a :func:`write_ivf_corpus` layout with per-cell file counts
    sized to ``target_file_bytes`` — the maintenance pass the ingest
    lifecycle needs: every :func:`append_ivf_corpus` /
    :func:`~metaframe_spark.streaming.stream_ivf_append` batch adds at
    least one file per touched cell, so a corpus ingesting thousands of
    micro-batches accretes thousands of small files per cell and every
    probe pays a task + footer read per file. Compaction re-reads the
    layout (cells are ALREADY assigned — no GEMM, no re-encode; the
    vector column is copied verbatim, so quantized codes stay
    bit-identical) and rewrites it cell-partitioned with
    ``ceil(cell_bytes_total / target)`` output tasks, then copies the
    ``_ivf_index`` and (if present) ``_sq_bounds`` / ``_pq_codebooks``
    sidecars so the new layout is self-contained. Probes against the compacted path are
    pair-for-pair identical to the source (pinned in tests).

    Writes to a NEW path (same contract and same overlap guard as
    ``compact_sketch_store``) — promote with an atomic rename. Ingest
    bookkeeping (``_ingest_marks``) is NOT copied: the compacted layout
    is a fresh corpus, and a streaming maintainer pointed at it must use
    a fresh checkpoint (same one-store-one-checkpoint contract as the
    sketch stores)."""
    norm_src = corpus_path.rstrip("/")
    norm_dest = dest_path.rstrip("/")
    if (
        norm_dest == norm_src
        or norm_dest.startswith(norm_src + "/")
        or norm_src.startswith(norm_dest + "/")
    ):
        raise ValueError(
            f"compact_ivf_corpus: dest_path {dest_path!r} overlaps "
            f"corpus_path {corpus_path!r}; the overwrite would delete the "
            "layout being read — write to a NEW path and atomic-rename"
        )
    # the co-persisted index is the layout's identity — refuse a path
    # without one rather than emit a compacted layout nothing can probe
    index = read_ivf_index(
        spark, norm_src + "/_ivf_index", format=format
    )
    import math

    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    P = jvm.org.apache.hadoop.fs.Path
    fs = P(norm_src).getFileSystem(conf)
    total = 0
    cells = set()
    prefix_len = len(P(norm_src).toUri().getPath().rstrip("/")) + 1
    it = fs.listFiles(P(norm_src), True)
    while it.hasNext():
        st = it.next()
        rel = st.getPath().toUri().getPath()[prefix_len:]
        # only corpus data files count: directly under a top-level cell=N
        # dir, no underscore/dot segment anywhere (sidecars, ingest marks,
        # AND leftover _ingest_staging_*/cell=N files — whose parent is
        # also named cell=N — must not inflate the byte total)
        segs = rel.split("/")
        if (
            len(segs) == 2
            and segs[0].startswith("cell=")
            and not segs[1].startswith(("_", "."))
        ):
            total += st.getLen()
            cells.add(segs[0])
    n_cells = max(1, len(cells))
    # splits per cell so each output file lands near the target; parquet
    # files are row-group-splittable, so one-file-per-cell is the probe-
    # optimal floor and splitting only matters for truly oversized cells
    splits = max(1, math.ceil(total / float(n_cells * target_file_bytes)))
    df = spark.read.format(format).load(norm_src)
    data_cols = [c for c in df.columns if c != "cell"]
    # deterministic salt: every (cell, salt) bucket becomes exactly one
    # output file per cell directory — total files = n_cells × splits,
    # regardless of how many micro-batch fragments the source carried
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in data_cols]), F.lit(splits))
    )
    salted.repartition(
        n_cells * splits, F.col("cell"), F.col("_salt")
    ).drop("_salt").write.mode("error").partitionBy("cell").format(
        format
    ).save(norm_dest)
    write_ivf_index(spark, index, norm_dest + "/_ivf_index", format=format)
    # every quantizer sidecar travels with the codes it defines — a
    # compacted SQ/PQ layout without its bounds/codebooks would read its
    # int codes as floats (the fsck ambiguity rule exists for exactly
    # this class of half-copied layout)
    for sidecar in ("_sq_bounds", "_pq_codebooks"):
        src_dir = _local_rel_dir(f"{norm_src}/{sidecar}", format, spark)
        dest_dir = _local_rel_dir(f"{norm_dest}/{sidecar}", format, spark)
        if src_dir is not None and dest_dir is not None:
            # local parquet sidecars: a verbatim driver-side file copy —
            # byte-identical relation, no Spark job (the write mode was
            # "error": refuse an existing destination the same way)
            import glob
            import os
            import shutil

            files = (
                sorted(glob.glob(os.path.join(src_dir, "*.parquet")))
                if os.path.isdir(src_dir)
                else []
            )
            if not files:
                continue
            if os.path.exists(dest_dir):
                raise ValueError(
                    f"compact_ivf_corpus: {dest_dir!r} already exists"
                )
            os.makedirs(dest_dir)
            for f in files:
                shutil.copy(f, os.path.join(dest_dir, os.path.basename(f)))
            continue
        try:
            rel = spark.read.format(format).load(f"{norm_src}/{sidecar}")
        except Exception as e:
            if type(e).__name__ != "AnalysisException":
                raise
            rel = None
        if rel is not None:
            rel.repartition(1).write.mode("error").format(format).save(
                f"{norm_dest}/{sidecar}"
            )


def ivf_topk_stored(
    spark,
    corpus_path: str,
    queries: DataFrame,
    centroids=None,
    k: int = 5,
    n_probe: int = 4,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
    format: str = "parquet",
) -> DataFrame:
    """IVF top-k against a :func:`write_ivf_corpus` layout: the query
    batch ranks cells against the (tiny, typically
    :func:`read_ivf_index`-loaded) centroid matrix, the union of probed
    cell ids — AT MOST ``n_lists`` values, independent of query count —
    is collected and pushed as a PARTITION FILTER on the corpus scan,
    and exact cosine + the rank window run inside the surviving cells.
    The scan therefore reads only the probed partitions' files
    (pinned by ``PartitionFilters``/file-count assertions in
    tests/test_llm_ops.py) — the static-pruning guarantee a plain
    equi-join would only get if dynamic partition pruning happened to
    fire. Results are pair-for-pair identical to
    ``ivf_topk(centroids=...)`` on the same centroids; at
    n_probe = n_lists it is exact brute force reading every cell.

    ``centroids=None`` (the default) loads the matrix co-persisted by
    :func:`write_ivf_corpus` under ``{corpus_path}/_ivf_index`` —
    guaranteed to be the matrix that defined the cell layout. An
    explicit matrix is checked against the co-persisted one when it
    exists: a mismatch means the caller is probing this layout with a
    FOREIGN index (every lookup would silently land in wrong cells)
    and raises instead."""
    import numpy as np

    index_path = corpus_path.rstrip("/") + "/_ivf_index"
    if centroids is None:
        centroids = read_ivf_index(spark, index_path, format=format)
    else:
        centroids = np.asarray(centroids, dtype=np.float64)
        try:
            stored = read_ivf_index(spark, index_path, format=format)
        except ValueError:
            raise  # a CORRUPT co-persisted index is an error, not absence
        except Exception:
            stored = None  # a layout written without a co-persisted index
        if stored is not None and (
            stored.shape != centroids.shape
            or not np.allclose(stored, centroids)
        ):
            raise ValueError(
                "ivf_topk_stored: the centroids passed in differ from the "
                f"index co-persisted with the layout at {corpus_path!r} — "
                "probing with a foreign index reads the wrong cells"
            )
    # the probe feeds BOTH the driver-side distinct-cell collect and the
    # final join — persist it so the queries × centroids ranking runs once
    probed = _probe_cells(
        queries, centroids, query_id, vec_col, n_probe
    ).persist()
    # bounded driver read: the DISTINCT probed cells, <= n_lists ints
    cells = sorted(
        r["_cell"] for r in probed.select("_cell").distinct().collect()
    )
    indexed = (
        spark.read.format(format)
        .load(corpus_path)
        .filter(F.col("cell").isin(cells))
        .select(F.col(corpus_id), vec_col, F.col("cell").alias("_cell"))
    )
    # a quantized layout (write_ivf_corpus(quantize_bits=...)) carries its
    # per-dimension bounds — decode to midpoint reconstructions so the rank
    # score is the asymmetric float-query × reconstructed-corpus product
    bounds_path = corpus_path.rstrip("/") + "/_sq_bounds"
    try:
        bounds = _read_small_relation(spark, bounds_path, format)
    except Exception as e:
        if type(e).__name__ != "AnalysisException":
            raise  # a real read failure, not mere absence of the relation
        bounds = None
    # a PQ layout (write_ivf_corpus(pq_codebooks=...)) carries its
    # codebooks — reconstruct codes to centroid concatenations (the ADC
    # decode) before the same asymmetric ranking
    pq_path = corpus_path.rstrip("/") + "/_pq_codebooks"
    try:
        pq_cb = _read_pq_codebooks(spark, pq_path, format)
    except ValueError:
        raise  # a CORRUPT codebook relation is an error, not absence
    except Exception as e:
        if type(e).__name__ != "AnalysisException":
            raise
        pq_cb = None
    if bounds and pq_cb is not None:
        raise ValueError(
            f"ivf_topk_stored: {corpus_path!r} carries BOTH _sq_bounds and "
            "_pq_codebooks — the stored code space is ambiguous; remove the "
            "sidecar that does not match how the codes were written"
        )
    vec_dtype = dict(indexed.dtypes).get(vec_col, "")
    if pq_cb is not None:
        indexed = indexed.withColumn(
            vec_col, pq_reconstruct_expr(vec_col, pq_cb)
        )
    elif bounds:
        d = len(bounds)
        mins, spans = [0.0] * d, [1.0] * d
        for r in bounds:
            mins[r["pos"]], spans[r["pos"]] = r["mn"], r["span"]
        n_bits = {int(r["n_bits"]) for r in bounds}
        if len(n_bits) != 1:
            raise ValueError(
                f"ivf_topk_stored: inconsistent n_bits in {bounds_path!r}"
            )
        indexed = indexed.withColumn(
            vec_col, dequantize_expr(vec_col, mins, spans, n_bits.pop())
        )
    elif vec_dtype.startswith("array<int") or vec_dtype.startswith(
        "array<smallint"
    ):
        # integer codes with no readable bounds: ranking raw codes as if
        # they were vectors returns plausible-looking WRONG neighbors —
        # refuse instead (crash between corpus and bounds writes, deleted
        # sidecar, wrong path)
        raise ValueError(
            f"ivf_topk_stored: {corpus_path!r} stores quantized codes "
            f"({vec_dtype}) but no readable {bounds_path!r} — rewrite the "
            "layout or restore the bounds relation"
        )
    return _topk_within_cells(probed, indexed, k, corpus_id, query_id, vec_col)


def scalar_quantize(
    df: DataFrame,
    vec_col: str = "embedding",
    n_bits: int = 8,
    return_bounds: bool = False,
):
    """Per-dimension scalar quantization (SQ8 for ``n_bits=8``) — the
    standard memory lever for planet-scale ANN: a float32 corpus shrinks
    4× (float64: 8×) while IVF/LSH recall degrades only marginally.
    Replaces ``vec_col`` with ``array<int>`` codes in
    [0, 2^n_bits - 1]; dimension i maps x to
    ``floor((x - min_i) / span_i * 2^n_bits)`` clamped to the top code
    (constant dimensions get span 1, so they encode to 0).

    Two-pass distributed shape: pass 1 reduces per-dimension min/max via
    posexplode + partial-aggregated groupBy (shuffles exactly d rows);
    the d-element bounds ride into pass 2 as array LITERALS inside a
    codegen ``transform``, so encoding is one scan with no join, no
    Python, and no second shuffle. Arithmetic is plain IEEE divide +
    floor — bit-identical across engines, so the codes are
    oracle-checkable.
    """
    mins, spans = _sq_bounds(df, vec_col)
    out = df.withColumn(
        vec_col, _sq_encode_expr(vec_col, mins, spans, n_bits)
    )
    # return_bounds hands back the per-dimension (mins, spans) the codes
    # were built with — required to DECODE (dequantize_expr) or to persist
    # the bounds alongside a quantized store (write_ivf_corpus)
    return (out, mins, spans) if return_bounds else out


def _sq_bounds(df: DataFrame, vec_col: str):
    """Per-dimension (mins, spans) of an embedding column: posexplode +
    partial-aggregated groupBy — shuffles exactly d rows; constant
    dimensions get span 1 so they encode to 0."""
    stats = (
        df.select(F.posexplode(vec_col).alias("_pos", "_v"))
        .groupBy("_pos")
        .agg(
            F.min(F.col("_v").cast("double")).alias("_mn"),
            F.max(F.col("_v").cast("double")).alias("_mx"),
        )
        .collect()
    )
    mins = [0.0] * len(stats)
    spans = [1.0] * len(stats)
    for r in stats:
        mins[r["_pos"]] = r["_mn"]
        spans[r["_pos"]] = (r["_mx"] - r["_mn"]) if r["_mx"] > r["_mn"] else 1.0
    return mins, spans


def _sq_encode_expr(vec_col: str, mins, spans, n_bits: int) -> Column:
    """The SQ encode: ``least(floor((x - min) / span * 2^bits), 2^bits-1)``
    per dimension, bounds inlined as array literals (codegen, no join)."""
    levels = (1 << n_bits) - 1
    mins_sql = "array(" + ", ".join(f"{float(m)!r}D" for m in mins) + ")"
    spans_sql = "array(" + ", ".join(f"{float(s)!r}D" for s in spans) + ")"
    return F.expr(
        f"transform({vec_col}, (x, i) -> cast(least(floor("
        f"(cast(x as double) - element_at({mins_sql}, i + 1)) / "
        f"element_at({spans_sql}, i + 1) * {levels + 1}), {levels}L) as int))"
    )


def dequantize_expr(vec_col: str, mins, spans, n_bits: int = 8) -> Column:
    """Midpoint reconstruction of :func:`scalar_quantize` codes:
    ``mins[i] + (code + 0.5) * spans[i] / 2^n_bits`` per dimension — the
    standard SQ decode (the midpoint halves the worst-case error of the
    bin's left edge). Bounds are inlined as array LITERALS, so decoding
    is one codegen ``transform`` with no join and no Python; the
    arithmetic is plain IEEE multiply/divide/add, bit-identical across
    engines, which is what lets the llm_ivf_sq oracle recompute the
    same reconstruction."""
    mins_sql = "array(" + ", ".join(f"{float(m)!r}D" for m in mins) + ")"
    spans_sql = "array(" + ", ".join(f"{float(s)!r}D" for s in spans) + ")"
    return F.expr(
        f"transform({vec_col}, (c, i) -> element_at({mins_sql}, i + 1) + "
        f"(cast(c as double) + 0.5D) * element_at({spans_sql}, i + 1) "
        f"/ {1 << n_bits}D)"
    )


def validate_ivf_corpus(
    spark,
    corpus_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    format: str = "parquet",
    deep: bool = False,
) -> "DataFrame":
    """Layout fsck for a :func:`write_ivf_corpus` serving corpus — the
    VERIFY step completing the lifecycle (build → append/stream →
    compact → delete → verify): one row per invariant with
    ``(check, ok, detail)``, so an operator can gate a deploy or a
    scheduled job can alert on a store that an interrupted writer or a
    by-hand edit left inconsistent. Checks, in dependency order:

    * ``index_readable`` — ``{path}/_ivf_index`` loads and passes
      :func:`read_ivf_index`'s contiguity/raggedness validation;
    * ``cells_in_range`` — every data directory parses as ``cell=<int>``
      with the int inside [0, n_lists);
    * ``no_foreign_entries`` — nothing else lives at the root except the
      known sidecars (``_ivf_index``, ``_sq_bounds``, ``_ingest_marks``)
      and committer droppings (``_SUCCESS`` etc.);
    * ``no_staging_debris`` — no ``_ingest_staging_*`` dir is present: a
      crashed streaming commit leaves one as its tell, and the owning
      maintainer (stream_ivf_append / stream_semantic_dedup) should be
      re-run on its checkpoint to resume or roll back before the layout
      is trusted;
    * ``marks_well_formed`` — every ingest marker parses as
      ``batch-<int>``;
    * ``bounds_consistent`` — quantized layouts: ``_sq_bounds`` has
      exactly the index's dimension count and ONE n_bits; float
      layouts: no stray bounds relation (a bounds sidecar over a float
      corpus means a partial quantization rewrite);
    * with ``deep=True`` (pays one full scan) ``vectors_well_formed`` —
      every row's ``vec_col`` has the index's dimension and no NULL
      entries, ids are non-NULL, and quantized codes sit inside
      [0, 2^n_bits).

    Driver state is one listing of the root + the tiny index/bounds
    relations; the deep scan is a single partial-aggregated pass."""
    from ..streaming import _hadoop_fs

    fs, P = _hadoop_fs(spark, corpus_path)
    root = corpus_path.rstrip("/")
    results = []  # (check, ok, detail)

    n_lists, d = None, None
    try:
        centroids = read_ivf_index(
            spark, root + "/_ivf_index", format=format
        )
        n_lists, d = int(centroids.shape[0]), int(centroids.shape[1])
        results.append(
            ("index_readable", True, f"n_lists={n_lists} d={d}")
        )
    except Exception as e:
        results.append(("index_readable", False, str(e)[:300]))

    known_sidecars = {
        "_ivf_index",
        "_sq_bounds",
        "_pq_codebooks",
        "_ingest_marks",
    }
    bad_cells, foreign, staging = [], [], []
    cell_ids = []
    for st in fs.listStatus(P(root)):
        name = st.getPath().getName()
        if name.startswith("cell="):
            try:
                c = int(name[len("cell="):])
                cell_ids.append(c)
                if n_lists is not None and not 0 <= c < n_lists:
                    bad_cells.append(name)
            except ValueError:
                bad_cells.append(name)
        elif name.startswith("_ingest_staging_"):
            staging.append(name)
        elif name in known_sidecars or name == "_SUCCESS" or name.startswith(
            "."
        ):
            # the allowlist is exact: a stray `_ivf_index_old` or
            # `_sq_bounds.bak` must NOT ride the underscore convention
            # through; dot-files are committer crc
            # droppings
            continue
        else:
            foreign.append(name)
    results.append(
        (
            "cells_in_range",
            not bad_cells,
            f"{len(cell_ids)} cell dirs"
            + (f"; bad: {sorted(bad_cells)[:5]!r}" if bad_cells else ""),
        )
    )
    results.append(
        (
            "no_foreign_entries",
            not foreign,
            f"foreign: {sorted(foreign)[:5]!r}" if foreign else "clean",
        )
    )
    results.append(
        (
            "no_staging_debris",
            not staging,
            (
                f"crashed-commit staging present: {sorted(staging)[:5]!r} — "
                "re-run the owning maintainer on its checkpoint"
            )
            if staging
            else "clean",
        )
    )

    marks_dir = root + "/_ingest_marks"
    bad_marks = []
    if fs.exists(P(marks_dir)):
        for st in fs.listStatus(P(marks_dir)):
            name = st.getPath().getName()
            if name.startswith(("_", ".")):
                continue
            if not name.startswith("batch-"):
                bad_marks.append(name)
            else:
                try:
                    int(name[len("batch-"):])
                except ValueError:
                    bad_marks.append(name)
    results.append(
        (
            "marks_well_formed",
            not bad_marks,
            f"bad markers: {sorted(bad_marks)[:5]!r}" if bad_marks else "ok",
        )
    )

    n_bits = None
    pq_shape = None  # (m, c) when the layout is PQ-coded
    bounds_path = root + "/_sq_bounds"
    have_bounds = fs.exists(P(bounds_path))
    pq_path = root + "/_pq_codebooks"
    have_pq = fs.exists(P(pq_path))
    vec_dtype = ""
    try:
        scan = spark.read.format(format).load(root)
        vec_dtype = dict(scan.dtypes).get(vec_col, "")
    except Exception as e:
        scan = None
        results.append(("bounds_consistent", False, f"unreadable: {e}"[:300]))
    if scan is not None:
        quantized = vec_dtype.startswith(("array<int", "array<smallint"))
        if have_bounds and have_pq:
            results.append(
                (
                    "bounds_consistent",
                    False,
                    "BOTH _sq_bounds and _pq_codebooks present — the "
                    "stored code space is ambiguous",
                )
            )
        elif have_pq:
            try:
                cb = _read_pq_codebooks(spark, pq_path, format)
                m, c, dsub = cb.shape
                ok = quantized and (d is None or m * dsub == d)
                pq_shape = (m, c) if ok else None
                detail = (
                    f"pq {m}x{c} over {dsub}-dim slices, vec={vec_dtype}"
                    if ok
                    else f"pq reconstructs {m * dsub} dims (index d={d}), "
                    f"vec={vec_dtype or '<missing>'}"
                )
                results.append(("bounds_consistent", ok, detail))
            except Exception as e:
                results.append(("bounds_consistent", False, str(e)[:300]))
        elif have_bounds:
            try:
                rows = _read_small_relation(spark, bounds_path, format)
                bits = {int(r["n_bits"]) for r in rows}
                ok = (
                    (d is None or len(rows) == d)
                    and len(bits) == 1
                    and quantized
                )
                n_bits = bits.pop() if len(bits) == 1 else None
                detail = (
                    f"{len(rows)} dims, n_bits={n_bits}, vec={vec_dtype}"
                    if ok
                    else f"dims={len(rows)} (index d={d}), "
                    f"n_bits_set={sorted(bits) if bits else [n_bits]}, "
                    f"vec={vec_dtype or '<missing>'}"
                )
                results.append(("bounds_consistent", ok, detail))
            except Exception as e:
                results.append(("bounds_consistent", False, str(e)[:300]))
        else:
            results.append(
                (
                    "bounds_consistent",
                    not quantized,
                    "float layout, no bounds"
                    if not quantized
                    else f"quantized codes ({vec_dtype}) but no _sq_bounds",
                )
            )
        if deep:
            # PQ layouts store m codes per row, not d floats — the length
            # invariant follows the stored representation
            exp_len = pq_shape[0] if pq_shape is not None else d
            checks = [
                F.sum(
                    F.when(
                        F.col(id_col).isNull(), F.lit(1)
                    ).otherwise(F.lit(0))
                ).alias("null_ids"),
                F.sum(
                    F.when(
                        # isNull leads: size(NULL)/exists(NULL, ...) are
                        # NULL under ANSI, and when(NULL) falls to the
                        # otherwise-0 branch — a NULL vector would pass
                        # the very invariant it violates
                        F.col(vec_col).isNull()
                        | (F.size(F.col(vec_col)) != F.lit(exp_len))
                        | F.exists(F.col(vec_col), lambda x: x.isNull()),
                        F.lit(1),
                    ).otherwise(F.lit(0))
                ).alias("bad_vecs")
                if exp_len is not None
                else F.lit(None).cast("long").alias("bad_vecs"),
            ]
            hi = None
            if quantized and n_bits is not None:
                hi = (1 << n_bits) - 1
            elif quantized and pq_shape is not None:
                hi = pq_shape[1] - 1
            if hi is not None:
                checks.append(
                    F.sum(
                        F.when(
                            F.exists(
                                F.col(vec_col),
                                lambda c: (c < 0) | (c > F.lit(hi)),
                            ),
                            F.lit(1),
                        ).otherwise(F.lit(0))
                    ).alias("bad_codes")
                )
            agg = scan.agg(*checks).collect()[0]
            bad = {
                k: int(agg[k] or 0)
                for k in agg.asDict()
                if agg[k] is not None
            }
            results.append(
                (
                    "vectors_well_formed",
                    all(v == 0 for v in bad.values()),
                    str(bad),
                )
            )
    return spark.createDataFrame(
        results, "check string, ok boolean, detail string"
    )


def fit_pq_codebooks(
    corpus: DataFrame,
    m_subvectors: int = 4,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_fit_rows: int = 100_000,
    max_iter: int = 20,
    init: str = "k-means++",
    n_rows: int = None,
    order_col: str = None,
):
    """Train product-quantization codebooks (Jégou et al. 2011 — the
    FAISS ``PQ`` index family): the d-dim space splits into
    ``m_subvectors`` contiguous slices and each slice gets its own
    ``n_centroids``-entry k-means codebook, so a vector compresses to
    ``m`` small codes (4 bytes here vs 512 for float64×64 — 128×) while
    asymmetric distances stay far more faithful than one global
    quantizer: PQ's effective codebook is the CROSS PRODUCT
    ``n_centroids^m`` of the per-slice codebooks (16⁴ = 65536 regions
    from 64 trained centroids).

    Returns a numpy array shaped ``(m, n_centroids, d/m)`` — feed it to
    :func:`pq_encode` / :func:`pq_topk`. Same build economics as
    :func:`fit_sampled_centroids` (one bounded driver-side sample, the
    identical partition-independent ``order_col`` discipline, seeded
    Lloyd's per slice with ``seed + j``): the fit is deterministic and
    costs one sample collect no matter the corpus size, which is the
    production posture — codebooks are trained offline once and handed
    to the encode/serve stages, exactly like a BPE merges table.
    ``n_centroids`` is clamped to the sample size; d must divide evenly
    by ``m_subvectors``."""
    import numpy as np

    if m_subvectors < 1:
        raise ValueError("m_subvectors must be >= 1")
    if n_centroids < 1:
        raise ValueError("n_centroids must be >= 1")
    X = _collect_fit_sample(
        corpus, vec_col, seed, max_fit_rows, n_rows, order_col
    )
    d = X.shape[1]
    if d % m_subvectors:
        raise ValueError(
            f"vector dim {d} not divisible by m_subvectors {m_subvectors}"
        )
    dsub = d // m_subvectors
    k = min(n_centroids, len(X))
    return np.stack(
        [
            _fit_centroids(
                X[:, j * dsub : (j + 1) * dsub].copy(),
                k,
                max_iter,
                init,
                seed + j,
            )
            for j in range(m_subvectors)
        ]
    )


def pq_encode(
    df: DataFrame,
    codebooks,
    vec_col: str = "embedding",
    code_col: str = "pq_codes",
    keep_vec: bool = False,
) -> DataFrame:
    """Encode an embedding column to PQ codes: for each of the ``m``
    subvector slices, the 0-based index of the nearest codebook centroid
    by squared L2 (distances rounded to 6 decimals before the argmin,
    first-minimum tie-break — both deterministic and replayable by a SQL
    oracle). Appends ``code_col`` (``array<int>``, length m) and drops
    the float column unless ``keep_vec``.

    One scan, pure codegen: the codebooks ride into the plan as a nested
    array literal (m·c·d/m doubles — a few KB), each subvector's
    distance list binds ONCE as a lambda variable (the single-element
    ``transform`` wrapper — the winnow discipline — so argmin does not
    re-evaluate the c×dsub fold), and no join, shuffle, or Python
    touches the corpus. Cost is the inherent c×d multiply-adds per row
    — identical to what any PQ encoder pays."""
    out = df.withColumn(code_col, _pq_encode_expr(vec_col, codebooks))
    return out if keep_vec else out.drop(vec_col)


def _pq_encode_expr(vec_col: str, codebooks) -> Column:
    """The PQ encode as a single codegen expression — see
    :func:`pq_encode` for the contract; shared with
    :func:`write_ivf_corpus`'s PQ layout (which stores the codes under
    the vector column's own name)."""
    import numpy as np

    cb = np.asarray(codebooks, dtype=float)
    m, c, dsub = cb.shape
    codes = []
    for j in range(m):
        off = j * dsub
        dists = (
            f"transform(element_at(cball, {j + 1}), ct -> "
            f"round(aggregate(sequence(1, {dsub}), 0D, "
            f"(acc, i) -> acc + (cast(element_at(v, {off} + i) as double) "
            f"- element_at(ct, i)) * (cast(element_at(v, {off} + i) as double) "
            f"- element_at(ct, i)), acc -> acc), 6))"
        )
        codes.append(
            f"element_at(transform(array({dists}), ds -> "
            f"cast(array_position(ds, array_min(ds)) as int)), 1) - 1"
        )
    # BOTH the codebooks and the input vector bind ONCE per row as
    # lambda variables (the winnow single-bind discipline): callers pass
    # DERIVED vector columns (unit_normalize's transform), and
    # referencing {vec_col} directly inside the distance folds would
    # re-evaluate that construction per (subvector × centroid × dim)
    # access via CollapseProject inlining. The codebook constant is the
    # OUTERMOST bind with a from_json literal in the (top-level,
    # foldable) argument position — inlined array literals inside the
    # v-lambda would re-materialize m·c·dsub elements per row, and the
    # array(array(...)) node tree would cost ~1 s of analysis per
    # construction (see _folded_json_array_sql).
    #
    # Dimension guard rides the same scan (the append_ivf_corpus
    # assert_true discipline): without it, a vector shorter than m*dsub
    # makes element_at past the array end return NULL (non-ANSI), so
    # codes would silently encode against phantom zero dimensions — the
    # initial write_ivf_corpus(pq_codebooks=...) path previously had no
    # check while append did.
    d = m * dsub
    return F.expr(
        f"element_at(transform(array({_folded_json_array_sql(cb)}), cball -> "
        f"element_at(transform(array({vec_col}), v -> "
        f"if(assert_true(size(v) = {d}, "
        f"'pq_encode: vector dimension must be {d} (= m*dsub of the "
        f"codebooks) but got dimension ' || size(v)) is null, "
        "array(" + ", ".join(codes) + "), null)), 1)), 1)"
    )


def _write_pq_codebooks(spark, codebooks, path: str, format: str) -> None:
    """Co-persist PQ codebooks as a (j, code, cent) relation — the
    ``_sq_bounds`` convention for the PQ layout: the codebooks travel
    WITH the codes they define, so a probe can never decode with a
    foreign quantizer."""
    import numpy as np

    cb = np.asarray(codebooks, dtype=float)
    rows = [
        (j, c, [float(x) for x in cb[j][c]])
        for j in range(cb.shape[0])
        for c in range(cb.shape[1])
    ]
    _write_small_relation(
        spark, rows, "j int, code int, cent array<double>", path, format
    )


def _read_pq_codebooks(spark, path: str, format: str):
    """Load a :func:`_write_pq_codebooks` relation back to the
    ``(m, c, dsub)`` numpy array, validating the (j, code) grid is
    complete and rectangular (a partial write must fail loudly — a hole
    would silently reconstruct garbage for the missing code)."""
    import numpy as np

    rows = _read_small_relation(spark, path, format)
    if not rows:
        raise ValueError(f"_read_pq_codebooks: empty relation at {path!r}")
    m = max(r["j"] for r in rows) + 1
    c = max(r["code"] for r in rows) + 1
    dsubs = {len(r["cent"]) for r in rows}
    if len(rows) != m * c or len(dsubs) != 1:
        raise ValueError(
            f"_read_pq_codebooks: malformed codebooks at {path!r} — "
            f"{len(rows)} rows for a {m}x{c} grid, subvector dims {sorted(dsubs)}"
        )
    cb = np.zeros((m, c, dsubs.pop()))
    seen = set()
    for r in rows:
        if (r["j"], r["code"]) in seen:
            raise ValueError(
                f"_read_pq_codebooks: duplicate (j={r['j']}, code={r['code']}) "
                f"at {path!r}"
            )
        seen.add((r["j"], r["code"]))
        cb[r["j"], r["code"]] = r["cent"]
    return cb


def pq_reconstruct_expr(code_col: str, codebooks) -> Column:
    """Reconstruct the quantized vector from PQ codes: the concatenation
    of each subvector's codebook centroid — ``m`` literal lookups
    concatenated, no join, no Python. This is the decode every
    asymmetric-distance probe uses.

    The per-subvector codebook literals sit in TOP-LEVEL expression
    positions (``concat`` of unrolled ``element_at``s), never inside a
    lambda body: ConstantFolding does not descend into higher-order
    function lambdas, so the earlier
    ``transform(sequence(1, m), j -> element_at(element_at(<literal>, j), …))``
    formulation re-materialized the full m·c·dsub nested array literal
    PER ROW — measured at ~1.25 ms/row (2.5 s for a 2 000-row corpus)
    vs ~µs/row for the unrolled form, identical output."""
    import numpy as np

    cb = np.asarray(codebooks, dtype=float)
    m = cb.shape[0]
    lookups = []
    for j in range(m):
        cbj_sql = _folded_json_array_sql(cb[j])
        lookups.append(
            f"element_at({cbj_sql}, element_at({code_col}, {j + 1}) + 1)"
        )
    return F.expr("concat(" + ", ".join(lookups) + ")")


def pq_topk(
    codes_df: DataFrame,
    codebooks,
    queries: DataFrame,
    k: int = 5,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    code_col: str = "pq_codes",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric PQ top-k (the FAISS ADC probe): float queries score
    against centroid RECONSTRUCTIONS of the coded corpus — the query
    side never quantizes, which is what keeps PQ recall high. Returns
    ``(query_id, corpus_id, cosine, r)`` with the same 6-decimal
    rounding, rank window, and id tie-break as :func:`brute_force_topk`,
    so results are exact WITH RESPECT TO the reconstructed space and a
    SQL oracle can replay them.

    Scale shape: the bounded query batch broadcasts (the documented
    brute_force_topk BroadcastNestedLoopJoin contract — the coded corpus
    is scanned once, no shuffle before the rank window's partial top-k);
    reconstruction is row-local codegen off the inlined codebook
    literal. The corpus relation carries m ints per row instead of d
    floats — at serving scale the 100×-smaller scan is the entire point
    of PQ. Compose with the IVF cell layout (assign_cells /
    write_ivf_corpus) to prune the scan as well."""
    from pyspark.sql import Window

    q = queries.select(F.col(query_id), F.col(vec_col).alias("_qvec"))
    scored = (
        codes_df.select(
            F.col(corpus_id),
            pq_reconstruct_expr(code_col, codebooks).alias("_remb"),
        )
        .crossJoin(F.broadcast(q))
        .select(
            query_id,
            corpus_id,
            F.round(cosine_expr("_qvec", "_remb"), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(corpus_id))
    return (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= k)
        .select(query_id, corpus_id, "cosine", F.col("r").cast("long").alias("r"))
    )


def _exact_scored_shortlist(
    shortlist_ids: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    query_id: str,
    vec_col: str,
) -> DataFrame:
    """The shared two-stage-serving join (:func:`pq_refine` /
    :func:`refine_recall_sweep`): ``shortlist_ids`` is a BOUNDED
    (query_id, corpus_id[, extras]) relation, so it broadcasts into a
    hash join that prunes the float-corpus scan to shortlist members
    (the corpus never shuffles), then query vectors broadcast in and
    each surviving row gains the exact ``cosine`` (rounded 6 — the
    brute_force_topk contract). Returns the shortlist's columns +
    ``cosine``."""
    cand = corpus.select(F.col(corpus_id), F.col(vec_col)).join(
        F.broadcast(shortlist_ids), corpus_id, "inner"
    )
    q = queries.select(F.col(query_id), F.col(vec_col).alias("_qvec"))
    return cand.join(F.broadcast(q), query_id).select(
        *shortlist_ids.columns,
        F.round(cosine_expr(vec_col, "_qvec"), 6).alias("cosine"),
    )


def _hit_recall_agg(joined: DataFrame, group_cols) -> DataFrame:
    """The shared recall aggregation (:func:`recall_at_k` /
    :func:`refine_recall_sweep`): over an exact-side relation
    left-joined with approximate hits (``_hit`` = 1 on a match), one
    partial-aggregated groupBy emits ``n_hits`` + ``recall`` (rounded
    6) per group."""
    return joined.groupBy(*group_cols).agg(
        F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_hits"),
        F.round(
            F.coalesce(F.sum("_hit"), F.lit(0)) / F.count(F.lit(1)), 6
        ).alias("recall"),
    )


def pq_refine(
    shortlist: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact re-rank of an ANN shortlist — the standard two-stage serving
    pattern (FAISS refine / IndexRefineFlat): a cheap compressed-domain
    probe (:func:`pq_topk` with a generous k', or :func:`ann_topk`)
    nominates candidates, then the FULL-PRECISION float vectors score
    exactly those ids and the top ``k`` per query win by exact cosine.
    Two-stage recall@k is at least the compressed probe's recall@k for
    the same k (re-ranking a superset with the exact metric can only
    promote true neighbors into the top k, never demote one that the
    shortlist already contains) — pinned by test.

    Result contract: identical to :func:`brute_force_topk` RESTRICTED to
    each query's shortlist ids — same 6-decimal rounding, same
    ``(cosine desc, corpus_id asc)`` tie-break, so a SQL oracle replays
    it and ``r`` ranks 1..k.

    Scale shape: the shortlist is bounded by construction
    (|queries| × k' rows of bare ids — the probe's bounded-query
    contract), so it BROADCASTS into a hash join that prunes the corpus
    scan to shortlist members; the float corpus never shuffles and is
    read once. Query vectors broadcast the same way; the rank window's
    partial top-k bounds the exchange to k rows per query. This is the
    piece that turns the PQ m-int scan into an exact-answer pipeline:
    the 100×-smaller compressed scan does corpus elimination, and full
    floats are touched for only |queries| × k' rows."""
    from pyspark.sql import Window

    sl = shortlist.select(F.col(query_id), F.col(corpus_id)).dropDuplicates(
        [query_id, corpus_id]
    )
    scored = _exact_scored_shortlist(
        sl, corpus, queries, corpus_id, query_id, vec_col
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(corpus_id))
    return (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= k)
        .select(query_id, corpus_id, "cosine", F.col("r").cast("long").alias("r"))
    )


def recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    k: int,
    query_id: str = "q_id",
    corpus_id: str = "vec_id",
) -> DataFrame:
    """Recall@k report — the serving data card for any ANN configuration:
    per query, how many of the exact top-k ids the approximate probe
    returned (``n_hits``) and the fraction (``recall``). Feed it any
    (query_id, corpus_id, r) pair of relations — :func:`pq_topk` vs
    :func:`brute_force_topk`, :func:`ann_topk` vs brute force, a stored
    IVF probe vs a flat probe — and read off the quantization /
    n_probe / band-budget trade as a number instead of a belief.

    Both inputs are bounded (≤ |queries| × k rows — the probes'
    bounded-query contract), so the exact side BROADCASTS into a
    left-semi-shaped hash join; one partial-aggregated groupBy on
    ``query_id`` produces the report. Queries with no approximate rows
    at all still report (via the exact side's group), with recall 0."""
    if k <= 0:
        raise ValueError("k must be positive")
    ex = exact.filter(F.col("r") <= k).select(
        F.col(query_id), F.col(corpus_id)
    )
    ap = approx.filter(F.col("r") <= k).select(
        F.col(query_id), F.col(corpus_id), F.lit(1).alias("_hit")
    )
    joined = ex.join(F.broadcast(ap), [query_id, corpus_id], "left")
    return _hit_recall_agg(joined, [query_id])


def refine_recall_sweep(
    shortlist: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    exact: DataFrame,
    budgets,
    k: int = 5,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Shortlist-budget tuning card for two-stage serving: for each
    candidate shortlist size k' in ``budgets``, re-rank the probe's
    top-k' by exact cosine (:func:`pq_refine` semantics) and report
    recall@k against the exact top-k — per (k', query). A serving team
    reads the knee of this curve to pick the smallest shortlist that
    hits its recall target, i.e. how much compressed-domain scanning
    buys how much exactness — measured, not believed.

    ``shortlist`` is a ranked probe output (``query_id, corpus_id, r``
    from :func:`pq_topk` / :func:`ann_topk` / :func:`ivf_topk_stored`)
    computed once at max(budgets); ``exact`` is the ground-truth ranked
    relation (:func:`brute_force_topk`, r ≤ k). The expensive stages run
    ONCE: one broadcast-pruned join computes each shortlist member's
    exact cosine (the pq_refine shape — the float corpus never
    shuffles), then the sweep multiplies only the BOUNDED
    (|queries| × k'max) scored relation by the budget literals, re-ranks
    inside each (budget, query), and left-joins the exact top-k for hit
    counting. Monotone by construction: a larger budget's shortlist is a
    superset, so recall@k can only rise — pinned by test.

    Output: ``(kprime, query_id, n_hits, recall)`` — recall rounded 6,
    queries with zero refined hits still present via the exact side."""
    from pyspark.sql import Window

    bs = sorted({int(b) for b in budgets})
    if not bs:
        raise ValueError("refine_recall_sweep: budgets is empty")
    if bs[0] < k:
        raise ValueError(
            f"refine_recall_sweep: every budget must be >= k={k} "
            f"(smallest: {bs[0]}) — a shortlist smaller than k cannot "
            "fill the top-k it is judged on"
        )
    spark = shortlist.sparkSession
    # min(r), not dropDuplicates: a shortlist with duplicate
    # (query, corpus) rows at different ranks (e.g. a union of probes)
    # must qualify for a budget by its BEST rank, deterministically —
    # dropDuplicates would keep an arbitrary row's rank
    sl = (
        shortlist.select(F.col(query_id), F.col(corpus_id), F.col("r"))
        .groupBy(query_id, corpus_id)
        .agg(F.min("r").alias("_slr"))
    )
    scored = _exact_scored_shortlist(
        sl, corpus, queries, corpus_id, query_id, vec_col
    ).withColumnRenamed("cosine", "_cos")
    bdf = spark.createDataFrame([(b,) for b in bs], "kprime long")
    w = Window.partitionBy("kprime", query_id).orderBy(
        F.desc("_cos"), F.asc(corpus_id)
    )
    refined = (
        scored.crossJoin(F.broadcast(bdf))
        .filter(F.col("_slr") <= F.col("kprime"))
        .withColumn("_rr", F.row_number().over(w))
        .filter(F.col("_rr") <= k)
        .select("kprime", query_id, corpus_id, F.lit(1).alias("_hit"))
    )
    ex = exact.filter(F.col("r") <= k).select(
        F.col(query_id), F.col(corpus_id)
    )
    joined = ex.crossJoin(F.broadcast(bdf)).join(
        F.broadcast(refined), ["kprime", query_id, corpus_id], "left"
    )
    return _hit_recall_agg(joined, ["kprime", query_id])


def random_projection(
    df: DataFrame,
    out_dim: int,
    vec_col: str = "embedding",
    seed: int = 0,
    out_col: str = None,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection (Achlioptas 2003 sparse
    variant): project ``d``-dim embeddings to ``out_dim`` dims with the
    {+1, 0, -1} matrix (probabilities 1/6, 2/3, 1/6) scaled by
    ``sqrt(3/out_dim)`` — the standard pre-ANN byte reducer: pairwise
    distances are preserved within (1±ε) with high probability, so a
    4× narrower corpus feeds the same LSH/IVF machinery at a quarter of
    the scan bytes, with the exact ranking recovered by re-scoring the
    shortlist in full dimension.

    The matrix entry ``r(i, k)`` derives from ``md5(f"{i}:{k}:{seed}")``
    — a pure function of the position and seed, no RNG state — so the
    projection is deterministic on any cluster layout, identical on
    rerun, and recomputable by a SQL oracle from the same md5. Entries
    are materialized driver-side (d × out_dim ints, a few KB) and ride
    the plan as a nested array literal; the projection itself is one
    codegen ``transform`` over a sequential per-dimension fold —
    single-scan, no join, no shuffle, no Python. Output values are
    rounded to 6 decimals (the repo-wide oracle convention).

    Replaces ``vec_col`` unless ``out_col`` names a new column."""
    import hashlib
    import math

    if out_dim < 1:
        raise ValueError("out_dim must be >= 1")
    # the input dimension comes from the data: probe one row (bounded)
    head = df.select(F.size(F.col(vec_col)).alias("_d")).first()
    if head is None or head["_d"] is None or head["_d"] <= 0:
        raise ValueError(
            f"random_projection: cannot determine {vec_col!r} dimension "
            "(empty relation or NULL vector in the first row)"
        )
    d = int(head["_d"])

    def r(i: int, k: int) -> float:
        h = int(
            hashlib.md5(f"{i}:{k}:{seed}".encode()).hexdigest()[:8], 16
        ) % 6
        return 1.0 if h == 0 else (-1.0 if h == 1 else 0.0)

    scale = math.sqrt(3.0 / out_dim)
    mat_sql = _folded_json_array_sql(
        [[r(i, k) for k in range(1, out_dim + 1)] for i in range(1, d + 1)]
    )
    # BOTH the input vector and the matrix MUST bind once per row as
    # LAMBDA VARIABLES (the winnow single-bind discipline): callers pass
    # DERIVED vector columns (unit_normalize's transform), and
    # CollapseProject inlines that expression into every
    # element_at({vec_col}, i) reference — out_dim×d re-evaluations of a
    # d-element construction per row, measured at ~0.3 s/row. The matrix
    # binds OUTERMOST from a folded from_json literal (top-level,
    # foldable argument position — see _folded_json_array_sql); the
    # inner folds only index the bound values.
    proj = F.expr(
        f"element_at(transform(array({mat_sql}), m -> "
        f"element_at(transform(array({vec_col}), v -> "
        f"transform(sequence(1, {out_dim}), k -> round(aggregate("
        f"sequence(1, {d}), 0D, (acc, i) -> acc + "
        f"cast(element_at(v, i) as double) * "
        f"element_at(element_at(m, i), k), acc -> acc) "
        f"* {scale!r}D, 6))), 1)), 1)"
    )
    if out_col:
        return df.withColumn(out_col, proj)
    return df.withColumn(vec_col, proj)


def prototype_prune(
    corpus: DataFrame,
    keep_frac: float,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids=None,
    assign: str = "gemm",
    keep: str = "hard",
    max_fit_rows: int = 100_000,
    kmeans_max_iter: int = 10,
    kmeans_init: str = "k-means++",
    n_rows: int = None,
    normalize_centroids: bool = True,
) -> DataFrame:
    """Prototypicality-based data pruning (Sorscher et al. 2022, "Beyond
    neural scaling laws", arXiv:2206.14486 — the SSL-prototypes metric):
    cluster the (unit-normalized) embedding corpus, score every example
    by cosine to its own cluster centroid, and keep the ``keep_frac``
    fraction per cell ranked from the HARD end (low cosine — the
    paper's abundant-data regime; ``keep="easy"`` flips to the
    scarce-data regime). Complements :func:`~metaframe_spark.operators.
    dedup.semantic_dedup`: dedup removes copies, prototype pruning
    removes the redundant EASY mass around each cluster center.

    Returns ``(id_col, cell, proto_cos, cell_rank, kept)`` — the full
    scored relation, one row per input, so the card and the filter are
    the same output (``filter(kept)`` is the prune).

    Two assignment faces, same contract as the PQ exemplar machinery:

    * ``assign="gemm"`` (production): :func:`assign_cells` — one
      mapInPandas float64 GEMM per Arrow batch against the broadcast
      centroid matrix; centroids come from ``centroids=`` or a
      :func:`fit_sampled_centroids` fit (seeded, order_col-stable),
      unit-normalized driver-side so the dot IS the cosine.
    * ``assign="exact"`` (oracle-replayable): the centroid matrix rides
      the plan as a nested array literal and each row takes the argmax
      of its ROUNDED-6 cosines (first-max tie = lowest cell, the
      ``array_position`` semantics both engines share) — pure codegen,
      no join, no Python, no shuffle before the rank window; requires
      ``centroids=`` (bounded: exemplars or a prior fit). Both the
      vector and the matrix bind once per row as lambda variables (the
      random_projection single-bind discipline).

    Face-divergence contract: the faces may assign DIFFERENT cells to a
    vector whose top two centroid cosines differ by < 5e-7 — the exact
    face compares ROUNDED-6 scores (ties → lowest cell, the price of
    SQL replayability) while the GEMM face argmins raw float64
    distances. Such knife-edge points are equally prototypical to
    either centroid, so which cell ranks them is semantically
    arbitrary; tests pin full agreement on the test corpus, not in
    general. Pick ONE face per corpus run — don't mix outputs.

    Scale shape: scoring is a single scan either way; the only
    exchanges are the cell-rank window's hash shuffle on ``cell`` —
    cells are executor-bounded by sizing ``n_cells``, the same
    contract as semantic_dedup's ``max_cell_rows`` — and the tiny
    fit-sample collect. ``kept = cell_rank <= ceil(keep_frac·|cell|)``
    is exact IEEE arithmetic any SQL engine replays."""
    import numpy as np

    if not (0.0 < keep_frac <= 1.0):
        raise ValueError("keep_frac must be in (0, 1]")
    if keep not in ("hard", "easy"):
        raise ValueError("keep must be 'hard' or 'easy'")
    if assign not in ("gemm", "exact"):
        raise ValueError("assign must be 'gemm' or 'exact'")
    if centroids is None:
        if assign == "exact":
            raise ValueError(
                "assign='exact' needs explicit centroids= (exemplars or a "
                "prior fit) — the literal matrix is the point of the mode"
            )
        centroids = fit_sampled_centroids(
            corpus,
            n_cells,
            vec_col=vec_col,
            seed=seed,
            max_fit_rows=max_fit_rows,
            max_iter=kmeans_max_iter,
            init=kmeans_init,
            n_rows=n_rows,
            order_col=id_col,
        )
    C = np.asarray(centroids, dtype=np.float64)
    if C.size == 0:
        raise ValueError(
            "prototype_prune: centroids are empty (empty corpus / no "
            "exemplar vectors) — nothing to assign against"
        )
    if normalize_centroids:
        # fitted centroids of unit vectors are sub-unit (a mean shrinks);
        # normalizing makes the dot a true cosine. Pass False when the
        # centroids ARE unit rows already (exemplars) — renormalizing by a
        # ~1.0 norm would shift the last ulp away from what a SQL oracle
        # recomputes from the same rows.
        norms = np.sqrt((C * C).sum(axis=1))
        norms[norms == 0.0] = 1.0
        C = C / norms[:, None]
    k, d = C.shape

    if assign == "exact":
        # centroid matrix binds OUTERMOST from a folded from_json
        # literal; the vector binds next (single-bind discipline — see
        # _pq_encode_expr)
        cent_sql = _folded_json_array_sql(C)
        scored = corpus.select(
            F.col(id_col),
            F.expr(
                f"element_at(transform(array({cent_sql}), m -> "
                f"element_at(transform(array({vec_col}), v -> "
                f"element_at(transform(array(transform(sequence(1, {k}), "
                f"c -> round(aggregate(sequence(1, {d}), 0D, (acc, i) -> "
                f"acc + cast(element_at(v, i) as double) * "
                f"element_at(element_at(m, c), i), acc -> acc), 6))), "
                f"s -> struct(cast(array_position(s, array_max(s)) - 1 "
                f"as long) as cell, array_max(s) as proto_cos)), 1)), 1)), 1)"
            ).alias("_sc"),
        ).select(id_col, F.col("_sc.cell").alias("cell"), F.col("_sc.proto_cos").alias("proto_cos"))
    else:
        spark = corpus.sparkSession
        cent_df = spark.createDataFrame(
            [(int(i), [float(x) for x in row]) for i, row in enumerate(C)],
            "cell long, _cent array<double>",
        )
        scored = (
            assign_cells(corpus, C, vec_col=vec_col, cell_col="_cell")
            .join(F.broadcast(cent_df), F.col("_cell") == F.col("cell"))
            .select(
                F.col(id_col),
                F.col("cell"),
                F.round(cosine_expr(vec_col, "_cent"), 6).alias("proto_cos"),
            )
        )

    from pyspark.sql import Window

    order = (
        [F.asc("proto_cos"), F.asc(id_col)]
        if keep == "hard"
        else [F.desc("proto_cos"), F.asc(id_col)]
    )
    w_rank = Window.partitionBy("cell").orderBy(*order)
    w_cell = Window.partitionBy("cell")
    return (
        scored.withColumn("cell_rank", F.row_number().over(w_rank).cast("long"))
        .withColumn("_cn", F.count(F.lit(1)).over(w_cell))
        .withColumn(
            "kept",
            F.col("cell_rank") <= F.ceil(F.lit(float(keep_frac)) * F.col("_cn")),
        )
        .drop("_cn")
    )


def mine_triplets(
    corpus: DataFrame,
    anchors: DataFrame,
    n_neg: int = 3,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Semi-hard triplet mining for contrastive / embedding-model training
    (the FaceNet selection rule, Schroff et al. 2015 §3.2, made batch-free
    and deterministic): for every anchor, the POSITIVE is its nearest
    same-label neighbor (highest cosine, excluding the anchor's own id;
    ties break toward the lowest corpus id), and the NEGATIVES are the
    ``n_neg`` HARDEST different-label vectors that are still farther than
    the positive (``neg_cos < pos_cos`` — the semi-hard band: hard enough
    to carry gradient, not so hard they are likely label noise). Anchors
    with no same-label peer are dropped (no positive exists).

    Returns (q_id, pos_id, pos_cos, neg_id, neg_cos, margin, r): one row
    per (anchor × selected negative), ``margin = pos_cos − neg_cos`` (the
    quantity a triplet loss drives above its α), ``r`` the negative's
    hardness rank (1 = hardest).

    Scale shape: the bounded anchor batch is broadcast against ONE corpus
    scan (the :func:`brute_force_topk` contract — no corpus shuffle); the
    positive is a conditional ``max(struct(cosine, −id))`` window and the
    negative rank an ordered window over the SAME ``q_id`` partition key,
    so both share a single exchange whose row count is |anchors|·|corpus|
    score rows pre-reduced by the rank filter. At serving scale the
    corpus side drops to an IVF/PQ probe (:func:`ivf_topk` /
    :func:`pq_topk`) feeding the same selection; mining per training
    batch keeps |anchors| bounded by construction.
    """
    from pyspark.sql import Window

    if n_neg < 1:
        raise ValueError("mine_triplets: n_neg must be >= 1")
    # the positive's max(struct(cos, -id)) tie-break negates the corpus
    # id: a non-numeric id would be implicitly cast to double and come
    # back as silent NULL pos_ids — refuse loudly instead
    id_type = dict(corpus.dtypes).get(corpus_id, "")
    numeric = ("tinyint", "smallint", "int", "bigint", "float", "double")
    if not (id_type in numeric or id_type.startswith("decimal")):
        raise ValueError(
            f"mine_triplets: corpus_id {corpus_id!r} must be numeric "
            f"(got {id_type or 'missing column'}); map string ids to a "
            "numeric surrogate (e.g. xxhash64) first"
        )
    q = anchors.select(
        F.col(query_id),
        F.col(vec_col).alias("_qvec"),
        F.col(label_col).alias("_qlab"),
    )
    scored = (
        corpus.select(
            F.col(corpus_id), F.col(vec_col), F.col(label_col)
        )
        .crossJoin(F.broadcast(q))
        .select(
            query_id,
            F.col(corpus_id),
            F.col(label_col),
            "_qlab",
            F.round(cosine_expr(vec_col, "_qvec"), 6).alias("_cos"),
        )
    )
    w = Window.partitionBy(query_id)
    same = (F.col(label_col) == F.col("_qlab")) & (
        F.col(corpus_id) != F.col(query_id)
    )
    pos = F.max(
        F.when(same, F.struct(F.col("_cos").alias("c"), (-F.col(corpus_id)).alias("i")))
    ).over(w)
    wr = Window.partitionBy(query_id).orderBy(F.desc("_cos"), F.asc(corpus_id))
    cand = (
        scored.withColumn("_pos", pos)
        .filter(
            F.col("_pos").isNotNull()
            & (F.col(label_col) != F.col("_qlab"))
            & (F.col("_cos") < F.col("_pos.c"))
        )
        .withColumn("r", F.row_number().over(wr).cast("long"))
        .filter(F.col("r") <= int(n_neg))
    )
    return cand.select(
        query_id,
        (-F.col("_pos.i")).cast("long").alias("pos_id"),
        F.col("_pos.c").alias("pos_cos"),
        F.col(corpus_id).alias("neg_id"),
        F.col("_cos").alias("neg_cos"),
        F.round(F.col("_pos.c") - F.col("_cos"), 6).alias("margin"),
        "r",
    )


def reciprocal_rank_fusion(
    rankings,
    id_col: str = "doc_id",
    rank_col: str = "r",
    k0: int = 60,
    top_k: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of N
    ranked retrieval lists — the standard score-free combiner behind
    hybrid lexical+semantic search: each list contributes
    ``1/(k0 + rank)`` per document; documents missing from a list simply
    contribute nothing (no score normalization needed, which is RRF's
    whole point — BM25 scores and cosines are not commensurable).

    ``rankings`` is a sequence of DataFrames each carrying ``id_col`` and
    a 1-based ``rank_col``. Returns (id, n_rankers, rrf_score, rank):
    documents ordered by fused score (ties toward the lower id),
    truncated to ``top_k``.

    Determinism: per-contribution ``round(1/(k0+r), 6)`` then a
    DECIMAL(18,6) sum — addition-order-free across engines.

    Scale shape: every input is already a bounded top-k relation (the
    expensive retrieval happened upstream), so the union + rollup move
    at most Σ|list_i| rows; the final rank is a window over ≤ that many
    rows on one partition — bounded by construction, same class as the
    one-row data cards. Never feed an unbounded scored corpus in;
    truncate each ranker first (that is also what keeps RRF's semantics:
    rank is only meaningful in a truncated list).
    """
    from functools import reduce

    from pyspark.sql import Window

    rankings = list(rankings)
    if not rankings:
        raise ValueError("reciprocal_rank_fusion: rankings must be non-empty")
    if k0 < 1:
        raise ValueError("reciprocal_rank_fusion: k0 must be >= 1")
    if top_k < 1:
        raise ValueError("reciprocal_rank_fusion: top_k must be >= 1")
    parts = [
        r.select(
            F.col(id_col),
            F.round(
                F.lit(1.0) / (F.lit(float(k0)) + F.col(rank_col).cast("double")), 6
            )
            .cast("decimal(18,6)")
            .alias("_c"),
        )
        for r in rankings
    ]
    fused = (
        reduce(lambda a, b: a.unionByName(b), parts)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rankers"),
            F.sum("_c").cast("double").alias("rrf_score"),
        )
    )
    wr = Window.orderBy(F.desc("rrf_score"), F.asc(id_col))
    return (
        fused.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= int(top_k))
    )


def pool_embeddings(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """Element-wise mean-pool an embedding column per group — the
    chunk→document (or document→class-centroid) aggregation every
    embedding pipeline needs between chunk-level encoding and
    document-level retrieval/dedup: the standard mean-of-vectors
    representation (cf. sentence-embedding mean pooling), optionally
    L2-normalized so downstream cosine is a plain dot product.

    Returns (group, n_vectors, centroid): ``centroid`` is
    ``array<double>`` with per-dimension means rounded to 6 (and, when
    ``normalize``, re-rounded after the norm division; an all-zero mean
    pools to a NULL-element centroid rather than a 0/0 NaN).

    Determinism: per-dimension sums run in DECIMAL(18,6) (partial-agg
    order cannot move a mean); the norm is an ascending-index fold over
    the already-rounded means, so both engines square and add the same
    64 doubles in the same order.

    Scale shape: one posexplode → (group, dim) rollup with map-side
    combine — the shuffle carries |groups|·dim 16-byte rows, never the
    vectors; the dim re-assembly groupBy shares the same key prefix.
    The norm fold runs on the bounded |groups|-row pooled relation
    (Catalyst may inline the fold per element there — that is
    |groups|·dim² trivial flops on an already-reduced relation, not a
    corpus-scan cost).
    """
    ex = df.select(
        F.col(group_col), F.posexplode(F.col(vec_col)).alias("_i", "_x")
    )
    dims = ex.groupBy(group_col, "_i").agg(
        F.sum(F.col("_x").cast("double").cast("decimal(18,6)"))
        .cast("double")
        .alias("_s"),
        F.count(F.lit(1)).cast("long").alias("_c"),
    )
    # round-half-up-toward-+inf via floor(x*1e6 + 0.5)/1e6 instead of
    # round(x, 6): Spark's round() inspects the double's exact binary
    # expansion while DuckDB's multiplies by 1e6 first, and the two
    # disagree when the quotient sits one ulp below a .5 boundary
    # (observed at sf0.1: 0.616992/192 = 0.0032134999999999998, whose
    # IEEE product with 1e6 is exactly 3213.5).  floor over the same
    # IEEE multiply/add is bit-identical cross-engine by construction.
    mean = F.expr("floor(_s / _c * 1e6 + 0.5D) / 1e6")
    pooled = (
        dims.groupBy(group_col)
        .agg(
            F.max("_c").alias("n_vectors"),
            F.array_sort(
                F.collect_list(F.struct(F.col("_i"), mean.alias("_m")))
            ).alias("_p"),
        )
        .select(
            group_col,
            "n_vectors",
            F.expr("transform(_p, s -> s._m)").alias("centroid"),
        )
    )
    if normalize:
        # single-bind discipline (see unit_normalize): the norm fold is
        # bound once per row as a lambda variable instead of a derived
        # column CollapseProject would inline per element
        pooled = pooled.withColumn(
            "centroid",
            F.expr(
                "element_at(transform(array(sqrt(aggregate("
                "transform(centroid, x -> x * x), 0D, (a, v) -> a + v))), "
                "n -> transform(centroid, x -> "
                "floor(x / nullif(n, 0D) * 1e6 + 0.5D) / 1e6)), 1)"
            ),
        )
    return pooled


def centroid_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    min_cosine: float = 0.99,
) -> DataFrame:
    """Embedding-distribution drift per group between two corpus
    snapshots: pool each side's vectors to a normalized per-group
    centroid (:func:`pool_embeddings`) and report the cosine between
    the two centroids — the embedding-side sibling of the unigram-PSI
    :func:`~metaframe_spark.operators.text.vocabulary_drift` card (did
    the MEANING of a class/source move, not just its vocabulary —
    e.g. an encoder version change, a topic shift inside a label, a
    crawl that changed register). Groups present on only one side are
    dropped (drift is defined over the intersection — count one-sided
    groups as born/dead in inventory terms, the histogram_drift
    convention).

    Returns (group, n_a, n_b, centroid_cos, drifted) — ``drifted``
    flags ``centroid_cos < min_cosine``.

    Scale shape: two pooled relations (each one vector-explode rollup,
    see pool_embeddings), then a |groups|-bounded equi-join and a
    row-local dot product over normalized centroids.
    """
    a = pool_embeddings(df_a, group_col, vec_col, normalize=True).select(
        F.col(group_col),
        F.col("n_vectors").alias("n_a"),
        F.col("centroid").alias("_ca"),
    )
    b = pool_embeddings(df_b, group_col, vec_col, normalize=True).select(
        F.col(group_col),
        F.col("n_vectors").alias("n_b"),
        F.col("centroid").alias("_cb"),
    )
    # clamp: the 6-rounded normalized elements can push a self-dot to
    # 1.000001 — a rounding artifact, not a geometry claim. The clamp
    # must NOT swallow NULL: least/greatest skip NULL operands, which
    # would report a degenerate all-NULL centroid (zero-mean pool) as a
    # perfectly stable 1.0 — an undefined direction stays NULL.
    raw = F.round(cosine_expr("_ca", "_cb"), 6)
    cos = F.when(
        raw.isNotNull(),
        F.greatest(F.least(raw, F.lit(1.0)), F.lit(-1.0)),
    )
    return (
        a.join(b, group_col)
        .withColumn("centroid_cos", cos)
        .withColumn("drifted", F.col("centroid_cos") < F.lit(float(min_cosine)))
        .drop("_ca", "_cb")
    )
