"""Structured Streaming surface (SURVEY.md §2.3 row 16, §7.2 P4).

The reference reaches streaming purely through delegation: every
DataFrame-returning streaming method (``withWatermark``, windowed
``groupBy().agg()``, ``dropDuplicatesWithinWatermark``) proxies with
metadata preserved, while ``readStream``/``writeStream`` live on
Session/property paths outside the wrapper
(``/root/reference/metaframe/metaframe.py:83-88``). Our build keeps the
delegation and fixes the property hop: ``mf.writeStream`` returns a
metadata-carrying :class:`~metaframe_spark.core.MetaStreamWriter`.

This module adds the session-side entry (``read_file_stream``) and a
canonical watermarked windowed aggregation helper. Scale posture: event-time
windows + watermarks bound state size; state lives in the streaming state
store partitioned by group key, so the same aggregation scales with
executors exactly like its batch twin (Q29/Q30 in the catalog).

Every stateful writer here (``stream_*``, ``apply_cdc_stream``) starts its
query through ``_each_batch``, which runs each micro-batch in its own
:func:`~metaframe_spark.session.persist_scope`. A batch commits in one of
two shapes: a **versioned store** (``_stream_store``: the whole store is
staged and swapped in by backup-rename — the sketch stores, the near-dup
signature store, the CDC base table) or an **append-only** move of the
batch's own files (a run partition in ``stream_expectations``; per-cell
files plus a marker in ``_commit_ivf_delta``, for the IVF corpus).
"""

from __future__ import annotations

from typing import Any, Dict, Optional

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..core import MetaFrame


def read_file_stream(
    spark: SparkSession,
    path: str,
    schema,
    fmt: str = "parquet",
    metadata: Optional[Dict[str, Any]] = None,
    **options: Any,
) -> MetaFrame:
    """File-source stream wrapped as a MetaFrame (schema is mandatory —
    streaming readers cannot infer).

    TIMESTAMP_NTZ columns are cast to TIMESTAMP on the way in: Spark reads
    parquet ``timestamp[us]`` without a zone as NTZ, but event-time
    watermarks require TIMESTAMP (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE) —
    a wall-clock reinterpretation in the session zone, exactly what a
    pipeline that watermarks file-sourced events needs. Batch paths keep
    NTZ untouched (batch watermarks are a no-op, so no cast is needed for
    oracle parity)."""
    from pyspark.sql.types import TimestampNTZType

    reader = spark.readStream.format(fmt).schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    df = reader.load(path)
    for f in df.schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return MetaFrame(df, dict(metadata or {}))


def windowed_event_counts(
    mf: MetaFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    slide: Optional[str] = None,
    watermark: str = "1 hour",
) -> MetaFrame:
    """Watermarked tumbling/sliding window counts — the canonical stateful
    streaming aggregation. Late data beyond ``watermark`` is dropped and
    state for closed windows is evicted (bounded state at any scale).

    Works identically on a batch frame (watermark is a no-op there), which
    is how the oracle checks it (catalog Q29/Q30).
    """
    win = (
        F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    )
    out = (
        mf.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), key_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "cnt",
        )
    )
    return out


def sessionize(
    mf,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
):
    """Session-window aggregation: events of one key closer than ``gap``
    collapse into one session (count + span). Uses Spark's native
    ``session_window`` — state is per (key, open session) and evicted once
    the watermark passes the session end, so state size is bounded by
    concurrently-open sessions, not history.

    Works on batch frames too (watermark no-op) for oracle checking.
    """
    out = (
        mf.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), key_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
        )
        .select(
            key_col,
            "session_start",
            "session_end",
            "n_events",
        )
    )
    return out


def running_total_with_state(
    stream,
    key_col: str = "user_id",
    value_col: str = "value",
):
    """Per-key running sum via Spark 4's ``transformWithStateInPandas`` —
    the successor to ``applyInPandasWithState``: typed state handles
    (ValueState here; ListState/MapState/timers available), explicit
    lifecycle (``init``/``handleInputRows``/``close``), and state backed by
    the RocksDB state store (set
    ``spark.sql.streaming.stateStore.providerClass`` to
    ``...RocksDBStateStoreProvider`` — transformWithState requires it).

    Emits (key, running_value, n_events) on every trigger in Update mode.
    State is one (double, long) pair per key — bounded by key cardinality,
    never by history. The processor class is self-contained (executors
    never import this package).

    Environment note: the transformWithState Python driver worker requires
    ``google.protobuf`` (its JVM control channel is protobuf-encoded); in
    environments without it the query fails at start with
    STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE. The
    ``applyInPandasWithState`` twin (:func:`running_count_with_state`) has
    no such dependency.
    """
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class RunningTotal(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "agg", "total double, n bigint"
            )

        def handleInputRows(self, key, rows, timer_values):
            import pandas as pd

            total, n = (
                self._state.get() if self._state.exists() else (0.0, 0)
            )
            for pdf in rows:
                total += float(pdf[value_col].fillna(0.0).sum())
                n += int(len(pdf))
            self._state.update((total, n))
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "running_value": [total],
                    "n_events": [n],
                }
            )

        def close(self) -> None:
            pass

    raw = stream.to_spark() if hasattr(stream, "to_spark") else stream
    key_type = raw.schema[key_col].dataType.simpleString()
    return raw.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=RunningTotal(),
        outputStructType=f"{key_col} {key_type}, running_value double, n_events bigint",
        outputMode="Update",
        timeMode="None",
    )


def stream_exact_dedup(
    stream,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
):
    """Streaming exact dedup for continuous corpus ingestion: drop rows
    whose normalized content digest was already seen within the watermark
    horizon — the streaming twin of
    :func:`~metaframe_spark.operators.dedup.exact_dedup_rows`.

    ``dropDuplicatesWithinWatermark`` keys state on the 256-bit content
    digest (uniform by construction — no hot state-store partitions) and
    evicts each digest once the watermark passes, so state is bounded by
    the dedup horizon, not by stream history. An unbounded cross-history
    guarantee is the batch operator's job (or
    :func:`~metaframe_spark.operators.dedup.dedup_against` against a
    digest snapshot); a streaming state store must not grow forever.

    Works on batch frames too (watermark + within-watermark dedup degrade
    to plain dropDuplicates semantics there), which is how the
    streaming ≡ batch test pins the semantics.
    """
    from ..operators.dedup import content_hash

    out = (
        stream.withColumn("_digest", content_hash(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_digest"])
        .drop("_digest")
    )
    return out


def running_count_with_state(stream, key_col: str = "event_type", timeout_s: int = 3600):
    """Custom stateful operator via ``applyInPandasWithState``: a running
    per-key event count maintained in explicit GroupState — the escape
    hatch for logic session_window/agg cannot express (SURVEY.md §2.3
    row 16). Arrow-batched; state is one tiny tuple per key.

    Emits (key, running_count) on every trigger. The UDF is self-contained
    (executors never import this package).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({key_col: [key[0]], "running_count": [total]})

    raw = stream.to_spark() if hasattr(stream, "to_spark") else stream
    return raw.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=f"{key_col} string, running_count long",
        stateStructType="total long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def latest_per_key(df, keys, seq_col):
    """Collapse a CDC batch to its last change per key:
    ``max_by(struct(<all columns>), seq_col)`` — one partial-aggregated
    shuffle on the keys, no window sort, and the winner is a single
    whole source row (per-column ``max_by`` calls could each pick a
    DIFFERENT row tied on ``seq_col``, mixing columns). Ties still pick
    an arbitrary row — give CDC feeds a total per-key order (offset,
    LSN) for deterministic replay."""
    keys = list(keys)
    others = [c for c in df.columns if c not in keys]
    return (
        df.groupBy(*keys)
        .agg(
            F.max_by(
                F.struct(*[F.col(c).alias(c) for c in others]), F.col(seq_col)
            ).alias("_row")
        )
        .select(*keys, F.col("_row.*"))
    )


def _hadoop_fs(spark, path: str):
    """(FileSystem, Path-constructor) for ``path`` via the session's JVM."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    P = jvm.org.apache.hadoop.fs.Path
    return P(path).getFileSystem(conf), P


def _staged_write_complete(fs, P, staging: str) -> bool:
    """A staging dir is a complete table iff the committer's _SUCCESS
    marker exists (a crash mid-write leaves files but no marker)."""
    return bool(fs.exists(P(staging.rstrip("/") + "/_SUCCESS")))


def _recover_swap_for_batch(spark, base_path: str, batch_id: int) -> Optional[str]:
    """Repair a half-finished :func:`apply_cdc_stream` swap for one batch id.

    Crash states and their repairs (base = ``base_path``, staging =
    ``._staging_{id}``, backup = ``._replaced_{id}``):

    * backup exists, base exists — crash after promote, before the backup
      delete: the swap finished; drop the backup.
    * backup exists, base missing, staging complete — crash between the
      two renames: promote staging (it was fully written before the swap
      began), then drop the backup.
    * backup exists, base missing, staging missing/partial — restore the
      backup as the base (the batch will be re-merged on retry).
    * no backup — nothing mid-swap; any stale staging is overwritten by
      the next attempt's write, so leave it.

    Returns a short description of the action taken, or None if nothing
    needed repair.
    """
    fs, P = _hadoop_fs(spark, base_path)
    root = base_path.rstrip("/")
    staging, backup = f"{root}._staging_{batch_id}", f"{root}._replaced_{batch_id}"
    if not fs.exists(P(backup)):
        return None
    if fs.exists(P(base_path)):
        fs.delete(P(backup), True)
        return "dropped backup (promote had completed)"
    if fs.exists(P(staging)) and _staged_write_complete(fs, P, staging):
        if not fs.rename(P(staging), P(base_path)):
            raise RuntimeError(
                f"CDC recovery batch {batch_id}: failed to promote complete "
                f"staging {staging} -> {base_path}; backup retained at {backup}"
            )
        fs.delete(P(backup), True)
        return "promoted complete staging, dropped backup"
    if not fs.rename(P(backup), P(base_path)):
        raise RuntimeError(
            f"CDC recovery batch {batch_id}: failed to restore backup "
            f"{backup} -> {base_path}"
        )
    if fs.exists(P(staging)):
        fs.delete(P(staging), True)
    return "restored backup as base (staging incomplete)"


def _swap_in_base(spark, base_path: str, staging: str, batch_id: int,
                  label: str = "CDC swap") -> None:
    """Promote a fully-written ``staging`` directory over ``base_path``
    with the backup-rename protocol of :func:`_stream_store`: move the
    old base aside FIRST
    (a crash between the two renames leaves both versions on disk —
    recoverable by :func:`_recover_swap_for_batch` — never neither),
    promote, verify, and only then delete the backup. Every
    ``FileSystem.rename`` return value is checked (Hadoop renames report
    most failures by returning false, not raising)."""
    backup = base_path.rstrip("/") + f"._replaced_{batch_id}"
    fs, P = _hadoop_fs(spark, base_path)
    dst, src, bak = P(base_path), P(staging), P(backup)
    if not fs.rename(dst, bak):
        raise RuntimeError(
            f"{label} batch {batch_id}: failed to move base aside "
            f"({base_path} -> {backup}); base left untouched"
        )
    if not fs.rename(src, dst):
        # put the base back so the table stays readable, then fail
        if fs.rename(bak, dst):
            raise RuntimeError(
                f"{label} batch {batch_id}: failed to promote staging "
                f"({staging} -> {base_path}); base restored from backup"
            )
        raise RuntimeError(
            f"{label} batch {batch_id}: failed to promote staging "
            f"({staging} -> {base_path}) AND the backup restore failed; "
            f"base is missing — backup retained at {backup}, run "
            "recover_cdc_swap to restore it"
        )
    if not fs.exists(dst):
        raise RuntimeError(
            f"{label} batch {batch_id}: promoted base missing at "
            f"{base_path}; backup retained at {backup}"
        )
    fs.delete(bak, True)


def _each_batch(stream, apply, checkpoint_dir: Optional[str]):
    """Start ``apply(batch_df, batch_id)`` over every micro-batch of
    ``stream`` (a DataFrame or MetaFrame) and return the
    ``StreamingQuery``: ``availableNow`` drains what exists, then stops;
    re-launch on the same ``checkpoint_dir`` to continue. Each batch runs
    inside ``persist_scope``, so every plan it caches is released when it
    ends, committed or not."""
    from ..session import persist_scope

    def _scoped(batch_df, batch_id: int):
        with persist_scope(batch_df.sparkSession):
            apply(batch_df, batch_id)

    raw = stream.to_spark() if isinstance(stream, MetaFrame) else stream
    writer = raw.writeStream.foreachBatch(_scoped).trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def _stream_store(stream, store_path: str, fold, checkpoint_dir: Optional[str],
                  high_water: bool, label: str, require=None):
    """Maintain the parquet store at ``store_path`` from a stream: per
    micro-batch, ``fold(batch_df, prior, batch_id)`` returns the new store
    (``prior`` is None before the first batch), which is staged to
    ``{store}._staging_{id}`` and swapped in by :func:`_swap_in_base`
    (the first batch's staging is just promoted). A retried batch id first
    repairs its own half-finished swap, so ``prior`` is always complete.

    ``high_water=True`` makes non-idempotent folds (additive counts,
    appended rows) exactly-once: every store row carries ``_last_batch``,
    the highest batch id folded in; a batch with ``batch_id <=
    _last_batch`` is skipped, and ``prior`` reaches the fold without the
    column. Batch ids replay in order within one checkpoint, so one mark
    suffices — but one store, one checkpoint: a fresh checkpoint restarts
    ids at 0 and is skipped against an old store's mark.
    ``high_water=False`` is for idempotent folds (HLL register-max,
    upsert). ``require=(condition, message)`` validates a high-water
    store in the same aggregate job as its mark: a ``condition``
    aggregate over ``prior`` that comes out false raises
    ``ValueError(message)`` before the fold runs.

    Each commit records the written schema under the store's new file
    listing in :mod:`metaframe_spark.io`'s schema cache, so the next
    batch reads ``prior`` without a schema-inference job; after a restart,
    or a rewrite by anyone else, the listing differs and the read infers."""
    from ..io import _load, _remember_schema

    def _apply(batch_df, batch_id: int):
        spark = batch_df.sparkSession
        _recover_swap_for_batch(spark, store_path, batch_id)
        fs, P = _hadoop_fs(spark, store_path)
        has_store = fs.exists(P(store_path))
        prior = _load(spark, "parquet", store_path, {}) if has_store else None
        if high_water and has_store:
            last, ok = prior.agg(
                F.max("_last_batch"), require[0] if require else F.lit(True)
            ).collect()[0]
            if last is not None and batch_id <= last:
                return  # replayed batch: already folded into the store
            if ok is False:
                raise ValueError(require[1])
            prior = prior.drop("_last_batch")
        merged = fold(batch_df, prior, batch_id)
        if high_water:
            merged = merged.withColumn(
                "_last_batch", F.lit(batch_id).cast("long")
            )
        staging = store_path.rstrip("/") + f"._staging_{batch_id}"
        merged.write.mode("overwrite").parquet(staging)
        if has_store:
            _swap_in_base(spark, store_path, staging, batch_id, label=label)
        elif not fs.rename(P(staging), P(store_path)):
            raise RuntimeError(
                f"{label} batch {batch_id}: failed to promote "
                f"first-batch staging ({staging} -> {store_path})"
            )
        _remember_schema(spark, "parquet", store_path, merged.schema)

    return _each_batch(stream, _apply, checkpoint_dir)


def _stream_sketch_store(stream, store_path: str, sketch, merge,
                         checkpoint_dir: Optional[str], high_water: bool):
    """:func:`_stream_store` for the mergeable sketch stores: each batch
    is reduced by ``sketch(batch_df)`` and folded in with
    ``merge(store_df, batch_sketch)``."""

    def fold(batch_df, prior, batch_id):
        batch_sk = sketch(batch_df)
        return batch_sk if prior is None else merge(prior, batch_sk)

    return _stream_store(stream, store_path, fold, checkpoint_dir,
                         high_water=high_water, label="sketch-store swap")


def stream_distinct_sketches(
    stream,
    store_path: str,
    columns,
    group_by=None,
    lg_k: int = 12,
    checkpoint_dir: Optional[str] = None,
):
    """Continuously maintain a mergeable distinct-count SKETCH STORE from
    a stream: each micro-batch is sketched
    (:func:`~metaframe_spark.operators.maintenance.distinct_sketches`)
    and hll-union-merged into the parquet store at ``store_path``
    (:func:`~metaframe_spark.operators.maintenance.merge_distinct_sketches`)
    — the streaming face of the incremental-stats story: "distinct users
    ever / per group, updated continuously", with per-group state a few
    KB regardless of stream volume, readable at ANY moment via
    ``sketch_estimates(spark.read.parquet(store_path), group_by)``.

    Retry-safe WITHOUT idempotence bookkeeping: HLL union is
    register-wise max, so re-merging a replayed batch's sketch into a
    store that already contains it is a mathematical no-op — this is the
    rare aggregation whose at-least-once IS exactly-once (the additive
    stores below need the ``_last_batch`` high-water mark instead).
    The first batch creates the store; a missing ``store_path`` is not
    an error.

    Returns the started ``StreamingQuery`` (``availableNow`` trigger —
    drains what exists, then stops; re-launch on the same
    ``checkpoint_dir`` to continue incrementally).
    """
    from ..operators.maintenance import distinct_sketches, merge_distinct_sketches

    keys = list(group_by) if group_by else None
    cols = list(columns)
    return _stream_sketch_store(
        stream,
        store_path,
        lambda b: distinct_sketches(b, cols, group_by=keys, lg_k=lg_k),
        lambda store, new: merge_distinct_sketches(store, new, group_by=keys),
        checkpoint_dir,
        high_water=False,
    )


def stream_moment_sketches(
    stream,
    store_path: str,
    columns,
    group_by=None,
    checkpoint_dir: Optional[str] = None,
):
    """Continuously maintain the EXACT moment store
    (:func:`~metaframe_spark.operators.maintenance.moment_sketches` /
    ``merge_moment_sketches``) from a stream: running count/mean/std/
    min/max per group, readable at any moment via
    ``moment_estimates(spark.read.parquet(store_path).drop("_last_batch"),
    group_by)``. Moment sums are ADDITIVE — a replayed micro-batch would
    double-count — so the store carries the ``_last_batch`` high-water
    mark (see :func:`_stream_store`): at-least-once delivery
    becomes exactly-once, and because the sums are decimal-exact the
    continuously-accreted statistics hash-match a batch pass over
    everything the stream ever delivered."""
    from ..operators.maintenance import merge_moment_sketches, moment_sketches

    keys = list(group_by) if group_by else None
    cols = list(columns)
    return _stream_sketch_store(
        stream,
        store_path,
        lambda b: moment_sketches(b, cols, group_by=keys),
        lambda store, new: merge_moment_sketches(store, new, group_by=keys),
        checkpoint_dir,
        high_water=True,
    )


def stream_histogram_sketches(
    stream,
    store_path: str,
    column: str,
    lo: float,
    hi: float,
    n_bins: int,
    group_by=None,
    checkpoint_dir: Optional[str] = None,
):
    """Continuously maintain the mergeable histogram store
    (:func:`~metaframe_spark.operators.maintenance.histogram_sketch` /
    ``merge_histograms``) from a stream: running quantile estimates per
    group (error bounded by one bin width), readable at any moment via
    ``histogram_quantile_estimates(spark.read.parquet(store_path)
    .drop("_last_batch"), [...], group_by)``. Bin counts are ADDITIVE,
    so exactly-once comes from the ``_last_batch`` high-water mark, as
    with :func:`stream_moment_sketches`.

    One caveat the batch operator does not have: a micro-batch whose
    rows all fall in groups with no in-range values contributes nothing
    for those groups (same as batch), but a group must appear in SOME
    batch with at least one non-null value to exist in the store."""
    from ..operators.maintenance import histogram_sketch, merge_histograms

    keys = list(group_by) if group_by else None
    return _stream_sketch_store(
        stream,
        store_path,
        lambda b: histogram_sketch(
            b, column, lo, hi, n_bins, group_by=keys
        ),
        lambda store, new: merge_histograms(store, new, group_by=keys),
        checkpoint_dir,
        high_water=True,
    )


def stream_term_sketches(
    stream,
    store_path: str,
    column: str,
    group_by=None,
    max_terms: Optional[int] = None,
    checkpoint_dir: Optional[str] = None,
):
    """Continuously maintain the mergeable frequent-terms store
    (:func:`~metaframe_spark.operators.maintenance.term_sketches` /
    ``merge_term_sketches``) from a stream — the streaming face of the
    fourth incremental-stats member: running top-k terms per group,
    readable at any moment via
    ``frequent_term_estimates(spark.read.parquet(store_path)
    .drop("_last_batch"), k, group_by)``. Term counts are ADDITIVE, so
    exactly-once comes from the ``_last_batch`` high-water mark, as
    with :func:`stream_moment_sketches`.

    ``max_terms`` prunes each micro-batch's sketch before the fold; the
    Misra-Gries ``max_err``/``prune_bound`` bracket composes through
    the per-batch merges exactly as in the batch path, and with
    ``max_terms=None`` (or ≥ the live vocabulary) the continuously
    accreted counts hash-match a batch pass over everything the stream
    ever delivered. To ALSO bound the STORE's row count (a pruned batch
    still unions new terms in), compact it offline with
    :func:`~metaframe_spark.operators.maintenance.prune_term_sketch`."""
    from ..operators.maintenance import merge_term_sketches, term_sketches

    keys = list(group_by) if group_by else None
    return _stream_sketch_store(
        stream,
        store_path,
        lambda b: term_sketches(b, column, group_by=keys, max_terms=max_terms),
        lambda store, new: merge_term_sketches(store, new, group_by=keys),
        checkpoint_dir,
        high_water=True,
    )


def stream_cms_sketches(
    stream,
    store_path: str,
    column: str,
    width: int = 1024,
    depth: int = 4,
    group_by=None,
    seed: int = 42,
    checkpoint_dir: Optional[str] = None,
):
    """Continuously maintain the mergeable Count-Min frequency store
    (:func:`~metaframe_spark.operators.maintenance.cms_sketches` /
    ``merge_cms_sketches``) from a stream — the streaming face of the
    sixth incremental-stats member: point-frequency estimates for an
    UNBOUNDED key space (URLs, n-grams, ids) where
    :func:`stream_term_sketches`' store would grow with the live
    vocabulary, this one is capped at groups × depth × width cells
    forever. Readable at any moment via
    ``cms_estimates(spark.read.parquet(store_path).drop("_last_batch"),
    queries, column, group_by)``; estimates never undercount, exactly
    as in batch. Cell counts are ADDITIVE, so exactly-once comes from
    the ``_last_batch`` high-water mark, as with
    :func:`stream_moment_sketches` — and because the cell-wise merge
    is exact, the continuously-accreted store hash-matches a one-pass
    batch sketch over everything the stream ever delivered. The
    width/depth/seed geometry is FIXED at store creation; a restart
    with different parameters raises at the first fold via the
    merge's spec check rather than silently cross-hashing."""
    from ..operators.maintenance import cms_sketches, merge_cms_sketches

    keys = list(group_by) if group_by else None
    return _stream_sketch_store(
        stream,
        store_path,
        lambda b: cms_sketches(
            b, column, width=width, depth=depth, group_by=keys, seed=seed
        ),
        lambda store, new: merge_cms_sketches(store, new, group_by=keys),
        checkpoint_dir,
        high_water=True,
    )


def stream_expectations(
    stream,
    store_path: str,
    rules,
    checkpoint_dir: Optional[str] = None,
):
    """Continuous data-quality gate — Deequ's monitoring loop on a
    stream: every micro-batch runs the declarative rule set
    (:func:`~metaframe_spark.operators.expectations.validate_expectations`
    — one aggregation pass however many rules) and lands its verdict
    rows as the partition ``{store_path}/run_id={batch_id}`` of the
    quality-history store. The store is (run_id, rule, passed,
    n_violations, n_rows) — a few rows per batch — and feeds
    :func:`~metaframe_spark.operators.expectations.validate_anomalies`
    (``estimates=True``, ``run_col="run_id"``, and **group_by=["rule"]**
    — the anomaly engine needs one row per (run, group), and the store
    holds one row per rule per run): "did this rule's violation count
    move outside its trailing history" with no raw rescans, closing the
    loop batch rules → verdict history → anomaly rules that q93/q95
    prove piecewise.

    Unlike the bounded sketch stores (whose whole-store staged swap is
    O(store) per batch against a store that never grows), this history
    is APPEND-ONLY and unbounded, so each batch writes ONLY its own run
    partition — stage under ``._staging_{id}``, one atomic rename to
    ``run_id={id}`` — and never reads or rewrites prior runs: O(rules)
    per batch forever. Exactly-once falls out of the partition dir
    itself: a replayed batch finds its ``run_id={id}`` dir and skips; a
    crash before the rename leaves only staging, which the retry
    rebuilds (verdicts are a pure function of the batch).

    SCOPE NOTE: every rule is evaluated PER MICRO-BATCH. Row-local
    rules mean exactly what they mean in batch; ``unique`` and
    ``foreign_key`` assert within the batch only — a key seen once per
    batch but twice across the stream passes (cross-batch uniqueness is
    :func:`stream_exact_dedup`'s job, or a batch audit over the
    accumulated data). Malformed rules fail at declaration via the
    shared :func:`~metaframe_spark.operators.expectations.check_rules`,
    not inside the running stream. Returns the started
    ``StreamingQuery`` (availableNow)."""
    from ..operators.expectations import check_rules, validate_expectations

    rules = list(rules)
    check_rules(rules)
    root = store_path.rstrip("/")

    def _apply(batch_df, batch_id: int):
        spark = batch_df.sparkSession
        fs, P = _hadoop_fs(spark, root)
        final = root + f"/run_id={batch_id}"
        if fs.exists(P(final)):
            return  # replayed batch: its run partition is already final
        staging = root + f"/._staging_{batch_id}"
        if fs.exists(P(staging)):
            fs.delete(P(staging), True)  # crashed attempt: rebuild
        validate_expectations(batch_df, rules).write.mode(
            "overwrite"
        ).parquet(staging)
        if not fs.exists(P(root)) and not fs.mkdirs(P(root)):
            raise RuntimeError(
                f"stream_expectations batch {batch_id}: cannot create {root}"
            )
        if not fs.rename(P(staging), P(final)):
            raise RuntimeError(
                f"stream_expectations batch {batch_id}: failed to promote "
                f"{staging} -> {final}"
            )

    return _each_batch(stream, _apply, checkpoint_dir)


def stream_ivf_append(
    stream,
    corpus_path: str,
    vec_col: str = "embedding",
    format: str = "parquet",
    checkpoint_dir: Optional[str] = None,
):
    """Continuous ingest into a cell-partitioned IVF serving corpus —
    the streaming face of
    :func:`~metaframe_spark.operators.similarity.append_ivf_corpus`:
    each micro-batch is assigned with the layout's own co-persisted
    centroids and encoded with its stored SQ bounds (never refit — the
    same delta relation the batch append builds, via the shared
    ``_prepare_ivf_delta``), so a streamed corpus probes exactly like a
    batch-appended one, and its per-cell
    files land in the corpus. A probe (:func:`ivf_topk_stored`) at any
    moment sees everything ingested so far.

    Exactly-once without a store rewrite: a plain ``mode("append")``
    would duplicate vectors when Structured Streaming replays a batch
    (at-least-once delivery), and the swap protocol the sketch stores
    use would rewrite the WHOLE corpus per batch — wrong cost shape for
    a serving store that only grows. Instead each batch commits in
    three idempotent steps:

    1. the delta is staged to ``{corpus}/_ingest_staging_{batch_id}``
       (underscore-hidden from the corpus scan; ``_SUCCESS`` marks the
       staged write complete — a crash mid-write leaves no marker and
       the retry rebuilds the stage from scratch);
    2. every staged ``cell=N`` data file is RENAMED into the corpus's
       ``cell=N`` directory under the batch-unique name
       ``ingest{batch_id}_{filename}`` — renames are atomic per file,
       and a file is in exactly one of (staging, corpus), so a crash
       mid-move resumes by moving whatever still remains in staging;
    3. an empty marker file ``{corpus}/_ingest_marks/batch-{id}`` is
       created LAST — the high-water mark. A replayed
       ``batch_id <= max(marks)`` is skipped entirely; a batch whose
       marker is missing re-enters at whichever step its on-disk state
       says (complete staging → resume moves; no staging → recompute).

    The corpus must already exist (created by ``write_ivf_corpus``) —
    streaming into a path with no co-persisted index is refused by the
    shared validation, exactly like the batch append. One corpus, one
    checkpoint: a fresh checkpoint restarts batch ids at 0 and is
    skipped against an old corpus's marks (same contract as the sketch
    stores). Returns the started ``StreamingQuery`` (availableNow)."""
    from ..operators.similarity import _prepare_ivf_delta

    def _apply(batch_df, batch_id: int):
        spark = batch_df.sparkSession
        _commit_ivf_delta(
            spark,
            corpus_path,
            batch_id,
            lambda: _prepare_ivf_delta(
                spark, corpus_path, batch_df, vec_col=vec_col, format=format
            ),
            format=format,
        )

    return _each_batch(stream, _apply, checkpoint_dir)


def _ivf_batch_committed(fs, P, root: str, batch_id: int) -> bool:
    """True when ``batch_id`` is at or below the highest
    ``{root}/_ingest_marks/batch-{id}`` marker — the exactly-once
    high-water record of the staged-move ingest — so its files are
    already in the corpus. The marker is created before the staging dir
    is dropped, so a crash between the two leaves an empty
    ``_ingest_staging_{id}`` skeleton that no later commit ever visits:
    it is deleted here, or ``validate_ivf_corpus`` would fail
    ``no_staging_debris`` forever."""
    marks_dir = P(root + "/_ingest_marks")
    last = -1
    if fs.exists(marks_dir):
        for st in fs.listStatus(marks_dir):
            name = st.getPath().getName()
            if name.startswith("batch-"):
                last = max(last, int(name[len("batch-"):]))
    if batch_id > last:
        return False
    staging = P(root + f"/_ingest_staging_{batch_id}")
    if fs.exists(staging):
        fs.delete(staging, True)
    return True


def _commit_ivf_delta(
    spark, corpus_path: str, batch_id: int, build_delta, format: str = "parquet"
) -> bool:
    """The exactly-once per-batch commit shared by
    :func:`stream_ivf_append` and :func:`stream_semantic_dedup`:

    1. skip entirely when ``batch_id`` is at or below the marker
       high-water (:func:`_ivf_batch_committed`);
    2. (re)build + stage the delta under ``_ingest_staging_{id}`` unless
       a COMPLETE (_SUCCESS-marked) stage already exists — a crash
       mid-write leaves no marker and rebuilds, a crash mid-move resumes
       without recomputing (``build_delta`` is only called when staging
       is needed);
    3. move every staged ``cell=N`` data file into the corpus under the
       batch-unique name ``ingest{id}_{fname}`` (renames atomic per
       file; a file lives in exactly one of staging/corpus);
    4. create the ``_ingest_marks/batch-{id}`` marker LAST, then drop
       the staging skeleton.

    Returns True when the batch was applied (or resumed), False when it
    was skipped as already committed."""
    fs, P = _hadoop_fs(spark, corpus_path)
    root = corpus_path.rstrip("/")
    marks_dir = root + "/_ingest_marks"
    staging = root + f"/_ingest_staging_{batch_id}"
    if _ivf_batch_committed(fs, P, root, batch_id):
        return False
    if not _staged_write_complete(fs, P, staging):
        # no complete stage for this id — (re)build it from the batch
        if fs.exists(P(staging)):
            fs.delete(P(staging), True)  # partial write: start over
        build_delta().write.mode("overwrite").partitionBy("cell").format(
            format
        ).save(staging)
    # move staged per-cell files into the corpus; names are batch-unique
    # so they can never collide with base files or other batches', and
    # rename-atomicity makes a resumed move safe
    for cell_st in fs.listStatus(P(staging)):
        cell_name = cell_st.getPath().getName()
        if not cell_name.startswith("cell="):
            continue
        dest_dir = P(root + "/" + cell_name)
        if not fs.exists(dest_dir) and not fs.mkdirs(dest_dir):
            raise RuntimeError(
                f"ivf ingest batch {batch_id}: cannot create {dest_dir}"
            )
        for f_st in fs.listStatus(cell_st.getPath()):
            fname = f_st.getPath().getName()
            if fname.startswith("_") or fname.startswith("."):
                continue
            dest = P(root + f"/{cell_name}/ingest{batch_id}_{fname}")
            if not fs.rename(f_st.getPath(), dest):
                raise RuntimeError(
                    f"ivf ingest batch {batch_id}: failed to move "
                    f"{f_st.getPath()} -> {dest}"
                )
    # commit: marker LAST, then drop the now-empty staging skeleton
    if not fs.exists(P(marks_dir)) and not fs.mkdirs(P(marks_dir)):
        raise RuntimeError(
            f"ivf ingest batch {batch_id}: cannot create {marks_dir}"
        )
    fs.create(P(marks_dir + f"/batch-{batch_id}"), True).close()
    fs.delete(P(staging), True)
    return True


def stream_semantic_dedup(
    stream,
    corpus_path: str,
    out_path: str,
    min_cosine: float = 0.85,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    within_cells: int = 16,
    format: str = "parquet",
    checkpoint_dir: Optional[str] = None,
):
    """Continuous-ingest SEMANTIC dedup against an accreting IVF corpus —
    the embedding-space member completing the streaming-dedup family
    (:func:`stream_exact_dedup` → byte-identical,
    :func:`stream_neardup_dedup` → MinHash/Jaccard, THIS → SemDeDup
    cosine): per micro-batch, documents whose embeddings near-match a
    batch sibling (lowest id survives,
    :func:`~metaframe_spark.operators.dedup.semantic_dup_pairs`) or ANY
    previously-ingested survivor
    (:func:`~metaframe_spark.operators.dedup.semantic_dup_against`
    against the persisted layout — history is never re-scanned,
    re-assigned, or re-fit; the seen side partition-prunes to the
    touched cells) are dropped; survivors land under
    ``{out_path}/batch={id}`` and ONLY survivors' vectors append to the
    cell-partitioned corpus via the shared exactly-once staged-move
    commit (``_commit_ivf_delta``, same protocol as
    :func:`stream_ivf_append`).

    The corpus must be bootstrapped once with
    :func:`~metaframe_spark.operators.similarity.write_ivf_corpus` (fit
    the index on an initial sample — standard IVF practice); quantized
    layouts are refused by the against-check (a dedup gate needs exact
    cosines). Batch vectors must be unit-normalized and ids integral,
    matching the batch operators. ``within_cells`` bounds the
    within-batch quadratic and must be well below the batch row count
    (the per-batch k-means fits on the batch's own sample).

    Exactly-once: the corpus marker high-water skips replayed batch ids
    outright; each batch's survivors overwrite their OWN ``batch={id}``
    directory, so replays converge on identical output. Because the
    survivor set depends on the CORPUS STATE, a marker-less replay
    first ROLLS BACK anything a crashed attempt of the same batch
    already moved into the corpus (the files are batch-unique, and a
    crash inside the commit always leaves the staging dir as its
    tell) — without the rollback, a partially-committed vector would
    read back as a cross-history dup and silently kill its own
    document. The recompute over the restored
    corpus is deterministic, so output and corpus converge to exactly
    the no-crash result. Returns the started ``StreamingQuery``
    (availableNow)."""
    from ..operators.dedup import (
        _semantic_dup_against,
        dedup_survivors,
        semantic_dup_pairs,
    )
    from ..operators.similarity import _prepare_ivf_delta

    root = corpus_path.rstrip("/")

    def _apply(batch_df, batch_id: int):
        spark = batch_df.sparkSession
        fs, P = _hadoop_fs(spark, corpus_path)
        if _ivf_batch_committed(fs, P, root, batch_id):
            return  # replayed batch: output + corpus already final
        # ROLL BACK any partial commit a crashed attempt of THIS batch
        # left in the corpus before recomputing: unlike stream_ivf_append
        # (whose delta depends only on the batch), this operator's
        # survivor set depends on the CORPUS STATE — a vector a crashed
        # attempt already moved into a cell would read back as a
        # cross-history dup and silently kill its own document on replay.
        # The moved files are batch-unique (ingest{id}_*), so deleting
        # them (plus the staging dir, forcing a full delta rebuild)
        # restores the exact pre-batch corpus and makes the recompute
        # deterministic. A marker-less crash inside the commit always
        # leaves the staging dir behind (it is dropped only AFTER the
        # marker), so the existence check keeps the common path at one
        # namenode call with no per-cell listing.
        staging = root + f"/_ingest_staging_{batch_id}"
        if fs.exists(P(staging)):
            prefix = f"ingest{batch_id}_"
            for cell_st in fs.listStatus(P(root)):
                cell_name = cell_st.getPath().getName()
                if not cell_name.startswith("cell="):
                    continue
                for f_st in fs.listStatus(cell_st.getPath()):
                    if f_st.getPath().getName().startswith(prefix):
                        fs.delete(f_st.getPath(), False)
            fs.delete(P(staging), True)
        batch = batch_df.select(id_col, vec_col)
        pairs = semantic_dup_pairs(
            batch,
            min_cosine=min_cosine,
            n_cells=within_cells,
            id_col=id_col,
            vec_col=vec_col,
        )
        local = dedup_survivors(batch, pairs, id_col=id_col)
        hits, assigned = _semantic_dup_against(
            spark,
            corpus_path,
            local,
            min_cosine=min_cosine,
            new_id=id_col,
            seen_id=id_col,
            vec_col=vec_col,
            format=format,
        )
        dead = hits.select(F.col("new_id").alias(id_col)).distinct()
        survivors = local.join(dead, id_col, "left_anti").persist()
        survivors.write.mode("overwrite").format(format).save(
            out_path.rstrip("/") + f"/batch={batch_id}"
        )
        # the delta's cells come from the assignment the dup-check already
        # pinned — (id, vec, _cell) for the WHOLE batch against this
        # layout's own centroids — so the assignment GEMM runs once per
        # batch, never again over the survivors
        _commit_ivf_delta(
            spark,
            corpus_path,
            batch_id,
            lambda: _prepare_ivf_delta(
                spark, corpus_path, survivors,
                vec_col=vec_col, format=format,
                cells=assigned.select(id_col, "_cell"),
                cells_on=id_col,
            ),
            format=format,
        )

    return _each_batch(stream, _apply, checkpoint_dir)


def stream_bottomk_samples(
    stream,
    store_path: str,
    id_col: str,
    k: int,
    group_by=None,
    seed: int = 42,
    payload=None,
    checkpoint_dir: Optional[str] = None,
):
    """Continuously maintain the mergeable bottom-k (KMV) sample store
    (:func:`~metaframe_spark.operators.maintenance.bottomk_sample_sketch`
    / ``merge_bottomk_samples``) from a stream — the streaming face of
    the FIFTH incremental statistic, completing the set next to the
    distinct/moment/histogram/term maintainers: a uniform per-group
    sample (and KMV distinct sketch) of everything the stream ever
    delivered, readable at any moment via
    ``kmv_distinct_estimates(spark.read.parquet(store_path), k,
    group_by)``, with per-group state capped at k rows.

    Retry-safe WITHOUT the ``_last_batch`` high-water mark: the draw key
    is a pure function of the row id, so re-merging a replayed batch's
    sketch deduplicates on ``draw_key`` to the identical store — like
    HLL register-max (and unlike the additive moment/histogram/term
    stores), this at-least-once merge IS exactly-once. The one contract
    that matters: ids must be stable across replays (they are for CDC
    keys, doc ids, file offsets — anything worth sampling by).

    Returns the started ``StreamingQuery`` (availableNow trigger;
    re-launch on the same ``checkpoint_dir`` to continue)."""
    from ..operators.maintenance import (
        bottomk_sample_sketch,
        merge_bottomk_samples,
    )

    keys = list(group_by) if group_by else None
    cols = list(payload) if payload else None
    return _stream_sketch_store(
        stream,
        store_path,
        lambda b: bottomk_sample_sketch(
            b, id_col, k, group_by=keys, seed=seed, payload=cols
        ),
        lambda store, new: merge_bottomk_samples(
            store, new, k=k, group_by=keys
        ),
        checkpoint_dir,
        high_water=False,
    )


def stream_neardup_dedup(
    stream,
    store_path: str,
    out_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    n_bands: int = 16,
    band_rows: int = 3,
    min_jaccard: float = 0.7,
    seed: int = 42,
    checkpoint_dir: Optional[str] = None,
):
    """Continuous-ingest NEAR-duplicate dedup against an accreting
    MinHash signature store — the streaming composition of the batch
    operators over ONE :func:`minhash_signatures` relation per batch:
    per micro-batch, documents near-matching either a batch sibling
    (lowest id survives, as in ``dedup_survivors``) or ANY
    previously-ingested survivor are dropped, the survivors land under
    ``{out_path}/batch={id}`` and ONLY survivors' signatures join the
    store at ``store_path`` — history is never re-tokenized and its
    text is never retained, so cross-history state is the signature
    relation, not the corpus. :func:`stream_exact_dedup` bounds its
    state by a watermark horizon because byte-identical repeats recur
    forever; near-dup ingestion needs the unbounded-history guarantee,
    and the signature store is the bounded-BY-CONTENT form of it.

    Each batch runs ONE band join, checkpointed once: the band relation
    is the batch's signatures (side 0) ∪ the store (side 1), keyed on
    ``(side, id)`` so batch and store ids may overlap, and its verified
    pairs split into within-batch pairs (→ the batch's losers) and
    store matches; it does not call ``minhash_near_dup_against``. The
    losers and the store matches are collected once as the batch's
    drop set, which both the output write and the store append
    anti-join. The store's ``shingle_n`` is checked in the same
    aggregate that reads its high-water mark: a store built with another
    ``shingle_n`` raises ``ValueError`` before the batch writes anything.

    Exactly-once: every store row carries the ``_last_batch`` high-water
    mark (the id of the latest batch folded in, not of the batch that
    added the row) — a replayed batch id is skipped entirely — and each
    batch's survivors are written to their OWN ``batch={id}`` directory
    with overwrite, so a crash between the output write and the store
    swap replays into an identical overwrite, never a duplicate append.
    The store swap itself is the crash-safe staged rename shared with
    :func:`apply_cdc_stream` (repairable via :func:`recover_cdc_swap`).

    Caveat shared with every MinHash operator here: documents shorter
    than ``shingle_n`` tokens have no shingles and never match — pair
    with :func:`stream_exact_dedup` upstream if byte-identical shorts
    matter. Returns the started ``StreamingQuery`` (availableNow)."""
    from ..operators.dedup import (
        _banded_pairs,
        _near_dup_losers,
        minhash_signatures,
    )

    def fold(batch_df, prior, batch_id):
        # tokenize/shingle/hash the batch ONCE: these signatures serve the
        # band join and the store append (the batch's persist_scope
        # releases them)
        sigs = minhash_signatures(batch_df, id_col, text_col, shingle_n).persist()
        pairs = _banded_pairs(
            sigs, id_col, n_bands, band_rows, min_jaccard, seed, store=prior
        )
        drop = _near_dup_losers(
            pairs if prior is None else pairs.filter(F.col("side") == 0), id_col
        )
        if prior is not None:
            # within-batch losers ∪ store matches, collected once: both id
            # sets are small (driver-path labels, checkpointed pairs), and
            # the output and store writes then each anti-join a local
            # relation instead of re-running the two joins
            dead = pairs.filter(F.col("side") == 1).select(
                F.col("id_a").alias(id_col)
            )
            drop = batch_df.sparkSession.createDataFrame(
                drop.unionByName(dead).toArrow()
            )
        batch_df.join(drop, id_col, "left_anti").write.mode("overwrite").parquet(
            out_path.rstrip("/") + f"/batch={batch_id}"
        )
        sigs = sigs.join(drop, id_col, "left_anti")
        return sigs if prior is None else prior.unionByName(sigs)

    return _stream_store(
        stream, store_path, fold, checkpoint_dir, high_water=True,
        label="neardup signature-store swap",
        require=(
            F.bool_and(F.col("shingle_n").eqNullSafe(int(shingle_n))),
            f"the signature store at {store_path} was built with a different "
            f"shingle_n than this call's shingle_n={shingle_n}; rebuild the "
            "store or match the parameter",
        ),
    )


def recover_cdc_swap(spark, base_path: str) -> Dict[int, str]:
    """Restore the newest complete version of a CDC base table after a
    crash mid-:func:`apply_cdc_stream`-swap.

    Scans for ``{base}._staging_N`` / ``{base}._replaced_N`` leftovers and
    repairs each batch id in DESCENDING order via the same state machine
    the stream itself uses on retry (:func:`_recover_swap_for_batch`).
    Descending is load-bearing: micro-batches are applied serially, so
    the highest id's state is the newest — its crashed swap is repaired
    first (restoring the newest complete version as the base), after which
    every older batch's backup is provably stale debris and is dropped by
    its own base-present rule. Ascending would restore an old backup as
    the base and then mistake the newest batch's un-promoted staging for a
    finished swap. Safe to run any time — a clean table is a no-op.
    Returns ``{batch_id: action}`` for every batch that needed repair.
    """
    import re

    fs, P = _hadoop_fs(spark, base_path)
    root = base_path.rstrip("/")
    parent = P(root).getParent()
    name = P(root).getName()
    pat = re.compile(re.escape(name) + r"\._(?:staging|replaced)_(\d+)$")
    ids = set()
    if fs.exists(parent):
        for st in fs.listStatus(parent):
            m = pat.match(st.getPath().getName())
            if m:
                ids.add(int(m.group(1)))
    actions: Dict[int, str] = {}
    for bid in sorted(ids, reverse=True):
        act = _recover_swap_for_batch(spark, base_path, bid)
        if act:
            actions[bid] = act
    return actions


def apply_cdc_stream(
    stream,
    base_path: str,
    keys,
    seq_col: str,
    delete_col: Optional[str] = None,
    checkpoint_dir: Optional[str] = None,
):
    """Continuously apply a CDC change stream to a parquet base table:
    each micro-batch is collapsed to its last change per key
    (:func:`latest_per_key`), merged into the base with
    :func:`~metaframe_spark.operators.merge.merge_upsert` (broadcast
    anti + union — the base is scanned, never shuffled), written to a
    staging directory and swapped in. Returns the started
    ``StreamingQuery``; stop it (or use ``availableNow`` upstream) to
    finish.

    Micro-batches run serially with exactly-once batch ids, so
    the merge sequence is the stream order. The directory swap is
    rename-based: atomic on HDFS/POSIX, best-effort on object stores —
    at production scale put a transactional table format (Iceberg /
    Delta) under the same ``merge_upsert`` plan instead; the relational
    shape (this module's concern) is identical.

    Crash safety: the old base is renamed aside BEFORE staging is
    promoted, so a crash between the two renames leaves both versions on
    disk (recoverable by :func:`recover_cdc_swap`), never neither. Every
    ``FileSystem.rename`` return value is checked (Hadoop renames report
    most failures by returning false, not raising) and the backup is
    deleted only after the promoted base is verified to exist. A retried
    batch id first repairs any half-finished swap left by a previous
    attempt of the same batch (``merge_upsert`` is idempotent, so
    re-merging an already-applied batch is safe).
    """
    from ..operators.merge import merge_upsert

    keys = list(keys)

    def fold(batch_df, base, batch_id):
        if base is None:  # no base table: raise the reader's missing-path error
            base = batch_df.sparkSession.read.parquet(base_path)
        delta = latest_per_key(batch_df, keys, seq_col)
        return merge_upsert(
            base, delta.select(*base.columns, *(
                [delete_col] if delete_col else []
            )), keys, delete_col
        )

    return _stream_store(stream, base_path, fold, checkpoint_dir,
                         high_water=False, label="CDC swap")
