"""Structured Streaming contract (SURVEY.md §5 test plan, §7.2 P4):
file source → watermark → event-time window agg → memory sink, with
metadata surviving every DataFrame hop and the writeStream accessor.

The streaming result must equal the identical batch aggregation over the
same files (append mode emits exactly the closed windows once the
watermark passes end-of-data... for a finite file source we use 'complete'
mode so every window is emitted without needing late-arriving batches)."""

import pytest
from pyspark.sql import functions as F

from metaframe_spark.core import MetaFrame, MetaStreamWriter
from metaframe_spark.io import load_table
from metaframe_spark.streaming import read_file_stream, windowed_event_counts

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    """events sf0.001 re-written as a small multi-file parquet directory."""
    d = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, SF, "events").to_spark().repartition(4).write.mode(
        "overwrite"
    ).parquet(d)
    return d


def test_watermark_window_agg_matches_batch(spark, stream_dir):
    batch = spark.read.parquet(stream_dir)
    schema = batch.schema

    stream = read_file_stream(
        spark, stream_dir, schema, metadata={"src": "events", "mode": "stream"}
    )
    assert stream.metadata == {"src": "events", "mode": "stream"}
    assert stream.isStreaming

    agg = windowed_event_counts(stream, "ts", "event_type", window="1 hour")
    # metadata survived withWatermark -> groupBy -> agg -> select
    assert isinstance(agg, MetaFrame)
    assert agg.metadata["src"] == "events"

    writer = agg.writeStream
    assert isinstance(writer, MetaStreamWriter)
    assert writer.metadata["src"] == "events"

    q = (
        writer.outputMode("complete")
        .format("memory")
        .queryName("wincounts")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.window_start, r.event_type): r.cnt
        for r in spark.sql("select * from wincounts").collect()
    }
    want = {
        (r.window_start, r.event_type): r.cnt
        for r in windowed_event_counts(
            MetaFrame(batch, {}), "ts", "event_type", window="1 hour"
        ).collect()
    }
    assert got == want
    assert len(want) > 10


def test_dropduplicates_within_watermark_proxies(spark, stream_dir):
    schema = spark.read.parquet(stream_dir).schema
    stream = read_file_stream(spark, stream_dir, schema, metadata={"k": "v"})
    out = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    assert isinstance(out, MetaFrame)
    assert out.metadata["k"] == "v"
    assert out.isStreaming


def test_dropduplicates_within_watermark_end_to_end(spark, stream_dir, tmp_path):
    """Streaming dedup with bounded state: a duplicate-injected stream
    (every event written twice) drained with availableNow must emit each
    event_id exactly once — the streaming twin of batch dropDuplicates,
    with the watermark bounding state instead of a full-history hash set."""
    import pyspark.sql.functions as SF

    batch = spark.read.parquet(stream_dir)
    dup_dir = str(tmp_path / "dups")
    batch.unionAll(batch).write.parquet(dup_dir)

    schema = batch.schema
    stream = read_file_stream(spark, dup_dir, schema, metadata={"k": "v"})
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("select event_id, count(*) c from dedup_stream group by event_id")
    n_ids = got.count()
    assert n_ids == batch.select("event_id").distinct().count()
    assert got.filter(SF.col("c") > 1).count() == 0  # exactly-once per id


def test_stream_exact_dedup_matches_batch_distincts(spark, tmp_path):
    """stream_exact_dedup: continuous-ingestion exact dedup keyed on the
    content digest. A corpus written with every text duplicated (fresh
    doc_ids) must drain to exactly one row per distinct text — the same
    distinct-content set the batch operator keeps. Survivor IDENTITY is
    arrival-order-dependent in a stream, so the check pins the content
    set, not the ids."""
    from metaframe_spark.streaming import stream_exact_dedup

    docs = (
        load_table(spark, SF, "documents")
        .to_spark()
        .limit(60)
        .select("doc_id", "text")
        .withColumn("ts", F.to_timestamp(F.lit("2026-01-01 00:00:00")))
    )
    dups = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "ts"
    )
    src = str(tmp_path / "docs_dup")
    docs.unionByName(dups).repartition(4).write.parquet(src)

    stream = read_file_stream(
        spark, src, spark.read.parquet(src).schema, metadata={"k": "v"}
    )
    deduped = stream_exact_dedup(stream, "text", "ts", watermark="1 hour")
    assert isinstance(deduped, MetaFrame)
    assert deduped.metadata["k"] == "v"
    assert deduped.columns == ["doc_id", "text", "ts"]  # helper column dropped
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("sdedup")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("select text from sdedup")
    from metaframe_spark.operators.dedup import content_hash

    assert got.count() == got.distinct().count()
    want = docs.select(content_hash(F.col("text")).alias("d")).distinct().count()
    assert (
        got.select(content_hash(F.col("text")).alias("d")).distinct().count()
        == want
        == got.count()
    )


def test_foreachbatch_sink_delivers_every_micro_batch(spark, stream_dir):
    """foreachBatch — the custom-sink escape hatch (upserts, JDBC, training
    shard push): the per-batch callback must see every row exactly once
    across the availableNow drain, through the MetaFrame wrapper."""
    schema = spark.read.parquet(stream_dir).schema
    stream = read_file_stream(spark, stream_dir, schema, metadata={"k": "v"})
    seen = {"rows": 0, "batches": 0}

    def sink(batch_df, batch_id):
        # batch_df is a plain DataFrame scoped to this micro-batch
        seen["rows"] += batch_df.count()
        seen["batches"] += 1

    q = (
        stream.select("event_id", "ts", "event_type")
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert seen["rows"] == spark.read.parquet(stream_dir).count()
    assert seen["batches"] >= 1


def test_stateful_running_count(spark, stream_dir):
    """applyInPandasWithState: per-key running counts in explicit GroupState
    must converge to the batch per-key totals after one availableNow pass."""
    from metaframe_spark.streaming import running_count_with_state

    schema = spark.read.parquet(stream_dir).schema
    stream = read_file_stream(spark, stream_dir, schema, metadata={"m": 1})
    counts = running_count_with_state(stream, "event_type")
    q = (
        counts.writeStream.outputMode("update")
        .format("memory")
        .queryName("runcounts")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # last emitted value per key == batch count
    import pyspark.sql.functions as SF

    got = {
        r.event_type: r.running_count
        for r in spark.sql(
            "select event_type, max(running_count) running_count "
            "from runcounts group by event_type"
        ).collect()
    }
    want = {
        r.event_type: r.c
        for r in spark.read.parquet(stream_dir)
        .groupBy("event_type")
        .agg(SF.count(SF.lit(1)).alias("c"))
        .collect()
    }
    assert got == want


def test_session_window_streaming_matches_batch(spark, stream_dir):
    """sessionize() on a stream (complete mode) equals sessionize() on the
    same data as a batch frame."""
    from metaframe_spark.streaming import sessionize

    schema = spark.read.parquet(stream_dir).schema
    stream = read_file_stream(spark, stream_dir, schema)
    q = (
        sessionize(stream, "ts", "user_id", gap="30 minutes")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sessions")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.user_id, r.session_start): (r.session_end, r.n_events)
        for r in spark.sql("select * from sessions").collect()
    }
    want = {
        (r.user_id, r.session_start): (r.session_end, r.n_events)
        for r in sessionize(
            MetaFrame(spark.read.parquet(stream_dir), {}), "ts", "user_id"
        ).collect()
    }
    assert got == want


def test_stream_static_enrichment_join_matches_batch(spark, stream_dir):
    """Stream-static join — the standard streaming-enrichment shape (events
    stream ⋈ broadcast dim table). The static side is re-read per
    micro-batch by Spark, needs no watermark, and the joined stream must
    equal the batch join over the same files. Metadata flows through the
    join like any DataFrame hop."""
    batch = spark.read.parquet(stream_dir)
    # tiny static dim: event_type -> category (derived, deterministic)
    dim = (
        batch.select("event_type")
        .distinct()
        .withColumn("category", F.upper(F.col("event_type")))
    )
    stream = read_file_stream(spark, stream_dir, batch.schema, metadata={"src": "ev"})
    joined = stream.join(F.broadcast(dim), "event_type").select(
        "event_id", "event_type", "category"
    )
    assert isinstance(joined, MetaFrame)
    assert joined.metadata == {"src": "ev"}
    assert joined.isStreaming

    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("enriched")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.event_id, r.category)
        for r in spark.sql("select * from enriched").collect()
    }
    want = {
        (r.event_id, r.category)
        for r in batch.join(dim, "event_type")
        .select("event_id", "category")
        .collect()
    }
    assert got == want and len(want) > 100


def test_stream_stream_interval_join_matches_batch(spark, stream_dir):
    """Stream-stream inner join with watermarks and a time-range condition —
    the CDC/clickstream-correlation shape. Each side carries a watermark so
    Spark can bound the join state; the predicate is an equi-join on
    user_id plus an event-time interval (right within [left, left+10min]),
    which Structured Streaming requires to prune state. The streaming
    result must equal the identical batch join."""
    batch = spark.read.parquet(stream_dir)
    views = batch.filter(F.col("event_type") == "view")
    errors = batch.filter(F.col("event_type") == "error")

    def sides():
        s = read_file_stream(spark, stream_dir, batch.schema, metadata={"s": 1})
        lhs = (
            s.filter(F.col("event_type") == "view")
            .select(
                F.col("user_id"),
                F.col("event_id").alias("view_id"),
                F.col("ts").alias("view_ts"),
            )
            .withWatermark("view_ts", "1 minute")
        )
        s2 = read_file_stream(spark, stream_dir, batch.schema, metadata={"s": 2})
        rhs = (
            s2.filter(F.col("event_type") == "error")
            .select(
                F.col("user_id"),
                F.col("event_id").alias("err_id"),
                F.col("ts").alias("err_ts"),
            )
            .withWatermark("err_ts", "1 minute")
        )
        return lhs, rhs

    lhs, rhs = sides()
    cond = (
        (F.col("view_ts") <= F.col("err_ts"))
        & (F.col("err_ts") <= F.col("view_ts") + F.expr("interval 10 minutes"))
    )
    joined = lhs.join(rhs, on=["user_id"], how="inner").filter(cond)
    assert isinstance(joined, MetaFrame)
    assert joined.isStreaming

    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_join")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.user_id, r.view_id, r.err_id)
        for r in spark.sql("select * from ss_join").collect()
    }
    lv = views.select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts")
    )
    re_ = errors.select(
        "user_id", F.col("event_id").alias("err_id"), F.col("ts").alias("err_ts")
    )
    want = {
        (r.user_id, r.view_id, r.err_id)
        for r in lv.join(re_, "user_id")
        .filter(
            (F.col("view_ts") <= F.col("err_ts"))
            & (F.col("err_ts") <= F.col("view_ts") + F.expr("interval 10 minutes"))
        )
        .collect()
    }
    assert got == want
    assert len(want) > 0


def test_transform_with_state_running_totals(spark, stream_dir):
    """Spark 4 transformWithStateInPandas (typed ValueState on RocksDB):
    per-user running purchase totals drained with availableNow must equal
    the batch per-user aggregates.

    The transformWithState Python driver worker speaks protobuf to the
    JVM; without the google.protobuf package the worker cannot start
    (verified: StateMessage_pb2 ImportError), so the test skips in
    protobuf-less environments — the operator itself is plain public
    PySpark API and runs wherever protobuf is installed."""
    pytest.importorskip("google.protobuf")
    import pyspark.sql.functions as SF

    from metaframe_spark.streaming import running_total_with_state

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        schema = spark.read.parquet(stream_dir).schema
        stream = read_file_stream(spark, stream_dir, schema, metadata={"m": 1})
        totals = running_total_with_state(
            stream.filter(SF.col("event_type") == "purchase"),
            "user_id",
            "value",
        )
        q = (
            totals.writeStream.outputMode("update")
            .format("memory")
            .queryName("tws_totals")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            (r.user_id): (round(r.running_value, 6), r.n_events)
            for r in spark.sql(
                "select user_id, running_value, n_events from tws_totals t "
                "where n_events = (select max(n_events) from tws_totals "
                "                  where user_id = t.user_id)"
            ).collect()
        }
        want = {
            r.user_id: (round(r.total, 6), r.n)
            for r in spark.read.parquet(stream_dir)
            .filter(SF.col("event_type") == "purchase")
            .groupBy("user_id")
            .agg(
                SF.sum("value").alias("total"),
                SF.count(SF.lit(1)).alias("n"),
            )
            .collect()
        }
        assert got == want and len(want) > 0
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


class TestStreamDistinctSketches:
    def _estimates(self, spark, store, keys):
        from metaframe_spark.operators.maintenance import sketch_estimates

        return {
            tuple(getattr(r, k) for k in keys): r.user_distinct
            for r in sketch_estimates(
                spark.read.parquet(store), group_by=keys
            ).collect()
        }

    def test_multi_batch_store_matches_batch_exact(self, spark, tmp_path):
        """Two micro-batches drain into the sketch store; per-group
        estimates equal the batch-mode exact distinct counts (coupon
        range) over the concatenated input."""
        from metaframe_spark.streaming import stream_distinct_sketches

        src = tmp_path / "src"
        src.mkdir()
        b1 = spark.createDataFrame(
            [(i % 3, i % 67) for i in range(300)], "grp int, user int"
        )
        b2 = spark.createDataFrame(
            [(i % 3, (i * 7) % 131) for i in range(300)], "grp int, user int"
        )
        b1.coalesce(1).write.parquet(str(src / "f1"))
        b2.coalesce(1).write.parquet(str(src / "f2"))
        store = str(tmp_path / "store")
        stream = (
            spark.readStream.schema(b1.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        q = stream_distinct_sketches(
            stream, store, ["user"], group_by=["grp"],
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = self._estimates(spark, store, ["grp"])
        want = {
            (r.grp,): r.d
            for r in b1.union(b2)
            .groupBy("grp")
            .agg(F.countDistinct("user").alias("d"))
            .collect()
        }
        assert got == want

    def test_continuation_and_replay_idempotence(self, spark, tmp_path):
        """Re-launching on the same checkpoint after new files arrive
        extends the store incrementally; re-draining EVERYTHING on a
        fresh checkpoint (every batch replayed into the existing store)
        leaves the estimates unchanged — HLL merge makes at-least-once
        delivery exactly-once."""
        from metaframe_spark.streaming import stream_distinct_sketches

        src = tmp_path / "src"
        src.mkdir()
        b1 = spark.createDataFrame(
            [(0, i % 97) for i in range(200)], "grp int, user int"
        )
        b1.coalesce(1).write.parquet(str(src / "f1"))
        store = str(tmp_path / "store")
        schema = b1.schema

        def drain(ckpt):
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src / "*"))
            )
            q = stream_distinct_sketches(
                stream, store, ["user"], group_by=["grp"],
                checkpoint_dir=str(tmp_path / ckpt),
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        drain("ckpt")
        assert self._estimates(spark, store, ["grp"]) == {(0,): 97}
        # new file arrives; same checkpoint -> only f2 is read
        b2 = spark.createDataFrame(
            [(0, 100 + (i % 31)) for i in range(100)], "grp int, user int"
        )
        b2.coalesce(1).write.parquet(str(src / "f2"))
        drain("ckpt")
        assert self._estimates(spark, store, ["grp"]) == {(0,): 97 + 31}
        # full replay into the EXISTING store (fresh checkpoint):
        # register-wise max absorbs every duplicate batch
        drain("ckpt_replay")
        assert self._estimates(spark, store, ["grp"]) == {(0,): 97 + 31}


class TestStreamAdditiveSketchStores:
    """Moment/histogram stores are ADDITIVE (a replayed batch would
    double-count) — exactly-once comes from the _last_batch high-water
    mark, not from merge idempotence like the HLL store."""

    def _drain(self, spark, fn, src, ckpt, schema, **kw):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        q = fn(stream, **kw, checkpoint_dir=str(ckpt))
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def test_moment_store_matches_batch_exact_and_skips_replays(
        self, spark, tmp_path
    ):
        from metaframe_spark.operators.maintenance import moment_estimates
        from metaframe_spark.streaming import stream_moment_sketches

        src = tmp_path / "src"
        src.mkdir()
        b1 = spark.createDataFrame(
            [(i % 3, float(i % 13) + 0.5) for i in range(300)], "g int, x double"
        )
        b2 = spark.createDataFrame(
            [(i % 3, float((i * 7) % 31)) for i in range(300)], "g int, x double"
        )
        b1.coalesce(1).write.parquet(str(src / "f1"))
        b2.coalesce(1).write.parquet(str(src / "f2"))
        store = str(tmp_path / "store")

        def estimates():
            return {
                r.g: (r.x_count, r.x_mean, r.x_std, r.x_min, r.x_max)
                for r in moment_estimates(
                    spark.read.parquet(store).drop("_last_batch"),
                    group_by=["g"],
                ).collect()
            }

        self._drain(
            spark, stream_moment_sketches, src, tmp_path / "ckpt", b1.schema,
            store_path=store, columns=["x"], group_by=["g"],
        )
        got = estimates()
        want = {
            r.g: (r.n, r.m, r.s, r.mn, r.mx)
            for r in b1.union(b2)
            .groupBy("g")
            .agg(
                F.count("x").alias("n"),
                F.round(F.avg("x"), 6).alias("m"),
                F.round(F.stddev("x"), 6).alias("s"),
                F.min("x").alias("mn"),
                F.max("x").alias("mx"),
            )
            .collect()
        }
        assert got == want
        # a fresh checkpoint re-delivers every batch with RESTARTED ids
        # (0, 1) <= the store's high-water mark -> all skipped, store
        # unchanged: the additive store does not double-count replays
        self._drain(
            spark, stream_moment_sketches, src, tmp_path / "ckpt_replay",
            b1.schema, store_path=store, columns=["x"], group_by=["g"],
        )
        assert estimates() == want
        # continuation on the ORIGINAL checkpoint: a new file is batch 2 >
        # high-water 1 -> applied
        b3 = spark.createDataFrame([(0, 1000.0)], "g int, x double")
        b3.coalesce(1).write.parquet(str(src / "f3"))
        self._drain(
            spark, stream_moment_sketches, src, tmp_path / "ckpt", b1.schema,
            store_path=store, columns=["x"], group_by=["g"],
        )
        got3 = estimates()
        assert got3[0][0] == want[0][0] + 1
        assert got3[0][4] == 1000.0
        assert got3[1] == want[1] and got3[2] == want[2]

    def test_histogram_store_matches_batch_exact(self, spark, tmp_path):
        from metaframe_spark.operators.maintenance import (
            histogram_quantile_estimates,
            histogram_sketch,
        )
        from metaframe_spark.streaming import stream_histogram_sketches

        src = tmp_path / "src"
        src.mkdir()
        b1 = spark.createDataFrame(
            [(i % 2, float(i % 23)) for i in range(230)], "g int, x double"
        )
        b2 = spark.createDataFrame(
            [(i % 2, float((i * 3) % 29) - 2.0) for i in range(290)],
            "g int, x double",
        )
        b1.coalesce(1).write.parquet(str(src / "f1"))
        b2.coalesce(1).write.parquet(str(src / "f2"))
        store = str(tmp_path / "store")
        self._drain(
            spark, stream_histogram_sketches, src, tmp_path / "ckpt", b1.schema,
            store_path=store, column="x", lo=0.0, hi=23.0, n_bins=23,
            group_by=["g"],
        )
        got = sorted(
            spark.read.parquet(store).drop("_last_batch").collect()
        )
        want = sorted(
            histogram_sketch(
                b1.union(b2), "x", 0.0, 23.0, 23, group_by=["g"]
            ).collect()
        )
        assert got == want
        # the store is quantile-readable at any moment
        est = histogram_quantile_estimates(
            spark.read.parquet(store).drop("_last_batch"), [0.5], group_by=["g"]
        ).collect()
        assert all(r.x_p50 is not None for r in est)

    def test_term_store_matches_batch_exact_and_skips_replays(
        self, spark, tmp_path
    ):
        from metaframe_spark.operators.maintenance import (
            frequent_term_estimates,
            term_sketches,
        )
        from metaframe_spark.streaming import stream_term_sketches

        src = tmp_path / "src"
        src.mkdir()
        b1 = spark.createDataFrame(
            [(i % 2, f"t{i % 9}") for i in range(270)], "g int, w string"
        )
        b2 = spark.createDataFrame(
            [(i % 2, f"t{(i * 5) % 11}") for i in range(220)], "g int, w string"
        )
        b1.coalesce(1).write.parquet(str(src / "f1"))
        b2.coalesce(1).write.parquet(str(src / "f2"))
        store = str(tmp_path / "store")

        def top():
            return sorted(
                map(
                    tuple,
                    frequent_term_estimates(
                        spark.read.parquet(store).drop("_last_batch"),
                        5,
                        group_by=["g"],
                    ).collect(),
                )
            )

        self._drain(
            spark, stream_term_sketches, src, tmp_path / "ckpt", b1.schema,
            store_path=store, column="w", group_by=["g"],
        )
        # unpruned continuous accretion == one batch pass over everything
        want = sorted(
            map(
                tuple,
                frequent_term_estimates(
                    term_sketches(b1.union(b2), "w", group_by=["g"]),
                    5,
                    group_by=["g"],
                ).collect(),
            )
        )
        assert top() == want
        # fresh checkpoint replays both batches with restarted ids -> both
        # skipped by the high-water mark, counts not doubled
        self._drain(
            spark, stream_term_sketches, src, tmp_path / "ckpt_replay",
            b1.schema, store_path=store, column="w", group_by=["g"],
        )
        assert top() == want
        # continuation applies only the new file; pruned batches carry their
        # Misra-Gries bounds through the fold
        b3 = spark.createDataFrame(
            [(0, "boom")] * 50 + [(0, "tail")], "g int, w string"
        )
        b3.coalesce(1).write.parquet(str(src / "f3"))
        self._drain(
            spark, stream_term_sketches, src, tmp_path / "ckpt", b1.schema,
            store_path=store, column="w", group_by=["g"], max_terms=1,
        )
        rows = {
            (r["g"], r["term"]): r
            for r in spark.read.parquet(store).drop("_last_batch").collect()
        }
        boom = rows[(0, "boom")]
        assert boom["count"] == 50
        # "tail" was pruned from batch 2's sketch, so group 0's bound >= 1
        assert boom["prune_bound"] >= 1

    def test_cms_store_matches_batch_exact_and_skips_replays(
        self, spark, tmp_path
    ):
        from metaframe_spark.operators.maintenance import (
            cms_estimates,
            cms_sketches,
        )
        from metaframe_spark.streaming import stream_cms_sketches

        src = tmp_path / "src"
        src.mkdir()
        b1 = spark.createDataFrame(
            [(i % 2, f"t{i % 9}") for i in range(270)], "g int, w string"
        )
        b2 = spark.createDataFrame(
            [(i % 2, f"t{(i * 5) % 11}") for i in range(220)], "g int, w string"
        )
        b1.coalesce(1).write.parquet(str(src / "f1"))
        b2.coalesce(1).write.parquet(str(src / "f2"))
        store = str(tmp_path / "store")

        def cells():
            return sorted(
                map(
                    tuple,
                    spark.read.parquet(store).drop("_last_batch").collect(),
                )
            )

        kw = dict(
            store_path=store, column="w", width=16, depth=3, group_by=["g"]
        )
        self._drain(
            spark, stream_cms_sketches, src, tmp_path / "ckpt", b1.schema, **kw
        )
        # continuous accretion is cell-identical to one batch pass
        want = sorted(
            map(
                tuple,
                cms_sketches(
                    b1.union(b2), "w", width=16, depth=3, group_by=["g"]
                ).collect(),
            )
        )
        assert cells() == want
        # fresh checkpoint replays both batches with restarted ids -> both
        # skipped by the high-water mark, counts not doubled
        self._drain(
            spark, stream_cms_sketches, src, tmp_path / "ckpt_replay",
            b1.schema, **kw,
        )
        assert cells() == want
        # the store is estimate-readable and never undercounts
        q = b1.union(b2).select("g", "w").distinct()
        est = cms_estimates(
            spark.read.parquet(store).drop("_last_batch"), q, "w",
            group_by=["g"],
        )
        truth = b1.union(b2).groupBy("g", "w").count()
        for r in est.join(truth, ["g", "w"]).collect():
            assert r["count"] <= r["estimate"] <= r["n_total"], r
        # restarting with a DIFFERENT geometry raises at the fold, not
        # silently cross-hashing
        b3 = spark.createDataFrame([(0, "zzz")], "g int, w string")
        b3.coalesce(1).write.parquet(str(src / "f3"))
        import pytest as _pytest

        with _pytest.raises(Exception, match="mismatched|width"):
            self._drain(
                spark, stream_cms_sketches, src, tmp_path / "ckpt", b1.schema,
                store_path=store, column="w", width=32, depth=3,
                group_by=["g"],
            )


class TestStreamNeardupDedup:
    """Continuous-ingest near-dup dedup against the accreting signature
    store: within-batch losers drop (lowest id survives), cross-history
    matches drop, only survivors' signatures enter the store, replays are
    no-ops, and history text is never retained."""

    def _mk(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_two_batches_then_replay(self, spark, tmp_path):
        from metaframe_spark.streaming import stream_neardup_dedup

        # six documents with DISJOINT vocabularies (any shared base would
        # make them near-dups of each other and collapse to one survivor)
        texts = {
            i: " ".join(f"w{i}x{j} token{i}y{j} lex{i}z{j}" for j in range(12))
            for i in range(1, 7)
        }
        src = tmp_path / "src"
        src.mkdir()
        b1 = self._mk(
            spark,
            [(i, texts[i]) for i in range(1, 7)]
            + [(7, texts[1] + "tiny extra tail")],  # within-batch dup of 1
        )
        b2 = self._mk(
            spark,
            [
                (11, texts[2] + "another small tail"),  # cross-history dup of 2
                (12, "a completely different document about galaxies "
                     "colliding in deep space far beyond the known rim "
                     + "star cluster " * 6),
                (13, "a completely different document about galaxies "
                     "colliding in deep space far beyond the known rim "
                     + "star cluster " * 6 + "extra"),  # within-batch dup of 12
            ],
        )
        b1.coalesce(1).write.parquet(str(src / "f1"))
        b2.coalesce(1).write.parquet(str(src / "f2"))
        store = str(tmp_path / "sigstore")
        out = str(tmp_path / "out")

        def drain(ckpt):
            stream = (
                spark.readStream.schema(b1.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src / "*"))
            )
            q = stream_neardup_dedup(
                stream, store, out, checkpoint_dir=str(tmp_path / ckpt)
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        drain("ckpt")
        surv = {
            r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()
        }
        assert surv == {1, 2, 3, 4, 5, 6, 12}
        sigs = spark.read.parquet(store)
        assert {r.doc_id for r in sigs.select("doc_id").collect()} == surv
        # history text is never retained
        assert "text" not in sigs.columns
        # every row carries the store's high-water mark, not the id of the
        # batch that added it
        stamps = {r[0] for r in sigs.select("_last_batch").distinct().collect()}
        assert stamps == {1}
        # full replay on a fresh checkpoint: batch ids restart at 0 <=
        # high-water 1 -> both skipped; outputs and store byte-stable
        before = sorted(map(tuple, sigs.drop("_last_batch").collect()))
        drain("ckpt_replay")
        assert {
            r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()
        } == surv
        after = sorted(
            map(
                tuple,
                spark.read.parquet(store).drop("_last_batch").collect(),
            )
        )
        assert after == before
        # continuation: a new file is batch 2 > high-water -> applied;
        # a near-dup of a BATCH-0 survivor is caught by the store alone
        b3 = self._mk(
            spark,
            [(21, texts[5] + "late arriving twin"), (22, "fresh short")],
        )
        b3.coalesce(1).write.parquet(str(src / "f3"))
        drain("ckpt")
        surv3 = {
            r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()
        }
        # 21 near-matches doc 5 from two batches ago; 22 is too short to
        # shingle (documented caveat) and passes through
        assert surv3 == surv | {22}
        restamped = spark.read.parquet(store).select("_last_batch").distinct()
        assert {r[0] for r in restamped.collect()} == {2}

    @staticmethod
    def _drain_files(spark, tmp_path, batches, start, timeout_s=None):
        """Write each DataFrame of ``batches`` as the next source file and
        drain it on the same checkpoint, one query (one micro-batch) per
        file; returns the queries."""
        sc = spark.sparkContext
        queries = []
        for i, b in enumerate(batches):
            b.coalesce(1).write.parquet(str(tmp_path / "src" / f"f{i}"))
            stream = (
                spark.readStream.schema(b.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(tmp_path / "src" / "*"))
            )
            q = start(stream, str(tmp_path / "ckpt"))
            try:
                if timeout_s is None:
                    q.processAllAvailable()
                else:
                    assert q.awaitTermination(timeout_s), "drain timed out"
                    if q.exception() is not None:
                        raise q.exception()
            finally:
                q.stop()
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            queries.append(q)
        return queries

    def test_store_built_with_other_shingle_n_fails_before_output(
        self, spark, tmp_path
    ):
        from metaframe_spark.streaming import stream_neardup_dedup

        text = lambda i: " ".join(f"w{i}x{j} token{i}y{j}" for j in range(10))
        store, out = str(tmp_path / "store"), str(tmp_path / "out")
        self._drain_files(
            spark, tmp_path, [self._mk(spark, [(1, text(1)), (2, text(2))])],
            lambda stream, ckpt: stream_neardup_dedup(
                stream, store, out, shingle_n=4, checkpoint_dir=ckpt
            ),
        )
        b1 = self._mk(spark, [(11, text(11))])
        b1.coalesce(1).write.parquet(str(tmp_path / "src" / "f1"))
        stream = (
            spark.readStream.schema(b1.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path / "src" / "*"))
        )
        q = stream_neardup_dedup(
            stream, store, out, checkpoint_dir=str(tmp_path / "ckpt")
        )
        try:
            with pytest.raises(Exception, match="different shingle_n"):
                q.processAllAvailable()
        finally:
            q.stop()
        assert not (tmp_path / "out" / "batch=1").exists()
        assert (tmp_path / "out" / "batch=0").exists()

    def test_unshingled_batch_and_reused_ids_pass_against_store(
        self, spark, tmp_path
    ):
        """A batch with no document long enough to shingle leaves the
        band join's batch side empty: it still completes and passes every
        document through (the documented caveat). A new document that
        reuses a stored document's id with unrelated text is not a match:
        the batch and store id spaces are separate."""
        from metaframe_spark.streaming import stream_neardup_dedup

        text = lambda i: " ".join(f"w{i}x{j} token{i}y{j}" for j in range(10))
        store, out = str(tmp_path / "store"), str(tmp_path / "out")
        batches = [
            self._mk(spark, [(1, text(1)), (2, text(2)), (3, text(1) + " tail")]),
            self._mk(spark, [(11, "too short"), (12, "hi"), (1, "short")]),
            self._mk(spark, [(2, text(30)), (31, text(1) + " other tail")]),
        ]
        self._drain_files(
            spark, tmp_path, batches,
            lambda stream, ckpt: stream_neardup_dedup(
                stream, store, out, checkpoint_dir=ckpt
            ),
            timeout_s=180,
        )
        by_batch = {
            (r.batch, r.doc_id, r.text)
            for r in spark.read.parquet(out).collect()
        }
        assert by_batch == {
            (0, 1, text(1)), (0, 2, text(2)),
            (1, 11, "too short"), (1, 12, "hi"), (1, 1, "short"),
            (2, 2, text(30)),
        }
        stored = sorted(
            r.doc_id for r in spark.read.parquet(store).select("doc_id").collect()
        )
        assert stored == [1, 2, 2]

    def test_store_batch_costs_about_a_first_batch_in_jobs(
        self, spark, tmp_path
    ):
        """The against-store batch runs one band join and one checkpoint,
        so it launches about as many Spark jobs as the first batch, not a
        second pair pipeline on top of it."""
        batches, start = _neardup_case(spark, tmp_path)
        sc = spark.sparkContext
        first, second = (
            len(sc.statusTracker().getJobIdsForGroup(str(q.runId)))
            for q in self._drain_files(spark, tmp_path, batches, start)
        )
        assert second <= first + 4, (first, second)


class TestStreamIvfAppend:
    """stream_ivf_append: continuous ingest into a cell-partitioned IVF
    corpus — probe-after-stream == batch append, replays are no-ops, a
    crashed-mid-move batch resumes from its staged files."""

    def _setup(self, spark, tmp_path, quantize_bits=None):
        from metaframe_spark.io import load_table
        from metaframe_spark.operators import unit_normalize
        from metaframe_spark.operators.similarity import (
            fit_sampled_centroids,
            write_ivf_corpus,
        )

        emb = unit_normalize(
            load_table(spark, "/root/testdata/sf0.001", "embeddings").to_spark()
        ).select("vec_id", "embedding")
        base = emb.filter(F.col("vec_id") % 4 != 0)
        cent = fit_sampled_centroids(base, 8, seed=3, order_col="vec_id")
        path = str(tmp_path / "corpus")
        write_ivf_corpus(base, cent, path, quantize_bits=quantize_bits)
        return emb, base, cent, path

    def _drain(self, spark, src, schema, path, ckpt):
        from metaframe_spark.streaming import stream_ivf_append

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        q = stream_ivf_append(stream, path, checkpoint_dir=ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def test_stream_equals_batch_append_and_replay_noop(self, spark, tmp_path):
        from metaframe_spark.operators.similarity import (
            ivf_topk,
            ivf_topk_stored,
        )
        from metaframe_spark.operators import brute_force_topk

        emb, base, cent, path = self._setup(spark, tmp_path)
        # two delta micro-batches covering the held-out quarter
        d1 = emb.filter(F.col("vec_id") % 8 == 0)
        d2 = emb.filter((F.col("vec_id") % 4 == 0) & (F.col("vec_id") % 8 != 0))
        src = str(tmp_path / "src")
        d1.coalesce(1).write.parquet(src + "/f1")
        d2.coalesce(1).write.parquet(src + "/f2")
        self._drain(spark, src, d1.schema, path, str(tmp_path / "ckpt"))
        # probe-after-stream == in-line path over the FULL union with the
        # stored centroids (partial probe), and exact at full probe
        q = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("q_id"), "embedding"
        )
        got = sorted(map(tuple, ivf_topk_stored(
            spark, path, q, k=5, n_probe=3
        ).collect()))
        want = sorted(map(tuple, ivf_topk(
            emb, q, k=5, n_probe=3, centroids=cent
        ).collect()))
        assert got == want
        exact = {(r.q_id, r.vec_id) for r in brute_force_topk(emb, q, k=5).collect()}
        full = {(r.q_id, r.vec_id) for r in ivf_topk_stored(
            spark, path, q, k=5, n_probe=8
        ).collect()}
        assert full == exact
        n_total = spark.read.parquet(path).count()
        assert n_total == emb.count()
        # full replay on a fresh checkpoint: batch ids restart at 0, both
        # marked committed -> skipped; corpus byte-count stable
        self._drain(spark, src, d1.schema, path, str(tmp_path / "ckpt_replay"))
        assert spark.read.parquet(path).count() == n_total
        # continuation on the ORIGINAL checkpoint: a third file is batch 2
        extra = emb.filter(F.col("vec_id") < 0)  # empty batch is fine too
        extra.write.parquet(src + "/f3")
        self._drain(spark, src, d1.schema, path, str(tmp_path / "ckpt"))
        assert spark.read.parquet(path).count() == n_total

    def test_quantized_stream_uses_stored_bounds(self, spark, tmp_path):
        from metaframe_spark.operators.similarity import (
            _sq_encode_expr,
            ivf_topk_stored,
        )

        emb, base, cent, path = self._setup(spark, tmp_path, quantize_bits=8)
        bounds_before = sorted(
            map(tuple, spark.read.parquet(path + "/_sq_bounds").collect())
        )
        delta = emb.filter(F.col("vec_id") % 4 == 0)
        src = str(tmp_path / "src")
        delta.coalesce(1).write.parquet(src + "/f1")
        self._drain(spark, src, delta.schema, path, str(tmp_path / "ckpt"))
        # bounds untouched; streamed rows coded with the STORED bounds
        assert sorted(
            map(tuple, spark.read.parquet(path + "/_sq_bounds").collect())
        ) == bounds_before
        mins, spans = [0.0] * 64, [1.0] * 64
        for r in spark.read.parquet(path + "/_sq_bounds").collect():
            mins[r["pos"]], spans[r["pos"]] = r["mn"], r["span"]
        want = {
            r["vec_id"]: list(r["code"])
            for r in delta.select(
                "vec_id",
                F.transform(
                    _sq_encode_expr("embedding", mins, spans, 8),
                    lambda c: F.greatest(c, F.lit(0)),
                ).alias("code"),
            ).collect()
        }
        got = {
            r["vec_id"]: list(r["embedding"])
            for r in spark.read.parquet(path)
            .filter(F.col("vec_id") % 4 == 0)
            .collect()
        }
        assert got == want
        # probe over the streamed quantized corpus is well-formed
        q = emb.filter(F.col("vec_id") < 6).select(
            F.col("vec_id").alias("q_id"), "embedding"
        )
        rows = ivf_topk_stored(spark, path, q, k=5, n_probe=8).collect()
        assert len({r.q_id for r in rows}) == 6

    def test_pq_stream_uses_stored_codebooks(self, spark, tmp_path):
        """A PQ layout (write_ivf_corpus(pq_codebooks=...)) streams the
        same way: the delta is re-coded with the CO-PERSISTED codebooks
        (_prepare_ivf_delta's shared rule), the sidecar is untouched,
        and the post-stream probe reconstructs correctly."""
        from metaframe_spark.io import load_table
        from metaframe_spark.operators import unit_normalize
        from metaframe_spark.operators.similarity import (
            fit_pq_codebooks,
            fit_sampled_centroids,
            ivf_topk_stored,
            pq_encode,
            write_ivf_corpus,
        )

        emb = unit_normalize(
            load_table(spark, "/root/testdata/sf0.001", "embeddings").to_spark()
        ).select("vec_id", "embedding")
        base = emb.filter(F.col("vec_id") % 4 != 0)
        cb = fit_pq_codebooks(base, 4, 16, seed=3)
        cent = fit_sampled_centroids(base, 8, seed=3, order_col="vec_id")
        path = str(tmp_path / "corpus")
        write_ivf_corpus(base, cent, path, pq_codebooks=cb)
        sidecar_before = sorted(
            map(tuple, spark.read.parquet(path + "/_pq_codebooks").collect())
        )
        delta = emb.filter(F.col("vec_id") % 4 == 0)
        src = str(tmp_path / "src")
        delta.coalesce(1).write.parquet(src + "/f1")
        self._drain(spark, src, delta.schema, path, str(tmp_path / "ckpt"))
        assert sorted(
            map(tuple, spark.read.parquet(path + "/_pq_codebooks").collect())
        ) == sidecar_before
        want = {
            r.vec_id: list(r.pq_codes)
            for r in pq_encode(delta, cb).collect()
        }
        got = {
            r.vec_id: list(r.embedding)
            for r in spark.read.parquet(path)
            .filter(F.col("vec_id") % 4 == 0)
            .collect()
        }
        assert got == want
        q = emb.filter(F.col("vec_id") < 6).select(
            F.col("vec_id").alias("q_id"), "embedding"
        )
        rows = ivf_topk_stored(spark, path, q, k=5, n_probe=8).collect()
        assert len({r.q_id for r in rows}) == 6

    def test_crashed_mid_move_batch_resumes_from_staging(self, spark, tmp_path):
        """Crash state: staged write complete (_SUCCESS), marker absent —
        the retry must MOVE the staged files, not recompute the delta.
        Proven by poisoning the staging with a sentinel vector: after the
        drain the sentinel is in the corpus and the batch's own rows are
        not (they were never staged)."""
        from metaframe_spark.operators.similarity import _prepare_ivf_delta

        emb, base, cent, path = self._setup(spark, tmp_path)
        delta = emb.filter(F.col("vec_id") % 4 == 0)
        src = str(tmp_path / "src")
        delta.coalesce(1).write.parquet(src + "/f1")
        # hand-stage a DIFFERENT relation under this batch id (0): one
        # sentinel row re-using an existing embedding, id 999999
        sentinel = emb.filter(F.col("vec_id") == 1).select(
            F.lit(999999).cast("long").alias("vec_id"), "embedding"
        )
        staged = _prepare_ivf_delta(spark, path, sentinel)
        staged.write.mode("overwrite").partitionBy("cell").parquet(
            path + "/_ingest_staging_0"
        )
        self._drain(spark, src, delta.schema, path, str(tmp_path / "ckpt"))
        ids = {
            r.vec_id for r in spark.read.parquet(path).select("vec_id").collect()
        }
        assert 999999 in ids  # staged files were moved in
        assert not any(
            i % 4 == 0 for i in ids if i != 999999
        )  # the batch was NOT recomputed over the file's rows
        # staging gone, marker present: the batch is committed
        import os

        assert not os.path.exists(path + "/_ingest_staging_0")
        assert os.path.exists(path + "/_ingest_marks/batch-0")

    def test_refuses_unindexed_corpus(self, spark, tmp_path):
        from metaframe_spark.operators.similarity import (
            assign_cells,
            fit_sampled_centroids,
        )
        from metaframe_spark.io import load_table
        from metaframe_spark.operators import unit_normalize

        emb = unit_normalize(
            load_table(spark, "/root/testdata/sf0.001", "embeddings").to_spark()
        ).select("vec_id", "embedding")
        cent = fit_sampled_centroids(emb, 8, seed=3, order_col="vec_id")
        bare = str(tmp_path / "bare")
        assign_cells(emb, cent, cell_col="cell").write.partitionBy(
            "cell"
        ).parquet(bare)
        src = str(tmp_path / "src")
        emb.limit(4).coalesce(1).write.parquet(src + "/f1")
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        from metaframe_spark.streaming import stream_ivf_append

        q = stream_ivf_append(stream, bare, checkpoint_dir=str(tmp_path / "ck"))
        with pytest.raises(Exception, match="no readable IVF index"):
            try:
                q.processAllAvailable()
            finally:
                q.stop()


class TestStreamBottomkSamples:
    """stream_bottomk_samples: the fifth incremental statistic maintained
    from a stream — accreted sample == one-pass sample, replays no-op via
    draw_key dedup alone (no high-water mark needed)."""

    def _store_rows(self, spark, store):
        return sorted(
            (r["lang"], r["doc_id"], r["draw_key"])
            for r in spark.read.parquet(store).collect()
        )

    def _one_pass(self, spark, df):
        from metaframe_spark.operators.maintenance import bottomk_sample_sketch

        return sorted(
            (r["lang"], r["doc_id"], r["draw_key"])
            for r in bottomk_sample_sketch(
                df, "doc_id", 10, group_by=["lang"]
            ).collect()
        )

    def test_accreted_equals_one_pass_and_replay_noop(self, spark, tmp_path):
        from metaframe_spark.streaming import stream_bottomk_samples

        d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
            "lang", "doc_id"
        )
        src = str(tmp_path / "src")
        for i in range(3):
            d.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(
                src + f"/f{i}"
            )
        store = str(tmp_path / "store")

        def drain(ckpt):
            stream = (
                spark.readStream.schema(d.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src + "/*")
            )
            q = stream_bottomk_samples(
                stream, store, "doc_id", 10, group_by=["lang"],
                checkpoint_dir=str(tmp_path / ckpt),
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        drain("ckpt")
        assert self._store_rows(spark, store) == self._one_pass(spark, d)
        # full replay on a fresh checkpoint: every batch re-merges, the
        # draw_key dedup makes it a mathematical no-op (no _last_batch)
        assert "_last_batch" not in spark.read.parquet(store).columns
        drain("ckpt_replay")
        assert self._store_rows(spark, store) == self._one_pass(spark, d)
        # continuation: late rows with NEW ids displace larger draws
        late = d.withColumn("doc_id", F.col("doc_id") + 500000)
        late.coalesce(1).write.parquet(src + "/f3")
        drain("ckpt")
        assert self._store_rows(spark, store) == self._one_pass(
            spark, d.unionByName(late)
        )


class TestStreamSemanticDedup:
    """stream_semantic_dedup: continuous semantic ingest dedup against the
    accreting IVF corpus — within-batch losers drop, cross-history matches
    drop (via the store alone), survivors append, replays no-op."""

    def test_two_batches_replay_and_continuation(self, spark, tmp_path):
        from metaframe_spark.io import load_table
        from metaframe_spark.operators import unit_normalize
        from metaframe_spark.operators.similarity import (
            fit_sampled_centroids,
            write_ivf_corpus,
        )
        from metaframe_spark.streaming import stream_semantic_dedup

        emb = unit_normalize(
            load_table(spark, "/root/testdata/sf0.001", "embeddings").to_spark()
        ).select("vec_id", "embedding")
        vecs = {
            r.vec_id: list(r.embedding)
            for r in emb.filter(F.col("vec_id") < 20).collect()
        }
        mk = lambda rows: spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        # bootstrap layout: ids 100..109 carrying vectors e10..e19
        seen0 = mk([(100 + i, vecs[10 + i]) for i in range(10)])
        cent = fit_sampled_centroids(seen0, 2, seed=3, order_col="vec_id")
        corpus = str(tmp_path / "corpus")
        write_ivf_corpus(seen0, cent, corpus)
        # b1: six distinct + one within-batch twin of id 1
        b1 = mk([(i, vecs[i]) for i in range(1, 7)] + [(7, vecs[1])])
        # b2: a cross-history twin of bootstrap vector e10 (id 100), one
        # fresh vector, and a within-batch twin of the fresh one
        b2 = mk([(11, vecs[10]), (12, vecs[8]), (13, vecs[8])])
        src = str(tmp_path / "src")
        b1.coalesce(1).write.parquet(src + "/f1")
        b2.coalesce(1).write.parquet(src + "/f2")
        out = str(tmp_path / "out")

        def drain(ckpt):
            stream = (
                spark.readStream.schema(b1.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src + "/*")
            )
            q = stream_semantic_dedup(
                stream, corpus, out, min_cosine=0.99, within_cells=1,
                checkpoint_dir=str(tmp_path / ckpt),
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        drain("ckpt")
        surv = {
            r.vec_id for r in spark.read.parquet(out).select("vec_id").collect()
        }
        assert surv == {1, 2, 3, 4, 5, 6, 12}
        corpus_ids = {
            r.vec_id for r in spark.read.parquet(corpus).select("vec_id").collect()
        }
        assert corpus_ids == set(range(100, 110)) | surv
        n_corpus = spark.read.parquet(corpus).count()
        # full replay on a fresh checkpoint: batch ids restart at 0 <= the
        # marker high-water -> skipped entirely; corpus + output stable
        drain("ckpt_replay")
        assert spark.read.parquet(corpus).count() == n_corpus
        assert {
            r.vec_id for r in spark.read.parquet(out).select("vec_id").collect()
        } == surv
        # continuation: a twin of a BATCH-0 survivor is caught by the
        # corpus alone (id 3's vector re-appears two batches later)
        b3 = mk([(21, vecs[3]), (22, vecs[9])])
        b3.coalesce(1).write.parquet(src + "/f3")
        drain("ckpt")
        surv3 = {
            r.vec_id for r in spark.read.parquet(out).select("vec_id").collect()
        }
        assert surv3 == surv | {22}
        assert {
            r.vec_id for r in spark.read.parquet(corpus).select("vec_id").collect()
        } == set(range(100, 110)) | surv3
        # probes against the accreted corpus see the survivors
        from metaframe_spark.operators.similarity import ivf_topk_stored

        q1 = mk([(999, vecs[3])]).select(
            F.col("vec_id").alias("q_id"), "embedding"
        )
        top = ivf_topk_stored(spark, corpus, q1, k=1, n_probe=2).collect()
        assert top[0]["vec_id"] == 3 and top[0]["cosine"] == 1.0

    def test_marker_then_crash_debris_cleaned_on_replay(self, spark, tmp_path):
        """ADVICE r12: a crash BETWEEN marker creation and staging
        deletion leaves an _ingest_staging_{id} skeleton for an
        already-committed batch; the replay's early return (the only
        code that ever sees that batch id again) must delete it, or
        validate_ivf_corpus fails no_staging_debris forever."""
        import os

        from metaframe_spark.io import load_table
        from metaframe_spark.operators import unit_normalize
        from metaframe_spark.operators.similarity import (
            fit_sampled_centroids,
            validate_ivf_corpus,
            write_ivf_corpus,
        )
        from metaframe_spark.streaming import stream_semantic_dedup

        emb = unit_normalize(
            load_table(spark, "/root/testdata/sf0.001", "embeddings").to_spark()
        ).select("vec_id", "embedding")
        vecs = {
            r.vec_id: list(r.embedding)
            for r in emb.filter(F.col("vec_id") < 10).collect()
        }
        mk = lambda rows: spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        seen0 = mk([(100 + i, vecs[i]) for i in range(8)])
        cent = fit_sampled_centroids(seen0, 2, seed=3, order_col="vec_id")
        corpus = str(tmp_path / "corpus")
        write_ivf_corpus(seen0, cent, corpus)
        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        mk([(1, vecs[8])]).coalesce(1).write.parquet(src + "/f1")

        def drain(ckpt):
            stream = (
                spark.readStream.schema("vec_id long, embedding array<double>")
                .option("maxFilesPerTrigger", 1)
                .parquet(src + "/*")
            )
            q = stream_semantic_dedup(
                stream, corpus, out, min_cosine=0.99, within_cells=1,
                checkpoint_dir=str(tmp_path / ckpt),
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        drain("ckpt")  # batch 0 commits; marker high-water = 0
        # simulate the marker-then-crash: the batch is committed (marker
        # present) but its staging skeleton was never dropped
        staging = corpus + "/_ingest_staging_0"
        os.makedirs(staging)
        open(staging + "/_SUCCESS", "w").close()
        fsck = lambda: {
            r["check"]: r["ok"]
            for r in validate_ivf_corpus(spark, corpus).collect()
        }
        assert not fsck()["no_staging_debris"]
        # fresh-checkpoint full replay: batch 0 <= high-water -> the
        # early return fires, and it must clean the debris
        drain("ckpt_replay")
        assert not os.path.exists(staging)
        assert fsck()["no_staging_debris"]

    def test_crashed_mid_move_rolls_back_and_recomputes(self, spark, tmp_path):
        """A crash INSIDE the corpus commit (files moved, no marker yet)
        must not make the replay classify the batch's own partially-
        committed vectors as cross-history dups: the marker-less replay
        rolls the batch-unique files back and recomputes on the restored
        corpus (r11 self-review, top finding)."""
        import glob
        import os

        from metaframe_spark.io import load_table
        from metaframe_spark.operators import unit_normalize
        from metaframe_spark.operators.similarity import (
            _prepare_ivf_delta,
            fit_sampled_centroids,
            write_ivf_corpus,
        )
        from metaframe_spark.streaming import stream_semantic_dedup

        emb = unit_normalize(
            load_table(spark, "/root/testdata/sf0.001", "embeddings").to_spark()
        ).select("vec_id", "embedding")
        vecs = {
            r.vec_id: list(r.embedding)
            for r in emb.filter(F.col("vec_id") < 12).collect()
        }
        mk = lambda rows: spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        seen0 = mk([(100 + i, vecs[i]) for i in range(8)])
        cent = fit_sampled_centroids(seen0, 2, seed=3, order_col="vec_id")
        corpus = str(tmp_path / "corpus")
        write_ivf_corpus(seen0, cent, corpus)
        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        b0 = mk([(1, vecs[8])])
        b0.coalesce(1).write.parquet(src + "/f1")

        def drain():
            stream = (
                spark.readStream.schema(b0.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src + "/*")
            )
            q = stream_semantic_dedup(
                stream, corpus, out, min_cosine=0.99, within_cells=1,
                checkpoint_dir=str(tmp_path / "ckpt"),
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        drain()  # batch 0 commits; marker high-water = 0
        # simulate batch 1 crashing mid-move: its delta (id 30, a FRESH
        # vector) staged completely, one file already renamed into its
        # cell under the batch-unique name, staging left behind, NO marker
        delta = _prepare_ivf_delta(spark, corpus, mk([(30, vecs[9])]))
        staging = corpus + "/_ingest_staging_1"
        delta.write.mode("overwrite").partitionBy("cell").parquet(staging)
        moved = 0
        for f in glob.glob(staging + "/cell=*/part-*"):
            cell_dir = corpus + "/" + os.path.basename(os.path.dirname(f))
            os.makedirs(cell_dir, exist_ok=True)
            os.rename(
                f, cell_dir + "/ingest1_" + os.path.basename(f)
            )
            moved += 1
        assert moved >= 1
        # the partially-committed vector IS visible in the corpus now —
        # without rollback the replay would read it as a seen dup
        assert (
            spark.read.parquet(corpus).filter(F.col("vec_id") == 30).count()
            == 1
        )
        # now the real batch 1 arrives (same vector) and the stream resumes
        mk([(30, vecs[9])]).coalesce(1).write.parquet(src + "/f2")
        drain()
        # the document SURVIVED into the output (not self-killed) ...
        out_ids = {
            r.vec_id for r in spark.read.parquet(out).select("vec_id").collect()
        }
        assert 30 in out_ids and 1 in out_ids
        # ... the corpus holds it exactly once, and the crash debris is gone
        assert (
            spark.read.parquet(corpus).filter(F.col("vec_id") == 30).count()
            == 1
        )
        assert not os.path.exists(staging)
        # replay on a fresh checkpoint is still a no-op
        n = spark.read.parquet(corpus).count()
        drain()
        assert spark.read.parquet(corpus).count() == n


class TestStreamExpectations:
    """stream_expectations: per-micro-batch rule verdicts land as run_id
    partitions of the quality-history store — O(rules) per batch, prior
    runs never rewritten — replay-safe, and feed the anomaly bridge."""

    def _drain(self, spark, src, ckpt, schema, **kw):
        from metaframe_spark.streaming import stream_expectations

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        q = stream_expectations(stream, **kw, checkpoint_dir=str(ckpt))
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    RULES = [
        {"type": "not_null", "column": "v"},
        {"type": "range", "column": "v", "min": 0, "max": 100},
    ]

    def test_history_accretes_and_replays_skip(self, spark, tmp_path):
        import glob
        import os

        src = tmp_path / "src"
        src.mkdir()
        b1 = spark.createDataFrame([(1, 5), (2, 50)], "id long, v int")
        b2 = spark.createDataFrame(
            [(3, None), (4, 200)], "id long, v int"
        )  # 1 null + 1 out-of-range
        b1.coalesce(1).write.parquet(str(src / "f1"))
        b2.coalesce(1).write.parquet(str(src / "f2"))
        store = str(tmp_path / "store")
        self._drain(
            spark, src, tmp_path / "ckpt", b1.schema,
            store_path=store, rules=self.RULES,
        )
        hist = {
            (r.run_id, r.rule): (r.passed, r.n_violations, r.n_rows)
            for r in spark.read.parquet(store).collect()
        }
        assert len(hist) == 4  # 2 batches x 2 rules
        runs = sorted({k[0] for k in hist})
        clean, dirty = runs
        assert hist[(clean, "not_null(v)")] == (True, 0, 2)
        assert hist[(dirty, "not_null(v)")] == (False, 1, 2)
        [range_rule] = {k[1] for k in hist if k[1].startswith("range")}
        assert hist[(dirty, range_rule)] == (False, 1, 2)
        # the store layout is one partition dir per run — prior runs'
        # files are never rewritten by later batches
        run_dirs = sorted(glob.glob(store + "/run_id=*"))
        assert len(run_dirs) == 2
        mtimes = {d: os.path.getmtime(d) for d in run_dirs}
        # fresh-checkpoint replay: both batch ids find their run dirs ->
        # skipped, nothing rewritten
        self._drain(
            spark, src, tmp_path / "ckpt_replay", b1.schema,
            store_path=store, rules=self.RULES,
        )
        assert spark.read.parquet(store).count() == 4
        assert {d: os.path.getmtime(d) for d in run_dirs} == mtimes
        # continuation appends exactly one more run partition
        b3 = spark.createDataFrame([(5, 7)], "id long, v int")
        b3.coalesce(1).write.parquet(str(src / "f3"))
        self._drain(
            spark, src, tmp_path / "ckpt", b1.schema,
            store_path=store, rules=self.RULES,
        )
        assert spark.read.parquet(store).count() == 6
        assert len(glob.glob(store + "/run_id=*")) == 3
        # no staging debris
        assert glob.glob(store + "/._staging_*") == []

    def test_history_feeds_anomaly_bridge_multi_rule(self, spark, tmp_path):
        """TWO rules in the store: the anomaly bridge needs one row per
        (run, group), so the history is judged per rule via
        group_by=['rule'] — the documented production shape."""
        from metaframe_spark.operators.expectations import validate_anomalies

        src = tmp_path / "src"
        src.mkdir()
        import pyspark.sql.functions as F

        # five clean batches then a null spike in the sixth; the range
        # rule stays clean throughout
        for i in range(5):
            spark.createDataFrame(
                [(j, 10) for j in range(20)], "id long, v int"
            ).coalesce(1).write.parquet(str(src / f"f{i}"))
        spark.createDataFrame(
            [(j, None if j % 2 == 0 else 10) for j in range(20)],
            "id long, v int",
        ).coalesce(1).write.parquet(str(src / "f_spike"))
        store = str(tmp_path / "store")
        self._drain(
            spark, src, tmp_path / "ckpt", "id long, v int",
            store_path=store, rules=self.RULES,
        )
        hist = spark.read.parquet(store)
        out = validate_anomalies(
            hist.withColumn(
                "n_violations", F.col("n_violations").cast("double")
            ),
            [
                {
                    "type": "within_history",
                    "metric": "n_violations",
                    "tol": 0.5,
                    "window": 5,
                    "stat": "median",
                }
            ],
            run_col="run_id",
            group_by=["rule"],
            estimates=True,
        )
        got = {r.rule: (r.passed, r.observed) for r in out.collect()}
        assert got["not_null(v)"] == (False, 10.0)  # the spike breaks it
        [range_rule] = {k for k in got if k.startswith("range")}
        assert got[range_rule] == (True, 0.0)  # clean rule stays green

    def test_crashed_staging_is_rebuilt(self, spark, tmp_path):
        import glob
        import os

        src = tmp_path / "src"
        src.mkdir()
        spark.createDataFrame([(1, 5)], "id long, v int").coalesce(
            1
        ).write.parquet(str(src / "f1"))
        store = str(tmp_path / "store")
        # simulate a crash before the rename: staging exists, no run dir
        os.makedirs(store + "/._staging_0/garbage")
        self._drain(
            spark, src, tmp_path / "ckpt", "id long, v int",
            store_path=store, rules=[{"type": "not_null", "column": "v"}],
        )
        assert len(glob.glob(store + "/run_id=*")) == 1
        assert glob.glob(store + "/._staging_*") == []
        [r] = spark.read.parquet(store).collect()
        assert (r.passed, r.n_violations, r.n_rows) == (True, 0, 1)

    def test_bad_rules_fail_at_declaration(self, spark, tmp_path):
        from metaframe_spark.streaming import stream_expectations

        stream = spark.readStream.schema("id long, v int").parquet(
            str(tmp_path / "*")
        )
        with pytest.raises(ValueError, match="non-empty"):
            stream_expectations(stream, str(tmp_path / "s"), [])
        with pytest.raises(ValueError, match="unknown rule type"):
            stream_expectations(
                stream, str(tmp_path / "s"), [{"type": "nope"}]
            )
        with pytest.raises(ValueError, match="duplicate"):
            stream_expectations(
                stream,
                str(tmp_path / "s"),
                [{"type": "not_null", "column": "v"}] * 2,
            )


def _neardup_case(spark, tmp_path):
    from metaframe_spark.streaming import stream_neardup_dedup

    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    text = lambda i: " ".join(f"w{i}x{j} token{i}y{j}" for j in range(10))
    batches = [
        mk([(i, text(i)) for i in range(1, 5)] + [(5, text(1) + " tail")]),
        mk([(11, text(2) + " other tail"), (12, text(12))]),
    ]
    return batches, lambda stream, ckpt: stream_neardup_dedup(
        stream, str(tmp_path / "store"), str(tmp_path / "out"),
        checkpoint_dir=ckpt,
    )


def _semantic_case(spark, tmp_path):
    from metaframe_spark.operators import unit_normalize
    from metaframe_spark.operators.similarity import (
        fit_sampled_centroids,
        write_ivf_corpus,
    )
    from metaframe_spark.streaming import stream_semantic_dedup

    emb = unit_normalize(load_table(spark, SF, "embeddings").to_spark())
    vecs = {
        r.vec_id: list(r.embedding)
        for r in emb.filter(F.col("vec_id") < 20).collect()
    }
    mk = lambda rows: spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    seen0 = mk([(100 + i, vecs[10 + i]) for i in range(10)])
    corpus = str(tmp_path / "corpus")
    write_ivf_corpus(
        seen0, fit_sampled_centroids(seen0, 2, seed=3, order_col="vec_id"),
        corpus,
    )
    batches = [
        mk([(i, vecs[i]) for i in range(1, 7)] + [(7, vecs[1])]),
        mk([(11, vecs[10]), (12, vecs[8]), (13, vecs[8])]),
    ]
    return batches, lambda stream, ckpt: stream_semantic_dedup(
        stream, corpus, str(tmp_path / "out"), min_cosine=0.99,
        within_cells=1, checkpoint_dir=ckpt,
    )


def _moment_case(spark, tmp_path):
    from metaframe_spark.streaming import stream_moment_sketches

    mk = lambda rows: spark.createDataFrame(rows, "g int, x double")
    batches = [
        mk([(i % 3, float(i)) for i in range(30)]),
        mk([(i % 3, float(i * 7 % 11)) for i in range(30)]),
    ]
    return batches, lambda stream, ckpt: stream_moment_sketches(
        stream, str(tmp_path / "store"), ["x"], group_by=["g"],
        checkpoint_dir=ckpt,
    )


def _cdc_case(spark, tmp_path):
    from metaframe_spark.streaming import apply_cdc_stream

    base = str(tmp_path / "base")
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "id long, v string"
    ).write.parquet(base)
    mk = lambda rows: spark.createDataFrame(
        rows, "id long, v string, deleted boolean, seq long"
    )
    batches = [
        mk([(1, "b1", False, 1), (20, "new", False, 2)]),
        mk([(2, "x", True, 3), (1, "b2", False, 4)]),
    ]
    return batches, lambda stream, ckpt: apply_cdc_stream(
        stream, base, ["id"], "seq", delete_col="deleted", checkpoint_dir=ckpt,
    )


class TestStreamBatchLifecycle:
    """Every stream_* / apply_cdc_stream micro-batch runs in its own
    persist_scope: with no caller scope, a drained query leaves the
    CacheManager at its starting size, whether its batches commit or
    fail. Each versioned-store commit records the store's schema under its
    new listing, so the next batch reads the store with no
    schema-inference job and sees exactly what inference would give."""

    @staticmethod
    def _run(spark, tmp_path, batches, start):
        src = tmp_path / "src"
        for i, b in enumerate(batches):
            b.coalesce(1).write.parquet(str(src / f"f{i}"))
        stream = (
            spark.readStream.schema(batches[0].schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        q = start(stream, str(tmp_path / "ckpt"))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return q

    @pytest.mark.parametrize(
        "case, store",
        [(_neardup_case, "store"), (_semantic_case, None),
         (_moment_case, "store"), (_cdc_case, "base")],
        ids=["neardup", "semantic", "moments", "cdc"],
    )
    def test_batches_leave_no_cached_plans(
        self, spark, tmp_path, cached_plans, spark_jobs, case, store
    ):
        from metaframe_spark.io import _load

        batches, start = case(spark, tmp_path)
        n_plans = cached_plans()
        q = self._run(spark, tmp_path, batches, start)
        assert {p["batchId"] for p in q.recentProgress} == {0, 1}
        assert cached_plans() == n_plans
        if store is None:  # the IVF corpus is append-only, not a store
            return
        path = str(tmp_path / store)
        cached, jobs = spark_jobs(lambda: _load(spark, "parquet", path, {}))
        assert jobs == []
        inferred = spark.read.parquet(path)
        assert cached.schema == inferred.schema
        assert sorted(cached.collect(), key=str) == sorted(
            inferred.collect(), key=str
        )

    def test_failed_batch_leaves_no_cached_plans(
        self, spark, tmp_path, cached_plans
    ):
        """The survivors' write raises after the batch pinned its
        signatures (a regular file blocks the output directory): the
        batch's scope still releases the pin."""
        batches, start = _neardup_case(spark, tmp_path)
        (tmp_path / "out").write_text("not a directory")
        n_plans = cached_plans()
        with pytest.raises(Exception, match="not a directory"):
            self._run(spark, tmp_path, batches, start)
        assert cached_plans() == n_plans
