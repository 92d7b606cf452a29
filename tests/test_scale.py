"""Skew helpers: salted aggregation/join must be result-identical to their
plain equivalents, and the salt must actually spread the hot key."""

import pytest
from pyspark.sql import functions as F

from metaframe_spark.io import load_table
from metaframe_spark.scale import (
    deterministic_salt,
    salted_agg,
    salted_join,
    with_partition_stats,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def li(spark):
    return load_table(spark, SF, "lineitem").to_spark()


class TestSaltedAgg:
    def test_equals_plain_agg(self, li):
        plain = {
            (r.l_returnflag): (r.q, r.c)
            for r in li.groupBy("l_returnflag")
            .agg(F.sum("l_quantity").alias("q"), F.count(F.lit(1)).alias("c"))
            .collect()
        }
        salted = {
            (r.l_returnflag): (r.q, r.c)
            for r in salted_agg(
                li,
                ["l_returnflag"],
                [F.sum("l_quantity").alias("q"), F.count(F.lit(1)).alias("c")],
                salt_cols=["l_orderkey", "l_linenumber"],
            ).collect()
        }
        assert salted == plain

    def test_salt_spreads_hot_key(self, li):
        n = (
            li.withColumn("_s", deterministic_salt(["l_orderkey", "l_linenumber"], 16))
            .filter(F.col("l_returnflag") == "N")
            .select("_s")
            .distinct()
            .count()
        )
        assert n == 16  # the hot key's rows hit every salt bucket

    def test_salt_deterministic(self, li):
        a = li.withColumn("_s", deterministic_salt(["l_orderkey"], 8)).select("_s")
        b = li.withColumn("_s", deterministic_salt(["l_orderkey"], 8)).select("_s")
        assert a.exceptAll(b).count() == 0


class TestSaltedJoin:
    def test_equals_plain_join(self, spark, li):
        orders = load_table(spark, SF, "orders").to_spark()
        o = orders.withColumnRenamed("o_orderkey", "l_orderkey").select(
            "l_orderkey", "o_totalprice"
        )
        plain = li.select("l_orderkey", "l_quantity").join(o, ["l_orderkey"])
        salted = salted_join(
            li.select("l_orderkey", "l_quantity"),
            o,
            on=["l_orderkey"],
            n_salts=8,
            left_salt_cols=["l_orderkey", "l_quantity"],
        )
        assert salted.count() == plain.count()
        assert salted.exceptAll(plain).count() == 0
        assert plain.exceptAll(salted).count() == 0


class TestPartitionStats:
    def test_stats_recorded(self, spark):
        mf = load_table(spark, SF, "orders").repartition(4)
        out = with_partition_stats(mf)
        stats = out.metadata["partition_stats"]
        assert stats["n_partitions"] == 4
        assert stats["min_rows"] > 0
        assert stats["skew_ratio"] >= 1.0


class TestReviewFixes:
    def test_salted_agg_minmax_with_finalizers(self, li):
        plain = {
            r.l_returnflag: (r.mx, r.mn)
            for r in li.groupBy("l_returnflag")
            .agg(F.max("l_quantity").alias("mx"), F.min("l_quantity").alias("mn"))
            .collect()
        }
        from metaframe_spark.scale import salted_agg

        salted = {
            r.l_returnflag: (r.mx, r.mn)
            for r in salted_agg(
                li,
                ["l_returnflag"],
                [F.max("l_quantity").alias("mx"), F.min("l_quantity").alias("mn")],
                salt_cols=["l_orderkey", "l_linenumber"],
                finalizers={"mx": F.max, "mn": F.min},
            ).collect()
        }
        assert salted == plain

    def test_salted_join_rejects_outer(self, spark, li):
        from metaframe_spark.scale import salted_join

        with pytest.raises(ValueError):
            salted_join(li, li, on=["l_orderkey"], how="full", left_salt_cols=["l_linenumber"])


class TestTrainingShards:
    def test_contiguous_balanced_shards_roundtrip(self, spark, tmp_path):
        """write_training_shards: 500 docs into 4 shards -> sizes 125 each,
        shard k holds exactly the contiguous seq range (k*125, (k+1)*125],
        ids partition the corpus, and re-read rows inside a shard keep the
        interleave order (parquet preserves per-file row order)."""
        from metaframe_spark.operators import shard_assignments, write_training_shards

        d = load_table(spark, SF, "documents").to_spark().select("doc_id", "text")
        out = str(tmp_path / "shards")
        write_training_shards(d, out, n_shards=4)

        back = spark.read.parquet(out)
        sizes = {r.shard: r.c for r in back.groupBy("shard").count()
                 .withColumnRenamed("count", "c").collect()}
        assert sizes == {0: 125, 1: 125, 2: 125, 3: 125}
        # ids partition the corpus exactly
        assert back.select("doc_id").distinct().count() == 500
        # contiguous seq ranges per shard
        rng = {r.shard: (r.mn, r.mx) for r in back.groupBy("shard")
               .agg(F.min("seq").alias("mn"), F.max("seq").alias("mx")).collect()}
        assert rng == {k: (k * 125 + 1, (k + 1) * 125) for k in range(4)}
        # the assignment is the deterministic md5 interleave
        expect = {r.doc_id: r.shard for r in shard_assignments(d, 4).collect()}
        got = {r.doc_id: r.shard for r in back.collect()}
        assert got == expect

    def test_sharding_adds_no_job_over_the_interleave(self, spark, spark_jobs):
        """N for the shard split is the total the interleave's rank offsets
        already collect: shard_assignments runs exactly global_shuffle's
        jobs, with no count of its own."""
        from metaframe_spark.operators import global_shuffle, shard_assignments

        d = load_table(spark, SF, "documents").to_spark().select("doc_id", "text")
        _, shuffle_jobs = spark_jobs(lambda: global_shuffle(d))
        _, shard_jobs = spark_jobs(lambda: shard_assignments(d, 4))
        assert len(shard_jobs) == len(shuffle_jobs)

    def test_single_shard_and_guard(self, spark, tmp_path):
        from metaframe_spark.operators import write_training_shards

        d = load_table(spark, SF, "region").to_spark()
        with pytest.raises(ValueError, match="n_shards"):
            write_training_shards(d, str(tmp_path / "x"), 0, id_col="r_regionkey")
        write_training_shards(d, str(tmp_path / "one"), 1, id_col="r_regionkey")
        back = spark.read.parquet(str(tmp_path / "one"))
        assert back.count() == 5
        assert back.select("shard").distinct().collect()[0][0] == 0


class TestDistributedPercentiles:
    def test_known_values_and_interpolation(self, spark):
        """[1..5] p50 = 3 (exact rank); [10,20,30,40] p50 = 25
        (interpolated), p25 = 17.5 — the quantile_cont contract."""
        from metaframe_spark.operators.percentiles import grouped_exact_percentiles

        rows = [("a", float(v)) for v in [3, 1, 5, 2, 4]] + [
            ("b", float(v)) for v in [40, 10, 30, 20]
        ]
        df = spark.createDataFrame(rows, "g string, v double").repartition(5)
        out = {
            r.g: (r.p25, r.p50, r.n)
            for r in grouped_exact_percentiles(
                df, ["g"], "v", [(0.25, "p25"), (0.5, "p50")]
            ).collect()
        }
        assert out["a"] == (2.0, 3.0, 5)
        assert out["b"] == (17.5, 25.0, 4)

    def test_matches_builtin_percentile(self, spark):
        """The two-phase global-rank shape must equal Spark's own exact
        percentile aggregate on real data, under any input partitioning."""
        from metaframe_spark.operators.percentiles import grouped_exact_percentiles

        li = load_table(spark, SF, "lineitem").to_spark().repartition(13)
        got = {
            r.l_returnflag: (round(r.p25, 6), round(r.p75, 6))
            for r in grouped_exact_percentiles(
                li, ["l_returnflag"], "l_quantity", [(0.25, "p25"), (0.75, "p75")]
            ).collect()
        }
        want = {
            r.l_returnflag: (round(r.p25, 6), round(r.p75, 6))
            for r in li.groupBy("l_returnflag")
            .agg(
                F.expr("percentile(l_quantity, 0.25D)").alias("p25"),
                F.expr("percentile(l_quantity, 0.75D)").alias("p75"),
            )
            .collect()
        }
        assert got == want

    def test_null_group_key_is_a_group(self, spark):
        """A NULL group key is a real group (SQL GROUP BY semantics); the
        offset/target joins must be null-safe or the group vanishes."""
        from metaframe_spark.operators.percentiles import grouped_exact_percentiles

        rows = [("a", 1.0), ("a", 3.0), (None, 10.0), (None, 20.0), (None, 30.0)]
        df = spark.createDataFrame(rows, "g string, v double").repartition(4)
        out = {
            r.g: (r.p50, r.n)
            for r in grouped_exact_percentiles(
                df, ["g"], "v", [(0.5, "p50")]
            ).collect()
        }
        assert out["a"] == (2.0, 2)
        assert out[None] == (20.0, 3)
        want = {
            r.g: (r.p50, r.n)
            for r in df.groupBy("g")
            .agg(
                F.expr("percentile(v, 0.5D)").alias("p50"),
                F.count("v").alias("n"),
            )
            .collect()
        }
        assert out == want

    def test_group_cardinality_guard(self, spark):
        """Driver state is O(partitions x groups): refuse high-cardinality
        groupings with an actionable error instead of melting the driver."""
        from metaframe_spark.operators.percentiles import grouped_exact_percentiles

        df = spark.range(50).select(
            F.col("id").cast("string").alias("g"),
            F.col("id").cast("double").alias("v"),
        )
        with pytest.raises(ValueError, match="distinct groups"):
            grouped_exact_percentiles(
                df, ["g"], "v", [(0.5, "p50")], max_groups=10
            )
        with pytest.raises(ValueError, match="group_cols"):
            grouped_exact_percentiles(df, [], "v", [(0.5, "p50")])


class TestBucketedTables:
    def test_bucketed_join_has_no_exchange(self, spark, li):
        """Two tables bucketed the same way on the join key: the
        sort-merge join must read the bucket streams directly — zero
        Exchange on either side. This is the shuffle-once-at-ingest
        contract write_bucketed exists for."""
        from metaframe_spark.scale import write_bucketed

        o = load_table(spark, SF, "orders").to_spark().select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        lis = li.select("l_orderkey", "l_quantity")
        saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            write_bucketed(
                lis, "t_li_bucketed", ["l_orderkey"], 8,
                sort_cols=["l_orderkey"],
            )
            write_bucketed(
                o, "t_o_bucketed", ["o_orderkey"], 8,
                sort_cols=["o_orderkey"],
            )
            bl = spark.table("t_li_bucketed")
            bo = spark.table("t_o_bucketed")
            j = bl.join(bo, bl.l_orderkey == bo.o_orderkey)
            assert j.count() == lis.join(o, lis.l_orderkey == o.o_orderkey).count()
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, plan
            # per-bucket sort recorded: the join needs no extra Sort of
            # the bucketed streams (SortMergeJoin consumes them directly)
            assert "Bucketed: true" in plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
            spark.sql("DROP TABLE IF EXISTS t_li_bucketed")
            spark.sql("DROP TABLE IF EXISTS t_o_bucketed")

    def test_bucket_pruning_on_key_equality(self, spark, li):
        """An equality filter on the bucket key scans ONE bucket, not
        all of them — the metadata-only pruning that makes point lookups
        on a bucketed fact table O(1/n_buckets) of the scan."""
        from metaframe_spark.scale import write_bucketed

        saved = spark.conf.get(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled"
        )
        # the planner auto-downgrades a bucketed scan when no join/agg
        # consumes the distribution; pin it on so the pruning is visible
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
        )
        try:
            write_bucketed(
                li.select("l_orderkey", "l_quantity"),
                "t_prune_bucketed", ["l_orderkey"], 8,
            )
            bl = spark.table("t_prune_bucketed")
            q = bl.filter(F.col("l_orderkey") == 1)
            plan = q._jdf.queryExecution().executedPlan().toString()
            assert "SelectedBucketsCount: 1 out of 8" in plan, plan
        finally:
            spark.conf.set(
                "spark.sql.sources.bucketing.autoBucketedScan.enabled", saved
            )
            spark.sql("DROP TABLE IF EXISTS t_prune_bucketed")

    def test_write_bucketed_validates_args(self, spark, li):
        from metaframe_spark.scale import write_bucketed

        with pytest.raises(ValueError, match="key column"):
            write_bucketed(li, "t_x", [], 8)
        with pytest.raises(ValueError, match="n_buckets"):
            write_bucketed(li, "t_x", ["l_orderkey"], 0)


class TestZOrder:
    def _grid(self, spark):
        # the full 100x100 grid, one point per cell (id = 100*y + x)
        return spark.range(10_000).select(
            (F.col("id") % 100).cast("int").alias("x"),
            (F.col("id") / 100).cast("int").alias("y"),
            F.col("id").alias("payload"),
        )

    def _file_spans(self, spark, path):
        r = spark.read.parquet(path).withColumn("f", F.input_file_name())
        return (
            r.groupBy("f")
            .agg(
                (F.max("x") - F.min("x")).alias("sx"),
                (F.max("y") - F.min("y")).alias("sy"),
                F.min("y").alias("y_lo"),
                F.max("y").alias("y_hi"),
            )
            .collect()
        )

    def test_content_preserved_and_files_tight_in_both_dims(
        self, spark, tmp_path
    ):
        from metaframe_spark.scale import write_zordered

        df = self._grid(spark)
        zpath = str(tmp_path / "zordered")
        write_zordered(df, zpath, ["x", "y"], n_files=16)
        back = spark.read.parquet(zpath)
        assert back.count() == 10_000
        assert (
            sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
        )
        # x-sorted baseline: tight in x, but every file spans ALL of y
        xpath = str(tmp_path / "xsorted")
        (
            df.repartitionByRange(16, "x")
            .sortWithinPartitions("x")
            .write.parquet(xpath)
        )
        zspans = self._file_spans(spark, zpath)
        xspans = self._file_spans(spark, xpath)
        assert len(zspans) == 16
        zsy = sum(r.sy for r in zspans) / len(zspans)
        xsy = sum(r.sy for r in xspans) / len(xspans)
        # 16 z-files over 8-bit codes = 2 leading bits per dim -> each file
        # covers ~1/4 of each range (span ~25); x-sorted files span ~99 in y
        assert zsy < 0.5 * xsy, (zsy, xsy)
        # averages, not max: a range-partition boundary that straddles a
        # high-bit transition legitimately gives ONE file a wide span
        zsx = sum(r.sx for r in zspans) / len(zspans)
        assert zsx < 50 and zsy < 50, (zsx, zsy)
        # data skipping on the NON-leading dim: a narrow y band intersects
        # few z-files but every x-sorted file
        zhit = sum(1 for r in zspans if r.y_lo <= 10 <= r.y_hi)
        xhit = sum(1 for r in xspans if r.y_lo <= 10 <= r.y_hi)
        assert zhit <= len(zspans) // 2 < xhit == len(xspans)

    def test_equi_depth_absorbs_skew(self, spark, tmp_path):
        """A hot value in x must not collapse the curve: equi-depth codes
        spread the hot range across files, keeping file sizes balanced."""
        from metaframe_spark.scale import write_zordered

        df = spark.range(8_000).select(
            F.when(F.col("id") % 2 == 0, 7)
            .otherwise(F.col("id") % 1000)
            .cast("int")
            .alias("x"),
            (F.col("id") % 97).cast("int").alias("y"),
        )
        path = str(tmp_path / "skewed")
        write_zordered(df, path, ["x", "y"], n_files=8)
        sizes = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name())
            .count()
            .collect()
        )
        counts = sorted(r["count"] for r in sizes)
        assert len(counts) == 8
        assert counts[-1] <= 3 * counts[0], counts

    def test_null_and_type_handling(self, spark, tmp_path):
        from metaframe_spark.scale import write_zordered, zorder_code

        df = spark.createDataFrame(
            [(None, 1.5), (3, 2.5), (8, None)], "x int, y double"
        )
        path = str(tmp_path / "withnulls")
        write_zordered(df, path, ["x", "y"], n_files=1, bits_per_col=4)
        assert spark.read.parquet(path).count() == 3
        dated = spark.createDataFrame([("2024-01-02", 1)], "d string, v int").select(
            F.col("d").cast("date").alias("d"), "v"
        )
        assert dated.select(
            zorder_code(dated, ["d", "v"], bits_per_col=4).alias("z")
        ).collect()[0].z is not None

    def test_guards(self, spark):
        from metaframe_spark.scale import write_zordered, zorder_code

        df = spark.createDataFrame([("a", 1)], "s string, v int")
        with pytest.raises(ValueError, match="non-empty"):
            zorder_code(df, [])
        with pytest.raises(ValueError, match="unsupported type"):
            zorder_code(df, ["s"])
        with pytest.raises(ValueError, match="62-bit"):
            zorder_code(df, ["v"], bits_per_col=63)
        with pytest.raises(ValueError, match="n_files"):
            write_zordered(df, "/tmp/never", ["v"], n_files=0)
