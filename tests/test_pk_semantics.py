"""PK-maintenance semantics beyond the reference (fixed-mode extensions).

Covers the round-1 VERDICT/ADVICE fixes:
* PK invalidation on ``withColumn`` overwriting a PK column (VERDICT #3);
* PK preserved through inner/left equi-joins on the other side's unique PK
  (VERDICT #2);
* PK invalidation on row-multiplicity operators — explode in select,
  mapInPandas, unpivot (ADVICE medium);
* dropDuplicates short-circuit falls through on nonexistent subset columns
  (ADVICE low);
* lineitem is not seeded with the (violated) FIXTURES.md PK (ADVICE high);
* writeStream accessor keeps metadata (SURVEY §2.3 row 16).
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from metaframe_spark.core import MetaFrame, MetaStreamWriter
from metaframe_spark.io import TPCH_PRIMARY_KEYS, load_table, verify_primary_key

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def orders(spark):
    return load_table(spark, SF, "orders")


@pytest.fixture()
def customer(spark):
    return load_table(spark, SF, "customer")


class TestPkInvalidation:
    def test_withcolumn_overwriting_pk_invalidates(self, orders):
        assert orders.primary_key == ["o_orderkey"]
        out = orders.withColumn("o_orderkey", F.lit(1))
        assert out.primary_key is None
        # ...and the dedup short-circuit no longer skips a genuine dedup
        assert out.dropDuplicates(["o_orderkey"]).count() == 1

    def test_withcolumn_new_column_keeps_pk(self, orders):
        out = orders.withColumn("x", F.lit(1))
        assert out.primary_key == ["o_orderkey"]

    def test_withcolumns_overwriting_pk_invalidates(self, orders):
        out = orders.withColumns({"o_orderkey": F.lit(1)})
        assert out.primary_key is None

    def test_select_explode_invalidates(self, orders):
        out = orders.withColumn("arr", F.array(F.lit(1), F.lit(2))).select(
            "o_orderkey", F.explode("arr").alias("v")
        )
        assert out.primary_key is None

    def test_selectexpr_explode_invalidates(self, orders):
        out = orders.withColumn("arr", F.array(F.lit(1), F.lit(2))).selectExpr(
            "o_orderkey", "explode(arr) as v"
        )
        assert out.primary_key is None

    def test_mapinpandas_invalidates(self, orders):
        def ident(it):
            for pdf in it:
                yield pdf

        out = orders.select("o_orderkey").mapInPandas(ident, "o_orderkey long")
        assert out.primary_key is None

    def test_unpivot_invalidates(self, orders):
        out = orders.unpivot(
            "o_orderkey", ["o_totalprice"], "var", "val"
        )
        assert out.primary_key is None

    def test_replace_on_pk_invalidates(self, customer):
        out = customer.replace(1, 2, subset=["c_custkey"])
        assert out.primary_key is None

    def test_replace_off_pk_keeps(self, customer):
        out = customer.replace("BUILDING", "B", subset=["c_mktsegment"])
        assert out.primary_key == ["c_custkey"]


class TestPkThroughJoins:
    def test_inner_join_on_other_pk_keeps_left_pk(self, orders, customer):
        # equi-join on the other side's verified-unique key: left PK survives
        o = orders.withColumnRenamed("o_custkey", "c_custkey")
        assert o.primary_key == ["o_orderkey"]  # renaming a non-PK col keeps PK
        joined = o.join(customer, "c_custkey", "inner")
        assert joined.primary_key == ["o_orderkey"]

    def test_left_join_on_other_pk_keeps(self, orders, customer):
        o = orders.withColumnRenamed("o_custkey", "c_custkey")
        joined = o.join(customer, "c_custkey", "left")
        assert joined.primary_key == ["o_orderkey"]
        assert joined.count() == orders.count()

    def test_join_on_non_pk_invalidates(self, orders, customer):
        joined = orders.join(
            customer, orders["o_custkey"] == customer["c_nationkey"], "inner"
        )
        assert joined.primary_key is None

    def test_semi_join_keeps(self, orders, customer):
        o = orders.withColumnRenamed("o_custkey", "c_custkey")
        out = o.join(customer, "c_custkey", "left_semi")
        assert out.primary_key == ["o_orderkey"]

    def test_columns_named_like_wrapper_members_keep_the_hint(self, spark, orders, customer):
        """Names MetaFrame defines resolve on the wrapper, never on a
        column: a left frame with columns named like the join hint's own
        members joins with the right rows, and the PK broadcast hint still
        applies (checked as in test_plans.py::test_pk_join_broadcast_hint)."""
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            o = orders.select(
                F.col("o_custkey").alias("c_custkey"),
                F.col("o_orderkey").alias("_pk_join_broadcast_hint"),
                F.col("o_totalprice").alias("PK_BROADCAST_MAX_BYTES"),
            )
            hinted = o.join(customer, "c_custkey")
            raw = o.to_spark().join(customer.to_spark(), "c_custkey")
            plan = hinted.to_spark()._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" in plan
            assert sorted(hinted.collect()) == sorted(raw.collect())
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


class TestShortCircuitSafety:
    def test_dropduplicates_bogus_column_raises(self, orders):
        with pytest.raises(AnalysisException):
            orders.dropDuplicates(["o_orderkey", "no_such_col"]).collect()

    def test_lineitem_pk_not_seeded(self, spark):
        assert "lineitem" not in TPCH_PRIMARY_KEYS
        li = load_table(spark, SF, "lineitem")
        assert li.primary_key is None
        # dedup on the (false) FIXTURES key must actually deduplicate
        n = li.count()
        d = li.dropDuplicates(["l_orderkey", "l_linenumber"]).count()
        assert d < n

    def test_verify_primary_key(self, spark):
        li = load_table(spark, SF, "lineitem")
        assert not verify_primary_key(li, ["l_orderkey", "l_linenumber"])
        assert verify_primary_key(load_table(spark, SF, "orders"), ["o_orderkey"])

    def test_load_table_verify_pk_skips_violated(self, spark):
        mf = load_table(spark, SF, "orders", verify_pk=True)
        assert mf.primary_key == ["o_orderkey"]

    def test_dropduplicates_set_subset_raises_like_spark(self, orders):
        """Spark rejects a ``set`` subset; a known PK covering it must not
        make the wrapper accept it (and record a hash-ordered key)."""
        raised = []
        for frame in (orders, MetaFrame(orders.to_spark())):
            with pytest.raises(Exception) as exc:
                frame.dropDuplicates({"o_orderkey", "o_custkey"})
            raised.append(type(exc.value))
        assert raised[0] is raised[1]


class TestStreamWriter:
    def test_writestream_keeps_metadata(self, spark):
        stream = (
            spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        )
        mf = MetaFrame(stream, {"src": "rate"})
        w = mf.writeStream
        assert isinstance(w, MetaStreamWriter)
        w2 = w.format("memory").outputMode("append")
        assert isinstance(w2, MetaStreamWriter)
        assert w2.metadata == {"src": "rate"}


class TestColumnNameResolution:
    def test_groupby_with_backticked_column(self, spark, orders):
        # F.col with an exotic path still resolves through the analyzer
        out = orders.groupBy(F.col("o_orderstatus")).agg(F.count(F.lit(1)).alias("c"))
        assert out.primary_key == ["o_orderstatus"]

    def test_groupby_with_expression_gives_no_pk(self, orders):
        out = orders.groupBy(F.upper(F.col("o_orderstatus"))).agg(
            F.count(F.lit(1)).alias("c")
        )
        assert out.primary_key is None  # expression: not a real PK column


class TestReviewFixes:
    """Regression tests for the round-2 self-review findings (PK-hazard
    paths that would arm the dedup short-circuit with a stale key)."""

    def test_na_fill_on_pk_invalidates(self, orders):
        out = orders.na.fill(0)  # no subset -> could touch the PK column
        assert out.primary_key is None
        assert out.metadata["table"] == "orders"  # rest of metadata kept

    def test_na_fill_off_pk_keeps(self, orders):
        out = orders.na.fill(0.0, subset=["o_totalprice"])
        assert out.primary_key == ["o_orderkey"]

    def test_na_drop_keeps_pk(self, orders):
        # row removal cannot break uniqueness
        assert orders.na.drop().primary_key == ["o_orderkey"]

    def test_stat_crosstab_drops_stale_pk(self, orders):
        # the stat hop takes the PK-columns-present check of direct calls
        out = orders.stat.crosstab("o_orderstatus", "o_orderpriority")
        assert isinstance(out, MetaFrame)
        assert "o_orderkey" not in out.columns
        assert out.primary_key is None
        assert out.metadata["table"] == "orders"

    def test_grouped_applyinpandas_invalidates(self, orders):
        def expand(pdf):
            import pandas as pd

            return pd.concat([pdf[["o_custkey"]]] * 2)

        grouped = orders.groupBy("o_custkey")
        assert grouped.primary_key == ["o_custkey"]
        out = grouped.applyInPandas(expand, "o_custkey long")
        assert out.primary_key is None
        # and the dedup now actually deduplicates
        assert out.dropDuplicates(["o_custkey"]).count() < out.count()

    def test_select_alias_to_pk_name_invalidates(self, orders):
        out = orders.select(F.col("o_custkey").alias("o_orderkey"))
        assert out.primary_key is None

    def test_selectexpr_alias_to_pk_name_invalidates(self, orders):
        out = orders.selectExpr("o_custkey AS o_orderkey")
        assert out.primary_key is None

    def test_todf_invalidates(self, orders):
        out = orders.select("o_orderkey", "o_custkey").toDF("a", "b")
        assert out.primary_key is None

    def test_getitem_list_dropping_pk_col(self, orders):
        out = orders[["o_custkey"]]
        assert out.primary_key is None
        assert out.metadata["table"] == "orders"

    def test_getitem_list_keeping_pk_col(self, orders):
        out = orders[["o_orderkey", "o_custkey"]]
        assert out.primary_key == ["o_orderkey"]

    def test_saveastable_writes_no_stray_sidecar(self, spark, orders, tmp_path):
        import os

        os.makedirs(tmp_path / "ttab", exist_ok=True)
        cwd = os.getcwd()
        os.chdir(tmp_path)
        try:
            orders.limit(1).write.mode("overwrite").saveAsTable("ttab")
            assert not os.path.exists(tmp_path / "ttab" / "_metaframe_metadata.json")
        finally:
            os.chdir(cwd)
            spark.sql("DROP TABLE IF EXISTS ttab")


def test_core_reads_each_argument_once():
    """Grep guard: the subset and the join's other side are each read in
    one place, routing follows the class (no hand-kept name list), the
    na/stat hops need no proxy of their own, and the two writers share one
    chain proxy."""
    import inspect

    from metaframe_spark import core

    src = inspect.getsource(core)
    assert src.count('kwargs.get("subset"') <= 1
    assert src.count('kwargs.get("other"') <= 1
    assert "_OWN_NAMES" not in src
    assert "_AccessorProxy" not in src
    # MetaFrame's error message and the writer chain proxy's delegation
    assert src.count("def __getattr__") == 2
