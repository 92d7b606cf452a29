"""Pins for the round-15 optimization internals.

Each test pins one mechanism the r15 optimization round relies on, so a
future refactor that silently reverts it fails fast (the r14 convention,
test_optimizations_r14.py).
"""

from __future__ import annotations

import pytest

from metaframe_spark.operators.similarity import _local_rel_dir


class _StubSpark:
    """Just enough of a SparkSession for _local_rel_dir's defaultFS probe."""

    def __init__(self, default_fs):
        self._fs = default_fs

    @property
    def _jsc(self):
        return self

    def hadoopConfiguration(self):
        return self

    def get(self, key, default=None):
        assert key == "fs.defaultFS"
        return self._fs if self._fs is not None else default


class TestSidecarFastPathGuard:
    """r15 verdict next-#4: the driver-side sidecar fast path must only
    fire for paths that are provably driver-local — an explicit file://
    scheme, or a scheme-less path when fs.defaultFS is the local FS. On
    a cluster whose defaultFS is HDFS/S3A a scheme-less path resolves
    remotely, and a driver-local write would split the layout."""

    def test_explicit_remote_scheme_takes_spark_path(self):
        assert _local_rel_dir("hdfs://nn/path", "parquet") is None
        assert _local_rel_dir("s3a://bucket/k", "parquet", _StubSpark("file:///")) is None

    def test_schemeless_under_remote_default_fs_takes_spark_path(self):
        spark = _StubSpark("hdfs://nn:8020")
        assert _local_rel_dir("/warehouse/rel", "parquet", spark) is None

    def test_schemeless_under_local_default_fs_is_driver_local(self):
        spark = _StubSpark("file:///")
        assert _local_rel_dir("/tmp/rel", "parquet", spark) == "/tmp/rel"
        # unset defaultFS falls back to the hadoop default (file:///)
        assert _local_rel_dir("/tmp/rel", "parquet", _StubSpark(None)) == "/tmp/rel"

    def test_explicit_file_scheme_is_driver_local_even_on_cluster(self):
        spark = _StubSpark("hdfs://nn:8020")
        assert _local_rel_dir("file:///tmp/rel", "parquet", spark) == "/tmp/rel"

    def test_non_parquet_always_takes_spark_path(self):
        assert _local_rel_dir("/tmp/rel", "orc", _StubSpark("file:///")) is None

    def test_real_local_session_stays_on_fast_path(self, spark):
        # the sandbox session's defaultFS is file: — the guard must not
        # disable the measured ~350× sidecar win in local mode
        assert _local_rel_dir("/tmp/rel", "parquet", spark) == "/tmp/rel"


class TestPoolRoundingDeterminism:
    """The pooled-mean rounding must be floor(x*1e6 + 0.5D)/1e6 — pure
    IEEE ops both engines execute bit-identically — not round(x, 6),
    whose half-way handling differs between Spark (exact binary
    expansion) and DuckDB (multiply-by-1e6-first). Observed at sf0.1:
    0.616992/192 = 0.0032134999999999998 rounds to 0.003213 under Spark
    round() but 0.003214 under DuckDB round()."""

    def test_mean_uses_floor_formula(self, spark):
        from metaframe_spark.operators import pool_embeddings

        df = spark.createDataFrame(
            [(0, [0.003213]) for _ in range(191)] + [(0, [0.634475])],
            "label int, embedding array<double>",
        )
        out = pool_embeddings(df, "label", normalize=False).collect()[0]
        # sum = 0.003213*191 + 0.634475 = 1.248158 (DECIMAL-exact), /192
        # = 0.0065008229...: sanity that the formula runs end to end
        assert out["centroid"][0] == pytest.approx(0.006501, abs=1e-6)

    def test_halfway_cell_matches_duckdb_convention(self, spark):
        # the exact sf0.1 disagreement cell: 0.616992 / 192
        v = spark.sql(
            "select floor(cast(0.616992 as double) / 192 * 1e6 + 0.5D) / 1e6 as v"
        ).collect()[0]["v"]
        assert v == 0.003214  # DuckDB's floor formula agrees (checked live)
        import duckdb

        dv = duckdb.sql(
            "select floor(0.616992::DOUBLE / 192 * 1e6 + 0.5) / 1e6 as v"
        ).fetchall()[0][0]
        assert dv == v

    def test_rep_signals_plan_has_no_exchange(self, spark):
        # r15: repetition_signals is row-local — every signal depends only
        # on the document's own units, so the former
        # explode→groupBy(id, kind, unit) exchange (2.2 M rows at sf0.1)
        # must stay gone
        from metaframe_spark.operators.text import repetition_signals

        df = spark.createDataFrame(
            [(1, "a b c a b c\nx\nx"), (2, "one two three four five")],
            "doc_id long, text string",
        )
        out = repetition_signals(df)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        rows = {r["doc_id"]: r for r in out.collect()}
        # doc 1: lines = [a b c a b c, x, x] -> 3 units, 2 distinct,
        # dup_line_frac = 1/3; the duplicated line "x" covers 2 chars of 15
        assert rows[1]["dup_line_frac"] == pytest.approx(1 / 3, abs=1e-6)
        assert rows[1]["dup_line_char_frac"] == pytest.approx(2 / 15, abs=1e-6)
        # doc 1 top 2-gram: "a b"/"b c" occur 2x ("c a" once) -> tie broken
        # by length then gram desc -> "b c" (3 chars, 2 occurrences), /15
        assert rows[1]["top_2gram_char_frac"] == pytest.approx(6 / 15, abs=1e-6)
        # doc 2: no repeated units — but the top-2gram metric counts the
        # single most frequent gram even at c=1 (published accounting):
        # max struct = (1, len, gram) -> "three four", 10 chars of 23
        assert rows[2]["dup_line_frac"] == 0.0
        assert rows[2]["dup_5gram_char_frac"] == 0.0
        assert rows[2]["top_2gram_char_frac"] == pytest.approx(10 / 23, abs=1e-6)

    def test_plan_has_no_round_in_pool(self, spark):
        from metaframe_spark.operators import pool_embeddings

        df = spark.createDataFrame(
            [(0, [1.0, 2.0])], "label int, embedding array<double>"
        )
        plan = pool_embeddings(df, "label")._jdf.queryExecution().analyzed().toString()
        assert "round(" not in plan.lower()
