"""The declared correctness-query catalog (SURVEY.md §2.4, Q1-Q30).

Each entry is the DataFrame-API form of one delegated-surface capability
(SURVEY.md §2.3 rows cited per query), executed **through**
:class:`~metaframe_spark.core.MetaFrame` — the reference's delegation path
(``/root/reference/metaframe/metaframe.py:111-117``) — never raw
``spark.sql``. ``ORACLE`` holds the equivalent DuckDB SQL the driver runs
side-by-side over the same parquet tables.

Cross-engine determinism rules (why the SQL looks the way it does):

* every computed column is aliased identically on both sides (the driver's
  compare sorts columns by name before hashing);
* money/value sums go through ``CAST(... AS DECIMAL(18,6))`` *before* the
  SUM so the aggregation is exact integer arithmetic in both engines (double
  summation order differs between Spark partial-aggs and DuckDB; decimal
  makes it order-independent), then back to DOUBLE for a uniform schema.
  Per-row double arithmetic (products, subtraction) is IEEE-identical in
  both engines, so casting the row value is safe; ties in the
  double->decimal rounding cannot occur (a binary double can never be an
  exact multiple of 10^-7/2);
* integer-width functions (``year``/``month``/``length``/``rank``/
  ``datediff``/``floor``/``ceil``) are cast to BIGINT on both sides —
  Spark returns INT where DuckDB returns BIGINT;
* DuckDB ``regexp_replace`` needs the ``'g'`` flag to match Spark's
  replace-all semantics;
* ``collect_list`` order is nondeterministic → sort + join to a string;
* anti-join oracle uses ``NOT EXISTS`` (``NOT IN`` has different NULL
  semantics).

Q14 note: SURVEY §2.4 declared an orders-vs-events as-of, but the driver
data's date ranges are disjoint (orders 1995-2001, events 2024 — verified),
which degenerates to all-NULL. The as-of *operator* is exercised instead as
a per-user as-of over ``events`` (last ``error`` event at-or-before each
event), which is also the scale-correct shape: partitioned window, no
global sort.
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .io import load_table
from .operators.text import STOPWORDS

QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: Dict[str, str] = {}


def query(name: str, sql: str = None):
    """Register a query callable and (optionally) its DuckDB oracle SQL.

    A ``__SW_XX__`` macro in the SQL becomes the SQL list of language
    ``xx``'s stopwords, taken from the one STOPWORDS source
    (:mod:`.operators.text`) so the two lists can never drift apart."""

    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = _expand_stopwords(sql)
        return fn

    return deco


def _expand_stopwords(sql: str) -> str:
    for lang, words in STOPWORDS.items():
        sql = sql.replace(
            f"__SW_{lang.upper()}__", "[" + ", ".join(f"'{w}'" for w in words) + "]"
        )
    return sql


_DEC = "decimal(18,6)"


def _dsum(col, alias):
    """Exact, order-independent sum of a double column (see module doc)."""
    return F.sum(col.cast(_DEC)).cast("double").alias(alias)


# -- scans / projection / filter (SURVEY §2.3 rows 1,3,4) --------------------


@query(
    "q01",
    "SELECT l_orderkey, l_quantity FROM lineitem",
)
def q01(spark, sf):
    return load_table(spark, sf, "lineitem").select("l_orderkey", "l_quantity")


@query(
    "q02",
    "SELECT l_orderkey, l_linenumber FROM lineitem "
    "WHERE l_quantity > 25 AND l_returnflag = 'R'",
)
def q02(spark, sf):
    li = load_table(spark, sf, "lineitem")
    return li.filter((F.col("l_quantity") > 25) & (F.col("l_returnflag") == "R")).select(
        "l_orderkey", "l_linenumber"
    )


# -- aggregations (row 6) -----------------------------------------------------


@query(
    "q03",
    "SELECT l_returnflag, l_linestatus, "
    "CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty, "
    "CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_revenue, "
    "count(*) AS cnt "
    "FROM lineitem GROUP BY l_returnflag, l_linestatus",
)
def q03(spark, sf):
    """TPC-H Q1 shape — the flagship aggregation (SURVEY §7.1)."""
    li = load_table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _dsum(F.col("l_quantity"), "sum_qty"),
        _dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), "sum_revenue"),
        F.count(F.lit(1)).alias("cnt"),
    )


@query(
    "q04",
    "SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust "
    "FROM orders GROUP BY o_orderstatus",
)
def q04(spark, sf):
    return (
        load_table(spark, sf, "orders")
        .groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("n_cust"))
    )


@query(
    "q05",
    "SELECT n_regionkey, n_nationkey, count(*) AS cnt "
    "FROM nation GROUP BY ROLLUP(n_regionkey, n_nationkey)",
)
def q05(spark, sf):
    return (
        load_table(spark, sf, "nation")
        .rollup("n_regionkey", "n_nationkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "q06",
    "SELECT l_returnflag, l_linestatus, "
    "CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty "
    "FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)",
)
def q06(spark, sf):
    return (
        load_table(spark, sf, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(_dsum(F.col("l_quantity"), "sum_qty"))
    )


# -- joins (row 5) ------------------------------------------------------------


@query(
    "q07",
    "SELECT c_name, o_orderkey FROM customer JOIN orders ON c_custkey = o_custkey",
)
def q07(spark, sf):
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    # customer GROWS with scale factor (~15B rows at 100 TB) — no explicit
    # broadcast hint; AQE's autoBroadcastJoinThreshold picks broadcast only
    # while the table actually fits, so the plan stays valid at every scale
    return o.join(c, c["c_custkey"] == o["o_custkey"]).select("c_name", "o_orderkey")


@query(
    "q08",
    "SELECT c_custkey, count(o_orderkey) AS n_orders FROM customer "
    "LEFT JOIN orders ON c_custkey = o_custkey GROUP BY c_custkey",
)
def q08(spark, sf):
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "q09",
    "SELECT p_partkey FROM part WHERE p_partkey IN "
    "(SELECT l_partkey FROM lineitem WHERE l_quantity > 40)",
)
def q09(spark, sf):
    p = load_table(spark, sf, "part")
    li = load_table(spark, sf, "lineitem").filter(F.col("l_quantity") > 40)
    return p.join(li, p["p_partkey"] == li["l_partkey"], "left_semi").select("p_partkey")


@query(
    "q10",
    "SELECT c_custkey FROM customer c WHERE NOT EXISTS "
    "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)",
)
def q10(spark, sf):
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select("c_custkey")


@query(
    "q11",
    "SELECT s_suppkey, n_nationkey FROM supplier "
    "FULL JOIN nation ON s_nationkey = n_nationkey",
)
def q11(spark, sf):
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    return s.join(n, s["s_nationkey"] == n["n_nationkey"], "full").select(
        "s_suppkey", "n_nationkey"
    )


@query(
    "q12",
    "SELECT p1.p_partkey AS pk1, p2.p_partkey AS pk2 FROM part p1 "
    "JOIN part p2 ON p1.p_brand = p2.p_brand AND p1.p_size < p2.p_size",
)
def q12(spark, sf):
    """Theta join with an equi component — Spark hash-partitions on p_brand
    and applies the range predicate post-join, so this is NOT a cartesian."""
    p1 = load_table(spark, sf, "part").alias("p1")
    p2 = load_table(spark, sf, "part").alias("p2")
    return p1.join(
        p2,
        (F.col("p1.p_brand") == F.col("p2.p_brand"))
        & (F.col("p1.p_size") < F.col("p2.p_size")),
    ).select(F.col("p1.p_partkey").alias("pk1"), F.col("p2.p_partkey").alias("pk2"))


@query(
    "q13",
    "SELECT r_name, "
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue "
    "FROM lineitem JOIN orders ON l_orderkey=o_orderkey "
    "JOIN customer ON o_custkey=c_custkey "
    "JOIN nation ON c_nationkey=n_nationkey "
    "JOIN region ON n_regionkey=r_regionkey GROUP BY r_name",
)
def q13(spark, sf):
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    # fact-to-fact shuffled join on orderkey. Explicit broadcast hints ONLY
    # for the constant-cardinality dims (nation=25, region=5 rows at EVERY
    # scale factor); customer grows linearly with SF, so its join strategy is
    # left to AQE's size threshold.
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n.to_spark()), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r.to_spark()), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(_dsum(F.col("l_extendedprice"), "revenue"))
    )


# -- windows (row 7) -----------------------------------------------------------


@query(
    "q14",
    "SELECT event_id, max(CASE WHEN event_type='error' THEN ts END) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) "
    "AS last_error_ts FROM events",
)
def q14(spark, sf):
    """Per-user as-of: latest 'error' ts at-or-before each event (module doc)."""
    e = load_table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = F.when(F.col("event_type") == "error", F.col("ts"))
    return e.select("event_id", F.max(marked).over(w).alias("last_error_ts"))


@query(
    "q15",
    "SELECT o_custkey, o_orderkey, CAST(r AS BIGINT) AS r FROM ("
    "SELECT o_custkey, o_orderkey, rank() OVER "
    "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS r "
    "FROM orders) WHERE r <= 3",
)
def q15(spark, sf):
    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("r", F.rank().over(w))
        .filter(F.col("r") <= 3)
        .select("o_custkey", "o_orderkey", F.col("r").cast("long").alias("r"))
    )


@query(
    "q16",
    "SELECT o_orderkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER "
    "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey "
    "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_sum "
    "FROM orders",
)
def q16(spark, sf):
    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey").rowsBetween(-2, 0)
    return o.select(
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double").alias("running_sum"),
    )


@query(
    "q17",
    "SELECT event_id, value - lag(value, 1, 0.0) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id) AS delta FROM events",
)
def q17(spark, sf):
    e = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id", (F.col("value") - F.lag("value", 1, 0.0).over(w)).alias("delta")
    )


# -- sort / top-k (row 8) -------------------------------------------------------


@query(
    "q18",
    "SELECT o_orderkey, o_totalprice FROM orders "
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
)
def q18(spark, sf):
    # Spark plans TakeOrderedAndProject — no full sort materialization
    o = load_table(spark, sf, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


# -- set ops (row 9) -------------------------------------------------------------


@query(
    "q19",
    "SELECT c_nationkey AS k FROM customer INTERSECT SELECT s_nationkey AS k FROM supplier",
)
def q19(spark, sf):
    c = load_table(spark, sf, "customer").select(F.col("c_nationkey").alias("k"))
    s = load_table(spark, sf, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.intersect(s.to_spark())


@query(
    "q19b",
    "SELECT c_nationkey AS k FROM customer EXCEPT SELECT s_nationkey AS k FROM supplier",
)
def q19b(spark, sf):
    c = load_table(spark, sf, "customer").select(F.col("c_nationkey").alias("k"))
    s = load_table(spark, sf, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.subtract(s.to_spark())


@query(
    "q20",
    "SELECT DISTINCT x FROM (SELECT c_nationkey AS x FROM customer "
    "UNION ALL SELECT s_nationkey AS x FROM supplier)",
)
def q20(spark, sf):
    c = load_table(spark, sf, "customer").select(F.col("c_nationkey").alias("x"))
    s = load_table(spark, sf, "supplier").select(F.col("s_nationkey").alias("x"))
    out = c.unionAll(s.to_spark()).distinct()
    assert out.primary_key == ["x"]  # PK inference through the wrapper (§2.2)
    return out


# -- dedup (row 10) ---------------------------------------------------------------


@query(
    "q21",
    "SELECT DISTINCT o_custkey, o_orderstatus FROM orders",
)
def q21(spark, sf):
    o = load_table(spark, sf, "orders").select("o_custkey", "o_orderstatus")
    out = o.dropDuplicates(["o_custkey", "o_orderstatus"])
    assert out.primary_key == ["o_custkey", "o_orderstatus"]
    return out


# -- scalar functions (row 11) -----------------------------------------------------


@query(
    "q22",
    "SELECT p_partkey, upper(p_name) AS uname, substr(p_type,1,5) AS type5, "
    "CAST(length(p_brand) AS BIGINT) AS blen, "
    "regexp_replace(p_name,'[aeiou]','','g') AS novowel FROM part",
)
def q22(spark, sf):
    p = load_table(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("uname"),
        F.substring("p_type", 1, 5).alias("type5"),
        F.length("p_brand").cast("long").alias("blen"),
        F.regexp_replace("p_name", "[aeiou]", "").alias("novowel"),
    )


@query(
    "q23",
    "SELECT o_orderkey, CAST(year(o_orderdate) AS BIGINT) AS y, "
    "CAST(month(o_orderdate) AS BIGINT) AS m, "
    "strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS d30, "
    "CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS dd "
    "FROM orders",
)
def q23(spark, sf):
    # d30 is rendered as a string on both sides: DATE-typed results come back
    # as datetime.date from Spark but datetime64 from DuckDB's pandas fetch,
    # an ambiguity strings avoid entirely.
    o = load_table(spark, sf, "orders")
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("y"),
        F.month("o_orderdate").cast("long").alias("m"),
        F.date_format(F.date_add(d, 30), "yyyy-MM-dd").alias("d30"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).cast("long").alias("dd"),
    )


@query(
    "q24",
    "SELECT l_orderkey, l_linenumber, round(abs(l_discount-0.05),6) AS a, "
    "round(pow(l_tax+1,2),6) AS p, CAST(floor(l_quantity) AS BIGINT) AS f, "
    "CAST(ceil(l_quantity) AS BIGINT) AS c FROM lineitem",
)
def q24(spark, sf):
    li = load_table(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_discount") - 0.05), 6).alias("a"),
        F.round(F.pow(F.col("l_tax") + 1, 2), 6).alias("p"),
        F.floor("l_quantity").cast("long").alias("f"),
        F.ceil("l_quantity").cast("long").alias("c"),
    )


@query(
    "q25",
    "SELECT o_custkey, array_to_string(list_sort(list(o_orderstatus)), ',') AS statuses "
    "FROM orders GROUP BY o_custkey",
)
def q25(spark, sf):
    o = load_table(spark, sf, "orders")
    return o.groupBy("o_custkey").agg(
        F.array_join(F.array_sort(F.collect_list("o_orderstatus")), ",").alias("statuses")
    )


@query(
    "q26",
    "SELECT event_id, json_extract_string(props,'$.k') AS k FROM events",
)
def q26(spark, sf):
    e = load_table(spark, sf, "events")
    return e.select("event_id", F.get_json_object("props", "$.k").alias("k"))


# -- null handling (row 12) ----------------------------------------------------------


@query(
    "q27",
    "SELECT c_custkey, coalesce(nullif(c_mktsegment,'BUILDING'),'NONE') AS seg FROM customer",
)
def q27(spark, sf):
    c = load_table(spark, sf, "customer")
    return c.select(
        "c_custkey",
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("NONE")).alias("seg"),
    )


# -- grouped-map UDF (row 17) -----------------------------------------------------------


@query(
    "q28",
    "SELECT event_id, round((value - avg(value) OVER w) / "
    "nullif(stddev_samp(value) OVER w, 0), 6) AS z FROM events "
    "WINDOW w AS (PARTITION BY user_id)",
)
def q28(spark, sf):
    """Per-user z-score via applyInPandas (Arrow-batched grouped-map UDF)."""
    import pandas as pd  # noqa: F401 — documents the UDF contract

    e = load_table(spark, sf, "events")

    def zscore(pdf):
        s = pdf["value"].std(ddof=1)
        m = pdf["value"].mean()
        z = (pdf["value"] - m) / s if s and s == s else None
        out = pdf[["event_id"]].copy()
        out["z"] = z
        return out

    res = e.groupBy("user_id").applyInPandas(zscore, schema="event_id long, z double")
    return res.select(
        "event_id",
        F.when(F.isnan("z"), F.lit(None)).otherwise(F.round(F.col("z"), 6)).alias("z"),
    )


# -- event-time windows, batch-checkable (row 16) ------------------------------------------


@query(
    "q29",
    "SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS cnt, "
    "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value "
    "FROM events GROUP BY 1, 2",
)
def q29(spark, sf):
    e = load_table(spark, sf, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), _dsum(F.col("value"), "sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt", "sum_value")
    )


@query(
    "q30",
    "WITH bounds AS ("
    "  SELECT TIMESTAMP '1970-01-01' + CAST(floor(epoch(min(ts))/1800)*1800 - 1800 AS BIGINT) * INTERVAL 1 SECOND AS lo,"
    "         TIMESTAMP '1970-01-01' + CAST(floor(epoch(max(ts))/1800)*1800 AS BIGINT) * INTERVAL 1 SECOND AS hi"
    "  FROM events), "
    "starts AS (SELECT unnest(generate_series(lo, hi, INTERVAL 30 MINUTE)) AS ws FROM bounds) "
    "SELECT s.ws AS window_start, e.event_type, count(*) AS cnt, "
    "CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value "
    "FROM starts s JOIN events e ON e.ts >= s.ws AND e.ts < s.ws + INTERVAL 60 MINUTE "
    "GROUP BY 1, 2",
)
def q30(spark, sf):
    """Sliding event-time window (1h width / 30min slide), epoch-aligned in
    both engines; DuckDB oracle reconstructs the slide-start series."""
    e = load_table(spark, sf, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), _dsum(F.col("value"), "sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt", "sum_value")
    )


# ===========================================================================
# LLM-data-pipeline operators (build brief / SURVEY §7.2 P3) over the
# documents / embeddings tables. SQL-expressible ops carry DuckDB oracles;
# LSH-based ops (seeded but not SQL-expressible) are rows-only here and get
# exact correctness tests in tests/test_llm_ops.py.
# ===========================================================================

_NORM_SQL = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"


@query(
    "llm_exact_dedup",
    "SELECT sha256(norm) AS content_sha256, min(doc_id) AS doc_id, "
    "count(*) AS n_copies FROM ("
    f"  SELECT {_NORM_SQL} AS norm, doc_id FROM ("
    "    SELECT * FROM documents UNION ALL SELECT * FROM documents)"
    ") GROUP BY norm",
)
def llm_exact_dedup(spark, sf):
    """Exact content dedup (normalize → sha256 → one survivor per digest).
    The corpus is doubled via union-all so the op demonstrably removes
    duplicates (the driver tables have none naturally)."""
    from .operators import exact_dedup

    d = load_table(spark, sf, "documents")
    doubled = d.unionAll(d.to_spark())
    assert doubled.primary_key is None  # union invalidated the seeded PK
    return exact_dedup(doubled, "text", "doc_id")


@query(
    "llm_quality",
    "SELECT doc_id, n_chars, n_tokens, round(punct_ratio, 6) AS punct_ratio, "
    "round(stopword_ratio, 6) AS stopword_ratio, "
    "round(0.4 * least(n_tokens / 100.0, 1.0) + 0.3 * (1.0 - punct_ratio) "
    "      + 0.3 * stopword_ratio, 6) AS quality_score "
    "FROM ("
    "  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, "
    "         CAST(len(toks) AS BIGINT) AS n_tokens, "
    "         CASE WHEN length(text) > 0 THEN "
    "           (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) "
    "           / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS punct_ratio, "
    "         CASE WHEN len(toks) > 0 THEN "
    "           len(list_filter(toks, t -> list_contains({sw}, t))) "
    "           / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS stopword_ratio "
    "  FROM (SELECT doc_id, text, list_filter(string_split({norm}, ' '), t -> t <> '') AS toks FROM documents)"
    ")".format(sw="__SW_EN__", norm=_NORM_SQL),
)
def llm_quality(spark, sf):
    from .operators import quality_features

    d = load_table(spark, sf, "documents")
    return quality_features(d, "text").select(
        "doc_id", "n_chars", "n_tokens", "punct_ratio", "stopword_ratio", "quality_score"
    )


@query(
    "llm_lang_id",
    "SELECT doc_id, score_de, score_en, score_es, score_fr, "
    "CASE WHEN score_de >= greatest(score_en, score_es, score_fr) THEN 'de' "
    "     WHEN score_en >= greatest(score_es, score_fr) THEN 'en' "
    "     WHEN score_es >= score_fr THEN 'es' ELSE 'fr' END AS predicted_lang "
    "FROM ("
    "  SELECT doc_id, "
    "    round(CASE WHEN len(toks) > 0 THEN len(list_filter(toks, t -> list_contains(__SW_DE__, t))) / CAST(len(toks) AS DOUBLE) ELSE 0.0 END, 6) AS score_de, "
    "    round(CASE WHEN len(toks) > 0 THEN len(list_filter(toks, t -> list_contains(__SW_EN__, t))) / CAST(len(toks) AS DOUBLE) ELSE 0.0 END, 6) AS score_en, "
    "    round(CASE WHEN len(toks) > 0 THEN len(list_filter(toks, t -> list_contains(__SW_ES__, t))) / CAST(len(toks) AS DOUBLE) ELSE 0.0 END, 6) AS score_es, "
    "    round(CASE WHEN len(toks) > 0 THEN len(list_filter(toks, t -> list_contains(__SW_FR__, t))) / CAST(len(toks) AS DOUBLE) ELSE 0.0 END, 6) AS score_fr "
    f"  FROM (SELECT doc_id, list_filter(string_split({_NORM_SQL}, ' '), t -> t <> '') AS toks FROM documents)"
    ")",
)
def llm_lang_id(spark, sf):
    """Stopword-overlap language-ID heuristic; ties break lexicographically.
    (The driver data's lang labels are synthetic — same vocabulary every
    language — so this checks the operator's determinism, not label
    recovery.)"""
    from .operators import language_scores

    d = load_table(spark, sf, "documents")
    return language_scores(d, "text").select(
        "doc_id", "score_de", "score_en", "score_es", "score_fr", "predicted_lang"
    )


@query(
    "llm_fingerprint",
    "SELECT doc_id, list_min(list_transform(range(1, len(toks) - 1), "
    "  i -> md5(array_to_string(list_slice(toks, i, i + 2), ' ')))) AS fp "
    f"FROM (SELECT doc_id, list_filter(string_split({_NORM_SQL}, ' '), t -> t <> '') AS toks FROM documents) "
    "WHERE len(toks) >= 3",
)
def llm_fingerprint(spark, sf):
    from .operators import doc_fingerprint

    return doc_fingerprint(load_table(spark, sf, "documents"), "text", "doc_id", n=3)


#: the perturbed-twin corpus used by llm_ngram_jaccard / llm_minhash_pairs:
#: near-duplicates do not occur naturally in the synthetic documents table,
#: so a shifted copy is unioned in (same trick as llm_exact_dedup's doubling)
#: to give the near-dup operators true positives to find. The id offset is
#: far above any plausible doc_id (an offset of 10⁶ would collide once the
#: corpus passes a million rows, silently corrupting pair identity) and is
#: GUARDED per-row: a doc_id at or above the offset raises instead of
#: aliasing a twin — a CASE branch inside codegen, no extra job.
_TWIN_SUFFIX = " shifted near duplicate tail"
_TWIN_OFFSET = 10**12

_CORPUS_SQL = (
    "(SELECT doc_id, text FROM documents "
    " UNION ALL "
    f" SELECT doc_id + {_TWIN_OFFSET}, text || '{_TWIN_SUFFIX}' FROM documents)"
)


def _twin_corpus(d):
    """documents ∪ perturbed copy (id + offset, text + suffix) — injected
    near-duplicates with known ground-truth pairs."""
    guarded_offset = F.when(
        F.col("doc_id") < _TWIN_OFFSET, F.lit(_TWIN_OFFSET).cast("long")
    ).otherwise(
        F.expr("raise_error('doc_id >= twin offset: twin ids would collide')").cast("long")
    )
    perturbed = d.select(
        (F.col("doc_id") + guarded_offset).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_TWIN_SUFFIX)).alias("text"),
    )
    return d.select("doc_id", "text").unionAll(perturbed.to_spark())


_SHINGLE_SQL = (
    "list_distinct(list_transform(range(1, len(toks) - 1), "
    "i -> array_to_string(list_slice(toks, i, i + 2), ' ')))"
)

#: DuckDB form of operators.similarity.unit_normalize — same elementwise
#: divide over the same sequential sum-of-squares, so values are
#: bit-identical cross-engine.
_NORM_EMB_SQL = (
    "list_transform(embedding, x -> CAST(x AS DOUBLE) / "
    "sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])))"
)

@query(
    "llm_ngram_jaccard",
    "WITH f AS ("
    f"  SELECT doc_id, {_SHINGLE_SQL} AS sh, "
    "    list_min(list_transform(range(1, len(toks) - 1), "
    "      i -> md5(array_to_string(list_slice(toks, i, i + 2), ' ')))) AS fp "
    f"  FROM (SELECT doc_id, list_filter(string_split({_NORM_SQL}, ' '), t -> t <> '') AS toks FROM {_CORPUS_SQL}) "
    "  WHERE len(toks) >= 3) "
    "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_inter, "
    "CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_union "
    "FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id",
)
def llm_ngram_jaccard(spark, sf):
    """Exact word-3gram Jaccard verification, blocked on a 1-permutation
    MinHash fingerprint (min md5 of 3-gram) — an LSH block key whose
    cardinality GROWS with the corpus, so expected pair volume tracks true
    near-dups instead of n²/|blocks|, and
    oversized blocks are split by a second permutation so the worst case
    is sub-quadratic too. Fingerprint and shingle sets both derive from
    ONE tokenize pass (``minhash_block=True``; fingerprinting and
    verifying separately would tokenize every document twice). The
    corpus is the twin-injected one so the verifier has real near-dups."""
    from .operators import jaccard_similarity_pairs

    d = load_table(spark, sf, "documents")
    pairs = jaccard_similarity_pairs(
        _twin_corpus(d), "doc_id", "text", minhash_block=True
    )
    return pairs.select("id_a", "id_b", "n_inter", "n_union")


@query(
    "llm_cosine_topk",
    "SELECT q.vec_id AS q_id, c.vec_id, "
    "round(list_inner_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine, "
    "CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY "
    "  round(list_inner_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC, "
    "  c.vec_id) AS BIGINT) AS r "
    "FROM embeddings c, embeddings q WHERE q.vec_id < 8 "
    "QUALIFY r <= 5",
)
def llm_cosine_topk(spark, sf):
    """Brute-force exact cosine top-5 for 8 query vectors: broadcast
    nested-loop over the corpus (one scan, no corpus shuffle)."""
    from .operators import brute_force_topk

    e = load_table(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("q_id"), "embedding")
    return brute_force_topk(e.to_spark(), q.to_spark(), k=5)


#: exhaustive all-pairs Jaccard over the twin corpus — shared by
#: llm_minhash_pairs (probabilistic-recall banding: the hash match proves
#: recall 1.0 ON THIS CORPUS) and llm_prefix_jaccard (prefix filtering:
#: the hash match confirms the lemma's GUARANTEED completeness).
_ALLPAIRS_JACCARD_ORACLE = (
    "WITH f AS ("
    f"  SELECT doc_id, {_SHINGLE_SQL} AS sh "
    f"  FROM (SELECT doc_id, list_filter(string_split({_NORM_SQL}, ' '), t -> t <> '') AS toks FROM {_CORPUS_SQL}) "
    "  WHERE len(toks) >= 3) "
    "SELECT id_a, id_b, n_inter, n_union, "
    "round(n_inter / CAST(n_union AS DOUBLE), 6) AS jaccard FROM ("
    "  SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_inter, "
    "  CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_union "
    "  FROM f a JOIN f b ON a.doc_id < b.doc_id) "
    "WHERE n_inter >= 0.7 * n_union"
)


@query("llm_minhash_pairs", _ALLPAIRS_JACCARD_ORACLE)
def llm_minhash_pairs(spark, sf):
    """MinHash-LSH near-duplicate pairs at Jaccard >= 0.7 over the
    twin-injected corpus (the near-dup regime: a 0.8 *distance*
    threshold would accept pairs down to 0.2 similarity, flooding the
    candidate set, and a corpus with no twins has no true positives).

    Banded (16×3) candidates + exact shingle-set verification in one scan;
    the oracle is the EXHAUSTIVE all-pairs Jaccard join, so a hash match
    proves LSH recall = 1.0 on this corpus (P[miss] ~1e-3 per pair at the
    J=0.7 boundary, ~2e-7 at J=0.9 where the twins live) on top of exact
    precision."""
    from .operators import minhash_near_dup_pairs

    d = load_table(spark, sf, "documents")
    return minhash_near_dup_pairs(
        _twin_corpus(d), "doc_id", "text", min_jaccard=0.7
    ).select("id_a", "id_b", "n_inter", "n_union", "jaccard")


@query("llm_prefix_jaccard", _ALLPAIRS_JACCARD_ORACLE)
def llm_prefix_jaccard(spark, sf):
    """EXACT set-similarity self-join via prefix filtering
    (operators/dedup.py::prefix_filter_pairs, the SSJoin/PPJoin family)
    over the same twin corpus and threshold as llm_minhash_pairs: every
    document keeps only its n − ⌈t·n⌉ + 1 globally-RAREST shingles, the
    candidate join runs on those prefixes (skew-resistant by
    construction — common shingles never enter a prefix), and exact
    verification keeps precision exact. Unlike the banded MinHash
    sibling — whose oracle match proves recall 1.0 on this corpus but
    is probabilistic in general — the prefix lemma guarantees
    completeness at ANY corpus: a qualifying pair's overlap cannot
    avoid both prefixes. Shares the exhaustive all-pairs oracle, so the
    hash match pins the whole pipeline (ordering, prefix length, length
    filter, verify) pair-for-pair."""
    from .operators.dedup import prefix_filter_pairs

    d = load_table(spark, sf, "documents")
    pairs = prefix_filter_pairs(
        _twin_corpus(d), "doc_id", "text", min_jaccard=0.7
    )
    return pairs.select("id_a", "id_b", "n_inter", "n_union", "jaccard")


@query(
    "llm_neardup_sweep",
    "WITH f AS ("
    f"  SELECT doc_id, {_SHINGLE_SQL} AS sh "
    f"  FROM (SELECT doc_id, list_filter(string_split({_NORM_SQL}, ' '), t -> t <> '') AS toks FROM {_CORPUS_SQL}) "
    "  WHERE len(toks) >= 3), "
    "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS ni, "
    "  CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS BIGINT) AS nu "
    "  FROM f a JOIN f b ON a.doc_id < b.doc_id), "
    "th AS (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold), "
    "q AS (SELECT t.threshold, p.id_a, p.id_b FROM p JOIN th t "
    "  ON CAST(p.ni AS DOUBLE) >= t.threshold * CAST(p.nu AS DOUBLE) - 1e-9), "
    "tot AS (SELECT count(*) AS n FROM " + _CORPUS_SQL + "), "
    "pc AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs "
    "  FROM q GROUP BY threshold), "
    "dc AS (SELECT threshold, CAST(count(DISTINCT d) AS BIGINT) AS n_dup_docs "
    "  FROM (SELECT threshold, id_a AS d FROM q "
    "        UNION ALL SELECT threshold, id_b FROM q) GROUP BY threshold) "
    "SELECT t.threshold, coalesce(pc.n_pairs, 0) AS n_pairs, "
    "coalesce(dc.n_dup_docs, 0) AS n_dup_docs, "
    "round(CAST(coalesce(dc.n_dup_docs, 0) AS DOUBLE) / "
    "  nullif(CAST(tot.n AS DOUBLE), 0.0), 6) AS dup_doc_rate "
    "FROM th t LEFT JOIN pc ON pc.threshold = t.threshold "
    "LEFT JOIN dc ON dc.threshold = t.threshold CROSS JOIN tot",
)
def llm_neardup_sweep(spark, sf):
    """Near-dup threshold-sweep data card (operators/dedup.py::
    neardup_threshold_sweep): per candidate Jaccard threshold
    {0.5..0.9}, qualifying pair count, documents touched, and corpus
    share over the twin-injected corpus — the knee-of-the-curve table a
    curation team reads to pick the dedup threshold before a
    destructive pass. Candidates generate ONCE at the 0.5 floor via the
    prefix filter (lemma-complete there, hence complete at every higher
    threshold); each pair's exact (n_inter, n_union) integers qualify
    per threshold through the same epsilon-guarded comparison the
    generator uses. The oracle replays the EXHAUSTIVE all-pairs sweep,
    so the hash match proves completeness of the floor-candidates
    strategy at every threshold in the sweep, row for row. Scale: the
    expensive stage runs once; the sweep multiplies only the bounded
    pair relation by 5 literal thresholds."""
    from .operators.dedup import neardup_threshold_sweep

    d = load_table(spark, sf, "documents")
    return neardup_threshold_sweep(
        _twin_corpus(d), [0.5, 0.6, 0.7, 0.8, 0.9], "doc_id", "text"
    )


def _simhash_oracle_sql(max_hamming: int = 3, bits: int = 60) -> str:
    """Exhaustive-Hamming DuckDB oracle for the banded SimHash operator.

    Reproduces the md5-variant fingerprint (top 60 md5 bits per token,
    per-bit majority votes) in pure SQL, then joins ALL pairs — so the
    oracle is blind to the banding strategy under test: a hash match
    proves the pigeonhole band join returns exactly the exhaustive
    all-pairs result."""
    h = "CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)"
    votes = ", ".join(
        f"sum(CASE WHEN ((h >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(bits)
    )
    fp = " + ".join(f"CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(bits))
    return (
        "WITH tok AS ("
        f"  SELECT doc_id, {h} AS h FROM ("
        f"    SELECT doc_id, unnest(list_filter(string_split({_NORM_SQL}, ' '), t -> t <> '')) AS t"
        "     FROM documents)), "
        f"votes AS (SELECT doc_id, {votes} FROM tok GROUP BY doc_id), "
        f"fp AS (SELECT doc_id, {fp} AS simhash FROM votes) "
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        "CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming "
        "FROM fp a JOIN fp b ON a.doc_id < b.doc_id "
        f"WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}"
    )


@query("llm_simhash_pairs", _simhash_oracle_sql())
def llm_simhash_pairs(spark, sf):
    """SimHash banded near-dup pairs, Hamming <= 3. ``token_hash="md5"``
    (60-bit md5 slice) makes the fingerprint engine-portable, so the DuckDB
    oracle recomputes it independently and verifies the banded join against
    an exhaustive all-pairs Hamming scan (pigeonhole: identical results)."""
    from .operators import simhash_near_dup_pairs

    d = load_table(spark, sf, "documents")
    return simhash_near_dup_pairs(d, "doc_id", "text", token_hash="md5")


@query(
    "llm_ann_topk",
    f"WITH n AS (SELECT vec_id, {_NORM_EMB_SQL} AS emb FROM embeddings), "
    "q AS (SELECT vec_id AS q_id, emb FROM n WHERE vec_id < 8) "
    "SELECT q_id, vec_id, cosine, r FROM ("
    "  SELECT q.q_id, c.vec_id, round(list_inner_product(q.emb, c.emb), 6) AS cosine, "
    "  CAST(row_number() OVER (PARTITION BY q.q_id ORDER BY "
    "    round(list_inner_product(q.emb, c.emb), 6) DESC, c.vec_id) AS BIGINT) AS r "
    "  FROM n c, q) "
    "WHERE r <= 5",
)
def llm_ann_topk(spark, sf):
    """LSH-bucketed approximate top-k neighbors. The oracle is the exact
    brute-force top-k, so a hash match proves the LSH candidate set covers
    every true neighbor (recall = 1.0 at these settings on this corpus) —
    the strongest check an ANN operator admits; cosines are the same
    sequential array fold in both engines, ties break by vec_id."""
    from .operators import ann_topk, unit_normalize

    e = unit_normalize(load_table(spark, sf, "embeddings").to_spark())
    q = e.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("q_id"), "embedding")
    return ann_topk(e, q, k=5, num_hash_tables=12, bucket_length=1.0)


@query(
    "llm_multimodal_extract",
    "SELECT doc_id, 'image/fake' AS media_type, "
    "CAST(octet_length(encode(text)) AS BIGINT) AS size_bytes, "
    "sha256(text) AS sha256, "
    "CAST(64 + CAST(('0x' || substr(sha256(text), 1, 4)) AS INTEGER) % 1984 AS BIGINT) AS width, "
    "CAST(64 + CAST(('0x' || substr(sha256(text), 5, 4)) AS INTEGER) % 1984 AS BIGINT) AS height, "
    "'stub' AS mode "
    "FROM documents",
)
def llm_multimodal_extract(spark, sf):
    """Binary-payload metadata extraction via Arrow-batched mapInPandas.
    The executor-side UDF tries Pillow first and falls back to a
    deterministic sha256-derived stub for undecodable payloads (see
    metaframe_spark.multimodal). The demo payloads are utf-8 text — never
    a decodable image — so the stub path runs regardless of whether PIL is
    installed, keeping the whole pipeline (payload bytes, digest, derived
    dimensions, mode='stub') exactly reproducible in SQL: the oracle
    recomputes it engine-side, verifying the Arrow batch plumbing
    end-to-end."""
    from .multimodal import attach_demo_payload, extract_media_metadata

    d = load_table(spark, sf, "documents")
    return extract_media_metadata(attach_demo_payload(d, "text"))


@query(
    "llm_token_count",
    "SELECT doc_id, CAST(len(list_filter(string_split("
    "trim(regexp_replace(text, '\\s+', ' ', 'g')), ' '), t -> t <> '')) AS BIGINT) AS ws_tokens, "
    "CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_tokens "
    "FROM documents WHERE trim(text) <> ''",
)
def llm_token_count(spark, sf):
    """Token budgeting: whitespace token count AND the BPE-ish pre-token
    count (letter runs / digit runs / single symbols — the boundaries a
    trained BPE merges within). Both are per-row codegen regexes; the
    oracle recomputes them in RE2, pinning cross-engine tokenizer
    agreement. Pipelines use these to budget context windows and split
    documents before the model tokenizer runs."""
    from .operators.text import bpe_token_count, token_count

    d = load_table(spark, sf, "documents")
    return (
        d.filter(F.trim(F.col("text")) != "")
        .select(
            "doc_id",
            token_count(F.col("text")).alias("ws_tokens"),
            bpe_token_count(F.col("text")).alias("bpe_tokens"),
        )
    )


@query(
    "llm_chunks",
    "WITH toks AS (SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t <> '') AS t "
    "  FROM documents WHERE trim(text) <> ''), "
    "idx AS (SELECT doc_id, t, unnest(range(0, greatest(CAST(ceil((len(t) - 40) / 32.0) AS BIGINT), 0) + 1)) AS i FROM toks) "
    "SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx, "
    "CAST(len(list_slice(t, i * 32 + 1, i * 32 + 40)) AS BIGINT) AS n_tokens, "
    "array_to_string(list_slice(t, i * 32 + 1, i * 32 + 40), ' ') AS chunk "
    "FROM idx",
)
def llm_chunks(spark, sf):
    """Context packing: overlapping fixed-token-budget chunks
    (max_tokens=40, overlap=8 ⇒ stride 32 at this test scale; 512/64 in
    production). Row-expanding posexplode, shuffle-free — each chunk
    re-slices the token array in place. The oracle rebuilds every chunk's
    exact text (DuckDB list_slice takes an inclusive END index where
    Spark slice takes a LENGTH — i·stride+max vs max)."""
    from .operators.text import chunk_documents

    d = load_table(spark, sf, "documents")
    return chunk_documents(d.to_spark(), max_tokens=40, overlap=8)


@query(
    "llm_neardup_groups",
    "WITH RECURSIVE f AS ("
    f"  SELECT doc_id, {_SHINGLE_SQL} AS sh "
    f"  FROM (SELECT doc_id, list_filter(string_split({_NORM_SQL}, ' '), t -> t <> '') AS toks FROM {_CORPUS_SQL}) "
    "  WHERE len(toks) >= 3), "
    "pairs AS ("
    "  SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM f a JOIN f b ON a.doc_id < b.doc_id "
    "  WHERE len(list_intersect(a.sh, b.sh)) >= 0.7 * (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))), "
    "sym AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs), "
    "reach(id, lbl) AS ("
    "  SELECT DISTINCT src, src FROM sym "
    "  UNION "
    "  SELECT s.src, r.lbl FROM sym s JOIN reach r ON s.dst = r.id) "
    "SELECT id, min(lbl) AS group_id FROM reach GROUP BY id",
)
def llm_neardup_groups(spark, sf):
    """Connected components over the verified near-dup pairs (iterative
    min-label propagation, checkpointed — the distributed alternative to
    driver union-find). The oracle computes the SAME components as a
    recursive-CTE transitive closure over the exhaustive Jaccard pair
    list, so the hash match proves both the LSH pair recall AND the
    fixpoint of the label propagation — the operator class ('iterative
    algorithm') that usually only gets a rows-only check."""
    from .operators import minhash_near_dup_pairs, near_dup_groups

    d = load_table(spark, sf, "documents")
    pairs = minhash_near_dup_pairs(_twin_corpus(d), "doc_id", "text", min_jaccard=0.7)
    return near_dup_groups(pairs)


#: shared by llm_ivf_topk (in-line fit) and llm_ivf_store (persisted
#: index): both probe EVERY cell (n_probe = n_lists), so both must be
#: pair-for-pair identical to this exact brute-force top-k.
_IVF_EXACT_ORACLE = (
    f"WITH n AS (SELECT vec_id, {_NORM_EMB_SQL} AS emb FROM embeddings), "
    "q AS (SELECT vec_id AS q_id, emb FROM n WHERE vec_id >= 8 AND vec_id < 16) "
    "SELECT q_id, vec_id, cosine, r FROM ("
    "  SELECT q.q_id, c.vec_id, round(list_inner_product(q.emb, c.emb), 6) AS cosine, "
    "  CAST(row_number() OVER (PARTITION BY q.q_id ORDER BY "
    "    round(list_inner_product(q.emb, c.emb), 6) DESC, c.vec_id) AS BIGINT) AS r "
    "  FROM n c, q) "
    "WHERE r <= 5"
)


@query("llm_ivf_topk", _IVF_EXACT_ORACLE)
def llm_ivf_topk(spark, sf):
    """IVF top-k with every cell probed (n_probe = n_lists): the probe
    join and per-cell exact cosine are exercised end-to-end while recall
    is provably 1.0 REGARDLESS of where the sampled KMeans centroids
    landed — so the exact brute-force oracle hash-matches even though the
    index is learned. Partial probing (n_probe < n_lists, the production
    setting) is covered by the recall tests in pytest."""
    from .operators import unit_normalize
    from .operators.similarity import ivf_topk

    e = unit_normalize(load_table(spark, sf, "embeddings").to_spark())
    q = e.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 16)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return ivf_topk(e, q, k=5, n_lists=8, n_probe=8, kmeans_max_iter=5, kmeans_init="random")


@query(
    "llm_pii_mask",
    "WITH aug AS (SELECT doc_id, CASE WHEN doc_id % 10 = 0 THEN "
    "  text || ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com or 555-123-4567.' "
    "  ELSE text END AS text FROM documents) "
    "SELECT doc_id, regexp_replace(regexp_replace(text, "
    "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), "
    "'\\b[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}\\b', '<PHONE>', 'g') AS masked "
    "FROM aug",
)
def llm_pii_mask(spark, sf):
    """C4-style PII scrub (emails + phone-shaped numbers → placeholder
    tags). The synthetic corpus carries no natural PII, so a deterministic
    email+phone suffix is injected on every 10th doc in BOTH engines —
    the oracle then proves the masked text is byte-identical, i.e. the
    regex semantics agree between Java regex and RE2 and nothing else in
    the document was touched."""
    from .operators.text import mask_pii

    d = load_table(spark, sf, "documents")
    aug = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact: user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-123-4567."),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    return aug.select("doc_id", mask_pii(F.col("text")).alias("masked"))


@query(
    "llm_repetition",
    "WITH toks AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS t "
    "  FROM documents WHERE trim(text) <> ''), "
    "big AS (SELECT doc_id, lower(t[i]) || ' ' || lower(t[i+1]) AS bg "
    "  FROM toks, unnest(range(1, len(t))) AS u(i) WHERE len(t) >= 2), "
    "cnt AS (SELECT doc_id, bg, count(*) AS c FROM big GROUP BY 1, 2) "
    "SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, "
    "round(max(c) / sum(c), 6) AS top_bigram_frac "
    "FROM cnt GROUP BY 1",
)
def llm_repetition(spark, sf):
    """Gopher-style repetition signal: the fraction of all word bigrams
    taken by the single most frequent bigram (high → boilerplate/looped
    text, a standard pretraining filter). Explode → two-level aggregate;
    the map-side partial combine collapses each document's bigrams before
    the exchange, so shuffle volume is distinct-bigram-bounded."""
    from .operators.text import tokens

    d = load_table(spark, sf, "documents")
    toks = d.filter(F.trim(F.col("text")) != "").select(
        "doc_id", tokens(F.col("text")).alias("_t")
    )
    bigrams = toks.filter(F.size("_t") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(_t) - 1), "
                "i -> concat(element_at(_t, i), ' ', element_at(_t, i + 1)))"
            )
        ).alias("bg"),
    )
    cnt = bigrams.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c"))
    return cnt.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_bigrams"),
        F.round(F.max("c") / F.sum("c"), 6).alias("top_bigram_frac"),
    )


@query(
    "llm_multimodal_resize",
    "SELECT doc_id, CAST(256 AS BIGINT) AS width, CAST(256 AS BIGINT) AS height, "
    "CAST(ceil(octet_length(encode(text)) / 4.0) AS BIGINT) AS size_bytes, "
    "md5(substr(text, 1, CAST(ceil(octet_length(encode(text)) / 4.0) AS BIGINT))) AS payload_md5 "
    "FROM documents",
)
def llm_multimodal_resize(spark, sf):
    """Binary resize stage (mapInPandas, binary in → binary out). The stub
    resample truncates to ceil(len/4) bytes — deterministic and
    SQL-reproducible, so the oracle recomputes the resized payload's md5
    engine-side and the Arrow round-trip of BINARY columns through Python
    is verified bit-exactly. (DuckDB md5/substr operate on VARCHAR, not
    BLOB; byte slices equal char slices here because the fixture text is
    pure ASCII — octet_length == length on every row, all SFs.)"""
    from .multimodal import attach_demo_payload, resize_media

    d = load_table(spark, sf, "documents")
    out = resize_media(attach_demo_payload(d, "text").to_spark())
    return out.select(
        "doc_id", "width", "height", "size_bytes", F.md5("payload").alias("payload_md5")
    )


@query(
    "llm_multimodal_frames",
    "WITH t AS (SELECT doc_id, text, "
    "  least(8, greatest(1, CAST(ceil(octet_length(encode(text)) / 256.0) AS BIGINT))) AS n "
    "  FROM documents), "
    "u AS (SELECT doc_id, text, unnest(generate_series(0, n - 1)) AS j FROM t) "
    "SELECT doc_id, CAST(j AS BIGINT) AS frame_idx, "
    "md5(substr(text, CAST(j * 256 + 1 AS BIGINT), 256)) AS frame_md5 FROM u",
)
def llm_multimodal_frames(spark, sf):
    """Row-expanding frame sampler (one payload → up to 8 fixed-stride
    chunks) — the fan-out mapInPandas shape a scalar UDF cannot express.
    The stride slicing is reproduced by the oracle with generate_series +
    blob substring, hash-checking both the expansion cardinality and
    every frame's bytes."""
    from .multimodal import attach_demo_payload, sample_frames

    d = load_table(spark, sf, "documents")
    out = sample_frames(attach_demo_payload(d, "text").to_spark())
    return out.select("doc_id", "frame_idx", F.md5("frame").alias("frame_md5"))


@query(
    "llm_image_neardup",
    f"WITH c AS (SELECT doc_id, encode(text) AS payload FROM documents "
    f"  UNION ALL SELECT doc_id + {_TWIN_OFFSET}, "
    "  encode(substr(text, 1, 9) || 'Z' || substr(text, 11)) FROM documents), "
    "g AS (SELECT doc_id, hex(payload) AS hx, octet_length(payload) AS n FROM c), "
    "b AS (SELECT doc_id, list_transform(range(0, 64), i -> "
    "  CASE WHEN CAST(('0x' || substr(hx, CAST(((((i // 8) * 9 + (i % 8)) % n) * 2) + 1 AS INTEGER), 2)) AS INTEGER) > "
    "  CAST(('0x' || substr(hx, CAST(((((i // 8) * 9 + (i % 8) + 1) % n) * 2) + 1 AS INTEGER), 2)) AS INTEGER) "
    "  THEN 1 ELSE 0 END) AS bits FROM g) "
    "SELECT id_a, id_b, hamming FROM ("
    "  SELECT a.doc_id AS id_a, b2.doc_id AS id_b, "
    "  CAST(len(list_filter(range(0, 64), i -> a.bits[i + 1] <> b2.bits[i + 1])) AS INTEGER) AS hamming "
    "  FROM b a JOIN b b2 ON a.doc_id < b2.doc_id) "
    "WHERE hamming <= 3",
)
def llm_image_neardup(spark, sf):
    """Perceptual image near-duplicate pairs (multimodal/__init__.py::
    image_near_dup_pairs): 64-bit dHash fingerprints
    over the binary payloads (one Arrow mapInPandas pass; real
    grayscale-resize-compare when PIL decodes, the deterministic
    byte-grid stub otherwise — the demo payloads are utf-8 text, so the
    stub runs regardless of codec availability, exactly like
    llm_multimodal_extract) fed through the SAME banded-Hamming engine
    as text SimHash (operators/dedup.py::hamming_near_dup_pairs): by
    pigeonhole the band equi-join is complete for hamming < n_bands, so
    the banded output is IDENTICAL to an exhaustive all-pairs Hamming
    scan — which is exactly what the oracle computes, replaying the
    byte-grid dHash bit-for-bit in SQL over the corpus ∪ an injected
    single-byte-edit twin set (the edit flips ≤2 comparison bits per
    grid occurrence, so twins land inside the threshold while unrelated
    payloads sit ~32 bits apart). Candidate cost is banded-collisions,
    never all-pairs; the only Python is the Arrow-batched fingerprint."""
    from .multimodal import attach_demo_payload, image_near_dup_pairs

    d = load_table(spark, sf, "documents")
    base = d.select("doc_id", "text")
    edited = base.withColumn(
        "text", F.expr("concat(substr(text, 1, 9), 'Z', substr(text, 11))")
    ).withColumn("doc_id", F.col("doc_id") + F.lit(_TWIN_OFFSET))
    corpus = attach_demo_payload(
        base.to_spark().unionByName(edited.to_spark()), "text"
    )
    return image_near_dup_pairs(corpus, max_hamming=3, n_bands=4)


@query(
    "llm_audio_neardup",
    f"WITH c AS (SELECT doc_id, encode(text) AS payload FROM documents "
    f"  UNION ALL SELECT doc_id + {_TWIN_OFFSET}, "
    "  encode(substr(text, 1, 9) || 'Z' || substr(text, 11)) FROM documents), "
    "g AS (SELECT doc_id, hex(payload) AS hx, octet_length(payload) AS n "
    "  FROM c), "
    "e AS (SELECT doc_id, list_transform(range(0, 65), w -> "
    "  coalesce(list_aggregate(list_transform("
    "    range((w * n) // 65, ((w + 1) * n) // 65), "
    "    i -> CAST(('0x' || substr(hx, CAST(i * 2 + 1 AS INTEGER), 2)) "
    "    AS INTEGER)), 'sum'), 0)) AS en FROM g), "
    "b AS (SELECT doc_id, list_transform(range(0, 64), w -> "
    "  CASE WHEN en[w + 1] > en[w + 2] THEN 1 ELSE 0 END) AS bits FROM e) "
    "SELECT id_a, id_b, hamming FROM ("
    "  SELECT a.doc_id AS id_a, b2.doc_id AS id_b, "
    "  CAST(len(list_filter(range(0, 64), w -> a.bits[w + 1] <> "
    "  b2.bits[w + 1])) AS INTEGER) AS hamming "
    "  FROM b a JOIN b b2 ON a.doc_id < b2.doc_id) "
    "WHERE hamming <= 3",
)
def llm_audio_neardup(spark, sf):
    """Acoustic near-duplicate pairs (multimodal/__init__.py::
    audio_near_dup_pairs — the audio member completing the perceptual
    family next to llm_image_neardup and text SimHash): 64-bit
    amplitude-envelope fingerprints (65 equal time windows, bit =
    energy(w) > energy(w+1) — volume-invariant by construction; real
    WAV payloads decode through the stdlib wave module, proven by unit
    tests on synthesized sines, while these text-byte demo payloads
    take the deterministic stub with the IDENTICAL window/comparison
    rule) through the SAME banded-Hamming engine as image/text. The
    oracle replays the stub arithmetic — per-byte hex decode, integer
    window bounds (w·n)//65, energy sums, the 64 comparisons — and the
    exhaustive all-pairs Hamming scan, which the pigeonhole-complete
    banded join must equal pair-for-pair. A single-byte twin edit
    moves one window's energy, flipping ≤ 2 comparison bits; unrelated
    payloads sit ~32 apart."""
    from .multimodal import attach_demo_payload, audio_near_dup_pairs

    d = load_table(spark, sf, "documents")
    base = d.select("doc_id", "text")
    edited = base.withColumn(
        "text", F.expr("concat(substr(text, 1, 9), 'Z', substr(text, 11))")
    ).withColumn("doc_id", F.col("doc_id") + F.lit(_TWIN_OFFSET))
    corpus = attach_demo_payload(
        base.to_spark().unionByName(edited.to_spark()), "text"
    )
    return audio_near_dup_pairs(corpus, max_hamming=3, n_bands=4)


@query(
    "llm_video_neardup",
    "WITH c AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0 "
    f"  UNION ALL SELECT doc_id + {_TWIN_OFFSET}, "
    "  substr(text, 1, 9) || 'Z' || substr(text, 11) "
    "  FROM documents WHERE doc_id % 3 = 0), "
    "t AS (SELECT doc_id, text, least(8, greatest(1, "
    "  CAST(ceil(octet_length(encode(text)) / 256.0) AS BIGINT))) AS n "
    "  FROM c), "
    "fr AS (SELECT doc_id, j, "
    "  encode(substr(text, CAST(j * 256 + 1 AS BIGINT), 256)) AS fb "
    "  FROM t, unnest(generate_series(0, n - 1)) AS u(j)), "
    "g AS (SELECT doc_id, j, hex(fb) AS hx, octet_length(fb) AS fn FROM fr), "
    "b AS (SELECT doc_id, j, list_transform(range(0, 64), i -> "
    "  CASE WHEN CAST(('0x' || substr(hx, CAST(((((i // 8) * 9 + (i % 8)) % fn) * 2) + 1 AS INTEGER), 2)) AS INTEGER) > "
    "  CAST(('0x' || substr(hx, CAST(((((i // 8) * 9 + (i % 8) + 1) % fn) * 2) + 1 AS INTEGER), 2)) AS INTEGER) "
    "  THEN 1 ELSE 0 END) AS bits FROM g), "
    "fp AS (SELECT a.doc_id AS da, b2.doc_id AS db, "
    "  CASE WHEN a.doc_id < b2.doc_id THEN a.doc_id * 8 + a.j "
    "  ELSE b2.doc_id * 8 + b2.j END AS lof "
    "  FROM b a JOIN b b2 ON (a.doc_id * 8 + a.j) < (b2.doc_id * 8 + b2.j) "
    "  AND a.doc_id <> b2.doc_id "
    "  AND len(list_filter(range(0, 64), i -> a.bits[i + 1] <> b2.bits[i + 1])) <= 3) "
    "SELECT least(da, db) AS id_a, greatest(da, db) AS id_b, "
    "CAST(count(DISTINCT lof) AS BIGINT) AS n_shared_frames "
    "FROM fp GROUP BY 1, 2 HAVING count(DISTINCT lof) >= 2",
)
def llm_video_neardup(spark, sf):
    """Video near-duplicate pairs (multimodal/__init__.py::
    video_near_dup_pairs — the fourth perceptual member, completing
    text SimHash / image dHash / audio envelope with FRAME-SAMPLED
    matching): every 3rd document and a twin edited inside frame 0
    sample into ≤8 byte-stride frames (the llm_multimodal_frames
    machinery), each frame takes the byte-grid dHash (the
    llm_image_neardup machinery), frame near-matches come from the
    pigeonhole-complete banded-Hamming join over the composed
    id·8+frame_idx key, and documents whose lower-id side has ≥2
    DISTINCT frames with a near-match in the other report with that
    count (the frame vote is on distinct lower-side frames so a
    repeated frame cannot multiply the tally) — the frame-voting shape real video dedup
    runs over keyframe hashes, and the case a whole-payload digest
    misses (the twin shares frames 1..n exactly and frame 0 within 2
    bits). The oracle composes the SAME two already-proven fragments —
    frame slicing + per-frame dHash — plus an exhaustive frame-pair
    Hamming scan and the doc-pair vote, hash-matching pairs AND shared
    counts. One-frame documents (≤256 bytes) cannot reach the 2-frame
    vote in either engine."""
    from .multimodal import attach_demo_payload, video_near_dup_pairs

    d = load_table(spark, sf, "documents")
    base = d.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")
    edited = base.withColumn(
        "text", F.expr("concat(substr(text, 1, 9), 'Z', substr(text, 11))")
    ).withColumn("doc_id", F.col("doc_id") + F.lit(_TWIN_OFFSET))
    corpus = attach_demo_payload(
        base.to_spark().unionByName(edited.to_spark()), "text"
    )
    return video_near_dup_pairs(
        corpus, max_hamming=3, n_bands=4, min_shared_frames=2
    )


@query(
    "q31_asof",
    "SELECT l.event_id, r.ts AS ts_asof "
    "FROM (SELECT * FROM events WHERE event_type='click') l "
    "ASOF LEFT JOIN (SELECT * FROM events WHERE event_type='purchase') r "
    "ON l.user_id = r.user_id AND l.ts >= r.ts",
)
def q31_asof(spark, sf):
    """General as-of join operator (operators.asof): for each click, the
    latest purchase at-or-before it per user. One shuffle on user_id —
    union-tag + partitioned window, never a range join. DuckDB oracle uses
    its native ASOF JOIN."""
    from .operators.asof import asof_join

    e = load_table(spark, sf, "events")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    return asof_join(clicks, purchases, on="ts", by="user_id").select(
        "event_id", F.col("ts_asof")
    )


@query(
    "q32_sessionize",
    "WITH d AS ("
    "  SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL "
    "    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk "
    "  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
    "s AS (SELECT user_id, ts, sum(brk) OVER "
    "  (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM d) "
    "SELECT user_id, min(ts) AS session_start, max(ts) AS session_end, "
    "count(*) AS n_events FROM s GROUP BY user_id, sid",
)
def q32_sessionize(spark, sf):
    """Session windows (30-min gap) via Spark's native session_window —
    batch-checkable against a gaps-and-islands SQL oracle; the identical
    code path runs streaming with bounded state (streaming/sessionize)."""
    from .streaming import sessionize

    e = load_table(spark, sf, "events")
    return sessionize(e, "ts", "user_id", gap="30 minutes")


@query(
    "llm_cosine_dups",
    f"WITH n AS (SELECT vec_id, {_NORM_EMB_SQL} AS emb FROM embeddings) "
    "SELECT id_l, id_r, cosine FROM ("
    "  SELECT a.vec_id AS id_l, b.vec_id AS id_r, "
    "  round(list_inner_product(a.emb, b.emb), 6) AS cosine "
    "  FROM n a JOIN n b ON a.vec_id < b.vec_id) "
    "WHERE cosine >= 0.35",
)
def llm_cosine_dups(spark, sf):
    """Embedding-cosine duplicate pairs at a LOW threshold (0.35 — the top
    ~0.1% of this random corpus's pair-cosine distribution) — which makes
    this the EXACT all-pairs regime: no LSH family separates cos 0.35
    from 0.30 with recall 1.0, and the previous BRP-LSH formulation
    degenerated into pushing ~all N² pairs through a per-candidate
    distance UDF. cosine_pairs_exact spends the N² honestly in one BLAS
    GEMM per Arrow batch against the broadcast corpus matrix, then
    re-verifies candidates JVM-side with the sequential inner-product
    fold, so emitted cosines are bit-identical to the exhaustive DuckDB
    oracle. For true near-dup thresholds (cos >= ~0.8) use
    ann_similarity_join, which stays bucketed."""
    from .operators import cosine_pairs_exact, unit_normalize

    e = unit_normalize(load_table(spark, sf, "embeddings").to_spark())
    return cosine_pairs_exact(e, min_cosine=0.35).select(
        F.col("id_a").alias("id_l"), F.col("id_b").alias("id_r"), "cosine"
    )


@query(
    "q33_resample",
    "WITH bounds AS ("
    "  SELECT TIMESTAMP '1970-01-01' + CAST(floor(epoch(min(ts))/3600)*3600 AS BIGINT) * INTERVAL 1 SECOND AS lo,"
    "         TIMESTAMP '1970-01-01' + CAST(floor(epoch(max(ts))/3600)*3600 AS BIGINT) * INTERVAL 1 SECOND AS hi FROM events), "
    "grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM bounds), "
    "types AS (SELECT DISTINCT event_type FROM events), "
    "agg AS (SELECT date_trunc('hour', ts) AS bucket, event_type, count(*) AS cnt "
    "        FROM events GROUP BY 1, 2) "
    "SELECT g.bucket, t.event_type, coalesce(a.cnt, 0) AS cnt "
    "FROM grid g CROSS JOIN types t "
    "LEFT JOIN agg a ON a.bucket = g.bucket AND a.event_type = t.event_type",
)
def q33_resample(spark, sf):
    """Gap-filled hourly resample: every (hour, event_type) cell exists,
    empty ones zero-filled. The dense grid is generated with sequence()
    (driver-free, two tiny relations crossed and broadcast against the
    aggregate) — the standard prelude to time-series feature matrices."""
    e = load_table(spark, sf, "events")
    agg = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket"), "event_type"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    bounds = e.select(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("bucket")
    )
    types = e.select("event_type").distinct()
    return (
        grid.crossJoin(types)
        .join(agg, ["bucket", "event_type"], "left")
        .select("bucket", "event_type", F.coalesce("cnt", F.lit(0)).alias("cnt"))
    )


@query(
    "q34_pivot",
    "SELECT user_id, "
    "count(*) FILTER (event_type = 'click') AS click, "
    "count(*) FILTER (event_type = 'error') AS error, "
    "count(*) FILTER (event_type = 'purchase') AS purchase, "
    "count(*) FILTER (event_type = 'signup') AS signup, "
    "count(*) FILTER (event_type = 'view') AS view "
    "FROM events GROUP BY user_id",
)
def q34_pivot(spark, sf):
    """GroupedData.pivot (§2.3 row 6) with an explicit value list (no
    extra distinct-scan job); absent cells zero-filled to match the
    FILTER-count oracle."""
    e = load_table(spark, sf, "events")
    out = (
        e.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
    )
    return out.na.fill(0)


@query(
    "q35_explode",
    "SELECT word, count(*) AS cnt FROM ("
    "  SELECT unnest(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS word "
    "  FROM documents) GROUP BY word",
)
def q35_explode(spark, sf):
    """Generator expression (explode) + aggregation — word frequencies
    over the corpus (§2.3 row 11). Also exercises the PK-invalidation
    rule for generators in projections."""
    d = load_table(spark, sf, "documents")
    words = d.select(
        F.explode(F.split(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))), " ")).alias("word")
    )
    assert words.primary_key is None  # explode invalidated the seeded PK
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))


@query(
    "q36_from_json",
    "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_int "
    "FROM events",
)
def q36_from_json(spark, sf):
    """Schema-full JSON parsing: from_json into a typed struct (§2.3
    row 11 map/json functions) — unlike q26's string extraction, this
    exercises the JSON-to-struct path used for semi-structured columns."""
    e = load_table(spark, sf, "events")
    return e.select(
        "event_id",
        F.from_json("props", "k int").getField("k").alias("k_int"),
    )


@query(
    "q37_higher_order",
    "WITH t AS (SELECT o_custkey, list(o_totalprice ORDER BY o_totalprice, o_orderkey) AS arr "
    "FROM orders GROUP BY 1) "
    "SELECT o_custkey, round(list_aggregate(arr, 'sum'), 6) AS total, "
    "CAST(len(list_filter(arr, x -> x > 100000)) AS INT) AS n_big, "
    "round(list_transform(arr, x -> x * 0.1)[1], 6) AS min_tithe "
    "FROM t",
)
def q37_higher_order(spark, sf):
    """Higher-order array functions over an aggregated array (§2.3 row 11):
    ``aggregate`` (sequential fold — same order as the oracle's
    list_aggregate over the identically-sorted array), ``filter``, and
    ``transform`` + element access. These run as Catalyst expressions on
    the array in place — no explode/re-aggregate round trip."""
    o = load_table(spark, sf, "orders")
    arr = o.groupBy("o_custkey").agg(
        F.array_sort(
            F.collect_list(F.struct("o_totalprice", "o_orderkey"))
        ).alias("_s")
    ).select(
        "o_custkey", F.expr("transform(_s, x -> x.o_totalprice)").alias("arr")
    )
    return arr.select(
        "o_custkey",
        F.round(F.expr("aggregate(arr, 0D, (acc, x) -> acc + x)"), 6).alias("total"),
        F.size(F.expr("filter(arr, x -> x > 100000)")).alias("n_big"),
        F.round(F.expr("transform(arr, x -> x * 0.1)[0]"), 6).alias("min_tithe"),
    )


@query(
    "q38_regexp_extract",
    "SELECT p_partkey, regexp_extract(p_name, '^[a-z]+') AS first_word, "
    "CAST(len(regexp_extract_all(p_name, '[a-z]+')) AS INT) AS n_words, "
    "contains(p_type, 'BRUSHED') AS is_brushed "
    "FROM part",
)
def q38_regexp_extract(spark, sf):
    """Regex extraction family (§2.3 row 11): first-match extract,
    extract-all cardinality, and substring containment — all codegen
    string expressions, no UDF."""
    p = load_table(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", "^[a-z]+", 0).alias("first_word"),
        F.size(F.regexp_extract_all("p_name", F.lit("[a-z]+"), 0)).alias("n_words"),
        F.col("p_type").contains("BRUSHED").alias("is_brushed"),
    )


@query(
    "q39_map_funcs",
    "WITH c AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt "
    "FROM events GROUP BY 1, 2) "
    "SELECT user_id, "
    "max(CASE WHEN event_type = 'click' THEN cnt END) AS clicks, "
    "max(CASE WHEN event_type = 'purchase' THEN cnt END) AS purchases, "
    "CAST(count(*) AS INT) AS n_types "
    "FROM c GROUP BY 1",
)
def q39_map_funcs(spark, sf):
    """Map construction + access (§2.3 row 11): per-user event-type counts
    folded into a MAP column via map_from_entries, then element_at lookups
    and map_keys cardinality. The map itself is engine-internal (DuckDB's
    MAP cannot hash-compare against Spark's), so the oracle checks the
    observable lookups — which only match if the map was built and probed
    correctly."""
    e = load_table(spark, sf, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    m = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "cnt")))
        ).alias("m")
    )
    return m.select(
        "user_id",
        F.element_at("m", "click").alias("clicks"),
        F.element_at("m", "purchase").alias("purchases"),
        F.size(F.map_keys("m")).alias("n_types"),
    )


@query(
    "q40_salted_agg",
    "SELECT l_returnflag, round(sum(l_quantity), 6) AS sum_qty, "
    "CAST(count(*) AS BIGINT) AS cnt, max(l_quantity) AS max_qty "
    "FROM lineitem GROUP BY 1",
)
def q40_salted_agg(spark, sf):
    """Skew-safe two-stage aggregation (scale.salted_agg) under the
    oracle: partial aggregates on (key, salt) spread a hot key across
    n_salts reducers, then re-combine on the key alone. The oracle is the
    PLAIN group-by — a hash match proves the salted decomposition is
    exactly equivalent (sums restricted to integer-valued doubles, so
    addition order cannot perturb the result)."""
    from .scale import salted_agg

    li = load_table(spark, sf, "lineitem")
    out = salted_agg(
        li.to_spark(),
        ["l_returnflag"],
        [
            F.sum("l_quantity").alias("sum_qty"),
            F.count(F.lit(1)).alias("cnt"),
            F.max("l_quantity").alias("max_qty"),
        ],
        salt_cols=["l_orderkey"],
        finalizers={"max_qty": F.max},
    )
    return out.select(
        "l_returnflag", F.round("sum_qty", 6).alias("sum_qty"), "cnt", "max_qty"
    )


def _norm_sql_of(col: str) -> str:
    """Qualified-column form of _NORM_SQL (for self-join oracles)."""
    return f"lower(trim(regexp_replace({col}, '\\s+', ' ', 'g')))"


@query(
    "llm_dedup_incremental",
    "SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars FROM documents d "
    "WHERE NOT EXISTS (SELECT 1 FROM documents s WHERE s.doc_id % 3 = 0 "
    f"AND sha256({_norm_sql_of('s.text')}) = sha256({_norm_sql_of('d.text')}))",
)
def llm_dedup_incremental(spark, sf):
    """Incremental (cross-snapshot) dedup: today's crawl anti-joined on
    content digest against the already-ingested corpus (modelled as every
    third document). Only digests of the seen side move; AQE broadcasts
    them when small. Oracle is the NOT EXISTS form (NOT IN has different
    NULL semantics)."""
    from .operators import dedup_against

    d = load_table(spark, sf, "documents")
    seen = d.filter(F.col("doc_id") % 3 == 0)
    return dedup_against(d.to_spark(), seen.to_spark(), "text")


@query(
    "llm_stratified_sample",
    "SELECT doc_id, lang, source, draw_rank FROM ("
    "  SELECT doc_id, lang, source, CAST(row_number() OVER ("
    "    PARTITION BY lang, source "
    "    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS draw_rank "
    "  FROM documents) WHERE draw_rank <= 7",
)
def llm_stratified_sample(spark, sf):
    """Exact-quota stratified sample: 7 documents per (lang, source) cell,
    drawn in md5(doc_id) order — deterministic on any cluster layout and
    recomputable by the oracle, unlike Bernoulli sampleBy. The rank filter
    plans as WindowGroupLimit (pre-shuffle per-partition top-n), pinned in
    tests/test_plans.py."""
    from .operators import stratified_sample_exact

    d = load_table(spark, sf, "documents")
    return stratified_sample_exact(d, ["lang", "source"], 7).select(
        "doc_id", "lang", "source", "draw_rank"
    )


@query(
    "llm_decontaminate",
    "WITH t AS (SELECT doc_id, list_filter(string_split("
    f"{_NORM_SQL}, ' '), t -> t <> '') AS toks FROM documents), "
    f"sh AS (SELECT doc_id, {_SHINGLE_SQL} AS sh FROM t WHERE len(toks) >= 3), "
    "bench AS (SELECT DISTINCT s FROM (SELECT unnest(sh) AS s FROM sh WHERE doc_id % 97 = 0)), "
    "corp AS (SELECT doc_id, unnest(sh) AS s FROM sh WHERE doc_id % 97 <> 0) "
    "SELECT corp.doc_id, CAST(count(*) AS BIGINT) AS n_overlap "
    "FROM corp JOIN bench USING (s) GROUP BY corp.doc_id",
)
def llm_decontaminate(spark, sf):
    """Benchmark decontamination: per corpus document, the count of
    distinct word 3-grams shared with the eval set (every 97th document
    stands in for the benchmark). The benchmark's distinct shingle set is
    broadcast; corpus shingles are filtered map-side so only hits reach
    the count's shuffle."""
    from .operators import ngram_contamination

    d = load_table(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return ngram_contamination(corpus.to_spark(), bench.to_spark(), n=3)


@query(
    "llm_containment",
    "WITH t AS (SELECT doc_id, "
    f"  list_filter(string_split({_NORM_SQL}, ' '), t -> t <> '') AS toks "
    f"  FROM {_CORPUS_SQL}), "
    f"sh AS (SELECT doc_id, {_SHINGLE_SQL} AS sh FROM t WHERE len(toks) >= 3), "
    "bench AS (SELECT doc_id AS bench_id, unnest(sh) AS s FROM sh "
    f"  WHERE doc_id % 11 = 0 AND doc_id < {_TWIN_OFFSET}), "
    "bsz AS (SELECT bench_id, CAST(count(*) AS BIGINT) AS bench_size "
    "  FROM bench GROUP BY 1), "
    "corp AS (SELECT doc_id AS corpus_id, unnest(sh) AS s FROM sh "
    f"  WHERE NOT (doc_id % 11 = 0 AND doc_id < {_TWIN_OFFSET})), "
    "hits AS (SELECT bench_id, corpus_id, CAST(count(*) AS BIGINT) AS n_shared "
    "  FROM corp JOIN bench USING (s) GROUP BY 1, 2) "
    "SELECT h.bench_id, h.corpus_id, h.n_shared, b.bench_size, "
    "round(CAST(h.n_shared AS DOUBLE) / b.bench_size, 6) AS containment "
    "FROM hits h JOIN bsz b USING (bench_id) "
    "WHERE h.n_shared >= ceil(0.8 * b.bench_size - 1e-9)",
)
def llm_containment(spark, sf):
    """Per-pair benchmark contamination by asymmetric CONTAINMENT
    (operators/dedup.py::containment_contamination — the eval-side
    report next to llm_decontaminate's corpus-side counts): every 11th
    original document stands in for the benchmark, the corpus is the
    twin-injected one (each bench doc's twin swallows it whole, so
    ground-truth containment-1.0 pairs exist by construction), and
    pairs sharing ≥ 80% of the BENCH doc's distinct 3-gram shingles
    are reported with exact counts and the rounded fraction. Jaccard
    would miss the swallow (the union dwarfs the intersection for a
    short eval item inside a long training doc); containment cannot.
    The threshold gate is integer ``n_shared ≥ ceil(t·bench_size −
    1e-9)`` in BOTH engines — the prefix_filter_pairs epsilon
    discipline, hash-pinned here. Benchmark shingles + sizes broadcast;
    only map-side hits reach the pair count's shuffle."""
    from .operators.dedup import containment_contamination

    d = load_table(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 11 == 0)
    corpus = _twin_corpus(d).filter(
        ~((F.col("doc_id") % 11 == 0) & (F.col("doc_id") < _TWIN_OFFSET))
    )
    return containment_contamination(
        corpus, bench.to_spark(), n=3, threshold=0.8
    )


@query(
    "llm_dup_report",
    "WITH c AS (SELECT lang, text FROM documents "
    "  UNION ALL SELECT lang, text FROM documents WHERE doc_id % 3 = 0), "
    "k AS (SELECT lang, lower(trim(regexp_replace("
    "  coalesce(text, chr(1) || '<NULL>'), '\\s+', ' ', 'g'))) AS key FROM c), "
    "pc AS (SELECT lang, key, count(*) AS c FROM k GROUP BY 1, 2) "
    "SELECT lang, CAST(sum(c) AS BIGINT) AS n_rows, "
    "CAST(count(*) AS BIGINT) AS n_clusters, "
    "CAST(sum(c) - count(*) AS BIGINT) AS n_dup_rows, "
    "round(CAST(sum(c) - count(*) AS DOUBLE) / sum(c), 6) AS dup_pct, "
    "CAST(max(c) AS BIGINT) AS max_cluster "
    "FROM pc GROUP BY 1",
)
def llm_dup_report(spark, sf):
    """Data-card duplication summary (operators/dedup.py::
    duplication_report): every third document is unioned back in so
    ground-truth duplicate clusters exist, then per language the report
    counts rows, distinct contents (exact_dedup's sha256-of-normalized
    equivalence key — the oracle groups by the identical normalized
    string, which is the same partition since the hash is injective in
    practice), the rows a dedup pass would drop, the duplication rate
    and the largest cluster (the dedup-shuffle skew signal). Two
    partial-aggregated shuffles: the distinct-content relation, then
    one row per group — the report costs what exact_dedup's first
    stage costs."""
    from .operators.dedup import duplication_report

    d = load_table(spark, sf, "documents").to_spark()
    doubled = d.select("lang", "text").unionAll(
        d.filter(F.col("doc_id") % 3 == 0).select("lang", "text")
    )
    return duplication_report(doubled, ["text"], group_by=["lang"])


@query(
    "llm_vocab",
    "WITH t AS (SELECT doc_id, list_filter(string_split("
    f"{_NORM_SQL}, ' '), t -> t <> '') AS toks FROM documents), "
    "g AS (SELECT doc_id, unnest(toks) AS gram FROM t WHERE len(toks) >= 1), "
    "pd AS (SELECT gram, doc_id, count(*) AS c FROM g GROUP BY gram, doc_id) "
    "SELECT gram, CAST(count(*) AS BIGINT) AS doc_freq, "
    "CAST(sum(c) AS BIGINT) AS n_occurrences "
    "FROM pd GROUP BY gram ORDER BY doc_freq DESC, n_occurrences DESC, gram LIMIT 50",
)
def llm_vocab(spark, sf):
    """Corpus vocabulary: top-50 unigrams by document frequency (the
    corpus-stats / BPE-vocab-seed step). Both rollups partial-aggregate
    map-side; the top-k is TakeOrderedAndProject, pinned in
    tests/test_plans.py."""
    from .operators.text import ngram_vocabulary

    d = load_table(spark, sf, "documents")
    return ngram_vocabulary(d.to_spark(), "text", "doc_id", n=1, top_k=50)


@query(
    "llm_quantize",
    "WITH stats AS (SELECT i, min(embedding[i]::DOUBLE) AS mn, "
    "  max(embedding[i]::DOUBLE) AS mx "
    "  FROM embeddings CROSS JOIN range(1, 65) r(i) GROUP BY i), "
    "s AS (SELECT list(mn ORDER BY i) AS mins, "
    "  list(CASE WHEN mx > mn THEN mx - mn ELSE 1.0 END ORDER BY i) AS spans "
    "  FROM stats) "
    "SELECT vec_id, array_to_string(list_transform(range(1, 65), "
    "  i -> CAST(least(floor((embedding[i]::DOUBLE - mins[i]) / spans[i] * 256), "
    "  255) AS INT)::VARCHAR), ',') AS codes FROM embeddings, s",
)
def llm_quantize(spark, sf):
    """SQ8 scalar quantization of the embedding corpus — per-dimension
    min/max reduced in one partial-aggregated shuffle of exactly d rows,
    then codes computed in a single codegen scan with the bounds inlined
    as array literals (no join, no Python). IEEE divide + floor is
    bit-identical cross-engine, so the oracle recomputes identical codes.
    Codes are emitted comma-joined (the compare harness hashes scalars)."""
    from .operators.similarity import scalar_quantize

    e = load_table(spark, sf, "embeddings")
    return scalar_quantize(e.to_spark(), "embedding", n_bits=8).select(
        "vec_id",
        F.expr(
            "concat_ws(',', transform(embedding, c -> cast(c as string)))"
        ).alias("codes"),
    )


@query(
    "llm_global_shuffle",
    "SELECT doc_id, CAST(row_number() OVER ("
    "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS seq "
    "FROM documents",
)
def llm_global_shuffle(spark, sf):
    """Deterministic corpus interleave: a global sequence number in
    md5(doc_id) order WITHOUT the naive everything-through-one-task
    global window — range-repartitioned parallel sort + per-partition
    offsets (one tiny agg) + partition-local row_number. The oracle is
    the naive global window, so the hash match proves the two-phase
    decomposition produces the identical total order."""
    from .operators import global_shuffle

    d = load_table(spark, sf, "documents")
    return global_shuffle(d.to_spark(), "doc_id").select("doc_id", "seq")


# -- exact percentiles / grouping sets / forward-fill (SQL-surface depth) ----


@query(
    "q41_percentiles",
    "SELECT l_returnflag, "
    "round(quantile_cont(l_extendedprice, 0.25), 6) AS p25_price, "
    "round(quantile_cont(l_extendedprice, 0.50), 6) AS p50_price, "
    "round(quantile_cont(l_extendedprice, 0.75), 6) AS p75_price, "
    "round(quantile_cont(l_discount, 0.50), 6) AS p50_disc, "
    "CAST(count(*) AS BIGINT) AS n "
    "FROM lineitem GROUP BY l_returnflag",
)
def q41_percentiles(spark, sf):
    """EXACT interpolated percentiles per group (`percentile`, not the
    t-digest `percentile_approx` — approx sketches are engine-specific and
    can't hash-match an oracle). Both engines compute index = p·(n−1) on
    the sorted group and linearly interpolate, so rounded values agree.
    Scale: one shuffle on the group key; exact percentile requires a
    per-group sort of lineitem — the honest cost of an exact answer (the
    sketch path exists for when ±0.1% error is acceptable)."""
    li = load_table(spark, sf, "lineitem")
    # one percentile(col, array(...)) buffer for the three price quantiles:
    # separate percentile aggregates each build (and sort) their own
    # value-count map of the same 600k values — the array form computes
    # all three from a single map/sort (guide §1.2 per-task work);
    # identical interpolation, identical output
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile(l_extendedprice, array(0.25D, 0.50D, 0.75D))"
            ).alias("_pp"),
            F.round(F.expr("percentile(l_discount, 0.50D)"), 6).alias(
                "p50_disc"
            ),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .select(
            "l_returnflag",
            F.round(F.col("_pp")[0], 6).alias("p25_price"),
            F.round(F.col("_pp")[1], 6).alias("p50_price"),
            F.round(F.col("_pp")[2], 6).alias("p75_price"),
            "p50_disc",
            "n",
        )
    )


@query(
    "q42_grouping_sets",
    "SELECT l_returnflag, l_linestatus, "
    "CAST(count(*) AS BIGINT) AS n, "
    "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price, "
    "CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid "
    "FROM lineitem "
    "GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())",
)
def q42_grouping_sets(spark, sf):
    """Explicit GROUPING SETS through the DataFrame API (PySpark 4's
    `groupingSets`) — finer control than rollup/cube (q05/q06): exactly the
    requested cells, one shuffle, each set partial-aggregated map-side.
    `grouping()` bits disambiguate real NULL keys from subtotal rows —
    emitted identically by both engines."""
    li = load_table(spark, sf, "lineitem")
    gid = (
        F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus")
    ).cast("long")
    return li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        _dsum(F.col("l_extendedprice"), "sum_price"),
        gid.alias("gid"),
    )


@query(
    "q43_ffill",
    "SELECT event_id, user_id, ts, "
    "last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS) "
    "OVER (PARTITION BY user_id ORDER BY ts, event_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_value "
    "FROM events",
)
def q43_ffill(spark, sf):
    """Forward-fill (gap-fill): carry each user's most recent purchase
    value onto every subsequent event — `last(..., ignorenulls=True)` over
    an unbounded-preceding frame, the standard time-series imputation.
    One shuffle on user_id + per-partition sort; no self-join, no
    range-join. The (ts, event_id) order key makes the fill deterministic
    under timestamp ties."""
    e = load_table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    val = F.when(F.col("event_type") == "purchase", F.col("value"))
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.last(val, ignorenulls=True).over(w).alias("last_purchase_value"),
    )


# -- TF-IDF keywords and BM25 retrieval over the documents corpus ------------


@query(
    "llm_tfidf",
    "WITH d AS (SELECT doc_id, list_filter(string_split("
    f"{_NORM_SQL}, ' '), t -> t <> '') AS toks FROM documents), "
    "t AS (SELECT doc_id, toks FROM d WHERE len(toks) > 0), "
    "g AS (SELECT doc_id, unnest(toks) AS term FROM t), "
    "tf AS (SELECT doc_id, term, count(*) AS tf FROM g GROUP BY doc_id, term), "
    "dfreq AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY term), "
    "n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM t), "
    "s AS (SELECT doc_id, term, tf, doc_freq, tf * ln(n_docs / doc_freq) AS score "
    "  FROM tf JOIN dfreq USING (term), n), "
    "r AS (SELECT *, row_number() OVER (PARTITION BY doc_id "
    "  ORDER BY score DESC, term) AS rn FROM s) "
    "SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, "
    "CAST(doc_freq AS BIGINT) AS doc_freq, round(score, 6) AS tfidf "
    "FROM r WHERE rn <= 3",
)
def llm_tfidf(spark, sf):
    """Top-3 TF-IDF terms per document — the per-doc keyword signal for
    topic bucketing. One tokenize pass; doc frequencies from a second
    rollup of the (doc, term) relation, never a second scan; N rides in as
    a broadcast one-row cross join so the plan stays lazy. ln() on
    identical IEEE doubles makes the scores oracle-checkable."""
    from .operators.text import tfidf_top_terms

    d = load_table(spark, sf, "documents")
    return tfidf_top_terms(d.to_spark(), "text", "doc_id", k=3)


#: BM25 demo query terms — drawn from the synthetic corpus vocabulary
_BM25_TERMS = ["spark", "window", "hash"]


@query(
    "llm_bm25",
    "WITH d AS (SELECT doc_id, list_filter(string_split("
    f"{_NORM_SQL}, ' '), t -> t <> '') AS toks FROM documents), "
    "t AS (SELECT doc_id, toks, len(toks) AS dl FROM d WHERE len(toks) > 0), "
    "stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, "
    "  CAST(sum(dl) AS DOUBLE) AS tot_len FROM t), "
    "g AS (SELECT doc_id, dl, unnest(toks) AS term FROM t), "
    "h AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl FROM g "
    f"  WHERE term IN ({', '.join(repr(w) for w in _BM25_TERMS)}) "
    "  GROUP BY doc_id, term), "
    "hd AS (SELECT *, count(*) OVER (PARTITION BY term) AS df FROM h), "
    "s AS (SELECT doc_id, CAST(round("
    "  ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2 "
    "  / (tf + 1.2 * (0.25 + 0.75 * dl / (tot_len / n_docs))), 6) "
    "  AS DECIMAL(18,6)) AS s FROM hd, stats) "
    "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits, "
    "CAST(sum(s) AS DOUBLE) AS score "
    "FROM s GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20",
)
def llm_bm25(spark, sf):
    """BM25 keyword retrieval (k1=1.2, b=0.75) for a fixed query-term set —
    top-20 documents by summed per-term score. The term filter runs
    map-side BEFORE any shuffle (prunes ~the whole corpus); per-term
    scores round to 6 then sum in DECIMAL so partial-agg addition order
    can't perturb the total; top-k is TakeOrderedAndProject."""
    from .operators.text import bm25_scores

    d = load_table(spark, sf, "documents")
    return bm25_scores(d.to_spark(), _BM25_TERMS, top_k=20)


# -- fuzzy matching / funnel / retention / ranking breadth -------------------


@query(
    "q44_fuzzy_match",
    "SELECT a.p_partkey AS key_a, b.p_partkey AS key_b, "
    "a.p_name AS name_a, b.p_name AS name_b, "
    "CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist "
    "FROM part a JOIN part b "
    "ON a.p_brand = b.p_brand "
    "AND string_split(a.p_name, ' ')[2] = string_split(b.p_name, ' ')[2] "
    "AND a.p_partkey < b.p_partkey "
    "WHERE levenshtein(a.p_name, b.p_name) <= 3",
)
def q44_fuzzy_match(spark, sf):
    """Fuzzy entity matching: near-identical part names by edit distance —
    the record-linkage/data-cleaning staple. MULTI-ATTRIBUTE BLOCKED
    self-join (equi-key = brand + noun token), never all-pairs: candidates
    shuffle on the compound block key, so the quadratic term is bounded by
    the largest block, not the table (noun-only blocking measured 33M
    candidate pairs / 37 s at sf0.1; brand+noun is ~1M / ~1 s — the
    standard record-linkage lever: tighten blocks until the per-block
    quadratic is affordable, trading declared recall). The distance runs
    in Spark's bounded form — levenshtein(a, b, k) early-exits any pair
    over the threshold at O(k·len) instead of O(len²) — while the oracle
    computes the full Wagner-Fischer distance and filters; both yield the
    exact distance for every surviving pair, so the hash matches."""
    p = load_table(spark, sf, "part")
    a = p.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        F.col("p_brand").alias("_bb"),
        F.split(F.col("p_name"), " ").getItem(1).alias("_blk"),
    )
    b = p.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
        F.col("p_brand").alias("_bb"),
        F.split(F.col("p_name"), " ").getItem(1).alias("_blk"),
    ).to_spark()
    return (
        a.join(b, ["_bb", "_blk"])
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn("dist", F.expr("levenshtein(name_a, name_b, 3)").cast("long"))
        .filter((F.col("dist") >= 0) & (F.col("dist") <= 3))
        .select("key_a", "key_b", "name_a", "name_b", "dist")
    )


@query(
    "q45_funnel",
    "WITH s AS (SELECT user_id, min(ts) AS t_signup FROM events "
    "  WHERE event_type = 'signup' GROUP BY user_id), "
    "v AS (SELECT e.user_id, min(e.ts) AS t_view FROM events e "
    "  JOIN s ON e.user_id = s.user_id AND e.ts > s.t_signup "
    "  WHERE e.event_type = 'view' GROUP BY e.user_id), "
    "p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e "
    "  JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view "
    "  WHERE e.event_type = 'purchase' GROUP BY e.user_id) "
    "SELECT s.user_id, s.t_signup, v.t_view, p.t_purchase "
    "FROM s JOIN v ON s.user_id = v.user_id "
    "JOIN p ON s.user_id = p.user_id",
)
def q45_funnel(spark, sf):
    """Ordered-funnel analysis: users who signed up, then viewed, then
    purchased — each step's timestamp strictly after the previous step's
    (min-after-previous, the standard funnel semantics; a naive min-per-type
    would count out-of-order journeys). Three user-keyed aggregations +
    user-keyed joins — every shuffle is on user_id, so the funnel
    partitions perfectly by user at any scale."""
    e = load_table(spark, sf, "events")
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    v = (
        e.to_spark().alias("e")
        .filter(F.col("event_type") == "view")
        .join(s.to_spark().alias("s"), "user_id")
        .filter(F.col("e.ts") > F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = (
        e.to_spark().alias("e2")
        .filter(F.col("event_type") == "purchase")
        .join(v.alias("v"), "user_id")
        .filter(F.col("e2.ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        s.join(v, "user_id").join(p, "user_id")
        .select("user_id", "t_signup", "t_view", "t_purchase")
    )


@query(
    "q46_retention",
    "WITH cohort AS (SELECT user_id, date_trunc('week', min(ts)) AS cw "
    "  FROM events GROUP BY user_id) "
    "SELECT c.cw AS cohort_week, "
    "CAST(date_diff('day', c.cw, date_trunc('week', e.ts)) / 7 AS BIGINT) AS week_offset, "
    "CAST(count(DISTINCT e.user_id) AS BIGINT) AS active_users "
    "FROM events e JOIN cohort c ON e.user_id = c.user_id "
    "GROUP BY 1, 2",
)
def q46_retention(spark, sf):
    """Weekly cohort retention: users grouped by first-activity week,
    counted distinct in each subsequent week offset — the product-analytics
    retention triangle. Cohort assignment is one user-keyed agg; the join
    back is user-keyed; the final rollup groups by (cohort, offset) with a
    distinct-user count (Spark plans partial distinct aggregation —
    two-level shuffle, no full user list per group on any node)."""
    e = load_table(spark, sf, "events")
    cohort = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cw")
    )
    return (
        e.to_spark()
        .join(cohort.to_spark(), "user_id")
        .select(
            F.col("cw").alias("cohort_week"),
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cw")) / 7
            ).cast("long").alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").cast("long").alias("active_users"))
    )


@query(
    "q47_rank_funcs",
    "SELECT c_custkey, c_mktsegment, "
    "CAST(ntile(4) OVER wr AS BIGINT) AS quartile, "
    "round(percent_rank() OVER wr, 6) AS pct_rank, "
    "round(cume_dist() OVER wr, 6) AS cum_dist, "
    "first_value(c_custkey) OVER wv AS top_cust, "
    "nth_value(c_custkey, 2) OVER wv AS second_cust "
    "FROM customer "
    "WINDOW wr AS (PARTITION BY c_mktsegment "
    "ORDER BY c_acctbal DESC, c_custkey), "
    "wv AS (PARTITION BY c_mktsegment "
    "ORDER BY c_acctbal DESC, c_custkey "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)",
)
def q47_rank_funcs(spark, sf):
    """The remaining ranking-window surface in one entry: ntile quartiles,
    percent_rank, cume_dist, first_value, nth_value — per market segment in
    deterministic (acctbal desc, custkey) order. Two window specs over the
    SAME (partition, sort): rank-family functions must run on the default
    RANGE frame (Spark rejects an explicit ROWS frame for them), while the
    value functions pin ROWS so nth_value semantics are engine-identical.
    Catalyst collapses both into one Window exec — still a single
    segment-keyed shuffle + sort."""
    c = load_table(spark, sf, "customer")
    wr = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    wv = wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(wr).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(wr), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(wr), 6).alias("cum_dist"),
        F.first("c_custkey").over(wv).alias("top_cust"),
        F.nth_value("c_custkey", 2).over(wv).alias("second_cust"),
    )


@query(
    "q48_percentiles_dist",
    "SELECT l_returnflag, "
    "round(quantile_cont(l_extendedprice, 0.25), 6) AS p25, "
    "round(quantile_cont(l_extendedprice, 0.50), 6) AS p50, "
    "round(quantile_cont(l_extendedprice, 0.75), 6) AS p75, "
    "CAST(count(l_extendedprice) AS BIGINT) AS n "
    "FROM lineitem GROUP BY l_returnflag",
)
def q48_percentiles_dist(spark, sf):
    """The DISTRIBUTED exact-percentile shape (operators/percentiles.py):
    range-partitioned parallel sort + two-phase global ranks + broadcast
    target-rank join — same interpolated answer as q41's built-in
    `percentile` (the oracle is identical quantile_cont SQL), but the sort
    parallelism is the partition count, not the group count, and no task
    ever buffers a whole group. q41 measures the built-in (3 groups → 3
    tasks, whole-group aggregation buffers); this entry is the shape that
    survives a 100-TB group."""
    from .operators.percentiles import grouped_exact_percentiles

    li = load_table(spark, sf, "lineitem")
    out = grouped_exact_percentiles(
        li.to_spark(),
        ["l_returnflag"],
        "l_extendedprice",
        [(0.25, "p25"), (0.50, "p50"), (0.75, "p75")],
    )
    return out.select(
        "l_returnflag",
        F.round("p25", 6).alias("p25"),
        F.round("p50", 6).alias("p50"),
        F.round("p75", 6).alias("p75"),
        "n",
    )


@query(
    "q49_unpivot",
    "SELECT l_orderkey, l_linenumber, measure, val FROM "
    "(UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, "
    "l_discount, l_tax FROM lineitem) "
    "ON l_quantity, l_extendedprice, l_discount, l_tax "
    "INTO NAME measure VALUE val)",
)
def q49_unpivot(spark, sf):
    """Wide-to-long reshape via the native `unpivot`/`melt` API — the
    tidy-data step before per-measure aggregation or plotting. Expand
    executes row-local inside codegen: zero shuffle, output = 4 rows per
    input row; column pruning still reaches the scan (only the 6 referenced
    columns are read)."""
    li = load_table(spark, sf, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "val",
    )


@query(
    "llm_char_entropy",
    "WITH c AS (SELECT doc_id, unnest(list_transform(range(1, length(text) + 1), "
    "  i -> substr(text, i, 1))) AS ch FROM documents WHERE length(text) > 0), "
    "k AS (SELECT doc_id, ch, count(*) AS c FROM c GROUP BY doc_id, ch), "
    "t AS (SELECT doc_id, c, sum(c) OVER (PARTITION BY doc_id) AS n FROM k) "
    "SELECT doc_id, CAST(max(n) AS BIGINT) AS n_chars, "
    "round(CAST(sum(CAST(round(-(c / CAST(n AS DOUBLE)) * log2(c / CAST(n AS DOUBLE)), 6) "
    "AS DECIMAL(18,6))) AS DOUBLE), 6) AS char_entropy "
    "FROM t GROUP BY doc_id",
)
def llm_char_entropy(spark, sf):
    """Character-entropy quality signal (bits/char): gibberish and
    base64-ish blobs score near log2(alphabet), filler near 0, prose in
    between — the standard cheap filter alongside llm_quality /
    llm_repetition. Default row-local shape: zero-shuffle codegen
    (distinct chars + replace-count + DECIMAL-summed rounded terms —
    2.8× the explode shape on prose; the explode+rollup alternative for
    alphabet-unbounded corpora is `row_local=False`, result-identical by
    pinned test)."""
    from .operators.text import char_entropy

    d = load_table(spark, sf, "documents")
    return char_entropy(d.to_spark(), "text", "doc_id")


@query(
    "q50_rolling",
    "SELECT event_id, user_id, ts, "
    "CAST(count(*) OVER w AS BIGINT) AS n_1h, "
    "CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS value_1h "
    "FROM events "
    "WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) "
    "RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)",
)
def q50_rolling(spark, sf):
    """Rolling time-interval aggregates: per user, the count and value-sum
    of events in the trailing hour of EVENT TIME — a RANGE frame over the
    epoch-microsecond key, not a ROWS frame (q16): the window holds
    whatever falls in [t−1h, t] regardless of row count, and timestamp
    ties all join the frame identically in both engines. DECIMAL sum makes
    the rolling total addition-order-proof. One user-keyed shuffle + sort;
    state per row is the frame bounds, so the plan holds at any history
    length."""
    e = load_table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).cast("long").alias("n_1h"),
        F.sum(F.col("value").cast(_DEC)).over(w).cast("double").alias("value_1h"),
    )


@query(
    "q51_conditional_agg",
    "SELECT l_returnflag, "
    "CAST(count(*) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS n_disc, "
    "CAST(count(*) AS BIGINT) AS n_total, "
    "round(CAST(count(*) FILTER (WHERE l_discount > 0.05) AS DOUBLE) / count(*), 6) "
    "AS disc_rate, "
    "bool_or(l_quantity > 49) AS has_big, "
    "bool_and(l_extendedprice > 0) AS all_positive "
    "FROM lineitem GROUP BY l_returnflag",
)
def q51_conditional_agg(spark, sf):
    """Conditional-aggregation surface: count_if (the FILTER-clause
    equivalent), bool_or/bool_and reductions, and a derived rate — all
    map-side-combinable single-pass aggregates (no CASE-into-sum
    contortions, no second scan per condition)."""
    li = load_table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_discount") > 0.05).cast("long").alias("n_disc"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.round(
            F.count_if(F.col("l_discount") > 0.05)
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("disc_rate"),
        F.bool_or(F.col("l_quantity") > 49).alias("has_big"),
        F.bool_and(F.col("l_extendedprice") > 0).alias("all_positive"),
    )


@query(
    "llm_corpus_stats",
    "WITH q AS ("
    "  SELECT doc_id, n_tokens, "
    "  round(0.4 * least(n_tokens / 100.0, 1.0) + 0.3 * (1.0 - punct_ratio) "
    "        + 0.3 * stopword_ratio, 6) AS quality_score "
    "  FROM ("
    "    SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, "
    "           CASE WHEN length(text) > 0 THEN "
    "             (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) "
    "             / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS punct_ratio, "
    "           CASE WHEN len(toks) > 0 THEN "
    "             len(list_filter(toks, t -> list_contains(__SW_EN__, t))) "
    "             / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS stopword_ratio "
    f"    FROM (SELECT doc_id, text, list_filter(string_split({_NORM_SQL}, ' '), t -> t <> '') AS toks FROM documents)"
    "  )) "
    "SELECT CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(n_tokens) AS BIGINT) AS total_tokens, "
    "CAST(min(n_tokens) AS BIGINT) AS min_tokens, "
    "CAST(max(n_tokens) AS BIGINT) AS max_tokens, "
    "round(CAST(sum(CAST(quality_score AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) "
    "AS avg_quality "
    "FROM q",
)
def llm_corpus_stats(spark, sf):
    """One-row corpus data card: document/token totals, token-length range,
    mean quality — the summary block every curation run publishes. One
    pass over the quality relation; the mean divides an exact DECIMAL sum
    of per-doc (already-rounded) scores by the count, so partial-agg
    addition order cannot move it."""
    from .operators import quality_features

    d = load_table(spark, sf, "documents")
    qf = quality_features(d, "text")
    return qf.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.min("n_tokens").cast("long").alias("min_tokens"),
        F.max("n_tokens").cast("long").alias("max_tokens"),
        F.round(
            F.sum(F.col("quality_score").cast(_DEC)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_quality"),
    )


@query(
    "q52_string_funcs",
    "SELECT c_custkey, "
    "translate(c_name, '#', '-') AS dashed, "
    "lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key, "
    "reverse(c_mktsegment) AS seg_rev, "
    "left(c_name, 8) AS name_head, "
    "split_part(c_name, '#', 2) AS name_num, "
    "CAST(strpos(c_name, '#') AS BIGINT) AS hash_pos, "
    "repeat('*', CAST(c_nationkey AS INT) % 4) AS stars "
    "FROM customer",
)
def q52_string_funcs(spark, sf):
    """Second string-function breadth entry (q22 covers the basics):
    translate, lpad, reverse, left, split_part, strpos/locate, repeat —
    all per-row codegen expressions evaluated identically by both engines.
    Zero shuffle; the projection prunes to the four referenced columns."""
    c = load_table(spark, sf, "customer")
    return c.select(
        "c_custkey",
        F.translate("c_name", "#", "-").alias("dashed"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded_key"),
        F.reverse("c_mktsegment").alias("seg_rev"),
        F.substring("c_name", 1, 8).alias("name_head"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias("name_num"),
        F.locate("#", F.col("c_name")).cast("long").alias("hash_pos"),
        F.repeat(F.lit("*"), (F.col("c_nationkey").cast("int") % 4)).alias("stars"),
    )


@query(
    "q53_date_funcs",
    "SELECT o_orderkey, "
    "CAST(quarter(CAST(o_orderdate AS DATE)) AS BIGINT) AS q, "
    "strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end, "
    "CAST(dayofyear(CAST(o_orderdate AS DATE)) AS BIGINT) AS doy, "
    "CAST(weekofyear(CAST(o_orderdate AS DATE)) AS BIGINT) AS iso_week, "
    "strftime(date_trunc('quarter', CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS q_start "
    "FROM orders",
)
def q53_date_funcs(spark, sf):
    """Second date-function breadth entry (q23 covers year/month/add/diff):
    quarter, last_day, day-of-year, ISO week, quarter truncation — all
    per-row codegen, engine-identical calendars (date-typed results are
    rendered as strings: Spark returns datetime.date where DuckDB's pandas
    fetch yields datetime64, an ambiguity strings avoid)."""
    o = load_table(spark, sf, "orders")
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.quarter(d).cast("long").alias("q"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.dayofyear(d).cast("long").alias("doy"),
        F.weekofyear(d).cast("long").alias("iso_week"),
        F.date_format(F.date_trunc("quarter", d), "yyyy-MM-dd").alias("q_start"),
    )


@query(
    "q54_pk_broadcast_join",
    "SELECT o.o_orderkey, o.o_custkey AS c_custkey, c.c_name, o.o_totalprice "
    "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
    "WHERE c.c_mktsegment = 'BUILDING'",
)
def q54_pk_broadcast_join(spark, sf):
    """PK-metadata -> Catalyst broadcast hint (SURVEY.md §4.3b; the last
    unbuilt §4.3 item). ``customer``'s seeded primary key ``c_custkey`` is
    covered by the join key, so each orders row matches at most one
    customer row — the dimension-lookup pattern — and the wrapper injects
    ``hint("broadcast")`` under a size-estimate cap (core.py
    ``_pk_join_broadcast_hint``). Catalyst then plans BroadcastHashJoin
    even where its conservative stats would pick sort-merge (asserted with
    autoBroadcastJoinThreshold=-1 in tests/test_plans.py); results are
    byte-identical to the unhinted join, which this oracle checks."""
    c = load_table(spark, sf, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("c_custkey"), "o_totalprice"
    )
    return o.join(c, "c_custkey").select(
        "o_orderkey", "c_custkey", "c_name", "o_totalprice"
    )


@query(
    "llm_c4_lines",
    "WITH lined AS (SELECT doc_id, replace(text, ' merge ', '.' || chr(10)) AS text "
    "FROM documents), "
    "split AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM lined), "
    "kept AS (SELECT doc_id, len(lines) AS n_lines_total, "
    "list_filter(lines, l -> regexp_matches(trim(l), '[.!?\"]$') "
    "AND len(list_filter(string_split_regex(trim(l), '\\s+'), w -> w != '')) >= 3 "
    "AND NOT contains(lower(l), 'lorem ipsum') "
    "AND NOT contains(l, '{') "
    "AND NOT regexp_matches(lower(l), '\\bjavascript\\b')) AS keep FROM split) "
    "SELECT doc_id, array_to_string(keep, chr(10)) AS text, "
    "CAST(len(keep) AS BIGINT) AS n_lines_kept, "
    "CAST(n_lines_total AS BIGINT) AS n_lines_total "
    "FROM kept WHERE len(keep) >= 1",
)
def llm_c4_lines(spark, sf):
    """C4 line-level cleaning (operators/text.py::c4_line_filter) over a
    line-structured derivation of the documents corpus (the synthetic text
    has no newlines/punctuation, so ' merge ' becomes a sentence+line
    break identically in both engines). The oracle re-implements every
    published rule — terminal punctuation, min words per line,
    lorem-ipsum, brace, javascript — in RE2, pinning the higher-order
    filter lambda cross-engine."""
    from .operators.text import c4_line_filter

    d = load_table(spark, sf, "documents").withColumn(
        "text", F.expr("replace(text, ' merge ', concat('.', chr(10)))")
    )
    return c4_line_filter(d, "text").select(
        "doc_id", "text", "n_lines_kept", "n_lines_total"
    )


@query(
    "llm_gopher_flags",
    "WITH base AS (SELECT doc_id, text, "
    "list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS words, "
    "string_split(text, chr(10)) AS lines FROM documents) "
    "SELECT doc_id, "
    "len(words) BETWEEN 50 AND 100000 AS g_word_count, "
    "(CASE WHEN len(words) > 0 THEN "
    "CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE) / len(words) "
    "ELSE 0.0 END) BETWEEN 3.0 AND 10.0 AS g_mean_word_len, "
    "(CASE WHEN len(words) > 0 THEN "
    "CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE) / len(words) "
    "ELSE 0.0 END) < 0.1 AS g_symbol_ratio, "
    "CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•‣◦]'))) AS DOUBLE) "
    "/ greatest(len(lines), 1) < 0.9 AS g_bullet_lines, "
    "CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '\\.\\.\\.$'))) AS DOUBLE) "
    "/ greatest(len(lines), 1) < 0.3 AS g_ellipsis_lines, "
    "(CASE WHEN len(words) > 0 THEN "
    "CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) / len(words) "
    "ELSE 0.0 END) >= 0.8 AS g_alpha_words, "
    "len(list_intersect(list_transform(words, w -> lower(w)), "
    "['the','be','to','of','and','that','have','with'])) >= 2 AS g_stopwords, "
    "(len(words) BETWEEN 50 AND 100000) "
    "AND ((CASE WHEN len(words) > 0 THEN CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE) / len(words) ELSE 0.0 END) BETWEEN 3.0 AND 10.0) "
    "AND ((CASE WHEN len(words) > 0 THEN CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE) / len(words) ELSE 0.0 END) < 0.1) "
    "AND (CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•‣◦]'))) AS DOUBLE) / greatest(len(lines), 1) < 0.9) "
    "AND (CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '\\.\\.\\.$'))) AS DOUBLE) / greatest(len(lines), 1) < 0.3) "
    "AND ((CASE WHEN len(words) > 0 THEN CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) / len(words) ELSE 0.0 END) >= 0.8) "
    "AND (len(list_intersect(list_transform(words, w -> lower(w)), ['the','be','to','of','and','that','have','with'])) >= 2) "
    "AS gopher_pass FROM base",
)
def llm_gopher_flags(spark, sf):
    """Published Gopher quality rules (operators/text.py::
    gopher_quality_flags) over the raw documents corpus; the oracle
    recomputes every rule — word-count window, mean word length, symbol
    ratio, bullet/ellipsis line fractions, alphabetic-word fraction,
    stop-word containment — with RE2 + list lambdas, so each per-rule
    boolean (and the conjunction) is pinned cross-engine per document."""
    from .operators.text import gopher_quality_flags

    d = load_table(spark, sf, "documents")
    return gopher_quality_flags(d, "text").select(
        "doc_id", "g_word_count", "g_mean_word_len", "g_symbol_ratio",
        "g_bullet_lines", "g_ellipsis_lines", "g_alpha_words",
        "g_stopwords", "gopher_pass",
    )


@query(
    "llm_span_dedup",
    "WITH prep AS (SELECT doc_id, array_to_string(list_transform("
    "string_split_regex(text, '\\s+'), "
    "(w, i) -> CASE WHEN i % 8 = 0 THEN w || '.' ELSE w END), ' ') AS text "
    "FROM documents WHERE doc_id % 10 = 0), "
    # RE2 has no lookbehind, so Spark's (?<=[.!?])\s+ sentence split is
    # emulated by marking each boundary with \x01 then splitting on it
    "sents AS (SELECT doc_id, string_split(regexp_replace(text, "
    "'([.!?])\\s+', '\\1' || chr(1), 'g'), chr(1)) AS s FROM prep), "
    "spans AS (SELECT doc_id, s, unnest(range(0, greatest(len(s) - 2, 0))) AS pos "
    "FROM sents), "
    "st AS (SELECT doc_id, pos, array_to_string(s[pos+1:pos+3], ' ') AS sp FROM spans), "
    "marked AS (SELECT doc_id, pos, row_number() OVER ("
    "PARTITION BY sp ORDER BY doc_id, pos) AS rn FROM st), "
    "lose AS (SELECT doc_id, list(pos) AS ps, count(*) AS nrem "
    "FROM marked WHERE rn > 1 GROUP BY doc_id) "
    "SELECT se.doc_id, array_to_string(list_filter(se.s, "
    "(x, i) -> len(list_filter(coalesce(l.ps, CAST([] AS BIGINT[])), "
    "p -> (i-1) >= p AND (i-1) <= p+2)) = 0), ' ') AS text, "
    "CAST(coalesce(l.nrem, 0) AS BIGINT) AS n_spans_removed "
    "FROM sents se LEFT JOIN lose l USING (doc_id)",
)
def llm_span_dedup(spark, sf):
    """C4 global three-sentence-span dedup (operators/dedup.py::span_dedup)
    over a sentence-structured derivation of the documents corpus
    (period after every 8th word). The winner rule — lowest (id, position)
    per span — is fully deterministic, so the oracle recomputes the whole
    pipeline in DuckDB: the lookbehind sentence split is emulated with a
    sentinel replace (RE2 has no lookbehind), spans group on their TEXT
    where Spark groups on xxhash64 of it (identical absent a 64-bit
    collision), and the covered-sentence removal lambda is mirrored with
    1-based list indices. Capped to every 10th document to keep the bench
    entry's span relation small."""
    from .operators.dedup import span_dedup

    d = (
        load_table(spark, sf, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .withColumn(
            "text",
            F.expr(
                "concat_ws(' ', transform(split(text, '\\\\s+'), "
                "(w, i) -> CASE WHEN (i + 1) % 8 = 0 THEN concat(w, '.') ELSE w END))"
            ),
        )
    )
    return span_dedup(d, "text", "doc_id").select(
        "doc_id", "text", "n_spans_removed"
    )


@query(
    "llm_pack_sequences",
    "WITH toks AS (SELECT doc_id, "
    "CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n "
    "FROM documents), "
    "cum AS (SELECT doc_id, n, "
    "SUM(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS s "
    "FROM toks WHERE n > 0), "
    "expl AS (SELECT doc_id, n, s, unnest(range("
    "CAST(s // 512 AS BIGINT), CAST((s + n - 1) // 512 + 1 AS BIGINT))) AS k FROM cum) "
    "SELECT doc_id, CAST(s AS BIGINT) AS start_off, CAST(k AS BIGINT) AS seq_id, "
    "CAST(greatest(s, k * 512) - s AS BIGINT) AS tok_start, "
    "CAST(least(s + n, (k + 1) * 512) - greatest(s, k * 512) AS BIGINT) AS tok_len "
    "FROM expl",
)
def llm_pack_sequences(spark, sf):
    """Concat-and-chunk sequence packing (operators/packing.py::
    pack_sequences): documents laid end-to-end in doc_id order, cut every
    512 pre-tokens; one row per (document x overlapped training
    sequence) with the slice boundaries. The oracle recomputes the global
    running offset with a naive one-task window — proving the distributed
    two-phase decomposition (range sort + per-partition offsets) yields
    the identical packing."""
    from .operators.packing import pack_sequences
    from .operators.text import bpe_token_count

    d = load_table(spark, sf, "documents").select(
        "doc_id", bpe_token_count(F.col("text")).alias("n_tok")
    )
    return pack_sequences(d, 512, "n_tok").select(
        "doc_id", "start_off", "seq_id", "tok_start", "tok_len"
    )


@query(
    "llm_mixture_sample",
    "SELECT doc_id, source, draw_rank FROM ("
    "  SELECT doc_id, source, CAST(row_number() OVER ("
    "    PARTITION BY source "
    "    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS draw_rank "
    "  FROM documents WHERE source IN ('src1', 'src2', 'src3')) "
    "WHERE draw_rank <= CASE source WHEN 'src1' THEN 22 "
    "WHEN 'src2' THEN 14 ELSE 14 END",
)
def llm_mixture_sample(spark, sf):
    """Domain-mixture resampling (operators/packing.py::
    weighted_mixture_sample): weights 3:2:2 over three sources, total 50
    -> largest-remainder quotas 22/14/14, each stratum keeping its first
    quota rows in md5(doc_id) order. The oracle recomputes the identical
    draw, pinning both the apportionment arithmetic and the reproducible
    per-stratum selection cross-engine."""
    from .operators.packing import weighted_mixture_sample

    d = load_table(spark, sf, "documents")
    return weighted_mixture_sample(
        d, {"src1": 3, "src2": 2, "src3": 2}, 50, "source", "doc_id"
    ).select("doc_id", "source", "draw_rank")


@query(
    "llm_token_budget",
    "WITH toks AS (SELECT doc_id, "
    "CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tok "
    "FROM documents), "
    "cum AS (SELECT doc_id, n_tok, "
    "SUM(n_tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c "
    "FROM toks) "
    "SELECT doc_id, n_tok FROM cum WHERE c <= 15000",
)
def llm_token_budget(spark, sf):
    """Token-denominated corpus cap (operators/packing.py::
    take_token_budget): the maximal PREFIX of the
    doc_id order whose INCLUSIVE running pre-token sum stays within a
    15000-token budget — the reproducible "train on the first N tokens"
    cut every data budget needs. The oracle recomputes the cut with a
    naive one-task cumulative window — proving the distributed two-phase
    decomposition (range sort + per-partition offsets collected once as
    a dense literal array, in-partition running sum) yields the
    identical boundary row, including the inclusive-sum edge (a row
    whose own tokens overflow the budget is excluded even when the
    budget is not yet exhausted before it)."""
    from .operators.packing import take_token_budget
    from .operators.text import bpe_token_count

    d = load_table(spark, sf, "documents").select(
        "doc_id", bpe_token_count(F.col("text")).alias("n_tok")
    )
    return take_token_budget(d, 15000, "n_tok", "doc_id").select(
        "doc_id", "n_tok"
    )


@query(
    "llm_pack_documents",
    "WITH RECURSIVE "
    "toks AS (SELECT doc_id, "
    "CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n "
    "FROM documents), "
    "grp AS (SELECT doc_id, n, "
    "CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS g "
    "FROM toks), "
    "ranked AS (SELECT doc_id, n, g, CAST(row_number() OVER ("
    "PARTITION BY g ORDER BY n DESC, doc_id ASC) AS BIGINT) AS r "
    "FROM grp WHERE n <= 256), "
    "rec AS ("
    "SELECT g, CAST(0 AS BIGINT) AS i, CAST([] AS BIGINT[]) AS rems, "
    "CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS n, "
    "CAST(NULL AS BIGINT) AS bin "
    "FROM (SELECT DISTINCT g FROM ranked) "
    "UNION ALL "
    "SELECT rec.g, rec.i + 1, "
    "CASE WHEN len(list_filter(range(1, len(rec.rems) + 1), "
    "k -> rec.rems[k] >= rk.n)) = 0 "
    "THEN list_append(rec.rems, 256 - rk.n) "
    "ELSE list_transform(range(1, len(rec.rems) + 1), "
    "k -> CASE WHEN k = list_filter(range(1, len(rec.rems) + 1), "
    "j -> rec.rems[j] >= rk.n)[1] "
    "THEN rec.rems[k] - rk.n ELSE rec.rems[k] END) END, "
    "rk.doc_id, rk.n, "
    "coalesce(list_filter(range(1, len(rec.rems) + 1), "
    "j -> rec.rems[j] >= rk.n)[1], len(rec.rems) + 1) "
    "FROM rec JOIN ranked rk ON rk.g = rec.g AND rk.r = rec.i + 1) "
    "SELECT doc_id, n AS n_tok, g AS pack_group, bin AS bin_id, "
    "CAST(row_number() OVER (PARTITION BY g, bin ORDER BY i) AS BIGINT) "
    "  AS bin_slot, "
    "CAST(sum(n) OVER (PARTITION BY g, bin ORDER BY i) - n AS BIGINT) "
    "  AS tok_start "
    "FROM rec WHERE i > 0 "
    "UNION ALL "
    "SELECT doc_id, n AS n_tok, g AS pack_group, "
    "CAST(NULL AS BIGINT) AS bin_id, CAST(NULL AS BIGINT) AS bin_slot, "
    "CAST(NULL AS BIGINT) AS tok_start FROM grp WHERE n > 256",
)
def llm_pack_documents(spark, sf):
    """Doc-boundary-respecting bin packing (operators/packing.py::
    pack_documents): first-fit-decreasing into
    256-token bins inside 8 deterministic md5(doc_id) buckets, no
    document ever split; oversized documents come back with bin_id NULL.
    The Spark side places documents with a segment-tree leftmost-fit
    (O(log bins)/doc); the oracle replays the IDENTICAL placement as a
    literal sequential first-fit fold (a recursive CTE advancing one
    ranked document per iteration per group, carrying each group's bin
    remainders as a list) — the hash match proves the tree descent IS
    first-fit, placement for placement, and pins the md5 bucketing, the
    (n desc, doc_id asc) FFD order, the collator manifest (bin_slot
    placement order + tok_start in-bin offsets, so the trainer lays each
    bin out without recomputation), and the oversized NULL contract
    cross-engine."""
    from .operators.packing import pack_documents
    from .operators.text import bpe_token_count

    d = load_table(spark, sf, "documents").select(
        "doc_id", bpe_token_count(F.col("text")).alias("n_tok")
    )
    return pack_documents(
        d, 256, "n_tok", "doc_id", n_groups=8
    ).select(
        "doc_id", "n_tok", "pack_group", "bin_id", "bin_slot", "tok_start"
    )


@query(
    "llm_pack_report",
    "WITH RECURSIVE "
    "toks AS (SELECT doc_id, "
    "CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n "
    "FROM documents), "
    "grp AS (SELECT doc_id, n, "
    "CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS g "
    "FROM toks), "
    "ranked AS (SELECT doc_id, n, g, CAST(row_number() OVER ("
    "PARTITION BY g ORDER BY n DESC, doc_id ASC) AS BIGINT) AS r "
    "FROM grp WHERE n <= 256), "
    "rec AS ("
    "SELECT g, CAST(0 AS BIGINT) AS i, CAST([] AS BIGINT[]) AS rems, "
    "CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS n, "
    "CAST(NULL AS BIGINT) AS bin "
    "FROM (SELECT DISTINCT g FROM ranked) "
    "UNION ALL "
    "SELECT rec.g, rec.i + 1, "
    "CASE WHEN len(list_filter(range(1, len(rec.rems) + 1), "
    "k -> rec.rems[k] >= rk.n)) = 0 "
    "THEN list_append(rec.rems, 256 - rk.n) "
    "ELSE list_transform(range(1, len(rec.rems) + 1), "
    "k -> CASE WHEN k = list_filter(range(1, len(rec.rems) + 1), "
    "j -> rec.rems[j] >= rk.n)[1] "
    "THEN rec.rems[k] - rk.n ELSE rec.rems[k] END) END, "
    "rk.doc_id, rk.n, "
    "coalesce(list_filter(range(1, len(rec.rems) + 1), "
    "j -> rec.rems[j] >= rk.n)[1], len(rec.rems) + 1) "
    "FROM rec JOIN ranked rk ON rk.g = rec.g AND rk.r = rec.i + 1), "
    "asg AS (SELECT doc_id, n, g, bin FROM rec WHERE i > 0 "
    "UNION ALL "
    "SELECT doc_id, n, g, CAST(NULL AS BIGINT) FROM grp WHERE n > 256) "
    "SELECT g AS pack_group, "
    "CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(CASE WHEN bin IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
    "  AS n_oversized, "
    "CAST(count(DISTINCT bin) AS BIGINT) AS n_bins, "
    "CAST(coalesce(sum(CASE WHEN bin IS NOT NULL THEN n END), 0) AS BIGINT) "
    "  AS packed_tokens, "
    "CAST(count(DISTINCT bin) * 256 AS BIGINT) AS capacity_tokens, "
    "CASE WHEN count(DISTINCT bin) > 0 THEN round(CAST("
    "  coalesce(sum(CASE WHEN bin IS NOT NULL THEN n END), 0) AS DOUBLE) "
    "  / (count(DISTINCT bin) * 256), 6) END AS fill_rate, "
    "CAST(count(DISTINCT bin) * 256 "
    "  - coalesce(sum(CASE WHEN bin IS NOT NULL THEN n END), 0) AS BIGINT) "
    "  AS waste_tokens "
    "FROM asg GROUP BY g",
)
def llm_pack_report(spark, sf):
    """Packing-efficiency data card (operators/packing.py::
    pack_efficiency_report over pack_documents — the llm_dup_report /
    llm_mix_report convention for the packing stage): per md5 bucket,
    document/bin counts, packed vs capacity tokens, fill rate and the
    padding tokens the collator will emit — the fraction-of-batch-
    that-is-real-signal number a trainer checks before committing a
    run. The oracle replays the ENTIRE chain — the sequential
    first-fit fold and then the same aggregation — so the hash match
    pins the report's provenance, not just its arithmetic. One
    partial-aggregated groupBy over the assignment relation; no second
    corpus pass."""
    from .operators.packing import pack_documents, pack_efficiency_report
    from .operators.text import bpe_token_count

    d = load_table(spark, sf, "documents").select(
        "doc_id", bpe_token_count(F.col("text")).alias("n_tok")
    )
    packed = pack_documents(d, 256, "n_tok", "doc_id", n_groups=8)
    return pack_efficiency_report(packed, 256, "n_tok")


@query(
    "llm_perplexity",
    "WITH t AS (SELECT doc_id, list_filter(string_split("
    f"{_NORM_SQL}, ' '), t -> t <> '') AS toks FROM documents), "
    "g AS (SELECT doc_id, unnest(toks) AS term FROM t), "
    "tf AS (SELECT doc_id, term, count(*) AS tf FROM g GROUP BY doc_id, term), "
    "cf AS (SELECT term, sum(tf) AS cf FROM tf GROUP BY term), "
    "tot AS (SELECT CAST(sum(len(toks)) AS DOUBLE) AS total FROM t), "
    "per AS (SELECT doc_id, tf, CAST(round(tf * -ln(CAST(cf AS DOUBLE) / total), 6) "
    "  AS DECIMAL(18,6)) AS c FROM tf JOIN cf USING (term) CROSS JOIN tot) "
    "SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens, "
    "round(CAST(sum(c) AS DOUBLE) / sum(tf), 6) AS unigram_nll "
    "FROM per GROUP BY doc_id",
)
def llm_perplexity(spark, sf):
    """CCNet-style unigram-LM quality signal (operators/text.py::
    unigram_nll): per document, the mean -ln of each token's corpus
    unigram probability — low = stereotypical fluent text, high =
    rare-token noise; perplexity = exp of this. The oracle recomputes the
    corpus LM fit AND the scores: per-(doc,term) contributions rounded to
    6 then DECIMAL-summed on both engines, so the hash match pins the
    whole train-then-score pipeline cross-engine."""
    from .operators.text import unigram_nll

    d = load_table(spark, sf, "documents")
    return unigram_nll(d.to_spark(), "text", "doc_id")


_MERGE_DELTA_SQL = (
    "SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, "
    "o_totalprice * 1.1 AS o_totalprice, o_orderdate, o_orderpriority, "
    "FALSE AS deleted FROM orders WHERE o_orderkey % 10 = 3 "
    "UNION ALL "
    "SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice, "
    "o_orderdate, o_orderpriority, FALSE FROM orders WHERE o_orderkey % 1000 = 1 "
    "UNION ALL "
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
    "o_orderpriority, TRUE FROM orders WHERE o_orderkey % 100 = 7"
)


@query(
    "q55_merge_upsert",
    f"WITH delta AS ({_MERGE_DELTA_SQL}) "
    "SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice, "
    "o.o_orderdate, o.o_orderpriority FROM orders o "
    "WHERE NOT EXISTS (SELECT 1 FROM delta d WHERE d.o_orderkey = o.o_orderkey) "
    "UNION ALL "
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
    "o_orderpriority FROM delta WHERE NOT deleted",
)
def q55_merge_upsert(spark, sf):
    """CDC MERGE without a table-format transaction log (operators/
    merge.py::merge_upsert): a synthetic change batch (updates to every
    %10==3 order, inserts of re-keyed %1000==1 copies, deletes of every
    %100==7 order) merged into orders. The base relation is never
    shuffled — one broadcast LEFT ANTI against the delta's keys plus a
    union; at 100 TB the CDC batch is the small side by construction.
    The oracle is the textbook anti-join + union expansion of MERGE."""
    from .operators.merge import merge_upsert

    o = load_table(spark, sf, "orders")
    base_cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                 "o_orderdate", "o_orderpriority"]
    updates = (
        o.filter(F.col("o_orderkey") % 10 == 3)
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
        .withColumn("deleted", F.lit(False))
    )
    inserts = (
        o.filter(F.col("o_orderkey") % 1000 == 1)
        .withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000)
        .withColumn("deleted", F.lit(False))
    )
    deletes = o.filter(F.col("o_orderkey") % 100 == 7).withColumn(
        "deleted", F.lit(True)
    )
    delta = (
        updates.select(*base_cols, "deleted")
        .unionByName(inserts.select(*base_cols, "deleted"))
        .unionByName(deletes.select(*base_cols, "deleted"))
    )
    return merge_upsert(
        o.to_spark(), delta.to_spark(), ["o_orderkey"], delete_col="deleted"
    )


@query(
    "q56_scd2",
    "SELECT event_id, user_id, ts AS valid_from, "
    "lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to, "
    "lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL "
    "AS is_current FROM events",
)
def q56_scd2(spark, sf):
    """Type-2 SCD history from a change log (operators/merge.py::
    scd2_history): each user event becomes a version valid until the
    user's next event (open interval + is_current for the latest). One
    key-partitioned window — no self-join, no global sort; the (ts,
    event_id) order key makes intervals deterministic under ties."""
    from .operators.merge import scd2_history

    e = load_table(spark, sf, "events")
    versions = scd2_history(
        e.to_spark(), ["user_id"], "ts", tiebreak_cols=["event_id"]
    )
    return versions.select(
        "event_id", "user_id", "valid_from", "valid_to", "is_current"
    )


@query(
    "llm_hash_split",
    "SELECT doc_id, CASE "
    "WHEN doc_id IS NULL THEN 'train' "
    "WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    " / 4294967296.0 < 0.01 THEN 'test' "
    "WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    " / 4294967296.0 < 0.99 THEN 'train' "
    "ELSE 'val' END AS split FROM documents",
)
def llm_hash_split(spark, sf):
    """Leakage-safe deterministic train/val/test split (operators/
    sampling.py::hash_split): 98/1/1 by the md5 of doc_id — a pure
    per-row codegen projection (no shuffle, no RNG state), reproducible
    across engines, reruns and cluster layouts; the group-keyed variant
    (route a whole near-dup group to one split) is unit-tested. The
    oracle recomputes the identical draw and boundaries (the cumulative
    weights 0.01/0.99 are exact Python-float literals on both sides)."""
    from .operators.sampling import hash_split

    d = load_table(spark, sf, "documents")
    return hash_split(
        d.to_spark(), {"train": 98, "val": 1, "test": 1}, "doc_id"
    ).select("doc_id", "split")


@query(
    "q57_array_funcs",
    "WITH g AS (SELECT l_orderkey, "
    "  list_sort(list(l_quantity ORDER BY l_quantity, l_linenumber)) AS qs "
    "  FROM lineitem GROUP BY l_orderkey) "
    "SELECT l_orderkey, "
    "array_to_string(qs, ',') AS all_qty, "
    "array_to_string(list_sort(list_distinct(qs)), ',') AS distinct_qty, "
    "array_to_string(qs[1:3], ',') AS first3, "
    "coalesce(array_to_string(list_sort(list_distinct("
    "  list_filter(qs, x -> list_contains([1.0, 2.0, 3.0], x)))), ','), '') "
    "  AS small_qty, "
    "array_to_string(list_transform(qs, x -> x * 2), ',') AS doubled, "
    "CAST(len(qs) AS BIGINT) AS n_items "
    "FROM g",
)
def q57_array_funcs(spark, sf):
    """Array-function breadth (§2.3 row 11): sort_array/array_distinct/
    slice/array_intersect/transform over per-order quantity arrays. Arrays
    are built sorted (collect_list order is partition-dependent) and every
    derived array is emitted sorted + comma-joined so the hash compare is
    layout-independent; array_intersect's result is re-sorted for the same
    reason. One shuffle (the groupBy); everything after is row-local
    codegen."""
    li = load_table(spark, sf, "lineitem")
    g = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("l_quantity")).alias("qs")
    )
    j = lambda c: F.concat_ws(",", F.expr(f"transform({c}, x -> cast(x as string))"))  # noqa: E731
    return g.select(
        "l_orderkey",
        j("qs").alias("all_qty"),
        F.concat_ws(
            ",",
            F.expr(
                "transform(sort_array(array_distinct(qs)), x -> cast(x as string))"
            ),
        ).alias("distinct_qty"),
        F.concat_ws(
            ",", F.expr("transform(slice(qs, 1, 3), x -> cast(x as string))")
        ).alias("first3"),
        F.concat_ws(
            ",",
            F.expr(
                "transform(sort_array(array_distinct("
                "array_intersect(qs, array(1.0D, 2.0D, 3.0D)))), "
                "x -> cast(x as string))"
            ),
        ).alias("small_qty"),
        F.concat_ws(
            ",", F.expr("transform(qs, x -> cast(x * 2 as string))")
        ).alias("doubled"),
        F.size("qs").cast("long").alias("n_items"),
    )


def _profile_col_sql(c):
    return (
        f"SELECT '{c}' AS \"column\", CAST(count(*) AS BIGINT) AS n_rows, "
        f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, "
        f"CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct, "
        f"CAST(min({c}) AS VARCHAR) AS min_value, "
        f"CAST(max({c}) AS VARCHAR) AS max_value FROM orders"
    )


@query(
    "q58_profile",
    " UNION ALL ".join(
        _profile_col_sql(c)
        for c in (
            "o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderdate", "o_orderpriority",
        )
    ),
)
def q58_profile(spark, sf):
    """ANALYZE-style table profile (operators/maintenance.py::
    profile_columns): per column, row/null/exact-distinct counts and
    min/max — the data-card / stats-collection pass. One scan: all
    per-column statistics in a single agg (multi-distinct planned via
    one Expand), unpivoted row-locally; min/max stringified so the
    profile schema is type-independent (double and timestamp rendering
    verified identical cross-engine)."""
    from .operators.maintenance import profile_columns

    o = load_table(spark, sf, "orders")
    return profile_columns(o.to_spark())


@query(
    "q59_time_funcs",
    "SELECT event_id, "
    "CAST(hour(ts) AS BIGINT) AS h, "
    "CAST(minute(ts) AS BIGINT) AS mi, "
    "CAST(dayofweek(CAST(ts AS DATE)) + 1 AS BIGINT) AS dow, "
    "CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s, "
    "strftime(CAST(ts AS DATE) + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3m "
    "FROM events",
)
def q59_time_funcs(spark, sf):
    """Third date/time-function breadth entry (q23: year/month/add/diff;
    q53: quarter/last_day/doy/iso-week): time-of-day extraction (hour/
    minute), day-of-week (Spark is 1=Sunday, DuckDB 0=Sunday — the oracle
    offsets), epoch seconds, and month arithmetic with end-of-month
    clamping (add_months ≡ + INTERVAL MONTH in both engines). All per-row
    codegen on the scan."""
    e = load_table(spark, sf, "events")
    ts = F.col("ts")
    return e.select(
        "event_id",
        F.hour(ts).cast("long").alias("h"),
        F.minute(ts).cast("long").alias("mi"),
        F.dayofweek(F.to_date(ts)).cast("long").alias("dow"),
        F.unix_timestamp(ts.cast("timestamp")).cast("long").alias("epoch_s"),
        F.date_format(F.add_months(F.to_date(ts), 3), "yyyy-MM-dd").alias(
            "plus3m"
        ),
    )


@query(
    "q60_conditional_expr",
    "SELECT l_orderkey, l_linenumber, "
    "least(l_quantity, l_discount * 100, l_tax * 100) AS lo, "
    "greatest(l_quantity, l_discount * 100, l_tax * 100) AS hi, "
    "CASE WHEN l_quantity >= 40 THEN 'bulk' WHEN l_quantity >= 10 THEN 'mid' "
    "ELSE 'small' END AS tier, "
    "CASE WHEN l_discount = 0 THEN NULL ELSE l_quantity / l_discount END "
    "AS qty_per_disc "
    "FROM lineitem",
)
def q60_conditional_expr(spark, sf):
    """Conditional-expression breadth (§2.3 row 11; q27 covers coalesce/
    nullif): variadic least/greatest, tiered CASE, and a guarded division
    rendered as CASE. Per-row codegen; IEEE arithmetic and comparisons
    are engine-identical so doubles hash-match unrounded."""
    li = load_table(spark, sf, "lineitem")
    q, d, t = F.col("l_quantity"), F.col("l_discount"), F.col("l_tax")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.least(q, d * 100, t * 100).alias("lo"),
        F.greatest(q, d * 100, t * 100).alias("hi"),
        F.when(q >= 40, "bulk").when(q >= 10, "mid").otherwise("small").alias(
            "tier"
        ),
        F.when(d == 0, F.lit(None).cast("double")).otherwise(q / d).alias(
            "qty_per_disc"
        ),
    )


@query(
    "llm_bigram_nll",
    "WITH t AS (SELECT doc_id, list_filter(string_split("
    f"{_NORM_SQL}, ' '), t -> t <> '') AS toks FROM documents), "
    "bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)), "
    "  i -> toks[i] || ' ' || toks[i + 1])) AS bg FROM t WHERE len(toks) >= 2), "
    "tf AS (SELECT doc_id, bg, count(*) AS tf FROM bg GROUP BY doc_id, bg), "
    "cbg AS (SELECT bg, sum(tf) AS cbg FROM tf GROUP BY bg), "
    "uni AS (SELECT w1, count(*) AS c1 FROM ("
    "  SELECT unnest(toks) AS w1 FROM t) GROUP BY w1), "
    "v AS (SELECT CAST(count(*) AS DOUBLE) AS vs FROM uni), "
    "per AS (SELECT doc_id, tf, CAST(round(tf * -ln("
    "  (CAST(cbg AS DOUBLE) + 1.0) / (CAST(c1 AS DOUBLE) + vs)), 6) "
    "  AS DECIMAL(18,6)) AS c "
    "  FROM tf JOIN cbg USING (bg) "
    "  JOIN uni ON split_part(bg, ' ', 1) = uni.w1 CROSS JOIN v) "
    "SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams, "
    "round(CAST(sum(c) AS DOUBLE) / sum(tf), 6) AS bigram_nll "
    "FROM per GROUP BY doc_id",
)
def llm_bigram_nll(spark, sf):
    """Bigram-LM fluency signal (operators/text.py::bigram_nll): mean
    -ln p(w2|w1) with add-one smoothing, fit on the corpus itself — the
    conditional companion to llm_perplexity (shuffled text keeps its
    unigram score but fails this one). Bigrams are formed row-locally
    from the token array; the oracle recomputes the full fit + scores
    with the shared round-then-DECIMAL-sum determinism rule."""
    from .operators.text import bigram_nll

    d = load_table(spark, sf, "documents")
    return bigram_nll(d.to_spark(), "text", "doc_id")


@query(
    "llm_url_features",
    "WITH aug AS (SELECT doc_id, "
    "  (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END) || "
    "  'www.' || lower(source) || CAST(doc_id % 5 AS VARCHAR) || "
    "  (['.com', '.org', '.net'])[CAST(doc_id % 3 AS INT) + 1] || "
    "  repeat('/seg', CAST(doc_id % 4 AS INT)) || '?q=1' AS url "
    "  FROM documents), "
    "h AS (SELECT doc_id, url, "
    "  regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host FROM aug) "
    "SELECT doc_id, url, host, "
    "array_to_string(string_split(host, '.')[-2:], '.') AS domain, "
    "url LIKE 'https://%' AS is_https, "
    "CAST(len(list_filter(string_split(regexp_extract(url, "
    "  '^[a-z]+://[^/?#]*([^?#]*)', 1), '/'), x -> x <> '')) AS BIGINT) "
    "  AS path_depth FROM h",
)
def llm_url_features(spark, sf):
    """Web-provenance features (operators/web.py::url_features): host via
    the JVM ``parse_url`` expression, registrable-domain approximation
    (last two host labels), scheme check, path depth — the metadata-only
    stage domain blocklists/caps key on, all per-row codegen on the scan.
    The synthetic corpus has no URL column, so a deterministic URL is
    built from (doc_id, source) identically in BOTH engines (the
    llm_pii_mask injection pattern); the oracle then proves Spark's
    parse_url semantics agree with plain regex extraction on well-formed
    URLs, byte-for-byte."""
    from .operators.web import url_features

    d = load_table(spark, sf, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 2 == 0, F.lit("https://")).otherwise(
                F.lit("http://")
            ),
            F.lit("www."),
            F.lower(F.col("source")),
            (F.col("doc_id") % 5).cast("string"),
            F.element_at(
                F.array(F.lit(".com"), F.lit(".org"), F.lit(".net")),
                (F.col("doc_id") % 3 + 1).cast("int"),
            ),
            F.expr("repeat('/seg', CAST(doc_id % 4 AS INT))"),
            F.lit("?q=1"),
        ).alias("url"),
    )
    return url_features(aug.to_spark(), "url").select(
        "doc_id", "url", "host", "domain", "is_https", "path_depth"
    )


@query(
    "q62_null_safe_join",
    "WITH l AS (SELECT nullif(l_linestatus, 'F') AS k, "
    "  CAST(count(*) AS BIGINT) AS cnt_l FROM lineitem GROUP BY 1), "
    "o AS (SELECT nullif(o_orderstatus, 'F') AS k, "
    "  CAST(count(*) AS BIGINT) AS cnt_o FROM orders GROUP BY 1) "
    "SELECT coalesce(l.k, o.k) AS k, cnt_l, cnt_o "
    "FROM l FULL JOIN o ON l.k IS NOT DISTINCT FROM o.k",
)
def q62_null_safe_join(spark, sf):
    """Null-safe equi-join breadth (§2.3 row 5): Spark's ``<=>``
    (``Column.eqNullSafe``) ≡ SQL ``IS NOT DISTINCT FROM`` — NULL keys
    MATCH each other instead of silently dropping, the semantics CDC and
    dimension pipelines need when the business key is nullable. Both
    sides are pre-aggregated (the null-safe comparison then joins two
    tiny relations — broadcast; a null-safe join still hash-partitions on
    the key, nulls land in one partition, so pre-aggregation is also the
    scale shape: collapse before you join on a low-cardinality nullable
    key). Full-outer keeps the unmatched-key row in the result."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    l_agg = (
        li.select(F.nullif(F.col("l_linestatus"), F.lit("F")).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("cnt_l"))
    )
    o_agg = (
        o.select(F.nullif(F.col("o_orderstatus"), F.lit("F")).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("cnt_o"))
    )
    la, oa = l_agg.to_spark().alias("l"), o_agg.to_spark().alias("o")
    return la.join(
        oa, F.col("l.k").eqNullSafe(F.col("o.k")), "full"
    ).select(
        F.coalesce(F.col("l.k"), F.col("o.k")).alias("k"),
        "cnt_l",
        "cnt_o",
    )


@query(
    "q63_map_hof",
    "WITH c AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt, "
    "  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sumv "
    "  FROM events GROUP BY 1, 2) "
    "SELECT user_id, "
    "round(max(CASE WHEN event_type = 'click' THEN sumv END) / "
    "  max(CASE WHEN event_type = 'click' THEN cnt END), 6) AS click_avg_value, "
    "max(CASE WHEN upper(event_type) = 'PURCHASE' THEN cnt END) AS purchases_uc, "
    "CAST(count(CASE WHEN cnt > 2 THEN 1 END) AS INT) AS n_frequent_types, "
    "CAST(sum(cnt) * 2 AS BIGINT) AS double_total "
    "FROM c GROUP BY 1",
)
def q63_map_hof(spark, sf):
    """Map HIGHER-ORDER functions (§2.3 row 11 — the last uncovered
    family after q39's construction/access): per-user event-type maps of
    counts and value-sums, then

    * ``map_zip_with`` — per-type average value (sums map ÷ counts map),
      probed at 'click';
    * ``transform_keys`` — keys uppercased, probed at 'PURCHASE';
    * ``map_filter`` — how many types occur more than twice;
    * ``transform_values`` + ``aggregate(map_values)`` — doubled counts
      folded back to a scalar.

    Every lambda is a JVM codegen expression (no Python); the maps are
    engine-internal, so as in q39 the oracle checks the SQL-observable
    probes, which only match if each HOF transformed the map correctly.
    Value sums ride the q29 DECIMAL(18,6) cast so both engines add
    exactly; the division then happens on identical doubles."""
    e = load_table(spark, sf, "events")
    c = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sumv"),
    )
    m = c.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "cnt")))
        ).alias("mc"),
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "sumv")))
        ).alias("mv"),
    )
    return m.select(
        "user_id",
        F.element_at(
            F.map_zip_with("mc", "mv", lambda k, cnt, sv: F.round(sv / cnt, 6)),
            "click",
        ).alias("click_avg_value"),
        F.element_at(
            F.transform_keys("mc", lambda k, v: F.upper(k)), "PURCHASE"
        ).alias("purchases_uc"),
        F.size(F.map_filter("mc", lambda k, v: v > 2))
        .cast("int")
        .alias("n_frequent_types"),
        F.aggregate(
            F.map_values(F.transform_values("mc", lambda k, v: v * 2)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("double_total"),
    )


@query(
    "q64_salted_join",
    "SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt, "
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1",
)
def q64_salted_join(spark, sf):
    """Skew-resistant salted equi-join (scale.py::salted_join) under the
    oracle: the fact side is salted by a within-key-varying column
    (l_linenumber), the dim side replicated n_salts ways, and the join
    runs on (key, salt) — the manual decomposition for hot keys when the
    dim is too big to broadcast yet small enough to replicate. The
    oracle is the PLAIN join + group-by; a hash match proves the salted
    plan is exactly equivalent (no row lost to a salt value no left row
    hashed to, none duplicated by the replication). The revenue sum
    rides the q29 DECIMAL cast so both engines add exactly. q40 blesses
    the salted AGGREGATION; this blesses the join form."""
    from .scale import salted_join

    li = load_table(spark, sf, "lineitem").to_spark().select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    o = load_table(spark, sf, "orders").to_spark().select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    j = salted_join(li, o, ["l_orderkey"], n_salts=8, left_salt_cols=["l_linenumber"])
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("revenue"),
    )


@query(
    "llm_weighted_sample",
    "WITH w AS (SELECT doc_id, lang, n_chars, "
    "  -ln((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 15)) "
    "    AS BIGINT) + 0.5) / 1152921504606846976.0) / n_chars AS sample_key "
    "  FROM documents WHERE n_chars > 0), "
    "r AS (SELECT doc_id, lang, n_chars, sample_key, "
    "  CAST(row_number() OVER (PARTITION BY lang "
    "    ORDER BY sample_key, doc_id) AS BIGINT) AS draw_rank FROM w) "
    "SELECT doc_id, lang, n_chars, round(sample_key, 6) AS sample_key, "
    "draw_rank FROM r WHERE draw_rank <= 5",
)
def llm_weighted_sample(spark, sf):
    """Weighted sampling without replacement (operators/sampling.py::
    weighted_sample_exact — Efraimidis–Spirakis A-ES exponential race):
    per-language, keep the 5 docs with the smallest -ln(u)/w keys,
    inclusion probability proportional to n_chars. The draw is
    derandomized (u from md5(doc_id, seed)), so the oracle recomputes
    the identical sample key-for-key: a hash match proves draw, domain
    filter (w > 0), ranking, and tie-break all agree across engines.
    Plan: WindowGroupLimit (per-partition top-k pre-prune before the one
    stratum shuffle) — the same shape as the quota sampler."""
    from .operators.sampling import weighted_sample_exact

    d = load_table(spark, sf, "documents")
    out = weighted_sample_exact(
        d.to_spark(), 5, "n_chars", "doc_id", strata=["lang"], seed=7
    )
    return out.select(
        "doc_id",
        "lang",
        "n_chars",
        F.round("sample_key", 6).alias("sample_key"),
        "draw_rank",
    )


@query(
    "llm_mix_report",
    "WITH g AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS docs, "
    "  sum(n_chars) AS w FROM documents GROUP BY 1, 2), "
    "t AS (SELECT sum(docs) AS td, sum(w) AS tw FROM g) "
    "SELECT lang, source, docs, "
    "round(CAST(docs AS DOUBLE) / td, 6) AS doc_share, "
    "CAST(w AS DOUBLE) AS weight, "
    "round(CAST(w AS DOUBLE) / CAST(tw AS DOUBLE), 6) AS weight_share "
    "FROM g, t",
)
def llm_mix_report(spark, sf):
    """Data-card mixture report (operators/sampling.py::mixture_report):
    per (lang, source), document count, summed character weight, and
    each cell's share of the corpus totals — the mixture table every
    training run prints before sampling. Two bounded shuffles: the
    group-by (cardinality = distinct mixture cells) and a one-row global
    rollup broadcast back across cells; weight sums ride a DECIMAL cast,
    shares divide as IEEE doubles on both engines."""
    from .operators.sampling import mixture_report

    d = load_table(spark, sf, "documents")
    return mixture_report(d.to_spark(), ["lang", "source"], "n_chars")


#: the llm_mixture_plan targets — the oracle's share literals are built
#: from the SAME python normalization mixture_plan performs (w / sum(w);
#: 0.5+0.2+0.2+0.1 sums to 0.9999999999999999, so the normalized shares
#: differ from the raw weights in the last ulp — inlining repr() of the
#: normalized doubles makes the replay bit-identical rather than
#: coincidentally-within-rounding)
_MIX_TARGETS = {"en": 0.5, "fr": 0.2, "de": 0.2, "zh": 0.1}
_MIX_VALUES = ", ".join(
    f"('{k}', {_MIX_TARGETS[k] / sum(_MIX_TARGETS.values())!r})"
    for k in sorted(_MIX_TARGETS)
)


@query(
    "llm_mixture_plan",
    "WITH toks AS (SELECT lang, "
    "CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n "
    "FROM documents), "
    f"t(lang, share) AS (VALUES {_MIX_VALUES}), "
    "s AS (SELECT lang, sum(CAST(n AS DECIMAL(38,6))) AS _a FROM toks "
    "  WHERE lang IN ('de', 'en', 'fr', 'zh') GROUP BY lang), "
    "a AS (SELECT t.lang, t.share, "
    "  coalesce(CAST(s._a AS DOUBLE), 0.0) AS av "
    "  FROM t LEFT JOIN s ON s.lang = t.lang), "
    "f AS (SELECT min(av / share) AS feasible FROM a) "
    "SELECT a.lang, round(av, 6) AS available, "
    "round(share, 6) AS target_share, "
    "round(share * f.feasible, 6) AS allocated, "
    "round(share * f.feasible / nullif(av, 0.0), 6) AS repetition, "
    "round(f.feasible, 6) AS feasible_total "
    "FROM a, f",
)
def llm_mixture_plan(spark, sf):
    """Mixture planning card (operators/sampling.py::mixture_plan — the
    step BEFORE llm_mix_report measures what a run got): given Pile /
    DoReMi-style target shares per language (en .5, fr .2, de .2,
    zh .1) and the corpus's actual per-language BPE token counts, the
    closed-form no-repeat maximum at exact proportions
    (min_g available/share — the scarcest group relative to its share
    binds) plus each group's allocation and repetition/utilization. The
    oracle replays the identical arithmetic (DECIMAL-summed
    availability, double division, same rounding), so the plan itself
    is hash-pinned. One partial-aggregated groupBy on the pushed-down
    target filter + a |targets|-row literal join + a one-row broadcast
    minimum — bounded at any corpus size."""
    from .operators.sampling import mixture_plan
    from .operators.text import bpe_token_count

    d = load_table(spark, sf, "documents").select(
        "lang", bpe_token_count(F.col("text")).alias("n_tok")
    )
    return mixture_plan(d, "lang", _MIX_TARGETS, weight_col="n_tok")


@query(
    "llm_psl_domains",
    "WITH h AS (SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN 'co.uk' "
    "  ELSE 'www.' || lower(source) || CAST(doc_id % 5 AS VARCHAR) || "
    "  (['.com', '.co.uk', '.com.au', '.zz'])[CAST(doc_id % 4 AS INT) + 1] "
    "  END AS host FROM documents) "
    "SELECT doc_id, host, CASE "
    "WHEN host IN ('com', 'org', 'net', 'co.uk', 'com.au') THEN NULL "
    "WHEN array_to_string(string_split(host, '.')[-2:], '.') "
    "  IN ('co.uk', 'com.au') "
    "  THEN array_to_string(string_split(host, '.')[-3:], '.') "
    "ELSE array_to_string(string_split(host, '.')[-2:], '.') END AS domain "
    "FROM h",
)
def llm_psl_domains(spark, sf):
    """Public-suffix-list registrable domains (operators/web.py::
    registrable_domain): longest-suffix match against a PSL relation via
    depth-bucketed broadcast probes — ``foo.co.uk`` stays distinct from
    ``bar.co.uk`` instead of collapsing to ``co.uk`` the way the last-2
    approximation does. The synthetic hosts mix 1-label (.com) and
    2-label (.co.uk/.com.au) suffixes, an UNLISTED TLD (.zz — exercises
    the implicit '*' fallback), and hosts that ARE a public suffix
    (domain = NULL). The oracle reimplements longest-suffix-match
    relationally for the same suffix set; a hash match proves the
    broadcast-join matcher implements the PSL algorithm."""
    from .operators.web import registrable_domain

    d = load_table(spark, sf, "documents")
    hosts = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 13 == 0, F.lit("co.uk"))
        .otherwise(
            F.concat(
                F.lit("www."),
                F.lower(F.col("source")),
                (F.col("doc_id") % 5).cast("string"),
                F.element_at(
                    F.array(
                        F.lit(".com"), F.lit(".co.uk"), F.lit(".com.au"), F.lit(".zz")
                    ),
                    (F.col("doc_id") % 4 + 1).cast("int"),
                ),
            )
        )
        .alias("host"),
    )
    psl = spark.createDataFrame(
        [("com",), ("org",), ("net",), ("co.uk",), ("com.au",)], "suffix string"
    )
    return registrable_domain(hosts.to_spark(), "host", "domain", psl=psl).select(
        "doc_id", "host", "domain"
    )


#: exhaustive new×seen Jaccard oracle for the incremental near-dup
#: operators — shared by llm_neardup_incremental (raw-text seen side)
#: and llm_minhash_store (signature-store seen side): both MUST produce
#: the identical pair set.
_NEARDUP_INCR_ORACLE = (
    "WITH seen AS (SELECT doc_id, "
    f"  list_filter(string_split({_NORM_SQL}, ' '), t -> t <> '') AS toks "
    "  FROM documents), "
    "new AS (SELECT doc_id, toks FROM (SELECT "
    f"  doc_id + {_TWIN_OFFSET} AS doc_id, "
    "  list_filter(string_split(lower(trim(regexp_replace("
    f"    text || '{_TWIN_SUFFIX}', '\\s+', ' ', 'g'))), ' '), t -> t <> '') AS toks "
    "  FROM documents)), "
    f"fs AS (SELECT doc_id, {_SHINGLE_SQL} AS sh FROM seen WHERE len(toks) >= 3), "
    f"fn AS (SELECT doc_id, {_SHINGLE_SQL} AS sh FROM new WHERE len(toks) >= 3) "
    "SELECT new_id, seen_id, n_inter, n_union, "
    "round(n_inter / CAST(n_union AS DOUBLE), 6) AS jaccard FROM ("
    "  SELECT a.doc_id AS new_id, b.doc_id AS seen_id, "
    "  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_inter, "
    "  CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS BIGINT) "
    "    AS n_union FROM fn a CROSS JOIN fs b) "
    "WHERE n_inter >= 0.7 * n_union"
)


@query("llm_neardup_incremental", _NEARDUP_INCR_ORACLE)
def llm_neardup_incremental(spark, sf):
    """Incremental near-dup detection (operators/dedup.py::
    minhash_near_dup_against): today's snapshot (the perturbed twin
    corpus — every doc a known near-match of its original) banded
    against the SEEN corpus (the originals), candidates strictly
    cross-side, exact Jaccard verify. The sibling of
    llm_dedup_incremental for fuzzy matches. The oracle is the
    EXHAUSTIVE new×seen Jaccard cross join, so a hash match proves
    cross-side LSH recall 1.0 on this corpus on top of exact
    precision."""
    from .operators import minhash_near_dup_against

    d = load_table(spark, sf, "documents")
    new = d.select(
        (F.col("doc_id") + F.lit(_TWIN_OFFSET).cast("long")).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_TWIN_SUFFIX)).alias("text"),
    )
    return minhash_near_dup_against(
        new.to_spark(), d.to_spark().select("doc_id", "text"), min_jaccard=0.7
    )


@query("llm_minhash_store", _NEARDUP_INCR_ORACLE)
def llm_minhash_store(spark, sf):
    """MinHash signature-store round-trip (operators/dedup.py::
    minhash_signatures + minhash_near_dup_against(seen_signatures=)):
    the SEEN corpus is reduced to its persistable signature relation
    (id, distinct-shingle hashes), written to parquet, reloaded, and
    today's snapshot (the perturbed twin corpus) is checked against the
    RELOADED store — history's text is never re-tokenized (or even
    read). The oracle is the same exhaustive new×seen Jaccard cross
    join as llm_neardup_incremental, so a hash match proves the store
    path is pair-for-pair identical to the raw-text path: persistence
    is lossless."""
    import tempfile

    from .operators import minhash_near_dup_against, minhash_signatures

    d = load_table(spark, sf, "documents")
    new = d.select(
        (F.col("doc_id") + F.lit(_TWIN_OFFSET).cast("long")).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_TWIN_SUFFIX)).alias("text"),
    )
    store = tempfile.mkdtemp(prefix="mf_sig_store_") + "/signatures"
    minhash_signatures(d.to_spark().select("doc_id", "text")).write.mode(
        "overwrite"
    ).parquet(store)
    return minhash_near_dup_against(
        new.to_spark(),
        seen_signatures=spark.read.parquet(store),
        min_jaccard=0.7,
    )


@query(
    "q65_bitwise",
    "SELECT l_returnflag, "
    "CAST(bit_and(l_linenumber) AS BIGINT) AS band, "
    "CAST(bit_or(l_linenumber) AS BIGINT) AS bor, "
    "CAST(bit_xor(l_linenumber) AS BIGINT) AS bxor, "
    "CAST(bit_and(l_linenumber & 5) AS BIGINT) AS band_masked, "
    "CAST(max(l_linenumber << 2) AS BIGINT) AS max_shifted, "
    "CAST(count(*) AS BIGINT) AS cnt "
    "FROM lineitem GROUP BY 1",
)
def q65_bitwise(spark, sf):
    """Bitwise aggregate + scalar family (§2.3 rows 6/11): bit_and /
    bit_or / bit_xor grouped aggregates plus scalar mask (&) and shift
    (shiftleft) feeding an aggregate — flag-word rollups (permission
    masks, feature bitsets) done engine-side. All codegen; the
    aggregates partial-combine map-side like any algebraic agg. BIGINT
    casts on both engines pin the dtype (Spark int vs DuckDB int32
    would hash-mismatch)."""
    li = load_table(spark, sf, "lineitem")
    n = F.col("l_linenumber")
    return li.groupBy("l_returnflag").agg(
        F.bit_and(n).cast("long").alias("band"),
        F.bit_or(n).cast("long").alias("bor"),
        F.bit_xor(n).cast("long").alias("bxor"),
        F.bit_and(n.bitwiseAND(F.lit(5))).cast("long").alias("band_masked"),
        F.max(F.shiftleft(n, 2)).cast("long").alias("max_shifted"),
        F.count(F.lit(1)).alias("cnt"),
    )


@query(
    "q66_string_agg",
    "SELECT n_regionkey, "
    "string_agg(n_name, ',' ORDER BY n_name) AS members, "
    "CAST(count(*) AS BIGINT) AS n_members "
    "FROM nation GROUP BY 1",
)
def q66_string_agg(spark, sf):
    """Ordered string aggregation (LISTAGG / string_agg — §2.3 row 6):
    per-region member list, deterministically sorted inside the group
    via array_sort(collect_list(...)) then array_join — Spark's
    composition of the SQL-standard LISTAGG ... WITHIN GROUP. Grouped
    collect_list is bounded here by the dimension's fan-out (nations
    per region); at scale this stays safe exactly when the group
    payload is dimension-bounded — for unbounded groups use the top-k
    or sampling operators instead (documented contract)."""
    n = load_table(spark, sf, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("members"),
        F.count(F.lit(1)).alias("n_members"),
    )


@query(
    "q67_variant",
    "SELECT event_type, "
    "CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) "
    "  AS sum_k, "
    "CAST(count(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) "
    "  > 50 THEN 1 END) AS BIGINT) AS n_big, "
    "CAST(count(*) AS BIGINT) AS cnt "
    "FROM events GROUP BY 1",
)
def q67_variant(spark, sf):
    """Semi-structured VARIANT path (Spark 4's open-format binary JSON —
    §2.3 row 11's modern sibling of q26's get_json_object):
    ``parse_json`` once into a VariantType column, then typed
    ``try_variant_get`` extraction feeding aggregates. Parsing to
    variant happens on the scan and the typed access avoids re-parsing
    the JSON text per path (the whole point of variant vs per-path
    get_json_object at scale); try_ semantics make malformed documents
    NULL instead of task failures. The oracle reads the same paths with
    DuckDB's JSON extraction."""
    e = load_table(spark, sf, "events")
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "long")
    return e.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.count(F.when(k > 50, 1)).alias("n_big"),
        F.count(F.lit(1)).alias("cnt"),
    )


@query(
    "q68_interpolate",
    "WITH e AS (SELECT event_id, user_id, ts, epoch_us(ts) AS t, "
    "  CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v FROM events), "
    "w AS (SELECT event_id, t, v, "
    "  last_value(v IGNORE NULLS) OVER pw AS pv, "
    "  last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER pw AS pt, "
    "  first_value(v IGNORE NULLS) OVER nw AS nv, "
    "  first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER nw AS nt "
    "  FROM e WINDOW "
    "  pw AS (PARTITION BY user_id ORDER BY ts, event_id "
    "    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), "
    "  nw AS (PARTITION BY user_id ORDER BY ts, event_id "
    "    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)) "
    "SELECT event_id, round(CASE WHEN v IS NOT NULL THEN v "
    "  ELSE pv + (nv - pv) * (t - pt) / nullif(nt - pt, 0) END, 6) AS v_filled "
    "FROM w",
)
def q68_interpolate(spark, sf):
    """Linear gap interpolation (operators/timeseries.py::
    interpolate_linear): NULL readings (every 5th event, injected
    identically in both engines) are filled with the linear blend of
    the nearest surrounding observations per user, on the microsecond
    epoch axis; leading/trailing gaps stay NULL, equal-timestamp
    brackets degrade to NULL via the nullif guard. q43 is the
    carry-forward repair; this is the telemetry-standard blend. One
    key-partitioned sort, two window frames, no self-join. The oracle
    re-derives prev/next observation pairs with IGNORE NULLS windows —
    split prev-value/prev-ts expressions are safe because both are
    non-NULL on exactly the same rows."""
    from .operators.timeseries import interpolate_linear

    e = load_table(spark, sf, "events")
    gapped = e.to_spark().select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_id") % 5 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    out = interpolate_linear(
        gapped, ["user_id"], "ts", "v", out_col="v_filled",
        tiebreak_cols=["event_id"],
    )
    return out.select("event_id", F.round("v_filled", 6).alias("v_filled"))


@query(
    "q69_snapshot_diff",
    "WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders), "
    "n AS (SELECT o_orderkey, o_orderstatus, "
    "  CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1 "
    "    ELSE o_totalprice END AS o_totalprice "
    "  FROM orders WHERE o_orderkey % 13 <> 0 "
    "  UNION ALL "
    "  SELECT o_orderkey + 1000000000, o_orderstatus, o_totalprice "
    "  FROM orders WHERE o_orderkey % 11 = 0) "
    "SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey, "
    "CASE WHEN o.o_orderkey IS NULL THEN 'added' "
    "  WHEN n.o_orderkey IS NULL THEN 'removed' "
    "  WHEN o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus "
    "    AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice "
    "    THEN 'unchanged' ELSE 'changed' END AS diff_status "
    "FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey",
)
def q69_snapshot_diff(spark, sf):
    """Snapshot drift report (operators/merge.py::snapshot_diff): the
    orders table vs a deterministically perturbed next snapshot (every
    13th key removed, every 11th re-added under a new key, every 7th
    repriced) classified added / removed / changed / unchanged per key —
    the between-ingest corpus-drift report and the CDC-backfill
    pre-flight. One full-outer equi-join, null-safe codegen comparison,
    no hashing detour; the oracle is the literal FULL OUTER JOIN + CASE
    with IS NOT DISTINCT FROM."""
    from .operators.merge import snapshot_diff

    o = load_table(spark, sf, "orders").to_spark().select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = (
        o.filter(F.col("o_orderkey") % 13 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 11 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(1_000_000_000)
            )
        )
    )
    return snapshot_diff(o, new, ["o_orderkey"])


@query(
    "q70_stats_agg",
    "WITH e AS (SELECT event_type, value AS y, "
    "  CAST(json_extract_string(props, '$.k') AS BIGINT) AS x FROM events) "
    "SELECT event_type, "
    "round(corr(y, x), 6) AS corr_yx, "
    "round(covar_samp(y, x), 6) AS covar_yx, "
    "round(regr_slope(y, x), 6) AS slope, "
    "round(regr_intercept(y, x), 6) AS intercept, "
    "CAST(regr_count(y, x) AS BIGINT) AS n_pairs, "
    "round(stddev_samp(y), 6) AS sd_y "
    "FROM e GROUP BY 1",
)
def q70_stats_agg(spark, sf):
    """Statistical aggregate family (§2.3 row 6 breadth): Pearson
    correlation, sample covariance, least-squares slope/intercept
    (SQL-standard regr_*), pair count, and sample stddev per group —
    the exploratory-stats pass a feature pipeline runs before modeling.
    All algebraic aggregates (bounded state, map-side partial combine);
    x is pulled from the variant/JSON path as in q67. Both engines use
    the same definitional formulas; results round to 6 so partial-agg
    addition order cannot flip a digit."""
    e = load_table(spark, sf, "events")
    y = F.col("value")
    x = F.get_json_object(F.col("props"), "$.k").cast("long")
    return e.to_spark().select("event_type", y.alias("y"), x.alias("x")).groupBy(
        "event_type"
    ).agg(
        F.round(F.corr("y", "x"), 6).alias("corr_yx"),
        F.round(F.covar_samp("y", "x"), 6).alias("covar_yx"),
        F.round(F.regr_slope("y", "x"), 6).alias("slope"),
        F.round(F.regr_intercept("y", "x"), 6).alias("intercept"),
        F.regr_count("y", "x").cast("long").alias("n_pairs"),
        F.round(F.stddev_samp("y"), 6).alias("sd_y"),
    )


@query(
    "q71_interval_join",
    "WITH iv AS (SELECT i AS interval_id, CAST(i * 4 AS DOUBLE) AS lo, "
    "  CAST(i * 4 + 6 AS DOUBLE) AS hi FROM range(50) t(i)) "
    "SELECT e.event_id, iv.interval_id "
    "FROM events e JOIN iv ON e.value >= iv.lo AND e.value < iv.hi",
)
def q71_interval_join(spark, sf):
    """Bucketed point-in-interval join (operators/asof.py::
    interval_join): events classified into overlapping value bands
    [4i, 4i+6). The naive BETWEEN join has no equi-condition — Spark
    plans a nested-loop scan of every interval per point; this operator
    buckets the number line (width = typical interval length), explodes
    each interval to its ~2 covered buckets, and joins EQUI on the
    bucket with exact containment as a post-filter — each match found
    exactly once in the point's own bucket, no dedup pass. The oracle
    is the naive theta join, so a hash match proves the bucketed
    decomposition finds exactly the contained pairs."""
    from .operators.asof import interval_join

    e = load_table(spark, sf, "events")
    iv = (
        spark.range(50)
        .select(
            F.col("id").alias("interval_id"),
            (F.col("id") * 4).cast("double").alias("lo"),
            (F.col("id") * 4 + 6).cast("double").alias("hi"),
        )
    )
    out = interval_join(
        e.to_spark().select("event_id", "value"), iv, "value", "lo", "hi",
        bucket_width=6.0,
    )
    return out.select("event_id", "interval_id")


def _html_extract_sql(inner: str) -> str:
    """DuckDB form of operators.web.extract_html_text — the identical
    regexp_replace chain (RE2 on both engines; DuckDB needs the explicit
    'g' option where Spark replaces globally by default)."""
    steps = [
        (r"(?is)<script\b[^>]*>.*?</script\s*>", "' '"),
        (r"(?is)<style\b[^>]*>.*?</style\s*>", "' '"),
        (r"(?s)<!--.*?-->", "' '"),
        (r"(?i)<(?:br\s*/?|/p|/div|/li|/h[1-6]|/tr)\s*>", "chr(10)"),
        (r"(?s)<[^>]+>", "' '"),
        ("&lt;", "'<'"),
        ("&gt;", "'>'"),
        ("&quot;", "'\"'"),
        ("&#39;", "''''"),
        ("&apos;", "''''"),
        ("&nbsp;", "' '"),
        ("&amp;", "'&'"),
        (r"[ \t\x0b\f\r]+", "' '"),
        (r" ?\n ?", "chr(10)"),
        (r"\n{2,}", "chr(10)"),
        (r"^\n+|\n+$", "''"),
    ]
    expr = inner
    for pat, repl in steps:
        expr = f"regexp_replace({expr}, '{pat}'" + f", {repl}, 'g')"
    return f"trim({expr})"


@query(
    "llm_html_extract",
    "WITH h AS (SELECT doc_id, "
    "  '<html><head><style>p{c}</style><script>var x=' || doc_id || "
    "  ';</script></head><body><!-- ' || source || ' --><h1>' || "
    "  upper(source) || '</h1><p>' || substr(text, 1, 120) || "
    "  ' &amp; tail</p><div>d&nbsp;' || CAST(doc_id AS VARCHAR) || "
    "  '</div></body></html>' AS html FROM documents) "
    f"SELECT doc_id, {_html_extract_sql('html')} AS extracted FROM h",
)
def llm_html_extract(spark, sf):
    """HTML boilerplate stripping (operators/web.py::extract_html_text —
    the RefinedWeb/C4 raw-crawl→text stage): script/style elements and
    comments dropped wholesale, block separators become newlines, tags
    stripped, the dominant entities decoded (&amp; last, so double
    escapes stay literal), whitespace disciplined — one codegen
    regexp_replace chain, no parser library, no Python, scan-bound. The
    corpus has no HTML column, so a deterministic page is wrapped around
    each document identically in both engines (the llm_url_features
    pattern); the oracle runs the byte-identical RE2 chain, so a hash
    match proves every stage of the strip."""
    from .operators.web import extract_html_text

    d = load_table(spark, sf, "documents")
    html = F.concat(
        F.lit("<html><head><style>p{c}</style><script>var x="),
        F.col("doc_id").cast("string"),
        F.lit(";</script></head><body><!-- "),
        F.col("source"),
        F.lit(" --><h1>"),
        F.upper(F.col("source")),
        F.lit("</h1><p>"),
        F.substring(F.col("text"), 1, 120),
        F.lit(" &amp; tail</p><div>d&nbsp;"),
        F.col("doc_id").cast("string"),
        F.lit("</div></body></html>"),
    )
    return d.to_spark().select(
        "doc_id", extract_html_text(html).alias("extracted")
    )


@query(
    "llm_quality_classifier",
    "WITH tok AS (SELECT doc_id, unnest(list_distinct(list_filter("
    "  string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '), "
    "  t -> t <> ''))) AS term FROM documents), "
    "w(term, wt) AS (VALUES ('spark', 1.2), ('fast', 0.9), ('query', 0.6), "
    "  ('the', 0.2), ('batch', 0.4), ('vector', 0.5), ('slow', -1.1), "
    "  ('dup', -0.8)), "
    "hits AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_vocab_hits, "
    "  SUM(CAST(round(wt, 6) AS DECIMAL(18,6))) AS z "
    "  FROM tok t JOIN w ON t.term = w.term GROUP BY 1) "
    "SELECT d.doc_id, coalesce(n_vocab_hits, 0) AS n_vocab_hits, "
    "round(1.0 / (1.0 + exp(-(-0.75 + CAST(coalesce(z, 0) AS DOUBLE)))), 6) "
    "  AS quality_prob "
    "FROM documents d LEFT JOIN hits USING (doc_id)",
)
def llm_quality_classifier(spark, sf):
    """FastText-style quality-classifier SCORING (operators/
    classifier.py::score_quality): sigmoid(bias + Σ weight over each
    doc's distinct vocabulary terms) — the learned-filter stage between
    heuristic quality flags and training. One tokenize scan, distinct
    (doc, term) pairs inner-broadcast-joined against the KB-sized weight
    relation (only vocabulary hits shuffle), one doc-keyed sum;
    contributions round-then-DECIMAL-sum so addition order is
    irrelevant. The weights here are fixed literals so the oracle can
    recompute the identical scores; the driver-side FIT
    (fit_quality_classifier — bounded hash-draw sample, deterministic
    numpy logistic regression) is pinned in tests/test_llm_ops.py
    against held-out separation and repartition-invariance."""
    from .operators.classifier import score_quality

    d = load_table(spark, sf, "documents")
    model = {
        "weights": {
            "spark": 1.2,
            "fast": 0.9,
            "query": 0.6,
            "the": 0.2,
            "batch": 0.4,
            "vector": 0.5,
            "slow": -1.1,
            "dup": -0.8,
        },
        "bias": -0.75,
    }
    return score_quality(d.to_spark(), model)


@query(
    "llm_domain_cap",
    "WITH aug AS (SELECT doc_id, n_chars, "
    "  'www.' || lower(source) || CAST(doc_id % 5 AS VARCHAR) || "
    "  (['.com', '.org', '.net'])[CAST(doc_id % 3 AS INT) + 1] AS host "
    "  FROM documents), "
    "d AS (SELECT doc_id, n_chars, "
    "  array_to_string(string_split(host, '.')[-2:], '.') AS domain FROM aug), "
    "r AS (SELECT doc_id, domain, n_chars, "
    "  CAST(row_number() OVER (PARTITION BY domain "
    "    ORDER BY n_chars DESC, doc_id) AS BIGINT) AS draw_rank FROM d) "
    "SELECT doc_id, domain, n_chars, draw_rank FROM r WHERE draw_rank <= 3",
)
def llm_domain_cap(spark, sf):
    """Per-domain cap — the web-curation stage after provenance
    extraction: keep the best N documents per registrable domain
    (operators/web.py::url_features → operators/sampling.py::
    stratified_sample_exact(by=..., descending=True)). Ranking is by
    n_chars (stand-in for a quality score) with the id tie-break, so the
    cap is deterministic; the rank-filter plans WindowGroupLimit (every
    partition pre-prunes to its own top-N per domain BEFORE the shuffle —
    the shape that makes a cap affordable when one domain is 10% of the
    crawl). Synthetic host injected from (doc_id, source) as in
    llm_url_features."""
    from .operators.sampling import stratified_sample_exact
    from .operators.web import url_features

    d = load_table(spark, sf, "documents")
    aug = d.select(
        "doc_id",
        "n_chars",
        F.concat(
            F.lit("https://www."),
            F.lower(F.col("source")),
            (F.col("doc_id") % 5).cast("string"),
            F.element_at(
                F.array(F.lit(".com"), F.lit(".org"), F.lit(".net")),
                (F.col("doc_id") % 3 + 1).cast("int"),
            ),
        ).alias("url"),
    )
    feat = url_features(aug.to_spark(), "url")
    return stratified_sample_exact(
        feat, ["domain"], 3, "doc_id", by="n_chars", descending=True
    ).select("doc_id", "domain", "n_chars", "draw_rank")


def _profile_ext_col_sql(c, numeric):
    qcols = (
        ", ".join(
            f"round(quantile_cont({c}, {q}), 6) AS p{int(q * 100)}"
            for q in (0.25, 0.5, 0.75)
        )
        if numeric
        else "CAST(NULL AS DOUBLE) AS p25, CAST(NULL AS DOUBLE) AS p50, "
        "CAST(NULL AS DOUBLE) AS p75"
    )
    return (
        f"SELECT '{c}' AS \"column\", CAST(count(*) AS BIGINT) AS n_rows, "
        f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, "
        f"CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct, "
        f"CAST(min({c}) AS VARCHAR) AS min_value, "
        f"CAST(max({c}) AS VARCHAR) AS max_value, {qcols} FROM orders"
    )


@query(
    "q61_profile_extended",
    " UNION ALL ".join(
        _profile_ext_col_sql(c, num)
        for c, num in (
            ("o_orderkey", True),
            ("o_custkey", True),
            ("o_totalprice", True),
            ("o_orderstatus", False),
        )
    ),
)
def q61_profile_extended(spark, sf):
    """ANALYZE-EXTENDED profile (operators/maintenance.py::
    profile_columns(percentiles=...)): q58's one-scan stats block plus
    exact interpolated p25/p50/p75 per numeric column (NULL for
    non-numeric) — the histogram row warehouse users expect next to
    min/max. Deliberately TWO one-row aggregations cross-joined (two
    scans): riding the percentile buffers on the distinct-agg Expand
    multiplied their input 5x and measured 6x slower — the split shape
    and the measurement are documented at maintenance.py;
    ``exact_percentiles=False`` is the documented petabyte lever
    (t-digest approx_percentile, bounded state). Exact interpolation
    (quantile_cont semantics) is engine-reproducible, so the oracle
    compares exact values."""
    from .operators.maintenance import profile_columns

    o = load_table(spark, sf, "orders")
    return profile_columns(
        o.to_spark(),
        ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"],
        percentiles=(0.25, 0.5, 0.75),
    )


@query(
    "llm_semantic_dedup",
    "WITH RECURSIVE "
    f"n AS (SELECT vec_id, {_NORM_EMB_SQL} AS emb FROM embeddings), "
    "p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM n a JOIN n b "
    "  ON a.vec_id < b.vec_id "
    "  WHERE round(list_inner_product(a.emb, b.emb), 6) >= 0.35), "
    "e AS (SELECT id_a AS src, id_b AS dst FROM p "
    "  UNION SELECT id_b, id_a FROM p), "
    "reach(id, r) AS (SELECT src, dst FROM e "
    "  UNION SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src "
    "    WHERE e.dst <> reach.id) "
    "SELECT vec_id FROM embeddings "
    "WHERE vec_id NOT IN (SELECT id FROM reach WHERE r < id)",
)
def llm_semantic_dedup(spark, sf):
    """Semantic (embedding-cluster) dedup, SemDeDup-shaped (operators/
    dedup.py::semantic_dedup): k-means cells bound the cosine quadratic →
    within-cell chunked-GEMM pairs (JVM re-verified) → large/small-star
    connected components → smallest-id survivor per component. Run here
    with n_cells=1 — the provably-exhaustive setting (every pair is
    within-cell), mirroring how llm_ivf_topk proves the IVF plumbing with
    n_probe=n_lists — so the DuckDB oracle can recompute the exact result:
    all-pairs cosine at the same threshold, transitive closure via a
    recursive CTE, survivors = ids that reach no smaller id. The
    production multi-cell path (pruned quadratic, recall < 1 across
    cells) is pinned by pytest against this exhaustive baseline."""
    from .operators import semantic_dedup, unit_normalize

    e = unit_normalize(load_table(spark, sf, "embeddings").to_spark())
    return semantic_dedup(e, min_cosine=0.35, n_cells=1).select("vec_id")


# -- as-of, keep-best dedup and grouped-UDF entries ----------------------------


@query(
    "q72_bitmap_distinct",
    "SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts "
    "FROM lineitem GROUP BY 1",
)
def q72_bitmap_distinct(spark, sf):
    """Exact distinct counting via BITMAPS (bitmap_bucket_number /
    bitmap_bit_position / bitmap_construct_agg / bitmap_count — the
    Spark-4 family): per return flag, the number of distinct parts. Why
    not plain count(distinct)? Bitmaps make the distinct-state MERGEABLE
    — the (flag, bucket) bitmap relation can be persisted and re-rolled
    to any coarser grouping (or unioned with tomorrow's increment via
    bitmap_or_agg) without touching the fact table again, which is the
    100-TB pattern for reusable exact-distinct rollups. Two partial-agg
    shuffles, both on bounded keys: (flag, bucket) — bucket fan-out =
    max_key/32768 — then flag; zero Expand, zero raw-key shuffle of the
    fact rows. Oracle = plain COUNT(DISTINCT)."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.select(
            "l_returnflag",
            F.expr("bitmap_bucket_number(l_partkey)").alias("_bkt"),
            F.expr("bitmap_bit_position(l_partkey)").alias("_pos"),
        )
        .groupBy("l_returnflag", "_bkt")
        .agg(F.expr("bitmap_construct_agg(_pos)").alias("_bm"))
        .groupBy("l_returnflag")
        .agg(F.sum(F.expr("bitmap_count(_bm)")).cast("long").alias("n_parts"))
    )


@query(
    "q73_gapfill",
    "WITH agg AS (SELECT user_id, CAST(ts AS DATE) AS d, "
    "  CAST(count(*) AS BIGINT) AS n, "
    "  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value "
    "  FROM events GROUP BY 1, 2), "
    "span AS (SELECT user_id, min(d) AS lo, max(d) AS hi FROM agg GROUP BY 1), "
    "grid AS (SELECT user_id, CAST(unnest(generate_series(lo, hi, "
    "  INTERVAL 1 DAY)) AS DATE) AS d FROM span) "
    "SELECT g.user_id, strftime(g.d, '%Y-%m-%d') AS d, coalesce(a.n, 0) AS n, "
    "coalesce(a.sum_value, 0.0) AS sum_value "
    "FROM grid g LEFT JOIN agg a ON g.user_id = a.user_id AND g.d = a.d",
)
def q73_gapfill(spark, sf):
    """Calendar densify (operators/timeseries.py::densify): each user's
    daily event counts with the MISSING days synthesized as zero rows —
    the gap-fill every dashboard and training-mix report needs before a
    rolling window can be trusted. Per-key spans (a user active one week
    densifies one week); the grid comes from sequence()+explode off a
    tiny per-key min/max aggregate — work proportional to the output
    grid, no global calendar cross join; the fill join is keyed on
    (user, day) on both sides. Dates render as strings (q53 idiom:
    DuckDB's pandas fetch turns DATE into datetime64)."""
    from .operators.timeseries import densify

    e = load_table(spark, sf, "events")
    agg = e.groupBy("user_id", F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("n"),
        _dsum(F.col("value"), "sum_value"),
    )
    filled = densify(agg, ["user_id"], "d", fill={"n": 0, "sum_value": 0.0})
    return filled.withColumn("d", F.date_format("d", "yyyy-MM-dd"))


@query(
    "q74_posexplode",
    "WITH t AS (SELECT doc_id, "
    f"  (list_filter(string_split({_NORM_SQL}, ' '), x -> x <> ''))[1:4] AS ws "
    "  FROM documents) "
    "SELECT t.doc_id, CAST(r.i AS BIGINT) AS pos, ws[r.i + 1] AS word, "
    "CAST(len(ws[r.i + 1]) AS BIGINT) AS word_len "
    "FROM t LEFT JOIN LATERAL (SELECT unnest(range(len(ws))) AS i) r ON TRUE",
)
def q74_posexplode(spark, sf):
    """Ordinal generator surface (§2.3 row 11): posexplode_outer over each
    document's first four tokens — the position column is what q35's
    plain explode cannot express, and the OUTER variant keeps empty-token
    documents as a NULL row instead of dropping them. Row-local codegen
    fan-out (×4 max); DuckDB has no UNNEST WITH ORDINALITY, so the oracle
    builds the ordinal with a LATERAL range join — same semantics
    including the empty-array NULL row."""
    from .operators.text import tokens

    d = load_table(spark, sf, "documents")
    return (
        d.select("doc_id", F.slice(tokens(F.col("text")), 1, 4).alias("_ws"))
        .select("doc_id", F.posexplode_outer("_ws").alias("pos", "word"))
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            "word",
            F.length("word").cast("long").alias("word_len"),
        )
    )


@query(
    "q75_try_funcs",
    "SELECT o_orderkey, "
    "round(o_totalprice / nullif(o_orderkey % 7, 0), 6) AS div7, "
    "TRY_CAST(o_orderpriority AS INT) AS pri_int, "
    "TRY_CAST(substring(o_orderpriority, 1, 1) AS INT) AS pri_digit, "
    "(string_split(o_orderpriority, '-'))[2] AS pri_word, "
    "(string_split(o_orderpriority, '-'))[3] AS pri_oob, "
    "TRY_CAST(o_orderpriority AS TIMESTAMP) AS pri_ts "
    "FROM orders",
)
def q75_try_funcs(spark, sf):
    """Error-safe (ANSI try_*) expression family: try_divide NULLs the
    rows where the divisor lands on zero instead of failing the job,
    try_cast turns malformed casts into NULLs (one variant that always
    fails, one that always parses), try_element_at reads past the end of
    an array as NULL, try_to_timestamp rejects non-temporal strings —
    the contract that keeps a 100-TB ingest from dying on its one bad
    row. All row-local codegen; DuckDB expresses the same semantics with
    nullif-guarded division, TRY_CAST, and natively-NULL out-of-bounds
    list indexing."""
    o = load_table(spark, sf, "orders")
    parts = F.split(F.col("o_orderpriority"), "-")
    return o.select(
        "o_orderkey",
        F.round(
            F.try_divide(F.col("o_totalprice"), F.col("o_orderkey") % 7), 6
        ).alias("div7"),
        F.col("o_orderpriority").try_cast("int").alias("pri_int"),
        F.substring("o_orderpriority", 1, 1).try_cast("int").alias("pri_digit"),
        F.try_element_at(parts, F.lit(2)).alias("pri_word"),
        F.try_element_at(parts, F.lit(3)).alias("pri_oob"),
        F.try_to_timestamp(F.col("o_orderpriority")).alias("pri_ts"),
    )


@query(
    "q76_regex_funcs",
    "SELECT doc_id, "
    "CAST(len(regexp_extract_all(text, '[aeiou]{2}')) AS BIGINT) AS n_vv, "
    "nullif(regexp_extract(text, '[A-Z][a-z]+'), '') AS first_cap, "
    "CAST(length(regexp_replace(text, '[0-9]+', '#', 'g')) AS BIGINT) "
    "AS len_masked, "
    "regexp_matches(text, '[0-9]') AS has_digit "
    "FROM documents",
)
def q76_regex_funcs(spark, sf):
    """The regexp surface beyond q38's extract: regexp_count
    (non-overlapping match count), regexp_substr (first match or NULL —
    DuckDB's regexp_extract returns '' for a miss, hence the nullif in
    the oracle), replace-all masking, and rlike. All row-local codegen
    on the scan — the cheap per-document signals a text pipeline
    computes in the same pass as its quality features."""
    d = load_table(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit("[aeiou]{2}")).cast("long").alias("n_vv"),
        F.regexp_substr("text", F.lit("[A-Z][a-z]+")).alias("first_cap"),
        F.length(F.regexp_replace("text", "[0-9]+", "#"))
        .cast("long")
        .alias("len_masked"),
        F.col("text").rlike("[0-9]").alias("has_digit"),
    )


@query(
    "q78_asof_nearest",
    "WITH u AS ("
    "  SELECT user_id, ts, epoch_us(ts) AS t, 0 AS tag, event_id AS rid, "
    "    CAST(NULL AS BIGINT) AS lid FROM events WHERE event_type = 'error' "
    "  UNION ALL "
    "  SELECT user_id, ts, epoch_us(ts), 1, NULL, event_id "
    "  FROM events WHERE event_type = 'click'), "
    "w AS (SELECT *, "
    "  last_value(CASE WHEN tag = 0 THEN t END IGNORE NULLS) OVER wb AS bt, "
    "  last_value(CASE WHEN tag = 0 THEN rid END IGNORE NULLS) OVER wb AS brid, "
    "  first_value(CASE WHEN tag = 0 THEN t END IGNORE NULLS) OVER wf AS ft, "
    "  first_value(CASE WHEN tag = 0 THEN rid END IGNORE NULLS) OVER wf AS frid "
    "  FROM u WINDOW "
    "  wb AS (PARTITION BY user_id ORDER BY t, tag "
    "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), "
    "  wf AS (PARTITION BY user_id ORDER BY t, tag DESC "
    "    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) "
    "SELECT lid AS event_id, "
    "CASE WHEN ft IS NULL OR (bt IS NOT NULL AND (t - bt) <= (ft - t)) "
    "  THEN make_timestamp(bt) ELSE make_timestamp(ft) END AS ts_asof, "
    "CASE WHEN ft IS NULL OR (bt IS NOT NULL AND (t - bt) <= (ft - t)) "
    "  THEN brid ELSE frid END AS event_id_asof "
    "FROM w WHERE tag = 1",
)
def q78_asof_nearest(spark, sf):
    """As-of direction='nearest' (pandas merge_asof parity): each click matched to the CLOSEST error event
    per user, whichever side of it that lies, ties to the earlier one.
    Same union-tag plan as backward/forward — one shuffle on user_id,
    two per-partition sorts (one per direction) feeding a row-local
    pick; never a range join. The oracle builds both one-sided
    candidates with IGNORE NULLS frames and picks the closer, the same
    algebra in ANSI SQL."""
    from .operators.asof import asof_join

    e = load_table(spark, sf, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id"
    )
    return asof_join(
        clicks,
        errors,
        on="ts",
        by="user_id",
        right_cols=["event_id"],
        direction="nearest",
    ).select("event_id", "ts_asof", "event_id_asof")


@query(
    "q79_set_ops_all",
    "SELECT k, 'both' AS tag FROM (SELECT c_nationkey AS k FROM customer "
    "INTERSECT ALL SELECT s_nationkey FROM supplier) "
    "UNION ALL "
    "SELECT k, 'cust_only' AS tag FROM (SELECT c_nationkey AS k FROM customer "
    "EXCEPT ALL SELECT s_nationkey FROM supplier)",
)
def q79_set_ops_all(spark, sf):
    """Multiset set operations (§2.3 row 9's remaining surface):
    INTERSECT ALL and EXCEPT ALL — multiplicity-preserving, unlike
    q19/q19b/q20's distinct variants. Both plan as a single aggregate
    over the union with per-side counts (one shuffle on the key, no
    row-pair join), then re-generate min/difference multiplicities;
    tagged and unioned so one result carries both."""
    c = load_table(spark, sf, "customer").select(F.col("c_nationkey").alias("k"))
    s = load_table(spark, sf, "supplier").select(F.col("s_nationkey").alias("k"))
    both = c.intersectAll(s.to_spark()).withColumn("tag", F.lit("both"))
    cust_only = c.exceptAll(s.to_spark()).withColumn("tag", F.lit("cust_only"))
    return both.unionAll(cust_only.to_spark())


@query(
    "llm_dedup_keep_best",
    "SELECT content_sha256, doc_id, n_copies FROM ("
    "  SELECT sha256(norm) AS content_sha256, doc_id, "
    "    count(*) OVER (PARTITION BY norm) AS n_copies, "
    "    row_number() OVER (PARTITION BY norm "
    "      ORDER BY n_chars DESC, doc_id ASC) AS rn "
    f"  FROM (SELECT {_NORM_SQL} AS norm, doc_id, n_chars FROM ("
    "    SELECT * FROM documents UNION ALL SELECT * FROM documents))"
    ") WHERE rn = 1",
)
def llm_dedup_keep_best(spark, sf):
    """Exact dedup with the keep-CANONICAL policy (the keep-best form of
    llm_exact_dedup): per content digest, keep the highest-quality copy
    (n_chars as the score here; ties to the lowest id) via a single
    max_by(id, struct(quality, -id)) — still one digest shuffle with
    map-side partial aggregation, no window sort. The oracle says the
    same thing with a row_number window, which is exactly the shape the
    operator avoids at scale."""
    from .operators import exact_dedup

    d = load_table(spark, sf, "documents")
    doubled = d.unionAll(d.to_spark())
    return exact_dedup(doubled, "text", "doc_id", quality_col="n_chars")


@query(
    "llm_bloom_decontaminate",
    "WITH t AS (SELECT doc_id, "
    f"  list_filter(string_split({_NORM_SQL}, ' '), x -> x <> '') AS toks "
    "  FROM documents), "
    f"sh AS (SELECT doc_id, {_SHINGLE_SQL} AS sh FROM t WHERE len(toks) >= 3), "
    "bench AS (SELECT DISTINCT s FROM ("
    "  SELECT unnest(sh) AS s FROM sh WHERE doc_id % 89 = 0)), "
    "corp AS (SELECT doc_id, unnest(sh) AS s FROM sh WHERE doc_id % 89 <> 0) "
    "SELECT corp.doc_id, CAST(count(*) AS BIGINT) AS n_overlap "
    "FROM corp JOIN bench USING (s) GROUP BY corp.doc_id",
)
def llm_bloom_decontaminate(spark, sf):
    """Decontamination via a broadcast BLOOM FILTER relation
    (dedup.py::bloom_contamination): when the benchmark shingle set is
    too large to broadcast as strings, broadcast its bloom bitmap (64-bit
    words built with bit_or partial aggregation) instead, prefilter
    corpus shingles through two hash probes map-side, and exact-verify
    the survivors — output identical to llm_decontaminate's exact
    operator, so the oracle is the plain exact query (every 89th doc
    stands in for the benchmark). The only shuffle whose size scales
    with the corpus carries bloom SURVIVORS, not shingles."""
    from .operators.dedup import bloom_contamination

    d = load_table(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 89 == 0)
    corpus = d.filter(F.col("doc_id") % 89 != 0)
    return bloom_contamination(
        corpus.to_spark(), bench.to_spark(), n=3, n_bits=1 << 20, n_hashes=2
    )


@query(
    "q77_minmax_by",
    "WITH r AS (SELECT event_type, event_id, value, "
    "  row_number() OVER (PARTITION BY event_type "
    "    ORDER BY value DESC, event_id DESC) AS rhi, "
    "  row_number() OVER (PARTITION BY event_type "
    "    ORDER BY value ASC, event_id ASC) AS rlo "
    "  FROM events) "
    "SELECT event_type, "
    "max(CASE WHEN rhi = 1 THEN event_id END) AS hi_id, "
    "round(max(value), 6) AS hi_v, "
    "max(CASE WHEN rlo = 1 THEN event_id END) AS lo_id, "
    "round(min(value), 6) AS lo_v "
    "FROM r GROUP BY 1",
)
def q77_minmax_by(spark, sf):
    """Argmin/argmax aggregates (§2.3 row 6): per event type, WHICH event
    carries the extreme value — max_by/min_by over a (value, id) ordering
    struct, so ties break deterministically on the id without a window.
    One partial-agg shuffle; the oracle needs TWO row_number windows (a
    full sort) to say the same thing — exactly the shape max_by avoids
    at scale. DuckDB's max_by can't take a struct ordering key, hence
    the window formulation there."""
    e = load_table(spark, sf, "events")
    ordk = F.struct(F.col("value"), F.col("event_id"))
    return e.groupBy("event_type").agg(
        F.max_by("event_id", ordk).alias("hi_id"),
        F.round(F.max("value"), 6).alias("hi_v"),
        F.min_by("event_id", ordk).alias("lo_id"),
        F.round(F.min("value"), 6).alias("lo_v"),
    )


@query(
    "q80_sort_nulls",
    "SELECT 'desc_nulls_last' AS mode, event_id, round(v, 6) AS v FROM ("
    "  SELECT event_id, CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v "
    "  FROM events ORDER BY v DESC NULLS LAST, event_id LIMIT 50) "
    "UNION ALL "
    "SELECT 'asc_nulls_first' AS mode, event_id, round(v, 6) AS v FROM ("
    "  SELECT event_id, CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v "
    "  FROM events ORDER BY v ASC NULLS FIRST, event_id LIMIT 50)",
)
def q80_sort_nulls(spark, sf):
    """Explicit NULL placement in ordered top-k (§2.3 row 8 breadth):
    desc_nulls_last picks the 50 largest real readings, asc_nulls_first
    proves NULLs sort ahead of every value — tagged and unioned. The
    cross-engine trap this entry pins: Spark's bare ASC defaults to
    NULLS FIRST where DuckDB defaults to NULLS LAST, so both sides spell
    the placement explicitly. Each arm plans as TakeOrderedAndProject
    (per-partition top-k, never a global sort); ids tie-break for a
    total order."""
    e = load_table(spark, sf, "events")
    v = F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(F.col("value"))
    base = e.select("event_id", v.alias("v"))
    hi = (
        base.orderBy(F.desc_nulls_last("v"), F.asc("event_id"))
        .limit(50)
        .select(F.lit("desc_nulls_last").alias("mode"), "event_id", F.round("v", 6).alias("v"))
    )
    lo = (
        base.orderBy(F.asc_nulls_first("v"), F.asc("event_id"))
        .limit(50)
        .select(F.lit("asc_nulls_first").alias("mode"), "event_id", F.round("v", 6).alias("v"))
    )
    return hi.unionAll(lo.to_spark())


@query(
    "llm_label_centroids",
    "SELECT label, CAST(r.i AS BIGINT) AS dim, "
    "round(avg(CAST(embedding[r.i + 1] AS DOUBLE)), 6) AS mean_x, "
    "CAST(count(*) AS BIGINT) AS n "
    "FROM embeddings, LATERAL (SELECT unnest(range(len(embedding))) AS i) r "
    "GROUP BY 1, 2",
)
def llm_label_centroids(spark, sf):
    """DISTRIBUTED centroid computation (mean-pooling per label): the
    embedding column posexplodes to (label, dim, x) and partial-averages
    on the bounded (label × dim) key — the fully-distributed alternative
    to similarity.py's sampled driver-side k-means fit when exact class
    centroids are the product (class prototypes, nearest-class-mean
    classifiers, per-cluster drift reports). One shuffle whose key count
    is labels × dims regardless of corpus size; no driver collect, no
    vector ever materialized whole. float→double cast is exact; the mean
    rounds to 6 so partial-sum addition order cannot flip a digit.
    DuckDB has no UNNEST WITH ORDINALITY, so the oracle uses the q74
    LATERAL-range idiom."""
    e = load_table(spark, sf, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("dim", "x"))
    return ex.groupBy("label", F.col("dim").cast("long").alias("dim")).agg(
        F.round(F.avg(F.col("x").cast("double")), 6).alias("mean_x"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "llm_html_links",
    "WITH h AS (SELECT doc_id, "
    "  '<p><a href=\"https://www.' || lower(source) || "
    "  CAST(doc_id % 5 AS VARCHAR) || '.com/a\">x</a> and "
    "  <a href=\"http://cdn' || CAST(doc_id % 3 AS VARCHAR) || "
    "  '.assets' || CAST(doc_id % 2 AS VARCHAR) || '.net/img\">y</a></p>' "
    "  AS html FROM documents), "
    "l AS (SELECT unnest(regexp_extract_all(html, 'href=\"([^\"]+)\"', 1)) "
    "  AS link FROM h), "
    "d2 AS (SELECT regexp_extract(link, '^[a-z]+://([^/?#]+)', 1) AS host FROM l) "
    "SELECT array_to_string(string_split(host, '.')[-2:], '.') AS domain, "
    "CAST(count(*) AS BIGINT) AS n_links FROM d2 GROUP BY 1",
)
def llm_html_links(spark, sf):
    """Outlink extraction + domain rollup — the link-graph signal web
    curation computes alongside text extraction (host authority, spam
    neighborhoods): pull every href with one regexp_extract_all pass,
    explode hits only, reduce to registrable-domain counts. Codegen
    scan → explode(hits) → one bounded-key shuffle; the corpus has no
    HTML column, so a two-link page is wrapped around each document
    identically in both engines (the llm_html_extract pattern)."""
    d = load_table(spark, sf, "documents")
    html = F.concat(
        F.lit('<p><a href="https://www.'),
        F.lower(F.col("source")),
        (F.col("doc_id") % 5).cast("string"),
        F.lit('.com/a">x</a> and \n  <a href="http://cdn'),
        (F.col("doc_id") % 3).cast("string"),
        F.lit(".assets"),
        (F.col("doc_id") % 2).cast("string"),
        F.lit('.net/img">y</a></p>'),
    )
    links = d.select(
        F.explode(F.regexp_extract_all(html, F.lit('href="([^"]+)"'), 1)).alias(
            "link"
        )
    )
    host = F.regexp_extract("link", "^[a-z]+://([^/?#]+)", 1)
    return (
        links.select(F.substring_index(host, ".", -2).alias("domain"))
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


_CANON_TRACK_SQL = (
    "x -> x <> '' AND NOT starts_with(x, 'utm_') AND NOT starts_with(x, 'fbclid') "
    "AND NOT starts_with(x, 'gclid') AND NOT starts_with(x, 'msclkid') "
    "AND NOT starts_with(x, 'yclid') AND NOT starts_with(x, 'mc_eid')"
)


@query(
    "llm_url_canonical",
    "WITH aug AS (SELECT doc_id, "
    "  (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.' ELSE 'http://www.' END) || "
    "  lower(source) || CAST(doc_id % 5 AS VARCHAR) || "
    "  (['.com', '.org', '.net'])[CAST(doc_id % 3 AS INT) + 1] || "
    "  (CASE WHEN doc_id % 5 = 0 THEN ':443' "
    "        WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END) || "
    "  repeat('/seg', CAST(doc_id % 3 AS INT)) || "
    "  (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) || "
    "  '?utm_source=t&q=' || CAST(doc_id % 7 AS VARCHAR) || "
    "  (CASE WHEN doc_id % 6 = 0 THEN '&fbclid=zz#top' ELSE '' END) AS url "
    "  FROM documents), "
    "b AS (SELECT doc_id, url, regexp_replace(url, '#.*', '') AS base FROM aug), "
    "p AS (SELECT doc_id, url, "
    "  lower(regexp_extract(base, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS scheme, "
    "  regexp_extract(base, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]+)', 1) AS auth, "
    "  regexp_extract(base, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)', 1) AS path, "
    "  regexp_extract(base, '\\?([^#]*)', 1) AS query FROM b), "
    "c AS (SELECT doc_id, url, scheme, "
    "  lower(regexp_extract(auth, '^([^:]+)', 1)) AS host, "
    "  regexp_extract(auth, ':([0-9]+)$', 1) AS port, "
    "  regexp_replace(path, '/+$', '') AS path_c, "
    f"  array_to_string(list_filter(string_split(query, '&'), {_CANON_TRACK_SQL}), '&') AS q "
    "  FROM p) "
    "SELECT doc_id, url, scheme || '://' || host || "
    "(CASE WHEN (scheme = 'http' AND port = '80') "
    "  OR (scheme = 'https' AND port = '443') OR port = '' "
    "  THEN '' ELSE ':' || port END) || path_c || "
    "(CASE WHEN q = '' THEN '' ELSE '?' || q END) AS canon FROM c",
)
def llm_url_canonical(spark, sf):
    """URL canonicalization (operators/web.py::canonicalize_url) — the
    crawl-dedup key: scheme/host lowercased, fragment off, default port
    dropped (:8080 survives, :443 survives on http), trailing slashes
    stripped, tracking params (utm_*/fbclid/...) removed with surviving
    params in original order. One codegen regexp/array chain on the
    scan. The synthetic URL varies case, port, path depth, trailing
    slash, tracking params and fragment by doc_id, built identically in
    both engines (llm_url_features pattern); the oracle replays the
    byte-identical chain so a hash match proves every rule."""
    from .operators.web import canonicalize_url

    d = load_table(spark, sf, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS://WWW.")).otherwise(
            F.lit("http://www.")
        ),
        F.lower(F.col("source")),
        (F.col("doc_id") % 5).cast("string"),
        F.element_at(
            F.array(F.lit(".com"), F.lit(".org"), F.lit(".net")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ),
        F.when(F.col("doc_id") % 5 == 0, F.lit(":443"))
        .when(F.col("doc_id") % 5 == 1, F.lit(":8080"))
        .otherwise(F.lit("")),
        F.expr("repeat('/seg', CAST(doc_id % 3 AS INT))"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=t&q="),
        (F.col("doc_id") % 7).cast("string"),
        F.when(F.col("doc_id") % 6 == 0, F.lit("&fbclid=zz#top")).otherwise(
            F.lit("")
        ),
    )
    return d.select(
        "doc_id",
        url.alias("url"),
        canonicalize_url(url).alias("canon"),
    )


@query(
    "llm_text_clean",
    "WITH dirty AS (SELECT doc_id, "
    "  '“Q' || CAST(doc_id % 7 AS VARCHAR) || '”—' || chr(160) || "
    "  substr(text, 1, 100) || chr(8203) || '…' || chr(7) || '’s' AS t "
    "  FROM documents) "
    "SELECT doc_id, replace(translate(regexp_replace(t, "
    "'[\\x00-\\x08\\x0B-\\x1F\\x7F​‌‍﻿]', '', 'g'), "
    "'‘’‚“”„–—' || chr(160), "
    "repeat(chr(39), 3) || '\"\"\"-- '), '…', '...') AS cleaned "
    "FROM dirty",
)
def llm_text_clean(spark, sf):
    """Unicode hygiene scrub (operators/text.py::clean_text — the
    CCNet/OSCAR-style pass before any hashing or tokenization):
    invisible characters deleted (C0 controls, DEL, zero-widths, BOM),
    curly quotes/dashes folded to ASCII, NBSP to space, ellipsis to
    '...'. Byte-identical paragraphs that differ only in typography or
    stray control bytes hash identically afterwards. One
    regexp_replace + translate + replace — row-local codegen, zero
    shuffle. The corpus is clean ASCII, so a deterministic mojibake
    wrapper is injected from doc_id identically in both engines
    (llm_pii_mask pattern); the oracle replays the same three-step
    chain, so the hash match proves each mapping."""
    from .operators.text import clean_text

    d = load_table(spark, sf, "documents")
    dirty = F.concat(
        F.lit("“Q"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("”— "),
        F.substring("text", 1, 100),
        F.lit("​…\x07’s"),
    )
    return d.select("doc_id", clean_text(dirty).alias("cleaned"))


@query(
    "q81_cogroup",
    "WITH o AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS n_orders, "
    "  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents FROM orders "
    "  WHERE o_custkey % 19 = 3 GROUP BY 1), "
    "c AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 19 = 3) "
    "SELECT coalesce(o.k, c.k) AS custkey, "
    "coalesce(n_orders, 0) AS n_orders, "
    "CAST(coalesce(cents, 0) AS DOUBLE) / 100 AS sum_price "
    "FROM o FULL JOIN c ON o.k = c.k",
)
def q81_cogroup(spark, sf):
    """Two-sided Arrow grouped-map (§2.3 row 17's remaining shape):
    ``cogroup(...).applyInPandas`` joins each customer's order batch with
    its customer batch INSIDE pandas — the escape hatch for per-key
    logic no join+agg can express (here a SQL-expressible stand-in so
    the oracle can hash-check the plumbing). Keys from either side
    survive (customers with no orders emit zeros — cogroup's full-outer
    contract). Money sums in integer CENTS inside pandas: int64
    addition is order-independent, so the nondeterministic Arrow batch
    order cannot wiggle a double sum. One co-partitioned shuffle pair,
    Arrow-batched both directions, no driver collect. Restricted to a
    deterministic 1/19 customer slice: per-group pandas dispatch costs
    ~100 µs/group regardless of group size, and the plumbing is proved
    as well on 8k groups as on 150k — the full-corpus shape for this
    computation is q08/q81's plain join+agg, not a grouped UDF. NOTE for
    bench readers: this entry's BENCH number is therefore the sliced
    cogroup (1/19 of customers), NOT full-corpus cogroup cost — the
    unsliced grouped-UDF run measured ~14.6 s at sf0.1 (pure per-group
    Python dispatch floor, BASELINE.md) and is exactly the
    shape you should NOT use when a join+agg expresses the logic."""
    import pandas as pd

    o = load_table(spark, sf, "orders").filter(F.col("o_custkey") % 19 == 3)
    c = load_table(spark, sf, "customer").filter(F.col("c_custkey") % 19 == 3)

    def per_customer(key, orders_pdf, cust_pdf):
        cents = (
            orders_pdf["o_totalprice"].mul(100).round().astype("int64").sum()
            if len(orders_pdf)
            else 0
        )
        return pd.DataFrame(
            {
                "custkey": [key[0]],
                "n_orders": [len(orders_pdf)],
                "sum_price": [cents / 100.0],
            }
        )

    grouped = (
        o.to_spark()
        .groupBy(F.col("o_custkey").alias("k"))
        .cogroup(c.to_spark().groupBy(F.col("c_custkey").alias("k")))
    )
    return grouped.applyInPandas(
        per_customer, schema="custkey long, n_orders long, sum_price double"
    )


_PR_EDGES_SQL = (
    "(SELECT lower(source) || CAST(doc_id % 7 AS VARCHAR) || '.org' AS s, "
    " lower(source) || CAST(doc_id % 5 AS VARCHAR) || '.com' AS d FROM documents "
    " UNION ALL "
    " SELECT lower(source) || CAST(doc_id % 7 AS VARCHAR) || '.org', "
    " 'assets' || CAST(doc_id % 2 AS VARCHAR) || '.net' FROM documents)"
)

#: one damped-PageRank sweep in SQL: rank mass summed in DECIMAL(28,18)
#: (order-independent), teleport/damping arithmetic forced to DOUBLE so
#: both engines run the identical IEEE recipe (DuckDB decimal literals
#: would otherwise compute (1.0-0.85) exactly and diverge in the last bit).
_PR_STEP_SQL = (
    "SELECT n2.node, "
    "(CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n "
    "+ CAST(0.85 AS DOUBLE) * coalesce(mm.m, CAST(0.0 AS DOUBLE)) AS pr "
    "FROM nodes n2 CROSS JOIN nn LEFT JOIN ("
    "  SELECT e.d, CAST(SUM(CAST(p.pr / deg.deg AS DECIMAL(28,18))) AS DOUBLE) AS m "
    "  FROM e JOIN deg USING (s) JOIN {prev} p ON p.node = e.s GROUP BY e.d"
    ") mm ON mm.d = n2.node"
)


@query(
    "llm_domain_pagerank",
    f"WITH e AS (SELECT * FROM {_PR_EDGES_SQL} t), "
    "deg AS (SELECT s, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1), "
    "nodes AS (SELECT s AS node FROM e UNION SELECT d FROM e), "
    "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes), "
    "pr0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS pr FROM nodes CROSS JOIN nn), "
    f"pr1 AS ({_PR_STEP_SQL.format(prev='pr0')}), "
    f"pr2 AS ({_PR_STEP_SQL.format(prev='pr1')}) "
    "SELECT node, round(pr, 6) AS pr FROM pr2",
)
def llm_domain_pagerank(spark, sf):
    """Domain authority via damped PageRank (operators/graph.py) — the
    link-graph ranking signal web curation mixes into quality priors,
    run for two unrolled iterations over the synthetic outlink graph
    (page domain → linked domain, built from doc_id/source identically
    in both engines; multiplicities are real parallel edges). Each
    iteration is one edge⋈rank hash join plus one dst-keyed aggregate —
    the Pregel shape without Pregel; rank mass sums in DECIMAL(28,18) so
    partial-agg order cannot move a bit, which is what lets a DuckDB
    replica of the identical recipe hash-match double-typed ranks.
    Dangling mass dropped by contract (documented in the operator)."""
    from .operators.graph import pagerank

    d = load_table(spark, sf, "documents")
    src = F.concat(
        F.lower(F.col("source")), (F.col("doc_id") % 7).cast("string"), F.lit(".org")
    )
    e1 = d.select(
        src.alias("src"),
        F.concat(
            F.lower(F.col("source")), (F.col("doc_id") % 5).cast("string"),
            F.lit(".com"),
        ).alias("dst"),
    )
    e2 = d.select(
        src.alias("src"),
        F.concat(
            F.lit("assets"), (F.col("doc_id") % 2).cast("string"), F.lit(".net")
        ).alias("dst"),
    )
    edges = e1.unionAll(e2.to_spark())
    pr = pagerank(edges, n_iter=2, damping=0.85)
    return pr.select("node", F.round("pr", 6).alias("pr"))


#: the redistribute-mode sweep: identical to _PR_STEP_SQL plus the
#: dangling-mass term — D_t summed in DECIMAL(28,18) over nodes with no
#: out-edge, spread uniformly (dm/n) inside the damped paren, matching
#: the operator's expression shape op-for-op so doubles agree bitwise.
_PR_STEP_RD_SQL = (
    "SELECT n2.node, "
    "(CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n "
    "+ CAST(0.85 AS DOUBLE) * (coalesce(mm.m, CAST(0.0 AS DOUBLE)) "
    "  + dd.dm / nn.n) AS pr "
    "FROM nodes n2 CROSS JOIN nn CROSS JOIN ("
    "  SELECT CAST(coalesce(SUM(CAST(p.pr AS DECIMAL(28,18))), 0) AS DOUBLE) AS dm "
    "  FROM {prev} p WHERE p.node NOT IN (SELECT s FROM e)"
    ") dd LEFT JOIN ("
    "  SELECT e.d, CAST(SUM(CAST(p.pr / deg.deg AS DECIMAL(28,18))) AS DOUBLE) AS m "
    "  FROM e JOIN deg USING (s) JOIN {prev} p ON p.node = e.s GROUP BY e.d"
    ") mm ON mm.d = n2.node"
)


@query(
    "llm_pagerank_redistribute",
    f"WITH e AS (SELECT * FROM {_PR_EDGES_SQL} t), "
    "deg AS (SELECT s, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1), "
    "nodes AS (SELECT s AS node FROM e UNION SELECT d FROM e), "
    "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes), "
    "pr0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS pr FROM nodes CROSS JOIN nn), "
    f"pr1 AS ({_PR_STEP_RD_SQL.format(prev='pr0')}), "
    f"pr2 AS ({_PR_STEP_RD_SQL.format(prev='pr1')}) "
    "SELECT node, round(pr, 6) AS pr FROM pr2",
)
def llm_pagerank_redistribute(spark, sf):
    """PageRank with dangling-mass REDISTRIBUTION (operators/graph.py::
    pagerank(dangling='redistribute')) — the probability-distribution
    variant users coming from NetworkX/GraphFrames expect: each sweep,
    the rank mass of sink nodes (here the .com/.net link targets, which
    never appear as sources) is spread uniformly over all nodes instead
    of vanishing, so Σpr stays 1. Adds one anti-join + one-row
    decimal-summed aggregate per iteration, broadcast into the rank
    update; the oracle replays the identical recipe in DuckDB and the
    hash match proves both the redistribution arithmetic and its
    determinism."""
    from .operators.graph import pagerank

    d = load_table(spark, sf, "documents")
    src = F.concat(
        F.lower(F.col("source")), (F.col("doc_id") % 7).cast("string"), F.lit(".org")
    )
    e1 = d.select(
        src.alias("src"),
        F.concat(
            F.lower(F.col("source")), (F.col("doc_id") % 5).cast("string"),
            F.lit(".com"),
        ).alias("dst"),
    )
    e2 = d.select(
        src.alias("src"),
        F.concat(
            F.lit("assets"), (F.col("doc_id") % 2).cast("string"), F.lit(".net")
        ).alias("dst"),
    )
    edges = e1.unionAll(e2.to_spark())
    pr = pagerank(edges, n_iter=2, damping=0.85, dangling="redistribute")
    return pr.select("node", F.round("pr", 6).alias("pr"))


@query(
    "q82_make_datetime",
    "SELECT event_id, "
    "make_timestamp(CAST(year(ts) AS BIGINT), CAST(month(ts) AS BIGINT), "
    "  CAST(day(ts) AS BIGINT), CAST(hour(ts) AS BIGINT), "
    "  CAST(minute(ts) AS BIGINT), CAST(CAST(second(ts) AS BIGINT) AS DOUBLE)) "
    "  AS rebuilt_ts, "
    "strftime(make_date(CAST(year(ts) AS BIGINT), CAST(month(ts) AS BIGINT), "
    "  CAST(day(ts) AS BIGINT)), '%Y-%m-%d') AS d "
    "FROM events",
)
def q82_make_datetime(spark, sf):
    """Datetime CONSTRUCTORS (§2.3 row 11's remaining sub-family —
    q23/q53/q59 only ever extract): make_timestamp / make_date rebuilt
    from the extracted fields of each event's own timestamp, a
    round-trip that proves extraction and construction agree to the
    second in both engines (sub-second digits drop with second()'s
    integer contract — stated, not hidden). Row-local codegen; dates
    render as strings (q53 idiom)."""
    e = load_table(spark, sf, "events")
    t = F.col("ts")
    y, mo, d = F.year(t), F.month(t), F.dayofmonth(t)
    return e.select(
        "event_id",
        F.make_timestamp(
            y, mo, d, F.hour(t), F.minute(t), F.second(t).cast("double")
        ).alias("rebuilt_ts"),
        F.date_format(F.make_date(y, mo, d), "yyyy-MM-dd").alias("d"),
    )


@query(
    "q83_union_by_name",
    "SELECT c_custkey AS k, round(c_acctbal, 6) AS bal, "
    "CAST(NULL AS VARCHAR) AS sname FROM customer "
    "UNION ALL BY NAME "
    "SELECT s_suppkey AS k, CAST(NULL AS DOUBLE) AS bal, s_name AS sname "
    "FROM supplier",
)
def q83_union_by_name(spark, sf):
    """Schema-evolution union (§2.3 row 9's remaining variant):
    unionByName(allowMissingColumns=True) — the append a pipeline does
    when one input has grown columns the other lacks; missing columns
    fill with NULL and alignment is BY NAME, not by position (positional
    unionAll would silently zip k against bal). DuckDB spells the same
    operation UNION ALL BY NAME. Pure merge — no shuffle at all."""
    c = load_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("k"), F.round("c_acctbal", 6).alias("bal")
    )
    s = load_table(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("k"), F.col("s_name").alias("sname")
    )
    return c.unionByName(s.to_spark(), allowMissingColumns=True)


@query(
    "q84_json_array",
    "WITH j AS (SELECT doc_id, '[' || CAST(doc_id % 5 AS VARCHAR) || ',' || "
    "  CAST(doc_id % 7 AS VARCHAR) || ',' || CAST(doc_id % 11 AS VARCHAR) || ']' "
    "  AS s FROM documents), "
    "a AS (SELECT doc_id, CAST(s AS INT[]) AS arr FROM j) "
    "SELECT doc_id, CAST(len(arr) AS INT) AS n, arr[1] AS first_v, "
    "arr[-1] AS last_v, CAST(list_sum(arr) AS INT) AS total "
    "FROM a",
)
def q84_json_array(spark, sf):
    """JSON ARRAY parsing (q36 covers only the struct path): a JSON array
    string parsed to array<int> with from_json, then indexed from both
    ends (element_at supports negative indexes, matching DuckDB's
    1-based/-1-based list indexing) and folded with the aggregate()
    higher-order sum. Row-local codegen on the scan; the array text is
    synthesized from doc_id identically in both engines."""
    d = load_table(spark, sf, "documents")
    s = F.concat(
        F.lit("["), (F.col("doc_id") % 5).cast("string"),
        F.lit(","), (F.col("doc_id") % 7).cast("string"),
        F.lit(","), (F.col("doc_id") % 11).cast("string"), F.lit("]"),
    )
    a = d.select("doc_id", F.from_json(s, "array<int>").alias("arr"))
    return a.select(
        "doc_id",
        F.size("arr").alias("n"),
        F.element_at("arr", 1).alias("first_v"),
        F.element_at("arr", -1).alias("last_v"),
        F.expr("aggregate(arr, 0, (acc, x) -> acc + x)").alias("total"),
    )


@query(
    "q85_hll_sketch",
    "SELECT o_orderpriority, "
    "CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_distinct, "
    "TRUE AS merge_consistent, TRUE AS within_5pct "
    "FROM orders GROUP BY 1",
)
def q85_hll_sketch(spark, sf):
    """Mergeable distinct-count sketches (operators/maintenance.py::
    distinct_sketches / merge_distinct_sketches / sketch_estimates,
    SURVEY §2.3 row 6's incremental face): orders split into two 'daily
    runs' (o_orderkey parity), each sketched per priority group with
    Datasketches HLL (hll_sketch_agg), the runs merged via hll_union_agg
    and estimated — the 100 TB pattern where per-day sketches persist
    and history is never rescanned. The oracled columns: the exact
    per-group distinct count, merge_consistent (the 2-way-split merge
    estimate == a 3-way-split merge estimate — register-wise max makes
    the merged register state independent of HOW the stream was
    partitioned, so ANY divergence means the merge machinery broke; a
    merged sketch is NOT compared to the one-shot sketch, whose HIP
    estimator legitimately differs within the error band) and
    within_5pct (merged estimate within 5% of exact; lg_k=12's rsd is
    ~1.6%, so a breach means the sketch itself broke) — both
    deterministically TRUE and hash-checked as such."""
    from .operators.maintenance import (
        distinct_sketches,
        merge_distinct_sketches,
        sketch_estimates,
    )

    o = load_table(spark, sf, "orders")
    gb, cols = ["o_orderpriority"], ["o_custkey"]

    def merged_est(n_parts, alias):
        parts = [
            distinct_sketches(
                o.filter(F.col("o_orderkey") % n_parts == i).to_spark(),
                cols,
                group_by=gb,
            )
            for i in range(n_parts)
        ]
        return sketch_estimates(
            merge_distinct_sketches(*parts, group_by=gb), group_by=gb
        ).withColumnRenamed("o_custkey_distinct", alias)

    m2 = merged_est(2, "m2")
    m3 = merged_est(3, "m3")
    exact = o.groupBy(*gb).agg(
        F.countDistinct("o_custkey").cast("long").alias("exact_distinct")
    )
    return (
        exact.join(m2, gb)
        .join(m3, gb)
        .select(
            "o_orderpriority",
            "exact_distinct",
            (F.col("m2") == F.col("m3")).alias("merge_consistent"),
            (
                F.abs(F.col("m2") - F.col("exact_distinct"))
                / F.col("exact_distinct")
                <= 0.05
            ).alias("within_5pct"),
        )
    )


@query(
    "q86_blocklist_antijoin",
    "WITH base AS (SELECT doc_id, "
    "  lower(source) || CAST(doc_id % 5 AS VARCHAR) || "
    "  (['.com', '.org', '.net'])[CAST(doc_id % 3 AS INT) + 1] AS domain, "
    "  CAST(doc_id % 2 AS INT) AS par, CAST(doc_id % 4 AS INT) AS segs "
    "  FROM documents), "
    "aug AS (SELECT doc_id, domain, "
    "  (CASE WHEN par = 0 THEN 'https://' ELSE 'http://' END) || 'www.' || "
    "  domain || repeat('/seg', segs) || '?q=1' AS url FROM base), "
    "blk AS (SELECT DISTINCT domain FROM base "
    "  WHERE doc_id % 7 = 0 AND domain LIKE '%.org' "
    "  UNION ALL SELECT 'blk' || CAST(i AS VARCHAR) || '.example' "
    "  FROM range(20000) t(i)) "
    "SELECT doc_id, url FROM aug "
    "WHERE domain NOT IN (SELECT domain FROM blk)",
)
def q86_blocklist_antijoin(spark, sf):
    """Blocklist at real scale (operators/web.py::domain_filter relation
    path): a 20k-entry generated junk blocklist UNION the .org domains
    actually hit by every seventh document (the tld slice keeps the
    block selective — blocking ALL hit domains would cover the whole
    15-combo synthetic domain space, a trivially-empty result),
    passed as a RELATION — far
    past max_inline, so the filter is a LEFT ANTI hash join on the
    normalized registrable domain (broadcast while the list fits,
    shuffled beyond; never a plan-text literal set). Same synthetic URL
    construction as llm_url_features; the oracle anti-joins the
    identically-derived domain, so the hash match proves the join path
    implements exactly the literal-set semantics at list sizes the
    literal path cannot take."""
    from .operators.web import domain_filter

    d = load_table(spark, sf, "documents")
    tld = F.element_at(
        F.array(F.lit(".com"), F.lit(".org"), F.lit(".net")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    dom = F.concat(
        F.lower(F.col("source")), (F.col("doc_id") % 5).cast("string"), tld
    )
    urls = d.select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 2 == 0, F.lit("https://")).otherwise(
                F.lit("http://")
            ),
            F.lit("www."),
            dom,
            F.repeat(F.lit("/seg"), (F.col("doc_id") % 4).cast("int")),
            F.lit("?q=1"),
        ).alias("url"),
    )
    blk_real = (
        d.filter(F.col("doc_id") % 7 == 0)
        .select(dom.alias("domain"))
        .filter(F.col("domain").endswith(".org"))
        .distinct()
    )
    blk_junk = spark.range(20000).select(
        F.concat(F.lit("blk"), F.col("id").cast("string"), F.lit(".example")).alias(
            "domain"
        )
    )
    blocklist = blk_real.to_spark().unionByName(blk_junk)
    return domain_filter(urls.to_spark(), blocklist, url_col="url")


@query(
    "q87_moments_store",
    "WITH a AS (SELECT l_returnflag, "
    "  count(l_quantity) AS n, count(l_extendedprice) AS np, "
    "  CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS s, "
    "  CAST(SUM(CAST(l_quantity AS DECIMAL(19,6)) * "
    "           CAST(l_quantity AS DECIMAL(19,6))) AS DOUBLE) AS s2, "
    "  MIN(CAST(l_quantity AS DOUBLE)) AS mn, "
    "  MAX(CAST(l_quantity AS DOUBLE)) AS mx, "
    "  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS ps, "
    "  CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,6)) * "
    "           CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS ps2 "
    "  FROM lineitem GROUP BY 1) "
    "SELECT l_returnflag, CAST(n AS BIGINT) AS qty_count, "
    "ROUND(s / n, 6) AS qty_mean, "
    "ROUND(SQRT(GREATEST((s2 - s * s / n) / (n - 1), 0)), 6) AS qty_std, "
    "mn AS qty_min, mx AS qty_max, "
    "ROUND(ps / np, 6) AS price_mean, "
    "ROUND(SQRT(GREATEST((ps2 - ps * ps / np) / (np - 1), 0)), 6) AS price_std "
    "FROM a",
)
def q87_moments_store(spark, sf):
    """Mergeable EXACT moment sketches (operators/maintenance.py::
    moment_sketches / merge_moment_sketches / moment_estimates — the
    exact companion to q85's HLL store, SURVEY §2.3 row 6's incremental
    face): lineitem split into three 'daily runs' (l_orderkey mod 3),
    each reduced per return flag to {n, decimal-exact sum, sumsq, min,
    max}, the runs merged by algebraic fold and the statistics read out.
    Because the sums are DECIMAL (order-independent addition), the
    merged mean/std/min/max/count are hash-IDENTICAL to the oracle's
    one-pass computation over the full table — the store proves
    "accrete per-day, never rescan history" loses nothing, not even
    floating-point determinism. (The oracle's sumsq casts say
    DECIMAL(19,6) where the operator uses (18,6): DuckDB executes a
    width-18 multiply in int64 and overflows, width 19 forces hugeint —
    the quantized VALUES are identical either way.)"""
    from .operators.maintenance import (
        merge_moment_sketches,
        moment_estimates,
        moment_sketches,
    )

    li = load_table(spark, sf, "lineitem").to_spark().select(
        "l_returnflag",
        "l_orderkey",
        F.col("l_quantity").alias("qty"),
        F.col("l_extendedprice").alias("price"),
    )
    gb = ["l_returnflag"]
    parts = [
        moment_sketches(
            li.filter(F.col("l_orderkey") % 3 == i), ["qty", "price"], group_by=gb
        )
        for i in range(3)
    ]
    est = moment_estimates(
        merge_moment_sketches(*parts, group_by=gb), group_by=gb
    )
    return est.select(
        "l_returnflag",
        "qty_count",
        "qty_mean",
        "qty_std",
        "qty_min",
        "qty_max",
        "price_mean",
        "price_std",
    )


@query(
    "q88_histogram_quantiles",
    "WITH b AS (SELECT l_returnflag, "
    "  CASE WHEN l_extendedprice < 0 THEN -1 "
    "       WHEN l_extendedprice > 120000 THEN 120 "
    "       ELSE LEAST(CAST(FLOOR(l_extendedprice / (120000.0 / 120)) AS INT), "
    "                  119) END AS bin "
    "  FROM lineitem WHERE l_extendedprice IS NOT NULL) "
    "SELECT l_returnflag, "
    "CAST(SUM(CASE WHEN bin = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_below, "
    "CAST(SUM(CASE WHEN bin = 120 THEN 1 ELSE 0 END) AS BIGINT) AS n_above, "
    "CAST(SUM(CASE WHEN bin BETWEEN 0 AND 119 THEN 1 ELSE 0 END) AS BIGINT) "
    "  AS n_in_range, "
    "CAST(SUM(CASE WHEN bin BETWEEN 0 AND 119 THEN bin + 1 ELSE 0 END) "
    "  AS BIGINT) AS hist_checksum, "
    "TRUE AS p50_ok, TRUE AS p90_ok "
    "FROM b GROUP BY 1",
)
def q88_histogram_quantiles(spark, sf):
    """Mergeable quantile digests via exact equi-width histograms
    (operators/maintenance.py::histogram_sketch / merge_histograms /
    histogram_quantile_estimates): approx_percentile's t-digest state
    cannot be persisted or merged across Spark runs, but exact bin
    counts can — lineitem split into two runs (l_orderkey parity), each
    histogrammed per return flag over [0, 120000] × 120 bins, bin-sum
    merged, quantiles interpolated from the cumulative walk. Oracled
    hard: n_below/n_above/n_in_range and a rank-weighted hist_checksum
    (sum of bin_idx+1 over rows) pin EVERY bin's content to DuckDB's
    independently-computed bin assignment (the bin rule is plain double
    arithmetic both engines evaluate identically), and p50_ok/p90_ok
    assert the interpolated estimates sit within two bin widths of
    Spark's exact percentile. The 2-bin-width bound is NOT a universal
    theorem — exact `percentile` interpolates between adjacent ranks
    whose values can sit many bins apart in a gappy distribution — but
    it holds for lineitem's dense, near-uniform l_extendedprice (every
    interior bin occupied at sf >= 0.001, so estimate and exact
    quantile land in the same or adjacent bin), which is what this
    oracle pins. Bench note: the exact-`percentile` arm below is
    VALIDATION ONLY (it exists to oracle p50_ok/p90_ok); it dominates
    this entry's ~3.4 s bench time, so that number is the cost of the
    validation join, not of the histogram operator itself (whose
    shuffle is bounded at groups x (n_bins+2) rows)."""
    from .operators.maintenance import (
        histogram_quantile_estimates,
        histogram_sketch,
        merge_histograms,
    )

    li = load_table(spark, sf, "lineitem").to_spark()
    gb = ["l_returnflag"]
    lo, hi, n_bins = 0.0, 120000.0, 120
    w = (hi - lo) / n_bins
    parts = [
        histogram_sketch(
            li.filter(F.col("l_orderkey") % 2 == i),
            "l_extendedprice",
            lo,
            hi,
            n_bins,
            group_by=gb,
        )
        for i in range(2)
    ]
    h = merge_histograms(*parts, group_by=gb)
    counts = F.col("l_extendedprice_hist.counts")
    zero = F.lit(0).cast("long")
    stats = h.select(
        "l_returnflag",
        F.col("l_extendedprice_hist.below").alias("n_below"),
        F.col("l_extendedprice_hist.above").alias("n_above"),
        F.aggregate(counts, zero, lambda a, x: a + x).alias("n_in_range"),
        F.aggregate(
            F.zip_with(
                counts,
                F.sequence(F.lit(1), F.size(counts)),
                lambda c, i: c * i,
            ),
            zero,
            lambda a, x: a + x,
        ).alias("hist_checksum"),
        "l_extendedprice_hist",
    )
    # the stat columns ride through histogram_quantile_estimates as
    # passthrough keys — one histogram pipeline execution, not two
    est = histogram_quantile_estimates(
        stats,
        [0.5, 0.9],
        group_by=gb + ["n_below", "n_above", "n_in_range", "hist_checksum"],
    )
    # one percentile buffer for both validation quantiles (see q41)
    exact = li.groupBy(*gb).agg(
        F.expr("percentile(l_extendedprice, array(0.5D, 0.9D))").alias("_e")
    ).select(
        *gb,
        F.col("_e")[0].alias("_e50"),
        F.col("_e")[1].alias("_e90"),
    )
    return (
        est.join(exact, gb)
        .select(
            "l_returnflag",
            "n_below",
            "n_above",
            "n_in_range",
            "hist_checksum",
            (
                F.abs(F.col("l_extendedprice_p50") - F.col("_e50")) <= 2 * w
            ).alias("p50_ok"),
            (
                F.abs(F.col("l_extendedprice_p90") - F.col("_e90")) <= 2 * w
            ).alias("p90_ok"),
        )
    )


@query(
    "q89_heavy_hitters",
    "WITH t AS (SELECT doc_id, lang, "
    f"  list_filter(string_split({_NORM_SQL}, ' '), t -> t <> '') AS toks "
    "  FROM documents), "
    "g AS (SELECT lang, unnest(toks) AS term FROM t), "
    "c AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS cnt "
    "  FROM g GROUP BY 1, 2), "
    "r AS (SELECT lang, term, cnt, "
    "  CAST(row_number() OVER (PARTITION BY lang "
    "    ORDER BY cnt DESC, term) AS BIGINT) AS rnk FROM c) "
    "SELECT lang, term, cnt AS count, CAST(0 AS BIGINT) AS max_err, "
    "rnk AS rank FROM r WHERE rnk <= 10",
)
def q89_heavy_hitters(spark, sf):
    """Mergeable frequent-terms (heavy-hitters) store — the fourth
    member of the incremental-stats quartet (operators/maintenance.py::
    term_sketches / merge_term_sketches / frequent_term_estimates,
    SURVEY §2.3 row 6's incremental face, next to q85's HLL distinct,
    q87's moments and q88's histogram quantiles): the corpus is split
    into three 'daily runs' (doc_id mod 3), each reduced per language
    to its top-64 unigram counts, the runs merged by the Misra-Gries
    rule and the top-10 per language read out. Because max_terms=64
    exceeds every language's distinct-unigram count, nothing is ever
    pruned, every SpaceSaving bound is 0 and the merged ranking is
    provably EXACT (the n_probe=n_lists trick) — so the oracle's
    from-scratch one-pass count over the full corpus hash-matches,
    max_err column included. The pruned/bounded regime is covered by
    the prune-bound unit tests (tests/test_maintenance.py). Scale
    shape: shuffles carry only the (lang, term) vocabulary relation,
    never corpus rows."""
    from .operators.maintenance import (
        frequent_term_estimates,
        merge_term_sketches,
        term_sketches,
    )
    from .operators.text import tokens

    d = load_table(spark, sf, "documents")
    toks = d.to_spark().select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("term")
    )
    parts = [
        term_sketches(
            toks.filter(F.col("doc_id") % 3 == i),
            "term",
            group_by=["lang"],
            max_terms=64,
        )
        for i in range(3)
    ]
    merged = merge_term_sketches(*parts, group_by=["lang"])
    return frequent_term_estimates(merged, 10, group_by=["lang"])


@query(
    "q91_heavy_hitters_pruned",
    "WITH t AS (SELECT doc_id, lang, "
    f"  list_filter(string_split({_NORM_SQL}, ' '), t -> t <> '') AS toks "
    "  FROM documents), "
    "g AS (SELECT doc_id, lang, unnest(toks) AS term FROM t), "
    "runs AS (SELECT doc_id % 2 AS run, lang, term, count(*) AS cnt "
    "  FROM g GROUP BY 1, 2, 3), "
    "ranked AS (SELECT *, row_number() OVER (PARTITION BY run, lang "
    "  ORDER BY cnt DESC, term) AS rn FROM runs), "
    "bounds AS (SELECT run, lang, "
    "  coalesce(max(CASE WHEN rn > 5 THEN cnt END), 0) AS pb "
    "  FROM ranked GROUP BY 1, 2), "
    "kept AS (SELECT run, lang, term, cnt FROM ranked WHERE rn <= 5), "
    "total AS (SELECT lang, sum(pb) AS total_pb FROM bounds GROUP BY 1), "
    "merged AS (SELECT k.lang, k.term, SUM(k.cnt) AS cnt, "
    "  SUM(b.pb) AS present_pb FROM kept k "
    "  JOIN bounds b ON k.run = b.run AND k.lang = b.lang GROUP BY 1, 2), "
    "truth AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS true_count "
    "  FROM g GROUP BY 1, 2) "
    "SELECT m.lang, m.term, CAST(m.cnt AS BIGINT) AS count, "
    "CAST(t.total_pb - m.present_pb AS BIGINT) AS max_err, "
    "CAST(t.total_pb AS BIGINT) AS prune_bound, tr.true_count, "
    "(m.cnt <= tr.true_count AND "
    " tr.true_count <= m.cnt + t.total_pb - m.present_pb) AS bracket_ok "
    "FROM merged m JOIN total t ON m.lang = t.lang "
    "JOIN truth tr ON m.lang = tr.lang AND m.term = tr.term",
)
def q91_heavy_hitters_pruned(spark, sf):
    """The PRUNED heavy-hitters regime, hash-pinned (q89 proves the
    exact/unpruned path; this entry pins the Misra-Gries bound
    machinery itself): two runs each keep only their top-5 terms per
    language (the 31-term vocabulary makes the prune real), the merge
    composes counts and bounds, and the oracle REPLAYS the identical
    deterministic algorithm in SQL — per-run exact counts, top-5 by
    (count DESC, term), per-run bound = max pruned count, merged
    max_err = Σ absent runs' bounds — so every stored count, error
    bound and group bound hash-matches. ``bracket_ok`` additionally
    joins the full-corpus TRUE counts and asserts
    count ≤ true ≤ count + max_err row by row in BOTH engines —
    deterministically TRUE by the SpaceSaving guarantee, and a hash
    mismatch would mean the bound stopped being a bound."""
    from .operators.maintenance import merge_term_sketches, term_sketches
    from .operators.text import tokens

    d = load_table(spark, sf, "documents")
    toks = d.to_spark().select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("term")
    )
    parts = [
        term_sketches(
            toks.filter(F.col("doc_id") % 2 == i),
            "term",
            group_by=["lang"],
            max_terms=5,
        )
        for i in range(2)
    ]
    merged = merge_term_sketches(*parts, group_by=["lang"])
    truth = toks.groupBy("lang", "term").agg(
        F.count(F.lit(1)).cast("long").alias("true_count")
    )
    return merged.join(truth, ["lang", "term"]).select(
        "lang",
        "term",
        "count",
        "max_err",
        "prune_bound",
        "true_count",
        (
            (F.col("count") <= F.col("true_count"))
            & (F.col("true_count") <= F.col("count") + F.col("max_err"))
        ).alias("bracket_ok"),
    )


@query("llm_ivf_store", _IVF_EXACT_ORACLE)
def llm_ivf_store(spark, sf):
    """Persistable IVF centroid index (operators/similarity.py::
    write_ivf_index / read_ivf_index + ivf_topk(centroids=...)): the
    k-means index is FIT ONCE, written to parquet as the tiny (cell,
    centroid) relation, reloaded, and the query batch probes the
    RELOADED index — the per-call corpus count + fit that llm_ivf_topk
    pays is paid exactly once and
    amortized over every later batch, the same persistable-state
    pattern as the MinHash signature store. With n_probe = n_lists
    every cell is probed, so the result is pair-for-pair the exact
    brute-force top-k REGARDLESS of where the persisted centroids
    landed — the same oracle as llm_ivf_topk hash-matches, proving the
    store round-trip is lossless."""
    import tempfile

    from .operators import unit_normalize
    from .operators.similarity import (
        fit_sampled_centroids,
        ivf_topk,
        read_ivf_index,
        write_ivf_index,
    )

    e = unit_normalize(load_table(spark, sf, "embeddings").to_spark())
    q = e.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 16)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    cent = fit_sampled_centroids(
        e.select("vec_id", "embedding"), 8, seed=42, max_iter=5,
        init="random", order_col="vec_id",
    )
    path = tempfile.mkdtemp(prefix="mf_ivf_store_") + "/index"
    write_ivf_index(spark, cent, path)
    return ivf_topk(
        e, q, k=5, n_probe=8, centroids=read_ivf_index(spark, path)
    )


@query("llm_ivf_corpus", _IVF_EXACT_ORACLE)
def llm_ivf_corpus(spark, sf):
    """Cell-partitioned IVF serving layout (operators/similarity.py::
    write_ivf_corpus + ivf_topk_stored): the corpus is materialized
    once, partitioned by its assigned cell, and the query batch's probe
    becomes a STATIC PARTITION FILTER on the corpus scan — only the
    probed cells' files are read (~n_probe/n_lists of the bytes; pinned
    by the PartitionFilters assertion in tests/test_llm_ops.py) instead
    of re-assigning every vector per batch as llm_ivf_topk must. Here
    n_probe = n_lists so every partition is probed and the result is
    pair-for-pair the exact brute-force top-k — the shared oracle
    hash-matches, proving the partitioned layout loses nothing. The
    partial-probe regime (the production setting, where pruning
    actually skips files) is covered by the unit tests."""
    import tempfile

    from .operators import unit_normalize
    from .operators.similarity import (
        fit_sampled_centroids,
        ivf_topk_stored,
        write_ivf_corpus,
    )

    e = unit_normalize(load_table(spark, sf, "embeddings").to_spark())
    q = e.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 16)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    cent = fit_sampled_centroids(
        e.select("vec_id", "embedding"), 8, seed=42, max_iter=5,
        init="random", order_col="vec_id",
    )
    path = tempfile.mkdtemp(prefix="mf_ivf_corpus_") + "/corpus"
    write_ivf_corpus(e.select("vec_id", "embedding"), cent, path)
    # centroids auto-load from the co-persisted {path}/_ivf_index — the
    # probe provably uses the matrix that defined the cell layout
    return ivf_topk_stored(spark, path, q, k=5, n_probe=8)


@query("llm_ivf_append", _IVF_EXACT_ORACLE)
def llm_ivf_append(spark, sf):
    """Appendable IVF serving corpus (operators/similarity.py::
    append_ivf_corpus — the FAISS add() analogue):
    the layout is built from a BASE split (vec_id % 4 != 0) only, then
    the remaining quarter of the corpus is appended — assigned with the
    co-persisted STORED centroids (no foreign matrix can enter) and
    written as per-cell appends, one Arrow GEMM pass over just the
    delta instead of the full rewrite the write-once layout required.
    The probe then runs over the union with n_probe = n_lists, so the
    result must be pair-for-pair the exact brute-force top-k over the
    ENTIRE corpus — the shared oracle hash-matches even though the
    centroids never saw the appended quarter, proving appended vectors
    are first-class residents of the cell space (probe-after-append ≡
    from-scratch rewrite of the unioned corpus). Quantized append
    (stored-bounds encode, never refit) and partial-probe parity are
    pinned in tests/test_llm_ops.py::TestAppendIvfCorpus."""
    import tempfile

    from .operators import unit_normalize
    from .operators.similarity import (
        append_ivf_corpus,
        fit_sampled_centroids,
        ivf_topk_stored,
        write_ivf_corpus,
    )

    e = unit_normalize(load_table(spark, sf, "embeddings").to_spark()).select(
        "vec_id", "embedding"
    )
    base = e.filter(F.col("vec_id") % 4 != 0)
    cent = fit_sampled_centroids(
        base, 8, seed=42, max_iter=5, init="random", order_col="vec_id"
    )
    path = tempfile.mkdtemp(prefix="mf_ivf_append_") + "/corpus"
    write_ivf_corpus(base, cent, path)
    append_ivf_corpus(spark, path, e.filter(F.col("vec_id") % 4 == 0))
    q = e.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 16)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return ivf_topk_stored(spark, path, q, k=5, n_probe=8)


@query(
    "llm_ivf_sq",
    f"WITH n AS (SELECT vec_id, {_NORM_EMB_SQL} AS emb FROM embeddings), "
    "stats AS (SELECT i, min(emb[i]) AS mn, max(emb[i]) AS mx "
    "  FROM n CROSS JOIN range(1, 65) r(i) GROUP BY i), "
    "s AS (SELECT list(mn ORDER BY i) AS mins, "
    "  list(CASE WHEN mx > mn THEN mx - mn ELSE 1.0 END ORDER BY i) AS spans "
    "  FROM stats), "
    "rc AS (SELECT vec_id, list_transform(range(1, 65), i -> "
    "  mins[i] + (CAST(least(floor((emb[i] - mins[i]) / spans[i] * 256), "
    "  255) AS DOUBLE) + 0.5) * spans[i] / 256) AS remb FROM n, s), "
    "q AS (SELECT vec_id AS q_id, emb FROM n WHERE vec_id >= 8 AND vec_id < 16) "
    "SELECT q_id, vec_id, cosine, rk AS r FROM ("
    "  SELECT q.q_id, c.vec_id, "
    "  round(list_inner_product(q.emb::DOUBLE[], c.remb::DOUBLE[]), 6) AS cosine, "
    "  CAST(row_number() OVER (PARTITION BY q.q_id ORDER BY "
    "    round(list_inner_product(q.emb::DOUBLE[], c.remb::DOUBLE[]), 6) DESC, "
    "    c.vec_id) AS BIGINT) AS rk "
    "  FROM rc c, q) WHERE rk <= 5",
)
def llm_ivf_sq(spark, sf):
    """SQ8-quantized IVF serving layout (operators/similarity.py::
    write_ivf_corpus(quantize_bits=8) + ivf_topk_stored auto-decode):
    the cell-partitioned corpus stores array<int> codes — 8× smaller
    than float64, the FAISS IVF-SQ memory lever — with the
    per-dimension bounds co-persisted under {path}/_sq_bounds; the
    probe decodes midpoint reconstructions (min + (code+0.5)·span/256,
    one codegen transform, bounds inlined as literals) and ranks by
    the ASYMMETRIC float-query × reconstructed-corpus product. Every
    step — bounds, encode, decode, dot, 6-decimal round — is plain
    IEEE arithmetic, so the oracle replays the identical chain and
    hash-matches. n_probe = n_lists probes every cell, making the
    result exact WITH RESPECT TO the reconstructed space regardless of
    where the centroids landed (recall vs the float space is the
    quantization trade, measured ~0.98 @ k=5 in the unit tests)."""
    import tempfile

    from .operators import unit_normalize
    from .operators.similarity import (
        fit_sampled_centroids,
        ivf_topk_stored,
        write_ivf_corpus,
    )

    e = unit_normalize(load_table(spark, sf, "embeddings").to_spark())
    q = e.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 16)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    cent = fit_sampled_centroids(
        e.select("vec_id", "embedding"), 8, seed=42, max_iter=5,
        init="random", order_col="vec_id",
    )
    path = tempfile.mkdtemp(prefix="mf_ivf_sq_") + "/corpus"
    write_ivf_corpus(
        e.select("vec_id", "embedding"), cent, path, quantize_bits=8
    )
    return ivf_topk_stored(spark, path, q, k=5, n_probe=8)


#: shared CTE chain for the PQ family oracles: normalize, build the
#: exemplar codebooks (the vec_id < 16 subvector slices), encode every
#: vector (rounded squared-L2, first-min tie-break), reconstruct from the
#: codebooks, and select the query batch. llm_pq_topk / llm_ivf_pq rank
#: the reconstructions directly; llm_pq_refine ranks a WIDER shortlist
#: then re-ranks it by exact cosine; llm_ann_recall intersects the ADC
#: top-k with the exact top-k.
_PQ_ADC_CHAIN = (
    f"WITH n AS (SELECT vec_id, {_NORM_EMB_SQL} AS emb FROM embeddings), "
    "cb AS (SELECT j, vec_id AS code, list_slice(emb, (j-1)*16+1, j*16) AS cent "
    "  FROM n, range(1, 5) r(j) WHERE vec_id < 16), "
    "dist AS (SELECT v.vec_id, c.j, c.code, "
    "  round(list_reduce(list_transform(range(1, 17), "
    "    i -> (v.emb[(c.j-1)*16 + i] - c.cent[i]) * "
    "         (v.emb[(c.j-1)*16 + i] - c.cent[i])), "
    "    (a, b) -> a + b), 6) AS d2 "
    "  FROM n v, cb c), "
    "enc AS (SELECT vec_id, j, code FROM ("
    "  SELECT vec_id, j, code, "
    "  row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, code) AS rn "
    "  FROM dist) WHERE rn = 1), "
    "rec AS (SELECT e.vec_id, flatten(list(c.cent ORDER BY e.j)) AS remb "
    "  FROM enc e JOIN cb c ON c.j = e.j AND c.code = e.code "
    "  GROUP BY e.vec_id), "
    "q AS (SELECT vec_id AS q_id, emb FROM n WHERE vec_id >= 8 AND vec_id < 16)"
)

#: the ADC ranking over the reconstructed corpus as a parenthesizable
#: relation — (q_id, vec_id, cosine, rk); callers filter rk.
_PQ_ADC_RANKED = (
    "SELECT q.q_id, rc.vec_id, "
    "round(list_inner_product(q.emb::DOUBLE[], rc.remb::DOUBLE[]), 6) AS cosine, "
    "CAST(row_number() OVER (PARTITION BY q.q_id ORDER BY "
    "  round(list_inner_product(q.emb::DOUBLE[], rc.remb::DOUBLE[]), 6) DESC, "
    "  rc.vec_id) AS BIGINT) AS rk "
    "FROM rec rc, q"
)

#: shared by llm_pq_topk (direct ADC scan) and llm_ivf_pq (cell-partitioned
#: PQ layout probed at n_probe = n_lists): probing every cell makes the
#: stored result exact WITH RESPECT TO the reconstructed space regardless
#: of where the IVF centroids landed, so both must be pair-for-pair
#: identical to this full encode + reconstruct + ADC ranking over the
#: exemplar codebooks.
_PQ_ADC_ORACLE = (
    _PQ_ADC_CHAIN
    + " SELECT q_id, vec_id, cosine, rk AS r FROM ("
    + _PQ_ADC_RANKED
    + ") WHERE rk <= 5"
)


def _exemplar_pq_codebooks(e):
    """The llm_pq_topk / llm_ivf_pq exemplar codebooks: the 4 subvector
    slices of the normalized vec_id < 16 embeddings — a pure function of
    the data (the BPE literal-merges move), so the DuckDB oracle rebuilds
    the identical quantizer. Bounded collect: 16 rows."""
    import numpy as np

    ex = (
        e.filter(F.col("vec_id") < 16)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    if not ex:
        raise ValueError(
            "empty corpus (no exemplar vectors for codebooks)"
        )
    X = np.array([r.embedding for r in ex], dtype=float)
    return np.stack([X[:, j * 16 : (j + 1) * 16] for j in range(4)])


@query("llm_pq_topk", _PQ_ADC_ORACLE)
def llm_pq_topk(spark, sf):
    """Product-quantization ADC top-k (operators/similarity.py::
    fit_pq_codebooks / pq_encode / pq_topk — Jégou et al. 2011, the
    FAISS PQ family completing the quantized-serving triad: Flat,
    SQ8, PQ): the 64-dim corpus compresses to 4 subvector codes
    (128× smaller than float64) and float queries rank against
    centroid reconstructions. Learned codebooks are pytest-verified
    (seeded per-slice Lloyd's ≡ python ground truth, self-recall@1 =
    1.0, recall monotone in code budget); the catalog entry hands in
    EXEMPLAR codebooks — the 16 subvector slices of vec_id < 16, a
    pure function of the data, the same literal-relation move as the
    BPE merges table — so the oracle replays the FULL chain: per-slice
    squared-L2 rounded to 6, first-min argmin encode, codebook-lookup
    reconstruction, asymmetric dot, top-5 rank. Hash match pins encode
    + decode + ADC cross-engine. Scale: encode/reconstruct are
    single-scan codegen off the inlined codebook literal; the probe is
    the documented bounded-query-broadcast BNLJ contract."""
    from .operators import unit_normalize
    from .operators.similarity import pq_encode, pq_topk

    e = unit_normalize(load_table(spark, sf, "embeddings").to_spark())
    cb = _exemplar_pq_codebooks(e)
    codes = pq_encode(e.select("vec_id", "embedding"), cb)
    q = e.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 16)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return pq_topk(codes, cb, q, k=5)


@query("llm_ivf_pq", _PQ_ADC_ORACLE)
def llm_ivf_pq(spark, sf):
    """IVFPQ serving layout (operators/similarity.py::
    write_ivf_corpus(pq_codebooks=...) + ivf_topk_stored auto-decode —
    the FAISS billion-scale standard): the corpus is cell-partitioned
    on the original floats, stored as 4 PQ codes per vector (128×
    smaller than float64×64) with the codebooks co-persisted under
    {path}/_pq_codebooks, and the probe reconstructs inside the probed
    cells for the asymmetric ADC ranking. n_probe = n_lists probes
    every cell, so the result is exact WITH RESPECT TO the
    reconstructed space regardless of where the sampled IVF centroids
    landed — the llm_ivf_sq argument — and the shared _PQ_ADC_ORACLE
    hash-matches it against the full-scan ADC replay over the same
    exemplar codebooks. Partial probing and the stored-codebook append
    rule are pytest-pinned."""
    import tempfile

    from .operators import unit_normalize
    from .operators.similarity import (
        fit_sampled_centroids,
        ivf_topk_stored,
        write_ivf_corpus,
    )

    e = unit_normalize(load_table(spark, sf, "embeddings").to_spark())
    cb = _exemplar_pq_codebooks(e)
    q = e.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 16)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    cent = fit_sampled_centroids(
        e.select("vec_id", "embedding"), 8, seed=42, max_iter=5,
        init="random", order_col="vec_id",
    )
    path = tempfile.mkdtemp(prefix="mf_ivf_pq_") + "/corpus"
    write_ivf_corpus(
        e.select("vec_id", "embedding"), cent, path, pq_codebooks=cb
    )
    return ivf_topk_stored(spark, path, q, k=5, n_probe=8)


@query(
    "llm_pq_refine",
    _PQ_ADC_CHAIN
    + ", adc AS (SELECT q_id, vec_id FROM ("
    + _PQ_ADC_RANKED
    + ") WHERE rk <= 20) "
    "SELECT q_id, vec_id, cosine, r FROM ("
    "  SELECT a.q_id, a.vec_id, "
    "  round(list_inner_product(q.emb::DOUBLE[], v.emb::DOUBLE[]), 6) AS cosine, "
    "  CAST(row_number() OVER (PARTITION BY a.q_id ORDER BY "
    "    round(list_inner_product(q.emb::DOUBLE[], v.emb::DOUBLE[]), 6) DESC, "
    "    a.vec_id) AS BIGINT) AS r "
    "  FROM adc a JOIN n v ON v.vec_id = a.vec_id "
    "  JOIN q ON q.q_id = a.q_id) WHERE r <= 5",
)
def llm_pq_refine(spark, sf):
    """Two-stage exact-refined PQ serving (operators/similarity.py::
    pq_refine — the FAISS IndexRefineFlat pattern):
    the compressed-domain ADC probe (pq_topk over the exemplar
    codebooks) nominates a 4k shortlist (k'=20), then the FULL-PRECISION
    float vectors re-rank exactly those ids and the top 5 per query win
    by exact cosine. The oracle replays the whole chain — encode,
    reconstruct, ADC rank to 20, exact-cosine re-rank to 5 — so the
    hash match pins both stages cross-engine. Scale: the shortlist is
    bounded (|queries|×20 bare ids) and broadcasts into a hash join
    that prunes the float-vector scan to shortlist members; the corpus
    never shuffles, full floats are touched for 160 rows no matter the
    corpus size — the piece that turns the m-int PQ scan into an
    exact-answer pipeline. recall@k ≥ plain-PQ recall is pytest-pinned
    (TestPqRefine)."""
    from .operators import unit_normalize
    from .operators.similarity import pq_encode, pq_refine, pq_topk

    e = unit_normalize(load_table(spark, sf, "embeddings").to_spark())
    cb = _exemplar_pq_codebooks(e)
    codes = pq_encode(e.select("vec_id", "embedding"), cb)
    q = e.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 16)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    shortlist = pq_topk(codes, cb, q, k=20)
    return pq_refine(shortlist, e.select("vec_id", "embedding"), q, k=5)


@query(
    "llm_ann_recall",
    _PQ_ADC_CHAIN
    + ", adc AS (SELECT q_id, vec_id FROM ("
    + _PQ_ADC_RANKED
    + ") WHERE rk <= 5), "
    "ex AS (SELECT q_id, vec_id FROM ("
    "  SELECT q.q_id, v.vec_id, "
    "  CAST(row_number() OVER (PARTITION BY q.q_id ORDER BY "
    "    round(list_inner_product(q.emb::DOUBLE[], v.emb::DOUBLE[]), 6) DESC, "
    "    v.vec_id) AS BIGINT) AS rk "
    "  FROM n v, q) WHERE rk <= 5) "
    "SELECT ex.q_id, "
    "CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) "
    "  AS n_hits, "
    "round(CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) "
    "  AS DOUBLE) / count(*), 6) AS recall "
    "FROM ex LEFT JOIN adc a ON a.q_id = ex.q_id AND a.vec_id = ex.vec_id "
    "GROUP BY ex.q_id",
)
def llm_ann_recall(spark, sf):
    """ANN recall@k data card (operators/similarity.py::recall_at_k):
    per query, how many of the exact brute-force top-5 ids the
    compressed-domain PQ ADC probe returned, and the fraction — the
    number a serving team reads to size the quantization / n_probe /
    shortlist trade instead of a belief. The oracle replays BOTH sides
    (the full ADC chain over the exemplar codebooks AND the exact
    float top-5) and the same left-join intersection, so the hash match
    pins the measurement itself cross-engine. Scale: both probe outputs
    are bounded (|queries|×k), the approximate side broadcasts, one
    partial-aggregated groupBy emits the report."""
    from .operators import unit_normalize
    from .operators.similarity import (
        brute_force_topk,
        pq_encode,
        pq_topk,
        recall_at_k,
    )

    e = unit_normalize(load_table(spark, sf, "embeddings").to_spark())
    cb = _exemplar_pq_codebooks(e)
    codes = pq_encode(e.select("vec_id", "embedding"), cb)
    q = e.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 16)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    approx = pq_topk(codes, cb, q, k=5)
    exact = brute_force_topk(e.select("vec_id", "embedding"), q, k=5)
    return recall_at_k(approx, exact, 5)


@query(
    "llm_refine_sweep",
    _PQ_ADC_CHAIN
    + ", adc AS (SELECT q_id, vec_id, rk FROM ("
    + _PQ_ADC_RANKED
    + ") WHERE rk <= 40), "
    "sc AS (SELECT a.q_id, a.vec_id, a.rk, "
    "  round(list_inner_product(q.emb::DOUBLE[], v.emb::DOUBLE[]), 6) AS cos "
    "  FROM adc a JOIN n v ON v.vec_id = a.vec_id "
    "  JOIN q ON q.q_id = a.q_id), "
    "b AS (SELECT unnest([5, 10, 20, 40]) AS kprime), "
    "ref AS (SELECT kprime, q_id, vec_id FROM ("
    "  SELECT b.kprime, sc.q_id, sc.vec_id, "
    "  row_number() OVER (PARTITION BY b.kprime, sc.q_id "
    "    ORDER BY sc.cos DESC, sc.vec_id) AS rr "
    "  FROM sc JOIN b ON sc.rk <= b.kprime) WHERE rr <= 5), "
    "ex AS (SELECT q_id, vec_id FROM ("
    "  SELECT q.q_id, v.vec_id, "
    "  row_number() OVER (PARTITION BY q.q_id ORDER BY "
    "    round(list_inner_product(q.emb::DOUBLE[], v.emb::DOUBLE[]), 6) DESC, "
    "    v.vec_id) AS rk "
    "  FROM n v, q) WHERE rk <= 5) "
    "SELECT CAST(b.kprime AS BIGINT) AS kprime, ex.q_id, "
    "CAST(sum(CASE WHEN ref.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) "
    "  AS n_hits, "
    "round(CAST(sum(CASE WHEN ref.vec_id IS NOT NULL THEN 1 ELSE 0 END) "
    "  AS DOUBLE) / count(*), 6) AS recall "
    "FROM ex CROSS JOIN b "
    "LEFT JOIN ref ON ref.kprime = b.kprime AND ref.q_id = ex.q_id "
    "  AND ref.vec_id = ex.vec_id "
    "GROUP BY b.kprime, ex.q_id",
)
def llm_refine_sweep(spark, sf):
    """Shortlist-budget tuning card for two-stage PQ serving
    (operators/similarity.py::refine_recall_sweep): the ADC probe runs
    ONCE at k'=40 over the exemplar codebooks, each shortlist member's
    exact cosine is computed once through the pq_refine broadcast-pruned
    join, and the sweep re-ranks the top-k' prefix per budget
    {5,10,20,40} against the exact top-5 — per (budget, query) recall,
    the curve a serving team reads to size the smallest shortlist that
    hits its recall target. The oracle replays the ENTIRE chain (encode,
    reconstruct, ADC rank, exact re-rank per budget, exact top-5,
    intersection), so the tuning curve itself is hash-pinned
    cross-engine. Recall monotone in budget is pytest-pinned."""
    from .operators import unit_normalize
    from .operators.similarity import (
        brute_force_topk,
        pq_encode,
        pq_topk,
        refine_recall_sweep,
    )

    e = unit_normalize(load_table(spark, sf, "embeddings").to_spark())
    cb = _exemplar_pq_codebooks(e)
    codes = pq_encode(e.select("vec_id", "embedding"), cb)
    q = e.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 16)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    shortlist = pq_topk(codes, cb, q, k=40)
    exact = brute_force_topk(e.select("vec_id", "embedding"), q, k=5)
    return refine_recall_sweep(
        shortlist, e.select("vec_id", "embedding"), q, exact,
        [5, 10, 20, 40], k=5,
    )


@query(
    "llm_rp_project",
    f"WITH n AS (SELECT vec_id, {_NORM_EMB_SQL} AS emb FROM embeddings) "
    "SELECT vec_id, CAST(k AS BIGINT) AS k, "
    "round(list_reduce(list_transform(range(1, 65), i -> emb[i] * ("
    "  CASE CAST(('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || "
    "    CAST(k AS VARCHAR) || ':0'), 1, 8)) AS BIGINT) % 6 "
    "  WHEN 0 THEN 1.0 WHEN 1 THEN -1.0 ELSE 0.0 END)), "
    "(a, b) -> a + b) * 0.4330127018922193, 6) AS proj "
    "FROM n, range(1, 17) r(k)",
)
def llm_rp_project(spark, sf):
    """Johnson-Lindenstrauss random projection (operators/similarity.py::
    random_projection — Achlioptas 2003 sparse {+1,0,-1} matrix, the
    standard pre-ANN byte reducer): the 64-dim embeddings project to 16
    dims with matrix entries derived from md5(i:k:seed) — a pure
    function of position and seed, so the SQL oracle rebuilds the
    IDENTICAL matrix from the same md5 and replays every output value
    (sequential per-dimension fold, ×sqrt(3/16) = 0.4330127018922193,
    rounded to 6). One codegen transform per row off the inlined
    matrix literal — single scan, no join, no shuffle, no Python; the
    entry posexplodes to (vec_id, k, proj) long format for the
    hash compare. Shortlist-rescore recall is pytest-measured."""
    from .operators import unit_normalize
    from .operators.similarity import random_projection

    e = unit_normalize(load_table(spark, sf, "embeddings").to_spark())
    p = random_projection(e.select("vec_id", "embedding"), 16, seed=0)
    return p.select(
        "vec_id", F.posexplode("embedding").alias("_k0", "proj")
    ).select(
        "vec_id", (F.col("_k0") + 1).cast("long").alias("k"), "proj"
    )


@query(
    "q90_sketch_compact",
    "WITH v AS (SELECT event_type, CAST(ts AS DATE) AS run_day, "
    "  CAST(floor(value * 100) AS DOUBLE) AS cents FROM events), "
    "s AS (SELECT event_type, count(cents) AS n, "
    "  CAST(SUM(CAST(cents AS DECIMAL(28,6))) AS DOUBLE) AS sm, "
    "  CAST(SUM(CAST(cents AS DECIMAL(19,6)) * "
    "           CAST(cents AS DECIMAL(19,6))) AS DOUBLE) AS s2, "
    "  MIN(cents) AS mn, MAX(cents) AS mx FROM v GROUP BY 1), "
    "g AS (SELECT event_type, CAST(count(DISTINCT "
    "  CASE WHEN run_day < DATE '2024-01-21' "
    "       THEN CAST(date_trunc('week', run_day) AS DATE) "
    "       ELSE run_day END) AS BIGINT) AS n_grains FROM v GROUP BY 1) "
    "SELECT s.event_type, CAST(n AS BIGINT) AS cents_count, "
    "ROUND(sm / n, 6) AS cents_mean, "
    "ROUND(SQRT(GREATEST((s2 - sm * sm / n) / (n - 1), 0)), 6) AS cents_std, "
    "mn AS cents_min, mx AS cents_max, n_grains "
    "FROM s JOIN g ON s.event_type = g.event_type",
)
def q90_sketch_compact(spark, sf):
    """Sketch-store retention (operators/maintenance.py::
    compact_sketch_store): a per-day moments store over events (one row
    per (day, event_type), written to parquet partitioned by day — the
    one-partition-per-run-forever growth mode) is COMPACTED day→week
    for runs older than 2024-01-21 while recent days pass through
    untouched, then the compacted store alone is merged and read out.
    Because the moment merge is decimal-exact and associative, the
    compacted store's statistics are hash-IDENTICAL to the oracle's
    one-pass computation over the raw events — aging a store to
    coarser grains loses nothing, not even float determinism.
    ``n_grains`` counts the surviving run partitions per type (weeks
    for the aged range + days for the recent one), pinning that
    compaction actually coarsened the layout and kept the recent days
    fine-grained. The metric is floor(value·100) ('cents') so the
    decimal quantization is the identical IEEE op on both engines.
    HLL/histogram/term-store compaction is covered by the bit-equality
    unit tests (tests/test_maintenance.py)."""
    import datetime
    import tempfile

    from .operators.maintenance import (
        compact_sketch_store,
        merge_moment_sketches,
        moment_estimates,
        moment_sketches,
    )

    ev = load_table(spark, sf, "events").to_spark().select(
        "event_type",
        F.to_date("ts").alias("run_day"),
        (F.floor(F.col("value") * 100)).cast("double").alias("cents"),
    )
    daily = moment_sketches(ev, ["cents"], group_by=["run_day", "event_type"])
    root = tempfile.mkdtemp(prefix="mf_sketch_store_")
    daily.write.mode("overwrite").partitionBy("run_day").parquet(
        root + "/daily"
    )
    compacted = compact_sketch_store(
        spark,
        root + "/daily",
        root + "/compacted",
        run_col="run_day",
        coarsen=F.date_trunc("week", F.col("run_day")).cast("date"),
        keep_since=datetime.date(2024, 1, 21),
    )
    est = moment_estimates(
        merge_moment_sketches(
            compacted.select("event_type", "cents_moments"),
            group_by=["event_type"],
        ),
        group_by=["event_type"],
    )
    grains = compacted.groupBy("event_type").agg(
        F.countDistinct("run_day").alias("n_grains")
    )
    return est.join(grains, "event_type").select(
        "event_type",
        "cents_count",
        "cents_mean",
        "cents_std",
        "cents_min",
        "cents_max",
        "n_grains",
    )


@query(
    "q92_drift_psi",
    "WITH b AS (SELECT l_returnflag AS g, l_orderkey % 2 AS side, "
    "  LEAST(CAST(FLOOR(l_extendedprice / 2000.0) AS INT), 59) AS bin "
    "  FROM lineitem WHERE l_extendedprice IS NOT NULL "
    "  AND l_extendedprice >= 0 AND l_extendedprice <= 120000), "
    "spine AS (SELECT DISTINCT g FROM b), "
    "bins AS (SELECT g, side, CAST(i AS INT) AS bin FROM spine "
    "  CROSS JOIN range(2) s(side) CROSS JOIN range(60) r(i)), "
    "cnt AS (SELECT g, side, bin, count(*) AS c FROM b GROUP BY 1, 2, 3), "
    "arr AS (SELECT bins.g, bins.side, "
    "  list(coalesce(cnt.c, 0) ORDER BY bins.bin) AS counts "
    "  FROM bins LEFT JOIN cnt ON bins.g = cnt.g AND bins.side = cnt.side "
    "  AND bins.bin = cnt.bin GROUP BY bins.g, bins.side), "
    "w AS (SELECT a.g, a.counts AS ca, b2.counts AS cb FROM arr a "
    "  JOIN arr b2 ON a.g = b2.g WHERE a.side = 0 AND b2.side = 1), "
    "t AS (SELECT g, ca, cb, list_sum(ca) AS na, list_sum(cb) AS nb FROM w) "
    "SELECT g AS l_returnflag, "
    "round(list_sum(list_transform(range(1, 61), i -> "
    "  (GREATEST(ca[i] / CAST(na AS DOUBLE), 1e-6) "
    "   - GREATEST(cb[i] / CAST(nb AS DOUBLE), 1e-6)) "
    "  * ln(GREATEST(ca[i] / CAST(na AS DOUBLE), 1e-6) "
    "       / GREATEST(cb[i] / CAST(nb AS DOUBLE), 1e-6)))), 6) AS psi, "
    "round(list_aggregate(list_transform(range(1, 61), i -> "
    "  abs(list_sum(ca[1:i]) / CAST(na AS DOUBLE) "
    "      - list_sum(cb[1:i]) / CAST(nb AS DOUBLE))), 'max'), 6) AS ks, "
    "CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b "
    "FROM t",
)
def q92_drift_psi(spark, sf):
    """Distribution-drift monitor over the histogram stores
    (operators/maintenance.py::histogram_drift): lineitem split into
    two 'runs' (l_orderkey parity), each reduced to a 60-bin
    l_extendedprice histogram per return flag, then PSI (smoothed at
    1e-6) and the binned KS statistic computed BETWEEN the runs from
    the sketches alone — the data-quality check a store feeds daily
    without rescanning raw data. The oracle rebuilds the identical
    dense bin arrays in DuckDB and replays the same proportion /
    ln-ratio / cumulative-walk arithmetic (ascending-bin fold order on
    both engines), so psi, ks and both counts hash-match. The parity
    split makes the halves statistically close — the PSI values being
    small-but-nonzero is exactly the no-drift baseline a monitor
    alerts against."""
    from .operators.maintenance import histogram_drift, histogram_sketch

    li = load_table(spark, sf, "lineitem").to_spark()
    gb = ["l_returnflag"]
    parts = [
        histogram_sketch(
            li.filter(F.col("l_orderkey") % 2 == i),
            "l_extendedprice",
            0.0,
            120000.0,
            60,
            group_by=gb,
        )
        for i in range(2)
    ]
    d = histogram_drift(parts[0], parts[1], group_by=gb)
    return d.select(
        "l_returnflag",
        F.col("l_extendedprice_psi").alias("psi"),
        F.col("l_extendedprice_ks").alias("ks"),
        F.col("l_extendedprice_n_a").alias("n_a"),
        F.col("l_extendedprice_n_b").alias("n_b"),
    )


@query(
    "q93_expectations",
    "WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM orders), "
    "v AS ("
    "  SELECT 'not_null(o_orderkey)' AS rule, "
    "    CAST(count(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT) AS nv "
    "  FROM orders "
    "  UNION ALL SELECT 'range(o_totalprice,0,100000)', "
    "    CAST(count(*) FILTER (WHERE o_totalprice < 0 "
    "      OR o_totalprice > 100000) AS BIGINT) FROM orders "
    "  UNION ALL SELECT 'regex(o_orderstatus,^[OFP]$)', "
    "    CAST(count(*) FILTER (WHERE o_orderstatus IS NULL "
    "      OR NOT regexp_matches(o_orderstatus, '^[OFP]$')) AS BIGINT) "
    "    FROM orders "
    "  UNION ALL SELECT 'in_set(o_orderpriority,[1-URGENT,2-HIGH,"
    "3-MEDIUM,4-NOT SPECIFIED,5-LOW])', "
    "    CAST(count(*) FILTER (WHERE o_orderpriority IS NULL OR "
    "      o_orderpriority NOT IN ('1-URGENT', '2-HIGH', '3-MEDIUM', "
    "      '4-NOT SPECIFIED', '5-LOW')) AS BIGINT) FROM orders "
    "  UNION ALL SELECT 'sql(o_orderdate >= DATE''1992-01-01'')', "
    "    CAST(count(*) FILTER (WHERE o_orderdate IS NULL "
    "      OR NOT (o_orderdate >= DATE '1992-01-01')) AS BIGINT) "
    "    FROM orders "
    "  UNION ALL SELECT 'unique(o_orderkey)', "
    "    CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT) "
    "    FROM orders "
    "  UNION ALL SELECT 'unique(o_custkey)', "
    "    CAST(count(o_custkey) - count(DISTINCT o_custkey) AS BIGINT) "
    "    FROM orders "
    "  UNION ALL SELECT 'foreign_key(o_custkey->c_custkey)', "
    "    CAST((SELECT count(*) FROM orders o WHERE o.o_custkey IS NOT NULL "
    "      AND o.o_custkey NOT IN (SELECT c_custkey FROM customer "
    "      WHERE c_custkey IS NOT NULL)) AS BIGINT)) "
    "SELECT rule, nv = 0 AS passed, nv AS n_violations, n_rows "
    "FROM v CROSS JOIN n",
)
def q93_expectations(spark, sf):
    """Deequ-style declarative data-quality gate (operators/
    expectations.py::validate_expectations): eight constraints over
    orders — not_null, range (with a deliberately-tight bound so a
    deterministic violation count proves the counting, not just the
    booleans), regex domain, in_set domain, an arbitrary row-level SQL
    invariant, candidate-key uniqueness on both the true PK and a
    non-key (again: real duplicate counts), and referential integrity
    into customer. All six row-local rules and both uniqueness checks
    fold into ONE aggregation pass over the table (50 rules would still
    scan once, partial-aggregated map-side); the foreign key is one
    anti-join against the broadcast-sized distinct reference. The
    oracle recomputes every verdict independently, so rule labels,
    pass/fail booleans AND exact violation counts hash-match."""
    from .operators.expectations import validate_expectations

    o = load_table(spark, sf, "orders").to_spark()
    c = load_table(spark, sf, "customer").to_spark()
    rules = [
        {"type": "not_null", "column": "o_orderkey"},
        {"type": "range", "column": "o_totalprice", "min": 0, "max": 100000},
        {"type": "regex", "column": "o_orderstatus", "pattern": "^[OFP]$"},
        {
            "type": "in_set",
            "column": "o_orderpriority",
            "values": [
                "1-URGENT",
                "2-HIGH",
                "3-MEDIUM",
                "4-NOT SPECIFIED",
                "5-LOW",
            ],
        },
        {"type": "sql", "predicate": "o_orderdate >= DATE'1992-01-01'"},
        {"type": "unique", "columns": ["o_orderkey"]},
        {"type": "unique", "columns": ["o_custkey"]},
        {
            "type": "foreign_key",
            "column": "o_custkey",
            "ref": c,
            "ref_column": "c_custkey",
        },
    ]
    return validate_expectations(o, rules)


@query(
    "q94_bottomk_sample",
    "WITH w AS (SELECT lang, doc_id, n_chars, "
    "  md5(CAST(doc_id AS VARCHAR) || ':42') AS draw_key "
    "  FROM documents WHERE doc_id IS NOT NULL), "
    "r AS (SELECT *, row_number() OVER (PARTITION BY lang "
    "  ORDER BY draw_key, doc_id) AS rn FROM w), "
    "s AS (SELECT lang, doc_id, n_chars, draw_key FROM r WHERE rn <= 10), "
    "e AS (SELECT lang, CAST(count(*) AS BIGINT) AS sample_size, "
    "  round(CASE WHEN count(*) < 10 THEN CAST(count(*) AS DOUBLE) "
    "    ELSE 9.0 / (CAST(('0x' || substring(max(draw_key), 1, 15)) AS BIGINT) "
    "      / 1152921504606846976.0) END, 6) AS distinct_estimate "
    "  FROM s GROUP BY 1) "
    "SELECT s.lang, s.doc_id, s.n_chars, s.draw_key, "
    "e.distinct_estimate, e.sample_size "
    "FROM s JOIN e ON s.lang = e.lang",
)
def q94_bottomk_sample(spark, sf):
    """Mergeable bottom-k (KMV) sample store — the fifth incremental
    statistic (operators/maintenance.py::bottomk_sample_sketch /
    merge_bottomk_samples / kmv_distinct_estimates): the corpus split
    into three 'daily runs' (doc_id mod 3), each reduced per language
    to the 10 rows with the smallest md5(doc_id, seed) draw keys, the
    runs merged — and because the draw key is a pure function of the
    id, the merged sample is PROVABLY identical to sampling the full
    corpus in one pass (the oracle computes exactly that directly), so
    a uniform evaluation/data-card sample accretes across runs without
    ever rescanning history. Each sample row carries the group's KMV
    distinct-count estimate ((k−1)/u at the k-th smallest normalized
    key — exact below k, ~1/√k error above), the free by-product that
    makes the store a distinct sketch too. One rank window per run +
    one per merge, all WindowGroupLimit-pruned before the shuffle."""
    from .operators.maintenance import (
        bottomk_sample_sketch,
        kmv_distinct_estimates,
        merge_bottomk_samples,
    )

    d = load_table(spark, sf, "documents").to_spark().select(
        "lang", "doc_id", "n_chars"
    )
    parts = [
        bottomk_sample_sketch(
            d.filter(F.col("doc_id") % 3 == i),
            "doc_id",
            10,
            group_by=["lang"],
            payload=["n_chars"],
        )
        for i in range(3)
    ]
    merged = merge_bottomk_samples(
        *parts, k=10, group_by=["lang"], id_col="doc_id"
    )
    est = kmv_distinct_estimates(merged, 10, group_by=["lang"])
    return merged.join(est, "lang").select(
        "lang", "doc_id", "n_chars", "draw_key",
        "distinct_estimate", "sample_size",
    )


@query(
    "llm_semantic_against",
    f"WITH n AS (SELECT vec_id, {_NORM_EMB_SQL} AS emb FROM embeddings) "
    "SELECT new_id, seen_id, cosine FROM ("
    "  SELECT a.vec_id AS new_id, b.vec_id AS seen_id, "
    "  round(list_inner_product(a.emb, b.emb), 6) AS cosine "
    "  FROM n a JOIN n b ON a.vec_id % 4 = 0 AND b.vec_id % 4 <> 0) "
    "WHERE cosine >= 0.3",
)
def llm_semantic_against(spark, sf):
    """Incremental semantic near-dup check (operators/dedup.py::
    semantic_dup_against — the embedding analogue of the MinHash
    signature store, completing the incremental-dedup trio): a new
    ingest batch (vec_id % 4 = 0) is compared against the PERSISTED
    write_ivf_corpus layout of the seen corpus without re-scanning or
    re-fitting history — the delta assigns itself with the layout's
    co-persisted centroids, the seen scan partition-prunes to the
    touched cells, per-cell cross pairs run as chunked GEMM via
    cogrouped applyInPandas, and survivors re-verify JVM-side with the
    sequential zip_with fold. Built here as a 1-list layout, so the
    within-cell semantics are provably exhaustive (every cross pair is
    compared) and the exhaustive cross-join oracle hash-matches —
    cosines bit-identical because nominate-then-verify emits the same
    fold a SQL engine computes. Multi-cell equivalence, partition
    pruning, and the quantized/foreign-layout refusals are pinned in
    tests/test_llm_ops.py::TestSemanticDupAgainst."""
    import tempfile

    from .operators import unit_normalize
    from .operators.dedup import semantic_dup_against
    from .operators.similarity import fit_sampled_centroids, write_ivf_corpus

    e = unit_normalize(load_table(spark, sf, "embeddings").to_spark()).select(
        "vec_id", "embedding"
    )
    seen = e.filter(F.col("vec_id") % 4 != 0)
    cent = fit_sampled_centroids(seen, 1, seed=42, order_col="vec_id")
    path = tempfile.mkdtemp(prefix="mf_sem_against_") + "/corpus"
    write_ivf_corpus(seen, cent, path)
    return semantic_dup_against(
        spark, path, e.filter(F.col("vec_id") % 4 == 0), min_cosine=0.3
    )


@query(
    "q97_anomaly_kmv",
    "WITH w AS (SELECT DISTINCT event_type, CAST(ts AS DATE) AS run_day, "
    "  user_id FROM events WHERE user_id IS NOT NULL), "
    "r0 AS (SELECT event_type, run_day, user_id, "
    "  md5(CAST(user_id AS VARCHAR) || ':42') AS draw_key FROM w), "
    "rk AS (SELECT *, row_number() OVER (PARTITION BY event_type, run_day "
    "  ORDER BY draw_key, user_id) AS rn FROM r0), "
    "e AS (SELECT event_type, run_day, "
    "  round(CASE WHEN count(*) < 10 THEN CAST(count(*) AS DOUBLE) "
    "    ELSE 9.0 / (CAST(('0x' || substring(max(draw_key), 1, 15)) AS BIGINT) "
    "      / 1152921504606846976.0) END, 6) AS de "
    "  FROM rk WHERE rn <= 10 GROUP BY 1, 2), "
    "rr AS (SELECT *, row_number() OVER (PARTITION BY event_type "
    "  ORDER BY run_day DESC) AS rk2 FROM e), "
    "h AS (SELECT event_type, "
    "  quantile_cont(CASE WHEN rk2 BETWEEN 2 AND 8 THEN de END, 0.5) AS med, "
    "  count(CASE WHEN rk2 BETWEEN 2 AND 8 THEN de END) AS nh FROM rr GROUP BY 1), "
    "l AS (SELECT * FROM rr WHERE rk2 = 1) "
    "SELECT l.event_type, strftime(l.run_day, '%Y-%m-%d') AS run_day, "
    "'within_history(distinct_estimate,tol=0.5,window=7,median)' AS rule, "
    "round(de, 6) AS observed, round(med, 6) AS expected, "
    "CAST(nh AS BIGINT) AS n_history, "
    "CASE WHEN nh > 0 THEN abs(round(de, 6) - round(med, 6)) "
    "  <= 0.5 * abs(round(med, 6)) END AS passed "
    "FROM l JOIN h USING (event_type)",
)
def q97_anomaly_kmv(spark, sf):
    """Anomaly rules over the KMV distinct store — the estimates-mode
    bridge (operators/expectations.py::validate_anomalies(estimates=True))
    proven end-to-end on a NON-moment sketch family: per (day,
    event_type) the bottom-k sample store's KMV distinct-user estimate
    (operators/maintenance.py::bottomk_sample_sketch →
    kmv_distinct_estimates — exact below k, (k−1)/u above, the q94
    machinery) becomes the per-run metric relation, and each type's
    latest day is judged against its trailing-7 median exactly as q95
    judges the moment store. Every step — the md5 draw, the top-k rank,
    both estimator arms, the interpolated median, rounds and the
    boolean verdict — is engine-replayable, so the oracle recomputes
    the full chain and hash-matches. The monitoring input is the SAMPLE
    STORE, not raw history: 'did today's distinct-user count move more
    than 50% off its trailing median?' costs O(runs × groups) sketch
    rows however big the event log is."""
    from .operators.expectations import validate_anomalies
    from .operators.maintenance import (
        bottomk_sample_sketch,
        kmv_distinct_estimates,
    )

    ev = (
        load_table(spark, sf, "events")
        .to_spark()
        .select("event_type", F.to_date("ts").alias("run_day"), "user_id")
        .filter(F.col("user_id").isNotNull())
        .distinct()
    )
    sk = bottomk_sample_sketch(
        ev, "user_id", 10, group_by=["run_day", "event_type"]
    )
    est = kmv_distinct_estimates(
        sk, 10, group_by=["run_day", "event_type"]
    )
    out = validate_anomalies(
        est,
        [
            {
                "type": "within_history",
                "metric": "distinct_estimate",
                "tol": 0.5,
                "window": 7,
                "stat": "median",
            }
        ],
        run_col="run_day",
        group_by=["event_type"],
        estimates=True,
    )
    return out.withColumn("run_day", F.date_format("run_day", "yyyy-MM-dd"))


@query(
    "q98_cms_counts",
    "WITH t AS (SELECT doc_id, lang, "
    f"  list_filter(string_split({_NORM_SQL}, ' '), t -> t <> '') AS toks "
    "  FROM documents WHERE doc_id % 3 = 0), "
    "g AS (SELECT lang, unnest(toks) AS term FROM t), "
    "cells AS (SELECT lang, d.i AS depth_i, "
    "  CAST(('0x' || substring(md5(term || ':' || CAST(d.i AS VARCHAR) "
    "    || ':7'), 1, 15)) AS BIGINT) % 32 AS bucket, "
    "  count(*) AS cnt "
    "  FROM g CROSS JOIN (VALUES (0), (1), (2)) d(i) GROUP BY 1, 2, 3), "
    "tot AS (SELECT lang, sum(cnt) AS n_total FROM cells "
    "  WHERE depth_i = 0 GROUP BY 1), "
    "truth AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS true_count "
    "  FROM g GROUP BY 1, 2), "
    "topq AS (SELECT lang, term, true_count FROM ("
    "  SELECT *, row_number() OVER (PARTITION BY lang "
    "    ORDER BY true_count DESC, term) AS rn FROM truth) WHERE rn <= 10), "
    "probes AS (SELECT q.lang, q.term, q.true_count, d.i AS depth_i, "
    "  CAST(('0x' || substring(md5(q.term || ':' || CAST(d.i AS VARCHAR) "
    "    || ':7'), 1, 15)) AS BIGINT) % 32 AS bucket "
    "  FROM topq q CROSS JOIN (VALUES (0), (1), (2)) d(i)), "
    "est AS (SELECT p.lang, p.term, p.true_count, "
    "  CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS estimate "
    "  FROM probes p LEFT JOIN cells c ON p.lang = c.lang "
    "  AND p.depth_i = c.depth_i AND p.bucket = c.bucket GROUP BY 1, 2, 3) "
    "SELECT e.lang, e.term, e.estimate, e.true_count, "
    "CAST(t.n_total AS BIGINT) AS n_total, "
    "(e.true_count <= e.estimate AND e.estimate <= t.n_total) AS bracket_ok "
    "FROM est e JOIN tot t ON e.lang = t.lang",
)
def q98_cms_counts(spark, sf):
    """Mergeable Count-Min frequency store — the sixth incremental
    statistic (operators/maintenance.py::cms_sketches /
    merge_cms_sketches / cms_estimates, next to q85's HLL distinct,
    q87's moments, q88's histogram quantiles, q89's Misra-Gries heavy
    hitters and q94's bottom-k sample): the corpus splits into two
    'daily runs' (doc_id mod 2), each reduced per language to a 3×32
    counter matrix over its unigrams, the runs merged cell-wise —
    counter updates commute, so the merged store is BIT-IDENTICAL to a
    one-pass sketch of the full corpus, which is exactly what the
    oracle computes (the q89 split-independence proof, transplanted) —
    and the true top-10 terms per language probed back out. Misra-Gries
    never overcounts; CMS never UNDERcounts: ``bracket_ok`` pins
    true ≤ estimate ≤ n_total row by row in BOTH engines. The md5-mod
    bucket draw is engine-replayable (the q94 hex trick), so every
    stored cell, estimate and verdict hash-matches. Unlike the exact
    term store, the footprint is groups × depth × width cells no
    matter the vocabulary — the frequency store for unbounded key
    spaces. Shuffles carry only occupied cells, never corpus rows."""
    from pyspark.sql import Window

    from .operators.maintenance import (
        cms_estimates,
        cms_sketches,
        merge_cms_sketches,
    )
    from .operators.text import tokens

    d = load_table(spark, sf, "documents")
    toks = (
        d.to_spark()
        .filter(F.col("doc_id") % 3 == 0)
        .select(
            "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("term")
        )
    )
    parts = [
        cms_sketches(
            toks.filter(F.col("doc_id") % 2 == i),
            "term",
            width=32,
            depth=3,
            group_by=["lang"],
            seed=7,
        )
        for i in range(2)
    ]
    merged = merge_cms_sketches(*parts, group_by=["lang"])
    truth = toks.groupBy("lang", "term").agg(
        F.count(F.lit(1)).cast("long").alias("true_count")
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("true_count"), F.asc("term")
    )
    topq = (
        truth.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 10)
        .drop("_rn")
    )
    est = cms_estimates(merged, topq, "term", group_by=["lang"])
    return est.join(topq, ["lang", "term"]).select(
        "lang",
        "term",
        "estimate",
        "true_count",
        "n_total",
        (
            (F.col("true_count") <= F.col("estimate"))
            & (F.col("estimate") <= F.col("n_total"))
        ).alias("bracket_ok"),
    )


@query(
    "llm_winnow",
    "WITH c AS (SELECT doc_id, text FROM documents WHERE doc_id % 23 = 0 "
    f"  UNION ALL SELECT doc_id + {_TWIN_OFFSET}, "
    f"  text || '{_TWIN_SUFFIX}' FROM documents WHERE doc_id % 23 = 0), "
    "n AS (SELECT doc_id, "
    "  lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t FROM c), "
    "f AS (SELECT doc_id, list_transform(range(1, length(t) - 6), "
    "  i -> CAST(('0x' || substring(md5(substring(t, i, 8)), 1, 15)) "
    "  AS BIGINT)) AS hs FROM n WHERE length(t) >= 8), "
    "w AS (SELECT doc_id, list_min(list_slice(hs, j, j + 3)) AS fp "
    "  FROM f, unnest(range(1, greatest(len(hs) - 3, 1) + 1)) AS u(j)), "
    "s AS (SELECT DISTINCT doc_id, fp FROM w), "
    "keep AS (SELECT fp FROM (SELECT fp, count(*) AS c FROM s GROUP BY 1) "
    "  WHERE c <= 8), "
    "ss AS (SELECT s.doc_id, s.fp FROM s JOIN keep USING (fp)) "
    "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "CAST(count(*) AS BIGINT) AS n_shared "
    "FROM ss a JOIN ss b ON a.fp = b.fp AND a.doc_id < b.doc_id "
    "GROUP BY 1, 2 HAVING count(*) >= 5",
)
def llm_winnow(spark, sf):
    """Winnowing passage-copy detection (operators/dedup.py::
    winnow_fingerprints / winnow_overlap_pairs — Schleimer et al. 2003,
    the MOSS algorithm): every 23rd document and its injected twin form
    the corpus, each document's char-8-grams hash through the md5-mod
    draw, a 4-window keeps each window's minimum (≥ one shared selected
    fingerprint for any shared substring of ≥ 11 chars — the winnowing
    guarantee), fingerprints seen in more than 8 documents drop as
    boilerplate, and pairs sharing ≥ 5 distinct survivors report with
    the shared count. This is the PASSAGE-level member of the
    fingerprinting family — a copied block inside two otherwise-
    different documents, which whole-document MinHash dilutes away.
    Every step — normalize, hash, window minimum, doc-freq cap, the
    pair count — is deterministic and engine-replayable, so the oracle
    recomputes the full chain and hash-matches. Selection is row-local
    codegen (hash array and window slices bound ONCE as lambda
    variables); only the ~2/(w+1)-dense fingerprint relation ever
    shuffles."""
    from .operators.dedup import winnow_overlap_pairs

    d = load_table(spark, sf, "documents")
    corpus = _twin_corpus(d.filter(F.col("doc_id") % 23 == 0))
    return winnow_overlap_pairs(
        corpus, k=8, window=4, min_shared=5, max_df=8
    )


@query(
    "q99_kmv_overlap",
    "WITH d AS (SELECT DISTINCT event_type, "
    "  CAST(day(CAST(ts AS DATE)) % 2 AS INT) AS side, user_id "
    "  FROM events WHERE user_id IS NOT NULL), "
    "r AS (SELECT event_type, side, user_id, "
    "  md5(CAST(user_id AS VARCHAR) || ':42') AS dk FROM d), "
    "rk AS (SELECT *, row_number() OVER (PARTITION BY event_type, side "
    "  ORDER BY dk, user_id) AS rn FROM r), "
    "sk AS (SELECT event_type, side, dk FROM rk WHERE rn <= 16), "
    "m AS (SELECT event_type, dk, bool_or(side = 0) AS in_a, "
    "  bool_or(side = 1) AS in_b FROM sk GROUP BY 1, 2), "
    "ru AS (SELECT *, row_number() OVER (PARTITION BY event_type "
    "  ORDER BY dk) AS rn FROM m), "
    "u AS (SELECT event_type, CAST(count(*) AS BIGINT) AS sample_size, "
    "  max(dk) AS kth, CAST(sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) "
    "  AS BIGINT) AS n_common FROM ru WHERE rn <= 16 GROUP BY 1), "
    "e AS (SELECT *, CASE WHEN sample_size < 16 "
    "  THEN CAST(sample_size AS DOUBLE) "
    "  ELSE 15.0 / (CAST(('0x' || substring(kth, 1, 15)) AS BIGINT) "
    "    / 1152921504606846976.0) END AS ue FROM u) "
    "SELECT event_type, round(ue, 6) AS union_estimate, "
    "round((n_common / CAST(sample_size AS DOUBLE)) * ue, 6) "
    "  AS intersect_estimate, "
    "round(n_common / CAST(sample_size AS DOUBLE), 6) AS jaccard_estimate, "
    "n_common, sample_size FROM e",
)
def q99_kmv_overlap(spark, sf):
    """Set-overlap estimates between two bottom-k stores
    (operators/maintenance.py::kmv_overlap_estimates — the set
    operation HLL cannot do): per event_type, the distinct users seen
    on EVEN days form snapshot A, odd days snapshot B, each reduced to
    its bottom-16 KMV sample, and |A ∪ B| / |A ∩ B| / Jaccard are
    estimated from the two sketches alone — 'how many of yesterday's
    users did we see today' with no rescan of either side. The classic
    Broder resemblance estimator: the union's bottom-k is computable
    from the sketches (merge exactness), membership in each side is a
    draw-key join, J ≈ n_common/n, intersection = J × union. Every
    step — md5 draws, both rank windows, the membership bools, the two
    divisions and rounds — is deterministic, so the oracle replays the
    full chain and hash-matches all five output columns. Shuffles
    touch only sketch-sized relations."""
    from .operators.maintenance import (
        bottomk_sample_sketch,
        kmv_overlap_estimates,
    )

    ev = (
        load_table(spark, sf, "events")
        .to_spark()
        .select(
            "event_type",
            (F.dayofmonth(F.to_date("ts")) % 2).cast("int").alias("side"),
            "user_id",
        )
        .filter(F.col("user_id").isNotNull())
        .distinct()
    )
    a = bottomk_sample_sketch(
        ev.filter(F.col("side") == 0), "user_id", 16, group_by=["event_type"]
    )
    b = bottomk_sample_sketch(
        ev.filter(F.col("side") == 1), "user_id", 16, group_by=["event_type"]
    )
    # id_col arms the seed cross-check — the production shape; the gate
    # changes no value, so the oracle replay is unaffected
    return kmv_overlap_estimates(
        a, b, 16, group_by=["event_type"], id_col="user_id"
    )


@query(
    "llm_rep_signals",
    "WITH d0 AS (SELECT doc_id, CASE "
    "  WHEN doc_id % 3 = 0 THEN text || chr(10) || substr(text, 1, 20) "
    "    || chr(10) || substr(text, 1, 20) "
    "  WHEN doc_id % 5 = 0 THEN text || chr(10) || chr(10) "
    "    || substr(text, 1, 25) || chr(10) || chr(10) || substr(text, 1, 25) "
    "  ELSE text END AS text FROM documents WHERE trim(text) <> ''), "
    "d AS (SELECT doc_id, text, CAST(length(text) AS DOUBLE) AS chars, "
    "  list_filter(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '), "
    "  t -> t <> '') AS t FROM d0), "
    "units AS ("
    "  SELECT doc_id, 'line' AS kind, u AS unit FROM d, "
    "  unnest(list_filter(list_transform(string_split(text, chr(10)), "
    "    x -> trim(x)), x -> x <> '')) AS un(u) "
    "  UNION ALL SELECT doc_id, 'para', u FROM d, "
    "  unnest(list_filter(list_transform(string_split_regex(text, '\\n\\n+'), "
    "    x -> trim(x)), x -> x <> '')) AS un(u) "
    "  UNION ALL SELECT doc_id, 'g' || CAST(n AS VARCHAR), "
    "    array_to_string(list_slice(t, i, i + n - 1), ' ') "
    "  FROM d CROSS JOIN range(2, 11) rn(n), "
    "  unnest(range(1, len(t) - n + 2)) AS ui(i) WHERE len(t) >= n), "
    "cnt AS (SELECT doc_id, kind, unit, count(*) AS c, length(unit) AS l "
    "  FROM units GROUP BY 1, 2, 3), "
    "per AS (SELECT doc_id, "
    "  sum(CASE WHEN kind = 'line' THEN c END) AS n_line, "
    "  count(CASE WHEN kind = 'line' THEN 1 END) AS d_line, "
    "  coalesce(sum(CASE WHEN kind = 'line' AND c >= 2 THEN c * l END), 0) AS dc_line, "
    "  sum(CASE WHEN kind = 'para' THEN c END) AS n_para, "
    "  count(CASE WHEN kind = 'para' THEN 1 END) AS d_para, "
    "  coalesce(sum(CASE WHEN kind = 'para' AND c >= 2 THEN c * l END), 0) AS dc_para, "
    "  coalesce(sum(CASE WHEN kind = 'g5' AND c >= 2 THEN c * l END), 0) AS dc_g5, "
    "  coalesce(sum(CASE WHEN kind = 'g6' AND c >= 2 THEN c * l END), 0) AS dc_g6, "
    "  coalesce(sum(CASE WHEN kind = 'g7' AND c >= 2 THEN c * l END), 0) AS dc_g7, "
    "  coalesce(sum(CASE WHEN kind = 'g8' AND c >= 2 THEN c * l END), 0) AS dc_g8, "
    "  coalesce(sum(CASE WHEN kind = 'g9' AND c >= 2 THEN c * l END), 0) AS dc_g9, "
    "  coalesce(sum(CASE WHEN kind = 'g10' AND c >= 2 THEN c * l END), 0) AS dc_g10 "
    "  FROM cnt GROUP BY 1), "
    "top AS (SELECT doc_id, "
    "  coalesce(max(CASE WHEN kind = 'g2' AND rn = 1 THEN c * l END), 0) AS top_g2, "
    "  coalesce(max(CASE WHEN kind = 'g3' AND rn = 1 THEN c * l END), 0) AS top_g3, "
    "  coalesce(max(CASE WHEN kind = 'g4' AND rn = 1 THEN c * l END), 0) AS top_g4 "
    "  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id, kind "
    "    ORDER BY c DESC, l DESC, unit DESC) AS rn FROM cnt "
    "    WHERE kind IN ('g2', 'g3', 'g4')) GROUP BY 1), "
    "m AS (SELECT d.doc_id, "
    "  round((n_line - d_line) / CAST(n_line AS DOUBLE), 6) AS dup_line_frac, "
    "  round((n_para - d_para) / CAST(n_para AS DOUBLE), 6) AS dup_para_frac, "
    "  round(dc_line / chars, 6) AS dup_line_char_frac, "
    "  round(dc_para / chars, 6) AS dup_para_char_frac, "
    "  round(coalesce(top_g2, 0) / chars, 6) AS top_2gram_char_frac, "
    "  round(coalesce(top_g3, 0) / chars, 6) AS top_3gram_char_frac, "
    "  round(coalesce(top_g4, 0) / chars, 6) AS top_4gram_char_frac, "
    "  round(dc_g5 / chars, 6) AS dup_5gram_char_frac, "
    "  round(dc_g6 / chars, 6) AS dup_6gram_char_frac, "
    "  round(dc_g7 / chars, 6) AS dup_7gram_char_frac, "
    "  round(dc_g8 / chars, 6) AS dup_8gram_char_frac, "
    "  round(dc_g9 / chars, 6) AS dup_9gram_char_frac, "
    "  round(dc_g10 / chars, 6) AS dup_10gram_char_frac "
    "  FROM d JOIN per ON d.doc_id = per.doc_id "
    "  LEFT JOIN top ON d.doc_id = top.doc_id) "
    "SELECT *, dup_line_frac <= 0.30 AND dup_para_frac <= 0.30 "
    "AND dup_line_char_frac <= 0.20 AND dup_para_char_frac <= 0.20 "
    "AND top_2gram_char_frac <= 0.20 AND top_3gram_char_frac <= 0.18 "
    "AND top_4gram_char_frac <= 0.16 AND dup_5gram_char_frac <= 0.15 "
    "AND dup_6gram_char_frac <= 0.14 AND dup_7gram_char_frac <= 0.13 "
    "AND dup_8gram_char_frac <= 0.12 AND dup_9gram_char_frac <= 0.11 "
    "AND dup_10gram_char_frac <= 0.10 AS gopher_rep_pass FROM m",
)
def llm_rep_signals(spark, sf):
    """The full published Gopher repetition filter set (operators/
    text.py::repetition_signals — Rae et al. 2021 Table A1, the half of
    the MassiveText gate llm_gopher_flags leaves to this operator):
    duplicate line/paragraph fractions, duplicate line/paragraph
    CHARACTER fractions, top-{2,3,4}-gram character coverage, and
    duplicated-{5..10}-gram character coverage, plus the conjunction
    ``gopher_rep_pass`` over the published thresholds. The synthetic
    corpus has no line structure, so duplicate lines (every 3rd doc) and
    duplicate paragraphs (every 5th) are injected deterministically in
    BOTH engines; n-gram repetition comes from the small-vocabulary text
    itself. ZERO shuffles: every signal depends only on the document's
    own units, so the whole filter set is computed row-locally over
    per-kind sorted unit arrays (duplicates = adjacent equal neighbours,
    run lengths = run-start deltas, top-gram = array_max over run
    structs) — the former explode→groupBy(id, kind, unit) shape moved
    2.2 M (kind, unit) rows through an exchange at sf0.1 only to regroup
    them by the document they came from. The oracle replays every unit
    split, count, deterministic top-gram tie-break (c desc, len desc,
    unit desc ≡ Spark's struct max), round and threshold verdict, so
    all 13 signals AND the boolean gate hash-match."""
    from .operators.text import repetition_signals

    d = load_table(spark, sf, "documents").to_spark()
    aug = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"), F.lit("\n"),
                F.expr("substr(text, 1, 20)"), F.lit("\n"),
                F.expr("substr(text, 1, 20)"),
            ),
        )
        .when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"), F.lit("\n\n"),
                F.expr("substr(text, 1, 25)"), F.lit("\n\n"),
                F.expr("substr(text, 1, 25)"),
            ),
        )
        .otherwise(F.col("text")),
    )
    return repetition_signals(aug)


@query(
    "q95_anomaly_rules",
    "WITH v AS (SELECT event_type, CAST(ts AS DATE) AS run_day, "
    "  CAST(floor(value * 100) AS DOUBLE) AS cents FROM events), "
    "e AS (SELECT event_type, run_day, CAST(count(cents) AS BIGINT) AS cnt, "
    "  round(CAST(SUM(CAST(cents AS DECIMAL(28,6))) AS DOUBLE) / count(cents), 6) AS mean, "
    "  min(cents) AS mn, max(cents) AS mx FROM v GROUP BY 1, 2), "
    "r AS (SELECT *, row_number() OVER (PARTITION BY event_type "
    "  ORDER BY run_day DESC) AS rk FROM e), "
    "h AS (SELECT event_type, "
    "  quantile_cont(CASE WHEN rk BETWEEN 2 AND 8 THEN CAST(cnt AS DOUBLE) END, 0.5) AS med_cnt, "
    "  count(CASE WHEN rk BETWEEN 2 AND 8 THEN cnt END) AS h_cnt, "
    "  quantile_cont(CASE WHEN rk BETWEEN 2 AND 8 THEN mean END, 0.5) AS med_mean, "
    "  count(CASE WHEN rk BETWEEN 2 AND 8 THEN mean END) AS h_mean, "
    "  max(CASE WHEN rk BETWEEN 2 AND 8 THEN mx END) AS env_mx, "
    "  count(CASE WHEN rk BETWEEN 2 AND 8 THEN mx END) AS h_mx, "
    "  min(CASE WHEN rk BETWEEN 2 AND 8 THEN mn END) AS env_mn, "
    "  count(CASE WHEN rk BETWEEN 2 AND 8 THEN mn END) AS h_mn "
    "  FROM r GROUP BY 1), "
    "l AS (SELECT *, strftime(run_day, '%Y-%m-%d') AS run_day_s FROM r WHERE rk = 1) "
    "SELECT l.event_type, l.run_day_s AS run_day, "
    "'within_history(cents_count,tol=0.5,window=7,median)' AS rule, "
    "round(CAST(cnt AS DOUBLE), 6) AS observed, round(med_cnt, 6) AS expected, "
    "CAST(h_cnt AS BIGINT) AS n_history, "
    "CASE WHEN h_cnt > 0 THEN abs(round(CAST(cnt AS DOUBLE), 6) - round(med_cnt, 6)) "
    "  <= 0.5 * abs(round(med_cnt, 6)) END AS passed "
    "FROM l JOIN h USING (event_type) "
    "UNION ALL SELECT l.event_type, l.run_day_s, "
    "'within_history(cents_mean,tol=0.1,window=7,median)', "
    "round(mean, 6), round(med_mean, 6), CAST(h_mean AS BIGINT), "
    "CASE WHEN h_mean > 0 THEN abs(round(mean, 6) - round(med_mean, 6)) "
    "  <= 0.1 * abs(round(med_mean, 6)) END "
    "FROM l JOIN h USING (event_type) "
    "UNION ALL SELECT l.event_type, l.run_day_s, "
    "'within_envelope(cents_max,upper,window=7,slack=0)', "
    "round(mx, 6), round(env_mx + 0.0, 6), CAST(h_mx AS BIGINT), "
    "CASE WHEN h_mx > 0 THEN round(mx, 6) <= round(env_mx + 0.0, 6) END "
    "FROM l JOIN h USING (event_type) "
    "UNION ALL SELECT l.event_type, l.run_day_s, "
    "'within_envelope(cents_min,lower,window=7,slack=0)', "
    "round(mn, 6), round(env_mn - 0.0, 6), CAST(h_mn AS BIGINT), "
    "CASE WHEN h_mn > 0 THEN round(mn, 6) >= round(env_mn - 0.0, 6) END "
    "FROM l JOIN h USING (event_type)",
)
def q95_anomaly_rules(spark, sf):
    """Anomaly rules over the persisted moment-sketch store
    (operators/expectations.py::validate_anomalies — Deequ's
    anomaly-detection face): a per-day moments
    store over events (one tiny row per (day, event_type)) is the ONLY
    input; each type's LATEST day is judged against its own trailing
    7-day history — row count and mean within a relative band of the
    trailing median (the rate-of-change strategy), max/min inside the
    trailing envelope (new-extremes detection) — without rescanning any
    raw history. All four rules fold into ONE conditional-aggregation
    pass over the ranked store rows. The metric is floor(value·100)
    ('cents', the q90 idiom) and the store sums are decimal-exact, so
    the oracle recomputes every estimate, the exact interpolated median
    (quantile_cont ≡ Spark percentile), both rounded bounds, and every
    pass/fail verdict — labels, observed, expected, n_history AND
    booleans hash-match."""
    from .operators.expectations import validate_anomalies
    from .operators.maintenance import moment_sketches

    ev = load_table(spark, sf, "events").to_spark().select(
        "event_type",
        F.to_date("ts").alias("run_day"),
        (F.floor(F.col("value") * 100)).cast("double").alias("cents"),
    )
    store = moment_sketches(ev, ["cents"], group_by=["run_day", "event_type"])
    rules = [
        {
            "type": "within_history",
            "metric": "cents_count",
            "tol": 0.5,
            "window": 7,
            "stat": "median",
        },
        {
            "type": "within_history",
            "metric": "cents_mean",
            "tol": 0.1,
            "window": 7,
            "stat": "median",
        },
        {
            "type": "within_envelope",
            "metric": "cents_max",
            "side": "upper",
            "window": 7,
            "slack": 0,
        },
        {
            "type": "within_envelope",
            "metric": "cents_min",
            "side": "lower",
            "window": 7,
            "slack": 0,
        },
    ]
    out = validate_anomalies(
        store, rules, run_col="run_day", group_by=["event_type"]
    )
    # dates travel as strings (the repo-wide oracle idiom: the harness
    # normalizes DuckDB dates to midnight timestamps otherwise)
    return out.withColumn("run_day", F.date_format("run_day", "yyyy-MM-dd"))


@query(
    "q96_drift_from_store",
    "WITH v AS (SELECT event_type, CAST(ts AS DATE) AS run_day, "
    "  CAST(floor(value * 100) AS DOUBLE) AS cents FROM events), "
    "r AS (SELECT event_type, run_day, row_number() OVER ("
    "  PARTITION BY event_type ORDER BY run_day DESC) AS rk "
    "  FROM (SELECT DISTINCT event_type, run_day FROM v)), "
    "b AS (SELECT v.event_type, CASE WHEN r.rk = 1 THEN 0 ELSE 1 END AS side, "
    "  LEAST(CAST(FLOOR(v.cents / 2000.0) AS INT), 49) AS bin "
    "  FROM v JOIN r USING (event_type, run_day) "
    "  WHERE r.rk <= 8 AND v.cents >= 0 AND v.cents <= 100000), "
    "spine AS (SELECT DISTINCT event_type FROM b), "
    "bins AS (SELECT event_type, side, CAST(i AS INT) AS bin FROM spine "
    "  CROSS JOIN range(2) s(side) CROSS JOIN range(50) g(i)), "
    "cnt AS (SELECT event_type, side, bin, count(*) AS c FROM b GROUP BY 1, 2, 3), "
    "arr AS (SELECT bins.event_type, bins.side, "
    "  list(coalesce(cnt.c, 0) ORDER BY bins.bin) AS counts "
    "  FROM bins LEFT JOIN cnt ON bins.event_type = cnt.event_type "
    "  AND bins.side = cnt.side AND bins.bin = cnt.bin GROUP BY 1, 2), "
    "w AS (SELECT a.event_type, a.counts AS ca, b2.counts AS cb FROM arr a "
    "  JOIN arr b2 ON a.event_type = b2.event_type "
    "  WHERE a.side = 0 AND b2.side = 1), "
    "t AS (SELECT event_type, ca, cb, list_sum(ca) AS na, list_sum(cb) AS nb FROM w), "
    "meta AS (SELECT event_type, max(run_day) AS run_day FROM v GROUP BY 1), "
    "nbase AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_runs_baseline "
    "  FROM r WHERE rk BETWEEN 2 AND 8 GROUP BY 1) "
    "SELECT t.event_type, strftime(meta.run_day, '%Y-%m-%d') AS run_day, nbase.n_runs_baseline, "
    "round(list_sum(list_transform(range(1, 51), i -> "
    "  (GREATEST(ca[i] / CAST(na AS DOUBLE), 1e-6) "
    "   - GREATEST(cb[i] / CAST(nb AS DOUBLE), 1e-6)) "
    "  * ln(GREATEST(ca[i] / CAST(na AS DOUBLE), 1e-6) "
    "       / GREATEST(cb[i] / CAST(nb AS DOUBLE), 1e-6)))), 6) AS psi, "
    "round(list_aggregate(list_transform(range(1, 51), i -> "
    "  abs(list_sum(ca[1:i]) / CAST(na AS DOUBLE) "
    "      - list_sum(cb[1:i]) / CAST(nb AS DOUBLE))), 'max'), 6) AS ks, "
    "CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b "
    "FROM t JOIN meta ON t.event_type = meta.event_type "
    "JOIN nbase ON t.event_type = nbase.event_type",
)
def q96_drift_from_store(spark, sf):
    """Latest-vs-history drift straight from a persisted histogram store
    (operators/maintenance.py::histogram_drift_from_store — the
    anomaly-detection face of q92's histogram_drift): a per-day 50-bin
    cents histogram store over events is ranked by recency per
    event_type, the trailing 7 runs are folded into ONE baseline via the
    exact bin-sum merge (provably equal to a histogram over the
    concatenated trailing days — which is exactly how the oracle builds
    side 1), and PSI + binned KS compare each type's latest day against
    its own trailing week. No raw data is rescanned; the monitor's cost
    is O(runs × groups) sketch rows. The oracle rebuilds the identical
    dense bin arrays from the raw events, replays the same smoothed
    proportion / ln-ratio / cumulative-walk arithmetic in ascending bin
    order, and hash-matches psi, ks, both in-range counts, the latest
    run day AND the baseline run count."""
    from .operators.maintenance import (
        histogram_drift_from_store,
        histogram_sketch,
    )

    ev = load_table(spark, sf, "events").to_spark().select(
        "event_type",
        F.to_date("ts").alias("run_day"),
        (F.floor(F.col("value") * 100)).cast("double").alias("cents"),
    )
    store = histogram_sketch(
        ev, "cents", 0.0, 100000.0, 50, group_by=["run_day", "event_type"]
    )
    d = histogram_drift_from_store(
        store, "run_day", group_by=["event_type"], window=7
    )
    return d.select(
        "event_type",
        F.date_format("run_day", "yyyy-MM-dd").alias("run_day"),
        "n_runs_baseline",
        F.col("cents_psi").alias("psi"),
        F.col("cents_ks").alias("ks"),
        F.col("cents_n_a").alias("n_a"),
        F.col("cents_n_b").alias("n_b"),
    )


# -- real BPE, substring dedup, DSIR ------------------------------------------

#: Literal byte-level BPE merges table for the llm_bpe_tokens entry — a
#: VALID table (every rule's constituents are single bytes or products of
#: earlier-ranked rules, e.g. 'tion' = 'ti'(13) + 'on'(8)), so the engine's
#: one-merge-per-step greedy order coincides with GPT-2's
#: all-occurrences-per-pass (see bpe_encode_words' docstring).
_BPE_MERGES = [
    ("t", "h", 1), ("th", "e", 2), ("i", "n", 3), ("in", "g", 4),
    ("e", "r", 5), ("a", "n", 6), ("an", "d", 7), ("o", "n", 8),
    ("r", "e", 9), ("a", "t", 10), ("e", "n", 11), ("o", "r", 12),
    ("t", "i", 13), ("ti", "on", 14), ("e", "s", 15), ("1", "9", 16),
    ("s", "t", 17),
]

_BPE_MERGES_VALUES = ", ".join(
    f"('{a}', '{b}', {r})" for a, b, r in _BPE_MERGES
)


@query(
    "llm_bpe_tokens",
    "WITH RECURSIVE "
    f"mg(first, second, rank) AS (VALUES {_BPE_MERGES_VALUES}), "
    "mp AS (SELECT map(list(upper(hex(encode(first))) || ':' || "
    "  upper(hex(encode(second)))), list(rank)) AS m FROM mg), "
    "tok AS (SELECT doc_id, unnest(regexp_extract_all(text, "
    "  '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS word FROM documents), "
    "w AS (SELECT DISTINCT word FROM tok), "
    "s0 AS (SELECT word, list_transform(range(1, length(hx)//2 + 1), "
    "  i -> substring(hx, 2*i-1, 2)) AS syms "
    "  FROM (SELECT word, upper(hex(encode(word))) AS hx FROM w)), "
    "enc AS (SELECT word, syms FROM s0 "
    "  UNION ALL "
    "  SELECT word, list_concat(list_concat(list_slice(syms, 1, p-1), "
    "    [syms[p] || syms[p+1]]), list_slice(syms, p+2, len(syms))) "
    "  FROM (SELECT word, syms, "
    "    list_position(pr, list_aggregate(pr, 'min')) AS p, "
    "    list_aggregate(pr, 'min') AS best "
    "    FROM (SELECT word, syms, list_transform(range(1, len(syms)), "
    "      i -> map_extract(m, syms[i] || ':' || syms[i+1])[1]) AS pr "
    "      FROM enc, mp)) WHERE best IS NOT NULL), "
    "fin AS (SELECT word, CAST(len(syms) AS BIGINT) AS n FROM ("
    "  SELECT word, syms, list_aggregate(list_transform("
    "    range(1, len(syms)), i -> map_extract(m, "
    "    syms[i] || ':' || syms[i+1])[1]), 'min') AS best "
    "  FROM enc, mp) WHERE best IS NULL), "
    "agg AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS np, "
    "  CAST(sum(f.n) AS BIGINT) AS nt "
    "  FROM tok t JOIN fin f USING (word) GROUP BY 1) "
    "SELECT d.doc_id, coalesce(np, 0) AS n_pretokens, "
    "coalesce(nt, 0) AS n_tokens "
    "FROM documents d LEFT JOIN agg USING (doc_id)",
)
def llm_bpe_tokens(spark, sf):
    """REAL byte-level BPE token counts (operators/text.py::bpe_tokenize
    / bpe_encode_words): every document is
    pre-tokenized on the shared cross-engine pattern, each DISTINCT
    pre-token is greedily encoded against the literal merges relation
    (lowest rank first, leftmost occurrence, to fixpoint — the trained-
    tokenizer segmentation, multi-level merges like ti+on exercised),
    and the counts join back per document. Training-data budgets are
    denominated in THESE counts, not the regex pre-token bound
    (bpe_token_count). The whole chain — hex byte symbols, rank-map
    lookups, the greedy loop, the join-back — is deterministic, so the
    DuckDB oracle replays it with a recursive CTE and hash-matches.
    100 TB shape: the O(bytes²) encode is paid per VOCABULARY entry
    (distinct pre-tokens, Heaps-bounded), never per occurrence; the
    per-occurrence cost is one word-keyed hash join + one partial-agg
    groupBy back to doc_id. Zero Python, zero collect."""
    from .operators.text import bpe_tokenize

    merges = spark.createDataFrame(
        _BPE_MERGES, "first string, second string, rank int"
    )
    d = load_table(spark, sf, "documents").to_spark().select("doc_id", "text")
    return bpe_tokenize(d, merges)


@query(
    "llm_substring_dedup",
    "WITH c AS (SELECT doc_id, text FROM documents WHERE doc_id % 29 = 0 "
    f"  UNION ALL SELECT doc_id + {_TWIN_OFFSET}, "
    f"  text || '{_TWIN_SUFFIX}' FROM documents WHERE doc_id % 29 = 0), "
    "n AS (SELECT doc_id, "
    "  lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t FROM c), "
    "f AS (SELECT doc_id, list_transform(range(1, length(t) - 6), "
    "  i -> CAST(('0x' || substring(md5(substring(t, i, 8)), 1, 15)) "
    "  AS BIGINT)) AS hs FROM n WHERE length(t) >= 8), "
    "w AS (SELECT doc_id, list_min(list_slice(hs, j, j + 3)) AS fp, "
    "  CAST(j - 1 + list_position(list_slice(hs, j, j + 3), "
    "  list_min(list_slice(hs, j, j + 3))) AS BIGINT) AS pos "
    "  FROM f, unnest(range(1, greatest(len(hs) - 3, 1) + 1)) AS u(j)), "
    "s AS (SELECT DISTINCT doc_id, fp, pos FROM w), "
    "occ AS (SELECT *, row_number() OVER (PARTITION BY fp "
    "  ORDER BY doc_id, pos) AS rn FROM s), "
    "lose AS (SELECT doc_id, greatest(pos - 3, 1) AS st, "
    "  pos + 7 + 3 AS en FROM occ WHERE rn > 1), "
    "ord AS (SELECT *, max(en) OVER (PARTITION BY doc_id ORDER BY st, en "
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM lose), "
    "isl AS (SELECT *, sum(CASE WHEN pm IS NULL OR st > pm + 1 "
    "  THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY st, en) "
    "  AS island FROM ord), "
    "mg AS (SELECT doc_id, island, min(st) AS st, max(en) AS en "
    "  FROM isl GROUP BY doc_id, island), "
    "sp AS (SELECT mg.doc_id, mg.st, mg.en, n.t, "
    "  coalesce(max(least(mg.en, length(n.t))) OVER ("
    "    PARTITION BY mg.doc_id ORDER BY mg.st "
    "    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_p "
    "  FROM mg JOIN n USING (doc_id)), "
    "agg AS (SELECT doc_id, "
    "  string_agg(substring(t, prev_p + 1, st - 1 - prev_p), '' "
    "    ORDER BY st) || substring(t, max(least(en, length(t))) + 1) "
    "    AS kept, "
    "  CAST(count(*) AS BIGINT) AS n_spans, "
    "  CAST(sum(least(en, length(t)) - st + 1) AS BIGINT) AS n_chars "
    "  FROM sp GROUP BY doc_id, t) "
    "SELECT n.doc_id, coalesce(a.kept, n.t) AS text, "
    "coalesce(a.n_spans, 0) AS n_spans_removed, "
    "coalesce(a.n_chars, 0) AS n_chars_removed "
    "FROM n LEFT JOIN agg a USING (doc_id)",
)
def llm_substring_dedup(spark, sf):
    """Exact-substring removal (operators/dedup.py::substring_dedup —
    Lee et al. 2022, the published strongest-dedup result): every 29th
    document and its injected twin form the
    corpus; winnowing fingerprint positions localize every shared
    passage, the canonical (lowest id, pos) occurrence survives, and
    each losing occurrence's ±(window−1)-padded extent is spliced out
    of its document's normalized text — cutting the duplicated passage
    itself, not the whole doc and not whole sentences. The guarantee
    (tested): any duplicated normalized substring of ≥ window+k−1 = 11
    chars is fully excised from the loser. Every step — normalize,
    hash, window min + position, canonical rank, extent pad, island
    merge, splice — is deterministic, so the oracle replays the chain
    and hash-matches the REBUILT TEXT itself plus both removal
    counters. Shuffles touch only the sparse fingerprint relation and
    the per-doc losing extents (bounded by duplicate volume); selection
    and splice are row-local codegen."""
    from .operators.dedup import substring_dedup

    d = load_table(spark, sf, "documents")
    corpus = _twin_corpus(d.filter(F.col("doc_id") % 29 == 0))
    return substring_dedup(corpus, k=8, window=4)


@query(
    "llm_dsir_weights",
    "WITH t AS (SELECT doc_id, list_filter(string_split("
    f"{_NORM_SQL}, ' '), x -> x <> '') AS tk FROM documents), "
    "g0 AS (SELECT doc_id, list_concat(tk, CASE WHEN len(tk) >= 2 "
    "  THEN list_transform(range(1, len(tk)), "
    "  i -> tk[i] || ' ' || tk[i+1]) "
    "  ELSE CAST([] AS VARCHAR[]) END) AS gs FROM t), "
    "rg AS (SELECT doc_id, CAST(('0x' || substring(md5(g || ':0'), 1, 15)) "
    "  AS BIGINT) % 4096 AS b FROM g0, unnest(gs) AS u(g)), "
    "tg AS (SELECT b FROM rg WHERE doc_id % 7 = 0), "
    "rb AS (SELECT b, count(*) AS cr FROM rg GROUP BY 1), "
    "tb AS (SELECT b, count(*) AS ct FROM tg GROUP BY 1), "
    "tot AS (SELECT (SELECT CAST(sum(cr) AS DOUBLE) FROM rb) AS r_total, "
    "  (SELECT CAST(coalesce(sum(ct), 0) AS DOUBLE) FROM tb) AS t_total), "
    "ratio AS (SELECT rb.b, CAST(round("
    "  ln((coalesce(ct, 0) + 1.0) / (t_total + 4096.0)) "
    "  - ln((cr + 1.0) / (r_total + 4096.0)), 6) AS DECIMAL(18,6)) AS lr "
    "  FROM rb LEFT JOIN tb USING (b) CROSS JOIN tot) "
    "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams, "
    "round(CAST(sum(lr) AS DOUBLE), 6) AS log_weight "
    "FROM rg JOIN ratio USING (b) GROUP BY 1",
)
def llm_dsir_weights(spark, sf):
    """DSIR importance weights (operators/sampling.py::dsir_weights —
    Xie et al. 2023): every 7th document plays the
    curated target set, the full documents table is the raw pool, and
    each raw document scores the log-likelihood ratio of its hashed
    unigram+bigram bag under the target vs the raw smoothed
    bag-of-buckets LMs — the standard "resample the crawl toward a
    quality domain" signal, feeding weighted_sample_exact with
    log_space=True on log_weight (never exponentiate — DSIR ratios run
    to ±hundreds, so exp overflows/underflows). The oracle refits BOTH LMs and replays every
    score: md5-mod bucket hashing, α=1 smoothing over 4096 buckets,
    per-bucket log-ratios rounded to 6 and DECIMAL-summed per document
    (the unigram_nll determinism discipline), so the hash match pins
    the whole fit-then-score pipeline cross-engine. Shuffled relations
    are bucket-bounded (≤4096 rows) plus one partial-aggregated groupBy
    back to documents; the ratio relation broadcasts."""
    from .operators.sampling import dsir_weights

    d = load_table(spark, sf, "documents").to_spark().select(
        "doc_id", "text"
    )
    return dsir_weights(
        d, d.filter(F.col("doc_id") % 7 == 0), buckets=4096
    )


@query(
    "llm_bpe_chunks",
    "WITH RECURSIVE "
    f"mg(first, second, rank) AS (VALUES {_BPE_MERGES_VALUES}), "
    "mp AS (SELECT map(list(upper(hex(encode(first))) || ':' || "
    "  upper(hex(encode(second)))), list(rank)) AS m FROM mg), "
    "tok AS (SELECT doc_id, ws[widx] AS word, widx FROM "
    "  (SELECT doc_id, regexp_extract_all(text, "
    "  '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]') AS ws FROM documents "
    "  WHERE doc_id % 11 = 0), "
    "  unnest(range(1, len(ws) + 1)) AS ui(widx)), "
    "w AS (SELECT DISTINCT word FROM tok), "
    "s0 AS (SELECT word, list_transform(range(1, length(hx)//2 + 1), "
    "  i -> substring(hx, 2*i-1, 2)) AS syms "
    "  FROM (SELECT word, upper(hex(encode(word))) AS hx FROM w)), "
    "enc AS (SELECT word, syms FROM s0 "
    "  UNION ALL "
    "  SELECT word, list_concat(list_concat(list_slice(syms, 1, p-1), "
    "    [syms[p] || syms[p+1]]), list_slice(syms, p+2, len(syms))) "
    "  FROM (SELECT word, syms, "
    "    list_position(pr, list_aggregate(pr, 'min')) AS p, "
    "    list_aggregate(pr, 'min') AS best "
    "    FROM (SELECT word, syms, list_transform(range(1, len(syms)), "
    "      i -> map_extract(m, syms[i] || ':' || syms[i+1])[1]) AS pr "
    "      FROM enc, mp)) WHERE best IS NOT NULL), "
    "fin AS (SELECT word, CAST(len(syms) AS BIGINT) AS n FROM ("
    "  SELECT word, syms, list_aggregate(list_transform("
    "    range(1, len(syms)), i -> map_extract(m, "
    "    syms[i] || ':' || syms[i+1])[1]), 'min') AS best "
    "  FROM enc, mp) WHERE best IS NULL), "
    "a AS (SELECT t.doc_id, t.widx, t.word, f.n, "
    "  sum(f.n) OVER (PARTITION BY t.doc_id ORDER BY t.widx) - f.n AS strt "
    "  FROM tok t JOIN fin f USING (word)) "
    "SELECT doc_id, CAST(strt // 64 AS BIGINT) AS chunk_idx, "
    "CAST(sum(n) AS BIGINT) AS n_tokens, "
    "string_agg(word, ' ' ORDER BY widx) AS chunk "
    "FROM a GROUP BY doc_id, CAST(strt // 64 AS BIGINT)",
)
def llm_bpe_chunks(spark, sf):
    """Word-aligned chunking by REAL BPE token budget (operators/
    text.py::bpe_chunk_documents — chunk_documents re-denominated in
    trained-tokenizer subwords): every 11th document's pre-token stream
    is cut every 64 real tokens against the literal merges relation; a
    pre-token belongs to the chunk its starting token offset falls in,
    so chunks never split a word. The oracle replays the whole chain —
    recursive-CTE BPE per distinct word, per-doc cumulative offsets,
    ordered string_agg reassembly — and hash-matches the CHUNK TEXT
    itself plus the per-chunk counts. The cumulative window partitions
    BY DOCUMENT (parallel, never a global sort); the encode is paid per
    distinct word."""
    from .operators.text import bpe_chunk_documents

    merges = spark.createDataFrame(
        _BPE_MERGES, "first string, second string, rank int"
    )
    d = (
        load_table(spark, sf, "documents")
        .to_spark()
        .filter(F.col("doc_id") % 11 == 0)
        .select("doc_id", "text")
    )
    return bpe_chunk_documents(d, merges, max_tokens=64)


@query(
    "llm_bpe_chunks_special",
    "WITH RECURSIVE "
    f"mg(first, second, rank) AS (VALUES {_BPE_MERGES_VALUES}), "
    "mp AS (SELECT map(list(upper(hex(encode(first))) || ':' || "
    "  upper(hex(encode(second)))), list(rank)) AS m FROM mg), "
    "tok AS (SELECT doc_id, ws[widx] AS word, widx FROM "
    "  (SELECT doc_id, regexp_extract_all(text, "
    "  '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]') AS ws FROM documents "
    "  WHERE doc_id % 11 = 0), "
    "  unnest(range(1, len(ws) + 1)) AS ui(widx)), "
    "w AS (SELECT DISTINCT word FROM tok), "
    "s0 AS (SELECT word, list_transform(range(1, length(hx)//2 + 1), "
    "  i -> substring(hx, 2*i-1, 2)) AS syms "
    "  FROM (SELECT word, upper(hex(encode(word))) AS hx FROM w)), "
    "enc AS (SELECT word, syms FROM s0 "
    "  UNION ALL "
    "  SELECT word, list_concat(list_concat(list_slice(syms, 1, p-1), "
    "    [syms[p] || syms[p+1]]), list_slice(syms, p+2, len(syms))) "
    "  FROM (SELECT word, syms, "
    "    list_position(pr, list_aggregate(pr, 'min')) AS p, "
    "    list_aggregate(pr, 'min') AS best "
    "    FROM (SELECT word, syms, list_transform(range(1, len(syms)), "
    "      i -> map_extract(m, syms[i] || ':' || syms[i+1])[1]) AS pr "
    "      FROM enc, mp)) WHERE best IS NOT NULL), "
    "fin AS (SELECT word, CAST(len(syms) AS BIGINT) AS n FROM ("
    "  SELECT word, syms, list_aggregate(list_transform("
    "    range(1, len(syms)), i -> map_extract(m, "
    "    syms[i] || ':' || syms[i+1])[1]), 'min') AS best "
    "  FROM enc, mp) WHERE best IS NULL), "
    "a AS (SELECT t.doc_id, t.widx, t.word, f.n, "
    "  sum(f.n) OVER (PARTITION BY t.doc_id ORDER BY t.widx) - f.n AS strt "
    "  FROM tok t JOIN fin f USING (word)) "
    "SELECT doc_id, CAST(strt // 62 AS BIGINT) AS chunk_idx, "
    "CAST(sum(n) + 2 AS BIGINT) AS n_tokens, "
    "string_agg(word, ' ' ORDER BY widx) AS chunk "
    "FROM a GROUP BY doc_id, CAST(strt // 62 AS BIGINT)",
)
def llm_bpe_chunks_special(spark, sf):
    """BPE chunking with per-chunk special-token reservation (operators/
    text.py::bpe_chunk_documents n_special_per_chunk): same corpus slice and merges as llm_bpe_chunks, but every
    64-token training window reserves 2 slots for the collator's
    BOS/EOS, so the content stream is cut every 62 REAL tokens and each
    chunk's reported n_tokens includes the reservation — the count the
    trainer's context window actually receives. The oracle replays the
    recursive-CTE BPE encode, the 62-token cumulative cut, and the +2
    reporting, hash-matching chunk text and counts — pinning that the
    reservation shifts the cut boundary (not merely the arithmetic) by
    comparison with the blessed unreserved entry."""
    from .operators.text import bpe_chunk_documents

    merges = spark.createDataFrame(
        _BPE_MERGES, "first string, second string, rank int"
    )
    d = (
        load_table(spark, sf, "documents")
        .to_spark()
        .filter(F.col("doc_id") % 11 == 0)
        .select("doc_id", "text")
    )
    return bpe_chunk_documents(
        d, merges, max_tokens=64, n_special_per_chunk=2
    )


@query(
    "llm_bpe_fertility",
    "WITH RECURSIVE "
    f"mg(first, second, rank) AS (VALUES {_BPE_MERGES_VALUES}), "
    "mp AS (SELECT map(list(upper(hex(encode(first))) || ':' || "
    "  upper(hex(encode(second)))), list(rank)) AS m FROM mg), "
    "tok AS (SELECT doc_id, unnest(regexp_extract_all(text, "
    "  '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS word FROM documents), "
    "w AS (SELECT DISTINCT word FROM tok), "
    "s0 AS (SELECT word, list_transform(range(1, length(hx)//2 + 1), "
    "  i -> substring(hx, 2*i-1, 2)) AS syms "
    "  FROM (SELECT word, upper(hex(encode(word))) AS hx FROM w)), "
    "enc AS (SELECT word, syms FROM s0 "
    "  UNION ALL "
    "  SELECT word, list_concat(list_concat(list_slice(syms, 1, p-1), "
    "    [syms[p] || syms[p+1]]), list_slice(syms, p+2, len(syms))) "
    "  FROM (SELECT word, syms, "
    "    list_position(pr, list_aggregate(pr, 'min')) AS p, "
    "    list_aggregate(pr, 'min') AS best "
    "    FROM (SELECT word, syms, list_transform(range(1, len(syms)), "
    "      i -> map_extract(m, syms[i] || ':' || syms[i+1])[1]) AS pr "
    "      FROM enc, mp)) WHERE best IS NOT NULL), "
    "fin AS (SELECT word, CAST(len(syms) AS BIGINT) AS n FROM ("
    "  SELECT word, syms, list_aggregate(list_transform("
    "    range(1, len(syms)), i -> map_extract(m, "
    "    syms[i] || ':' || syms[i+1])[1]), 'min') AS best "
    "  FROM enc, mp) WHERE best IS NULL), "
    "per AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS np, "
    "  CAST(sum(f.n) AS BIGINT) AS nt "
    "  FROM tok t JOIN fin f USING (word) GROUP BY 1), "
    "doc AS (SELECT d.doc_id, d.lang, "
    "  CAST(coalesce(strlen(d.text), 0) AS BIGINT) AS nb, "
    "  coalesce(p.np, 0) AS np, coalesce(p.nt, 0) AS nt "
    "  FROM documents d LEFT JOIN per p USING (doc_id)), "
    "g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
    "  CAST(sum(nb) AS BIGINT) AS n_bytes, "
    "  CAST(sum(np) AS BIGINT) AS n_pretokens, "
    "  CAST(sum(nt) AS BIGINT) AS n_tokens FROM doc GROUP BY 1) "
    "SELECT lang, n_docs, n_bytes, n_pretokens, n_tokens, "
    "CASE WHEN n_bytes > 0 THEN round(CAST(n_tokens AS DOUBLE) / n_bytes, 6) "
    "  END AS tokens_per_byte, "
    "CASE WHEN n_tokens > 0 THEN round(CAST(n_bytes AS DOUBLE) / n_tokens, 6) "
    "  END AS bytes_per_token FROM g",
)
def llm_bpe_fertility(spark, sf):
    """Tokenizer fertility data card (operators/text.py::bpe_fertility):
    per language, real-BPE tokens spent per UTF-8 byte under the literal
    merges relation — the metric multilingual data cards print to show
    which scripts a vocabulary shortchanges, honest only with a real
    encode (the regex bound is merges-blind). The oracle replays the
    recursive-CTE encode, per-doc byte counts (strlen = UTF-8 octets),
    and both rounded ratios; everything is integer sums plus one double
    division per ratio, so the hash match is exact. Shape: the
    bpe_tokenize economics + one id-keyed join + one group-count-bounded
    groupBy."""
    from .operators.text import bpe_fertility

    merges = spark.createDataFrame(
        _BPE_MERGES, "first string, second string, rank int"
    )
    d = load_table(spark, sf, "documents").to_spark().select(
        "doc_id", "lang", "text"
    )
    return bpe_fertility(d, merges, by=["lang"])


@query(
    "llm_quality_sweep",
    "WITH q AS ("
    "  SELECT doc_id, n_tokens, "
    "  round(0.4 * least(n_tokens / 100.0, 1.0) + 0.3 * (1.0 - punct_ratio) "
    "        + 0.3 * stopword_ratio, 6) AS quality_score "
    "  FROM ("
    "    SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, "
    "           CASE WHEN length(text) > 0 THEN "
    "             (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) "
    "             / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS punct_ratio, "
    "           CASE WHEN len(toks) > 0 THEN "
    "             len(list_filter(toks, t -> list_contains(__SW_EN__, t))) "
    "             / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS stopword_ratio "
    f"    FROM (SELECT doc_id, text, list_filter(string_split({_NORM_SQL}, ' '), t -> t <> '') AS toks FROM documents)"
    "  )), "
    "tot AS (SELECT CAST(count(*) AS BIGINT) AS td, "
    "  CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS tt FROM q), "
    "t(threshold) AS (VALUES (0.3), (0.5), (0.7), (0.9)), "
    "per AS (SELECT t.threshold, "
    "  CAST(count(*) FILTER (WHERE q.quality_score >= t.threshold) "
    "    AS BIGINT) AS n_docs, "
    "  CAST(coalesce(sum(q.n_tokens) FILTER ("
    "    WHERE q.quality_score >= t.threshold), 0) AS BIGINT) AS n_tokens "
    "  FROM t LEFT JOIN q ON TRUE GROUP BY 1) "
    "SELECT threshold, n_docs, n_tokens, "
    "CASE WHEN tot.td > 0 THEN round(n_docs / CAST(tot.td AS DOUBLE), 6) END "
    "  AS doc_share, "
    "CASE WHEN tot.tt > 0 THEN round(n_tokens / CAST(tot.tt AS DOUBLE), 6) "
    "  END AS token_share "
    "FROM per, tot",
)
def llm_quality_sweep(spark, sf):
    """Quality-bar selection curve (operators/text.py::
    quality_threshold_sweep — the quality-filter counterpart of
    llm_neardup_sweep): per candidate threshold {0.3, 0.5, 0.7, 0.9},
    the documents and tokens surviving ``quality_score >= t`` and
    their corpus shares — the table a data card publishes before
    committing a filtering run. ONE corpus scan for the whole curve:
    every survivor count is a conditional aggregate in a single
    declared one-row global rollup, then a row-local explode of the
    4-struct literal. The oracle replays the per-doc quality arithmetic
    (the llm_corpus_stats CTE), the conditional sums, and both share
    divisions — the curve itself hash-pinned."""
    from .operators.text import quality_features, quality_threshold_sweep

    qf = quality_features(load_table(spark, sf, "documents").to_spark(), "text")
    return quality_threshold_sweep(
        qf, "quality_score", [0.3, 0.5, 0.7, 0.9], tokens_col="n_tokens"
    )


@query(
    "llm_vocab_drift",
    "WITH t AS (SELECT doc_id, "
    f"  list_filter(string_split({_NORM_SQL}, ' '), t -> t <> '') AS toks "
    "  FROM documents), "
    "ga AS (SELECT unnest(toks) AS term FROM t WHERE doc_id % 2 = 0), "
    "gb AS (SELECT unnest(toks) AS term FROM t WHERE doc_id % 2 = 1), "
    "ca AS (SELECT term, CAST(count(*) AS BIGINT) AS c_a FROM ga GROUP BY 1), "
    "cb AS (SELECT term, CAST(count(*) AS BIGINT) AS c_b FROM gb GROUP BY 1), "
    "j AS (SELECT coalesce(ca.term, cb.term) AS term, "
    "  coalesce(ca.c_a, 0) AS c_a, coalesce(cb.c_b, 0) AS c_b "
    "  FROM ca FULL JOIN cb ON ca.term = cb.term), "
    "s AS (SELECT CAST(coalesce(sum(c_a), 0) AS BIGINT) AS total_a, "
    "  CAST(coalesce(sum(c_b), 0) AS BIGINT) AS total_b, "
    "  CAST(count(*) AS BIGINT) AS n_vocab FROM j), "
    "per AS (SELECT CAST(round((p - q) * ln(p / q), 9) AS DECIMAL(38,9)) "
    "  AS c FROM (SELECT "
    "  (c_a + 1.0) / CAST(total_a + n_vocab AS DOUBLE) AS p, "
    "  (c_b + 1.0) / CAST(total_b + n_vocab AS DOUBLE) AS q "
    "  FROM j, s)) "
    "SELECT s.n_vocab, s.total_a, s.total_b, "
    "round(CAST(sum(per.c) AS DOUBLE), 6) AS psi "
    "FROM per, s GROUP BY 1, 2, 3",
)
def llm_vocab_drift(spark, sf):
    """Unigram-distribution drift card (operators/text.py::
    vocabulary_drift — the text-side sibling of q92's numeric PSI):
    PSI between the even-doc_id and odd-doc_id halves of the corpus
    (a same-distribution control pair — the measured PSI is near
    zero, which is itself the useful pin) over the union vocabulary
    with Laplace add-one smoothing. Per-term contributions are
    rounded to 9 decimals and DECIMAL(38,9)-summed, so the index is
    addition-order-independent and the oracle replays it bit-exactly:
    same token counts, same smoothing arithmetic, same ln, same two
    roundings. Shuffles carry only the term relations; the corpus is
    scanned once per side."""
    from .operators.text import vocabulary_drift

    d = load_table(spark, sf, "documents").to_spark()
    return vocabulary_drift(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
    )


@query(
    "llm_novelty",
    "WITH t AS (SELECT doc_id, "
    f"  list_filter(string_split({_NORM_SQL}, ' '), t -> t <> '') AS toks "
    "  FROM documents), "
    "r AS (SELECT DISTINCT doc_id, s FROM ("
    "  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1), "
    "    i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS s "
    "  FROM t WHERE len(toks) >= 3)), "
    "f AS (SELECT s, count(*) AS c FROM r GROUP BY s), "
    "per AS (SELECT r.doc_id, CAST(count(*) AS BIGINT) AS n_shingles, "
    "  CAST(sum(CASE WHEN f.c = 1 THEN 1 ELSE 0 END) AS BIGINT) "
    "    AS n_unique "
    "  FROM r JOIN f USING (s) GROUP BY 1) "
    "SELECT d.doc_id, "
    "CAST(coalesce(per.n_shingles, 0) AS BIGINT) AS n_shingles, "
    "CAST(coalesce(per.n_unique, 0) AS BIGINT) AS n_unique, "
    "CASE WHEN per.n_shingles > 0 THEN "
    "  round(per.n_unique / CAST(per.n_shingles AS DOUBLE), 6) END "
    "  AS novelty "
    "FROM documents d LEFT JOIN per USING (doc_id)",
)
def llm_novelty(spark, sf):
    """Per-document novelty card (operators/dedup.py::shingle_novelty):
    the fraction of each document's distinct 3-gram shingles with
    corpus document-frequency 1 — original content scores high,
    remix/mirror/template mass scores low, and no dedup pass or
    document pair is ever touched: one distinct (doc, xxhash64-shingle)
    explode, one partial-aggregated DF rollup, a 1:N join back on the
    shingle key, a per-doc rollup. Sub-shingle-length documents keep a
    NULL novelty ("no evidence" ≠ "nothing unique"). The oracle
    recomputes from raw shingle strings — the hash match again
    witnesses xxhash64 injectivity on the corpus."""
    from .operators import shingle_novelty

    d = load_table(spark, sf, "documents")
    return shingle_novelty(d.to_spark(), "doc_id", "text", shingle_n=3)


@query(
    "llm_prototype_prune",
    f"WITH n AS (SELECT vec_id, {_NORM_EMB_SQL} AS emb FROM embeddings), "
    "ex AS (SELECT emb, md5(CAST(vec_id AS VARCHAR)) AS m, vec_id "
    "  FROM n ORDER BY m, vec_id LIMIT 4), "
    "cl AS (SELECT list(emb ORDER BY m, vec_id) AS cents FROM ex), "
    "s AS (SELECT vec_id, list_transform(cents, "
    "  ce -> round(list_inner_product(emb, ce), 6)) AS sc FROM n, cl), "
    "a AS (SELECT vec_id, "
    "  CAST(list_position(sc, list_aggregate(sc, 'max')) - 1 AS BIGINT) "
    "    AS cell, "
    "  list_aggregate(sc, 'max') AS proto_cos FROM s), "
    "r AS (SELECT vec_id, cell, proto_cos, "
    "  CAST(ROW_NUMBER() OVER (PARTITION BY cell "
    "    ORDER BY proto_cos, vec_id) AS BIGINT) AS cell_rank, "
    "  count(*) OVER (PARTITION BY cell) AS cn FROM a) "
    "SELECT vec_id, cell, proto_cos, cell_rank, "
    "cell_rank <= CAST(ceil(0.5 * cn) AS BIGINT) AS kept FROM r",
)
def llm_prototype_prune(spark, sf):
    """Prototypicality pruning (operators/similarity.py::prototype_prune
    — Sorscher et al.'s SSL-prototypes metric): every embedding scored
    by cosine to its nearest of 4 exemplar centroids (the 4 vectors
    with smallest md5(vec_id) — deterministic, both engines rebuild
    them), ranked hard-first within its cell, and the keep-half cut
    ``cell_rank <= ceil(0.5·|cell|)`` emitted as the ``kept`` flag.
    Runs the ``assign="exact"`` face: the exemplar matrix rides the
    plan as a literal and assignment is the argmax of ROUNDED-6
    codegen cosines (first-max tie = lowest cell, the array_position
    semantics DuckDB's list_position shares) — no join, no Python, no
    shuffle before the cell-rank window. The production
    ``assign="gemm"`` face (sampled k-means fit + mapInPandas GEMM
    assignment) is pinned against this one by pytest."""
    from .operators import prototype_prune, unit_normalize

    e = unit_normalize(load_table(spark, sf, "embeddings").to_spark()).select(
        "vec_id", "embedding"
    )
    ex = (
        e.withColumn("_m", F.md5(F.col("vec_id").cast("string")))
        .orderBy("_m", "vec_id")
        .limit(4)
        .collect()  # bounded: the 4 exemplar rows
    )
    cents = [list(r["embedding"]) for r in ex]
    return prototype_prune(
        e,
        0.5,
        id_col="vec_id",
        centroids=cents,
        assign="exact",
        normalize_centroids=False,
    )


@query(
    "llm_curriculum",
    "WITH t AS (SELECT doc_id, "
    "  CAST(len(regexp_extract_all(text, "
    "  '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tok "
    "  FROM documents), "
    "r AS (SELECT doc_id, n_tok, "
    "  CAST(ROW_NUMBER() OVER (ORDER BY n_tok, doc_id) AS BIGINT) AS rank, "
    "  CAST(count(*) OVER () AS BIGINT) AS cnt FROM t) "
    "SELECT doc_id, n_tok, rank, "
    "CAST(((rank - 1) * 4) // cnt AS BIGINT) AS stage FROM r",
)
def llm_curriculum(spark, sf):
    """Curriculum staging (operators/sampling.py::curriculum_stages):
    every document ranked globally by pre-token count (short/easy
    first, doc_id tie-break) and cut into 4 equal-width training
    stages — exact integer arithmetic ``stage = ((rank-1)·4) div N``.
    The DuckDB oracle IS the naive one-task global window
    (``ROW_NUMBER() OVER (ORDER BY …)``); the operator computes the
    identical total order with the scale-safe two-phase shape instead
    (range repartition + per-partition offsets as a dense literal +
    the monotonic-id ordinal — global_shuffle's machinery pointed at a
    score), so the hash match proves the distributed rank ≡ the global
    window, stage boundaries included."""
    from .operators.sampling import curriculum_stages
    from .operators.text import bpe_token_count

    d = load_table(spark, sf, "documents").to_spark().select(
        "doc_id", bpe_token_count(F.col("text")).alias("n_tok")
    )
    return curriculum_stages(d, "n_tok", 4, id_col="doc_id")


@query(
    "llm_dynamic_batches",
    "WITH t AS (SELECT doc_id, least(greatest(coalesce("
    "  CAST(len(regexp_extract_all(text, "
    "  '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT), 0), 1), 512) AS n "
    "  FROM documents), "
    "b AS (SELECT doc_id, n, "
    "  CAST(list_min(list_filter([16, 32, 64, 128, 256, 512], "
    "    b -> b >= n)) AS BIGINT) AS padded_len, "
    "  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) "
    "    % 4 AS shard, "
    "  md5(CAST(doc_id AS VARCHAR)) AS o FROM t), "
    "a AS (SELECT padded_len, shard, n, "
    "  CAST((ROW_NUMBER() OVER (PARTITION BY padded_len, shard "
    "    ORDER BY o, doc_id) - 1) // 8 AS BIGINT) AS batch_id FROM b) "
    "SELECT padded_len, shard, batch_id, "
    "CAST(count(*) AS BIGINT) AS n_seqs, "
    "CAST(sum(n) AS BIGINT) AS sum_tokens, "
    "round(1.0 - sum(n) / CAST(count(*) * padded_len AS DOUBLE), 6) "
    "AS waste_pct "
    "FROM a GROUP BY 1, 2, 3",
)
def llm_dynamic_batches(spark, sf):
    """Length-bucketed inference batch plan (operators/packing.py::
    dynamic_batches — the serving-side sibling of the FFD packer):
    every document lands in the smallest power-of-two padding bucket
    that fits its pre-token count (clamped to [1, 512]), batches of 8
    are cut inside each (bucket, md5-shard), and the card reports each
    batch's size, real tokens, and padding-waste fraction of the
    n×padded_len rectangle the accelerator executes. The whole plan is
    a pure function of the data (md5 shard + md5 order), so the oracle
    replays it exactly: same clamp, same literal bucket array, same
    ROW_NUMBER cut, same single double division. One hash shuffle on
    (bucket, shard) serves both the window and the rollup — shards
    bound every window partition, never a global sort."""
    from .operators.packing import dynamic_batches
    from .operators.text import bpe_token_count

    d = load_table(spark, sf, "documents").to_spark().select(
        "doc_id", bpe_token_count(F.col("text")).alias("n_tok")
    )
    return dynamic_batches(
        d, "n_tok", id_col="doc_id", batch_size=8, max_len=512, n_shards=4
    )


@query(
    "llm_corpus_overlap",
    "WITH t AS (SELECT source, "
    f"  list_filter(string_split({_NORM_SQL}, ' '), t -> t <> '') AS toks "
    "  FROM documents), "
    "sh AS (SELECT DISTINCT g, s FROM ("
    "  SELECT source AS g, unnest(list_transform(range(1, len(toks) - 1), "
    "    i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS s "
    "  FROM t WHERE len(toks) >= 3)), "
    "sz AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY g), "
    "inter AS (SELECT a.g AS ga, b.g AS gb, "
    "  CAST(count(*) AS BIGINT) AS ni "
    "  FROM sh a JOIN sh b ON a.s = b.s AND a.g < b.g GROUP BY 1, 2) "
    "SELECT sa.g AS group_a, sb.g AS group_b, "
    "CAST(coalesce(i.ni, 0) AS BIGINT) AS n_inter, "
    "sa.n AS n_a, sb.n AS n_b, "
    "round(coalesce(i.ni, 0) / "
    "  CAST(sa.n + sb.n - coalesce(i.ni, 0) AS DOUBLE), 6) AS jaccard "
    "FROM sz sa JOIN sz sb ON sa.g < sb.g "
    "LEFT JOIN inter i ON i.ga = sa.g AND i.gb = sb.g",
)
def llm_corpus_overlap(spark, sf):
    """Corpus-comparison matrix (operators/dedup.py::corpus_overlap):
    EXACT pairwise Jaccard between the 20 sources' distinct 3-gram
    shingle sets — the "how much of source B is already in source A"
    table a data card publishes before mixing sources, computed without
    ever touching a document pair: one partial-aggregated distinct
    (group, shingle-hash) relation, a shingle-keyed self-join whose
    per-key fan-out is bounded by |groups|, and inclusion-exclusion
    unions from the per-group sizes; zero-overlap pairs surface as
    jaccard 0.0 through the bounded |groups|² pair frame. The operator
    joins on 8-byte xxhash64 shingle keys (the minhash_signatures
    compression); the oracle counts the raw shingle strings — a hash
    match additionally witnesses injectivity on this corpus."""
    from .operators import corpus_overlap

    d = load_table(spark, sf, "documents")
    return corpus_overlap(d.to_spark(), "source", "text", shingle_n=3)


@query(
    "llm_zipf_fit",
    "WITH toks AS (SELECT unnest(list_filter(string_split("
    "  lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '), "
    "  t -> t <> '')) AS tok FROM documents), "
    "counts AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt "
    "  FROM toks GROUP BY tok), "
    "tot AS (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n_tokens, "
    "  CAST(count(*) AS BIGINT) AS vocab_size FROM counts), "
    "head AS (SELECT tok, cnt FROM counts "
    "  ORDER BY cnt DESC, tok LIMIT 256), "
    "pts AS (SELECT "
    "  round(ln(CAST(row_number() OVER (ORDER BY cnt DESC, tok) "
    "    AS DOUBLE)), 6) AS x, "
    "  round(ln(CAST(cnt AS DOUBLE)), 6) AS y FROM head), "
    "s AS (SELECT CAST(count(*) AS DOUBLE) AS n, "
    "  CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx, "
    "  CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy, "
    "  CAST(sum(CAST(x * y AS DECIMAL(18,6))) AS DOUBLE) AS sxy, "
    "  CAST(sum(CAST(x * x AS DECIMAL(18,6))) AS DOUBLE) AS sxx, "
    "  CAST(sum(CAST(y * y AS DECIMAL(18,6))) AS DOUBLE) AS syy FROM pts) "
    "SELECT t.n_tokens, t.vocab_size, CAST(s.n AS BIGINT) AS top_v, "
    "round((s.n * s.sxy - s.sx * s.sy) / "
    "  nullif(s.n * s.sxx - s.sx * s.sx, 0.0), 6) AS zipf_slope, "
    "round((s.sy - ((s.n * s.sxy - s.sx * s.sy) / "
    "  nullif(s.n * s.sxx - s.sx * s.sx, 0.0)) * s.sx) / s.n, 6) "
    "  AS zipf_intercept, "
    "round((s.n * s.sxy - s.sx * s.sy) * (s.n * s.sxy - s.sx * s.sy) / "
    "  (nullif(s.n * s.sxx - s.sx * s.sx, 0.0) * "
    "   nullif(s.n * s.syy - s.sy * s.sy, 0.0)), 6) AS zipf_r2 "
    "FROM tot t, s",
)
def llm_zipf_fit(spark, sf):
    """Zipf's-law corpus card (operators/text.py::zipf_fit): OLS fit of
    ln(freq) ~ ln(rank) over the 256 most frequent whitespace tokens,
    plus the corpus volume counters — the one-glance head-shape health
    check (natural text sits near slope -1; boilerplate floods flatten
    it). One map-side-combined token rollup, TakeOrderedAndProject head,
    DECIMAL-summed OLS over the bounded point set; the oracle recomputes
    the identical rounded per-point ln terms and closed-form divisions,
    so a hash match pins rank ties, the decimal sums, and the degenerate-
    variance NULL guard cross-engine."""
    from .operators import zipf_fit

    d = load_table(spark, sf, "documents")
    return zipf_fit(d.to_spark(), "text", "doc_id", top_k=256)


#: deterministic credential injection shared by the Spark entry and the
#: DuckDB oracle: every 7th document gains a key=value credential whose
#: value is an md5 hex blob (hits kv_secret AND hex_blob), every 13th an
#: AWS-shaped access key id (upper-hex is a subset of [0-9A-Z]); the
#: CASE order resolves doc_id 0 (both residues) to the kv arm in both
#: engines.
def _secret_corpus(d):
    did = F.col("doc_id").cast("string")
    return d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" api_key="), F.md5(did)),
        )
        .when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                F.col("text"),
                F.lit(" AKIA"),
                F.upper(F.substring(F.md5(F.md5(did)), 1, 16)),
            ),
        )
        .otherwise(F.col("text")),
    )


_SECRET_CORPUS_SQL = (
    "(SELECT doc_id, CASE "
    "WHEN doc_id % 7 = 0 THEN text || ' api_key=' || "
    "  md5(CAST(doc_id AS VARCHAR)) "
    "WHEN doc_id % 13 = 0 THEN text || ' AKIA' || "
    "  upper(substr(md5(md5(CAST(doc_id AS VARCHAR))), 1, 16)) "
    "ELSE text END AS text FROM documents)"
)

_SECRET_MASK_SQL = (
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace(text, "
    "'\\bAKIA[0-9A-Z]{16}\\b', '<SECRET>', 'g'), "
    "'(?i)\\b(?:api[_-]?key|secret|token|passwd|password)\\s*[=:]\\s*[^\\s]+', "
    "'<SECRET>', 'g'), "
    "'\\b[0-9a-fA-F]{32,}\\b', '<SECRET>', 'g'), "
    "'[A-Za-z0-9+/]{40,}={0,2}', '<SECRET>', 'g')"
)


@query(
    "llm_secrets_scan",
    f"WITH base AS (SELECT * FROM {_SECRET_CORPUS_SQL}) "
    "SELECT doc_id, "
    "CAST(len(regexp_extract_all(text, "
    "  '\\bAKIA[0-9A-Z]{16}\\b')) AS BIGINT) AS n_aws_key, "
    "CAST(len(regexp_extract_all(text, "
    "  '(?i)\\b(?:api[_-]?key|secret|token|passwd|password)"
    "\\s*[=:]\\s*[^\\s]+')) AS BIGINT) AS n_kv_secret, "
    "CAST(len(regexp_extract_all(text, "
    "  '\\b[0-9a-fA-F]{32,}\\b')) AS BIGINT) AS n_hex_blob, "
    "CAST(len(regexp_extract_all(text, "
    "  '[A-Za-z0-9+/]{40,}={0,2}')) AS BIGINT) AS n_b64_blob, "
    "CAST(len(regexp_extract_all(text, '\\bAKIA[0-9A-Z]{16}\\b')) "
    " + len(regexp_extract_all(text, "
    "  '(?i)\\b(?:api[_-]?key|secret|token|passwd|password)"
    "\\s*[=:]\\s*[^\\s]+')) "
    " + len(regexp_extract_all(text, '\\b[0-9a-fA-F]{32,}\\b')) "
    " + len(regexp_extract_all(text, '[A-Za-z0-9+/]{40,}={0,2}')) "
    "  AS BIGINT) AS n_secrets, "
    "(len(regexp_extract_all(text, '\\bAKIA[0-9A-Z]{16}\\b')) "
    " + len(regexp_extract_all(text, "
    "  '(?i)\\b(?:api[_-]?key|secret|token|passwd|password)"
    "\\s*[=:]\\s*[^\\s]+')) "
    " + len(regexp_extract_all(text, '\\b[0-9a-fA-F]{32,}\\b')) "
    " + len(regexp_extract_all(text, '[A-Za-z0-9+/]{40,}={0,2}')) "
    "  > 0) AS has_secret, "
    f"{_SECRET_MASK_SQL} AS text "
    "FROM base",
)
def llm_secrets_scan(spark, sf):
    """Credential scan + scrub (operators/text.py::secrets_scan) over a
    corpus with deterministic md5-derived injected secrets (the clean
    synthetic corpus carries none — the injection, replayed identically
    by the oracle, gives the card true positives in every class the data
    can express): per-class counts, total, flag, and the masked text.
    Pure per-row codegen regex both engines; the hash match pins the
    pattern semantics (Java regex vs RE2), the class precedence in the
    mask chain, and the overlap contract (a kv_secret's md5 value also
    counts as hex_blob by design)."""
    from .operators import secrets_scan

    d = load_table(spark, sf, "documents")
    return secrets_scan(_secret_corpus(d.to_spark()), "text", "doc_id").select(
        "doc_id", "n_aws_key", "n_kv_secret", "n_hex_blob", "n_b64_blob",
        "n_secrets", "has_secret", "text",
    )


#: deterministic encoding-damage injection shared by the Spark entry and
#: the oracle: every 9th document is double-decoded (every 'e' becomes
#: the mojibake digraph), every 17th gains one U+FFFD replacement char.
_MOJI_CORPUS_SQL = (
    "(SELECT doc_id, CASE "
    "WHEN doc_id % 9 = 0 THEN regexp_replace(text, 'e', 'Ã©', 'g') "
    "WHEN doc_id % 17 = 0 THEN text || '�' "
    "ELSE text END AS text FROM documents)"
)


def _moji_corpus(d):
    return d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 9 == 0,
            F.regexp_replace(F.col("text"), "e", "\u00c3\u00a9"),
        )
        .when(
            F.col("doc_id") % 17 == 0,
            F.concat(F.col("text"), F.lit("\ufffd")),
        )
        .otherwise(F.col("text")),
    )


@query(
    "llm_mojibake",
    f"WITH base AS (SELECT * FROM {_MOJI_CORPUS_SQL}) "
    "SELECT doc_id, "
    "CAST(len(regexp_extract_all(text, '�')) AS BIGINT) "
    "  AS n_replacement, "
    "CAST(len(regexp_extract_all(text, "
    "  '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]')) AS BIGINT) "
    "  AS n_control, "
    "CAST(len(regexp_extract_all(text, 'Ã©|Ã¨|Ã¼|Ã¶|Ã¤|Ã±|Ã§|â€™|â€œ|â€“|â€”|Â«|Â»|Â°')) AS BIGINT) "
    "  AS n_mojibake, "
    "CAST(length(text) AS BIGINT) AS n_chars, "
    "round(CAST(len(regexp_extract_all(text, '�')) "
    " + len(regexp_extract_all(text, "
    "  '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]')) "
    " + (length(text) - length(regexp_replace(text, 'Ã©|Ã¨|Ã¼|Ã¶|Ã¤|Ã±|Ã§|â€™|â€œ|â€“|â€”|Â«|Â»|Â°', '', 'g'))) AS DOUBLE) / "
    " CAST(greatest(length(text), 1) AS DOUBLE), 6) AS bad_char_ratio, "
    "(round(CAST(len(regexp_extract_all(text, '�')) "
    " + len(regexp_extract_all(text, "
    "  '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]')) "
    " + (length(text) - length(regexp_replace(text, 'Ã©|Ã¨|Ã¼|Ã¶|Ã¤|Ã±|Ã§|â€™|â€œ|â€“|â€”|Â«|Â»|Â°', '', 'g'))) AS DOUBLE) / "
    " CAST(greatest(length(text), 1) AS DOUBLE), 6) <= 0.001) "
    "  AS encoding_ok "
    "FROM base",
)
def llm_mojibake(spark, sf):
    """Encoding-damage card (operators/text.py::encoding_quality) over a
    corpus with deterministic injected damage (every 9th doc
    double-decoded to mojibake digraphs, every 17th given a U+FFFD):
    per-class artifact counts, the damaged-char ratio, and the
    encoding_ok verdict at the 0.1% threshold. Pure per-row codegen
    regex both engines; the hash match pins the digraph alternation, the
    C0/DEL class (tab/CR/LF excluded), and the ratio arithmetic
    cross-engine."""
    from .operators import encoding_quality

    d = load_table(spark, sf, "documents")
    return encoding_quality(_moji_corpus(d.to_spark()), "text", "doc_id").select(
        "doc_id", "n_replacement", "n_control", "n_mojibake", "n_chars",
        "bad_char_ratio", "encoding_ok",
    )



@query(
    "llm_triplets",
    "WITH s AS (SELECT q.vec_id AS q_id, q.label AS ql, "
    "  c.vec_id AS c_id, c.label AS cl, "
    "  round(list_inner_product(q.embedding::DOUBLE[], "
    "    c.embedding::DOUBLE[]), 6) AS cos "
    "  FROM embeddings c, embeddings q WHERE q.vec_id < 16), "
    "p AS (SELECT q_id, max(struct_pack(c := cos, i := -c_id)) AS m "
    "  FROM s WHERE cl = ql AND c_id <> q_id GROUP BY q_id) "
    "SELECT s.q_id, CAST(-(p.m.i) AS BIGINT) AS pos_id, p.m.c AS pos_cos, "
    "s.c_id AS neg_id, s.cos AS neg_cos, "
    "round(p.m.c - s.cos, 6) AS margin, "
    "CAST(row_number() OVER (PARTITION BY s.q_id "
    "  ORDER BY s.cos DESC, s.c_id) AS BIGINT) AS r "
    "FROM s JOIN p ON s.q_id = p.q_id "
    "WHERE s.cl <> s.ql AND s.cos < p.m.c "
    "QUALIFY r <= 3",
)
def llm_triplets(spark, sf):
    """Semi-hard triplet mining (operators/similarity.py::mine_triplets,
    the FaceNet selection rule): for each of 16 anchors, the nearest
    same-label positive and the 3 hardest different-label negatives
    still farther than the positive. One broadcast corpus scan; the
    positive's conditional max-struct window and the hardness-rank
    window share a single q_id exchange. The oracle replays the
    selection with a grouped max(struct) + rank window — the hash match
    pins the semi-hard band boundary (strict cos < pos_cos), both
    tie-breaks, and the no-positive drop rule cross-engine."""
    from .operators import mine_triplets

    e = load_table(spark, sf, "embeddings")
    anchors = e.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("q_id"), "embedding", "label"
    )
    return mine_triplets(e.to_spark(), anchors.to_spark(), n_neg=3)


@query(
    "llm_rrf_fusion",
    "WITH d AS (SELECT doc_id, list_filter(string_split("
    f"lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '), t -> t <> '') AS toks FROM documents), "
    "t AS (SELECT doc_id, toks, len(toks) AS dl FROM d WHERE len(toks) > 0), "
    "stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, "
    "  CAST(sum(dl) AS DOUBLE) AS tot_len FROM t), "
    "g AS (SELECT doc_id, dl, unnest(toks) AS term FROM t), "
    "h AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl FROM g "
    f"  WHERE term IN ('hash', 'spark', 'window') "
    "  GROUP BY doc_id, term), "
    "hd AS (SELECT *, count(*) OVER (PARTITION BY term) AS df FROM h), "
    "sc AS (SELECT doc_id, CAST(round("
    "  ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2 "
    "  / (tf + 1.2 * (0.25 + 0.75 * dl / (tot_len / n_docs))), 6) "
    "  AS DECIMAL(18,6)) AS s FROM hd, stats), "
    "bmtop AS (SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id "
    "  ORDER BY score DESC, doc_id LIMIT 20), "
    "bm AS (SELECT doc_id, row_number() OVER "
    "  (ORDER BY score DESC, doc_id) AS r FROM bmtop), "
    "co AS (SELECT c.vec_id AS doc_id, "
    "  row_number() OVER (ORDER BY "
    "    round(list_inner_product(q.embedding::DOUBLE[], "
    "      c.embedding::DOUBLE[]), 6) DESC, c.vec_id) AS r "
    "  FROM embeddings c, embeddings q WHERE q.vec_id = 0 "
    "  QUALIFY r <= 20), "
    "u AS (SELECT doc_id, CAST(round(1.0 / (60.0 + r), 6) "
    "    AS DECIMAL(18,6)) AS c FROM bm "
    "  UNION ALL SELECT doc_id, CAST(round(1.0 / (60.0 + r), 6) "
    "    AS DECIMAL(18,6)) AS c FROM co), "
    "f AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_rankers, "
    "  CAST(sum(c) AS DOUBLE) AS rrf_score FROM u GROUP BY doc_id) "
    "SELECT doc_id, n_rankers, rrf_score, "
    "CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) "
    "  AS BIGINT) AS rank FROM f QUALIFY rank <= 20",
)
def llm_rrf_fusion(spark, sf):
    """Hybrid-retrieval fusion (operators/similarity.py::
    reciprocal_rank_fusion, Cormack et al. 2009): the BM25 lexical
    top-20 (llm_bm25's exact scorer) and the exact-cosine semantic
    top-20 for one query vector, fused score-free by summed
    1/(60+rank) — the standard combiner when lexical scores and
    cosines are not commensurable (doc_id and vec_id share the id
    space in this corpus). Both rankers arrive as bounded top-k
    relations, so the union/rollup/final-rank stage moves at most 40
    rows. The oracle replays both rankers and the fused rank; the hash
    match pins the contribution rounding, the DECIMAL sum, the missing-
    from-one-list semantics (n_rankers), and both rank tie-breaks."""
    from pyspark.sql import Window

    from .operators import brute_force_topk, reciprocal_rank_fusion
    from .operators.text import bm25_scores

    d = load_table(spark, sf, "documents")
    e = load_table(spark, sf, "embeddings")
    wbm = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    lexical = bm25_scores(d.to_spark(), _BM25_TERMS, top_k=20).select(
        "doc_id", F.row_number().over(wbm).alias("r")
    )
    qv = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    semantic = brute_force_topk(e.to_spark(), qv.to_spark(), k=20).select(
        F.col("vec_id").alias("doc_id"), "r"
    )
    return reciprocal_rank_fusion([lexical, semantic], k0=60, top_k=20)



@query(
    "llm_pack_tokens",
    "WITH toks AS (SELECT doc_id, list_transform(regexp_extract_all(text, "
    "  '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'), "
    "  t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 32768) AS ids "
    "  FROM documents), "
    "tl AS (SELECT doc_id, ids, len(ids) AS n FROM toks WHERE len(ids) > 0), "
    "cum AS (SELECT doc_id, ids, n, "
    "  SUM(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING "
    "    AND CURRENT ROW) - n AS s FROM tl), "
    "expl AS (SELECT doc_id, ids, n, s, unnest(range("
    "  CAST(s // 512 AS BIGINT), CAST((s + n - 1) // 512 + 1 AS BIGINT))) "
    "  AS k FROM cum), "
    "sl AS (SELECT k, s, ids, "
    "  greatest(s, k * 512) - s AS tok_start, "
    "  least(s + n, (k + 1) * 512) - greatest(s, k * 512) AS tok_len, "
    "  row_number() OVER (PARTITION BY k ORDER BY s) - 1 AS seg FROM expl) "
    "SELECT CAST(k AS BIGINT) AS seq_id, "
    "CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(tok_len) AS BIGINT) AS n_tokens, "
    "array_to_string(list_transform("
    "  flatten(list(list_slice(ids, tok_start + 1, tok_start + tok_len) "
    "    ORDER BY s)), x -> CAST(x AS VARCHAR)), ',') AS token_ids, "
    "array_to_string(list_transform("
    "  flatten(list(list_transform(range(CAST(tok_len AS BIGINT)), "
    "    x -> CAST(seg AS BIGINT)) "
    "    ORDER BY s)), x -> CAST(x AS VARCHAR)), ',') AS segment_ids "
    "FROM sl GROUP BY k",
)
def llm_pack_tokens(spark, sf):
    """Materialized packed corpus (operators/packing.py::
    pack_token_arrays over operators/text.py::hashed_token_ids): the
    full export step — md5-hashed 15-bit token ids, concat-and-chunk
    packed at seq_len 512, emitted as one row per training sequence
    with the concatenated token_ids array and the within-sequence
    segment_ids (position-reset) array, each comma-joined to a scalar
    string (the llm_quantize convention — the compare harness hashes
    scalars and cannot sort list-typed columns). The oracle replays the
    naive one-task packing plus DuckDB's ordered list aggregation; the
    hash match proves the distributed two-phase offsets, the slice
    join, and the array_sort-of-structs concatenation order reproduce
    the exact token stream, element for element — the strongest
    whole-pipeline pin in the catalog (every upstream token flows into
    the output strings)."""
    from .operators.packing import pack_token_arrays
    from .operators.text import hashed_token_ids

    d = load_table(spark, sf, "documents").to_spark()
    ids = d.select("doc_id", hashed_token_ids("text").alias("ids"))
    packed = pack_token_arrays(ids, 512, "ids")
    return packed.select(
        "seq_id",
        "n_docs",
        "n_tokens",
        F.expr(
            "concat_ws(',', transform(token_ids, x -> cast(x as string)))"
        ).alias("token_ids"),
        F.expr(
            "concat_ws(',', transform(segment_ids, x -> cast(x as string)))"
        ).alias("segment_ids"),
    )



@query(
    "llm_temperature_mix",
    "WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_stratum "
    "  FROM documents WHERE source IS NOT NULL GROUP BY source), "
    "w AS (SELECT source, n_stratum, "
    "  round(pow(CAST(n_stratum AS DOUBLE), 0.5), 6) AS w FROM c), "
    "nm AS (SELECT CAST(sum(CAST(w AS DECIMAL(18,6))) AS DOUBLE) "
    "  AS norm FROM w), "
    "b AS (SELECT source, n_stratum, "
    "  round(130 * w / norm, 6) AS share FROM w, nm), "
    "b2 AS (SELECT source, n_stratum, share, "
    "  CAST(floor(share) AS BIGINT) AS base, "
    "  share - floor(share) AS rem FROM b), "
    "lv AS (SELECT 130 - sum(base) AS leftv FROM b2), "
    "q AS (SELECT source, n_stratum, "
    "  CAST(base + CASE WHEN row_number() OVER "
    "    (ORDER BY rem DESC, CAST(source AS VARCHAR)) <= leftv "
    "    THEN 1 ELSE 0 END AS BIGINT) AS quota FROM b2, lv), "
    "d AS (SELECT doc_id, source, CAST(row_number() OVER "
    "  (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) "
    "  AS BIGINT) AS draw_rank FROM documents WHERE source IS NOT NULL) "
    "SELECT d.doc_id, d.source, q.n_stratum, q.quota, d.draw_rank "
    "FROM d JOIN q ON d.source = q.source WHERE d.draw_rank <= q.quota",
)
def llm_temperature_mix(spark, sf):
    """Temperature-scaled mixture resampling (operators/packing.py::
    temperature_mixture — the XLM-R/mT5 n^alpha balancing rule at
    alpha=0.5, total 130): stratum weights DERIVED from the data
    (sqrt of each source's count), largest-remainder quotas computed
    entirely in the plan with the decimal-normalized rounded-share
    arithmetic, each source keeping its first quota rows in md5 order.
    On this corpus every source ties at remainder 0.5, so the hash
    match specifically pins the deterministic leftover tie-break (the
    first 10 sources by string order get the extra slot) along with
    the floor/share arithmetic and the draw, cross-engine."""
    from .operators.packing import temperature_mixture

    d = load_table(spark, sf, "documents")
    return temperature_mixture(d.to_spark(), 0.5, 130, "source", "doc_id")


@query(
    "llm_source_quality",
    "WITH q AS (SELECT source, "
    "round(0.4 * least(n_tokens / 100.0, 1.0) + 0.3 * (1.0 - punct_ratio) "
    "      + 0.3 * stopword_ratio, 6) AS quality_score "
    "FROM ("
    "  SELECT source, CAST(len(toks) AS BIGINT) AS n_tokens, "
    "         CASE WHEN length(text) > 0 THEN "
    "           (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) "
    "           / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS punct_ratio, "
    "         CASE WHEN len(toks) > 0 THEN "
    "           len(list_filter(toks, t -> list_contains(__SW_EN__, t))) "
    "           / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS stopword_ratio "
    "  FROM (SELECT source, text, list_filter(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '), "
    "    t -> t <> '') AS toks FROM documents))), "
    "a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
    "  CAST(sum(CAST(quality_score AS DECIMAL(18,6))) AS DOUBLE) AS sq, "
    "  CAST(sum(CASE WHEN quality_score >= 0.5 THEN 1 ELSE 0 END) "
    "    AS BIGINT) AS n_good FROM q GROUP BY source) "
    "SELECT source, n_docs, round(sq / n_docs, 6) AS mean_score, n_good, "
    "round(CAST(n_good AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS good_rate, "
    "round(greatest((CAST(n_good AS DOUBLE) / CAST(n_docs AS DOUBLE) "
    "    + 3.8415999999999997 / (2.0 * CAST(n_docs AS DOUBLE))) "
    "  / (1.0 + 3.8415999999999997 / CAST(n_docs AS DOUBLE)) "
    "  - 1.96 * sqrt(CAST(n_good AS DOUBLE) / CAST(n_docs AS DOUBLE) "
    "      * (1.0 - CAST(n_good AS DOUBLE) / CAST(n_docs AS DOUBLE)) "
    "      / CAST(n_docs AS DOUBLE) "
    "      + 3.8415999999999997 / (4.0 * CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))) "
    "    / (1.0 + 3.8415999999999997 / CAST(n_docs AS DOUBLE)), 0.0), 6) AS wilson_lo, "
    "round(least((CAST(n_good AS DOUBLE) / CAST(n_docs AS DOUBLE) "
    "    + 3.8415999999999997 / (2.0 * CAST(n_docs AS DOUBLE))) "
    "  / (1.0 + 3.8415999999999997 / CAST(n_docs AS DOUBLE)) "
    "  + 1.96 * sqrt(CAST(n_good AS DOUBLE) / CAST(n_docs AS DOUBLE) "
    "      * (1.0 - CAST(n_good AS DOUBLE) / CAST(n_docs AS DOUBLE)) "
    "      / CAST(n_docs AS DOUBLE) "
    "      + 3.8415999999999997 / (4.0 * CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))) "
    "    / (1.0 + 3.8415999999999997 / CAST(n_docs AS DOUBLE)), 1.0), 6) AS wilson_hi "
    "FROM a",
)
def llm_source_quality(spark, sf):
    """Per-source quality triage card (operators/text.py::
    source_quality_report): each source's document count, DECIMAL-summed
    mean quality score, above-0.5 share, and the 95% Wilson score
    interval around that share — the card that says whether an observed
    source difference is signal or sample noise. One per-row scoring
    scan + one map-side-combined rollup; the oracle replays the scoring
    and the Wilson arithmetic with identical expression shapes, so the
    hash match pins the interval math (including the clamp to [0,1])
    cross-engine."""
    from .operators import source_quality_report

    d = load_table(spark, sf, "documents")
    return source_quality_report(d.to_spark(), threshold=0.5)


@query(
    "llm_distinctive_terms",
    "WITH toks AS (SELECT source, unnest(list_filter(string_split("
    "  lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '), t -> t <> '')) AS term FROM documents), "
    "tf AS (SELECT source, term, CAST(count(*) AS BIGINT) AS y "
    "  FROM toks GROUP BY source, term), "
    "tw AS (SELECT source, term, y, "
    "  CAST(sum(y) OVER (PARTITION BY term) AS BIGINT) AS yw FROM tf), "
    "gt AS (SELECT source, CAST(sum(y) AS BIGINT) AS ni "
    "  FROM tf GROUP BY source), "
    "nt AS (SELECT CAST(sum(y) AS BIGINT) AS n FROM tf), "
    "sc AS (SELECT tw.source, tw.term, tw.y, tw.yw, "
    "  round((ln((CAST(y AS DOUBLE) + 100.0 * CAST(yw AS DOUBLE) "
    "      / CAST(n AS DOUBLE)) "
    "    / (CAST(ni AS DOUBLE) + 100.0 - CAST(y AS DOUBLE) "
    "      - 100.0 * CAST(yw AS DOUBLE) / CAST(n AS DOUBLE))) "
    "  - ln((CAST(yw - y AS DOUBLE) + 100.0 * CAST(yw AS DOUBLE) "
    "      / CAST(n AS DOUBLE)) "
    "    / (CAST(n - ni AS DOUBLE) + 100.0 - CAST(yw - y AS DOUBLE) "
    "      - 100.0 * CAST(yw AS DOUBLE) / CAST(n AS DOUBLE)))) "
    "  / sqrt(1.0 / (CAST(y AS DOUBLE) + 100.0 * CAST(yw AS DOUBLE) "
    "      / CAST(n AS DOUBLE)) "
    "    + 1.0 / (CAST(yw - y AS DOUBLE) + 100.0 * CAST(yw AS DOUBLE) "
    "      / CAST(n AS DOUBLE))), 6) AS zscore "
    "  FROM tw JOIN gt ON tw.source = gt.source, nt) "
    "SELECT source, term, y AS n_in_stratum, yw AS n_corpus, zscore, "
    "CAST(row_number() OVER (PARTITION BY source "
    "  ORDER BY zscore DESC, term) AS BIGINT) AS rank "
    "FROM sc QUALIFY rank <= 5",
)
def llm_distinctive_terms(spark, sf):
    """Per-source distinctive vocabulary (operators/text.py::
    distinctive_terms — Monroe et al. 2008 weighted log-odds with an
    informative Dirichlet prior, alpha0=100): each source's top-5 terms
    by the z-scored log-odds against the rest of the corpus — the
    "what makes this source different" card that tf-idf noise-ranks
    wrong. One (source, term) rollup; corpus totals ride a term window
    over that relation; stratum/corpus totals broadcast back. The
    oracle replays the prior, both log-odds, the variance, and the
    per-source rank; the hash match pins the full scoring pipeline
    cross-engine."""
    from .operators import distinctive_terms

    d = load_table(spark, sf, "documents")
    return distinctive_terms(d.to_spark(), top_k=5)


@query(
    "llm_length_ks",
    "WITH s AS (SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c "
    "  FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL "
    "  GROUP BY source, n_chars), "
    "dv AS (SELECT v, CAST(sum(c) AS BIGINT) AS cv FROM s GROUP BY v), "
    "st AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns "
    "  FROM s GROUP BY source), "
    "nt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM s), "
    "g AS (SELECT st.source, st.ns, dv.v, dv.cv, "
    "  CAST(coalesce(x.c, 0) AS BIGINT) AS cs "
    "  FROM st CROSS JOIN dv "
    "  LEFT JOIN s x ON x.source = st.source AND x.v = dv.v), "
    "cum AS (SELECT source, ns, v, "
    "  SUM(cs) OVER (PARTITION BY source ORDER BY v "
    "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cums, "
    "  SUM(cv) OVER (PARTITION BY source ORDER BY v "
    "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc "
    "  FROM g), "
    "d AS (SELECT source, ns, v, CASE WHEN n > ns THEN "
    "  round(abs(CAST(cums AS DOUBLE) / CAST(ns AS DOUBLE) "
    "    - CAST(cumc - cums AS DOUBLE) / CAST(n - ns AS DOUBLE)), 6) "
    "  END AS dd FROM cum, nt), "
    "m AS (SELECT source, max(ns) AS ns, "
    "  max(struct_pack(d := dd, mv := -v)) AS t FROM d GROUP BY source) "
    "SELECT m.source, m.ns AS n_stratum, "
    "CAST(nt.n - m.ns AS BIGINT) AS n_rest, m.t.d AS ks_stat, "
    "CAST(CASE WHEN m.t.d IS NOT NULL THEN -(m.t.mv) END AS BIGINT) "
    "  AS ks_at_value "
    "FROM m, nt",
)
def llm_length_ks(spark, sf):
    """Per-source length-distribution divergence (operators/
    maintenance.py::stratified_ks): the EXACT two-sample KS statistic of
    every source's n_chars distribution against the rest of the corpus,
    plus the value where the supremum is attained — the unbinned
    companion to the sketch-store's binned KS (q92 family), run when
    the question is "is this source's length profile actually
    different, and where". Documents never survive the first rollup;
    the grid is |sources| x |distinct lengths|. The oracle replays the
    full ECDF grid with one-task windows; the hash match pins the
    pre-max rounding (no last-ulp argmax flips), the argmax tie-break,
    and the exact supremum cross-engine."""
    from .operators import stratified_ks

    d = load_table(spark, sf, "documents")
    return stratified_ks(d.to_spark(), "n_chars", "source")



#: shared DuckDB replay of pool_embeddings (normalized mean-pool per
#: group over a filtered embeddings relation) — used by llm_embed_pool
#: and both halves of llm_centroid_drift.
def _pool_sql(where: str, out_n: str, out_c: str) -> str:
    return (
        "(WITH ex AS (SELECT label AS g, "
        "  generate_subscripts(embedding, 1) AS i, "
        "  unnest(embedding)::DOUBLE AS x FROM embeddings" + where + "), "
        "d AS (SELECT g, i, "
        "  CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS s, "
        "  CAST(count(*) AS BIGINT) AS c FROM ex GROUP BY g, i), "
        "p AS (SELECT g, max(c) AS nv, "
        "  list(floor(s / c * 1e6 + 0.5) / 1e6 ORDER BY i) "
        "    AS cen FROM d GROUP BY g), "
        "n AS (SELECT g, nv, cen, "
        "  sqrt(list_reduce(list_transform(cen, x -> x * x), "
        "    (a, b) -> a + b)) AS nm FROM p) "
        f"SELECT g AS label, nv AS {out_n}, "
        "list_transform(cen, x -> "
        "  floor(x / nullif(nm, 0.0) * 1e6 + 0.5) / 1e6) "
        f"  AS {out_c} FROM n)"
    )


@query(
    "llm_embed_pool",
    "SELECT label, n_vectors, "
    "array_to_string(list_transform(centroid, "
    "  x -> CAST(CAST(round(x * 1000000) AS BIGINT) AS VARCHAR)), ',') "
    "AS centroid FROM " + _pool_sql("", "n_vectors", "centroid") + " AS p",
)
def llm_embed_pool(spark, sf):
    """Normalized mean-pooling of the embedding corpus per label
    (operators/similarity.py::pool_embeddings) — the chunk-to-document
    / class-centroid aggregation step: per-dimension DECIMAL-summed
    means rounded to 6, re-rounded after the L2 division. One
    posexplode rollup (the shuffle carries (group, dim) 16-byte rows,
    never vectors). The declared output serializes the centroid as a
    comma-joined string of micro-units (round(x*1e6) as BIGINT — the
    llm_quantize convention: the compare harness hashes scalars and
    cannot sort list-typed columns; integer micro-units sidestep
    engine-specific float→string formatting). The oracle replays the
    per-dimension sums, the ascending-index norm fold, both roundings,
    and the serialization — the 64-element centroids hash-matched
    element for element."""
    from .operators import pool_embeddings

    e = load_table(spark, sf, "embeddings")
    return pool_embeddings(e.to_spark(), "label").select(
        "label",
        "n_vectors",
        F.expr(
            "concat_ws(',', transform(centroid, "
            "x -> cast(cast(round(x * 1000000) as bigint) as string)))"
        ).alias("centroid"),
    )


@query(
    "llm_centroid_drift",
    "WITH a AS (SELECT * FROM "
    + _pool_sql(" WHERE vec_id % 2 = 0", "n_a", "ca")
    + "), b AS (SELECT * FROM "
    + _pool_sql(" WHERE vec_id % 2 = 1", "n_b", "cb")
    + ") "
    "SELECT a.label, a.n_a, b.n_b, "
    "CASE WHEN round(list_inner_product(a.ca, b.cb), 6) IS NOT NULL THEN "
    "  greatest(least(round(list_inner_product(a.ca, b.cb), 6), 1.0), -1.0) "
    "  END AS centroid_cos, "
    "(CASE WHEN round(list_inner_product(a.ca, b.cb), 6) IS NOT NULL THEN "
    "  greatest(least(round(list_inner_product(a.ca, b.cb), 6), 1.0), -1.0) "
    "  END < 0.99) AS drifted "
    "FROM a JOIN b ON a.label = b.label",
)
def llm_centroid_drift(spark, sf):
    """Embedding-distribution drift per label between the even/odd
    vec_id halves (operators/similarity.py::centroid_drift — the
    embedding-side sibling of the unigram-PSI vocabulary_drift card):
    each half mean-pooled to a normalized centroid, cosine between the
    halves reported with the drifted flag at 0.99. On this synthetic
    corpus the labels carry no geometric structure, so the halves'
    centroids are noise residuals and the cosine sits near zero — the
    card honestly reporting "no stable class centroid", which is
    itself the cross-engine pin (the oracle replays both poolings and
    the dot product exactly)."""
    from .operators import centroid_drift

    e = load_table(spark, sf, "embeddings").to_spark()
    return centroid_drift(
        e.filter(F.col("vec_id") % 2 == 0),
        e.filter(F.col("vec_id") % 2 == 1),
        "label",
    )
