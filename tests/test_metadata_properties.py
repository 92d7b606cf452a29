"""Property-based metadata-propagation invariants (SURVEY.md §5 plan):
random operator chains must never crash the wrapper, always preserve
non-PK metadata, and must never leave a primary_key that the data
violates — the PK is either None or provably unique.

Uses hypothesis to generate op chains over the sales fixture.
"""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from metaframe_spark.core import MetaFrame

#: (name, fn) — each takes and returns a MetaFrame; all are ops a user
#: chains freely. The pool mixes PK-setting, PK-preserving and PK-breaking.
OPS = [
    ("filter_qty", lambda mf: mf.filter(F.col("quantity") > 4)),
    ("select_all", lambda mf: mf.select("product_id", "quantity", "date")),
    ("withcol_new", lambda mf: mf.withColumn("x2", F.col("quantity") * 2)),
    ("withcol_overwrite_qty", lambda mf: mf.withColumn("quantity", F.lit(1))),
    ("drop_extra", lambda mf: mf.drop("x2")),
    ("distinct", lambda mf: mf.distinct()),
    ("dropdup_product", lambda mf: mf.dropDuplicates(["product_id"])),
    ("dropdup_prod_date", lambda mf: mf.dropDuplicates(["product_id", "date"])),
    ("union_self", lambda mf: mf.union(mf)),
    ("limit", lambda mf: mf.limit(15)),
    ("orderby", lambda mf: mf.orderBy("product_id")),
    ("repartition", lambda mf: mf.repartition(2)),
    ("fillna", lambda mf: mf.fillna(0)),
    ("rename_date", lambda mf: mf.withColumnRenamed("date", "dt")),
    ("rename_back", lambda mf: mf.withColumnRenamed("dt", "date")),
    # PK-setting aggregation that keeps the 3-column schema so chains continue
    (
        "groupby_agg",
        lambda mf: mf.groupBy("product_id").agg(
            F.sum("quantity").alias("quantity"), F.max("date").alias("date")
        ),
    ),
    # equi-join on a deduped dim's unique key — exercises PK preservation
    (
        "join_on_unique_dim",
        lambda mf: mf.join(
            mf.dropDuplicates(["product_id"]).select("product_id"),
            "product_id",
            "inner",
        ),
    ),
    # accessor-path value rewrite — exercises the na-hop PK rules
    ("na_fill_all", lambda mf: mf.na.fill(0)),
    ("na_fill_quantity", lambda mf: mf.na.fill(0, subset=["quantity"])),
    # alias an expression onto an existing column name (re-binding)
    (
        "alias_onto_quantity",
        lambda mf: mf.select(
            "product_id", (F.col("quantity") * 0 + 1).alias("quantity"), "date"
        ),
    ),
]


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(chain=st.lists(st.sampled_from(OPS), min_size=1, max_size=5))
def test_random_chain_invariants(spark, sales, chain):
    mf = MetaFrame(sales, {"origin": "sales", "team": "t1"})
    for _name, op in chain:
        try:
            mf = op(mf)
        except Exception:
            # ops referencing columns removed earlier in the chain may
            # legitimately raise AnalysisException at plan time — the
            # invariants below only apply to chains that build valid plans
            return
    assert isinstance(mf, MetaFrame)
    # non-PK metadata always survives
    assert mf.metadata["origin"] == "sales"
    assert mf.metadata["team"] == "t1"
    # the PK invariant: if set, the data must actually be unique on it
    pk = mf.primary_key
    if pk:
        assert set(pk).issubset(set(mf.columns))
        total = mf.count()
        distinct = mf.select(*pk).distinct().count()
        assert total == distinct, f"stale PK {pk} after {[n for n, _ in chain]}"


#: subset-dropDuplicates keeps an arbitrary survivor row per group — both
#: wrapped and raw are nondeterministic there, so the row-equality property
#: uses only deterministic ops (full-row distinct stays in).
DETERMINISTIC_OPS = [
    (n, f) for n, f in OPS if n not in ("dropdup_product", "dropdup_prod_date")
]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(chain=st.lists(st.sampled_from(DETERMINISTIC_OPS), min_size=1, max_size=4))
def test_wrapper_plan_equals_raw_plan(spark, sales, chain):
    """The wrapper must be plan-invisible: the same chain applied to the
    raw DataFrame yields the same rows."""
    mf = MetaFrame(sales, {})
    raw = sales
    try:
        for _name, op in chain:
            mf = op(mf)
            raw = op(raw)
    except Exception:
        return
    got = mf.to_spark()
    assert got.exceptAll(raw).count() == 0
    assert raw.exceptAll(got).count() == 0


# -- packing / mixture property tests (round 6) ------------------------------


class TestPackingProperties:
    """Property-based invariants for operators/packing.py."""

    @given(
        toks=st.lists(st.integers(min_value=0, max_value=2000), min_size=1, max_size=60),
        seq_len=st.integers(min_value=1, max_value=700),
    )
    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    def test_pack_tiles_every_doc_any_shape(self, spark, toks, seq_len):
        from metaframe_spark.operators.packing import pack_sequences

        d = spark.createDataFrame(list(enumerate(toks)), ["doc_id", "n"])
        rows = pack_sequences(d, seq_len, "n").collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, []).append(r)
        total = sum(toks)
        # every positive-token doc fully tiled, in order, no overlap
        for i, n in enumerate(toks):
            if n == 0:
                assert i not in by_doc
                continue
            rs = sorted(by_doc[i], key=lambda r: r.seq_id)
            assert sum(r.tok_len for r in rs) == n
            pos = 0
            for r in rs:
                assert r.tok_start == pos and 1 <= r.tok_len <= seq_len
                pos += r.tok_len
        # global stream exactly covered: per-sequence sums
        per_seq = {}
        for r in rows:
            per_seq[r.seq_id] = per_seq.get(r.seq_id, 0) + r.tok_len
        if total:
            last = (total - 1) // seq_len
            assert set(per_seq) == set(range(last + 1))
            for k, s in per_seq.items():
                assert s == (seq_len if k < last else total - last * seq_len)

    @given(
        weights=st.dictionaries(
            st.text(alphabet="abcdefgh", min_size=1, max_size=4),
            st.floats(min_value=0.001, max_value=100, allow_nan=False),
            min_size=1,
            max_size=8,
        ),
        total=st.integers(min_value=0, max_value=10_000),
    )
    @settings(max_examples=300, deadline=None)
    def test_largest_remainder_apportionment_pure(self, weights, total):
        """The quota arithmetic alone (no Spark): quotas sum EXACTLY to
        total, each within 1 of its exact share, deterministic."""
        from metaframe_spark.operators.packing import largest_remainder_quotas

        quotas = largest_remainder_quotas(weights, total)
        assert sum(quotas.values()) == total
        norm = sum(weights.values())
        for k, w in weights.items():
            exact = total * w / norm
            assert exact - 1 < quotas[k] <= exact + 1
        # determinism: same inputs, same quotas, regardless of dict order
        assert quotas == largest_remainder_quotas(
            dict(reversed(list(weights.items()))), total
        )


class TestHashSplitProperties:
    @given(
        fractions=st.dictionaries(
            st.sampled_from(["train", "val", "test", "dev", "holdout"]),
            st.floats(min_value=0.01, max_value=100, allow_nan=False),
            min_size=1,
            max_size=4,
        ),
        n=st.integers(min_value=1, max_value=300),
    )
    @settings(max_examples=12, deadline=None)
    def test_split_matches_pure_python_md5_draw(self, spark, fractions, n):
        """hash_split is a pure function of the key: an independent Python
        md5 reimplementation assigns every row the same label for ANY
        fraction dict — the cross-engine reproducibility contract."""
        import hashlib
        import math as m

        from metaframe_spark.operators.sampling import hash_split

        df = spark.range(n).withColumnRenamed("id", "doc_id")
        got = {
            r.doc_id: r.split
            for r in hash_split(df, fractions, "doc_id").collect()
        }

        total = m.fsum(float(w) for w in fractions.values())
        labels = sorted(fractions)
        bounds = []
        acc = 0.0
        for label in labels[:-1]:
            acc += float(fractions[label]) / total
            bounds.append((label, acc))
        for i in range(n):
            draw = (
                int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
                / float(2**32)
            )
            want = labels[-1]
            for label, b in bounds:
                if draw < b:
                    want = label
                    break
            assert got[i] == want, (i, fractions)


class TestWebAndEntropyFuzz:
    """Arbitrary-input robustness for the round-7 codegen operators."""

    @given(
        urls=st.lists(
            st.one_of(
                st.none(),
                st.text(max_size=40),
                st.from_regex(
                    r"https?://[a-z0-9.]{1,20}(/[a-z0-9]{0,8}){0,4}(\?q=[0-9]{1,3})?",
                    fullmatch=True,
                ),
            ),
            min_size=1,
            max_size=12,
        )
    )
    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    def test_url_features_never_crashes(self, spark, urls):
        """Garbage, NULL, and well-formed URLs in one batch: the feature
        extraction must degrade (NULL host), never fail the task — the
        crawl-data contract (real URL columns are full of junk)."""
        from metaframe_spark.operators.web import url_features

        df = spark.createDataFrame(
            [(i, u) for i, u in enumerate(urls)], "id long, url string"
        )
        rows = url_features(df, "url").collect()
        assert len(rows) == len(urls)
        for r in rows:
            # a parsed host implies a consistent domain suffix
            if r.host:
                assert r.domain and r.host.endswith(r.domain.split(".")[-1])

    @given(texts=st.lists(st.text(max_size=30), min_size=1, max_size=8))
    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    def test_char_entropy_shapes_agree_on_arbitrary_text(self, spark, texts):
        """Row-local and explode shapes must agree on ANY unicode input
        (surrogates excluded by hypothesis's text strategy default)."""
        from metaframe_spark.operators.text import char_entropy

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        a = sorted(map(tuple, char_entropy(df, row_local=True).collect()))
        b = sorted(map(tuple, char_entropy(df, row_local=False).collect()))
        assert a == b
