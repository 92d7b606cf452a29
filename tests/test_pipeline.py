"""End-to-end curation pipeline: the composed flow must equal the
step-by-step ground truth on a corpus with injected exact and near
duplicates."""

import pytest
from pyspark.sql import functions as F

from metaframe_spark.io import load_table
from metaframe_spark.pipeline import curate_corpus

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def messy(spark):
    """documents + exact copies of docs 0-9 (new ids) + near-dup copies of
    docs 10-19 (one appended token)."""
    d = load_table(spark, SF, "documents").to_spark().select("doc_id", "text")
    exact = d.filter(F.col("doc_id") < 10).withColumn(
        "doc_id", F.col("doc_id") + 10_000
    )
    near = (
        d.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 20))
        .withColumn("doc_id", F.col("doc_id") + 20_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" zzextra")))
    )
    return d.unionByName(exact).unionByName(near).cache()


def test_curate_removes_dups_and_reports_stages(spark, messy):
    out, counts = curate_corpus(
        messy, min_quality=0.0, near_dup_jaccard=0.8, n_shards=4
    )
    n_orig = 500
    assert counts["input"] == n_orig + 20
    # exact copies collapse to the original (min-id survivor)
    assert counts["exact_dedup"] == n_orig + 10
    # every injected near-dup loses to its lower-id original; the base
    # corpus also contains ORGANIC near-dups at J>=0.8 (small synthetic
    # vocabulary), so compare against the clean corpus curated identically
    clean = messy.filter(F.col("doc_id") < 10_000)
    _, clean_counts = curate_corpus(
        clean, min_quality=0.0, near_dup_jaccard=0.8
    )
    assert counts["near_dedup"] == clean_counts["near_dedup"]
    assert counts["near_dedup"] <= n_orig
    surviving = {r.doc_id for r in out.select("doc_id").collect()}
    assert not any(i >= 10_000 for i in surviving)  # injected ids all lost
    # quality 0.0 keeps everything with tokens; output got seq + shard
    assert counts["output"] == counts["quality"]
    assert {f for f in ("seq", "shard")} <= set(out.columns)
    shards = {r.shard for r in out.select("shard").distinct().collect()}
    assert shards == {0, 1, 2, 3}
    # interleave is the deterministic md5 order: re-running yields same seq
    out2, _ = curate_corpus(
        messy, min_quality=0.0, near_dup_jaccard=0.8, n_shards=4
    )
    a = {(r.doc_id, r.seq) for r in out.select("doc_id", "seq").collect()}
    b = {(r.doc_id, r.seq) for r in out2.select("doc_id", "seq").collect()}
    assert a == b


def test_curate_job_budget(spark, messy, spark_jobs):
    """Each counted stage is materialized once: exact dedup is cached
    before its count, the quality survivors are checkpointed by theirs,
    small pair graphs resolve on the driver and sharding reuses the
    interleave's row total. 31 jobs when pinned (54 before)."""
    messy.count()  # the fixture's cache is filled before counting
    (out, counts), jobs = spark_jobs(
        lambda: curate_corpus(
            messy, min_quality=0.0, near_dup_jaccard=0.8, n_shards=4
        )
    )
    assert len(jobs) <= 31, len(jobs)
    assert counts["output"] == counts["quality"] == counts["near_dedup"]


@pytest.mark.parametrize(
    "option",
    [
        "default",
        "dedup_spans",
        "dedup_substrings",
        "benchmark",
        "dsir_target",
        "embeddings",
    ],
)
def test_curate_leaves_no_cached_plans(spark, messy, cached_plans, option):
    """With no caller scope, curate_corpus releases every plan its stages
    cache, whichever optional stage runs."""
    clean = messy.filter(F.col("doc_id") < 10_000)
    options = {
        "default": {},
        "dedup_spans": {"dedup_spans": True},
        "dedup_substrings": {"dedup_substrings": True},
        "benchmark": {
            "benchmark": spark.createDataFrame(
                [(1, "alpha bravo charlie delta echo foxtrot golf hotel")],
                "qid long, text string",
            )
        },
        "dsir_target": {
            "dsir_target": clean.filter(F.col("doc_id") % 7 == 0),
            "dsir_keep": 50,
        },
        "embeddings": {
            "embeddings": clean.select(
                "doc_id",
                F.array(
                    *[F.cos(F.col("doc_id") * (k + 1)) for k in range(8)]
                ).alias("embedding"),
            )
        },
    }
    n_plans = cached_plans()
    out, _ = curate_corpus(
        clean, min_quality=0.0, near_dup_jaccard=0.8, **options[option]
    )
    assert out.count() > 0
    assert cached_plans() == n_plans


def test_line_filter_and_span_dedup_stages(spark):
    """Optional C4 stages: the line scrub drops junk lines pre-dedup, and
    span dedup removes a cross-document boilerplate footer exactly once,
    with both stage counts reported."""
    footer = (
        "Subscribe to our newsletter today. "
        "All rights reserved by the site. "
        "Cookies are required for this site."
    )
    rows = [
        (1, "A genuinely unique first document sentence. Another fine line of prose here. One more to round it out. " + footer),
        (2, "A different document starts this way. Its second sentence is also unique. The third keeps it distinct. " + footer),
        (3, "no terminal punctuation so this line dies\n{ code block }\nOnly this surviving sentence stays alive today."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out, counts = curate_corpus(
        df,
        min_quality=0.0,
        near_dup_jaccard=0.99,
        line_filter=True,
        dedup_spans=True,
    )
    assert counts["input"] == 3
    assert counts["line_filter"] == 3  # doc 3 keeps its one good line
    assert counts["exact_dedup"] == 3
    assert counts["span_dedup"] == 3
    texts = {r.doc_id: r.text for r in out.select("doc_id", "text").collect()}
    assert footer in texts[1]          # canonical occurrence survives
    assert "newsletter" not in texts[2]  # loser's footer removed
    assert texts[3] == "Only this surviving sentence stays alive today."


def test_quality_and_language_gates(spark, messy):
    out, counts = curate_corpus(
        messy, min_quality=0.35, keep_langs=["en"], near_dup_jaccard=0.8
    )
    assert counts["quality"] <= counts["near_dedup"]
    assert counts["language"] <= counts["quality"]
    assert counts["output"] == counts["language"]
    # gates actually applied
    from metaframe_spark.operators.text import language_scores, quality_features

    qf = quality_features(out, "text").filter(F.col("quality_score") < 0.35)
    assert qf.count() == 0
    lang = language_scores(out, "text").filter(F.col("predicted_lang") != "en")
    assert lang.count() == 0


def test_split_stage_is_deterministic_and_exhaustive(spark, messy):
    out, counts = curate_corpus(
        messy,
        min_quality=0.0,
        near_dup_jaccard=0.8,
        split_fractions={"train": 8, "val": 1, "test": 1},
    )
    rows = out.select("doc_id", "split").collect()
    assert counts["output"] == len(rows)
    labels = {r.split for r in rows}
    assert labels <= {"train", "val", "test"}
    n_train = sum(r.split == "train" for r in rows)
    assert n_train > len(rows) // 2  # the 80% bucket dominates
    # rerun-stable: the split is a pure function of doc_id
    out2, _ = curate_corpus(
        messy,
        min_quality=0.0,
        near_dup_jaccard=0.8,
        split_fractions={"train": 8, "val": 1, "test": 1},
    )
    assert {(r.doc_id, r.split) for r in rows} == {
        (r.doc_id, r.split) for r in out2.select("doc_id", "split").collect()
    }


def test_decontamination_stage_drops_benchmark_leaks(spark, messy):
    """An injected verbatim benchmark phrase must get its host documents
    dropped by the decontamination stage, leave clean documents alone, and
    report the stage count."""
    leak = "alpha bravo charlie delta echo foxtrot golf hotel"
    contaminated_ids = {30, 31, 32}
    d = messy.withColumn(
        "text",
        F.when(
            F.col("doc_id").isin(*contaminated_ids),
            F.concat(F.col("text"), F.lit(" " + leak)),
        ).otherwise(F.col("text")),
    )
    bench = spark.createDataFrame(
        [(1, f"question: {leak} ?")], "qid long, text string"
    )
    out, counts = curate_corpus(
        d, min_quality=0.0, near_dup_jaccard=0.8,
        benchmark=bench, benchmark_ngram=8,
    )
    surviving = {r.doc_id for r in out.select("doc_id").collect()}
    assert not (contaminated_ids & surviving)
    assert counts["decontaminate"] == counts["near_dedup"] - len(contaminated_ids)
    # without a benchmark the stage (and its count) is absent
    _, counts2 = curate_corpus(d, min_quality=0.0, near_dup_jaccard=0.8)
    assert "decontaminate" not in counts2
    assert counts2["quality"] == counts["quality"] + len(contaminated_ids)


def test_semantic_dedup_stage_drops_paraphrase_twins(spark, messy):
    """Embedding-near-identical documents with NO lexical overlap must
    lose to their smaller-id twin only when the semantic stage is on."""
    import numpy as np

    rng = np.random.RandomState(7)
    ids = [r.doc_id for r in messy.select("doc_id").filter(
        F.col("doc_id") < 10_000).collect()]
    # 64-dim: P(cos >= 0.95) for two random gaussians is ~(1-t^2)^31.5,
    # astronomically small - only the injected twin pair can match
    vecs = {i: rng.normal(size=64).tolist() for i in ids}
    # doc 41 gets (almost) doc 40's vector: a paraphrase pair
    vecs[41] = [v * 1.001 for v in vecs[40]]
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "doc_id long, embedding array<double>"
    )
    clean = messy.filter(F.col("doc_id") < 10_000)
    out, counts = curate_corpus(
        clean, min_quality=0.0, near_dup_jaccard=0.8,
        embeddings=emb, semantic_min_cosine=0.95, semantic_cells=4,
    )
    surviving = {r.doc_id for r in out.select("doc_id").collect()}
    base_out, base_counts = curate_corpus(
        clean, min_quality=0.0, near_dup_jaccard=0.8
    )
    base_surviving = {r.doc_id for r in base_out.select("doc_id").collect()}
    # without the stage both twins survive; with it, only the smaller id
    if 40 in base_surviving and 41 in base_surviving:
        assert 40 in surviving and 41 not in surviving
        assert counts["semantic_dedup"] == counts["near_dedup"] - 1
    assert "semantic_dedup" not in base_counts


def test_unicode_clean_stage_unifies_typography_variants(spark):
    """With unicode_clean=True, two copies of a paragraph differing only
    in curly quotes / NBSP / zero-widths become exact duplicates and
    collapse in the exact-dedup stage."""
    base = "said hello there and more words follow here"
    fancy = "said ​“hello” there and more words follow here"
    df = spark.createDataFrame(
        [(1, base.replace("hello", '"hello"')), (2, fancy)],
        "doc_id long, text string",
    )
    _, counts = curate_corpus(
        df, min_quality=0.0, near_dup_jaccard=0.99, unicode_clean=True
    )
    assert counts["exact_dedup"] == 1
    # without the scrub they stay distinct
    _, counts2 = curate_corpus(df, min_quality=0.0, near_dup_jaccard=0.99)
    assert counts2["exact_dedup"] == 2


def test_url_dedup_stage_collapses_refetch_variants(spark, messy):
    """The same page under tracking-param/case/trailing-slash URL
    variants keeps only its lowest-id fetch, BEFORE any content stage;
    distinct pages on the same domain are untouched."""
    d = messy.filter(F.col("doc_id") < 10_000)
    # docs 0-4 are five fetches of ONE page (url variants); the rest are
    # distinct pages
    url = (
        F.when(F.col("doc_id") == 0, F.lit("HTTP://Site.com:80/a/?utm_source=x#f"))
        .when(F.col("doc_id") == 1, F.lit("http://site.com/a?fbclid=z"))
        .when(F.col("doc_id") == 2, F.lit("http://site.com/a/"))
        .when(F.col("doc_id") == 3, F.lit("http://SITE.com/a"))
        .when(F.col("doc_id") == 4, F.lit("http://site.com/a?utm_b=1"))
        .otherwise(F.concat(F.lit("http://site.com/p"), F.col("doc_id")))
    )
    d = d.withColumn("url", url)
    out, counts = curate_corpus(
        d, min_quality=0.0, near_dup_jaccard=0.8,
        url_col="url", url_dedup=True,
    )
    assert counts["url_dedup"] == counts["input"] - 4
    surviving = {r.doc_id for r in out.select("doc_id").collect()}
    assert 0 in surviving and not ({1, 2, 3, 4} & surviving)
    # stage order: url_dedup is the first count after input
    assert list(counts)[:2] == ["input", "url_dedup"]
    # counts stay monotone non-increasing
    vals = list(counts.values())
    assert all(a >= b for a, b in zip(vals, vals[1:]))


def test_domain_blocklist_stage_runs_first(spark, messy):
    """Rows from blocked domains never reach the content stages; docs
    without a parseable URL are NOT dropped by a blocklist."""
    d = messy.filter(F.col("doc_id") < 10_000).withColumn(
        "url",
        F.when(
            F.col("doc_id") % 50 == 0,
            F.concat(F.lit("https://spam.example.com/p"), F.col("doc_id")),
        ).when(
            F.col("doc_id") % 50 == 1, F.lit("not a url")
        ).otherwise(
            F.concat(F.lit("https://ok.example.org/p"), F.col("doc_id")),
        ),
    )
    out, counts = curate_corpus(
        d, min_quality=0.0, near_dup_jaccard=0.8,
        url_col="url", blocked_domains=["example.com"],
    )
    n_blocked = d.filter(F.col("doc_id") % 50 == 0).count()
    assert counts["domain_filter"] == counts["input"] - n_blocked
    surviving = {r.doc_id for r in out.select("doc_id").collect()}
    assert not any(i % 50 == 0 for i in surviving)
    assert any(i % 50 == 1 for i in surviving)  # unparseable url kept


def test_domain_cap_stage_caps_dominant_domain(spark, messy):
    """A domain that dominates the crawl is capped to domain_cap docs —
    keeping the highest-quality ones when domain_quality_col is set —
    and every stage count is monotone non-increasing."""
    d = messy.filter(F.col("doc_id") < 10_000).withColumn(
        "url",
        F.when(
            F.col("doc_id") % 5 == 0,  # 100 docs on one dominant domain
            F.concat(F.lit("https://farm.seo-mill.com/p"), F.col("doc_id")),
        ).otherwise(
            F.concat(
                F.lit("https://site"),
                (F.col("doc_id") % 37).cast("string"),
                F.lit(".example.org/p"),
                F.col("doc_id"),
            )
        ),
    ).withColumn("score", (F.col("doc_id") % 97).cast("double"))
    out, counts = curate_corpus(
        d, min_quality=0.0, near_dup_jaccard=0.8,
        url_col="url", domain_cap=7, domain_quality_col="score",
    )
    assert counts["domain_cap"] <= counts["input"]
    stages = list(counts.values())
    assert stages == sorted(stages, reverse=True)  # monotone pipeline
    surviving = {r.doc_id for r in out.select("doc_id").collect()}
    dominant = [i for i in surviving if i % 5 == 0]
    assert len(dominant) <= 7
    # best-first: the survivors of the dominant domain are its top scores
    cand = sorted(
        (i for i in range(500) if i % 5 == 0),
        key=lambda i: (-(i % 97), i),
    )[:7]
    # later content stages may drop a few more, so subset not equality
    assert set(dominant).issubset(set(cand))
    # the cap stage must not leak its helper columns into the output
    assert "domain" not in out.columns and "draw_rank" not in out.columns


def test_domain_cap_with_psl_keys_on_registrable_domain(spark):
    """With a PSL relation, *.co.uk sites are capped per-site, not
    merged into one 'co.uk' stratum."""
    rows = [
        (i, "text " + " ".join(f"w{i}x{j}" for j in range(30)),
         f"https://{'alpha' if i % 2 == 0 else 'beta'}.co.uk/p{i}")
        for i in range(40)
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, url string")
    psl = spark.createDataFrame([("com",), ("co.uk",)], "suffix string")
    _, merged = curate_corpus(
        d, min_quality=0.0, near_dup_jaccard=0.99,
        url_col="url", domain_cap=5,
    )
    _, split = curate_corpus(
        d, min_quality=0.0, near_dup_jaccard=0.99,
        url_col="url", domain_cap=5, psl=psl,
    )
    # approximation merges alpha+beta under co.uk -> one 5-doc stratum;
    # the PSL keeps them apart -> 5 each
    assert merged["domain_cap"] == 5
    assert split["domain_cap"] == 10


def test_classifier_stage_filters_low_scoring_docs(spark, messy):
    """quality_model adds the learned filter after the heuristic gate:
    docs whose vocabulary scores below min_classifier_prob are dropped,
    stage counts stay monotone."""
    base = messy.filter(F.col("doc_id") < 10_000)
    model = {"weights": {"slow": -4.0, "dup": -4.0}, "bias": 1.0}
    out, counts = curate_corpus(
        base, min_quality=0.0, near_dup_jaccard=0.8,
        quality_model=model, min_classifier_prob=0.5,
    )
    assert "classifier" in counts
    stages = list(counts.values())
    assert stages == sorted(stages, reverse=True)
    # every survivor scores >= 0.5 under the model re-applied directly
    from metaframe_spark.operators import score_quality

    surv_ids = {r.doc_id for r in out.select("doc_id").collect()}
    rescored = {
        r.doc_id: r.quality_prob
        for r in score_quality(base, model).collect()
    }
    # dropped := heuristic-surviving docs under 0.5; none of them remain
    assert all(rescored[i] >= 0.5 for i in surv_ids)
    assert counts["classifier"] < counts["quality"]  # the gate really bit


def test_stage_counts_false_skips_intermediate_actions(spark, messy):
    base = messy.filter(F.col("doc_id") < 10_000)
    out_full, full = curate_corpus(base, min_quality=0.0, near_dup_jaccard=0.8)
    out_min, minimal = curate_corpus(
        base, min_quality=0.0, near_dup_jaccard=0.8, stage_counts=False
    )
    assert set(minimal) == {"input", "near_dedup", "output"}
    assert minimal["input"] == full["input"]
    assert minimal["output"] == full["output"]
    # same curated result either way
    a = sorted(r.doc_id for r in out_full.select("doc_id").collect())
    b = sorted(r.doc_id for r in out_min.select("doc_id").collect())
    assert a == b


def test_html_input_stage_strips_markup_before_curation(spark):
    rows = [
        (i, "<html><body><script>x()</script><p>doc %d "
            "unique words here now</p></body></html>" % i)
        for i in range(30)
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out, counts = curate_corpus(
        d, min_quality=0.0, near_dup_jaccard=0.95, html_input=True
    )
    texts = [r.text for r in out.select("text").collect()]
    assert texts and all("<" not in t and "script" not in t for t in texts)
    assert all(t.startswith("doc ") for t in texts)


def test_url_dedup_keeps_all_null_url_docs(spark):
    """Documents WITHOUT a URL are not duplicates of each other: the
    url_dedup stage must keep every NULL-url row (each gets a private
    id-derived partition key — also the skew fix: no one-giant-NULL
    window partition), matching domain_filter's keep-unparseable
    contract (ADVICE r8 medium)."""
    rows = [
        (i,
         "doc %d with its own words " % i + " ".join(f"t{i}x{j}" for j in range(20)),
         None if i % 2 == 0 else "http://site.com/a?utm_source=%d" % (i % 3))
        for i in range(40)
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, url string")
    out, counts = curate_corpus(
        d, min_quality=0.0, near_dup_jaccard=0.99,
        url_col="url", url_dedup=True,
    )
    # 20 NULL-url docs all survive; the 20 url'd docs collapse to ONE
    # page (utm_source is a tracking param and strips entirely)
    assert counts["url_dedup"] == 20 + 1
    surviving = {r.doc_id for r in out.select("doc_id").collect()}
    assert {i for i in range(40) if i % 2 == 0} <= surviving


def test_domain_cap_preserves_colliding_input_columns(spark):
    """An input corpus that already carries host/domain/is_https/
    path_depth/draw_rank columns must keep that data through the
    domain_cap stage (url_features' outputs are computed under stashed
    names; ADVICE r8 low)."""
    rows = [
        (i,
         "doc %d words " % i + " ".join(f"c{i}y{j}" for j in range(25)),
         f"https://site{i % 3}.org/p{i}",
         f"userdomain{i}", i * 10)
        for i in range(30)
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, url string, domain string, draw_rank long"
    )
    out, counts = curate_corpus(
        d, min_quality=0.0, near_dup_jaccard=0.99,
        url_col="url", domain_cap=5,
    )
    assert counts["domain_cap"] == 15  # 3 domains x cap 5
    assert "domain" in out.columns and "draw_rank" in out.columns
    got = {(r.doc_id, r.domain, r.draw_rank)
           for r in out.select("doc_id", "domain", "draw_rank").collect()}
    for i, dom, dr in got:
        assert dom == f"userdomain{i}" and dr == i * 10


def test_dsir_stage_resamples_toward_target(spark, messy):
    """DSIR stage (r11 verdict next-#4): weights computed on the
    post-filter survivors, log-space A-ES selection of dsir_keep docs,
    rerun-stable, and biased toward the target slice's vocabulary."""
    clean = messy.filter(F.col("doc_id") < 10_000)
    target = clean.filter(F.col("doc_id") % 7 == 0)
    out, counts = curate_corpus(
        clean,
        min_quality=0.0,
        near_dup_jaccard=0.8,
        dsir_target=target,
        dsir_keep=50,
    )
    assert counts["dsir"] == 50
    assert counts["output"] == 50
    assert out.count() == 50
    # deterministic: identical selection on rerun
    out2, counts2 = curate_corpus(
        clean,
        min_quality=0.0,
        near_dup_jaccard=0.8,
        dsir_target=target,
        dsir_keep=50,
    )
    assert {r.doc_id for r in out.select("doc_id").collect()} == {
        r.doc_id for r in out2.select("doc_id").collect()
    }
    assert counts2["dsir"] == 50
    # biased toward the target: the selected docs' mean log_weight beats
    # the survivor-pool mean (A-ES with these weights must favor them)
    from metaframe_spark.operators.sampling import dsir_weights

    base, base_counts = curate_corpus(
        clean, min_quality=0.0, near_dup_jaccard=0.8
    )
    wts = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_weights(
            base.select("doc_id", "text"), target
        ).collect()
    }
    chosen = {r.doc_id for r in out.select("doc_id").collect()}
    mean = lambda xs: sum(xs) / len(xs)
    assert mean([wts[i] for i in chosen]) > mean(list(wts.values()))
    # without the stage, no dsir count key appears
    assert "dsir" not in base_counts


def test_token_budget_stage_cuts_exact_reproducible_prefix(spark, messy):
    """max_tokens (r11 verdict next-#7): the cap keeps the maximal seq
    prefix within the REAL-BPE token budget, exactly and rerun-stably."""
    from metaframe_spark.operators.text import bpe_tokenize
    from metaframe_spark.queries import _BPE_MERGES

    clean = messy.filter(F.col("doc_id") < 10_000)
    merges = spark.createDataFrame(
        _BPE_MERGES, "first string, second string, rank int"
    )
    budget = 40_000
    out, counts = curate_corpus(
        clean,
        min_quality=0.0,
        near_dup_jaccard=0.8,
        max_tokens=budget,
        token_merges=merges,
    )
    rows = out.select("doc_id", "seq", "budget_tokens").collect()
    total = sum(r.budget_tokens for r in rows)
    assert 0 < total <= budget
    assert counts["token_budget"] == len(rows)
    # exactness: ground-truth prefix over the UNCAPPED interleave
    base, _ = curate_corpus(clean, min_quality=0.0, near_dup_jaccard=0.8)
    tok = {
        r["doc_id"]: r["n_tokens"]
        for r in bpe_tokenize(
            base.select("doc_id", "text"), merges
        ).collect()
    }
    ordered = sorted(
        ((r.seq, r.doc_id) for r in base.select("seq", "doc_id").collect())
    )
    acc, expect = 0, set()
    for _, i in ordered:
        acc += tok[i]
        if acc > budget:
            break
        expect.add(i)
    assert {r.doc_id for r in rows} == expect
    # rerun-stable: identical cut
    out2, _ = curate_corpus(
        clean,
        min_quality=0.0,
        near_dup_jaccard=0.8,
        max_tokens=budget,
        token_merges=merges,
    )
    assert {(r.doc_id, r.seq) for r in out2.select("doc_id", "seq").collect()} == {
        (r.doc_id, r.seq) for r in rows
    }


def test_token_budget_counts_collator_special_tokens(spark, messy):
    """n_special_per_doc: the budget stage charges each document the
    collator's BOS/EOS overhead, so the cut lands earlier than the
    pure-content budget would (trainer-real accounting)."""
    clean = messy.filter(F.col("doc_id") < 10_000)
    out, _ = curate_corpus(
        clean,
        min_quality=0.0,
        near_dup_jaccard=0.8,
        max_tokens=40_000,
        n_special_per_doc=2,
    )
    rows = out.select("doc_id", "budget_tokens", "text").collect()
    from metaframe_spark.operators.text import bpe_token_count

    raw = {
        r.doc_id: r.n
        for r in clean.select(
            "doc_id", bpe_token_count(F.col("text")).alias("n")
        ).collect()
    }
    assert rows and all(r.budget_tokens == raw[r.doc_id] + 2 for r in rows)
    assert sum(r.budget_tokens for r in rows) <= 40_000
    # the reservation strictly tightens the cut vs the unreserved run
    plain, _ = curate_corpus(
        clean, min_quality=0.0, near_dup_jaccard=0.8, max_tokens=40_000
    )
    assert out.count() <= plain.count()


def test_curate_then_pack_documents_composition(spark, messy):
    """The post-pipeline packing path a trainer that forbids
    cross-document attention runs: curated survivors -> REAL BPE token
    counts (with per-doc specials) -> doc-boundary FFD bins. Every
    survivor lands in exactly one bin or is flagged oversized; no bin
    exceeds capacity."""
    from collections import defaultdict

    from metaframe_spark.operators.packing import pack_documents
    from metaframe_spark.operators.text import bpe_tokenize
    from metaframe_spark.queries import _BPE_MERGES

    clean = messy.filter(F.col("doc_id") < 10_000)
    out, _ = curate_corpus(clean, min_quality=0.0, near_dup_jaccard=0.8)
    merges = spark.createDataFrame(
        _BPE_MERGES, "first string, second string, rank int"
    )
    counts = bpe_tokenize(
        out.select("doc_id", "text"), merges, n_special_per_doc=2
    ).select("doc_id", "n_tokens")
    packed = pack_documents(
        counts, 128, "n_tokens", "doc_id", n_groups=4
    ).collect()
    assert len(packed) == out.count()
    fills = defaultdict(int)
    oversized = 0
    for r in packed:
        if r.bin_id is None:
            oversized += 1
            assert r.n_tokens > 128
        else:
            fills[(r.pack_group, r.bin_id)] += r.n_tokens
    assert fills and max(fills.values()) <= 128
    # bins must be meaningfully packed, not one-doc-per-bin: average
    # fill beats half capacity (FFD half-fill lemma at group scale)
    assert sum(fills.values()) / len(fills) > 64


def test_curate_then_curriculum_then_batches_composition(spark, messy):
    """The post-pipeline SERVING flow of the round-14 operators: curated
    survivors -> curriculum stages over the token count (the trainer's
    phase schedule) -> length-bucketed inference batch plan. Every
    survivor gets exactly one rank/stage; the batch plan's sequence
    total reconciles with the survivor count."""
    from metaframe_spark.operators.packing import dynamic_batches
    from metaframe_spark.operators.sampling import curriculum_stages
    from metaframe_spark.operators.text import bpe_token_count

    clean = messy.filter(F.col("doc_id") < 10_000)
    out, _ = curate_corpus(clean, min_quality=0.0, near_dup_jaccard=0.8)
    scored = out.select(
        "doc_id", bpe_token_count(F.col("text")).alias("n_tok")
    )
    n = scored.count()
    staged = curriculum_stages(scored, "n_tok", 3, id_col="doc_id")
    rows = staged.collect()
    assert sorted(r.rank for r in rows) == list(range(1, n + 1))
    assert {r.stage for r in rows} <= {0, 1, 2}
    # stage 0 (easy, shortest) token max <= stage 2 (hard) token min
    by_stage = {}
    for r in rows:
        by_stage.setdefault(r.stage, []).append(r.n_tok)
    if 0 in by_stage and 2 in by_stage:
        assert max(by_stage[0]) <= min(by_stage[2])
    plan = dynamic_batches(
        scored, "n_tok", id_col="doc_id", batch_size=4, max_len=512,
        n_shards=2,
    ).collect()
    assert sum(r.n_seqs for r in plan) == n
    assert all(0.0 <= r.waste_pct < 1.0 for r in plan)


def test_substring_dedup_stage_excises_copied_passage(spark):
    """dedup_substrings: the copied passage is cut out of the losing doc
    while both documents survive (unlike whole-doc dedup)."""
    passage = "the quick brown fox jumps over the lazy dog near the bank"
    rows = [
        (1, "First original body with enough words here " + passage),
        (2, "Second totally different body text then " + passage + " tail"),
        (3, "An unrelated document that shares nothing with the others"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out, counts = curate_corpus(
        df,
        min_quality=0.0,
        near_dup_jaccard=0.95,
        dedup_substrings=True,
    )
    assert counts["substring_dedup"] == 3  # nobody dropped whole
    texts = {r.doc_id: r.text for r in out.select("doc_id", "text").collect()}
    assert set(texts) == {1, 2, 3}
    # canonical occurrence (doc 1) keeps the passage; doc 2 lost it
    assert passage in texts[1]
    assert passage not in texts[2]
    assert "second totally different body text" in texts[2]
    # untouched doc comes back normalized but intact
    assert texts[3] == rows[2][1].lower()
