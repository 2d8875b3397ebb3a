"""DSIR importance-weighted data selection (operators/selection.py).
Oracle parity of the registered dsir_selection_scores is covered by
test_oracle_parity; here: the model's analytic properties on
hand-built corpora, selection determinism, and the broadcast plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nlp_with_pyspark_spark.operators.selection import (
    dsir_scores,
    dsir_top_k,
    dsir_weights,
)
from nlp_with_pyspark_spark.plans.inspect import plan_string


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, toks) for i, toks in rows], "doc_id long, tokens array<string>"
    )


def test_target_equals_corpus_scores_exactly_zero(spark):
    """target ≡ corpus ⇒ both smoothed models identical ⇒ every bucket
    weight is EXACTLY 0 (the log terms cancel symbolically, not
    approximately) ⇒ every score 0.0."""
    docs = _docs(
        spark,
        [(1, ["spark", "join", "scan"]), (2, ["sort", "hash"]), (3, [])],
    )
    got = {r.doc_id: (r.n_features, r.dsir_score) for r in dsir_scores(docs, docs).collect()}
    assert got == {1: (5, 0.0), 2: (3, 0.0), 3: (0, 0.0)}


def test_target_vocab_docs_outscore_disjoint_docs(spark):
    """Docs sharing the target's vocabulary must outscore docs whose
    vocabulary the target never saw — the selection signal itself."""
    in_domain = [(i, ["alpha", "beta", "gamma", "delta"]) for i in range(10)]
    out_domain = [(i + 100, ["omega", "sigma", "kappa", "zeta"]) for i in range(10)]
    corpus = _docs(spark, in_domain + out_domain)
    target = _docs(spark, [(1000, ["alpha", "beta", "gamma"])])
    scores = {r.doc_id: r.dsir_score for r in dsir_scores(corpus, target).collect()}
    worst_in = min(scores[i] for i, _ in in_domain)
    best_out = max(scores[i] for i, _ in out_domain)
    assert worst_in > best_out


def test_n_features_is_unigrams_plus_bigrams(spark):
    docs = _docs(spark, [(1, ["a", "b", "c"]), (2, ["x"]), (3, [])])
    got = {r.doc_id: r.n_features for r in dsir_scores(docs, docs).collect()}
    # len + max(len-1, 0)
    assert got == {1: 5, 2: 1, 3: 0}


def test_top_k_is_deterministic_and_ordered(spark):
    in_domain = [(i, ["alpha", "beta"]) for i in range(5)]
    out_domain = [(i + 100, ["omega", "zeta"]) for i in range(5)]
    corpus = _docs(spark, in_domain + out_domain)
    target = _docs(spark, [(1000, ["alpha", "beta"])])
    for _ in range(2):
        top = dsir_top_k(corpus, target, k=5).collect()
        assert [r.doc_id for r in top] == [0, 1, 2, 3, 4]  # ties break by id
        assert all(
            top[i].dsir_score >= top[i + 1].dsir_score for i in range(len(top) - 1)
        )


def test_scoring_plan_is_join_and_shuffle_free(spark):
    """Scoring is a pure row-local projection: the weight table folds
    into a map literal, so the plan crosses ZERO joins and ZERO
    Exchanges — the corpus never moves to be scored."""
    docs = _docs(spark, [(i, ["alpha", "beta", "omega"]) for i in range(20)])
    target = docs.where(F.col("doc_id") < 5)
    w = dsir_weights(docs, target).localCheckpoint()
    plan = plan_string(dsir_scores(docs, target, weights=w))
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan


def test_weights_reuse_seam_matches_inline(spark):
    docs = _docs(spark, [(i, ["alpha", "beta", "omega"]) for i in range(8)])
    target = docs.where(F.col("doc_id") % 2 == 0)
    inline = sorted(
        (r.doc_id, r.n_features, r.dsir_score)
        for r in dsir_scores(docs, target).collect()
    )
    w = dsir_weights(docs, target).localCheckpoint()
    reused = sorted(
        (r.doc_id, r.n_features, r.dsir_score)
        for r in dsir_scores(docs, target, weights=w).collect()
    )
    assert inline == reused


def test_bad_n_buckets_raises(spark):
    docs = _docs(spark, [(1, ["a"])])
    with pytest.raises(ValueError, match="n_buckets"):
        dsir_scores(docs, docs, n_buckets=70000).collect()


def test_resample_top_k_matches_hand_computed_gumbel(spark):
    """The seeded Gumbel perturbation is a pure md5 function of
    (seed, doc_id) — recompute every key in Python (hashlib + math)
    and the operator's selection must equal the hand-derived top-k,
    bit-for-bit and under repetition; a different seed must be able to
    change the selection."""
    import hashlib
    import math

    from nlp_with_pyspark_spark.operators.selection import (
        dsir_resample_top_k,
        dsir_scores,
    )

    in_d = [(i, ["alpha", "beta"]) for i in range(8)]
    out_d = [(i + 100, ["omega", "zeta"]) for i in range(8)]
    corpus = _docs(spark, in_d + out_d)
    target = _docs(spark, [(1000, ["alpha", "beta"])])

    scores = {r.doc_id: r.dsir_score for r in dsir_scores(corpus, target).collect()}

    def key(seed, i):
        u = (
            int(hashlib.md5(f"{seed}~{i}".encode()).hexdigest()[:8], 16) + 1.0
        ) / (2**32 + 1)
        return round(scores[i] - math.log(-math.log(u)), 6)

    for seed in ("dsir-0", "dsir-1"):
        want = sorted(scores, key=lambda i: (-key(seed, i), i))[:6]
        for _ in range(2):
            got = [
                r.doc_id
                for r in dsir_resample_top_k(corpus, target, k=6, seed=seed).collect()
            ]
            assert got == want, (seed, got, want)


def test_curation_funnel_stage_counts_pinned(spark):
    """The composed curation funnel (pipeline.curation_funnel) on a
    hand-built corpus where every stage's effect is computable by hand:
    quality gates on text, DSIR selects the target-looking half of the
    survivors, counts are monotone non-increasing and exactly match an
    independent recomputation from the constituent operators."""
    from nlp_with_pyspark_spark.operators.pipeline import curation_funnel
    from nlp_with_pyspark_spark.operators.sketch import exact_quantiles
    from nlp_with_pyspark_spark.operators.textstats import quality_score_expr

    good = "the quick brown fox jumps over the lazy dog and runs far away today"
    bad = "@@@@ #### %%%% &&&& !!!! ???? ++++ ==== ~~~~ ;;;;"
    rows = []
    for i in range(12):
        rows.append((i, good + f" extra{i}"))          # passes quality
    for i in range(12, 18):
        rows.append((i, bad))                           # fails quality
    docs = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "tokens", F.split(F.lower(F.col("text")), r"\s+")
    )
    # target: the even good docs' vocabulary
    target = docs.where((F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 12))
    got = {
        r.stage: r.n_docs
        for r in curation_funnel(docs, target, quality_min=0.5, keep_frac=0.5).collect()
    }
    # independent recomputation from the checked constituents
    surv = docs.where(quality_score_expr(F.col("text")) >= 0.5)
    n_surv = surv.count()
    assert got["raw"] == 18
    assert got["quality"] == n_surv
    assert 0 < n_surv < 18
    from nlp_with_pyspark_spark.operators.selection import dsir_scores

    scored = dsir_scores(surv, target)
    cut = exact_quantiles(scored, "dsir_score", [0.5]).collect()[0]["value"]
    want_kept = scored.where(F.col("dsir_score") >= cut).count()
    assert got["dsir_selected"] == want_kept
    assert 0 < got["dsir_selected"] <= got["quality"] <= got["raw"]


def test_resample_plan_is_takeordered_and_joinfree(spark):
    """The Gumbel perturbation adds ONE row-local projection on top of
    the scoring plan — still zero joins — and the k-cut plans as
    TakeOrdered (per-partition top-k + k-row merge), never a global
    Sort."""
    from nlp_with_pyspark_spark.operators.selection import dsir_resample_top_k

    docs = _docs(spark, [(i, ["alpha", "beta", "omega"]) for i in range(20)])
    target = docs.where(F.col("doc_id") < 5)
    plan = plan_string(dsir_resample_top_k(docs, target, k=5))
    assert "Join" not in plan, plan
    assert "TakeOrdered" in plan, plan


def test_curation_funnel_zero_survivors(spark):
    """An impossible quality bar must yield (raw=N, quality=0,
    dsir_selected=0) — not an IndexError from the missing quantile."""
    from nlp_with_pyspark_spark.operators.pipeline import curation_funnel

    rows = [(i, "@@@@ #### %%%% !!!!") for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "tokens", F.split(F.lower(F.col("text")), r"\s+")
    )
    got = {
        r.stage: r.n_docs
        for r in curation_funnel(docs, docs, quality_min=0.99).collect()
    }
    assert got == {"raw": 6, "quality": 0, "dsir_selected": 0}


def test_featurized_path_matches_gram_path_bit_for_bit(spark):
    """The features_expr seam (one materialized gram+hash evaluation
    shared by fits and scoring) must be EXACTLY the token path: same
    weights, same n_features, same rounded scores — the optimization
    contract of the round-13 featurize change."""
    from nlp_with_pyspark_spark.operators.selection import features_expr

    docs = _docs(
        spark,
        [
            (1, ["the", "cat", "sat", "on", "the", "mat"]),
            (2, ["dogs", "bark", "at", "cats"]),
            (3, ["quantum", "flux", "capacitor"]),
            (4, []),
        ],
    ).withColumn("lang", F.when(F.col("doc_id") < 3, "en").otherwise("xx"))
    target = docs.where(F.col("lang") == "en")

    base = {
        (r.doc_id): (r.n_features, r.dsir_score)
        for r in dsir_scores(docs, target).collect()
    }
    feat = docs.select(
        "doc_id", "lang", features_expr().alias("features")
    ).localCheckpoint()
    got = {
        (r.doc_id): (r.n_features, r.dsir_score)
        for r in dsir_scores(
            feat, feat.where(F.col("lang") == "en"), features_col="features"
        ).collect()
    }
    assert got == base

    wb = {(r.bucket): r.w for r in dsir_weights(docs, target).collect()}
    wf = {
        (r.bucket): r.w
        for r in dsir_weights(
            feat, feat.where(F.col("lang") == "en"), features_col="features"
        ).collect()
    }
    assert wf == wb


def test_funnel_staging_materialization_matches_default(spark):
    """materialize='staging_table' (the reliable-storage seam for runs
    where executor loss is routine) must produce exactly the default
    localCheckpoint path's rows, for both funnel compositions."""
    from nlp_with_pyspark_spark.operators.pipeline import (
        _STAGING_DIRS,
        curation_funnel,
        full_curation_funnel,
    )

    good = "the quick brown fox jumps over the lazy dog and runs far away today"
    bad = "@@@@ #### %%%% &&&& !!!! ???? ++++ ==== ~~~~ ;;;;"
    rows = [(i, good + f" extra{i}") for i in range(12)]
    rows += [(i, bad) for i in range(12, 18)]
    docs = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "tokens", F.split(F.lower(F.col("text")), r"\s+")
    )
    target = docs.where((F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 12))
    bench = docs.where(F.col("doc_id") == 0).select("doc_id", "text", "tokens")

    want = sorted(
        tuple(r) for r in curation_funnel(docs, target, keep_frac=0.5).collect()
    )
    got = sorted(
        tuple(r)
        for r in curation_funnel(
            docs, target, keep_frac=0.5, materialize="staging_table"
        ).collect()
    )
    assert got == want
    assert _STAGING_DIRS, "staging path must have been exercised"

    want_full = sorted(
        tuple(r) for r in full_curation_funnel(docs, bench, target).collect()
    )
    got_full = sorted(
        tuple(r)
        for r in full_curation_funnel(
            docs, bench, target, materialize="staging_table"
        ).collect()
    )
    assert got_full == want_full

    import pytest as _pytest

    with _pytest.raises(ValueError, match="materialize"):
        curation_funnel(docs, target, materialize="nope")


def _dsir_weights_collect_formulation(
    corpus, target, n_buckets=4096, smoothing=1.0, features_col=None
):
    """Reference: the former dsir_weights shape — collect the tagged
    per-bucket counts, sum the totals on the driver, rebuild the rows as
    a local relation and evaluate the log-ratio there."""
    from nlp_with_pyspark_spark.operators.selection import _bucket, _gram_rows

    def buckets(df):
        if features_col is not None:
            return df.select(F.explode(F.col(features_col)).alias("bucket"))
        return _gram_rows(df, "tokens", "doc_id", (1, 2)).select(
            _bucket(F.col("gram"), n_buckets).alias("bucket")
        )

    tagged = buckets(target).withColumn("__t", F.lit(1)).unionByName(
        buckets(corpus).withColumn("__t", F.lit(0))
    )
    rows = (
        tagged.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__all"),
            F.sum("__t").cast("long").alias("__tc"),
        )
        .collect()
    )
    tt = sum(r["__tc"] for r in rows)
    st = sum(r["__all"] - r["__tc"] for r in rows)
    local = corpus.sparkSession.createDataFrame(
        [(r["bucket"], r["__tc"], r["__all"] - r["__tc"]) for r in rows],
        schema="bucket int, __tc long, __sc long",
    )
    a, b = F.lit(float(smoothing)), F.lit(float(smoothing * n_buckets))
    w = F.log(
        (F.col("__tc").cast("double") + a) / (F.lit(tt).cast("double") + b)
    ) - F.log(
        (F.col("__sc").cast("double") + a) / (F.lit(st).cast("double") + b)
    )
    return local.select("bucket", w.alias("w"))


@pytest.mark.parametrize("smoothing", [1.0, 0.0])
def test_dsir_weights_plan_equals_collect_formulation(spark, smoothing):
    """dsir_weights as one lazy plan (totals as sum over () on the JVM)
    must give bit-identical weights to the collect → local relation →
    collect formulation it replaced, per bucket, with and without the
    precomputed feature array. smoothing=0 leaves every bucket seen by
    only one model without a finite weight (Spark's ln of 0 is NULL), so
    the comparison covers the null buckets too."""
    from nlp_with_pyspark_spark.operators.selection import features_expr

    corpus = _docs(
        spark,
        [
            (1, ["the", "cat", "sat", "on", "the", "mat"]),
            (2, ["dogs", "bark", "at", "cats"]),
            (3, ["quantum", "flux", "capacitor"]),
            (4, []),
        ],
    )
    target = _docs(spark, [(10, ["the", "cat", "saw", "dogs"]), (11, ["zebra"])])
    def feat(df):
        return df.select("doc_id", features_expr().alias("f"))

    cases = [
        ((corpus, target), {}),
        ((feat(corpus), feat(target)), {"features_col": "f"}),
    ]
    for (c, t), kw in cases:
        got = {
            r.bucket: r.w for r in dsir_weights(c, t, smoothing=smoothing, **kw).collect()
        }
        want = {
            r.bucket: r.w
            for r in _dsir_weights_collect_formulation(
                c, t, smoothing=smoothing, **kw
            ).collect()
        }
        assert got == want
        assert len(got) > 10
        finite = [w for w in got.values() if w is not None and abs(w) != float("inf")]
        assert (len(finite) < len(got)) == (smoothing == 0.0)


def test_curation_funnel_builds_no_driver_frames(spark, monkeypatch):
    """The selection step runs on the JVM: curation_funnel builds no
    frame from driver-side Python data (each such frame is a PySpark
    local relation, and the weight table and cutoff used to round-trip
    through two of them)."""
    from pyspark.sql import SparkSession

    from nlp_with_pyspark_spark.operators.pipeline import curation_funnel

    good = "the quick brown fox jumps over the lazy dog and runs far away today"
    rows = [(i, good + f" extra{i}") for i in range(12)]
    rows += [(i, "@@@@ #### %%%% &&&& !!!! ???? ++++ ==== ~~~~ ;;;;") for i in range(12, 18)]
    docs = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "tokens", F.split(F.lower(F.col("text")), r"\s+")
    )
    target = docs.where((F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 12))

    calls = []
    real = SparkSession.createDataFrame

    def counting(self, *args, **kwargs):
        calls.append(args[:1])
        return real(self, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "createDataFrame", counting)
    got = {r.stage: r.n_docs for r in curation_funnel(docs, target).collect()}
    assert calls == []
    assert 0 < got["dsir_selected"] <= got["quality"] < got["raw"] == 18
