"""Sketch-guided exact statistics (operators/sketch.py) and BM25
retrieval (operators/search.py).

The DuckDB parity of the three registered queries
(doc_length_quantiles / vocab_heavy_hitters / bm25_search_topk) is
covered by test_oracle_parity's all-registry sweep; this file pins the
operator-level contracts the oracles can't see — exactness under
sketch collisions, degenerate-histogram fallbacks, and the scale-shape
plan properties.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from nlp_with_pyspark_spark.functions.text import tokens_pipeline
from nlp_with_pyspark_spark.operators.search import bm25_topk
from nlp_with_pyspark_spark.operators.sketch import (
    exact_quantile_rows,
    exact_quantiles,
    heavy_hitters,
)
from nlp_with_pyspark_spark.plans.inspect import final_plan_string, plan_string


QS = [0.0, 0.01, 0.25, 0.5, 0.75, 0.9, 1.0]


def _disc_quantile(sorted_vals, q):
    """DuckDB quantile_disc: value at 1-indexed rank max(1, ceil(q*n))."""
    return sorted_vals[max(1, math.ceil(q * len(sorted_vals))) - 1]


@pytest.fixture(scope="module")
def values_df(spark):
    # deterministic, collision-heavy, skewed: xxhash64 % 97 plus a
    # constant-heavy tail exercises duplicate ranks and hot buckets
    return spark.range(2000).select(
        (F.col("id") % 4).alias("grp"),
        F.when(F.col("id") % 5 == 0, F.lit(7))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(97)))
        .cast("long")
        .alias("v"),
    ).localCheckpoint()


def test_exact_quantiles_global_matches_sorted_selection(spark, values_df):
    vals = sorted(r.v for r in values_df.collect())
    got = {r.q: r.value for r in exact_quantiles(values_df, "v", QS, n_buckets=16).collect()}
    assert got == {q: _disc_quantile(vals, q) for q in QS}


def test_exact_quantiles_grouped(spark, values_df):
    by_grp = {}
    for r in values_df.collect():
        by_grp.setdefault(r.grp, []).append(r.v)
    expect = {
        (g, q): _disc_quantile(sorted(vs), q)
        for g, vs in by_grp.items()
        for q in QS
    }
    got = {
        (r.grp, r.q): r.value
        for r in exact_quantiles(values_df, "v", QS, by=["grp"], n_buckets=8).collect()
    }
    assert got == expect


def test_exact_quantiles_constant_column(spark):
    # hi == lo puts every row in bucket 0 (the degenerate-skew path:
    # width would be zero, the when() guard must route around it)
    df = spark.range(50).select(F.lit(42).cast("long").alias("v"))
    got = exact_quantiles(df, "v", [0.0, 0.5, 1.0], n_buckets=32).collect()
    assert [(r.q, r.value) for r in got] == [(0.0, 42), (0.5, 42), (1.0, 42)]


def test_exact_quantiles_nulls_and_empty(spark):
    df = spark.range(10).select(
        F.when(F.col("id") < 4, F.col("id")).alias("v")
    )
    got = {r.q: r.value for r in exact_quantiles(df, "v", [0.5, 1.0]).collect()}
    assert got == {0.5: 1, 1.0: 3}  # over the 4 non-null values only
    empty = exact_quantiles(df.where(F.lit(False)), "v", [0.5])
    assert empty.columns == ["q", "value"] and empty.count() == 0


def test_exact_quantiles_validates(spark, values_df):
    with pytest.raises(ValueError, match="non-empty"):
        exact_quantiles(values_df, "v", [])
    with pytest.raises(ValueError, match="outside"):
        exact_quantiles(values_df, "v", [1.5])


def test_exact_quantiles_refinement_exact_under_hot_bucket(spark):
    """Adversarial skew: 95% of rows share one value, the tail spreads
    wide, n_buckets=4 rams most ranks into one hot bucket. With
    refinement on, answers must STILL equal naive sorted selection —
    the hot constant bucket short-circuits via min==max, the mixed
    buckets re-histogram until the threshold holds."""
    df = spark.range(5000).select(
        F.when(F.col("id") % 20 != 0, F.lit(1000))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(100000)))
        .cast("long")
        .alias("v")
    ).localCheckpoint()
    vals = sorted(r.v for r in df.collect())
    expect = {q: _disc_quantile(vals, q) for q in QS}
    for thr in (10, 100):
        got = {
            r.q: r.value
            for r in exact_quantiles(
                df, "v", QS, n_buckets=4, refine_threshold=thr, max_levels=5
            ).collect()
        }
        assert got == expect, thr


def test_exact_quantiles_refinement_grouped_matches_single_level(spark, values_df):
    """Refinement is pure strategy: grouped answers with an aggressive
    threshold equal the single-level plan's (already pinned against
    naive selection above)."""
    base = exact_quantiles(values_df, "v", QS, by=["grp"], n_buckets=8)
    refined = exact_quantiles(
        values_df, "v", QS, by=["grp"], n_buckets=8, refine_threshold=25
    )
    key = lambda df: {(r.grp, r.q): r.value for r in df.collect()}
    assert key(refined) == key(base)


def test_exact_quantiles_refinement_max_levels_cap(spark):
    """max_levels=1 forbids refinement entirely — identical to the
    single-level plan even with a tiny threshold (the cap falls back to
    sorting the oversized bucket, never wrong answers)."""
    df = spark.range(1000).select(F.pmod(F.xxhash64("id"), F.lit(37)).alias("v"))
    a = {r.q: r.value for r in exact_quantiles(df, "v", QS, n_buckets=4).collect()}
    b = {
        r.q: r.value
        for r in exact_quantiles(
            df, "v", QS, n_buckets=4, refine_threshold=5, max_levels=1
        ).collect()
    }
    assert a == b


def test_hll_distinct_merge_equals_single_pass(spark):
    """Mergeability is exact, not approximate: per-shard sketches
    unioned give the SAME estimate as one global sketch (registers are
    max-of-hashes), and the estimate sits inside the lgk error bound of
    the true distinct count."""
    from nlp_with_pyspark_spark.operators.sketch import (
        approx_distinct,
        distinct_sketches,
        merge_distinct_sketches,
    )

    df = spark.range(200_000).select(
        (F.col("id") % 3).alias("g"),
        F.pmod(F.xxhash64("id"), F.lit(40_000)).alias("u"),
        (F.col("id") % 13).alias("shard"),
    ).localCheckpoint()
    direct = {
        r.g: r.n_distinct_est for r in approx_distinct(df, "u", by=["g"], lgk=12).collect()
    }
    sharded = distinct_sketches(df, "u", by=["g", "shard"], lgk=12)
    merged = {
        r.g: r.n_distinct_est
        for r in merge_distinct_sketches(sharded, by=["g"]).collect()
    }
    assert merged == direct
    exact = {
        r.g: r.n for r in df.groupBy("g").agg(F.count_distinct("u").alias("n")).collect()
    }
    for g, est in direct.items():
        assert abs(est - exact[g]) / exact[g] < 0.05, (g, est, exact[g])


@pytest.fixture(scope="module")
def tokenized_docs(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.withColumn("tokens", tokens_pipeline(F.col("text"))).localCheckpoint()


def test_heavy_hitters_exact_under_heavy_collisions(spark, tokenized_docs):
    # width=8 forces nearly every vocabulary word into a shared
    # count-min bucket: estimates are wildly inflated, the candidate
    # set balloons — but the output must STILL be the exact answer,
    # because the second pass recounts exactly (CM never underestimates
    # ⇒ no true heavy hitter is pruned; the exact filter then removes
    # every false candidate)
    exact = (
        tokenized_docs.select(F.explode("tokens").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    total = exact.agg(F.sum("count")).first()[0]
    for phi in (0.005, 0.05):
        t = max(1, math.ceil(phi * total))
        expect = {
            (r.word, r["count"]) for r in exact.where(F.col("count") >= t).collect()
        }
        got = heavy_hitters(tokenized_docs, phi=phi, depth=2, width=8).collect()
        assert {(r.word, r["count"]) for r in got} == expect
        # pinned total order: count desc, word asc
        assert [
            (r.word, r["count"]) for r in got
        ] == sorted(expect, key=lambda t: (-t[1], t[0]))


def test_heavy_hitters_validates(spark, tokenized_docs):
    with pytest.raises(ValueError, match="phi"):
        heavy_hitters(tokenized_docs, phi=0.0)


def test_heavy_hitters_filter_precedes_exact_count(spark, tokenized_docs):
    # the scale contract: the literal sketch filter prunes the token
    # stream BEFORE the word-count shuffle, so non-candidate words
    # never reach an Exchange. In the final plan the candidate filter
    # (the only Filter mentioning xxhash64) must sit strictly below
    # the first hashpartitioning Exchange.
    plan = final_plan_string(heavy_hitters(tokenized_docs, phi=0.01, depth=2, width=64))
    lines = plan.split("== Initial Plan ==")[0].splitlines()
    filt = [i for i, l in enumerate(lines) if "Filter" in l and "xxhash64" in l]
    exch = [i for i, l in enumerate(lines) if "Exchange hashpartitioning" in l]
    assert filt and exch
    # tree prints root-first: deeper (earlier-executed) nodes have
    # LARGER line numbers — the filter must print after every shuffle
    assert min(filt) > max(exch)


def _bm25_expected(rows, terms, k1=1.2, b=0.75):
    n = len(rows)
    avgdl = sum(len(t) for _, t in rows) / n
    dfreq = {
        w: sum(1 for _, toks in rows if w in toks) for w in terms
    }
    out = []
    for doc_id, toks in rows:
        score, matched = 0.0, 0
        for w in terms:
            tf = toks.count(w)
            if not tf:
                continue
            matched += 1
            idf = math.log(1 + (n - dfreq[w] + 0.5) / (dfreq[w] + 0.5))
            score += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(toks) / avgdl))
        if matched:
            out.append((doc_id, matched, round(score, 6)))
    out.sort(key=lambda t: (-t[2], t[0]))
    return out


def test_bm25_matches_reference_formula(spark, tokenized_docs):
    terms = ["dup", "join", "scan"]
    rows = [(r.doc_id, r.tokens) for r in tokenized_docs.select("doc_id", "tokens").collect()]
    expect = _bm25_expected(rows, terms)[:15]
    got = [
        (r.doc_id, r.matched, r.score)
        for r in bm25_topk(tokenized_docs, terms, k=15).collect()
    ]
    assert [g[:2] for g in got] == [e[:2] for e in expect]
    for g, e in zip(got, expect):
        assert g[2] == pytest.approx(e[2], abs=2e-6)


def test_bm25_tie_break_is_doc_id(spark):
    # four identical documents: identical (tf, dl) ⇒ identical scores
    # ⇒ the doc_id tie-break alone determines the top-k cut
    df = spark.createDataFrame(
        [(i, ["alpha", "beta", "beta"]) for i in (9, 3, 7, 1)],
        "doc_id long, tokens array<string>",
    )
    got = [r.doc_id for r in bm25_topk(df, ["beta"], k=3).collect()]
    assert got == [1, 3, 7]


def test_bm25_validates_and_broadcasts(spark, tokenized_docs):
    with pytest.raises(ValueError, match="non-empty"):
        bm25_topk(tokenized_docs, [])
    # df-table and corpus-stats joins must be broadcast (no sort-merge
    # join anywhere in a bm25 plan — both build sides are ≤|query| rows)
    plan = final_plan_string(bm25_topk(tokenized_docs, ["dup", "join"], k=5))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bm25_batch_matches_per_query_runs(spark, tokenized_docs):
    """Each query's slice of the batch output is row-identical (== on
    scores) to running bm25_topk alone — one corpus pass serves all."""
    from nlp_with_pyspark_spark.operators.search import bm25_batch_topk

    queries = {
        "q_mixed": ["dup", "join", "scan"],
        "q_rare": ["dup"],
        "q_common": ["join", "scan", "the"],
    }
    batch = bm25_batch_topk(tokenized_docs, queries, k=10).collect()
    for qid, terms in queries.items():
        mine = [
            (r.rank, r.doc_id, r.matched, r.score) for r in batch if r.query_id == qid
        ]
        solo = [
            (i + 1, r.doc_id, r.matched, r.score)
            for i, r in enumerate(bm25_topk(tokenized_docs, terms, k=10).collect())
        ]
        assert mine == solo, qid
    with pytest.raises(ValueError, match="non-empty"):
        bm25_batch_topk(tokenized_docs, {})


# ---------------------------------------------------------------------------
# Persisted posting index
# ---------------------------------------------------------------------------

TERMS = ["dup", "join", "scan"]


def _topk_rows(df):
    return [(r.doc_id, r.matched, r.score) for r in df.collect()]


def test_posting_index_matches_direct_bitwise(spark, tokenized_docs, tmp_path):
    """Indexed search ≡ direct search, scores compared with == (same
    integer tf/dl/df/N inputs through the shared scoring core, same
    float association — not approximately equal, EQUAL)."""
    from nlp_with_pyspark_spark.operators.search import (
        bm25_topk_indexed,
        build_posting_index,
        load_posting_index,
        persist_posting_index,
    )
    from nlp_with_pyspark_spark.plans.inspect import exchanges_covering

    prefix = "t_bm25_idx"
    persist_posting_index(
        build_posting_index(tokenized_docs), prefix, n_buckets=8,
        path=str(tmp_path / "pidx"),
    )
    try:
        idx = load_posting_index(spark, prefix)
        # plan contract FIRST, on the un-executed query (AQE rewrites
        # the printed tree after execution): the term IN-filter reaches
        # the parquet scan with bucket pruning, the df aggregation is
        # Exchange-free on the bucketed-by-word layout, and the ONLY
        # shuffle the index rows ever cross is the final candidate-sized
        # per-doc aggregation
        indexed = bm25_topk_indexed(idx, TERMS, k=15)
        assert exchanges_covering(indexed, f"{prefix}_postings") == 1
        plan = plan_string(indexed)
        assert "In(word, [dup,join,scan])" in plan
        assert "SelectedBucketsCount: 3 out of 8" in plan
        assert "SortMergeJoin" not in plan
        assert _topk_rows(indexed) == _topk_rows(
            bm25_topk(tokenized_docs, TERMS, k=15)
        )
    finally:
        for t in ("postings", "docs", "stats"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_posting_index_append_equivalence(spark, tokenized_docs, tmp_path):
    """Build on half the corpus, append the other half: queries and the
    exact (n_docs, total_dl) stats equal the one-shot full build — and
    the Exchange-free query layout survives the append."""
    from pyspark.sql import functions as F  # noqa: F811
    from nlp_with_pyspark_spark.operators.search import (
        bm25_topk_indexed,
        append_to_posting_index,
        build_posting_index,
        load_posting_index,
        persist_posting_index,
    )
    from nlp_with_pyspark_spark.plans.inspect import exchanges_covering

    prefix = "t_bm25_app"
    half_a = tokenized_docs.where(F.col("doc_id") % 2 == 0)
    half_b = tokenized_docs.where(F.col("doc_id") % 2 == 1)
    persist_posting_index(
        build_posting_index(half_a), prefix, n_buckets=8,
        path=str(tmp_path / "pidx"),
    )
    try:
        append_to_posting_index(build_posting_index(half_b), prefix)
        idx = load_posting_index(spark, prefix)
        indexed = bm25_topk_indexed(idx, TERMS, k=15)
        assert exchanges_covering(indexed, f"{prefix}_postings") == 1
        assert _topk_rows(indexed) == _topk_rows(
            bm25_topk(tokenized_docs, TERMS, k=15)
        )
        got = idx.stats.collect()[0]
        ref = build_posting_index(tokenized_docs).stats.collect()[0]
        assert (got["n_docs"], got["total_dl"]) == (ref["n_docs"], ref["total_dl"])
    finally:
        for t in ("postings", "docs", "stats"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_posting_index_append_replay_is_noop(spark, tokenized_docs, tmp_path):
    """Re-running the SAME append (the natural recovery after a crash
    mid-append) changes nothing: no duplicate postings, the docs ledger
    stays one row per doc, and the derived stats are byte-identical —
    the replay guard + derive-don't-fold protocol. Pre-fix this
    double-appended postings and double-folded stats."""
    from pyspark.sql import functions as F  # noqa: F811
    from nlp_with_pyspark_spark.operators.search import (
        append_to_posting_index,
        bm25_topk,
        bm25_topk_indexed,
        build_posting_index,
        load_posting_index,
        persist_posting_index,
    )

    prefix = "t_bm25_replay"
    half_a = tokenized_docs.where(F.col("doc_id") % 2 == 0)
    half_b = tokenized_docs.where(F.col("doc_id") % 2 == 1)
    persist_posting_index(
        build_posting_index(half_a), prefix, n_buckets=8,
        path=str(tmp_path / "pidx"),
    )
    try:
        append_to_posting_index(build_posting_index(half_b), prefix)
        idx = load_posting_index(spark, prefix)
        snap = sorted(
            (r.word, r.doc_id, r.tf, r.dl) for r in idx.postings.collect()
        )
        stats = idx.stats.collect()[0]
        # replay the exact same delta — and once more for good measure
        append_to_posting_index(build_posting_index(half_b), prefix)
        append_to_posting_index(build_posting_index(half_b), prefix)
        idx2 = load_posting_index(spark, prefix)
        assert sorted(
            (r.word, r.doc_id, r.tf, r.dl) for r in idx2.postings.collect()
        ) == snap
        got = idx2.stats.collect()[0]
        assert (got["n_docs"], got["total_dl"]) == (
            stats["n_docs"], stats["total_dl"],
        )
        ledger_dups = (
            idx2.docs.groupBy("doc_id").count().where(F.col("count") > 1)
        )
        assert ledger_dups.count() == 0
        # and the index still answers identically to the direct path
        assert _topk_rows(bm25_topk_indexed(idx2, TERMS, k=15)) == _topk_rows(
            bm25_topk(tokenized_docs, TERMS, k=15)
        )
    finally:
        for t in ("postings", "docs", "stats"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_posting_index_append_heals_partial_postings(spark, tokenized_docs, tmp_path):
    """Crash window between the postings append and the docs-ledger
    append: stale postings rows exist for docs the ledger does not
    know. The replayed append must cancel those rows row-for-row (not
    duplicate them) and commit the rest — the (word, doc_id) anti-join
    leg of the protocol."""
    from pyspark.sql import functions as F  # noqa: F811
    from nlp_with_pyspark_spark.operators.search import (
        append_to_posting_index,
        build_posting_index,
        load_posting_index,
        persist_posting_index,
    )
    from nlp_with_pyspark_spark.sources.io import append_to_bucketed_table

    prefix = "t_bm25_crashwin"
    half_a = tokenized_docs.where(F.col("doc_id") % 2 == 0)
    half_b = tokenized_docs.where(F.col("doc_id") % 2 == 1)
    persist_posting_index(
        build_posting_index(half_a), prefix, n_buckets=8,
        path=str(tmp_path / "pidx"),
    )
    try:
        delta = build_posting_index(half_b)
        # simulate the crashed attempt: HALF the delta's postings land,
        # the docs ledger and stats never do
        partial = delta.postings.where(F.col("doc_id") % 4 == 1)
        append_to_bucketed_table(partial, f"{prefix}_postings")
        # recovery = replay the whole append
        append_to_posting_index(build_posting_index(half_b), prefix)
        idx = load_posting_index(spark, prefix)
        dups = (
            idx.postings.groupBy("word", "doc_id").count().where(F.col("count") > 1)
        )
        assert dups.count() == 0
        ref = build_posting_index(tokenized_docs)
        assert idx.postings.count() == ref.postings.count()
        got = idx.stats.collect()[0]
        want = ref.stats.collect()[0]
        assert (got["n_docs"], got["total_dl"]) == (
            want["n_docs"], want["total_dl"],
        )
    finally:
        for t in ("postings", "docs", "stats"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_events_distinct_sketch_query_near_exact(spark, sf_dir):
    """The registered rows-only query (no SQL oracle is possible —
    DataSketches HLL != DuckDB's HLL) still gets a value gate here:
    per-type estimates within the lgk=12 error budget of the exact
    distinct count, and one row per event type."""
    from nlp_with_pyspark_spark.queries import QUERIES
    from nlp_with_pyspark_spark.sources.io import read_table

    got = {
        r.event_type: r.n_distinct_est
        for r in QUERIES["events_distinct_sketch"](spark, sf_dir).collect()
    }
    events = read_table(spark, sf_dir, "events")
    exact = {
        r.event_type: r.n
        for r in events.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for k, n in exact.items():
        assert abs(got[k] - n) <= max(0.05 * n, 2), (k, n, got[k])


def test_posting_index_delete_equals_rebuild(spark, tokenized_docs, tmp_path):
    """Tombstoning docs makes the index answer BIT-IDENTICALLY to (a)
    the direct scorer over the corpus minus those docs and (b) an index
    rebuilt without them — tf rows drop before df counts, stats
    re-derive over the live ledger. Deletes are idempotent (replaying
    the same delete adds nothing) and unknown ids are no-ops."""
    from pyspark.sql import functions as F  # noqa: F811
    from nlp_with_pyspark_spark.operators.search import (
        bm25_topk,
        bm25_topk_indexed,
        build_posting_index,
        load_posting_index,
        persist_posting_index,
        remove_from_posting_index,
    )

    prefix = "t_bm25_del"
    persist_posting_index(
        build_posting_index(tokenized_docs), prefix, n_buckets=8,
        path=str(tmp_path / "pidx"),
    )
    try:
        # delete every doc_id % 7 == 0 — including some top-15 members
        dead = [r.doc_id for r in tokenized_docs.where(
            F.col("doc_id") % 7 == 0).select("doc_id").collect()]
        n1 = remove_from_posting_index(spark, dead, prefix)
        assert n1 == len(dead)
        # idempotent replay + unknown ids are no-ops
        assert remove_from_posting_index(spark, dead, prefix) == 0
        assert remove_from_posting_index(spark, [10**12, 10**12 + 1], prefix) == 0

        live = tokenized_docs.where(F.col("doc_id") % 7 != 0)
        idx = load_posting_index(spark, prefix)
        got = _topk_rows(bm25_topk_indexed(idx, TERMS, k=15))
        assert got == _topk_rows(bm25_topk(live, TERMS, k=15))
        # stats equal a rebuild's exact integers
        stats = idx.stats.collect()[0]
        ref = build_posting_index(live).stats.collect()[0]
        assert (stats["n_docs"], stats["total_dl"]) == (
            ref["n_docs"], ref["total_dl"],
        )
    finally:
        for t in ("postings", "docs", "stats", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_posting_index_vacuum_preserves_answers_and_layout(
    spark, tokenized_docs, tmp_path
):
    """Vacuum physically folds tombstones: identical query answers
    before/after, postings and ledger shrink by exactly the dead rows,
    tombstones empty out, the bucketed Exchange-free layout survives
    the rewrite, and a second vacuum is a no-op."""
    from pyspark.sql import functions as F  # noqa: F811
    from nlp_with_pyspark_spark.operators.search import (
        bm25_topk_indexed,
        build_posting_index,
        load_posting_index,
        persist_posting_index,
        remove_from_posting_index,
        vacuum_posting_index,
    )
    from nlp_with_pyspark_spark.plans.inspect import exchanges_covering

    prefix = "t_bm25_vac"
    persist_posting_index(
        build_posting_index(tokenized_docs), prefix, n_buckets=8,
        path=str(tmp_path / "pidx"),
    )
    try:
        dead = [r.doc_id for r in tokenized_docs.where(
            F.col("doc_id") % 5 == 0).select("doc_id").collect()]
        remove_from_posting_index(spark, dead, prefix)
        idx = load_posting_index(spark, prefix)
        before = _topk_rows(bm25_topk_indexed(idx, TERMS, k=15))
        stats_before = idx.stats.collect()[0]
        n_postings_dead = idx.postings.where(
            F.col("doc_id").isin(dead)).count()
        n_postings_total = idx.postings.count()

        report = vacuum_posting_index(spark, prefix)
        assert report["tombstones_folded"] == len(dead)
        idx2 = load_posting_index(spark, prefix)
        # an emptied tombstones table loads as None so the plan reverts
        # to the pre-delete shape
        assert idx2.tombstones is None
        assert idx2.postings.count() == n_postings_total - n_postings_dead
        assert idx2.postings.where(F.col("doc_id").isin(dead)).count() == 0
        assert idx2.docs.where(F.col("doc_id").isin(dead)).count() == 0
        after = bm25_topk_indexed(idx2, TERMS, k=15)
        # plan contract FIRST, on the un-executed query (AQE rewrites
        # the printed tree after execution): the bucketed Exchange-free
        # serving layout must survive the staged rewrite, and the
        # emptied tombstones must add no anti-join back
        assert exchanges_covering(after, f"{prefix}_postings") == 1
        assert _topk_rows(after) == before
        stats_after = idx2.stats.collect()[0]
        assert (stats_after["n_docs"], stats_after["total_dl"]) == (
            stats_before["n_docs"], stats_before["total_dl"],
        )
        # second vacuum: nothing to fold
        assert vacuum_posting_index(spark, prefix)["tombstones_folded"] == 0
    finally:
        for t in ("postings", "docs", "stats", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_posting_append_scrubs_stale_tombstone_after_crashed_vacuum(
    spark, tokenized_docs, tmp_path
):
    """The vacuum crash window (died after the physical folds, before
    the tombstone clear) must not invisibly shadow a re-ingest: a stale
    tombstone row — a doc_id the ledger no longer holds — is scrubbed
    by append_to_posting_index when it admits that id, so the
    re-ingested doc serves and counts in the derived stats immediately
    (the vector store's protocol, operators/vector_store)."""
    from pyspark.sql import functions as F  # noqa: F811
    from nlp_with_pyspark_spark.operators.search import (
        bm25_topk,
        bm25_topk_indexed,
        build_posting_index,
        load_posting_index,
        persist_posting_index,
        remove_from_posting_index,
        vacuum_posting_index,
    )

    prefix = "t_bm25_crashwin"
    persist_posting_index(
        build_posting_index(tokenized_docs), prefix, n_buckets=8,
        path=str(tmp_path / "pidx"),
    )
    try:
        full = _topk_rows(bm25_topk(tokenized_docs, TERMS, k=15))
        dead = tokenized_docs.where(F.col("doc_id") % 5 == 0).select(
            "doc_id"
        ).localCheckpoint()
        remove_from_posting_index(spark, dead, prefix)
        vacuum_posting_index(spark, prefix)
        # simulate the crash: the folds completed, the clear did not —
        # re-insert the tombstone rows over the already-folded ids
        dead.write.mode("append").format("parquet").saveAsTable(
            f"{prefix}_tombstones"
        )
        spark.catalog.refreshTable(f"{prefix}_tombstones")

        resurrect = tokenized_docs.join(F.broadcast(dead), "doc_id", "left_semi")
        append_to = build_posting_index(resurrect)
        from nlp_with_pyspark_spark.operators.search import (
            append_to_posting_index,
        )

        append_to_posting_index(append_to, prefix)
        idx = load_posting_index(spark, prefix)
        # the stale rows are gone, the re-ingested docs serve NOW, and
        # the stats equal the full rebuild's exact integers
        assert idx.tombstones is None
        assert _topk_rows(bm25_topk_indexed(idx, TERMS, k=15)) == full
        stats = idx.stats.collect()[0]
        ref = build_posting_index(tokenized_docs).stats.collect()[0]
        assert (stats["n_docs"], stats["total_dl"]) == (
            ref["n_docs"], ref["total_dl"],
        )
        # the next vacuum has nothing to fold — the window left no debt
        assert vacuum_posting_index(spark, prefix)["tombstones_folded"] == 0
    finally:
        for t in ("postings", "docs", "stats", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_posting_index_tombstones_survive_restart(spark, tokenized_docs, tmp_path):
    """A session restart must not resurrect takedowns: the catalog is
    per-session but the ``<postings>__tombstones`` data dir is not, and
    ``load_posting_index`` self-heals the tombstone registration the
    same way ``register_bucketed_table`` heals postings/docs. Restart
    is simulated the way the postings/docs restart tests do — DROP the
    catalog entries, keep the files, re-register."""
    from pyspark.sql import functions as F  # noqa: F811
    from nlp_with_pyspark_spark.operators.search import (
        _table_path_if_external,
        bm25_topk,
        bm25_topk_indexed,
        build_posting_index,
        load_posting_index,
        persist_posting_index,
        remove_from_posting_index,
    )
    from nlp_with_pyspark_spark.sources.io import register_bucketed_table

    prefix = "t_bm25_restart_tomb"
    path = str(tmp_path / "pidx")
    persist_posting_index(
        build_posting_index(tokenized_docs), prefix, n_buckets=8, path=path
    )
    try:
        dead = [
            r.doc_id
            for r in tokenized_docs.where(F.col("doc_id") % 7 == 0)
            .select("doc_id")
            .collect()
        ]
        remove_from_posting_index(spark, dead, prefix)
        # the tombstone table must live INSIDE the store dir, external
        tpath = _table_path_if_external(spark, f"{prefix}_tombstones")
        assert tpath is not None and tpath.startswith(path)

        # --- "restart": catalog entries vanish, files survive
        for t in ("postings", "docs", "stats", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
        register_bucketed_table(spark, f"{prefix}_postings", "word", 8, f"{path}/postings")
        register_bucketed_table(spark, f"{prefix}_docs", "doc_id", 8, f"{path}/docs")
        spark.sql(
            f"CREATE TABLE {prefix}_stats (n_docs bigint, total_dl bigint) "
            f"USING parquet LOCATION '{path}/stats'"
        )

        idx = load_posting_index(spark, prefix)
        assert idx.tombstones is not None
        assert idx.tombstones.count() == len(dead)
        live = tokenized_docs.where(F.col("doc_id") % 7 != 0)
        assert _topk_rows(bm25_topk_indexed(idx, TERMS, k=15)) == _topk_rows(
            bm25_topk(live, TERMS, k=15)
        )
        # a post-restart delete keeps appending to the healed table
        # (idempotent on the already-dead set)
        assert remove_from_posting_index(spark, dead, prefix) == 0
    finally:
        for t in ("postings", "docs", "stats", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_vacuum_keeps_external_locations_and_disk_state(
    spark, tokenized_docs, tmp_path
):
    """The vacuum's tombstone clear and every stats refresh must keep
    EXTERNAL tables at their store-dir locations (a bare overwrite
    would recreate them MANAGED at the warehouse): after vacuum, the
    on-disk ``<postings>__tombstones`` dir holds zero ids — so a later
    session's self-heal resurrects nothing — and ``{path}/stats`` on
    disk carries the live counts a path-addressed reader expects."""
    from pyspark.sql import functions as F  # noqa: F811
    from nlp_with_pyspark_spark.operators.search import (
        _table_path_if_external,
        build_posting_index,
        load_posting_index,
        persist_posting_index,
        remove_from_posting_index,
        vacuum_posting_index,
    )

    prefix = "t_bm25_vac_ext"
    path = str(tmp_path / "pidx")
    persist_posting_index(
        build_posting_index(tokenized_docs), prefix, n_buckets=8, path=path
    )
    try:
        dead = [
            r.doc_id
            for r in tokenized_docs.where(F.col("doc_id") % 5 == 0)
            .select("doc_id")
            .collect()
        ]
        remove_from_posting_index(spark, dead, prefix)
        # stats refresh after a delete keeps the external location
        assert _table_path_if_external(spark, f"{prefix}_stats") == f"{path}/stats"

        vacuum_posting_index(spark, prefix)
        tpath = f"{path}/postings__tombstones"
        # still external at the sidecar location, and EMPTY on disk
        assert _table_path_if_external(spark, f"{prefix}_tombstones") == tpath
        assert spark.read.parquet(tpath).count() == 0
        # the on-disk stats dir reflects the live (post-delete) corpus
        live = tokenized_docs.where(F.col("doc_id") % 5 != 0)
        want = build_posting_index(live).stats.collect()[0]
        got = spark.read.parquet(f"{path}/stats").collect()[0]
        assert (got["n_docs"], got["total_dl"]) == (want["n_docs"], want["total_dl"])

        # restart after vacuum: self-heal finds an EMPTY sidecar →
        # tombstones load as None, nothing resurrected
        for t in ("postings", "docs", "stats", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
        from nlp_with_pyspark_spark.sources.io import register_bucketed_table

        register_bucketed_table(spark, f"{prefix}_postings", "word", 8, f"{path}/postings")
        register_bucketed_table(spark, f"{prefix}_docs", "doc_id", 8, f"{path}/docs")
        spark.sql(
            f"CREATE TABLE {prefix}_stats (n_docs bigint, total_dl bigint) "
            f"USING parquet LOCATION '{path}/stats'"
        )
        assert load_posting_index(spark, prefix).tombstones is None
    finally:
        for t in ("postings", "docs", "stats", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_exact_quantiles_driver_path_equals_distributed(spark, values_df):
    """The measured-small driver fast path (round-13 optimization) must
    be EXACTLY the distributed histogram path — same rows, both global
    and grouped, including the rank/tie semantics."""
    for by in ((), ["grp"]):
        fast = exact_quantiles(values_df, "v", QS, by=by, n_buckets=8).collect()
        slow = exact_quantiles(
            values_df, "v", QS, by=by, n_buckets=8, driver_threshold=0
        ).collect()
        assert sorted(map(tuple, fast)) == sorted(map(tuple, slow))


def test_exact_quantile_rows_equals_collected_frame(spark, values_df):
    """exact_quantile_rows (the funnels' cutoff read) must return
    exactly ``exact_quantiles(...).collect()`` — same rows, same order —
    on the driver path and the distributed path, global and grouped
    (including a null group key and double values), at the q=0 and q=1
    edges (both in QS), and ``[]`` on empty input. The two paths agree
    with each other too — a null group key included."""
    nullable = values_df.select(
        F.when(F.col("grp") > 0, F.col("grp")).alias("grp"),
        (F.col("v") / 3).alias("v"),
    )
    for df in (values_df, nullable):
        for by in ((), ["grp"]):
            per_path = []
            for path in ({}, {"driver_threshold": 0}):
                want = exact_quantiles(df, "v", QS, by=by, n_buckets=8, **path).collect()
                got = exact_quantile_rows(df, "v", QS, by=by, n_buckets=8, **path)
                assert got == want
                assert [r.asDict() for r in got] == [r.asDict() for r in want]
                per_path.append(got)
            assert per_path[0] == per_path[1]
    empty = values_df.where(F.lit(False))
    for path in ({}, {"driver_threshold": 0}):
        assert exact_quantile_rows(empty, "v", [0.5], by=["grp"], **path) == []
        assert exact_quantiles(empty, "v", [0.5], by=["grp"], **path).collect() == []


def test_posting_index_delete_fallback_over_threshold(
    spark, tokenized_docs, tmp_path, monkeypatch
):
    """A takedown frame larger than the driver-collect bound must take
    the distributed append fallback (io.append_ids_table) and still be
    bit-identical to the driver-side path: same count, same tombstone
    table, same serve answers."""
    from pyspark.sql import functions as F  # noqa: F811
    from nlp_with_pyspark_spark.operators.search import (
        bm25_topk,
        bm25_topk_indexed,
        build_posting_index,
        load_posting_index,
        persist_posting_index,
        remove_from_posting_index,
    )
    from nlp_with_pyspark_spark.sources import io as io_mod

    prefix = "t_bm25_del_fb"
    persist_posting_index(
        build_posting_index(tokenized_docs), prefix, n_buckets=8,
        path=str(tmp_path / "pidx_fb"),
    )
    try:
        monkeypatch.setattr(io_mod, "TAKEDOWN_COLLECT_MAX", 3)
        dead_df = tokenized_docs.where(F.col("doc_id") % 7 == 0).select("doc_id")
        n_dead = dead_df.count()
        assert n_dead > 3, "fixture must exceed the patched bound"
        assert remove_from_posting_index(spark, dead_df, prefix) == n_dead
        # idempotent replay through the fallback too
        assert remove_from_posting_index(spark, dead_df, prefix) == 0
        live = tokenized_docs.where(F.col("doc_id") % 7 != 0)
        idx = load_posting_index(spark, prefix)
        got = _topk_rows(bm25_topk_indexed(idx, TERMS, k=15))
        assert got == _topk_rows(bm25_topk(live, TERMS, k=15))
    finally:
        for t in ("postings", "docs", "stats", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
