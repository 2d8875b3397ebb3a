"""DSIR-style importance-weighted data selection.

A 100 TB raw corpus is not trained on wholesale — published pipelines
SELECT the subset that looks like a target domain. The standard
scalable recipe is DSIR (Xie et al. 2023, "Data Selection for Language
Models via Importance Resampling"): fit bag-of-hashed-n-gram models on
the target set and on the raw source, weight every source document by
its log importance ratio under the two models, and keep the
highest-weight documents. Hashed features are the point, not a
compromise — the bucket count caps BOTH model sizes at a constant
regardless of vocabulary, which is what makes the weights a broadcast.

Absent from the reference (no corpus-curation ops at all); built
Spark-first:

  * features are word n-grams (unigrams + bigrams by default, the
    paper's configuration) hashed into ``n_buckets`` buckets via the
    engine's oracle-parity md5 idiom (4 hex chars → 16-bit int → pmod;
    queries.py `_hex4_to_int_sql` is the SQL mirror, so the whole
    scoring chain is DuckDB-replayable);
  * the target model is one hash agg over the (small) target set; the
    source model is one map-side-combined hash agg over the corpus —
    counts only, ≤ ``n_buckets`` rows each side;
  * the smoothed log-ratio weight table (≤ ``n_buckets`` rows) is
    collected once — a bounded fetch, the `_collect_centroids`
    precedent — and folded into a DENSE ARRAY LITERAL (SQL-compiled,
    see ``_dense_weight_lit``), so scoring is a pure row-local
    projection: grams never leave their document's row, the per-doc
    sum is ``aggregate`` over the gram array, and the scoring pass
    crosses ZERO joins and ZERO Exchanges (plan-pinned in tests).

Two corpus passes by construction (the source model must be complete
before any weight exists). The paper's own scale trick applies when
even that is too dear: fit the source model on a ``hash_sample`` of
the corpus — the model is a 10⁴-bucket histogram, a 1% deterministic
sample estimates it to ~1% relative error, and only the scoring pass
reads everything.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _grams_expr(tokens_col: str, ns: Sequence[int]) -> Column:
    """The n-gram-array expression itself (flet-bound so the tokens
    column evaluates once per row) — shared by the model-fitting /
    scoring projections and the payload-preserving streaming scorer."""
    from ..functions.expr import flet

    def build(tt: Column) -> Column:
        def grams_of(n: int) -> Column:
            # the lambda MUST be unary: pyspark dispatches on lambda
            # arity, and a second parameter (even a defaulted capture
            # like `n=n`) makes transform() pass the element INDEX into
            # it — silently replacing the n-gram length with the
            # position (caught by the DuckDB oracle mismatch)
            return F.transform(
                F.sequence(F.lit(0), F.size(tt) - n),
                lambda i: F.concat_ws(" ", F.slice(tt, i + 1, n)),
            )

        per_n = [
            F.when(F.size(tt) >= n, grams_of(n)).otherwise(F.array())
            for n in ns
        ]
        return F.concat(*per_n) if len(per_n) > 1 else per_n[0]

    return flet(F.col(tokens_col), build)


def _gram_rows(
    docs: DataFrame,
    tokens_col: str,
    id_col: str,
    ns: Sequence[int],
    explode: bool = True,
) -> DataFrame:
    """n-gram OCCURRENCES (bag semantics, not set: DSIR's models are
    multinomial over feature counts) as space-joined token slices, one
    array per n, concatenated row-locally. ``explode=True`` →
    (doc_id, gram) rows for model fitting; ``explode=False`` →
    (doc_id, __grams) with the array kept ROW-LOCAL for the zero-join
    scoring projection."""
    from ..sources.io import ensure_parallelism

    if not docs.isStreaming:
        # .rdd (the parallelism probe) is illegal on a streaming frame;
        # a stream's parallelism is the source's concern anyway
        docs = ensure_parallelism(docs)
    out = docs.select(
        F.col(id_col).alias("doc_id"),
        _grams_expr(tokens_col, ns).alias("__grams"),
    )
    if not explode:
        return out
    return out.select("doc_id", F.explode("__grams").alias("gram"))


def _bucket(gram: Column, n_buckets: int) -> Column:
    """Hashed feature bucket — md5's first 4 hex chars as a 16-bit int,
    pmod into ``n_buckets`` (≤ 65536). The exact chain the SQL oracle
    replays with `_hex4_to_int_sql`; flip to xxhash64 at deployment the
    same way the minhash family does (hash collisions are part of the
    DSIR model either way)."""
    if not 1 <= n_buckets <= 65536:
        raise ValueError(f"n_buckets must be in [1, 65536], got {n_buckets}")
    return F.pmod(
        F.conv(F.substring(F.md5(gram), 1, 4), 16, 10).cast("long"),
        F.lit(n_buckets),
    ).cast("int")


def features_expr(
    tokens_col: str = "tokens", ns: Sequence[int] = (1, 2), n_buckets: int = 4096
) -> Column:
    """The per-doc hashed-feature BUCKET array as one row-local
    expression: ``_grams_expr``'s n-gram occurrences mapped through
    ``_bucket`` — exactly the multiset of buckets the gram pipeline
    derives, as an int array.

    This is the share-the-hash seam: the gram build + md5 bucketing is
    the expensive half of every DSIR pass, and a pipeline that fits a
    source model AND scores the same corpus otherwise evaluates it once
    per pass. Materialize ``features_expr(...)`` once (localCheckpoint
    here; a stored column in a real ingestion pipeline) and hand the
    frame to :func:`dsir_weights` / :func:`dsir_scores` via
    ``features_col=`` — model fits become an int-array explode and
    scoring a pure array fold, with the hash evaluated exactly once per
    document. Bucket values are bit-identical to the gram path by
    construction (same ``_grams_expr``, same ``_bucket``), so scores,
    and the DuckDB oracle parity behind them, are unchanged — pinned in
    tests/test_selection.py."""
    return F.transform(_grams_expr(tokens_col, ns), lambda g: _bucket(g, n_buckets))




def dsir_weights(
    corpus: DataFrame,
    target: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    ns: Sequence[int] = (1, 2),
    n_buckets: int = 4096,
    smoothing: float = 1.0,
    features_col: str | None = None,
) -> DataFrame:
    """The per-bucket importance log-weights: ``(bucket, w)`` with

        w(b) = ln( (tgt_b + α) / (tgt_total + α·B) )
             − ln( (src_b + α) / (src_total + α·B) )

    — add-α smoothed log probability ratio of the target vs source
    bag-of-hashed-n-grams models (B = ``n_buckets``). ≤ B rows — small
    enough to broadcast or to fold into a map literal
    (:func:`dsir_scores` does the latter). Only buckets observed in at
    least one model appear; a bucket observed in neither never occurs
    when scoring the corpus that built the source model (every corpus
    gram is in it by construction).

    ``features_col``: both frames carry a precomputed
    :func:`features_expr` bucket array under this name — the fits then
    explode materialized ints instead of re-deriving grams + md5 per
    pass (see :func:`features_expr`).

    Execution shape: ONE lazy Spark plan. Both model fits run as one
    tagged union-aggregation (per-bucket target count + combined count —
    the source count is their exact long difference); the two model
    totals are ``sum(...) over ()`` across the ≤B bucket rows (a
    single-partition window, bounded by ``n_buckets``) and the
    log-ratio is evaluated in the same projection (JVM
    ``StrictMath.log`` on the same long totals), bit-identical to
    summing the collected counts on the driver (differential test in
    tests/test_selection.py). Nothing is collected here and no frame is
    built from driver-side data: the caller's single collect
    (:func:`dsir_scores`) or broadcast runs the whole chain on the JVM,
    with no Python worker.
    """
    if features_col is not None:
        tb = target.select(F.explode(F.col(features_col)).alias("bucket"))
        sb = corpus.select(F.explode(F.col(features_col)).alias("bucket"))
    else:
        tb = _gram_rows(target, tokens_col, id_col, ns).select(
            _bucket(F.col("gram"), n_buckets).alias("bucket")
        )
        sb = _gram_rows(corpus, tokens_col, id_col, ns).select(
            _bucket(F.col("gram"), n_buckets).alias("bucket")
        )
    tagged = tb.withColumn("__t", F.lit(1)).unionByName(
        sb.withColumn("__t", F.lit(0))
    )
    counts = tagged.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("__all"),
        F.sum("__t").cast("long").alias("__tc"),
    )
    tc = F.col("__tc")
    sc = F.col("__all") - tc
    # bounded single-partition window: ≤ n_buckets rows
    everything = Window.partitionBy()
    tt, st = F.sum(tc).over(everything), F.sum(sc).over(everything)
    a, b = F.lit(float(smoothing)), F.lit(float(smoothing * n_buckets))
    w = F.log(
        (tc.cast("double") + a) / (tt.cast("double") + b)
    ) - F.log(
        (sc.cast("double") + a) / (st.cast("double") + b)
    )
    return counts.select("bucket", w.alias("w"))


def dsir_scores(
    corpus: DataFrame,
    target: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    ns: Sequence[int] = (1, 2),
    n_buckets: int = 4096,
    smoothing: float = 1.0,
    weights: DataFrame | None = None,
    features_col: str | None = None,
) -> DataFrame:
    """Per-document DSIR importance scores: ``(doc_id, n_features,
    dsir_score)`` for EVERY corpus doc — ``dsir_score`` is the sum of
    its features' bucket log-weights (the document's log importance
    ratio under the two bag models), rounded to 6 decimals AFTER the
    sum; feature-less docs (empty token lists) score exactly 0 with
    ``n_features`` 0.

    ``weights``: optional pre-computed :func:`dsir_weights` frame —
    pass it when scoring the same corpus against several targets, or
    when the models were fit on a sample (the ``assigned=`` reuse seam
    pattern). Weights are collected driver-side either way — a BOUNDED
    fetch (≤ ``n_buckets`` rows, the `_collect_centroids` precedent) —
    and folded into a single map literal.

    Scale shape: scoring is a PURE ROW-LOCAL PROJECTION — grams stay
    in their document's row, the bucket→weight map is a literal, and
    the per-doc sum is ``aggregate`` over the gram array — zero joins,
    zero shuffles, zero Exchanges (plan-pinned in tests). The corpus
    is read once for the source model and once for scoring; nothing
    else moves. Feature-less docs fold over an empty array and score
    exactly 0. A bucket somehow absent from the map (only possible
    when scoring a frame the source model never saw — the seam's
    documented approximation) contributes 0.

    ``features_col``: corpus and target carry a precomputed
    :func:`features_expr` bucket array — the fits and the scoring fold
    consume the materialized ints and the gram+md5 chain is evaluated
    exactly once per document (at the caller's materialization point)
    instead of once per pass. Scores are bit-identical (same buckets,
    same fold order). ``n_buckets`` must equal the materializing
    ``features_expr`` call's — the array's buckets were fixed then,
    while the fits' smoothing term and the scoring fold's dense array
    are sized by the argument given here (the fold coalesces an
    out-of-range lookup to 0 rather than nulling the document, but a
    mismatch still mis-scores: keep them equal)."""
    if weights is None:
        weights = dsir_weights(
            corpus, target, tokens_col, id_col, ns, n_buckets, smoothing,
            features_col=features_col,
        )
    wrows = weights.collect()  # bounded: ≤ n_buckets rows
    return _fold_scores(
        corpus, wrows, tokens_col, id_col, ns, n_buckets, features_col
    )


def _dense_weight_lit(dense: list[float]) -> Column:
    """The bucket→weight DENSE array as ONE SQL-parsed literal.
    ``F.lit(list)`` builds the array element-by-element through py4j —
    measured ~3.5 s of pure driver time per fresh plan at B=4096,
    dwarfing the scoring job itself (~0.1 s) — where one parsed
    ``array(...)`` SQL string is milliseconds (the operators/similarity
    literal-compilation idiom). ``repr()`` of a Python float is the
    shortest round-trip form, so each parsed double is bit-identical to
    the ``F.lit`` value it replaces. Non-finite weights (``smoothing=0``
    with a source-only bucket yields ``log(0) = -inf``) have no ``D``
    literal form — they are emitted as the cast the SQL parser does
    accept, matching ``F.lit(float('-inf'))`` exactly."""
    import math

    def wlit(w: float) -> str:
        if math.isfinite(w):
            return f"{w!r}D"
        if math.isnan(w):
            return "CAST('NaN' AS DOUBLE)"
        return f"CAST('{'-' if w < 0 else ''}Infinity' AS DOUBLE)"

    return F.expr("array(" + ",".join(wlit(w) for w in dense) + ")")


def _fold_scores(
    docs: DataFrame,
    wrows,
    tokens_col: str,
    id_col: str,
    ns: Sequence[int],
    n_buckets: int,
    features_col: str | None = None,
) -> DataFrame:
    """The scoring projection itself, weights already collected —
    shared by the batch scorer and the streaming twin (stateless, so
    it applies to a streaming frame unchanged)."""
    # DENSE array literal indexed by bucket (0.0 for never-observed
    # buckets): element_at by position is O(1), where a map literal's
    # element_at is a linear key scan — measured ~3× the whole scoring
    # pass at B=4096
    dense = [0.0] * n_buckets
    for r in wrows:
        dense[int(r["bucket"])] = float(r["w"])
    warr = _dense_weight_lit(dense)
    if features_col is not None:
        # precomputed bucket array: the fold adds the SAME weight terms
        # in the SAME order as the gram path (transform preserves order)
        from ..sources.io import ensure_parallelism

        if not docs.isStreaming:
            docs = ensure_parallelism(docs)
        # NOTE: n_buckets must equal the features_expr(...) call that
        # materialized the bucket array — the buckets were fixed then,
        # and this dense array is sized by the argument given HERE. The
        # coalesce guards the mismatch failure mode: under non-ANSI SQL
        # an out-of-range element_at returns null and would silently
        # null every score; a never-observed in-range bucket contributes
        # 0 by the documented seam semantics either way (in the matched
        # case element_at is never null, so the fold is bit-unchanged).
        feats = F.col(features_col)
        score = F.aggregate(
            feats,
            F.lit(0.0),
            lambda acc, b: acc + F.coalesce(F.element_at(warr, b + 1), F.lit(0.0)),
        )
        return docs.select(
            F.col(id_col).alias("doc_id"),
            F.size(feats).cast("long").alias("n_features"),
            F.round(score, 6).alias("dsir_score"),
        )
    grams = _gram_rows(docs, tokens_col, id_col, ns, explode=False)
    score = F.aggregate(
        F.col("__grams"),
        F.lit(0.0),
        lambda acc, g: acc + F.element_at(warr, _bucket(g, n_buckets) + 1),
    )
    return grams.select(
        "doc_id",
        F.size("__grams").cast("long").alias("n_features"),
        F.round(score, 6).alias("dsir_score"),
    )


def dsir_score_stream(
    stream_docs: DataFrame,
    weights: DataFrame,
    keep_min: float | None = None,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    ns: Sequence[int] = (1, 2),
    n_buckets: int = 4096,
) -> DataFrame:
    """Curation-on-ingest: score a document STREAM with a FROZEN DSIR
    model — the production serving shape of the selection stage (fit
    the models offline on yesterday's corpus + target, then score and
    gate documents as they arrive; the published pipelines all apply
    selection as a filter at ingest once the model exists).

    ``weights``: a BATCH :func:`dsir_weights` frame, collected once at
    stream setup (bounded, ≤ ``n_buckets`` rows) and folded into the
    same dense array literal as the batch scorer — the scoring is a
    STATELESS row-local projection, so it lifts onto a streaming frame
    unchanged: no state store, no watermark, no shuffle, every
    micro-batch is scored at scan speed. Scores are therefore
    IDENTICAL to :func:`dsir_scores` with the same weights over the
    drained stream (pinned in tests). ``keep_min`` applies the
    selection gate in-stream (``dsir_score >= keep_min`` — the
    threshold the batch pipeline derives via exact_quantiles, see
    pipeline.curation_funnel).

    Returns the stream with ``n_features`` and ``dsir_score`` APPENDED
    to the original columns (not the batch scorer's thin projection):
    the payload survives the gate, so kept documents flow straight
    into the downstream stage — e.g. the search-index ingest sink for
    a score-then-index pipeline (composition pinned end-to-end in
    tests/test_streaming.py)."""
    if not stream_docs.isStreaming:
        raise ValueError(
            "dsir_score_stream expects a streaming frame; use dsir_scores "
            "(optionally with its weights= seam) for batch"
        )
    wrows = weights.collect()  # bounded: ≤ n_buckets rows, setup-time
    dense = [0.0] * n_buckets
    for r in wrows:
        dense[int(r["bucket"])] = float(r["w"])
    warr = _dense_weight_lit(dense)
    scored = (
        stream_docs.withColumn("__grams", _grams_expr(tokens_col, ns))
        .select(
            "*",
            F.size("__grams").cast("long").alias("n_features"),
            F.round(
                F.aggregate(
                    F.col("__grams"),
                    F.lit(0.0),
                    lambda acc, g: acc
                    + F.element_at(warr, _bucket(g, n_buckets) + 1),
                ),
                6,
            ).alias("dsir_score"),
        )
        .drop("__grams")
    )
    if keep_min is not None:
        scored = scored.where(F.col("dsir_score") >= float(keep_min))
    return scored


def dsir_top_k(
    corpus: DataFrame,
    target: DataFrame,
    k: int,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    ns: Sequence[int] = (1, 2),
    n_buckets: int = 4096,
    smoothing: float = 1.0,
) -> DataFrame:
    """The SELECT step: the ``k`` highest-scoring documents (score
    desc, doc_id asc — a total order, so the cut is deterministic),
    id + score only; join the payload back by id downstream. This is
    the paper's top-k variant; its Gumbel-resampling variant trades
    determinism for diversity and belongs behind an explicit seed —
    compose ``dsir_scores`` with a seeded ``hash_sample`` threshold on
    exp(score) if that is wanted.

    ``orderBy().limit(k)`` plans as TakeOrdered (per-partition top-k,
    then a k-row merge — no global sort). For corpus-fraction-sized
    selections where k itself is huge, cut by a score THRESHOLD
    instead: ``operators.sketch.exact_quantiles`` on ``dsir_score``
    finds the cutoff in one bounded pass, then a scan-filter keeps
    everything above it.
    """
    return (
        dsir_scores(corpus, target, tokens_col, id_col, ns, n_buckets, smoothing)
        .orderBy(F.desc("dsir_score"), F.asc("doc_id"))
        .limit(k)
    )


def dsir_resample_top_k(
    corpus: DataFrame,
    target: DataFrame,
    k: int,
    seed: str = "dsir-0",
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    ns: Sequence[int] = (1, 2),
    n_buckets: int = 4096,
    smoothing: float = 1.0,
    features_col: str | None = None,
) -> DataFrame:
    """The paper's actual SELECT step — importance RESAMPLING, made
    deterministic under a ``seed``: Gumbel-top-k over the document
    scores, i.e. a without-replacement sample of size ``k`` with
    inclusion probability ∝ exp(dsir_score) (Gumbel-max is exactly
    softmax sampling; taking the k largest perturbed keys is its
    without-replacement extension). :func:`dsir_top_k` is the argmax
    variant; resampling trades a little weight-faithfulness for the
    diversity the paper found matters at low selection ratios.

    The noise is the engine's seeded-hash idiom, not an RNG: the
    uniform is the first 8 md5 hex chars of ``seed~doc_id`` mapped into
    (0, 1) — (v + 1) / (2³² + 1), endpoint-free so the double log is
    always finite — and ``gumbel_key = dsir_score − ln(−ln(u))``. A new
    seed is a fresh, independent resample; the same seed reproduces the
    selection bit-for-bit on any cluster (the hash_sample/
    deterministic_shuffle determinism contract). Row-local like the
    scoring itself: the only plan addition is one projection and the
    same TakeOrdered cut as :func:`dsir_top_k`.
    """
    scored = dsir_scores(
        corpus, target, tokens_col, id_col, ns, n_buckets, smoothing,
        features_col=features_col,
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{seed}~"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(float(2**32 + 1))
    key = F.col("dsir_score") - F.log(-F.log(u))
    return (
        scored.withColumn("gumbel_key", F.round(key, 6))
        .orderBy(F.desc("gumbel_key"), F.asc("doc_id"))
        .limit(k)
    )
