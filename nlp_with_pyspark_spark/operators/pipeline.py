"""End-to-end training-data pipeline composition.

The individual corpus-hygiene operators (quality scoring, repetition
filters, near-dup dedup, decontamination) are each oracle-checked on
their own; this module composes them into the funnel a real ingestion
pipeline runs, with the yield report every data team watches: how many
documents survive each stage.

Composition is where a declarative engine pays off: each stage is a
DataFrame transformation, so Catalyst sees the WHOLE pipeline as one
plan — the quality/repetition projections fuse into the scan, the drop
lists stay on the join side, and nothing materializes between stages
unless an operator itself demands a barrier (the minhash checkpoint).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .decontam import benchmark_overlap
from .dedup import _shingle_sets, minhash_dedup_pairs
from .graph import connected_components
from .textstats import hygiene_gates_expr, quality_score_expr

#: (index, name) of the funnel stages, in order
FUNNEL_STAGES = (
    (0, "raw"),
    (1, "quality"),
    (2, "non_repetitive"),
    (3, "deduped"),
    (4, "decontaminated"),
)


def _hygiene_flags(
    corpus: DataFrame,
    benchmark: DataFrame,
    jaccard_threshold: float,
    contamination_max: float,
    tokens_col: str,
    text_col: str,
) -> DataFrame:
    """The shared per-doc gate frame of the hygiene funnel: (doc_id,
    quality_score, is_repetitive, is_dropped, is_contaminated) — one
    corpus projection for the two row-local gates, one shingle
    materialization feeding both the minhash pair pipeline and the
    decontamination corpus side, two id-only drop lists joined back
    LEFT. Factored out of :func:`corpus_funnel` so
    :func:`full_curation_funnel` composes the SAME flags without a
    second shingle pass."""
    shingles = _shingle_sets(corpus, tokens_col, "doc_id").localCheckpoint()
    # pairs checkpointed: connected_components re-reads its input for
    # the canonicalize step AND the funnel wants the pair job's cost
    # paid once; the drop list then needs only the raw component
    # assignment (connected_components), not duplicate_clusters'
    # n_members window — one less shuffle on a column the funnel never
    # reads
    pairs = minhash_dedup_pairs(
        corpus,
        tokens_col=tokens_col,
        threshold=jaccard_threshold,
        shingles=shingles,
    ).localCheckpoint()
    dropped = (
        connected_components(pairs, src="doc_a", dst="doc_b")
        .where(F.col("node") != F.col("component"))
        .select(F.col("node").alias("doc_id"), F.lit(1).alias("is_dropped"))
    )
    contaminated = (
        benchmark_overlap(
            corpus, benchmark, threshold=contamination_max, corpus_shingles=shingles
        )
        .select("doc_id")
        .distinct()
        .withColumn("is_contaminated", F.lit(1))
    )
    # ONE struct-valued gate expression instead of two standalone gate
    # columns: both gates consume the same lowered-token array, and
    # lambda-bound expressions are outside Spark's subexpression
    # elimination, so separate columns would lowercase + split every
    # document twice (textstats.hygiene_gates_expr; fields numerically
    # identical to quality_score_expr / is_repetitive_expr — pinned in
    # tests). Two-step select so the multi-referenced struct evaluates
    # once per row (the repetition_features CollapseProject note).
    gated = corpus.select(
        "doc_id", hygiene_gates_expr(F.col(text_col)).alias("_g")
    ).select(
        "doc_id",
        F.col("_g")["quality_score"].alias("quality_score"),
        F.col("_g")["is_repetitive"].alias("is_repetitive"),
    )
    return gated.join(dropped, "doc_id", "left").join(contaminated, "doc_id", "left")


#: staging dirs created by ``_pin(..., "staging_table")`` — swept at exit
_STAGING_DIRS: list[str] = []


def _pin(df: DataFrame, materialize: str) -> DataFrame:
    """Materialize a multi-consumer funnel intermediate once.

    ``'local_checkpoint'`` (default) stores the partitions on
    executor-local storage — the cheapest barrier, but unreplicated: an
    executor loss kills the lineage, which is fine for local mode and
    short-lived jobs. ``'staging_table'`` writes the frame to a
    session-scoped staging parquet directory and reads it back —
    reliable, re-scannable storage for runs where executor loss is
    routine (guide §5: prefer a reliable checkpoint/staging table at
    extreme scale). Identical rows either way; the default leaves every
    existing plan byte-unchanged."""
    if materialize == "local_checkpoint":
        return df.localCheckpoint()
    if materialize != "staging_table":
        raise ValueError(
            f"materialize must be 'local_checkpoint' or 'staging_table', "
            f"got {materialize!r}"
        )
    import tempfile

    path = tempfile.mkdtemp(prefix="funnel_staging_")
    _STAGING_DIRS.append(path)
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _sweep_staging_dirs() -> None:
    import shutil

    while _STAGING_DIRS:
        shutil.rmtree(_STAGING_DIRS.pop(), ignore_errors=True)


import atexit as _atexit  # noqa: E402

_atexit.register(_sweep_staging_dirs)


def _hygiene_conds(quality_min: float) -> dict:
    """Cumulative stage predicates over the ``_hygiene_flags`` frame,
    keyed by FUNNEL_STAGES index."""
    c1 = F.col("quality_score") >= quality_min
    c2 = c1 & (F.col("is_repetitive") == 0)
    c3 = c2 & F.col("is_dropped").isNull()
    c4 = c3 & F.col("is_contaminated").isNull()
    return {0: F.lit(True), 1: c1, 2: c2, 3: c3, 4: c4}


def _stage_counts(flags: DataFrame, conds: dict) -> DataFrame:
    """(stage_idx, stage, n_docs) from the flags frame: the stage
    explode emits ≤ |conds| rows per doc of (int, bool) pairs into one
    final hash agg — the corpus body is never shuffled."""
    stages = F.array(
        *[
            F.struct(
                F.lit(i).alias("stage_idx"),
                F.lit(name).alias("stage"),
                conds[i].alias("ok"),
            )
            for i, name in FUNNEL_STAGES
        ]
    )
    return (
        flags.select(F.explode(stages).alias("s"))
        .where(F.col("s.ok"))
        .groupBy(
            F.col("s.stage_idx").alias("stage_idx"), F.col("s.stage").alias("stage")
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def corpus_funnel(
    corpus: DataFrame,
    benchmark: DataFrame,
    quality_min: float = 0.5,
    jaccard_threshold: float = 0.2,
    contamination_max: float = 0.5,
    tokens_col: str = "tokens",
    text_col: str = "text",
) -> DataFrame:
    """(stage_idx, stage, n_docs): documents surviving each cumulative
    pipeline stage — quality filter, then repetition filter, then
    keep-first near-dup dedup, then benchmark decontamination.

    Both inputs carry ``text_col`` (the raw text the quality/repetition
    gates score) + ``tokens_col``. Thresholds compare against
    the ROUNDED scores the stage operators emit, so the funnel is
    bit-reproducible against the DuckDB oracle (float-boundary docs land
    the same way in both engines).

    Scale shape: ONE full-corpus projection computes both per-row gates
    (quality score + repetition flag — the expression-level
    ``quality_score_expr`` / ``is_repetitive_expr`` twins of the checked
    stage operators, so no self-join of two corpus scans), ONE corpus
    shingle materialization feeds both the minhash pair pipeline and the
    decontamination corpus side (each used to re-derive shingles from
    text independently — the combined change measured 1.3× at sf0.1:
    7.9 s → 6.0 s warm median-of-2), and the two
    id-only drop lists join back LEFT (AQE broadcasts them at realistic
    duplicate/contamination rates). The corpus body itself is never
    shuffled by the funnel; the stage explode emits ≤ 5 rows per doc of
    (int, bool) pairs into one final hash agg.
    """
    flags = _hygiene_flags(
        corpus, benchmark, jaccard_threshold, contamination_max,
        tokens_col, text_col,
    )
    return _stage_counts(flags, _hygiene_conds(quality_min))


#: (index, name) of the curation stages, in order
CURATION_STAGES = (
    (0, "raw"),
    (1, "quality"),
    (2, "dsir_selected"),
)


def curation_funnel(
    corpus: DataFrame,
    target: DataFrame,
    quality_min: float = 0.5,
    keep_frac: float = 0.5,
    tokens_col: str = "tokens",
    text_col: str = "text",
    ns=(1, 2),
    n_buckets: int = 4096,
    smoothing: float = 1.0,
    materialize: str = "local_checkpoint",
) -> DataFrame:
    """(stage_idx, stage, n_docs): the SELECTION half of a training-data
    pipeline — raw corpus → cheap quality gate → DSIR importance
    selection (Xie et al. 2023), the published stage that follows the
    hygiene funnel (:func:`corpus_funnel` covers quality → repetition →
    dedup → decontamination; this composes the data-selection cut on
    top of the same quality gate).

    The corpus carries ``text_col`` (scored by the quality gate) +
    ``tokens_col`` (the DSIR feature stream); ``target`` needs only
    ``tokens_col``. The DSIR source model is fit on the QUALITY SURVIVORS (the set the
    selection actually draws from — scoring a distribution the cut never
    sees would bias the importance ratio); ``target`` supplies the
    target-domain model. The keep threshold is the exact
    ``(1 - keep_frac)`` quantile of the rounded per-doc scores
    (operators/sketch.exact_quantiles — one bounded histogram pass, the
    cut selection.py's docstring prescribes for corpus-fraction-sized
    selections where a global top-k sort would be the bottleneck), and
    a document is kept when ``dsir_score >= cutoff``.

    Scale shape: the scored frame ((doc_id, n_features, dsir_score) —
    three thin columns per survivor) is localCheckpoint-ed once and
    feeds the quantile probe, the survivor count and the keep count, so
    the two DSIR corpus passes are paid exactly once. The selection step
    stays on the JVM: the weight table is one lazy plan collected once
    (≤``n_buckets`` rows, selection.dsir_weights), and the cutoff is
    read as rows (sketch.exact_quantile_rows) — below the small-input
    threshold a bounds job plus one bounded value fetch rank-selected on
    the driver, above it one bounded-histogram aggregation plus a
    targeted-bucket sort. No frame is built from driver-side data, so
    no Python worker starts. The three stage counts are map-side 1-row
    aggs.

    ``materialize`` picks how the two multi-consumer seams are pinned:
    ``'local_checkpoint'`` (default — unchanged plans) or
    ``'staging_table'`` (reliable staging parquet, the 100 TB choice —
    see :func:`_pin`). Identical rows either way (tested).
    """
    from .selection import dsir_scores, features_expr
    from .sketch import exact_quantile_rows

    flagged = corpus.select(
        "doc_id",
        F.col(tokens_col),
        quality_score_expr(F.col(text_col)).alias("__qs"),
    )
    # checkpointed: the survivor set feeds the DSIR source-model pass
    # AND the scoring pass — without the pin each would re-run the
    # tokenize + quality projection over the raw corpus (measured 12.2 s
    # → 6.9 s warm at sf0.1). The materialized payload is the HASHED
    # FEATURE ARRAY (selection.features_expr), not tokens: both DSIR
    # passes consume the same bucket ints, so the gram+md5 chain runs
    # once per survivor instead of once per pass — and the checkpoint
    # stores int arrays, not token strings. At extreme scale the same
    # seam writes to a staging table instead of executor disk either
    # way. Scores are bit-identical (same buckets, same fold order).
    survivors = _pin(
        flagged.where(F.col("__qs") >= quality_min).select(
            "doc_id", features_expr(tokens_col, ns, n_buckets).alias("__feats")
        ),
        materialize,
    )
    scored = dsir_scores(
        survivors,
        target.select(features_expr(tokens_col, ns, n_buckets).alias("__feats")),
        ns=ns,
        n_buckets=n_buckets,
        smoothing=smoothing,
        features_col="__feats",
    )
    scored = _pin(scored, materialize)
    qrows = exact_quantile_rows(scored, "dsir_score", [1.0 - keep_frac])
    if qrows:
        kept = scored.where(F.col("dsir_score") >= float(qrows[0]["value"]))
    else:
        # the quality gate left NO survivors: no quantile exists, the
        # keep set is empty by definition — report (raw=N, 0, 0), the
        # same rows the SQL oracle's NULL-cut comparison yields
        kept = scored

    def stage(idx: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_docs")).select(
            F.lit(idx).alias("stage_idx"), F.lit(name).alias("stage"), "n_docs"
        )

    frames = {"raw": corpus, "quality": scored, "dsir_selected": kept}
    out = None
    for i, name in CURATION_STAGES:
        s = stage(i, name, frames[name])
        out = s if out is None else out.unionByName(s)
    return out


#: (index, name) of the full published pipeline's stages, in order:
#: the hygiene funnel then the selection cut on its survivors
FULL_FUNNEL_STAGES = FUNNEL_STAGES + ((5, "dsir_selected"),)


def full_curation_funnel(
    corpus: DataFrame,
    benchmark: DataFrame,
    target: DataFrame,
    quality_min: float = 0.5,
    jaccard_threshold: float = 0.2,
    contamination_max: float = 0.5,
    keep_frac: float = 0.5,
    tokens_col: str = "tokens",
    text_col: str = "text",
    ns=(1, 2),
    n_buckets: int = 4096,
    smoothing: float = 1.0,
    materialize: str = "local_checkpoint",
) -> DataFrame:
    """(stage_idx, stage, n_docs): the WHOLE published training-data
    pipeline as one funnel — quality → repetition → near-dup dedup →
    decontamination (:func:`corpus_funnel`'s hygiene stages), then the
    DSIR importance-selection cut (:func:`curation_funnel`'s selection
    stage) drawn over the HYGIENE SURVIVORS. The two halves are each
    oracle-checked alone; this runs them the way a real ingestion
    pipeline does: the selection model is fit on exactly the documents
    that survived hygiene (fitting it on the raw corpus would score a
    distribution the cut never sees), and the keep threshold is the
    exact ``(1 - keep_frac)`` quantile of the survivors' rounded
    scores.

    Scale shape — the composition pays each shared input ONCE:
    the hygiene half reuses :func:`corpus_funnel`'s seams verbatim (one
    gate projection, one shingle materialization feeding dedup AND
    decontamination, id-only drop lists), the survivor (doc_id, tokens)
    frame is localCheckpoint-ed once and feeds the DSIR source-model
    pass, the scoring pass and the keep count, and the stage report is
    the flags explode (≤5 thin rows per doc into one hash agg) plus one
    1-row agg for the selection stage. The selection step is
    :func:`curation_funnel`'s: one lazy weight-table plan collected
    once, and the cutoff read as rows (sketch.exact_quantile_rows) — no
    frame built from driver-side data between the survivor pin and the
    stage report.

    ``materialize`` picks how the three multi-consumer seams (flags,
    survivors, scored) are pinned: ``'local_checkpoint'`` (default —
    unchanged plans) or ``'staging_table'`` (reliable staging parquet,
    the 100 TB choice — see :func:`_pin`). Identical rows either way
    (tested)."""
    from .selection import dsir_scores, features_expr
    from .sketch import exact_quantile_rows

    # checkpointed: the flags frame is consumed by TWO subtrees — the
    # hygiene stage counts and the survivor-id cut below — and an
    # unmaterialized lineage re-evaluates the regex-heavy quality/
    # repetition gates (plus both drop-list joins) once per consumer.
    # The frame is thin (doc_id + 4 small columns), so the barrier
    # costs one write of gate bits and saves a full gate pass.
    flags = _pin(
        _hygiene_flags(
            corpus, benchmark, jaccard_threshold, contamination_max,
            tokens_col, text_col,
        ),
        materialize,
    )
    conds = _hygiene_conds(quality_min)
    hygiene = _stage_counts(flags, conds)
    survivor_ids = flags.where(conds[4]).select("doc_id")
    # the survivor checkpoint materializes the hashed feature array
    # (selection.features_expr) — both DSIR passes consume the same
    # bucket ints, one gram+md5 evaluation per survivor (see
    # curation_funnel's seam note; scores bit-identical)
    survivors = _pin(
        corpus.join(survivor_ids, "doc_id", "left_semi")
        .select("doc_id", features_expr(tokens_col, ns, n_buckets).alias("__feats")),
        materialize,
    )
    scored = _pin(
        dsir_scores(
            survivors,
            target.select(features_expr(tokens_col, ns, n_buckets).alias("__feats")),
            ns=ns,
            n_buckets=n_buckets,
            smoothing=smoothing,
            features_col="__feats",
        ),
        materialize,
    )
    qrows = exact_quantile_rows(scored, "dsir_score", [1.0 - keep_frac])
    if qrows:
        kept = scored.where(F.col("dsir_score") >= float(qrows[0]["value"]))
    else:
        # no hygiene survivors: no quantile exists and the keep set is
        # empty by definition — scored is already empty
        kept = scored
    idx, name = FULL_FUNNEL_STAGES[-1]
    sel = kept.agg(F.count(F.lit(1)).alias("n_docs")).select(
        F.lit(idx).alias("stage_idx"), F.lit(name).alias("stage"), "n_docs"
    )
    return hygiene.unionByName(sel)
