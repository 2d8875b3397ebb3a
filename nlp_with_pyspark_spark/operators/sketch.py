"""Sketch-guided EXACT algorithms: distributed quantiles and heavy
hitters.

Both operators answer questions a naive plan answers with a global
sort or a full-vocabulary shuffle. Both use a small first-pass summary
(an equi-width histogram; a count-min sketch) ONLY to prune the second,
exact pass — the summary never appears in the output, so results are
exact and externally oracle-able even though the scale path routes
through an approximation internally.

* :func:`exact_quantiles` — discrete quantiles (the value at 1-indexed
  rank ``max(1, ceil(q*n))`` — DuckDB ``quantile_disc`` semantics,
  verified empirically) via histogram bucketing + in-bucket selection.
  A global ``orderBy`` at 100 TB is a full-data range-exchange sort;
  here pass 1 is one map-side-combined aggregation into ≤``n_buckets``
  rows per group, the driver locates the bucket holding each requested
  rank (a bounded collect: #groups × n_buckets small integers — same
  contract as the 1-row bounds fetch in operators/layout.py), and
  pass 2 sorts ONLY the targeted buckets (expected n/n_buckets rows
  each). Shuffle volume: O(#quantiles × n/n_buckets) instead of O(n).
  Degenerate skew (every value in one bucket, e.g. a constant column)
  falls back to sorting that one bucket — correct, and the production
  response is a second histogram level inside the hot bucket, which is
  this same function applied to the bucket's rows.

* :func:`heavy_hitters` — every token with frequency ≥ ``phi``·total,
  with EXACT counts. Pass 1 builds a count-min sketch as a grouped
  aggregation over (seed, bucket) — partial aggregation caps the
  shuffle at partitions × depth × width tiny integer rows, and the
  collected sketch is depth × width longs on the driver. Pass 2
  compiles the sketch into literal array lookups (SQL-string compiled,
  the operators/similarity.py pattern — Catalyst constant-folds the
  arrays, so each row costs ``depth`` hashes + lookups) and filters
  the token stream to sketch candidates BEFORE the exact groupBy.
  Count-min never underestimates, so candidates ⊇ true heavy hitters,
  and the exact recount + threshold filter yields exactly the true
  answer — the sketch's ε-error only admits false candidates into the
  recount, never wrong output. Shuffle volume: occurrences of
  candidate words only, not the full vocabulary (a long-tail corpus
  vocabulary is millions of words; candidates at phi=0.1% are ≤1000
  plus O(depth·width·ε) false positives).

No counterpart in the reference (its corpus fits one pandas frame —
`LogisticRegression.py:50` reads the whole CSV on the driver); these
are engine extensions for corpus-scale statistics.

References: Cormode & Muthukrishnan, "An Improved Data Stream Summary:
the Count-Min Sketch and its Applications" (J. Algorithms 55(1), 2005);
Munro & Paterson, "Selection and Sorting with Limited Storage" (TCS
1980) — the multi-pass selection idea behind histogram refinement.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame, Row, Window
from pyspark.sql import functions as F


#: below this TOTAL row count (across all groups) the quantiles are
#: rank-selected on the driver from one bounded collect: ~1 MB of
#: (group, value) rows buys skipping the histogram job + the windowed
#: rank-select plan, which at that size are pure plan-compile +
#: stage-scheduling latency (the connected_components driver-path
#: pattern — operators/graph._DRIVER_COMPONENTS_MAX_EDGES). The row
#: count is MEASURED by the bounds pass the histogram path needs
#: anyway, so the decision adds no work and a 100 TB input lands far
#: above the threshold and takes the distributed path unchanged.
_DRIVER_SELECT_MAX_ROWS = 65536


def exact_quantiles(
    df: DataFrame,
    value_col: str,
    quantiles: Sequence[float],
    by: Sequence[str] = (),
    n_buckets: int = 2048,
    refine_threshold: int | None = None,
    max_levels: int = 4,
    driver_threshold: int = _DRIVER_SELECT_MAX_ROWS,
) -> DataFrame:
    """Exact discrete quantiles of ``value_col``, optionally per group.

    Returns one row per (group, quantile): ``by... , q, value`` where
    ``value`` is the element at 1-indexed rank ``max(1, ceil(q*n))`` of
    the group's sorted non-null values — exactly DuckDB's
    ``quantile_disc``. Nulls are excluded (both engines agree); a null
    ``by`` key is a group of its own, as in SQL ``GROUP BY``.

    ``refine_threshold`` is the skew response the module docstring
    promises: a target bucket still holding more than this many rows
    gets a SECOND histogram level over its own (min, max) — recursively
    up to ``max_levels`` — before anything is sorted, so the final
    per-bucket sort is bounded even when the distribution piles most of
    the data into one hot bucket (Munro–Paterson multi-pass selection).
    Each level costs one aggregation over the still-oversized buckets'
    rows ONLY; a bucket whose min == max short-circuits to a literal
    answer with no sort at all. Progress is guaranteed while min < max
    (the min and max rows land in different sub-buckets); ``max_levels``
    caps pathological float clustering, after which the residual bucket
    is sorted as-is. ``None`` (default) keeps the single-level plan.

    Contract: ``by`` must have bounded cardinality (the driver collects
    one bounds row and ≤``n_buckets`` histogram rows per group per
    level — the per-language / per-source corpus-stats shape, not a
    per-user one).

    Adaptive small-input path: the bounds pass measures the total
    non-null row count anyway, and when it is ≤ ``driver_threshold``
    the values are collected once (a bounded fetch in the same class
    as the histogram collect) and rank-selected on the driver — the
    histogram job and the windowed rank-select plan at that size are
    pure plan-compile + scheduling latency (measured: the sf0.1 funnel
    quantile step fell ~1.7 s → ~0.4 s). The answer rows then exist
    only on the driver, and this function wraps them in a local
    relation; a caller that wants the rows themselves should call
    :func:`exact_quantile_rows`, which returns them directly with no
    driver-built frame and no further job. Equality with the
    distributed path is pinned in tests; pass ``driver_threshold=0`` to
    force the distributed path.
    """
    result, out_schema = _select_quantiles(
        df, value_col, quantiles, by, n_buckets, refine_threshold,
        max_levels, driver_threshold,
    )
    if isinstance(result, DataFrame):
        return result
    return df.sparkSession.createDataFrame(result, schema=out_schema).orderBy(*by, "q")


def exact_quantile_rows(
    df: DataFrame,
    value_col: str,
    quantiles: Sequence[float],
    by: Sequence[str] = (),
    n_buckets: int = 2048,
    refine_threshold: int | None = None,
    max_levels: int = 4,
    driver_threshold: int = _DRIVER_SELECT_MAX_ROWS,
) -> list[Row]:
    """:func:`exact_quantiles` as driver-side rows: the list
    ``exact_quantiles(...).collect()`` returns (same rows, same
    ``by..., q`` order, ``[]`` on empty input), for callers that need
    the answer on the driver anyway — the funnels' keep cutoff. On the
    small-input path the rank-selected rows are returned as they are,
    so reading a cutoff costs the bounds job and the value fetch and
    nothing else: no local relation is built, which in PySpark means
    no Python worker. On the distributed path the frame is collected
    (≤ #groups × #quantiles rows)."""
    result, _ = _select_quantiles(
        df, value_col, quantiles, by, n_buckets, refine_threshold,
        max_levels, driver_threshold,
    )
    return result.collect() if isinstance(result, DataFrame) else result


def _ascending_key(x) -> tuple:
    """Sort key mirroring Spark's ascending order: nulls first, NaN
    greater than every other double."""
    return (x is not None, x != x, x)


def _key_join(
    left: DataFrame, right: DataFrame, keys: Sequence[str], how: str = "inner"
) -> DataFrame:
    """Equi-join on ``keys`` with null keys matching each other — a
    null group is a group (``GROUP BY`` semantics, and the small-input
    path's) — keeping one copy of each key column."""
    rk = {k: f"__rk_{k}" for k in keys}
    right = right.select(*[F.col(c).alias(rk.get(c, c)) for c in right.columns])
    cond = [F.col(k).eqNullSafe(F.col(rk[k])) for k in keys]
    return left.join(right, cond, how).drop(*rk.values())


def _select_quantiles(
    df: DataFrame,
    value_col: str,
    quantiles: Sequence[float],
    by: Sequence[str],
    n_buckets: int,
    refine_threshold: int | None,
    max_levels: int,
    driver_threshold: int,
) -> tuple[list[Row] | DataFrame, str]:
    """The one rank-select behind :func:`exact_quantiles` and
    :func:`exact_quantile_rows`: ``(result, out_schema)`` where
    ``result`` is the sorted answer rows when they were computed on the
    driver (small-input path, or empty input) and the lazy answer
    frame on the distributed path."""
    if not quantiles:
        raise ValueError("quantiles must be non-empty")
    for q in quantiles:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile {q} outside [0, 1]")
    by = list(by)
    spark = df.sparkSession
    v = F.col(value_col)
    data = df.where(v.isNotNull()).select(*by, value_col)
    by_schema = [f"`{c}` {t}" for c, t in data.select(*by).dtypes]
    val_type = dict(data.dtypes)[value_col]
    out_schema = ", ".join(by_schema + ["q double", f"value {val_type}"])

    def _bucket_expr(lo: str, hi: str) -> F.Column:
        # ONE shared bucketing expression per level: assignment and
        # histogram must agree bit-for-bit, including float rounding at
        # bucket edges
        width = (F.col(hi).cast("double") - F.col(lo).cast("double")) / F.lit(
            float(n_buckets)
        )
        return F.when(F.col(hi) == F.col(lo), F.lit(0)).otherwise(
            F.least(
                F.floor((v.cast("double") - F.col(lo).cast("double")) / width),
                F.lit(n_buckets - 1),
            )
        ).cast("int")

    bounds = data.groupBy(*by).agg(
        F.min(v).alias("__lo"), F.max(v).alias("__hi"), F.count(F.lit(1)).alias("__n")
    )
    bound_rows = [r for r in bounds.collect() if r["__n"] > 0]
    if not bound_rows:
        return [], out_schema

    if sum(r["__n"] for r in bound_rows) <= driver_threshold:
        # measured-small input: one bounded fetch, driver rank-select
        # (docstring "Adaptive small-input path"); the sort key mirrors
        # Spark's ascending double order (NaN greatest)
        groups: dict[tuple, list] = {}
        for r in data.collect():
            groups.setdefault(tuple(r[c] for c in by), []).append(r[value_col])
        answer = Row(*by, "q", "value")
        out_rows = []
        for key, vals in groups.items():
            vals.sort(key=_ascending_key)
            n = len(vals)
            for q in quantiles:
                out_rows.append(
                    answer(*key, float(q), vals[max(1, math.ceil(q * n)) - 1])
                )
        out_rows.sort(key=lambda r: tuple(map(_ascending_key, r[:-1])))
        return out_rows, out_schema

    # Level state. cand: rows of the still-active buckets, carrying the
    # bucket path columns __b0..__b{L}. pending: driver-side targets
    # (group_key, path, local_rank, q). done_select: finalized targets
    # per level, to be rank-selected; done_literal: min==max
    # short-circuits, answered without touching the rows again.
    pending = [
        (tuple(r[c] for c in by), (), max(1, math.ceil(q * r["__n"])), float(q))
        for r in bound_rows
        for q in quantiles
    ]
    seed_bounds = {
        tuple(r[c] for c in by): (r["__lo"], r["__hi"]) for r in bound_rows
    }
    cand = data
    done_select: dict[int, list] = {}
    done_literal: list[tuple] = []
    levels: list[DataFrame] = []  # cand frame at each level

    level = 0
    while pending:
        path_cols = [f"__b{i}" for i in range(level)]
        bcol = f"__b{level}"
        # per-(group, path) bounds for this level's bucketing: level 0
        # from the seed bounds, deeper levels from the previous
        # histogram's exact per-bucket (min, max)
        if level == 0:
            brows = [(*k, lo, hi) for k, (lo, hi) in seed_bounds.items()]
        else:
            brows = [
                (*k, *path, lo, hi)
                for (k, path), (lo, hi) in level_bounds.items()  # noqa: F821
            ]
        bschema = ", ".join(
            by_schema
            + [f"`{c}` int" for c in path_cols]
            + [f"__lo {val_type}", f"__hi {val_type}"]
        )
        bdf = F.broadcast(spark.createDataFrame(brows, schema=bschema))
        join_cols = [*by, *path_cols]
        joined = _key_join(cand, bdf, join_cols) if join_cols else cand.crossJoin(bdf)
        cand = joined.withColumn(bcol, _bucket_expr("__lo", "__hi")).drop(
            "__lo", "__hi"
        )
        levels.append(cand)

        hist = (
            cand.groupBy(*by, *path_cols, bcol)
            .agg(
                F.count(F.lit(1)).alias("__c"),
                F.min(v).alias("__bmin"),
                F.max(v).alias("__bmax"),
            )
            .collect()
        )
        buckets: dict[tuple, dict[int, tuple]] = {}
        for r in hist:
            gk = (tuple(r[c] for c in by), tuple(r[c] for c in path_cols))
            buckets.setdefault(gk, {})[r[bcol]] = (r["__c"], r["__bmin"], r["__bmax"])

        nxt, level_bounds, refine_paths = [], {}, set()
        for key, path, rank, q in pending:
            hist_g = sorted(buckets[(key, path)].items())
            cum = 0
            for b, (c, bmin, bmax) in hist_g:
                if cum + c >= rank:
                    k, new_path = rank - cum, (*path, b)
                    if bmin == bmax:  # constant bucket: the answer
                        done_literal.append((*key, float(q), bmin))
                    elif (
                        refine_threshold is not None
                        and c > refine_threshold
                        and level + 1 < max_levels
                    ):
                        nxt.append((key, new_path, k, q))
                        level_bounds[(key, new_path)] = (bmin, bmax)
                        refine_paths.add((key, new_path))
                    else:
                        done_select.setdefault(level, []).append(
                            (*key, *new_path, k, float(q))
                        )
                    break
                cum += c
        pending = nxt
        if pending:
            # narrow cand to the still-oversized buckets before the
            # next level touches it
            rdf = F.broadcast(
                spark.createDataFrame(
                    [(*k, *p) for k, p in refine_paths],
                    schema=", ".join(
                        by_schema + [f"`__b{i}` int" for i in range(level + 1)]
                    ),
                )
            )
            cand = _key_join(
                cand, rdf, [*by, *[f"__b{i}" for i in range(level + 1)]], "left_semi"
            )
        level += 1

    # rank-select the finalized targets, one tiny window job per level
    # (targets at level L partition on the full path __b0..__bL)
    parts = []
    for lvl, tgts in done_select.items():
        pcols = [f"__b{i}" for i in range(lvl + 1)]
        tdf = F.broadcast(
            spark.createDataFrame(
                tgts,
                schema=", ".join(
                    by_schema + [f"`{c}` int" for c in pcols] + ["__k long", "q double"]
                ),
            )
        )
        needed = _key_join(
            levels[lvl], tdf.select(*by, *pcols).distinct(), [*by, *pcols], "left_semi"
        )
        rn = F.row_number().over(Window.partitionBy(*by, *pcols).orderBy(v.asc()))
        ranked = needed.withColumn("__rn", rn)
        parts.append(
            _key_join(ranked, tdf, [*by, *pcols])
            .where(F.col("__rn") == F.col("__k"))
            .select(*by, "q", v.alias("value"))
        )
    if done_literal:
        parts.append(spark.createDataFrame(done_literal, schema=out_schema))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy(*by, "q"), out_schema


def distinct_sketches(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] = (),
    lgk: int = 12,
) -> DataFrame:
    """Per-group HLL sketches of ``value_col`` (Apache DataSketches via
    Spark's ``hll_sketch_agg``): ``(by..., sketch)`` with the sketch as
    an opaque binary. This is the 100 TB distinct-count pattern — the
    sketch is MERGEABLE, so per-shard/per-day/per-file sketches
    pre-aggregate independently and :func:`merge_distinct_sketches`
    folds them later; registers are max-of-hashes, so the merged
    estimate is IDENTICAL to a single-pass sketch over the union (not
    just close — pinned in tests), and re-merging is idempotent.
    ``lgk`` trades memory (2^lgk registers) for error (~1.04/√2^lgk:
    lgk=12 → ~1.6% relative standard error)."""
    return df.groupBy(*by).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(lgk)).alias("sketch")
    )


def merge_distinct_sketches(
    sketches: DataFrame, by: Sequence[str] = (), lgk: int = 12
) -> DataFrame:
    """Fold pre-aggregated HLL sketches and estimate: ``(by...,
    n_distinct_est)``. The shuffle carries one ≤(2^lgk)-register binary
    per (input partition, group) — bounded regardless of cardinality,
    the reason a 100 TB distinct-count is one cheap pass + a tiny
    merge instead of the exact path's full-key shuffle. (The engine
    keeps both: ``events_distinct_users`` is the exact two-level agg,
    this is the sketch that answers the same question at 1000× the
    scale for a bounded error budget.)"""
    return sketches.groupBy(*by).agg(
        F.hll_sketch_estimate(
            F.hll_union_agg(F.col("sketch"), F.lit(False))
        ).alias("n_distinct_est")
    )


def approx_distinct(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] = (),
    lgk: int = 12,
) -> DataFrame:
    """One-shot per-group approximate distinct count: ``(by...,
    n_distinct_est)`` — :func:`distinct_sketches` folded immediately.
    Partial aggregation builds one sketch per task; the shuffle moves
    sketches, never values."""
    return df.groupBy(*by).agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col(value_col), F.lit(lgk))
        ).alias("n_distinct_est")
    )


def _cm_bucket_sql(seed: int, word_sql: str, width: int) -> str:
    """0-based count-min bucket of ``word_sql`` under hash row ``seed``
    — ONE SQL string used verbatim by both the sketch-build pass and
    the literal-lookup filter, so the two passes cannot disagree on a
    hash. xxhash64 is the production family (native 64-bit, no string
    materialization); seeding by a leading int literal follows
    operators/dedup.minhash_signature."""
    return f"cast(pmod(xxhash64({seed}, {word_sql}), {width}) as int)"


def heavy_hitters(
    docs: DataFrame,
    tokens_col: str = "tokens",
    phi: float = 0.001,
    depth: int = 3,
    width: int = 4096,
) -> DataFrame:
    """All tokens whose exact frequency ≥ ``ceil(phi * total_tokens)``,
    with their EXACT counts: ``(word, count)`` ordered by count desc,
    word asc.

    Two passes over the exploded token stream (module docstring has the
    scale argument): a count-min sketch build whose shuffle is bounded
    by depth × width regardless of vocabulary size, then an exact
    recount restricted to sketch candidates. The threshold is derived
    from the sketch's own row-0 sum (= total token count), so the
    stream is scanned exactly twice.
    """
    if not 0.0 < phi <= 1.0:
        raise ValueError(f"phi={phi} outside (0, 1]")
    words = docs.select(F.explode(F.col(tokens_col)).alias("word"))

    entries = words.select(
        F.posexplode(
            F.array(
                *[F.expr(_cm_bucket_sql(i, "word", width)) for i in range(depth)]
            )
        ).alias("seed", "bucket")
    )
    sketch = [[0] * width for _ in range(depth)]
    for r in entries.groupBy("seed", "bucket").agg(
        F.count(F.lit(1)).alias("c")
    ).collect():
        sketch[r["seed"]][r["bucket"]] = r["c"]
    total = sum(sketch[0])
    if total == 0:
        return words.groupBy("word").agg(F.count(F.lit(1)).alias("count")).limit(0)
    threshold = max(1, math.ceil(phi * total))

    # literal-compiled candidate filter: least over depth rows of
    # sketch[seed][bucket(word)] — constant-folded arrays, no py4j tree
    lookups = ", ".join(
        f"element_at(array({','.join(str(c) for c in sketch[i])}),"
        f" {_cm_bucket_sql(i, 'word', width)} + 1)"
        for i in range(depth)
    )
    est = F.expr(f"least({lookups})" if depth > 1 else lookups)
    return (
        words.where(est >= F.lit(threshold))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("count"))
        .where(F.col("count") >= threshold)
        .orderBy(F.desc("count"), F.asc("word"))
    )
