"""Expression-level helpers for Catalyst higher-order functions.

The one foot-gun this module exists for: a lambda inside ``transform`` /
``zip_with`` / ``aggregate`` that references a DERIVED column expression
(not a plain attribute) re-evaluates that expression on EVERY element —
Catalyst's CollapseProject inlines the alias into the lambda body and
there is no common-subexpression elimination across lambda invocations.
A shingle builder that slices a regex-tokenized array per position goes
O(tokens²·regex) per row: measured 18.7 s for a 5 000-doc scan that runs
in 0.9 s once bound (see operators/decontam.py history). Harmless on
200-token test docs; fatal on the 100 k-token documents a real corpus
contains.

``flet`` (functional *let*) is the expression-level fix: bind the value
once as a lambda variable, evaluate the body against the bound variable.
Unlike a ``localCheckpoint`` barrier it costs nothing — no
materialization, stays inside whole-stage codegen — and unlike relying
on projection boundaries it cannot be optimized away.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

#: (key) → (SparkContext, Column) — see :func:`memo_col`
_MEMO_COLS: dict[tuple, tuple[object, Column]] = {}


def col_key(col: Column | str) -> str:
    """Stable memo-key form of an input column: the name itself for a
    string, the JVM expression's string form for a Column (ONE py4j
    call — microseconds against the hundreds of calls a deep tree
    build costs)."""
    return col if isinstance(col, str) else str(col)


def memo_col(key: tuple, build: Callable[[], Column]) -> Column:
    """Per-process memo of a deterministic, parameter-pinned Column
    tree. Building a deep expression tree through py4j costs one JVM
    round-trip per node — measured 0.16-0.35 s of pure DRIVER time per
    fresh plan for the textstats gate expressions, recurring on every
    fresh plan of every text-scoring query (guide §4: the Python/JVM
    boundary, applied to plan CONSTRUCTION). An unresolved Column is an
    immutable Catalyst tree that analysis binds per-plan, so ONE built
    tree can be embedded in any number of plans — including twice in
    one plan: lambda variables resolve against their own enclosing
    lambdafunction, so sibling copies don't cross-talk (equality of
    reused-vs-fresh results, across plans and twice-in-one-plan, is
    pinned in tests/test_expr.py).

    This memoizes PLAN CONSTRUCTION only — no data, no results; every
    query execution still computes from its inputs. ``key`` must pin
    every input that shapes the tree (builder name, input column via
    :func:`col_key`, every parameter). A miss evicts every entry bound
    to a SparkContext other than the active one (such a Column wraps a
    JVM handle from the old gateway), so a process that restarts its
    session does not keep the old trees alive."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    ent = _MEMO_COLS.get(key)
    if ent is not None and sc is not None and ent[0] is sc:
        return ent[1]
    for k in [k for k, (owner, _) in _MEMO_COLS.items() if owner is not sc]:
        del _MEMO_COLS[k]
    col = build()
    if sc is not None:
        _MEMO_COLS[key] = (sc, col)
    return col


def flet(value: Column, body: Callable[[Column], Column]) -> Column:
    """``let value in body``: evaluate ``value`` ONCE, feed the bound
    result to ``body`` as a lambda variable.

    Implemented as ``transform(array(value), v -> body(v))[1]`` — the
    single-element array evaluates ``value`` exactly once, and every
    reference inside ``body`` hits the bound lambda variable instead of
    re-running the expression. Works for any element type Spark arrays
    support (including arrays and structs).
    """
    return F.element_at(F.transform(F.array(value), body), 1)
