"""The tombstoned-store primitive (sources/store.py), run directly on tiny
bucketed tables — the lifecycle every persisted store family shares —
plus the checks that hold the four families to it."""

import os
import re

import pytest

from nlp_with_pyspark_spark.sources.io import write_bucketed
from nlp_with_pyspark_spark.sources.store import (
    TombstonedStore,
    _table_path_if_external,
)

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "nlp_with_pyspark_spark")

# (name, ledger DDL, key columns, fixed key type, key of row i)
SHAPES = [
    ("bigint", "id bigint, v int", ("id",), "bigint", lambda i: (i,)),
    ("string", "id string, v int", ("id",), None, lambda i: (f"k{i}",)),
    (
        "pair",
        "src string, n bigint, v int",
        ("src", "n"),
        None,
        lambda i: (f"s{i % 3}", i),
    ),
]


def _keys(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.mark.parametrize("shape", SHAPES, ids=[s[0] for s in SHAPES])
def test_tombstoned_store_lifecycle(spark, tmp_path, shape):
    name, ddl, keys, key_type, key = shape
    tbl = f"t_store_{name}"
    rows = [key(i) + (i,) for i in range(12)]
    path = str(tmp_path / "data")
    write_bucketed(spark.createDataFrame(rows, ddl), tbl, keys[0], 4, path=path)
    store = TombstonedStore(
        f"{tbl}_tombstones", anchor=tbl, ledger=tbl, keys=keys, key_type=key_type
    )
    key_ddl = ", ".join(
        f"`{k}` {t.split(' ')[1]}" for k, t in zip(keys, ddl.split(", "))
    )
    try:
        assert store.live(spark) is None and store.frame(spark) is None
        dead = [key(i) for i in (1, 4, 7)]
        ids = spark.createDataFrame(dead + [key(99)], key_ddl)  # 99: never stored
        assert store.delete(spark, ids) == 3
        assert store.delete(spark, ids) == 0  # replay
        assert _keys(store.live(spark), keys) == sorted(dead)

        # restart: the catalog entry goes, the sidecar dir stays
        spark.sql(f"DROP TABLE {tbl}_tombstones")
        assert store.heal(spark)
        assert _keys(store.live(spark), keys) == sorted(dead)

        # scrub drops only the admitted keys' rows
        assert store.scrub(spark, spark.createDataFrame([key(4), key(5)], key_ddl))
        assert not store.scrub(spark, spark.createDataFrame([key(5)], key_ddl))
        assert _keys(store.live(spark), keys) == sorted([key(1), key(7)])

        report = store.vacuum(spark, {"data": (tbl, keys)})
        assert report["tombstones_folded"] == 2
        assert report["data"]["rows"] == 10
        assert _keys(spark.table(tbl), keys) == sorted(
            key(i) for i in range(12) if i not in (1, 7)
        )
        sidecar = f"{path}__tombstones"
        assert store.sidecar_path(spark) == sidecar
        assert _table_path_if_external(spark, f"{tbl}_tombstones") == sidecar
        assert spark.read.parquet(sidecar).count() == 0
        assert store.live(spark) is None
        assert store.vacuum(spark, {"data": (tbl, keys)}) == {"tombstones_folded": 0}
    finally:
        for t in (tbl, f"{tbl}_tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_store_iterable_keys_need_a_single_key(spark, tmp_path):
    tbl = "t_store_iter"
    write_bucketed(
        spark.createDataFrame([("a", 1, 0)], "src string, n bigint, v int"),
        tbl, "src", 2, path=str(tmp_path / "d"),
    )
    store = TombstonedStore(f"{tbl}_tombstones", tbl, tbl, ("src", "n"))
    try:
        with pytest.raises(ValueError, match="single-column"):
            store.delete(spark, [("a", 1)])
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def _remove_calls():
    from nlp_with_pyspark_spark.operators.dedup import (
        remove_from_exact_dedup_store,
        remove_from_neardup_store,
    )
    from nlp_with_pyspark_spark.operators.search import remove_from_posting_index
    from nlp_with_pyspark_spark.operators.vector_store import remove_from_vector_index

    return {
        "posting": (lambda s, p: remove_from_posting_index(s, [1], p), "_docs"),
        "vector": (lambda s, p: remove_from_vector_index(s, [1], p), "_vecs"),
        "neardup": (lambda s, p: remove_from_neardup_store(s, [1], p), "_docs"),
        "exact": (lambda s, p: remove_from_exact_dedup_store(s, [1], p), ""),
    }


@pytest.mark.parametrize("family", ["posting", "vector", "neardup", "exact"])
def test_remove_from_missing_store_names_the_ledger(spark, family):
    call, ledger_sfx = _remove_calls()[family]
    prefix = f"t_store_missing_{family}"
    with pytest.raises(ValueError, match=f"{prefix}{ledger_sfx} not found"):
        call(spark, prefix)


def test_takedown_fanout_validates_targets_before_deleting(spark, tmp_path):
    from nlp_with_pyspark_spark.operators.dedup import exact_dedup_store_tombstones
    from nlp_with_pyspark_spark.streaming.sinks import takedown_fanout_batch

    tbl = "t_store_fanout"
    write_bucketed(
        spark.createDataFrame([(i, i) for i in range(6)], "event_id bigint, v int"),
        tbl, "event_id", 2, path=str(tmp_path / "d"),
    )
    try:
        ids = spark.createDataFrame([(1,), (2,)], "event_id bigint")
        exact = {"kind": "exact", "table": tbl}
        assert takedown_fanout_batch(ids.where("event_id = 1"), [exact]) == {tbl: 1}
        with pytest.raises(ValueError, match="unknown takedown target kind"):
            takedown_fanout_batch(ids, [exact, {"kind": "bogus"}])
        tombs = exact_dedup_store_tombstones(spark, tbl)
        assert _keys(tombs, ["event_id"]) == [(1,)]
        assert takedown_fanout_batch(ids, [exact]) == {tbl: 1}
    finally:
        for t in (tbl, f"{tbl}_tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_tombstone_lifecycle_has_one_home():
    """Only sources/store.py may know the sidecar suffix or create a
    tombstone table — the per-family copies must not come back."""
    create = re.compile(r"CREATE TABLE[^\n]*tomb", re.IGNORECASE)
    offenders = []
    for root, _, files in os.walk(PKG):
        for f in files:
            p = os.path.join(root, f)
            if not f.endswith(".py") or p.endswith(os.path.join("sources", "store.py")):
                continue
            src = open(p).read()
            if "__tombstones" in src or create.search(src):
                offenders.append(os.path.relpath(p, PKG))
    assert offenders == []
