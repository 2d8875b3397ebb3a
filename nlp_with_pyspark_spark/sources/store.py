"""The tombstoned store: one implementation of the LSM delete lifecycle
shared by every persisted store family (posting index, IVF-PQ vector
index, near-dup survivor stores, exact-dedup store).

A delete never rewrites data. The deleted keys are appended to a small
tombstone table; readers exclude them with a broadcast anti-join; a
periodic vacuum folds them out of the data tables (a spec-preserving
``io.compact_bucketed_table`` rewrite) and clears the list, so the list
stays broadcast-small and scan cost tracks live data.

Layout: the tombstone table is EXTERNAL at ``<anchor data dir>__tombstones``,
a sibling of the anchor table's data dir, so it shares the store's
lifecycle whether the store is external or warehouse-managed. The
catalog entry is per-session; :meth:`TombstonedStore.heal` re-registers
it over the surviving dir after a restart. Local-filesystem stores only
(the probe is ``os.path``): a non-local store pairs with a live
metastore, where the entry survives and the heal is never needed.

Crash ordering: the vacuum folds BEFORE it clears — the reverse order
would briefly serve deleted rows. A vacuum that dies between the two
leaves tombstone rows for keys the ledger no longer holds: re-running
the vacuum folds nothing and completes the clear, and every append path
calls :meth:`TombstonedStore.scrub` with the keys it admits (an admitted
key is absent from the ledger, so a tombstone row for it can only be
that window), so a re-ingest is never invisibly shadowed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _table_path_if_external(spark: SparkSession, table: str) -> str | None:
    """Data path of ``table`` when it is EXTERNAL, else None. Overwrites
    of store tables must carry this path through ``option('path', ...)``:
    a bare ``mode('overwrite').saveAsTable`` DROPS an external table and
    recreates it MANAGED at the warehouse (pyspark 4.1.2), orphaning the
    on-disk store dir."""
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    info = {r.col_name: r.data_type for r in rows}
    if info.get("Type", "").strip().upper() != "EXTERNAL":
        return None
    loc = info["Location"]
    return loc[len("file:"):] if loc.startswith("file:") else loc


@dataclass(frozen=True)
class TombstonedStore:
    """One store's tombstone lifecycle.

    ``tombstones``: the tombstone table. ``anchor``: the bucketed table
    whose data dir the ``__tombstones`` sidecar sits beside. ``ledger``:
    the table holding the deletable keys — only keys it holds can be
    tombstoned. ``keys``: the tombstone table's key columns;
    ``ledger_keys`` names the same columns in the ledger (default: the
    same names). ``key_type``: a fixed SQL type for every key column, or
    None to read each type from the ledger (the tombstone columns must
    match the ledger's types exactly, or the exclusion anti-joins would
    insert casts)."""

    tombstones: str
    anchor: str
    ledger: str
    keys: tuple[str, ...]
    ledger_keys: tuple[str, ...] = ()
    key_type: str | None = None

    def _ledger_keys(self) -> tuple[str, ...]:
        return self.ledger_keys or self.keys

    def _key_types(self, spark: SparkSession) -> list[str]:
        if self.key_type is not None:
            return [self.key_type] * len(self.keys)
        fields = {
            f.name: f.dataType.simpleString()
            for f in spark.table(self.ledger).schema.fields
        }
        missing = [k for k in self._ledger_keys() if k not in fields]
        if missing:
            raise ValueError(
                f"{self.ledger} has no key column(s) {missing}; pass the key "
                "columns the store was built with"
            )
        return [fields[k] for k in self._ledger_keys()]

    def _key_ddl(self, spark: SparkSession, types: list[str] | None = None) -> str:
        types = types or self._key_types(spark)
        return ", ".join(f"`{k}` {t}" for k, t in zip(self.keys, types))

    def sidecar_path(self, spark: SparkSession) -> str:
        from .io import table_bucket_spec

        _, _, path = table_bucket_spec(spark, self.anchor)
        return path.rstrip("/") + "__tombstones"

    def heal(self, spark: SparkSession) -> bool:
        """Re-register the tombstone table over its surviving sidecar dir
        (schema declared, not inferred — a post-vacuum empty dir has no
        footer to read). Returns True if the table exists after the
        call; False when the store was never deleted into."""
        if spark.catalog.tableExists(self.tombstones):
            return True
        if not spark.catalog.tableExists(self.anchor):
            return False
        path = self.sidecar_path(spark)
        if not os.path.isdir(path):
            return False
        spark.sql(
            f"CREATE TABLE {self.tombstones} ({self._key_ddl(spark)}) "
            f"USING parquet LOCATION '{path}'"
        )
        return True

    def frame(self, spark: SparkSession) -> DataFrame | None:
        """The healed, refreshed tombstone table (possibly empty), or
        None when the store has never been deleted into. No Spark job."""
        if not self.heal(spark):
            return None
        spark.catalog.refreshTable(self.tombstones)
        return spark.table(self.tombstones)

    def live(self, spark: SparkSession) -> DataFrame | None:
        """The tombstone list, or None when the store has no tombstones —
        probed once (one job) so a never-deleted-into or freshly
        vacuumed store keeps its anti-join-free read plans."""
        tombs = self.frame(spark)
        return None if tombs is None or tombs.isEmpty() else tombs

    def _key_frame(self, spark: SparkSession, ids, types: list[str]) -> DataFrame:
        """``ids`` as a frame of the key columns: a DataFrame carrying
        them by name, a one-column DataFrame (single-key stores), or an
        iterable of key values (single-key stores)."""
        if not isinstance(ids, DataFrame):
            if len(self.keys) != 1:
                raise ValueError(
                    "iterable keys only supported for single-column stores; "
                    f"pass a DataFrame carrying {self.keys!r}"
                )
            conv = int if types[0] in ("bigint", "int") else (lambda v: v)
            ids = spark.createDataFrame(
                [(conv(i),) for i in ids], f"`{self.keys[0]}` {types[0]}"
            )
        if len(self.keys) == 1 and self.keys[0] not in ids.columns:
            cols = [ids.columns[0]]
        else:
            cols = list(self.keys)
        return ids.select(
            *[F.col(c).cast(t).alias(k) for c, k, t in zip(cols, self.keys, types)]
        )

    def delete(self, spark: SparkSession, ids) -> int:
        """Tombstone ``ids``; returns the number NEWLY tombstoned.
        Idempotent and replay-safe: keys absent from the ledger are
        ignored and already-tombstoned keys are dropped before the
        append. Takedown lists are broadcast-sized by the store
        contract, so the new keys are collected (one bounded job) and
        appended driver-side (``io.append_ids_table``)."""
        from .io import append_ids_table

        if not spark.catalog.tableExists(self.ledger):
            raise ValueError(
                f"{self.ledger} not found: no store to delete from under "
                "this name — build or ingest into the store first"
            )
        types = self._key_types(spark)
        keys = list(self.keys)
        spark.catalog.refreshTable(self.ledger)
        ledger = spark.table(self.ledger).select(
            *[F.col(c).alias(k) for c, k in zip(self._ledger_keys(), keys)]
        )
        fresh = self._key_frame(spark, ids, types).distinct().join(
            ledger, keys, "left_semi"
        )
        tombs = self.frame(spark)
        if tombs is not None:
            fresh = fresh.join(F.broadcast(tombs), keys, "left_anti")
        return append_ids_table(
            spark,
            fresh,
            self._key_ddl(spark, types),
            self.tombstones,
            self.sidecar_path(spark),
        )

    def scrub(self, spark: SparkSession, admitted: DataFrame) -> bool:
        """Drop tombstone rows for ``admitted`` keys — the keys an append
        is about to commit — closing the vacuum crash window (module
        docstring). One job when tombstones exist; the rewrite runs only
        when a stale row is found. Returns True if it rewrote."""
        tombs = self.frame(spark)
        if tombs is None:
            return False
        keys = list(self.keys)
        batch = F.broadcast(admitted.select(*keys))
        if tombs.join(batch, keys, "left_semi").isEmpty():
            return False
        # the kept rows read the table being overwritten — materialize
        writer = (
            tombs.join(batch, keys, "left_anti")
            .localCheckpoint()
            .write.mode("overwrite")
            .format("parquet")
        )
        path = _table_path_if_external(spark, self.tombstones)
        if path is not None:
            writer = writer.option("path", path)
        writer.saveAsTable(self.tombstones)
        return True

    def vacuum(
        self, spark: SparkSession, fold: dict[str, tuple[str, str | tuple]]
    ) -> dict:
        """Fold the tombstoned keys out of every table in ``fold``
        (``{label: (table, key column(s) in that table)}``, key columns
        positionally matching ``keys``) — the rewrites are independent
        and run overlapped (``io.compact_bucketed_tables``) — then clear
        the tombstone table at its external location, driver-side.
        Returns ``{"tombstones_folded": n, label: rewrite report, ...}``."""
        from .io import compact_bucketed_tables, write_small_table

        dead = self.frame(spark)
        if dead is None:
            return {"tombstones_folded": 0}
        # no checkpoint: `dead` is only consumed by the folds, which all
        # commit BEFORE the clear rewrites the table it reads
        n_dead = dead.count()
        report: dict = {"tombstones_folded": n_dead}
        if n_dead:
            jobs = {}
            for table, cols in fold.values():
                cols = [cols] if isinstance(cols, str) else list(cols)
                drop = F.broadcast(
                    dead.select(*[F.col(k).alias(c) for k, c in zip(self.keys, cols)])
                )
                jobs[table] = lambda df, drop=drop, cols=cols: df.join(
                    drop, cols, "left_anti"
                )
            done = compact_bucketed_tables(spark, jobs)
            report.update({label: done[table] for label, (table, _) in fold.items()})
        write_small_table(
            spark,
            [],
            self._key_ddl(spark),
            self.tombstones,
            _table_path_if_external(spark, self.tombstones),
        )
        return report
