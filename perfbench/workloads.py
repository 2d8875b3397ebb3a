"""The benchmark workloads: seeded op streams against the engine's
public API, each op with an output check.

``curate`` is a batch pass of registered curation queries over a seeded
corpus, timed from a cold JVM as a batch job runs it. ``maintain`` keeps
two persisted stores (the BM25 posting index and the IVF-PQ vector
store) under seeded ingest, takedown and vacuum writes, each followed by
a BM25 or vector top-k read. See README.md for sizes, op mix and the
per-layer predictions.

Engine functions are always reached through their module (``S.f``), so
the tracer's wrappers are the ones called.
"""

from __future__ import annotations

import json
import os
import random
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Callable

from digest import digest
from inputs import VOCAB, stamp_of, user_bytes, write_inputs

CURATE_DOCS = 5000
CURATE_QUERIES = ("curation_funnel", "decontam_fuzzy_overlap", "quality_scores")

MAINTAIN_DOCS = 3000
MAINTAIN_BASE = 2000  # docs in the stores when measurement starts
INGEST_BATCH = 100
TAKEDOWN_BATCH = 20
TOPK = 10
N_BUCKETS = 4


@dataclass
class Op:
    """One client request. ``run`` returns the result the check reads;
    ``group`` is query / read / write."""

    kind: str
    group: str
    run: Callable[[], object]
    check: Callable[[object], str | None]  # None when the output is right
    user_bytes: int = 0


class Curate:
    """Registered curation queries, each called and its complete result
    fetched to the client (``toPandas``). One pass = every query once."""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.in_dir = os.path.join(ctx.root, "inputs")
        self.first: dict[str, dict] = {}
        self.pinned: dict[str, dict] | None = None

    def setup(self) -> None:
        write_inputs(self.in_dir, self.ctx.seed, CURATE_DOCS)
        ref_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "reference.json")
        with open(ref_path) as fh:
            ref = json.load(fh).get(str(self.ctx.seed))
        if ref is not None:
            if ref["stamp"] != stamp_of(self.ctx.seed, CURATE_DOCS):
                raise SystemExit("perfbench: reference.json was pinned from another input generator")
            self.pinned = ref["queries"]

    def cycle(self, i: int) -> list[Op]:
        return [self._query_op(q) for q in CURATE_QUERIES]

    def _query_op(self, q: str) -> Op:
        from nlp_with_pyspark_spark import queries as Q

        ctx = self.ctx

        def run():
            return fetch(ctx, Q.QUERIES[q](ctx.spark, self.in_dir))

        def check(pdf) -> str | None:
            got = digest(pdf)
            want = self.pinned[q] if self.pinned else self.first.setdefault(q, got)
            if got["rows"] == 0:
                return f"{q}: empty result"
            if got != want:
                return f"{q}: {got} != reference {want}"
            return None

        return Op(q, "query", run, check)


class Maintain:
    """Two persisted stores — the BM25 posting index and the IVF-PQ
    vector store — under seeded writes, with a served read after each."""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.in_dir = os.path.join(ctx.root, "inputs")
        self.store_dir = os.path.join(ctx.root, "stores")
        self.rng = random.Random(f"maintain-{ctx.seed}")
        self.prefix = {"posting": "pb_posting", "vector": "pb_vector"}

    # -- set-up ---------------------------------------------------------
    def setup(self) -> None:
        from pyspark.sql import functions as F

        from nlp_with_pyspark_spark.functions import text as T
        from nlp_with_pyspark_spark.operators import search as S
        from nlp_with_pyspark_spark.operators import similarity as SIM
        from nlp_with_pyspark_spark.operators import vector_store as V

        spark = self.ctx.spark
        tables = write_inputs(self.in_dir, self.ctx.seed, MAINTAIN_DOCS)
        docs, emb = tables["documents"], tables["embeddings"]
        self.texts = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
        self.vecs = dict(zip(emb["vec_id"].to_pylist(), emb["embedding"].to_pylist()))
        self.docs = spark.read.parquet(os.path.join(self.in_dir, "documents.parquet")).select(
            "doc_id", T.tokens_pipeline(F.col("text")).alias("tokens")
        )
        self.emb = spark.read.parquet(os.path.join(self.in_dir, "embeddings.parquet")).select(
            "vec_id", "embedding"
        )
        # documents arrive in id order (the seed already decides their
        # content): the stores start with the first MAINTAIN_BASE
        base = list(range(MAINTAIN_BASE))
        self.pending = list(range(MAINTAIN_DOCS - 1, MAINTAIN_BASE - 1, -1))
        self.live = {"posting": set(base), "vector": set(base)}
        self.centroids = [(i, [float(x) for x in self.vecs[base[i]]]) for i in range(8)]
        self.codebooks = SIM.pq_fixed_codebooks()
        # the two builds are independent: overlapped, as the engine's own
        # persist_* functions overlap their table writes
        with ThreadPoolExecutor(max_workers=2) as pool:
            futures = [
                pool.submit(
                    S.persist_posting_index,
                    S.build_posting_index(self.docs.where(F.col("doc_id") < MAINTAIN_BASE)),
                    self.prefix["posting"], n_buckets=N_BUCKETS, path=self._path("posting"),
                ),
                pool.submit(
                    V.persist_vector_index,
                    self.emb.where(F.col("vec_id") < MAINTAIN_BASE), self.centroids, self.codebooks,
                    self.prefix["vector"], n_buckets=N_BUCKETS, path=self._path("vector"),
                ),
            ]
            for f in futures:
                f.result()

    def _path(self, store: str) -> str:
        return os.path.join(self.store_dir, store)

    def _rows(self, df, ids, col: str = "doc_id"):
        """``df`` restricted to ``ids`` — as an id range minus the
        (few) ids outside ``ids``, so no id list crosses to the JVM."""
        from pyspark.sql import functions as F

        lo, hi = min(ids), max(ids)
        holes = sorted(set(range(lo, hi + 1)) - set(ids))
        cond = F.col(col).between(lo, hi)
        return df.where(~F.col(col).isin(holes) & cond if holes else cond)

    # -- ops ------------------------------------------------------------
    def cycle(self, i: int) -> list[Op]:
        if len(self.pending) < INGEST_BATCH:
            raise SystemExit("perfbench: maintain ran out of documents to ingest; lower --seconds")
        batch = [self.pending.pop() for _ in range(INGEST_BATCH)]
        return [
            self._ingest(batch), self._read_bm25(),
            self._takedown(), self._read_vector(full=True),
            self._vacuum(), self._read_bm25(full=True),
        ]

    def _ingest(self, batch: list[int]) -> Op:
        """One ingest micro-batch into the posting index."""
        from nlp_with_pyspark_spark.streaming import sinks

        def run():
            sinks.search_index_upsert_batch(
                self._rows(self.docs, batch), self._path("posting"),
                table_prefix=self.prefix["posting"], n_buckets=N_BUCKETS,
            )

        def check(_) -> None:
            self.live["posting"] |= set(batch)

        return Op("ingest", "write", run, check, user_bytes=sum(user_bytes(self.texts[i]) for i in batch))

    def _takedown(self) -> Op:
        from nlp_with_pyspark_spark.streaming import sinks

        ids = self.rng.sample(sorted(self.live["posting"] & self.live["vector"]), TAKEDOWN_BATCH)
        targets = [{"kind": "posting", "table_prefix": self.prefix["posting"]},
                   {"kind": "vector", "table_prefix": self.prefix["vector"]}]

        def run():
            keys = self.ctx.spark.createDataFrame([(int(i),) for i in ids], "doc_id long")
            return sinks.takedown_fanout_batch(keys, targets)

        def check(_) -> None:
            for live in self.live.values():
                live -= set(ids)

        return Op("takedown", "write", run, check, user_bytes=8 * len(ids) * len(targets))

    def _vacuum(self) -> Op:
        from nlp_with_pyspark_spark.operators import search as S
        from nlp_with_pyspark_spark.operators import vector_store as V

        spark = self.ctx.spark

        def run():
            S.vacuum_posting_index(spark, self.prefix["posting"])
            V.vacuum_vector_index(spark, self.prefix["vector"])

        return Op("vacuum", "write", run, lambda _: None)

    def _read_bm25(self, full: bool = False) -> Op:
        """A BM25 top-k request; ``full`` also compares it with the
        direct path over the live corpus (a rebuild without deleted rows)."""
        from nlp_with_pyspark_spark.operators import search as S

        terms = self.rng.sample(VOCAB, 3)
        spark = self.ctx.spark

        def run():
            index = S.load_posting_index(spark, self.prefix["posting"])
            return fetch(self.ctx, S.bm25_topk_indexed(index, terms, k=TOPK))

        def check(pdf) -> str | None:
            bad = _served_check(pdf, "doc_id", self.live["posting"])
            if bad or not full:
                return bad
            want = S.bm25_topk(self._rows(self.docs, self.live["posting"]), terms, k=TOPK).toPandas()
            return _same(pdf, want, "bm25 store read vs rebuild without deleted rows")

        return Op("read_bm25", "read", run, check)

    def _read_vector(self, full: bool = False) -> Op:
        """A two-query IVF-PQ re-rank request (seeded query vectors near
        corpus points); ``full`` also compares it with the direct path
        over the live corpus."""
        from nlp_with_pyspark_spark.operators import similarity as SIM
        from nlp_with_pyspark_spark.operators import vector_store as V

        spark = self.ctx.spark
        rows = [
            (10_000_000 + q, [float(x) + self.rng.gauss(0.0, 0.02) for x in self.vecs[q]])
            for q in self.rng.sample(range(MAINTAIN_DOCS), 2)
        ]

        def queries():
            return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

        def run():
            index = V.load_vector_index(spark, self.prefix["vector"])
            return fetch(self.ctx, V.vector_index_rerank_topk(index, queries(), k=TOPK, shortlist=50, n_probe=3))

        def check(pdf) -> str | None:
            bad = _served_check(pdf, "neighbor_id", self.live["vector"])
            if bad or not full:
                return bad
            want = SIM.ivfpq_rerank_topk(
                self._rows(self.emb, self.live["vector"], "vec_id"), queries(),
                self.centroids, self.codebooks, k=TOPK, shortlist=50, n_probe=3,
            ).toPandas()
            return _same(pdf, want, "vector store read vs rebuild without deleted rows")

        return Op("read_vector", "read", run, check)

    # -- store accounting --------------------------------------------------
    def store_snapshot(self) -> dict[str, tuple[int, float]]:
        """path → (bytes, mtime) of every data file under the stores."""
        out = {}
        for dirpath, _, files in os.walk(self.store_dir):
            for f in files:
                if not f.startswith((".", "_")):
                    st = os.stat(os.path.join(dirpath, f))
                    out[os.path.join(dirpath, f)] = (st.st_size, st.st_mtime)
        return out

    def live_user_bytes(self) -> int:
        return sum(user_bytes(self.texts[i]) for i in self.live["posting"]) + sum(
            user_bytes(self.vecs[i]) for i in self.live["vector"]
        )


def fetch(ctx, df):
    """Materialize an op's result to the client (``toPandas``), recording
    when that starts and how long it takes; jobs before it are the op's
    eager jobs."""
    op = ctx.tracer.current
    op["df"] = df
    op["materialize_epoch"] = time.time()
    t0 = time.perf_counter()
    with ctx.tracer.span("toPandas", "materialize"):
        pdf = df.toPandas()
    op["materialize_s"] = time.perf_counter() - t0
    return pdf


def _served_check(pdf, id_col: str, live: set) -> str | None:
    if len(pdf) == 0:
        return "empty top-k"
    served = set(int(x) for x in pdf[id_col])
    if not served <= live:
        return f"served ids that are not live: {sorted(served - live)[:5]}"
    return None


def _same(got, want, what: str) -> str | None:
    g, w = digest(got), digest(want)
    return None if g == w else f"{what}: {g} != {w}"


WORKLOADS = {"curate": Curate, "maintain": Maintain}
