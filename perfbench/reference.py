"""Pin the reference digests the ``curate`` workload checks against.

For each pinned seed this generates the workload's corpus and runs each
curate query's DuckDB oracle (the engine's registered ``ORACLES`` SQL)
over it, then writes row counts and digests to ``reference.json``. The
oracles are slow (``dedup_components`` takes minutes), so they run here
once rather than in every benchmark run.

Run from the repository root:  python3 perfbench/reference.py [seeds...]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402

from digest import digest  # noqa: E402
from inputs import stamp_of, write_inputs  # noqa: E402
from workloads import CURATE_DOCS, CURATE_QUERIES  # noqa: E402

DEFAULT_SEEDS = list(range(0, 11))


def main() -> None:
    from nlp_with_pyspark_spark.queries import ORACLES

    seeds = [int(s) for s in sys.argv[1:]] or DEFAULT_SEEDS
    path = os.path.join(HERE, "reference.json")
    ref = json.load(open(path)) if os.path.exists(path) else {}
    for seed in seeds:
        with tempfile.TemporaryDirectory() as d:
            write_inputs(d, seed, CURATE_DOCS)
            con = duckdb.connect()
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
            ref[str(seed)] = {
                "stamp": stamp_of(seed, CURATE_DOCS),
                "queries": {q: digest(con.execute(ORACLES[q]).fetchdf()) for q in CURATE_QUERIES},
            }
            con.close()
        print(seed, ref[str(seed)], flush=True)
        with open(path, "w") as fh:
            json.dump(ref, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
