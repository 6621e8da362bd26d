"""Derive each op's expected result from the repository's DuckDB oracle.

For every op of every workload, runs ``registry.oracle_sql()[op]`` on
DuckDB over the benchmark fixture and stores the row count and the
normalized digest (stats.digest) in expected.json. The benchmark compares
every op it runs against this file, so the oracles (some take minutes at
larger scale factors) run once here, not in every benchmark run.

Usage, from the repository root:
    python3 perfbench/make_expected.py
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from stats import digest  # noqa: E402
from workloads import all_ops  # noqa: E402

FIXTURE = HERE / "data" / "sf0.01"
BASE_VIEWS = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings")


def main() -> None:
    import duckdb

    from kektordb_spark.plans import registry

    oracle = registry.oracle_sql()
    con = duckdb.connect()
    for name in BASE_VIEWS:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{FIXTURE}/{name}.parquet'")
    expected = {}
    for op in all_ops():
        t0 = time.perf_counter()
        res = con.execute(oracle[op])
        cols = [d[0] for d in res.description]
        rows, dig = digest(res.fetchall(), cols)
        expected[op] = {"rows": rows, "digest": dig}
        print(f"{op}: {rows} rows in {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    with open(HERE / "expected.json", "w") as fh:
        json.dump({"fixture": "sf0.01", "ops": expected}, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
