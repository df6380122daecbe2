"""Recompute ``oracle_hashes.json``: each catalog query's DuckDB oracle
(``queries_catalog.ORACLES``) over the committed sf0.001 tables, hashed
the way the benchmark hashes Spark's result.  Live oracles are too slow to
run in every benchmark run, so they run once, here:

    python3 perfbench/make_oracle_hashes.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import duckdb  # noqa: E402

from catalog import ORACLE_HASHES, SF_DIR, query_order, result_hash  # noqa: E402
from stateful_spark_streaming_spark.queries_catalog import ORACLES  # noqa: E402
from stateful_spark_streaming_spark.sources.tables import TABLES  # noqa: E402


def main() -> None:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    out = {q: result_hash(con.execute(ORACLES[q]).df()) for q in sorted(query_order(0))}
    with open(ORACLE_HASHES, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
