#!/usr/bin/env python3
"""Establish the golden (row count, xxhash64 checksum) of every benchmark
key on the generated tables, and write ``perfbench/goldens.json``.

Run from the repository root, once per change to the key lists or the
table generator (like a benchmark run, it empties ``.scratch/`` and
``.bench_run/`` first):

    python3 perfbench/goldens.py

Each key is computed once and then cross-checked against its DuckDB
oracle (``oracle_sql()``) with the test suite's result comparison; a key
whose Spark result disagrees with its oracle is not written, and the
script exits 1. Keys without an oracle are recorded as such.
"""

from __future__ import annotations

import json
import os
import sys


def main() -> int:
    root = os.getcwd()
    sys.path.insert(0, root)
    from perfbench import datagen, run, workloads

    paths = run.prepare(root)
    datagen.write_tables(paths["data"], workloads.DATA_SF, workloads.DATA_SEED)
    spark = run.start_spark(paths)
    try:
        import duckdb

        import __spark_entry__
        from frolyk_spark.sources.catalog import TABLES
        from tests.compare import compare_results

        queries, oracles = __spark_entry__.queries(), __spark_entry__.oracle_sql()
        con = duckdb.connect()
        for name in TABLES:
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{paths['data']}/{name}.parquet')")
        out, bad = {}, []
        for key in workloads.BATCH_OPS + workloads.STREAM_JOBS:
            df = queries[key](spark, paths["data"])
            rows, chk = workloads.force(df)
            oracle = "none"
            if key in oracles:
                try:
                    compare_results(queries[key](spark, paths["data"]), con.sql(oracles[key]))
                    oracle = "duckdb"
                except AssertionError as exc:
                    bad.append(key)
                    print(f"# {key}: oracle mismatch: {str(exc)[:300]}", file=sys.stderr)
                    continue
            out[key] = {"rows": rows, "chk": chk, "oracle": oracle}
            print(f"# {key}: rows={rows} chk={chk} oracle={oracle}", file=sys.stderr)
    finally:
        run.stop_spark()
    with open(os.path.join(root, "perfbench", "goldens.json"), "w") as fh:
        json.dump({"data": {"sf": workloads.DATA_SF, "seed": workloads.DATA_SEED},
                   "keys": out}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
