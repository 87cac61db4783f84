#!/usr/bin/env python3
"""Refresh flockbench/oracle_digests.tsv from the DuckDB oracle.

    python3 flockbench/make_digests.py <scratch-dir> <sf0.1-fixture-dir>

Dumps the generated relations the nx_/mm_ oracles read into <scratch-dir>,
runs each headline query's oracle SQL (SparkEntry.oracleSql) in DuckDB over
the sf0.1 fixtures (see TESTDATA.md), writes each result to
parquet, and digests those results in the JVM exactly as the benchmark
digests Spark's. Run it from the repo root; it needs the duckdb module.
"""
import json
import os
import subprocess
import sys

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
DUMP_DIR = "/tmp/graft_oracle_inputs"  # the path the oracle SQL names


def jvm(*args):
    cmd = ["java", "-Xmx2g", "-XX:-UsePerfData", "-cp", build.classpath(),
           "graft.flockbench.MakeDigests", *args]
    subprocess.run(cmd, check=True)


def main():
    scratch = os.path.abspath(sys.argv[1])
    sf = sys.argv[2]
    inputs = os.path.join(scratch, "inputs")
    results = os.path.join(scratch, "oracle")
    os.makedirs(results, exist_ok=True)
    build.build()
    jvm("dump", inputs)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(inputs, "oracle_sql.json")))
    for name, sql in oracle.items():
        table = con.execute(sql.replace(DUMP_DIR, inputs)).arrow()
        pq.write_table(table, os.path.join(results, f"{name}.parquet"))
        print(f"{name}: {table.num_rows} rows", file=sys.stderr)
    jvm("digest", results, os.path.join(build.BENCH, "oracle_digests.tsv"))


if __name__ == "__main__":
    main()
