#!/usr/bin/env python3
"""Makes the stored batch_suite checksums and cross-checks them against DuckDB.

Usage, from the root of the repository (after one run.py run has built
the harness):

    python3 perfbench/crosscheck.py <work dir>

For each corpus seed it generates the corpus, computes the 20 queries'
checksums with the library (written to <work>/checksums.tsv, the content
of perfbench/src/main/resources/batch_checksums.tsv), runs each query's
oracle SQL (SparkEntry.oracleSql) in DuckDB on the same parquet tables,
and compares the checksum of the DuckDB result with the library's.
"""
import json
import os
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def jvm(*args):
    with open(run.CLASSPATH) as f:
        cp = f.read().strip()
    cmd = ["java", f"-Xmx{run.driver_mem()}"]
    for o in run.ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    subprocess.run(cmd + ["-cp", cp, "perfbench.Expected", *args], check=True)


def main():
    work = os.path.abspath(sys.argv[1])
    os.makedirs(work, exist_ok=True)
    jvm("generate", work)
    sql = json.load(open(os.path.join(work, "oracle_sql.json")))
    seeds = sorted({l.split("\t")[0] for l in open(os.path.join(work, "checksums.tsv")) if l.strip()})
    for cs in seeds:
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for t in TABLES:
            p = os.path.join(work, f"corpus_{cs}", f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        out = os.path.join(work, f"oracle_{cs}")
        os.makedirs(out, exist_ok=True)
        for q, s in sorted(sql.items()):
            con.execute(f"COPY ({s}) TO '{os.path.join(out, q + '.parquet')}' (FORMAT PARQUET)")
    jvm("compare", work)


if __name__ == "__main__":
    main()
