#!/usr/bin/env python3
"""Record the DuckDB-oracle result hash of every probed query lane.

    python3 perfbench/record_oracle.py

Generates the lanes' tables (``tables.py``), runs each lane on Spark
and its oracle SQL on DuckDB over the same parquet through
``tools/check_oracle.py::check_one`` (row count, columns, dtypes and value
hash must all agree), and writes the oracle's ``table_hash`` per lane to
``perfbench/oracle_hashes.json``. Benchmark runs compare against that file
instead of running DuckDB, whose twins of the curation lanes are slow.
Exits 1, writing nothing, if any lane disagrees with its oracle.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import ROOT, pin_env, start_session, stop_session  # noqa: E402


def main() -> int:
    work = os.path.join(ROOT, ".perfbench-work")
    os.makedirs(work, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix="oracle-", dir=work)
    spark = None
    try:
        pin_env(workdir)
        import duckdb
        from data_ingestion_lambda_spark.plans.registry import release_pinned
        from query_probe import LANES, ORACLE_FILE, QueryBench
        from tables import DATA_SEED
        from tools.check_oracle import check_one, table_hash

        spark, _ = start_session(workdir)
        bench = QueryBench(spark, workdir, seed=0)
        con = duckdb.connect()
        for table in bench.table_rows:
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM '{bench.sf_dir}/{table}.parquet'"
            )
        hashes, failures = {}, 0
        for lane in LANES:
            spec = bench.specs[lane]
            status, msg = check_one(lane, spec, spark, con, bench.sf_dir, schema_only=False)
            release_pinned()
            print(msg, flush=True)
            if status != "pass":
                failures += 1
                continue
            res = con.execute(spec.oracle)
            hashes[lane] = table_hash(res.fetchall(), [d[0] for d in res.description])
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    if failures:
        print(f"{failures} lanes disagree with their oracle; nothing recorded")
        return 1
    with open(ORACLE_FILE, "w", encoding="utf-8") as f:
        json.dump({"data_seed": DATA_SEED, "hashes": hashes}, f, indent=2)
        f.write("\n")
    print(f"recorded {len(hashes)} oracle hashes in {os.path.relpath(ORACLE_FILE, ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
