"""Regenerate ``expected.json``: the DuckDB oracle's result hash for every
batch-workload query, on the benchmark's generated tables.

    python3 perfbench/make_expected.py

Run it only when the query set, an oracle or the data generator changes.
It runs each query's ``oracle_sql()`` text on DuckDB, never Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import duckdb  # noqa: E402

import datagen  # noqa: E402
from checks import result_hash  # noqa: E402
from run import SF  # noqa: E402
from workloads import BATCH  # noqa: E402


def main() -> int:
    from pandas_db_spark.queries import oracle_sql
    oracles = oracle_sql()
    os.makedirs(os.path.join(HERE, "_build"), exist_ok=True)
    tmp = tempfile.mkdtemp(dir=os.path.join(HERE, "_build"))
    try:
        digest = datagen.write(tmp, SF)
        con = duckdb.connect()
        for t in datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp}/{t}.parquet')")
        out = {}
        for name in sorted(n for fams in BATCH.values() for fam in fams for n in fam):
            cur = con.execute(oracles[name])
            rows = cur.fetchall()
            out[name] = list(result_hash([d[0] for d in cur.description], rows))
            print(name, out[name][0], "rows", flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump({"sf": SF, "data_digest": digest, "queries": out}, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
