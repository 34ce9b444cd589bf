"""Derive the expected fingerprint of every benchmark request from its
DuckDB oracle (``__spark_entry__.oracle_sql()``) over the benchmark's
inputs, and write them to ``perfbench/expected.json``.

Run from the repository root after the inputs or a request list change:

    python3 perfbench/make_expected.py [sf]

Each oracle result is also compared with one Spark run of the request,
so a request whose engines disagree is reported instead of stored.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "sf0.01"
    sys.path.insert(0, ROOT)
    import duckdb

    import __spark_entry__ as entry
    from fingerprint import fingerprint
    from workloads import WORKLOADS

    sf_dir = os.path.join(HERE, "data", sf)
    names = sorted({n for w in WORKLOADS.values() for n in w.requests})
    oracles = entry.oracle_sql()
    missing = [n for n in names if n not in oracles]
    if missing:
        print(f"no oracle for {missing}", file=sys.stderr)
        return 1

    con = duckdb.connect()
    for t in os.listdir(sf_dir):
        con.execute(f"CREATE VIEW {t.split('.')[0]} AS "
                    f"SELECT * FROM '{os.path.join(sf_dir, t)}'")
    duck = {}
    for n in names:
        res = con.execute(oracles[n])
        duck[n] = fingerprint([d[0] for d in res.description],
                              res.fetchall())

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from openplacereviews_db_spark.session import get_spark
    spark = get_spark("perfbench-expected", sf_dir=sf_dir)
    spark.sparkContext.setLogLevel("ERROR")
    bad = []
    try:
        queries = entry.queries()
        for n in names:
            df = queries[n](spark, sf_dir)
            got = fingerprint(df.columns, df.collect())
            spark.catalog.clearCache()
            print(n, duck[n], "ok" if got == duck[n] else f"SPARK {got}")
            if got != duck[n]:
                bad.append(n)
    finally:
        spark.stop()
    if bad:
        print(f"engines disagree on {bad}; nothing written", file=sys.stderr)
        return 1

    path = os.path.join(HERE, "expected.json")
    data = {}
    if os.path.exists(path):
        with open(path) as f:
            data = json.load(f)
    data[sf] = duck
    with open(path, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
