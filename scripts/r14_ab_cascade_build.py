"""r14: A/B the merge-cascade construction — match_type_col (nested
Column lambdas, thousands of py4j calls) vs match_type_expr (one
F.expr parse).  Both are analyzed against the same toy frame so the
timing covers py4j + analysis, interleaved in ONE session.  Also
reports fresh build times for the cascade-family queries at HEAD.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"


def main() -> None:
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from openplacereviews_db_spark.operators import place_merge
    from openplacereviews_db_spark.session import get_spark

    spark = get_spark("r14abcascade", sf_dir=SF)
    spark.sparkContext.setLogLevel("ERROR")
    schema = ("c_name string, a_name string, c_wikidata string, "
              "a_wikidata string, c_website string, a_website string, "
              "c_alt array<string>, a_alt array<string>")
    df = spark.createDataFrame(
        [("x", "y", None, None, None, None, [], [])], schema)

    def t_col() -> float:
        t0 = time.time()
        c = place_merge.match_type_col(
            F.col("c_name"), F.col("a_name"),
            F.col("c_wikidata"), F.col("a_wikidata"),
            F.col("c_website"), F.col("a_website"),
            F.col("c_alt"), F.col("a_alt"))
        df.select(c.alias("mt")).schema
        return time.time() - t0

    def t_expr() -> float:
        t0 = time.time()
        c = F.expr(place_merge.match_type_expr(
            "c_name", "a_name", "c_wikidata", "a_wikidata",
            "c_website", "a_website", "c_alt", "a_alt"))
        df.select(c.alias("mt")).schema
        return time.time() - t0

    col_ts, expr_ts = [], []
    for _ in range(5):
        col_ts.append(round(t_col(), 3))
        expr_ts.append(round(t_expr(), 3))

    qs = entrymod.queries()
    fam = ["j4_match_cascade", "j4_fuzzy_name_join", "j5_pick_merges",
           "a5_merge_counters", "m5_merge_ops", "m6_close_report",
           "m7_migrate_ids", "m12_fixture_verdicts", "j3_border_correct",
           "j7_history_full_check"]
    builds: dict[str, list[float]] = {}
    # m12_fixture_verdicts registers only with the reference checkout
    for name in (n for n in fam if n in qs):
        ts = []
        for _ in range(2):
            t0 = time.time()
            qs[name](spark, SF)
            ts.append(round(time.time() - t0, 3))
        builds[name] = ts
    print(json.dumps({"loadavg": os.getloadavg(),
                      "match_type_col_s": col_ts,
                      "match_type_expr_s": expr_ts,
                      "query_build_s": builds}))


if __name__ == "__main__":
    main()
