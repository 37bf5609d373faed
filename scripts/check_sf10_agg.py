"""sf1.0 evidence for queries whose OUTPUT relation is quadratic in SF —
generic aggregate-invariant form (generalizes check_sf10_irj.py).

Some registered queries deliberately stress dense-group joins: their
fixture keys bound the GROUP COUNT (e.g. 25 nations), so per-group
density — and the pair output — grows quadratically with SF. At sf1.0
those results are cluster-sized (hundreds of millions of rows); the
full-collect hash gate is the wrong tool (it OOMs the local driver,
and a real cluster would never collect such a relation either).

Scale-appropriate check: BOTH engines run their own full query —
Spark the plan under test (via queries()), DuckDB the registered
oracle_sql() verbatim as a view — then reduce the result to a few
dozen per-group rows of exact integer invariants (counts, modular id
sums, an order-insensitive modular pair checksum, exact integer cents
for 2-dp doubles) computed DISTRIBUTIVELY on each side. Any lost,
duplicated, or value-shifted row perturbs the invariants. The shared
agg SQL parses identically on both engines; sums are CAST to BIGINT
(DuckDB HUGEINT parity rule). Appends ok_agg / AGG_MISMATCH to
scripts/sf10_results.jsonl.

Usage: python scripts/check_sf10_agg.py <query_name> [sf_dir] [out]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from check_correctness import (  # noqa: E402
    ROOT, canon, use_checkout, value_hash)

use_checkout()
SF_DIR = os.path.join(ROOT, "localdata", "sf1.0")
OUT = os.path.join(ROOT, "scripts", "sf10_results.jsonl")

# Per-query invariant spec: group expression (few dozen groups) and an
# agg select-list valid on BOTH engines. Modular terms stay < 2^31 so
# BIGINT sums over ~1e9 rows sit far from overflow; 2-dp doubles are
# exactified as round(x*100) cents (both engines compute the identical
# IEEE double, so the rounding is bit-determined, never a .5 tie).
SPECS: dict[str, dict[str, str]] = {
    "kie_relation_crossjoin": {
        "group": "nation",
        "aggs": (
            "count(*) AS n_rows, "
            "CAST(sum(src % 1000003) AS BIGINT) AS sum_src, "
            "CAST(sum(dst % 1000003) AS BIGINT) AS sum_dst, "
            "CAST(sum((src * 31 + dst * 7) % 1000000007) AS BIGINT) "
            "AS pair_checksum, "
            "CAST(sum(CAST(round(dbal * 100) AS BIGINT)) AS BIGINT) "
            "AS sum_cents"
        ),
        "note": ("output pairs are quadratic in SF by fixture design "
                 "(self-join within 25 fixed nations): full-collect "
                 "hash infeasible at sf1.0; verified via 25 per-nation "
                 "exact integer invariants (count, modular id sums, "
                 "pair checksum, exact cents total) computed "
                 "distributively on both engines"),
    },
}


def main() -> int:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else SF_DIR
    out = sys.argv[3] if len(sys.argv) > 3 else OUT
    spec = SPECS[name]
    agg_sql = (f"SELECT {spec['group']} AS grp, {spec['aggs']} "
               f"FROM q_result GROUP BY {spec['group']} ORDER BY grp")

    import __spark_entry__ as E
    from my_ocr_spark.session import get_spark

    oracle = E.oracle_sql()[name]
    spark = get_spark(app_name=f"sf10_agg_{name}", master="local[16]",
                      shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    E.queries()[name](spark, sf_dir).createOrReplaceTempView("q_result")
    sdf = canon(spark.sql(agg_sql).toPandas())
    spark_sec = round(time.time() - t0, 2)
    n_rows_spark = int(sdf["n_rows"].sum())
    spark.stop()

    import duckdb

    from check_correctness import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    t1 = time.time()
    con.execute(f"CREATE TEMP VIEW q_result AS {oracle}")
    odf = canon(con.execute(agg_sql).df())
    oracle_sec = round(time.time() - t1, 2)

    match = (len(sdf) == len(odf)
             and list(sdf.columns) == list(odf.columns)
             and value_hash(sdf) == value_hash(odf))
    rec = {
        "name": name, "sf": 1.0,
        "spark_rows": n_rows_spark, "spark_sec": spark_sec,
        "oracle_rows": int(odf["n_rows"].sum()),
        "oracle_sec": oracle_sec,
        "status": "ok_agg" if match else "AGG_MISMATCH",
        "note": f"~{n_rows_spark:,} output rows — " + spec["note"],
    }
    with open(out, "a") as f:
        f.write(json.dumps(rec) + "\n")
    print(rec["status"], "spark", spark_sec, "s, oracle", oracle_sec,
          "s, rows", n_rows_spark)
    return 0 if match else 1


if __name__ == "__main__":
    raise SystemExit(main())
