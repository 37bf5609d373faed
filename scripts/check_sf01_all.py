"""Resumable full-registry hash check at sf0.1: runs every queries()
entry vs its oracle at /root/testdata/sf0.1, appending one JSON line
per query to scripts/sf01_results.jsonl and SKIPPING names already
recorded — so the sweep survives tool/session time limits and is
re-invoked until complete. Wall time per query is recorded too (the
sweep doubles as a coarse per-query sf0.1 cost profile).

Usage: python scripts/check_sf01_all.py [budget_seconds] [skip...]
       python scripts/check_sf01_all.py [budget] --dir=DIR --out=FILE \
           [--only=name1,name2] [--sf=1.0] [skip...]

The --dir/--out/--only form runs the same harness against any fixture
dir (e.g. a locally generated sf1.0 from scripts/gen_sf.py) with its
own resumable results file.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from check_correctness import (  # noqa: E402
    ROOT, TABLES, canon, use_checkout, value_hash)

use_checkout()
OUT = os.path.join(ROOT, "scripts", "sf01_results.jsonl")
SF = "/root/testdata/sf0.1"


def main() -> int:
    args = sys.argv[1:]
    sf_dir, out, sf_tag, only = SF, OUT, 0.1, None
    pos = []
    for a in args:
        if a.startswith("--dir="):
            sf_dir = a[6:]
        elif a.startswith("--out="):
            out = a[6:]
        elif a.startswith("--sf="):
            sf_tag = float(a[5:])
        elif a.startswith("--only="):
            only = set(a[7:].split(","))
        else:
            pos.append(a)
    budget = float(pos[0]) if pos else 480.0
    skip = set(pos[1:])   # probe slow queries separately
    done = set()
    if os.path.exists(out):
        with open(out) as f:
            done = {json.loads(ln)["name"] for ln in f if ln.strip()}

    import duckdb

    import __spark_entry__ as E
    from my_ocr_spark.session import get_spark

    qs, oracles = E.queries(), E.oracle_sql()
    todo = [n for n in qs if n not in done and n not in skip
            and (only is None or n in only)]
    if not todo:
        print("sweep complete:", len(done), "queries")
        return 0

    spark = get_spark(app_name="sf01_sweep", master="local[16]",
                      shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    t_start = time.time()
    for name in todo:
        if time.time() - t_start > budget:
            print(f"budget reached; {len(todo)} remaining at start, "
                  "re-invoke to continue")
            break
        rec = {"name": name, "sf": sf_tag}
        t0 = time.time()
        try:
            sdf = canon(qs[name](spark, sf_dir).toPandas())
            rec["spark_rows"] = len(sdf)
            rec["spark_sec"] = round(time.time() - t0, 2)
            if name not in oracles:
                rec["status"] = "rows_only"
            else:
                t1 = time.time()
                odf = canon(con.execute(oracles[name]).df())
                rec["oracle_rows"] = len(odf)
                rec["oracle_sec"] = round(time.time() - t1, 2)
                if len(sdf) != len(odf):
                    rec["status"] = "ROWS_MISMATCH"
                elif list(sdf.columns) != list(odf.columns):
                    rec["status"] = "SCHEMA_MISMATCH"
                elif value_hash(sdf) != value_hash(odf):
                    rec["status"] = "HASH_MISMATCH"
                    rec["diff_cols"] = [
                        c for c in sdf.columns
                        if not sdf[c].astype(str).equals(
                            odf[c].astype(str))]
                else:
                    rec["status"] = "ok"
        except Exception as exc:  # noqa: BLE001 — recorded, not fatal
            rec["status"] = "ERROR"
            rec["err"] = str(exc)[:400]
        # record FIRST: the JVM-restart below is itself fallible (a
        # dead gateway once made get_spark assert mid-handler, which
        # escaped main() and lost the in-flight query's record)
        with open(out, "a") as f:
            f.write(json.dumps(rec) + "\n")
        print(rec["status"], name, rec.get("spark_sec"), flush=True)
        if rec["status"] == "ERROR":
            # a driver-heap OOM kills the JVM and every later query
            # would cascade into "Connection refused" — restart the
            # session so one fatal query can't poison the sweep
            msg = rec["err"]
            if ("Connection refused" in msg or "OutOfMemory" in msg
                    or "Java heap space" in msg
                    or "Answer from Java side is empty" in msg
                    or "Py4JNetworkError" in msg):
                try:
                    try:
                        spark.stop()
                    except Exception:
                        pass
                    from pyspark import SparkContext
                    from pyspark.sql import SparkSession as _SS
                    SparkContext._gateway = None  # dead JVM: force a
                    SparkContext._jvm = None      # fresh gateway launch
                    SparkContext._active_spark_context = None
                    _SS._instantiatedSession = None
                    _SS._activeSession = None
                    os.environ.pop("PYSPARK_GATEWAY_PORT", None)
                    os.environ.pop("PYSPARK_GATEWAY_SECRET", None)
                    spark = get_spark(app_name="sf01_sweep",
                                      master="local[16]",
                                      shuffle_partitions=16)
                    spark.range(1).count()   # prove the gateway works
                    print("jvm restarted after", name, flush=True)
                except Exception as rexc:  # noqa: BLE001
                    print("jvm restart failed after", name, ":",
                          str(rexc)[:200], "— exiting for re-invoke",
                          flush=True)
                    return 3
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
