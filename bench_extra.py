"""Round-7 optimization measurement harness (bench.py is FROZEN — this
file is the builder's own instrumentation per spark_optimization_guide §1).

Usage:
    python bench_extra.py [query ...]            # noop-sink timing, best-of-2
    python bench_extra.py --explain [query ...]  # write plans/r07/<q>_<tag>.txt
    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py ...

Differences from bench.py (deliberate, guide §1.4):
* sink is ``noop`` write, not ``.count()`` — forces every column of every
  row, so column-pruned subtrees can't hide;
* per-query job descriptions for UI/event-log attribution;
* optional ``--explain`` dumps ``explain("formatted")`` to plans/r07/.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import HEADLINE  # noqa: E402


def main() -> None:
    args = [a for a in sys.argv[1:]]
    explain = "--explain" in args
    count_sink = "--count" in args
    tag = "before"
    for a in list(args):
        if a.startswith("--tag="):
            tag = a.split("=", 1)[1]
            args.remove(a)
    args = [a for a in args if not a.startswith("--")]
    names = args or HEADLINE

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from my_ocr_spark.session import get_spark
    import __spark_entry__ as E

    spark = get_spark(app_name="bench_extra", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()

    # same warm-up as bench.py so numbers are comparable
    qs["pricing_summary"](spark, sf_dir).count()
    spark.range(0, 32 * int(cpus), 1, int(cpus)).mapInPandas(
        lambda it: it, "id long").count()

    if explain:
        os.makedirs("plans/r07", exist_ok=True)
        for name in names:
            df = qs[name](spark, sf_dir)
            with open(f"plans/r07/{name}_{tag}.txt", "w") as f:
                f.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution
                    .ExplainMode.fromString("formatted")))
            print(f"wrote plans/r07/{name}_{tag}.txt")
        spark.stop()
        return

    timings = {}
    for name in names:
        best = float("inf")
        for i in range(2):
            spark.sparkContext.setJobDescription(f"{name} run{i}")
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            if count_sink:
                df.count()
            else:
                df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        print(f"{name}: {timings[name]}", flush=True)
    print(json.dumps({"sink": "count" if count_sink else "noop",
                      "sf_dir": sf_dir, "queries": timings,
                      "total": round(sum(timings.values()), 3)}))
    spark.stop()


if __name__ == "__main__":
    main()
