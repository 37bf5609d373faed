"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
 "sf": ..., "extraction": {docs_per_sec, mb_per_sec}}.

The flagship extraction benchmark amplifies the documents table ~40x in
Spark (JVM-side concat — deterministic) to a ~200k-page corpus so the
mapInArrow stage dominates, matching the north metric (docs/sec, MB/sec
extracted). Scaling-efficiency runs (local[8] vs local[32]) live in
scripts/bench_scaling.py and write BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


# timed in this order; bench_extra.py imports the same list
HEADLINE = [
    "pricing_summary",          # partial+final agg over the fact table
    "top_revenue_nation",       # broadcast-dim multi-join
    "sessionize_events",        # window sessionization
    "iou_theta_join_match",     # theta-join greedy matching
    "hmean_per_image",          # metric aggregation
    "topk_per_group",           # per-group rank
    "ngram_jaccard_dups",       # inverted-index dedup join
    "embedding_cosine_topk",    # similarity search
    "minhash_lsh_candidates",   # LSH dedup (pandas UDF + band join)
    "pdf_reading_order",        # layout branch (streaming grouped map)
    "interval_range_join",      # banded range join (sparse overlaps)
    "semantic_dedup_keep",      # SemDeDup: codebook + cell-local pairs
    "duplicate_span_pairs",     # Lee-et-al. substring-span dedup
    "gopher_repetition_filters",  # repetition quality gates
    "curation_mix_report",      # e2e: extract -> gates -> mix shares
    "db_decode_boundaries",     # bitmap decode: trace+unclip+minrect
]


def build_amplified_corpus(spark, sf_dir: str, copies: int,
                           partitions: int | None = None):
    """documents → CC-style page table ×copies (unique urls per copy).

    The source parquet is a single small file (one input split): without
    an explicit repartition of the narrow rows, every downstream pandas
    UDF would run on one core (measured: 32-core run at 0.43× the
    single-thread kernel rate). html is synthesized after the shuffle."""
    from pyspark.sql import functions as F
    from my_ocr_spark.plans.flagship import synthesize_cc_docs

    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism * 4
    cc = synthesize_cc_docs(spark, sf_dir, partitions=partitions)
    return (cc.withColumn("copy", F.explode(F.sequence(F.lit(0),
                                                       F.lit(copies - 1))))
              .withColumn("url", F.concat("url", F.lit("?v="),
                                          F.col("copy").cast("string")))
              .drop("copy"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from my_ocr_spark.session import get_spark
    from my_ocr_spark.operators.extract import extract_docs
    from pyspark.sql import functions as F
    import __spark_entry__ as E

    spark = get_spark(app_name="bench", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")

    qs = E.queries()
    # warm-up: JVM JIT + parquet footer caches, so the first timed query
    # doesn't absorb cold-start
    qs["pricing_summary"](spark, sf_dir).count()
    # ...and the python worker pool (pricing_summary is JVM-only, so
    # without this the first pandas-UDF query in the loop would absorb
    # all worker spawns; one no-op batch per core is steady-state)
    spark.range(0, 32 * int(cpus), 1, int(cpus)).mapInPandas(
        lambda it: it, "id long").count()
    # best-of-2 per query: the sandbox host has measured noise waves
    # (an untouched pure-JVM query swung 0.62→2.07 s minutes apart —
    # hypervisor neighbors, not this engine); the min of two
    # back-to-back runs is the standard way to report the engine's own
    # cost under uncontrolled external load. Protocol recorded in the
    # JSON ("runs_per_query").
    timings: dict[str, float] = {}
    for name in HEADLINE:
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            df.count()  # forces full execution, no materialization
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    # flagship extraction throughput: docs/sec and MB/sec (north metric)
    copies = int(os.environ.get("SPARK_GRAFT_BENCH_COPIES", "20"))
    corpus = build_amplified_corpus(spark, sf_dir, copies)
    stats_df = corpus.select(F.count("*").alias("n"),
                             F.sum(F.octet_length("html")).alias("bytes"))
    n_docs, n_bytes = stats_df.collect()[0]
    # steady-state: spin up the python worker pool + JIT before timing.
    # Must touch every partition — a limit() slice warms only one worker
    # and the timed run then pays the other N spawns.
    extract_docs(corpus.filter(
        F.pmod(F.xxhash64("url"), F.lit(50)) == 0)).count()
    wall = float("inf")
    for _ in range(2):  # best-of-2, same host-noise protocol as above
        t0 = time.perf_counter()
        extracted = extract_docs(corpus)
        agg = extracted.select(
            F.count("*").alias("n"),
            F.sum(F.length("text")).alias("chars")).collect()
        wall = min(wall, time.perf_counter() - t0)
        assert agg[0]["n"] == n_docs
    timings["extract_maincontent"] = round(wall, 3)

    result = {
        "metric": "headline query wall time at sf" + sf,
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "runs_per_query": 2,
        "sf": float(sf),
        "extraction": {
            "n_docs": int(n_docs),
            "input_mb": round(n_bytes / 1e6, 1),
            "wall_sec": round(wall, 3),
            "docs_per_sec": round(n_docs / wall, 1),
            "mb_per_sec": round(n_bytes / 1e6 / wall, 2),
        },
    }
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
