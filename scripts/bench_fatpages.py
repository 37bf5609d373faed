"""Realistic-page-size extraction bench (fat pages).

The headline bench corpus averages ~0.9 KB/page, which under-represents
real Common-Crawl pages (tens of KB) and over-weights Arrow per-batch
fixed costs. This bench runs the SAME extraction job over
``synthesize_fat_docs`` (log-normal html size: mean ~60 KB, multi-MB
tail, 4 MB cap) and reports docs/s + MB/s over the standard N vs 4N
ladder (local[8] vs local[32], fresh JVM per level) at the package's
defaults — Arrow batches are bounded by ``get_spark``'s byte budget, so
fat pages need no per-corpus batch setting — with TWO paired Spark-free
host probes per ladder:

   - the generic md5 probe (``bench_scaling.host_cpu_ceiling``), and
   - a WORKLOAD-MATCHED kernel probe (``fat_kernel_ceiling``):
     independent processes running the actual ``extract_main_text``
     kernel over a deterministic fat-page mix. Fat-page parsing is
     memory-bandwidth-bound (multi-hundred-KB strings blow the L2 the
     md5 probe lives in), so the md5 probe OVERSTATES the achievable
     8→32 retention for this job; the kernel probe is the honest
     ceiling. Measured on this host: md5 ceiling ~0.89, kernel-on-
     fat-pages ceiling ~0.73 — no engine overhead involved in the gap.

Usage: python scripts/bench_fatpages.py [sf_dir] [copies] [ladders]
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from bench_scaling import ROOT, host_cpu_ceiling  # noqa: E402

_CHILD = r"""
import json, sys, time
cores, sf_dir, copies = sys.argv[1], sys.argv[2], int(sys.argv[3])
from my_ocr_spark.session import get_spark
from my_ocr_spark.operators.extract import extract_docs
from my_ocr_spark.plans.flagship import synthesize_fat_docs
from pyspark.sql import functions as F

spark = get_spark(app_name=f"fat-{cores}",
                  master=f"local[{cores}]", shuffle_partitions=int(cores))
spark.sparkContext.setLogLevel("ERROR")
corpus = synthesize_fat_docs(spark, sf_dir, copies=copies)
n_docs, n_bytes = corpus.select(
    F.count("*"), F.sum(F.octet_length("html"))).collect()[0]
# warm-up touches every partition (see bench_scaling.py note)
extract_docs(corpus.filter(
    F.pmod(F.xxhash64("url"), F.lit(50)) == 0)).count()
t0 = time.perf_counter()
n_out = extract_docs(corpus).count()
wall = time.perf_counter() - t0
assert n_out == n_docs
print(json.dumps({"cores": int(cores), "n_docs": int(n_docs),
                  "mb": n_bytes / 1e6, "wall_sec": round(wall, 2),
                  "docs_per_sec": round(n_docs / wall),
                  "mb_per_sec": round(n_bytes / 1e6 / wall, 1)}),
      flush=True)
try:
    spark.stop()
except Exception:
    pass
"""


_PAGES: list[bytes] = []
_PASSES = 48


def _make_fat_page(target_bytes: int, seed: int) -> bytes:
    """Deterministic fat page with the synthesizer's block structure:
    10-word paragraphs, body repeated to ~target size, real template."""
    sys.path.insert(0, ROOT)
    from my_ocr_spark.plans.flagship import _HTML_PREFIX, _HTML_SUFFIX
    words = [f"tok{(seed * 31 + i) % 1499}" for i in range(200)]
    unit = "".join(" ".join(words[i:i + 10]) + " </p><p>"
                   for i in range(0, 200, 10))
    k = max(1, target_bytes // len(unit))
    return (_HTML_PREFIX + unit * k + _HTML_SUFFIX).encode("utf-8")


def _kernel_work(worker_id: int) -> int:
    sys.path.insert(0, ROOT)
    from my_ocr_spark.kernel.extract import extract_main_text
    n = 0
    for _ in range(_PASSES):
        for p in _PAGES:
            extract_main_text(p)
            n += 1
    return n


def fat_kernel_ceiling() -> dict:
    """Spark-free controlled experiment, workload-matched: N independent
    PROCESSES each parse the same ~1.7 MB fat-page mix x _PASSES through
    the real kernel. Identical protocol to host_cpu_ceiling (fork pool,
    best-of-2, walls at 1/8/32) but the work is the actual job's memory
    access pattern, so ceiling_8_32 here is the hard bound a fat-page
    extraction stage can reach on this host."""
    global _PAGES
    if not _PAGES:
        sizes = [15_000, 40_000, 60_000, 60_000, 90_000,
                 150_000, 300_000, 1_000_000]
        _PAGES = [_make_fat_page(s, i) for i, s in enumerate(sizes)]
    walls = {}
    for n in (1, 8, 32):
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            with mp.Pool(n) as p:
                p.map(_kernel_work, range(n))
            best = min(best, time.perf_counter() - t0)
        walls[n] = best
    return {
        "probe": "kernel_fat_pages",
        "wall_1": round(walls[1], 3),
        "wall_8": round(walls[8], 3),
        "wall_32": round(walls[32], 3),
        "retention_8": round(walls[1] / walls[8], 4),
        "retention_32": round(walls[1] / walls[32], 4),
        "ceiling_8_32": round(walls[8] / walls[32], 4),
    }


def run_level(cores: int, sf_dir: str, copies: int) -> dict:
    # same GC pinning as bench_scaling.run_level: without it the
    # saturated 32-thread level pays GC-vs-task contention that the
    # 8-thread level doesn't, depressing measured efficiency.
    env = dict(os.environ,
               SPARK_GRAFT_JAVA_OPTS="-XX:ParallelGCThreads=4")
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, str(cores), sf_dir, str(copies)],
        capture_output=True, text=True, timeout=1800, cwd=ROOT,
        env=env)
    for line in reversed(out.stdout.strip().splitlines()):
        try:
            parsed = json.loads(line)
        except ValueError:
            continue
        if isinstance(parsed, dict) and "wall_sec" in parsed:
            return parsed
    raise RuntimeError(f"fat level {cores}: no measurement "
                       f"(rc={out.returncode}); {out.stderr[-2000:]}")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    copies = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    ladders = int(sys.argv[3]) if len(sys.argv) > 3 else 2

    runs, probes, kprobes = [], [], []
    for _ in range(ladders):
        probes.append(host_cpu_ceiling())
        print(json.dumps(probes[-1]), flush=True)
        kprobes.append(fat_kernel_ceiling())
        print(json.dumps(kprobes[-1]), flush=True)
        ladder = {c: run_level(c, sf_dir, copies) for c in (8, 32)}
        for c in (8, 32):
            print(json.dumps(ladder[c]), flush=True)
        runs.append(ladder)
    effs = sorted((r[32]["docs_per_sec"] / r[8]["docs_per_sec"]) / 4.0
                  for r in runs)
    eff = statistics.median(effs)
    ceil = statistics.median(p["ceiling_8_32"] for p in probes)
    kceil = statistics.median(p["ceiling_8_32"] for p in kprobes)
    print(json.dumps({
        "eff_8_32_median": round(eff, 3), "effs": [round(e, 3)
                                                   for e in effs],
        "md5_ceiling_8_32": round(ceil, 3),
        "kernel_ceiling_8_32": round(kceil, 3),
        "normalized_vs_kernel": round(eff / kceil, 3) if kceil else None,
    }), flush=True)


if __name__ == "__main__":
    main()
