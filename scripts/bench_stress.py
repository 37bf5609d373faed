"""Adversarial-skew extraction stress bench (SURVEY.md §7.3 risk 2).

Measures the flagship extraction stage on the SAME uniform amplified
corpus twice — once as-is, once with a handful of multi-MB HTML bombs
(block bombs over MAX_BLOCKS_PER_DOC, 60k-deep nesting bombs over
MAX_PATH_SEGMENTS, single-block megatext) all parked on ONE mega-host —
and reports wall / docs/s / MB/s / host-wide peak RSS for both. The
claim under test: the kernel's skew caps make adversarial pages degrade
throughput roughly in proportion to their BYTES (graceful), not stall a
straggler task or blow executor memory (the uncapped deep-nesting path
table alone would be ~40 GB for one page).

Each config runs in a fresh subprocess/JVM, mirroring
scripts/bench_scaling.py's protocol.

Usage: python scripts/bench_stress.py [sf_dir] [copies]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

# the checkout this script lives in; the child runs with it as cwd, so
# `python -c` imports its package first
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = r"""
import datetime, json, os, sys, threading, time
mode, sf_dir, copies = sys.argv[1], sys.argv[2], int(sys.argv[3])
from my_ocr_spark.session import get_spark
from my_ocr_spark.operators.extract import extract_docs
from bench import build_amplified_corpus
from pyspark.sql import functions as F

spark = get_spark(app_name=f"stress-{mode}", master="local[32]",
                  shuffle_partitions=32)
spark.sparkContext.setLogLevel("ERROR")
corpus = build_amplified_corpus(spark, sf_dir, copies)
if mode == "skewed":
    from my_ocr_spark.fixtures import make_html_bomb
    ts = datetime.datetime(2024, 6, 1)
    rows = []
    for i in range(30):
        kind, size = [("blocks", 100_000), ("deep", 60_000),
                      ("megatext", 4_000_000)][i % 3]
        rows.append((f"https://megahost.example/bomb/{i}", ts,
                     make_html_bomb(kind, size, seed=100 + i).encode(),
                     "", "en"))
    bombs = spark.createDataFrame(rows, schema=corpus.schema)
    corpus = corpus.unionByName(bombs)
n_docs, n_bytes = corpus.select(
    F.count("*"), F.sum(F.octet_length("html"))).collect()[0]

peak = {"mb": 0.0}
stop = threading.Event()
def sample():          # host-wide RSS: this box runs only this job
    while not stop.is_set():
        total = 0
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1])
                except OSError:
                    pass
        peak["mb"] = max(peak["mb"], total * 4096 / 1e6)
        time.sleep(0.3)
t = threading.Thread(target=sample, daemon=True); t.start()

# warm-up must touch every partition (see bench_scaling.py note)
extract_docs(corpus.filter(
    F.pmod(F.xxhash64("url"), F.lit(50)) == 0)).count()
t0 = time.perf_counter()
n_out = extract_docs(corpus).count()
wall = time.perf_counter() - t0
stop.set()
assert n_out == n_docs
print(json.dumps({"mode": mode, "n_docs": int(n_docs),
                  "mb": n_bytes / 1e6, "wall_sec": round(wall, 2),
                  "docs_per_sec": round(n_docs / wall),
                  "mb_per_sec": round(n_bytes / 1e6 / wall, 1),
                  "peak_rss_mb": round(peak["mb"])}), flush=True)
try:
    spark.stop()
except Exception:
    pass
"""


def run(mode: str, sf_dir: str, copies: int) -> dict:
    p = subprocess.run([sys.executable, "-c", _CHILD, mode, sf_dir,
                        str(copies)], capture_output=True, text=True,
                       timeout=1800, cwd=ROOT)
    if p.returncode != 0:
        raise RuntimeError(p.stderr[-2000:])
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    copies = int(sys.argv[2]) if len(sys.argv) > 2 else 200
    out = []
    for mode in ("uniform", "skewed"):
        r = run(mode, sf_dir, copies)
        out.append(r)
        print(json.dumps(r), flush=True)
    u, s = out
    extra_mb = s["mb"] - u["mb"]
    print(json.dumps({
        "bytes_added_pct": round(100 * extra_mb / u["mb"], 1),
        "wall_added_pct": round(
            100 * (s["wall_sec"] - u["wall_sec"]) / u["wall_sec"], 1),
        "bomb_mb_per_sec": round(
            extra_mb / max(s["wall_sec"] - u["wall_sec"], 1e-9), 1),
        "peak_rss_delta_mb": s["peak_rss_mb"] - u["peak_rss_mb"],
    }), flush=True)


if __name__ == "__main__":
    main()
