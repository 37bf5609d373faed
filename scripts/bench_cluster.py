"""Standalone-CLUSTER scaling ladder (north_rule's literal shape).

The local[N] ladder (scripts/bench_scaling.py) shares one JVM across all
"executors"; the north_rule says *multi-executor cluster at two cluster
sizes*. This script gets as close as one host allows: a real Spark
standalone master + E separate WORKER JVMs, each hosting one executor
JVM (spark.executor.cores=4), driven by the actual
``spark-submit --py-files my_ocr_spark.zip`` artifact — so task dispatch,
Arrow batches, python-worker pools and shuffle blocks all cross real
process boundaries, exactly as on a multi-machine cluster.

Levels: E=2 workers (N = 8 cores) vs E=8 workers (4N = 32 cores), same
input (amplified CC-style corpus, same as the local ladder). Timed:
  * extraction — the flagship narrow stage the north_rule grades;
  * latest-snapshot dedup — one url-hash shuffle, so cross-JVM netty
    shuffle is exercised and measured too.
Efficiency = (docs/s at 4N) / (docs/s at N) / 4, with the same paired
Spark-free host-ceiling probes as the local ladder (on one host, 4N
still shares the same silicon; on a real cluster the ceiling is ~1.0).

Usage: python scripts/bench_cluster.py [sf_dir] [copies] [ladders]
Writes one JSON line per measurement and a summary to stdout; the
caller records the table in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import socket
import subprocess
import sys
import tempfile
import time
import urllib.request

# repo root derived from this file's location, not hardcoded, so the
# script (and the test that imports it) works from any checkout
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "scripts"))

from bench_scaling import host_cpu_ceiling  # noqa: E402
from my_ocr_spark.session import ARROW_MAX_BYTES_PER_BATCH  # noqa: E402

SPARK_HOME = os.environ.get("SPARK_HOME", "/opt/spark")
SPARK_CLASS = os.path.join(SPARK_HOME, "bin", "spark-class")
SPARK_SUBMIT = os.path.join(SPARK_HOME, "bin", "spark-submit")
MASTER_HOST = "127.0.0.1"
MASTER_PORT = 7077
MASTER_UI = 4090


def _port_open(host: str, port: int) -> bool:
    with socket.socket() as s:
        s.settimeout(0.5)
        return s.connect_ex((host, port)) == 0

# The job imports my_ocr_spark ONLY from the --py-files zip (PYTHONPATH is
# stripped); corpus amplification is inlined (bench.py isn't in the zip).
# The extraction and shuffle metrics are SEPARATE spark-submit apps:
# whichever runs second in a shared app inherits the first's executor
# state and reads 1.7-20x slow (measured both orders — a 1.5 s shuffle
# read 28-30 s after extraction; extraction read 36k docs/s after the
# persist+shuffle job vs 62-64k in fresh JVMs). Fresh executors per
# metric is the only clean protocol; executors die with the app.
_JOB = r"""
import json, sys, time
from pyspark.sql import SparkSession, functions as F
sf_dir, copies, mode = sys.argv[1], int(sys.argv[2]), sys.argv[4]
spark = SparkSession.builder.getOrCreate()
from my_ocr_spark.plans.flagship import synthesize_cc_docs
from my_ocr_spark.operators.extract import extract_docs, latest_snapshot
total_cores = spark.sparkContext.defaultParallelism
cc = synthesize_cc_docs(spark, sf_dir, partitions=total_cores * 4)
corpus = (cc.withColumn("copy", F.explode(F.sequence(F.lit(0),
                                                     F.lit(copies - 1))))
            .withColumn("url", F.concat("url", F.lit("?v="),
                                        F.col("copy").cast("string")))
            .drop("copy"))
out = {"executors": int(sys.argv[3])}
if mode == "extract":
    n_docs, n_bytes = corpus.select(
        F.count("*"), F.sum(F.octet_length("html"))).collect()[0]
    # warm-up must touch EVERY partition (python worker pools spawn per
    # executor; a limit() slice would leave 4N-1 cold spawns in the timing)
    extract_docs(corpus.filter(
        F.pmod(F.xxhash64("url"), F.lit(50)) == 0)).count()
    t0 = time.perf_counter()
    assert extract_docs(corpus).count() == n_docs
    wall = time.perf_counter() - t0
    out.update({"n_docs": int(n_docs), "mb": n_bytes / 1e6,
                "wall_sec": wall, "docs_per_sec": n_docs / wall,
                "mb_per_sec": n_bytes / 1e6 / wall})
else:
    # one real shuffle across executor JVMs: latest-snapshot dedup on
    # narrow columns (html consumed into octet_length, never shuffled).
    # persist + materialize OUTSIDE the timed window — an unpersisted
    # plan re-runs synthesis inside the timing (CLAUDE.md invariant 4).
    narrow = corpus.select("url", "warc_ts", "lang",
                           F.octet_length("html").alias("nb")).persist()
    n_docs = narrow.count()
    latest_snapshot(narrow.limit(1000)).count()  # JVM-path warm-up
    walls = []
    for _ in range(2):
        t1 = time.perf_counter()
        n_dedup = latest_snapshot(narrow).count()
        walls.append(time.perf_counter() - t1)
    shuffle_wall = min(walls)
    out.update({"n_docs": int(n_docs),
                "shuffle_wall_sec": shuffle_wall,
                "shuffle_rows_per_sec": n_docs / shuffle_wall,
                "n_dedup": int(n_dedup)})
print(json.dumps(out), flush=True)
try:
    spark.stop()
except Exception:
    pass
"""


def _clean_env() -> dict:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["SPARK_LOCAL_IP"] = MASTER_HOST
    # bounded GC threads per JVM: 9+ JVMs x default GC threads thrash a
    # 32-core host (CLAUDE.md invariant 5 / fat-page ladder finding)
    env["SPARK_DAEMON_JAVA_OPTS"] = "-XX:ParallelGCThreads=4"
    return env


class Cluster:
    """A standalone master + E worker JVMs on localhost, one executor
    per worker. Each Popen pid IS the java process (spark-class execs).
    Ports are parameterized so the pytest e2e (tests/test_sources.py)
    can run beside a live bench ladder."""

    def __init__(self, n_workers: int, work_root: str,
                 master_port: int = MASTER_PORT, ui_port: int = MASTER_UI,
                 cores_per_worker: int = 4, memory: str = "6g",
                 pin_cpus: bool = False):
        self.n_workers = n_workers
        self.work_root = work_root
        self.master_port = master_port
        self.ui_port = ui_port
        self.cores_per_worker = cores_per_worker
        self.memory = memory
        # pin_cpus: taskset each worker JVM onto its own disjoint
        # cores_per_worker-wide cpuset. The executor JVM and its python
        # workers INHERIT the affinity mask, so a "4-core worker" truly
        # owns 4 cores — the faithful one-host stand-in for a 4-core
        # machine. Without pinning, each worker's JVM producer threads
        # (synthesis codegen, Arrow serialization) overlap its python
        # consumers across ~2x its nominal cores, inflating the small
        # level and starving the large one (measured: 2-worker level at
        # 24k docs/s vs local[8]'s ~13k, then 2->8 efficiency 0.25).
        self.pin_cpus = pin_cpus
        self.procs: list[subprocess.Popen] = []

    @property
    def master_url(self) -> str:
        return f"spark://{MASTER_HOST}:{self.master_port}"

    def __enter__(self):
        env = _clean_env()
        logdir = os.path.join(self.work_root, "logs")
        os.makedirs(logdir, exist_ok=True)
        self._log = open(os.path.join(logdir, "daemons.log"), "ab")
        self.procs.append(subprocess.Popen(
            [SPARK_CLASS, "org.apache.spark.deploy.master.Master",
             "--host", MASTER_HOST, "--port", str(self.master_port),
             "--webui-port", str(self.ui_port)],
            stdout=self._log, stderr=self._log, env=env))
        deadline = time.time() + 60
        while not _port_open(MASTER_HOST, self.master_port):
            if time.time() > deadline:
                raise RuntimeError(
                    f"master did not bind :{self.master_port}")
            time.sleep(0.5)
        for i in range(self.n_workers):
            wdir = os.path.join(self.work_root, f"worker{i}")
            os.makedirs(wdir, exist_ok=True)
            wenv = dict(env, SPARK_WORKER_DIR=wdir)
            cmd = [SPARK_CLASS, "org.apache.spark.deploy.worker.Worker",
                   self.master_url,
                   "--cores", str(self.cores_per_worker),
                   "--memory", self.memory,
                   "--webui-port", str(self.ui_port + 10 + i),
                   "--work-dir", wdir]
            if self.pin_cpus:
                lo = i * self.cores_per_worker
                cmd = ["taskset", "-c",
                       f"{lo}-{lo + self.cores_per_worker - 1}"] + cmd
            self.procs.append(subprocess.Popen(
                cmd, stdout=self._log, stderr=self._log, env=wenv))
        self._wait_workers()
        return self

    def _wait_workers(self):
        deadline = time.time() + 120
        url = f"http://{MASTER_HOST}:{self.ui_port}/json/"
        while time.time() < deadline:
            try:
                with urllib.request.urlopen(url, timeout=5) as r:
                    state = json.load(r)
                alive = [w for w in state.get("workers", [])
                         if w.get("state") == "ALIVE"]
                if len(alive) >= self.n_workers:
                    return
            except Exception:
                pass
            time.sleep(1)
        raise RuntimeError(f"{self.n_workers} workers not ALIVE in 120s")

    def __exit__(self, *exc):
        for p in reversed(self.procs):
            p.terminate()
        for p in self.procs:
            try:
                p.wait(timeout=20)
            except subprocess.TimeoutExpired:
                p.kill()
        self._log.close()
        # master needs a beat to release its port for the next level
        deadline = time.time() + 30
        while (_port_open(MASTER_HOST, self.master_port)
               and time.time() < deadline):
            time.sleep(0.5)


def _submit(c: Cluster, n_workers: int, sf_dir: str, copies: int,
            zip_path: str, tmp: str, mode: str) -> dict:
    job = os.path.join(tmp, "job.py")
    with open(job, "w") as f:
        f.write(_JOB)
    p = subprocess.run(
        [SPARK_SUBMIT, "--master", c.master_url,
         "--conf", "spark.executor.cores=4",
         "--conf", "spark.executor.memory=4g",
         "--conf", f"spark.cores.max={4 * n_workers}",
         "--conf", f"spark.sql.shuffle.partitions={4 * n_workers}",
         "--conf", "spark.ui.enabled=false",
         # Each executor JVM sizes GC/JIT/netty pools by VISIBLE host
         # cores (32) — 8 such JVMs on one host oversubscribe 8x.
         # ActiveProcessorCount=4 makes each executor size itself to
         # its real share, exactly as it would on its own machine.
         "--conf", "spark.executor.extraJavaOptions="
                   "-XX:ActiveProcessorCount=4 "
                   "-XX:ParallelGCThreads=4",
         # match the tuned session defaults the local ladder gets via
         # get_spark (the job builds a bare session so submit-time
         # conf wins — session.py precedence note)
         "--conf", "spark.sql.execution.arrow.maxBytesPerBatch="
                   f"{ARROW_MAX_BYTES_PER_BATCH}",
         "--conf", "spark.sql.adaptive.enabled=true",
         # the dedup-shuffle metric moves ~100 MB of narrow rows;
         # default 64 MB advisory size would coalesce it to ~2
         # post-shuffle partitions and serialize the window sort
         # (measured: 12-34 s vs 4 s) — at real scale partitions
         # are GBs and coalescing is right, here it hides scaling
         "--conf", "spark.sql.adaptive.advisoryPartitionSizeInBytes=8m",
         "--py-files", zip_path,
         job, sf_dir, str(copies), str(n_workers), mode],
        capture_output=True, text=True, timeout=1800, cwd=tmp,
        env=_clean_env())
    for line in reversed(p.stdout.strip().splitlines()):
        try:
            parsed = json.loads(line)
        except ValueError:
            continue
        if isinstance(parsed, dict) and ("wall_sec" in parsed
                                         or "shuffle_wall_sec" in parsed):
            return parsed
    raise RuntimeError(f"{n_workers} workers/{mode}: no measurement "
                       f"(rc={p.returncode}); stderr: {p.stderr[-2000:]}")


def run_level(n_workers: int, sf_dir: str, copies: int,
              zip_path: str, tmp: str, pin_cpus: bool = True) -> dict:
    with Cluster(n_workers, os.path.join(tmp, f"cluster{n_workers}"),
                 pin_cpus=pin_cpus) as c:
        ext = _submit(c, n_workers, sf_dir, copies, zip_path, tmp,
                      "extract")
        sh = _submit(c, n_workers, sf_dir, copies, zip_path, tmp,
                     "shuffle")
    return {**ext, **{k: v for k, v in sh.items() if k != "n_docs"}}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    copies = int(sys.argv[2]) if len(sys.argv) > 2 else 400
    ladders = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    pin = (sys.argv[4] != "nopin") if len(sys.argv) > 4 else True

    from make_pyfiles import build
    tmp = tempfile.mkdtemp(prefix="sparkcluster-")
    zip_path = build(tmp)
    runs, probes = [], []
    try:
        for _ in range(ladders):
            probes.append(host_cpu_ceiling())
            ladder = {e: run_level(e, sf_dir, copies, zip_path, tmp,
                                   pin_cpus=pin)
                      for e in (2, 8)}
            for e, m in ladder.items():
                print(json.dumps({"workers": e, **m}), flush=True)
            runs.append(ladder)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    import statistics
    effs = sorted((r[8]["docs_per_sec"] / r[2]["docs_per_sec"]) / 4.0
                  for r in runs)
    sh_effs = sorted(
        (r[8]["shuffle_rows_per_sec"] / r[2]["shuffle_rows_per_sec"]) / 4.0
        for r in runs)
    ceiling = statistics.median(p["ceiling_8_32"] for p in probes)
    eff = statistics.median(effs)
    summary = {
        "protocol": "standalone cluster, 2 vs 8 executor JVMs x 4 cores"
                    + (", cpuset-pinned" if pin else ", unpinned"),
        "efficiency_2_8_executors": round(eff, 4),
        "all_ladder_efficiencies": [round(e, 4) for e in effs],
        "shuffle_efficiency_2_8": round(statistics.median(sh_effs), 4),
        "host_ceiling_8_32": round(ceiling, 4),
        "normalized_efficiency": round(eff / ceiling, 4) if ceiling else None,
        "levels": {str(e): runs[len(runs) // 2][e] for e in (2, 8)},
    }
    print(json.dumps(summary), flush=True)


if __name__ == "__main__":
    main()
