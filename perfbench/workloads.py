"""The benchmark's workloads, run against the package's public API.

Each workload is a closed loop from one process: a job starts when the
previous one has finished. A run is

1. generate the seeded inputs (untimed);
2. probe single-core kernel speed (host-noise record);
3. set up a session several times (``setup_s`` is the median);
4. an untimed warm-up, so the timed passes run on a warm JVM: one pass
   of the timed job (commit_thin) or the checked pass (registry);
5. timed passes until ``seconds`` have elapsed (at least one), each job
   followed by cache hygiene: persisted RDDs are counted, released, and
   the store must then be empty;
6. output checks, a second kernel probe, and, traced, the extra prefix
   pipelines that split the job into layers.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import subprocess
import threading
import time
import zlib
from contextlib import contextmanager

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from my_ocr_spark.operators.dedup import exact_dup_groups
from my_ocr_spark.operators.extract import extract_docs, latest_snapshot
from my_ocr_spark.operators.lineage import (read_lineage_manifests,
                                            write_with_lineage)
from my_ocr_spark.session import get_spark
from my_ocr_spark.sources.catalog import read_table

from perfbench import checks, inputs
from perfbench.measure import (RssSampler, SparkCounters, Tracer,
                               add_counts, descendants, kernel_probe,
                               wait_gone)

# bench.py's headline queries, in its order
HEADLINE = [
    "pricing_summary", "top_revenue_nation", "sessionize_events",
    "iou_theta_join_match", "hmean_per_image", "topk_per_group",
    "ngram_jaccard_dups", "embedding_cosine_topk",
    "minhash_lsh_candidates", "pdf_reading_order", "interval_range_join",
    "semantic_dedup_keep", "duplicate_span_pairs",
    "gopher_repetition_filters", "curation_mix_report",
    "db_decode_boundaries",
]
# the ones a timed registry pass runs: aggregation, AQE join, LSH dedup
# with its band-row cache, geometry pandas stage, range join. The other
# eleven are timed in the traced run only, so that a run fits the time
# the whole benchmark is given; semantic_dedup_keep's and
# db_decode_boundaries' DuckDB oracles alone take 15 s and 6 s a seed.
TIMED = [
    "pricing_summary", "top_revenue_nation", "minhash_lsh_candidates",
    "pdf_reading_order", "interval_range_join",
]

# input sizes (see BENCHMARK.json's workload notes and perfbench/LAYERS.md)
THIN_URLS = 4_000
REGISTRY_SF = 0.01
SETUPS = 3
BUCKETS = 2
RESUME_DELETES = 1
# back-to-back runs of each registry query in a pass; its median counts
QUERY_REPS = 3
EXTRACT_COLS = ["url", "warc_ts", "html", "lang"]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity_arrow(df):
    """The extraction stage's Arrow hand-off with no kernel: the same
    input columns through mapInArrow, unchanged."""
    def run(batches):
        yield from batches

    return df.select(*EXTRACT_COLS).mapInArrow(run, df.select(
        *EXTRACT_COLS).schema)


def _batch_census(df) -> list:
    """(rows, bytes) of every Arrow batch the extraction stage receives."""
    def run(batches):
        import pyarrow as pa
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {"rows": [b.num_rows], "nbytes": [b.nbytes]})

    return df.select(*EXTRACT_COLS).mapInArrow(
        run, "rows long, nbytes long").collect()


def _fold():
    return F.expr("bit_xor(xxhash64(url, text))")


def _dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 1e6


class Run:
    """One benchmark run: session, counters, memory sampler, tracer and
    the tallies every job adds to."""

    def __init__(self, seed: int, seconds: float, trace: bool,
                 work_dir: str, repo_root: str, sampler: RssSampler):
        self.seed, self.seconds = seed, seconds
        self.trace = trace
        self.work_dir, self.repo_root = work_dir, repo_root
        self.cores = len(os.sched_getaffinity(0))
        self.master = f"local[{self.cores}]"
        self.tracer = Tracer(trace)
        self.sampler = sampler
        self.spark = None
        self.counters: SparkCounters | None = None
        self.walls: dict[str, list[float]] = {}
        self.pass_walls: list[float] = []
        self.pass_job_s = 0.0
        self.pass_spans: list[int] = []
        self.spark_totals: dict[str, float] = {}
        self.cached_left = 0
        self.warming = False
        self.attempted = 0
        self.failures: list[str] = []
        self.layer: dict[str, float] = {}
        self.info: dict = {"master": self.master}

    # ------------------------------------------------------------ plumbing

    @contextmanager
    def phase(self, name: str):
        """Wall time of a run phase, reported on stderr only."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.info.setdefault("phase_s", {})[name] = round(
                time.perf_counter() - t0, 2)

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append(what)
        return ok

    def job(self, name: str, fn, timed: bool = True):
        """One workload job: wall time, Spark counters, cache hygiene.
        Returns (ok, wall, result, counters)."""
        self.attempted += 1
        self.counters.delta()
        t0 = time.perf_counter()
        ok, out = True, None
        try:
            with self.tracer.span(name, job=name):
                out = fn()
        except Exception as exc:  # a failed job is a result, not a crash
            ok = False
            self.failures.append(f"{name}: {exc!r}"[:400])
        wall = time.perf_counter() - t0
        d = self.counters.delta()
        left = self.counters.release_cache()
        if not self.check(self.counters.cached_rdds() == 0,
                          f"{name}: cache not empty after release"):
            ok = False
        if timed and not self.warming:
            self.pass_job_s += wall
            self.walls.setdefault(name, []).append(wall)
            add_counts(self.spark_totals, d)
            self.cached_left = max(self.cached_left, left)
        return ok, wall, out, d

    def setup(self) -> None:
        """``SETUPS`` session set-ups: get_spark plus one Python task per
        core. The first also launches the JVM."""
        starts, warms = [], []
        t_setup = time.perf_counter()
        for i in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            with self.tracer.span("session.start"):
                t0 = time.perf_counter()
                self.spark = get_spark(master=self.master)
                t1 = time.perf_counter()
            self.spark.sparkContext.setLogLevel("ERROR")
            with self.tracer.span("session.worker_warm"):
                self.spark.range(0, 32 * self.cores, 1, self.cores) \
                    .mapInArrow(lambda it: it, "id long").count()
            t2 = time.perf_counter()
            starts.append(t1 - t0)
            warms.append(t2 - t1)
        total = [a + b for a, b in zip(starts, warms)]
        self.info.setdefault("phase_s", {})["setup"] = round(
            time.perf_counter() - t_setup, 2)
        self.setup_s = statistics.median(total)
        self.layer["session.cold_start_s"] = total[0]
        self.layer["session.start_s"] = statistics.median(starts)
        self.layer["session.worker_warm_s"] = statistics.median(warms)
        self.counters = SparkCounters(self.spark)
        self.sampler.reset()

    def stop(self) -> None:
        """Stop Spark, close the JVM and wait until it and every Python
        worker it started have exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        children = descendants(os.getpid())
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        wait_gone(children)

    def timed_passes(self, one_pass, warm: bool = True) -> None:
        """An untimed warm-up pass (unless the caller has warmed up),
        then a closed loop of passes until ``seconds`` have elapsed. A
        pass's wall is the sum of its jobs' walls (bookkeeping between
        jobs is not counted). Peak memory is taken over the warm-up and
        the timed passes."""
        if warm:
            with self.phase("warm"):
                self.warming = True
                with self.tracer.span("warm"):
                    one_pass()
                self.warming = False
        t_start = time.perf_counter()
        t_end = t_start + self.seconds
        i = 0
        while i == 0 or time.perf_counter() < t_end:
            self.pass_job_s = 0.0
            n_spans = len(self.tracer.spans)
            with self.tracer.span("pass"):
                one_pass()
            self.pass_walls.append(self.pass_job_s)
            self.pass_spans.append(len(self.tracer.spans) - n_spans)
            i += 1
        self.peak_py_rss_mb = self.sampler.peak_mb
        self.layer["jvm.peak_rss_mb"] = self.sampler.jvm_peak_mb
        self.layer["py_worker.peak_rss_mb"] = self.sampler.worker_hwm_mb
        self.info.setdefault("phase_s", {})["timed"] = round(
            time.perf_counter() - t_start, 2)

    def probe(self, pages) -> None:
        r = kernel_probe(*pages)
        for k, v in r.items():
            self.layer.setdefault(f"kernel.{k}_1core", []).append(v)

    # ------------------------------------------------------------- results

    def job_s(self) -> float:
        """The wall of one pass with every job taken at its median over
        the timed runs of that job."""
        return sum(statistics.median(v) for v in self.walls.values())

    def result(self, n_docs: int, input_mb: float) -> dict:
        job_s = self.job_s()
        job_medians = [statistics.median(v) for v in self.walls.values()]
        e2e = {
            "setup_s": self.setup_s,
            "job_s": job_s,
            "query_geomean_s": math.exp(statistics.fmean(
                math.log(w) for w in job_medians)),
            "docs_per_s": n_docs / job_s,
            "mb_per_s": input_mb / job_s,
            "peak_py_rss_mb": self.peak_py_rss_mb,
        }
        self.info.update(passes=len(self.pass_walls),
                         pass_s=[round(w, 3) for w in self.pass_walls],
                         job_walls_s={k: [round(w, 3) for w in v]
                                      for k, v in self.walls.items()},
                         n_docs=n_docs,
                         input_mb=input_mb, failures=self.failures[:20])
        return e2e

    def layer_metrics(self, names: list[str]) -> dict[str, float]:
        # Spark counters per execution of the workload's job set
        n = max(1, statistics.median_low(
            [len(v) for v in self.walls.values()] or [1]))
        t = self.spark_totals
        self.layer.update({
            "spark.jobs": t.get("jobs", 0) / n,
            "spark.stages": t.get("stages", 0) / n,
            "spark.tasks": t.get("tasks", 0) / n,
            "spark.tasks_failed": t.get("tasks_failed", 0) / n,
            "spark.shuffle_read_mb": t.get("shuffle_read_mb", 0.0) / n,
            "spark.shuffle_write_mb": t.get("shuffle_write_mb", 0.0) / n,
            "spark.gc_s": t.get("gc_s", 0.0) / n,
            "spark.executor_run_s": t.get("run_s", 0.0) / n,
            "spark.executor_cpu_s": t.get("cpu_s", 0.0) / n,
            "spark.peak_exec_mem_mb": t.get("peak_exec_mem_mb", 0.0),
            "spark.cached_rdds_left": self.cached_left,
        })
        # the traced run's job_s, to set against the untraced run's; and
        # the tracer's own cost per pass (spans recorded x cost per span)
        self.layer["trace.job_s"] = self.job_s()
        self.layer["trace.span_cost_s"] = (statistics.median(self.pass_spans)
                                           * self.tracer.cost_per_span())
        out = {}
        for name in names:
            v = self.layer.get(name, 0.0)
            out[name] = float(statistics.fmean(v) if isinstance(v, list)
                              else v)
        return out


def _median_job(run: Run, name: str, fn, reps: int = 2):
    """Median wall of ``reps`` untimed runs of a job, and the last run's
    Spark counters."""
    walls, last = [], None
    for _ in range(reps):
        _, wall, _, last = run.job(name, fn, timed=False)
        walls.append(wall)
    return statistics.median(walls), last


def _extract_layers(run: Run, path: str, docs) -> None:
    """Prefix pipelines: scan → noop; + latest_snapshot; + identity
    mapInArrow; + extract_docs. Each layer's time is the difference to
    the shorter prefix."""
    def snap():
        return latest_snapshot(docs())

    scan_s, d = _median_job(
        run, "prefix.scan", lambda: _noop(docs().select(*EXTRACT_COLS)))
    run.layer["sources.scan_s"] = scan_s
    run.layer["sources.scan_mb"] = _dir_mb(path)
    run.layer["sources.scan_tasks"] = d["tasks"]
    snap_s, d = _median_job(run, "prefix.latest_snapshot",
                            lambda: _noop(snap()))
    run.layer["extract.latest_snapshot_s"] = snap_s - scan_s
    run.layer["extract.latest_snapshot.shuffle_mb"] = d["shuffle_write_mb"]
    _, _, n_in, _ = run.job("count.scan", lambda: docs().count(),
                            timed=False)
    _, _, n_out, _ = run.job("count.latest_snapshot",
                             lambda: snap().count(), timed=False)
    run.layer["extract.latest_snapshot.rows_in"] = n_in or 0
    run.layer["extract.latest_snapshot.rows_out"] = n_out or 0
    arrow_s, _ = _median_job(run, "prefix.arrow",
                             lambda: _noop(_identity_arrow(snap())))
    ext_s, d = _median_job(run, "prefix.extract",
                           lambda: _noop(extract_docs(snap())))
    run.layer["extract.arrow_s"] = arrow_s - snap_s
    run.layer["extract.kernel_s"] = ext_s - arrow_s
    run.layer["extract.core_busy_frac"] = d["run_s"] / (ext_s * run.cores)
    ok, _, census, _ = run.job("census.arrow_batches",
                               lambda: _batch_census(snap()), timed=False)
    if ok:
        run.layer["extract.batches"] = len(census)
        run.layer["extract.max_batch_mb"] = max(
            (r["nbytes"] for r in census), default=0) / 1e6


# ----------------------------------------------------------- commit_thin

def commit_thin(run: Run, gen_sf):
    with run.phase("generate"):
        pages = inputs.thin_pages(os.path.join(run.work_dir, "thin"),
                                  run.seed, gen_sf.VOCAB, THIN_URLS)
    probe = inputs.probe_pages(gen_sf.VOCAB)
    run.probe(probe)
    run.setup()
    spark = run.spark
    first_commit: list[dict] = []
    n_pass = [0]

    def docs():
        with run.tracer.span("sources.read_table"):
            return read_table(spark, pages.path)

    def dag():
        """The CLI extract DAG up to its lineage write."""
        with run.tracer.span("operators.latest_snapshot"):
            snap = latest_snapshot(docs())
        with run.tracer.span("operators.extract_docs"):
            ext = extract_docs(snap)
        return ext.sortWithinPartitions("url")

    def one_pass():
        out = os.path.join(run.work_dir, f"out-{n_pass[0]}")
        n_pass[0] += 1
        ok, _, stats, d = run.job(
            "lineage.commit",
            lambda: write_with_lineage(dag(), out, n_buckets=BUCKETS,
                                       resume=False))
        if not ok:
            return
        run.layer["lineage.spark_jobs"] = d["jobs"]
        run.layer["lineage.buckets_written"] = len(stats["written"])
        run.layer["lineage.bytes_written_mb"] = _dir_mb(out)
        # a manifest holds its bucket's count, bytes and XOR-fold of
        # xxhash64(url, text): equal manifests are equal folds
        committed = read_lineage_manifests(out)
        if not first_commit:
            first_commit.extend(committed)
        else:
            run.check(committed == first_commit,
                      "commit_thin: manifests differ across repetitions")
        ok = False
        if not run.warming:
            # the warm-up pass skips the resume, which runs the same
            # code as the commit
            gone = _delete_manifests(out, run.seed + n_pass[0])
            ok, _, stats, _ = run.job(
                "lineage.resume",
                lambda: write_with_lineage(dag(), out, n_buckets=BUCKETS,
                                           resume=True))
        if ok:
            run.check(stats["written"] == gone,
                      f"resume rewrote {stats['written']} not {gone}")
            # the resumed buckets' manifests (data count, bytes and
            # checksum) match the commit's, and the check below ties
            # every manifest to the data on disk
            run.check(read_lineage_manifests(out) == committed,
                      "resume changed the committed manifests")
            _check_commit(run, spark, pages, out)

        def dedup():
            with run.tracer.span("operators.exact_dup_groups"):
                g = exact_dup_groups(read_table(spark, out), "url", "text")
            return g.agg(F.count("*").alias("groups"),
                         F.sum("n_dups").alias("docs")).collect()[0]
        ok, _, r, _ = run.job("dedup.exact", dedup)
        if ok:
            run.check(r["docs"] == pages.n_urls,
                      f"dedup counted {r['docs']} docs")
            run.check(r["groups"] < pages.n_urls,
                      "dedup found no duplicate texts")
        shutil.rmtree(out, ignore_errors=True)

    run.timed_passes(one_pass)
    median = {k: statistics.median(v) for k, v in run.walls.items()}
    run.layer["lineage.resume_s"] = median.get("lineage.resume", 0.0)
    run.layer["dedup.exact_s"] = median.get("dedup.exact", 0.0)
    if run.trace:
        _extract_layers(run, pages.path, docs)
        sort_s, _ = _median_job(run, "prefix.sort",
                                lambda: _noop(dag()))
        run.layer["lineage.write_s"] = (
            median.get("lineage.commit", 0.0) - sort_s)
    run.probe(probe)
    return run.result(pages.n_urls, pages.html_bytes / 1e6)


def _delete_manifests(out: str, salt: int) -> list[int]:
    picked = sorted(sorted(range(BUCKETS),
                           key=lambda b: zlib.crc32(f"{salt}:{b}".encode()))
                    [:RESUME_DELETES])
    for b in picked:
        os.remove(os.path.join(out, "_lineage", f"bucket={b}.json"))
    return picked


def _check_commit(run: Run, spark, pages, out: str) -> None:
    """Manifests agree with lineage_rows-style aggregates (count, text
    bytes, xxhash64 XOR-fold) per bucket of the re-read output; the row
    count equals the distinct urls; a sample matches the kernel run in
    this process."""
    manifests = {m["bucket"]: m for m in read_lineage_manifests(out)}
    if not run.check(sorted(manifests) == list(range(BUCKETS)),
                     f"manifests {sorted(manifests)}"):
        return
    back = read_table(spark, out)
    per_bucket = back.groupBy("_bucket").agg(
        F.count("*").alias("doc_count"),
        F.sum(F.octet_length("text")).alias("byte_count"),
        _fold().alias("checksum")).collect()
    got = sorted((r["doc_count"], r["byte_count"] or 0, r["checksum"])
                 for r in per_bucket)
    want = sorted((m["doc_count"], m["byte_count"], m["checksum"])
                  for m in manifests.values())
    run.check(got == want, "manifests disagree with the re-read output")
    r = back.agg(F.count("*").alias("n"),
                 F.collect_list(F.when(
                     F.col("url").isin(pages.sample_urls),
                     F.struct("url", "title", "text"))).alias("sample")
                 ).collect()[0]
    run.check(r["n"] == pages.n_urls,
              f"commit wrote {r['n']} rows for {pages.n_urls} urls")
    run.check(len(r["sample"]) == len(pages.sample_urls),
              "commit: sample rows missing")
    bad = checks.sample_mismatches(r["sample"], pages.latest_html)
    run.check(not bad, f"commit: in-process re-extraction differs {bad}")


# ----------------------------------------------------- registry_headline

def registry_headline(run: Run, gen_sf):
    import __spark_entry__ as E

    with run.phase("generate"):
        sf = inputs.sf_dir(gen_sf, os.path.join(run.work_dir, "sf"),
                           run.seed, REGISTRY_SF)
    qs, oracles = E.queries(), E.oracle_sql()
    # the cached oracle is valid while the seed, the generator, the
    # oracle texts and the digest code are unchanged
    sources = []
    for path in (os.path.join(run.repo_root, "scripts", "gen_sf.py"),
                 checks.__file__):
        with open(path) as f:
            sources.append(f.read())
    key = "\n".join([f"sf={REGISTRY_SF} seed={run.seed}", *sources]
                    + [oracles[n] for n in TIMED])
    cache = os.path.join(os.path.dirname(run.work_dir),
                         f"oracle-sf{REGISTRY_SF}-seed{run.seed}.json")
    probe = inputs.probe_pages(gen_sf.VOCAB)
    run.probe(probe)
    run.setup()
    spark = run.spark

    # the DuckDB oracle runs beside the untimed check pass, which is
    # also the pass that warms the JVM and the workers
    want: dict = {}

    def oracle():
        try:
            want.update(checks.oracle_digests(sf, TIMED, oracles,
                                              cache, key))
        except Exception as exc:  # reported as a failed check below
            want["error"] = repr(exc)

    with run.phase("check"):
        duck = threading.Thread(target=oracle)
        duck.start()
        got = {}
        for name in TIMED:
            ok, _, pdf, _ = run.job(f"check.{name}",
                                    lambda: qs[name](spark, sf).toPandas(),
                                    timed=False)
            if ok:
                got[name] = checks.digest(pdf)
        duck.join()
    run.check("error" not in want, f"oracle: {want.get('error')}")
    for name, digest in got.items():
        run.check(digest == want.get(name),
                  f"{name}: {digest} != oracle {want.get(name)}")

    def one_pass():
        for name in TIMED:
            def fn():
                with run.tracer.span(f"plans.{name}.build"):
                    df = qs[name](spark, sf)
                _noop(df)
            for _ in range(QUERY_REPS):
                run.job(f"plans.{name}", fn)

    # the checked pass has warmed every query up
    run.timed_passes(one_pass, warm=False)
    for name in TIMED:
        run.layer[f"plans.{name}.noop_s"] = statistics.median(
            run.walls.get(f"plans.{name}", [0.0]))
    if run.trace:
        # the untimed headline queries: the second of two runs, so the
        # first-run warm-up is not in the figure
        for name in HEADLINE:
            if name not in TIMED:
                for _ in range(2):
                    _, wall, _, _ = run.job(
                        f"untimed.{name}",
                        lambda: _noop(qs[name](spark, sf)), timed=False)
                run.layer[f"plans.{name}.noop_s"] = wall
        for name in HEADLINE:
            _, wall, _, _ = run.job(f"count.{name}",
                                    lambda: qs[name](spark, sf).count(),
                                    timed=False)
            run.layer[f"plans.{name}.count_s"] = wall
        tables = [os.path.join(sf, f"{t}.parquet") for t in checks.SF_TABLES]
        _, scan_s, _, d = run.job("prefix.scan", lambda: [
            _noop(read_table(spark, t)) for t in tables], timed=False)
        run.layer["sources.scan_s"] = scan_s
        run.layer["sources.scan_mb"] = _dir_mb(sf)
        run.layer["sources.scan_tasks"] = d["tasks"]
    run.probe(probe)
    n_docs = pq.ParquetFile(os.path.join(sf, "documents.parquet")) \
        .metadata.num_rows
    return run.result(n_docs, _dir_mb(sf))


WORKLOADS = {
    "commit_thin": commit_thin,
    "registry_headline": registry_headline,
}
