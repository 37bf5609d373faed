"""Measurement taken from outside the program: spans around calls into
each layer, Spark's own stage counters, process memory from /proc, and
the single-core kernel probe that records host speed in every run."""

from __future__ import annotations

import json
import os
import signal
import threading
import time
from contextlib import contextmanager

class Tracer:
    """Spans (name, start, end, parent, job) kept in memory and written
    out at the end. Disabled, ``span`` only yields."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, job: str = ""):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "job": job,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self._t0, "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def cost_per_span(self, n: int = 20_000) -> float:
        """Seconds one recorded span costs, timed on a scratch tracer."""
        scratch = Tracer(True)
        t0 = time.perf_counter()
        for _ in range(n):
            with scratch.span("x"):
                pass
        return (time.perf_counter() - t0) / n

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name: duration minus the time its
        direct children cover (children of one span never overlap)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()},
                      f, indent=1)


# ---------------------------------------------------------------- memory

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every pid has exited; kill what is left at the end."""
    t_end = time.monotonic() + timeout
    for pid in pids:
        try:
            while True:
                os.kill(pid, 0)
                if time.monotonic() > t_end:
                    os.kill(pid, signal.SIGKILL)
                time.sleep(0.05)
        except ProcessLookupError:
            pass


def _status_kb(pid: int, keys: tuple[str, ...]) -> dict[str, int]:
    out = {}
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                k = line.split(":", 1)[0]
                if k in keys:
                    out[k] = int(line.split()[1])
    except OSError:
        pass
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


class RssSampler:
    """Samples every ``interval`` s the summed VmRSS of this process and
    its Python descendants (the daemon and its workers), the VmRSS of
    the JVM on its own, and the largest VmHWM of any Python worker."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak_mb = 0.0
        self.jvm_peak_mb = 0.0
        self.worker_hwm_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def reset(self) -> None:
        self.peak_mb = 0.0
        self.jvm_peak_mb = 0.0
        self.worker_hwm_mb = 0.0

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.wait(self.interval):
            self.sample(root)

    def sample(self, root: int) -> None:
        kids = _children()
        todo, py_kb, jvm_kb = [(root, False)], 0, 0
        while todo:
            pid, is_worker = todo.pop()
            st = _status_kb(pid, ("VmRSS", "VmHWM"))
            cmd = _cmdline(pid)
            if "java" in cmd.split(" ", 1)[0]:
                jvm_kb += st.get("VmRSS", 0)
            else:
                py_kb += st.get("VmRSS", 0)
            if is_worker:
                self.worker_hwm_mb = max(self.worker_hwm_mb,
                                         st.get("VmHWM", 0) / 1e3)
            # workers are forked by the pyspark.daemon process
            daemon = pid != root and "pyspark.daemon" in cmd
            todo.extend((k, daemon) for k in kids.get(pid, ()))
        self.peak_mb = max(self.peak_mb, py_kb / 1e3)
        self.jvm_peak_mb = max(self.jvm_peak_mb, jvm_kb / 1e3)


# ---------------------------------------------------------- spark counters

class SparkCounters:
    """Per-stage counters from Spark's status store (works with the UI
    disabled). ``delta()`` returns totals over the stages and jobs that
    ran since the previous call; the store lists them newest first."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._empty = jvm.java.util.ArrayList()
        self._quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._last_stage = -1
        self._last_job = -1
        self.delta()

    def _store(self):
        return self.sc._jsc.sc().statusStore()

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def delta(self) -> dict:
        self._drain()
        store = self._store()
        stages = store.stageList(self._empty, False, False,
                                 self._quantiles, self._empty)
        out = {"stages": 0, "tasks": 0, "tasks_failed": 0,
               "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
               "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
               "peak_exec_mem_mb": 0.0}
        last = self._last_stage
        for i in range(stages.size()):
            st = stages.apply(i)
            if st.stageId() <= last:
                break
            self._last_stage = max(self._last_stage, st.stageId())
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["tasks_failed"] += st.numFailedTasks()
            out["run_s"] += st.executorRunTime() / 1e3
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
            out["peak_exec_mem_mb"] = max(out["peak_exec_mem_mb"],
                                          st.peakExecutionMemory() / 1e6)
        jobs = store.jobsList(self._empty)
        out["jobs"] = 0
        last = self._last_job
        for i in range(jobs.size()):
            jid = jobs.apply(i).jobId()
            if jid <= last:
                break
            self._last_job = max(self._last_job, jid)
            out["jobs"] += 1
        return out

    def cached_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def release_cache(self) -> int:
        """Count the persisted RDDs a job left behind, then clear the
        catalog cache and unpersist what it does not cover (RDD-level
        persists and local checkpoints), so the next job starts cold."""
        left = self.cached_rdds()
        self.spark.catalog.clearCache()
        if self.cached_rdds():
            for rdd in self.sc._jsc.getPersistentRDDs().values():
                rdd.unpersist(True)
        return left


def add_counts(total: dict, d: dict) -> None:
    for k, v in d.items():
        if k == "peak_exec_mem_mb":
            total[k] = max(total.get(k, 0.0), v)
        else:
            total[k] = total.get(k, 0) + v


# ------------------------------------------------------------- host probe

def kernel_probe(thin: list[bytes], fat: list[bytes],
                 min_seconds: float = 0.3) -> dict:
    """Single-core ``extract_main_text`` over fixed page samples: docs/s
    on the thin sample, MB/s on the fat one. Host-noise record, not a
    program metric."""
    from my_ocr_spark.kernel.extract import extract_main_text

    def rate(pages: list[bytes]) -> tuple[float, float]:
        n = nbytes = 0
        t0 = time.perf_counter()
        while True:
            for p in pages:
                extract_main_text(p)
            n += len(pages)
            nbytes += sum(len(p) for p in pages)
            dt = time.perf_counter() - t0
            if dt >= min_seconds:
                return n / dt, nbytes / 1e6 / dt

    docs_per_s, _ = rate(thin)
    _, mb_per_s = rate(fat)
    return {"docs_per_s": docs_per_s, "mb_per_s": mb_per_s}
