"""Benchmark entry point.

    python3 perfbench/run.py --workload {commit_thin,registry_headline}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. Generates the workload's inputs from the
seed, runs it on ``local[<cores>]`` with the package's own defaults,
checks every output, and prints as its last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1`` (the traced run
also writes its spans to ``.perfbench_work/spans-<workload>.json``).
Workloads and metrics are listed in BENCHMARK.json; the layer to
end-to-end mapping is in LAYERS.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def main(argv: list[str] | None = None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("my_ocr_spark/__init__.py", "scripts/gen_sf.py",
                 "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            return _fail(f"{need} not found under {ROOT}; run from the "
                         "root of a full checkout")

    work_root = os.path.join(ROOT, ".perfbench_work")
    work_dir = os.path.join(work_root, f"run-{os.getpid()}")
    os.makedirs(work_dir, exist_ok=True)
    # the Python workers import the package from the checkout; Spark's
    # and Python's scratch files stay inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    sys.path.insert(0, ROOT)

    from perfbench import measure, workloads

    gen_sf = workloads.inputs.load_gen_sf(ROOT)
    t0 = time.perf_counter()
    with measure.RssSampler() as sampler:
        run = workloads.Run(args.seed, args.seconds, bool(args.trace),
                            work_dir, ROOT, sampler)
        try:
            e2e = workloads.WORKLOADS[args.workload](run, gen_sf)
        finally:
            run.stop()
            shutil.rmtree(work_dir, ignore_errors=True)
    run.info["run_s"] = round(time.perf_counter() - t0, 2)

    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    if args.trace:
        values = run.layer_metrics([m["name"] for m in names])
        spans = os.path.join(work_root, f"spans-{args.workload}.json")
        run.tracer.write(spans)
        run.info["spans"] = spans
    else:
        values = e2e
    print(json.dumps({"info": run.info}), file=sys.stderr)
    failed = len(run.failures)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]],
                                "unit": m["unit"]} for m in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
