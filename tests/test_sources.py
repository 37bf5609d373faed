"""Loader/parser sources: positional split, quarantine, jsonl."""

import pytest

import pyspark.sql.functions as F
from pyspark.sql import types as T

from my_ocr_spark.sources import (
    load_jsonl, load_line_str, read_annotation_lines,
    write_partitioned_by_correctness,
)


def test_load_line_str_projection_and_quarantine(spark, tmp_path):
    p = tmp_path / "labels.txt"
    p.write_text("img1.jpg hello\nimg2.jpg world\nBROKEN\n")
    df = load_line_str(spark, str(p), keys=["filename", "text"],
                       data_root="/data/imgs")
    rows = {r["filename"]: r for r in df.collect()}
    assert rows["/data/imgs/img1.jpg"]["text"] == "hello"
    assert rows["/data/imgs/img1.jpg"]["parse_ok"]
    broken = [r for r in rows.values() if not r["parse_ok"]]
    assert len(broken) == 1  # quarantined, not dropped, never raised


def test_load_line_str_keys_idx(spark, tmp_path):
    p = tmp_path / "ann.txt"
    p.write_text("a b c d\n")
    df = load_line_str(spark, str(p), keys=["first", "fourth"],
                       keys_idx=[0, 3])
    r = df.collect()[0]
    assert (r["first"], r["fourth"]) == ("a", "d")


def test_load_jsonl_required_keys(spark, tmp_path):
    p = tmp_path / "ann.jsonl"
    p.write_text('{"file_name": "x.jpg", "height": 10}\n'
                 '{"file_name": "y.jpg"}\n'
                 'not json at all\n')
    schema = T.StructType([
        T.StructField("file_name", T.StringType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("_corrupt", T.StringType()),
    ])
    df = load_jsonl(spark, str(p), schema, required=["file_name", "height"])
    ok = df.filter("parse_ok").collect()
    assert len(ok) == 1 and ok[0]["file_name"] == "x.jpg"
    assert df.count() == 3  # nothing silently dropped


def test_annotation_lines_and_partitioned_sink(spark, tmp_path):
    p = tmp_path / "lines.txt"
    p.write_text("l1\nl2\n")
    assert read_annotation_lines(spark, str(p)).count() == 2
    df = spark.createDataFrame([("a", True), ("b", False)],
                               ["name", "is_correct"])
    out = str(tmp_path / "sink")
    write_partitioned_by_correctness(df, out)
    back = spark.read.parquet(out)
    # partition dir values read back as strings (no boolean inference)
    assert back.filter(F.col("is_correct") == "true").count() == 1
    assert back.count() == 2


def test_pyfiles_zip_is_importable(tmp_path):
    """spark-submit --py-files artifact: the zip built by
    scripts/make_pyfiles.py must be importable standalone (fresh
    interpreter, zip on sys.path FIRST, repo dir absent)."""
    import subprocess
    import sys

    from scripts.make_pyfiles import REPO, build

    zip_path = build(str(tmp_path))
    code = (
        f"import sys; sys.path.insert(0, {zip_path!r}); "
        f"sys.path = [p for p in sys.path if p not in ('', {REPO!r})]; "
        "import my_ocr_spark.kernel.extract as e; "
        "import my_ocr_spark.kernel.textstats as ts; "
        "r = e.extract_main_text(b'<html><body><p>"
        + "hello world " * 8
        + "</p></body></html>'); "
        "assert r['parse_ok'] and 'hello' in r['text'], r; "
        "assert ts.token_count('a b c') == 3; "
        "print('ZIPOK')"
    )
    out = subprocess.run([sys.executable, "-c", code],
                         capture_output=True, text=True, cwd=str(tmp_path))
    assert out.returncode == 0, out.stderr[-1500:]
    assert "ZIPOK" in out.stdout


def test_spark_submit_pyfiles_end_to_end(spark, docs_df, tmp_path):
    """The north_rule's invocation mode, for real: the actual
    ``spark-submit --py-files my_ocr_spark.zip job.py`` binary runs the
    flagship extraction against a parquet input and its output matches
    the in-process run byte-for-byte (url → md5(text)).

    The job script builds a bare ``SparkSession.builder.getOrCreate()``
    (no master, no configs) so the submit-time ``--master``/``--conf``
    must actually take effect — validating the session-factory
    precedence note (session.py:20-26) in practice: a cluster job
    bypasses the local-default factory and still runs the package.
    Runs with cwd=tmp_path and the repo stripped from PYTHONPATH, so the
    package genuinely serves from the zip."""
    import os
    import shutil
    import subprocess
    import sys

    spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    if not os.path.exists(spark_submit):
        import pytest
        pytest.skip("no spark-submit binary in container")

    from scripts.make_pyfiles import build

    zip_path = build(str(tmp_path))
    src = str(tmp_path / "pages")
    out = str(tmp_path / "extracted")
    docs_df.write.parquet(src)

    job = tmp_path / "job.py"
    job.write_text(
        "import sys\n"
        "from pyspark.sql import SparkSession, functions as F\n"
        "spark = SparkSession.builder.getOrCreate()\n"
        "assert spark.sparkContext.master == 'local[2]', "
        "spark.sparkContext.master\n"
        "from my_ocr_spark.operators.extract import extract_docs, "
        "latest_snapshot\n"
        "docs = spark.read.parquet(sys.argv[1])\n"
        "ex = extract_docs(latest_snapshot(docs))\n"
        "ex.select('url', F.md5('text').alias('h')).write.parquet("
        "sys.argv[2])\n"
        "spark.stop()\n")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    p = subprocess.run(
        [spark_submit, "--master", "local[2]",
         "--conf", "spark.sql.shuffle.partitions=2",
         "--conf", "spark.ui.enabled=false",
         "--py-files", zip_path, str(job), src, out],
        capture_output=True, text=True, timeout=420, cwd=str(tmp_path),
        env=env)
    assert p.returncode == 0, p.stderr[-3000:]

    got = {(r["url"], r["h"]) for r in spark.read.parquet(out).collect()}
    from my_ocr_spark.operators.extract import extract_docs, latest_snapshot
    from pyspark.sql import functions as F
    want = {(r["url"], r["h"])
            for r in extract_docs(latest_snapshot(docs_df))
            .select("url", F.md5("text").alias("h")).collect()}
    assert got == want and len(got) > 0


@pytest.mark.slow
def test_standalone_cluster_end_to_end(spark, docs_df, tmp_path):
    """The north_rule's literal shape, minus the extra machines: a REAL
    standalone master + 2 separate worker JVMs (one executor each), the
    job submitted with ``spark-submit --py-files my_ocr_spark.zip`` —
    so task dispatch, Arrow batches, python workers and the
    latest-snapshot shuffle all cross true process boundaries — and the
    output must match the in-process run byte-for-byte (url → md5(text)).
    scripts/bench_cluster.py uses the same Cluster harness to measure
    scaling at 2 vs 8 executors; this test pins correctness of that
    topology permanently. Ports are picked dynamically (bind :0, then
    release) so it can run beside a live bench ladder or a concurrent
    pytest process without colliding on fixed constants."""
    import os
    import socket
    import subprocess

    if not os.path.exists("/opt/spark/bin/spark-class"):
        import pytest
        pytest.skip("no standalone spark-class scripts in container")

    def _free_ports(n: int) -> list[int]:
        # hold every socket until all are bound: closing one before the
        # next bind lets the OS hand the same port out twice
        socks = [socket.socket() for _ in range(n)]
        try:
            for s in socks:
                s.bind(("127.0.0.1", 0))
            return [s.getsockname()[1] for s in socks]
        finally:
            for s in socks:
                s.close()

    from scripts.bench_cluster import SPARK_SUBMIT, Cluster, _clean_env
    from scripts.make_pyfiles import build

    zip_path = build(str(tmp_path))
    src = str(tmp_path / "pages")
    out = str(tmp_path / "extracted")
    docs_df.write.parquet(src)
    job = tmp_path / "job.py"
    job.write_text(
        "import sys\n"
        "from pyspark.sql import SparkSession, functions as F\n"
        "spark = SparkSession.builder.getOrCreate()\n"
        "assert spark.sparkContext.master.startswith('spark://'), "
        "spark.sparkContext.master\n"
        "from my_ocr_spark.operators.extract import extract_docs, "
        "latest_snapshot\n"
        "docs = spark.read.parquet(sys.argv[1])\n"
        "ex = extract_docs(latest_snapshot(docs))\n"
        "ex.select('url', F.md5('text').alias('h'))"
        ".repartition(4).write.parquet(sys.argv[2])\n"
        "spark.stop()\n")
    master_port, ui_port = _free_ports(2)
    with Cluster(2, str(tmp_path / "cluster"), master_port=master_port,
                 ui_port=ui_port, cores_per_worker=2,
                 memory="2g") as c:
        p = subprocess.run(
            [SPARK_SUBMIT, "--master", c.master_url,
             "--conf", "spark.executor.cores=2",
             "--conf", "spark.executor.memory=1g",
             "--conf", "spark.cores.max=4",
             "--conf", "spark.sql.shuffle.partitions=4",
             "--conf", "spark.ui.enabled=false",
             "--py-files", zip_path, str(job), src, out],
            capture_output=True, text=True, timeout=420,
            cwd=str(tmp_path), env=_clean_env())
    assert p.returncode == 0, p.stderr[-3000:]

    got = {(r["url"], r["h"]) for r in spark.read.parquet(out).collect()}
    from pyspark.sql import functions as F

    from my_ocr_spark.operators.extract import extract_docs, latest_snapshot
    want = {(r["url"], r["h"])
            for r in extract_docs(latest_snapshot(docs_df))
            .select("url", F.md5("text").alias("h")).collect()}
    assert got == want and len(got) > 0
