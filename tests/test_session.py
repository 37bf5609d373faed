"""The session's Arrow batch policy: Python stages receive batches bounded
by ``ARROW_MAX_BYTES_PER_BATCH``, whatever the row width. And its Python
worker daemon: local workers import the installed pyspark, not
``$SPARK_HOME``'s archives."""

from __future__ import annotations

import os
import zipfile

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from my_ocr_spark.session import ARROW_MAX_BYTES_PER_BATCH, get_spark
from my_ocr_spark.worker_daemon import without_spark_archives


def _census(df) -> list:
    """(rows, nbytes) of every Arrow batch a mapInArrow stage receives,
    in arrival order (callers pass a one-partition input)."""
    def run(batches):
        import pyarrow as pa
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {"rows": [b.num_rows], "nbytes": [b.nbytes]})

    return [(r["rows"], r["nbytes"])
            for r in df.mapInArrow(run, "rows long, nbytes long").collect()]


def _pages(spark, n_rows: int, page_bytes: int):
    return spark.range(0, n_rows, 1, 1).withColumn(
        "html", F.repeat(F.lit("x"), page_bytes))


def test_session_sets_the_byte_budget(spark):
    assert (spark.conf.get("spark.sql.execution.arrow.maxBytesPerBatch")
            == str(ARROW_MAX_BYTES_PER_BATCH))


def test_fat_rows_batch_by_bytes(spark):
    """200 rows x 100 KB: each batch stops at the first row past the
    budget, instead of one 20 MB batch under a row cap."""
    census = _census(_pages(spark, 200, 100_000))
    assert sum(r for r, _ in census) == 200
    for rows, nbytes in census:
        assert nbytes - nbytes / rows <= ARROW_MAX_BYTES_PER_BATCH, census


def test_thin_rows_fill_the_budget(spark):
    """10k rows x 0.9 KB: batches grow past the old 1024-row setting to
    fill the byte budget, so thin pages need no row knob either."""
    census = _census(_pages(spark, 10_000, 900))
    assert sum(r for r, _ in census) == 10_000
    assert len(census) > 1, census
    assert all(rows > 1024 for rows, _ in census[:-1]), census


def test_workers_import_installed_pyspark(spark):
    """Python workers of a local session load pyspark from the installed
    package, and hold no importer for an archive under $SPARK_HOME."""
    import pyspark
    if ".zip" + os.sep in pyspark.__file__:
        pytest.skip("the driver's own pyspark comes from a zip")

    def probe(_):
        import sys

        import pyspark
        home = os.path.realpath(os.environ.get("SPARK_HOME", os.sep))
        yield pyspark.__file__, [
            k for k in sys.path_importer_cache
            if os.path.realpath(k).startswith(home + os.sep)]

    got = spark.sparkContext.parallelize(range(4), 4).mapPartitions(
        probe).collect()
    assert len(got) == 4
    for file, keys in got:
        assert os.path.isfile(file), file  # not inside an archive
        assert keys == [], keys


def test_get_spark_names_the_daemon_for_local_masters(monkeypatch):
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate",
                        lambda self: dict(self._options))
    key = "spark.python.daemon.module"
    conf = get_spark(master="local[2]")
    assert conf[key] == "my_ocr_spark.worker_daemon"
    from scripts.make_pyfiles import REPO
    assert conf["spark.executorEnv.PYTHONPATH"] == REPO
    assert key not in get_spark(master="spark://127.0.0.1:7077")


def test_get_spark_defaults_to_the_host_cores(monkeypatch):
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate",
                        lambda self: dict(self._options))
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    cores = len(os.sched_getaffinity(0))
    conf = get_spark()
    assert conf["spark.master"] == f"local[{cores}]"
    assert conf["spark.sql.shuffle.partitions"] == str(cores)


# A job that builds its session with get_spark and runs a Python task
# which imports the package; argv[1:] go first on the driver's sys.path.
_JOB = """
import sys
sys.path[:0] = sys.argv[1:]
from my_ocr_spark.session import get_spark
spark = get_spark(master="local[2]")


def probe(_):
    import pyspark
    from my_ocr_spark.kernel.textstats import token_count
    yield pyspark.__file__, token_count("a b c")


got = spark.sparkContext.parallelize(range(2), 2).mapPartitions(
    probe).collect()
assert [n for _, n in got] == [3, 3], got
print("DAEMON", spark.sparkContext.getConf().get(
    "spark.python.daemon.module", "-"))
print("WORKER", got[0][0])
spark.stop()
"""


def _run_job(tmp_path, argv, extra_args=()):
    """Run ``_JOB`` from ``tmp_path`` with the repo off PYTHONPATH;
    returns {"DAEMON": ..., "WORKER": ...} from its output."""
    import subprocess
    import sys

    job = tmp_path / "job.py"
    job.write_text(_JOB)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable,
               SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    p = subprocess.run([*argv, str(job), *extra_args],
                       capture_output=True, text=True, timeout=420,
                       cwd=str(tmp_path), env=env)
    assert p.returncode == 0, p.stderr[-3000:]
    return dict(line.split(" ", 1) for line in p.stdout.splitlines()
                if line.startswith(("DAEMON ", "WORKER ")))


def test_get_spark_under_pyfiles_keeps_the_stock_daemon(tmp_path):
    """``spark-submit --py-files my_ocr_spark.zip`` with a job calling
    ``get_spark(master="local[2]")``: the package reaches workers only
    at task time, so the session keeps pyspark's daemon and Python
    tasks run."""
    import shutil

    from scripts.make_pyfiles import build

    spark_submit = shutil.which("spark-submit") or os.path.join(
        os.environ.get("SPARK_HOME", ""), "bin", "spark-submit")
    if not os.path.exists(spark_submit):
        pytest.skip("no spark-submit binary in container")
    zip_path = build(str(tmp_path / "dist"))
    out = _run_job(tmp_path, [spark_submit, "--master", "local[2]",
                              "--conf", "spark.ui.enabled=false",
                              "--py-files", zip_path])
    assert out["DAEMON"] == "-", out


def test_get_spark_from_another_directory_uses_the_daemon(tmp_path):
    """A script that puts the repo on the driver's sys.path only and
    runs from another directory: workers still import the package, so
    the session starts them through ``worker_daemon``."""
    import sys

    from scripts.make_pyfiles import REPO

    import pyspark
    if ".zip" + os.sep in pyspark.__file__:
        pytest.skip("the driver's own pyspark comes from a zip")
    out = _run_job(tmp_path, [sys.executable], [REPO])
    assert out["DAEMON"] == "my_ocr_spark.worker_daemon", out
    assert os.path.isfile(out["WORKER"]), out


def _tree(tmp_path, shipped: bytes, installed: bytes | None):
    """A $SPARK_HOME with pyspark/py4j archives and a jar, a user zip
    outside it, and (unless ``installed`` is None) a site dir holding
    pyspark with ``installed`` as its version.py, plus py4j."""
    home = tmp_path / "spark"
    lib = home / "python" / "lib"
    lib.mkdir(parents=True)
    (home / "jars").mkdir()
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", shipped)
    with zipfile.ZipFile(lib / "py4j-src.zip", "w") as z:
        z.writestr("py4j/__init__.py", "")
    with zipfile.ZipFile(home / "jars" / "spark-core.jar", "w") as z:
        z.writestr("META-INF/MANIFEST.MF", "")
    user = tmp_path / "deps.zip"
    with zipfile.ZipFile(user, "w") as z:
        z.writestr("dep/__init__.py", "")
    site = tmp_path / "site"
    site.mkdir()
    if installed is not None:
        (site / "pyspark").mkdir()
        (site / "pyspark" / "__init__.py").write_text("")
        (site / "pyspark" / "version.py").write_bytes(installed)
        (site / "py4j").mkdir()
        (site / "py4j" / "__init__.py").write_text("")
    path = [str(tmp_path / "cwd"), str(lib / "pyspark.zip"),
            str(lib / "py4j-src.zip"), str(home / "jars" / "spark-core.jar"),
            str(user), str(site)]
    return str(home), path


def test_without_spark_archives_drops_only_spark_home_archives(tmp_path):
    home, path = _tree(tmp_path, b'__version__ = "4.1.2"\n',
                       b'__version__ = "4.1.2"\n')
    assert without_spark_archives(path, home) == [path[0], path[4],
                                                  path[5]]


def test_without_spark_archives_keeps_path_without_installed_copy(tmp_path):
    home, path = _tree(tmp_path, b'__version__ = "4.1.2"\n', None)
    assert without_spark_archives(path, home) == path


def test_without_spark_archives_keeps_path_on_version_mismatch(tmp_path):
    home, path = _tree(tmp_path, b'__version__ = "4.1.2"\n',
                       b'__version__ = "4.0.0"\n')
    assert without_spark_archives(path, home) == path
    assert without_spark_archives(path, None) == path
