"""Table IO behind one interface: Iceberg when the runtime has it,
parquet + directory manifest otherwise (SURVEY.md §7.3.3).

The north_star names an Iceberg table; this sandbox has no Iceberg jars,
so ``write_table``/``read_table`` probe once and fall back. The fallback
keeps Iceberg's two properties the engine relies on:
* snapshot commit → per-bucket atomic manifests (operators/lineage.py)
* partition pruning → hive-style bucket directories + parquet min/max

``read_table`` is the package's one parquet read. A parquet read with no
schema runs a one-task Spark job that reads file footers to infer one
(~95 ms on a warm local session), so a query that reads four tables
pays four jobs before it plans. ``read_table`` infers a local path's
schema once and hands it back to ``spark.read.schema(...)`` on every
later read of the same unchanged files under the same inference confs,
which runs no job. A path the driver cannot stat (a URI, a glob, remote
storage) or a relative one is read exactly as ``spark.read.parquet``
reads it. The memo holds schemas only, at most ``_SCHEMAS_CAP`` paths,
oldest dropped first.
"""

from __future__ import annotations

import os
import stat
import threading
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# The session confs Spark's parquet schema inference and partition
# discovery read: a read under different values may infer another type.
_INFER_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)
_SCHEMAS_CAP = 256
# (real path, inference confs) -> (file fingerprint, inferred schema)
_SCHEMAS: dict[tuple, tuple[tuple, StructType]] = {}
_SCHEMAS_LOCK = threading.Lock()


@lru_cache(maxsize=1)
def iceberg_available(spark_classpath_probe: str = "") -> bool:
    try:
        from py4j.java_gateway import java_import  # noqa: F401
        from pyspark.sql import SparkSession as S
        spark = S.getActiveSession()
        if spark is None:
            return False
        jvm = spark._jvm
        jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def write_table(df: DataFrame, path_or_ident: str,
                mode: str = "overwrite") -> str:
    """Returns the format used ('iceberg' | 'parquet')."""
    if iceberg_available():
        (df.writeTo(path_or_ident).using("iceberg")
           .createOrReplace())
        return "iceberg"
    df.write.mode(mode).parquet(path_or_ident)
    return "parquet"


def _fingerprint(path: str) -> tuple | None:
    """Sorted (relative name, size, mtime_ns, inode) of every file under
    ``path`` (the file itself when it is one), so an in-place rewrite
    under a fixed name changes it too. None when the driver cannot
    stat the path (a URI, a glob, remote storage), and for a relative
    path, which Spark resolves against the JVM's working directory."""
    if not os.path.isabs(path):
        return None
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (("", st.st_size, st.st_mtime_ns, st.st_ino),)
        files = []
        for root, _, names in os.walk(path, followlinks=True):
            for name in names:
                full = os.path.join(root, name)
                st = os.stat(full)
                files.append((os.path.relpath(full, path), st.st_size,
                              st.st_mtime_ns, st.st_ino))
    except OSError:
        return None
    return tuple(sorted(files))


def read_table(spark: SparkSession, path_or_ident: str) -> DataFrame:
    """The table at ``path_or_ident``; a parquet path reuses the schema
    inferred for the same unchanged files (module docstring)."""
    if iceberg_available():
        return spark.read.format("iceberg").load(path_or_ident)
    files = _fingerprint(path_or_ident)
    if files is None:
        return spark.read.parquet(path_or_ident)
    key = (os.path.realpath(path_or_ident),
           tuple(spark.conf.get(k) for k in _INFER_CONFS))
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == files:
        return spark.read.schema(hit[1]).parquet(path_or_ident)
    df = spark.read.parquet(path_or_ident)
    entry = (files, df.schema)
    with _SCHEMAS_LOCK:
        _SCHEMAS.pop(key, None)
        _SCHEMAS[key] = entry
        while len(_SCHEMAS) > _SCHEMAS_CAP:
            del _SCHEMAS[next(iter(_SCHEMAS))]
    return df
