"""Loaders/parsers (SURVEY.md §2.1): the reference's Loader+Parser stack
re-expressed on spark.read with per-row quarantine instead of the retry
loop.

Reference analogs:
* HardDiskLoader (loader.py:120-128)        → spark.read.text
* LoaderParsertxt (loader.py:54-117)        → read + split + filter + prefix
* LineStrParser (parser.py:8-50)            → positional projection
* LineJsonParser (parser.py:98-120)         → from_json + required keys
* LmdbLoader (loader.py:131-179)            → keyed parquet/Iceberg table
* broken-record skip (base_dataset.py:128-149) → parse_ok quarantine column
* per-class result sinks (recog_test_imgs.py:19-37) → partitionBy write
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from my_ocr_spark.sources.catalog import read_table


def read_annotation_lines(spark: SparkSession, path: str) -> DataFrame:
    """HardDiskLoader: whole annotation file as lines (one string column
    ``value``). Distributed read — no driver materialization."""
    return spark.read.text(path)


def load_line_str(spark: SparkSession, path: str, keys: list[str],
                  keys_idx: list[int] | None = None,
                  separator: str = " ",
                  data_root: str | None = None) -> DataFrame:
    """LineStrParser/LoaderParsertxt: positional split into named fields,
    malformed rows quarantined (parse_ok=false) instead of raising —
    the relational form of the reference's skip-and-retry scan.

    keys_idx selects which split position feeds each key (default 0..n).
    data_root, when given, is prefixed onto the first key (the filename
    column), like LoaderParsertxt's root join."""
    keys_idx = keys_idx or list(range(len(keys)))
    lines = spark.read.text(path)
    parts = F.split(F.col("value"), separator)
    # F.get (not getItem): NULL on out-of-bounds under ANSI mode — a short
    # line quarantines instead of failing the task
    cols = [F.get(parts, i).alias(k) for k, i in zip(keys, keys_idx)]
    df = lines.select(*cols, F.size(parts).alias("_n_fields"))
    df = df.withColumn("parse_ok",
                       F.col("_n_fields") > max(keys_idx)).drop("_n_fields")
    if data_root:
        df = df.withColumn(keys[0],
                           F.concat(F.lit(data_root.rstrip("/") + "/"),
                                    F.col(keys[0])))
    return df


def load_jsonl(spark: SparkSession, path: str, schema: T.StructType,
               required: list[str] | None = None) -> DataFrame:
    """LineJsonParser: JSON-lines parse with required-key quarantine.
    PERMISSIVE mode + explicit parse_ok; schema is declared, not inferred
    (inference reads the data twice — never at 100 TB)."""
    df = (spark.read.schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt")
          .json(path))
    ok = F.lit(True)
    for k in required or []:
        ok = ok & F.col(k).isNotNull()
    if "_corrupt" in df.columns:
        ok = ok & F.col("_corrupt").isNull()
        df = df.withColumn("parse_ok", ok).drop("_corrupt")
    else:
        df = df.withColumn("parse_ok", ok)
    return df


def load_kv_table(spark: SparkSession, path: str,
                  key_col: str = "url") -> DataFrame:
    """LmdbLoader analog: keyed columnar table scan. The LMDB per-worker
    lazy env (loader.py:156-165) maps to the parquet reader's per-task
    file handles — nothing to manage. Sorting/bucketing by the key at
    write time gives point-lookup pruning via min/max stats."""
    return read_table(spark, path)


def write_partitioned_by_correctness(df: DataFrame, out_dir: str,
                                     flag_col: str = "is_correct") -> None:
    """results.txt/correct.txt/wrong.txt sink (recog_test_imgs.py:19-37):
    one partitioned write instead of three sequential files."""
    df.write.mode("overwrite").partitionBy(flag_col).parquet(out_dir)
