"""``read_table``'s schema memo: a repeated read of an unchanged local
parquet path runs no Spark job and plans like the inferred read, and a
changed file or a changed inference conf is never served the old
schema."""

from __future__ import annotations

import re

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from my_ocr_spark.sources.catalog import read_table


def _optimized(df) -> str:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"#\d+", "", plan)


def test_repeated_read_runs_no_job(spark, count_jobs, tmp_path):
    path = str(tmp_path / "t")
    (spark.range(40).withColumn("part", F.col("id") % 3)
        .withColumn("s", F.col("id").cast("string"))
        .write.partitionBy("part").parquet(path))
    first, jobs = count_jobs(lambda: read_table(spark, path))
    assert jobs >= 1  # the first read infers the schema
    second, jobs = count_jobs(lambda: read_table(spark, path))
    assert jobs == 0
    assert second.schema == first.schema
    assert _optimized(second) == _optimized(first)
    assert sorted(second.collect()) == sorted(first.collect())


def test_spark_overwrite_shows_new_column(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(5)
    df.write.parquet(path)
    assert read_table(spark, path).columns == ["id"]
    df.withColumn("extra", F.lit(1)).write.mode("overwrite").parquet(path)
    back = read_table(spark, path)
    assert back.columns == ["id", "extra"]
    assert back.agg(F.sum("extra")).first()[0] == 5


def test_in_place_rewrite_shows_new_column(spark, tmp_path):
    """A file rewritten under the same name, as gen_sf.py writes its
    tables."""
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"id": [1, 2, 3]}), path)
    assert read_table(spark, path).columns == ["id"]
    pq.write_table(pa.table({"id": [1, 2, 3], "extra": ["a", "b", "c"]}),
                   path)
    back = read_table(spark, path)
    assert back.columns == ["id", "extra"]
    assert sorted(r["extra"] for r in back.collect()) == ["a", "b", "c"]


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    path = str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x", b"y"], pa.binary())}),
                   path)
    key = "spark.sql.parquet.binaryAsString"
    assert dict(read_table(spark, path).dtypes)["b"] == "binary"
    spark.conf.set(key, "true")
    try:
        back = read_table(spark, path)
        assert dict(back.dtypes)["b"] == "string"
        assert sorted(r["b"] for r in back.collect()) == ["x", "y"]
    finally:
        spark.conf.unset(key)
    assert dict(read_table(spark, path).dtypes)["b"] == "binary"


def test_uri_reads_through_the_fallback(spark, tmp_path):
    """The driver cannot stat a URI, so every read is a plain one."""
    path = str(tmp_path / "t")
    spark.range(7).write.parquet(path)
    for _ in range(2):
        back = read_table(spark, "file://" + path)
        assert sorted(r["id"] for r in back.collect()) == list(range(7))
