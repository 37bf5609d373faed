"""Query registry: keeps each Spark query adjacent to its DuckDB oracle.

Every SURVEY.md §2 operator gets a named query (spark, sf_dir) -> DataFrame
plus, when SQL-expressible, an ANSI-SQL twin the driver runs on DuckDB.
Column names are aliased identically on both sides (driver compare is
name-sensitive), floats rounded to fixed decimals on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from my_ocr_spark.sources.catalog import read_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, f"{sf_dir}/{name}.parquet")
