"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json). Fill these in
as you implement operators from SURVEY.md §2.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    End-to-end main-content extraction: synthesize the CC-style page table
    from the documents fixture, latest-snapshot dedup, HTML-parse + block
    scoring + boilerplate strip inside one mapInArrow stage, return the
    extracted table (url, title, text, spans stats).
    """
    from my_ocr_spark.plans.flagship import flagship_extract

    return flagship_extract(spark, "/root/testdata/sf0.001")


def _load_registry():
    # importing the plan modules populates the registry
    from my_ocr_spark.plans import registry
    import my_ocr_spark.plans.relational  # noqa: F401
    import my_ocr_spark.plans.textpipe  # noqa: F401
    import my_ocr_spark.plans.analytics  # noqa: F401
    import my_ocr_spark.plans.geometry  # noqa: F401
    import my_ocr_spark.plans.recog  # noqa: F401
    import my_ocr_spark.plans.graph_q  # noqa: F401
    import my_ocr_spark.plans.ner  # noqa: F401
    import my_ocr_spark.plans.converters  # noqa: F401

    return registry


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Each callable takes (spark, sf_dir) and returns a DataFrame.
    Alias every computed/aggregate column so names match ``oracle_sql``.
    """
    return dict(_load_registry().QUERIES)


def oracle_sql() -> dict[str, str]:
    """For each key in ``queries()``, equivalent ANSI SQL runnable by
    DuckDB on the same parquet tables (pre-registered views: region
    nation customer supplier part orders lineitem events documents
    embeddings). Omit for non-SQL-expressible ops → driver records a
    weaker rows-only check.
    """
    return dict(_load_registry().ORACLES)
