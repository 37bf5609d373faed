"""The session's Arrow batch policy: Python stages receive batches bounded
by ``ARROW_MAX_BYTES_PER_BATCH``, whatever the row width."""

from __future__ import annotations

from pyspark.sql import functions as F

from my_ocr_spark.session import ARROW_MAX_BYTES_PER_BATCH


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

