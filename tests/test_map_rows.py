"""map_rows: the one per-row Python stage (1:1 maps and explodes over
mapInArrow, output columns typed from the Spark schema)."""

import pytest
from pyspark.sql import types as T

from my_ocr_spark.session import map_rows

_WORDS_DDL = "id bigint, word string, raw binary, lens array<bigint>"
_WORDS_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("word", T.StringType()),
    T.StructField("raw", T.BinaryType()),
    T.StructField("lens", T.ArrayType(T.LongType())),
])


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _docs(spark):
    rows = [(1, "alpha beta gamma"), (2, "solo"), (3, ""), (4, None)]
    return spark.createDataFrame(rows, "id bigint, text string")


def _words():
    # built per call: a module-level function would be pickled by
    # reference, and the Python workers cannot import a test module
    def words(doc_id, text):
        for w in (text or "").split():
            yield doc_id, w, w.encode(), [len(w), doc_id]
    return words


def test_one_to_one_map(spark):
    def square(i):
        yield i, i * i

    df = spark.range(0, 50, 1, 3)
    got = sorted(map(tuple, map_rows(df, square, "i bigint, sq bigint")
                     .collect()))
    assert got == [(i, i * i) for i in range(50)]


def test_explode_zero_one_many_with_binary_and_array(spark):
    out = map_rows(_docs(spark), _words(), _WORDS_DDL)
    assert out.schema == _WORDS_SCHEMA
    got = sorted((r.id, r.word, bytes(r.raw), list(r.lens))
                 for r in out.collect())
    assert got == [(1, "alpha", b"alpha", [5, 1]),
                   (1, "beta", b"beta", [4, 1]),
                   (1, "gamma", b"gamma", [5, 1]),
                   (2, "solo", b"solo", [4, 2])]


def test_ddl_and_struct_schema_agree(spark):
    a = map_rows(_docs(spark), _words(), _WORDS_DDL)
    b = map_rows(_docs(spark), _words(), _WORDS_SCHEMA)
    assert a.schema == b.schema
    assert sorted(a.collect()) == sorted(b.collect())


def test_null_inputs_and_outputs(spark):
    def passthrough(doc_id, text):
        yield doc_id, text, None if text is None else len(text)

    df = spark.createDataFrame([(1, None), (None, "ab")],
                               "id bigint, text string")
    got = sorted(map(tuple, map_rows(
        df, passthrough, "id bigint, text string, n int").collect()),
        key=str)
    assert got == [(1, None, None), (None, "ab", 2)]


def test_empty_input(spark):
    df = spark.createDataFrame([], "id bigint, text string")
    out = map_rows(df, _words(), _WORDS_DDL)
    assert out.schema == _WORDS_SCHEMA
    assert out.collect() == []


def test_single_split_is_widened_and_stage_named(spark):
    df = spark.range(0, 40, 1, 1)

    def triple(i):
        yield (3 * i,)

    out = map_rows(df, triple, "t bigint")
    plan = _plan(out)
    width = spark.sparkContext.defaultParallelism
    assert f"Exchange RoundRobinPartitioning({width})" in plan, plan
    assert "MapInArrow triple(" in plan, plan
    assert sorted(r.t for r in out.collect()) == [3 * i for i in range(40)]


def test_wrong_arity_fails_loudly(spark):
    def short(i):
        yield (i,)

    with pytest.raises(Exception, match="Tuple size"):
        map_rows(spark.range(3), short, "a bigint, b bigint").collect()
