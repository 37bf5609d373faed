"""map_rows, map_batches and map_groups: the one per-row, the one
batch-level and the one grouped Python stage (output columns typed from
the Spark schema)."""

import itertools
import re
from contextlib import contextmanager

import pytest
from pyspark.sql import types as T

from my_ocr_spark.session import map_batches, map_groups, map_rows

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


# --- map_batches: the one batch-level Python stage ---------------------

_STATS_DDL = "id10 bigint, n int, total double"
_STATS_SCHEMA = T.StructType([
    T.StructField("id10", T.LongType()),
    T.StructField("n", T.IntegerType()),
    T.StructField("total", T.DoubleType()),
])


def _vecs(spark):
    rows = [(1, "ab", [1.0, 2.5]), (2, "", [0.5]), (3, "xyz", []),
            (4, None, [4.0, 4.0, 4.0])]
    return spark.createDataFrame(rows, "id bigint, word string, "
                                       "vec array<double>")


def _batch_stats():
    import numpy as np

    def batch_stats(ids, words, vecs):
        # one call per batch, columns as numpy arrays: strings and
        # arrays arrive as object arrays
        assert ids.dtype == np.int64, ids.dtype
        assert words.dtype == object and vecs.dtype == object
        n = np.array([len(w or "") for w in words])
        total = np.array([float(np.sum(v)) for v in vecs])
        return ids * 10, n, total
    return batch_stats


def test_map_batches_types_columns_from_ddl(spark):
    out = map_batches(_vecs(spark), _batch_stats(), _STATS_DDL)
    assert out.schema == _STATS_SCHEMA
    assert sorted(map(tuple, out.collect())) == [
        (10, 2, 3.5), (20, 0, 0.5), (30, 3, 0.0), (40, 0, 12.0)]


def test_map_batches_ddl_and_struct_schema_agree(spark):
    a = map_batches(_vecs(spark), _batch_stats(), _STATS_DDL)
    b = map_batches(_vecs(spark), _batch_stats(), _STATS_SCHEMA)
    assert a.schema == b.schema
    assert sorted(a.collect()) == sorted(b.collect())


def test_map_batches_empty_input(spark):
    df = spark.createDataFrame([], "id bigint, word string, "
                                   "vec array<double>")
    out = map_batches(df, _batch_stats(), _STATS_DDL)
    assert out.schema == _STATS_SCHEMA
    assert out.collect() == []


def test_map_batches_keeps_input_width_and_names_stage(spark):
    """Unlike map_rows, map_batches runs over its input as partitioned:
    a caller with a heavy kernel spreads a narrow scan itself."""
    from my_ocr_spark.session import spread_small_scan

    def halve(ids):
        return (ids // 2,)

    df = spark.range(0, 40, 1, 1)
    out = map_batches(df, halve, "h bigint")
    plan = _plan(out)
    assert "Exchange" not in plan, plan
    assert "MapInArrow halve(" in plan, plan
    assert sorted(r.h for r in out.collect()) == sorted(
        i // 2 for i in range(40))
    width = spark.sparkContext.defaultParallelism
    spread = _plan(map_batches(spread_small_scan(df), halve, "h bigint"))
    assert f"Exchange RoundRobinPartitioning({width})" in spread, spread


def test_map_batches_wrong_columns_fail_loudly(spark):
    def one_column(ids):
        return (ids,)

    with pytest.raises(Exception, match="returned 1 columns"):
        map_batches(spark.range(3), one_column,
                    "a bigint, b bigint").collect()

    def ragged(ids):
        return ids, ids[:1]

    # 40 rows over at most 4 partitions: every batch holds several
    with pytest.raises(Exception, match="same length"):
        map_batches(spark.range(40), ragged, "a bigint, b bigint").collect()


# --- map_groups: the one grouped Python stage -------------------------

_SIZES_DDL = "k bigint, n bigint, total bigint"
_SIZES_SCHEMA = T.StructType([
    T.StructField("k", T.LongType()),
    T.StructField("n", T.LongType()),
    T.StructField("total", T.LongType()),
])


def _group_sizes():
    def group_sizes(k, v):
        # one call per group: every row shares its key
        assert (k == k[0]).all(), k
        return k[:1], [len(v)], [int(v.sum())]
    return group_sizes


@contextmanager
def _one_partition(spark, batch_rows):
    """One shuffle partition and ``batch_rows``-row Arrow batches: a
    map_groups stage then sees every group in key order, and its batch
    boundaries fall at known rows."""
    new = {"spark.sql.shuffle.partitions": "1",
           "spark.sql.execution.arrow.maxRecordsPerBatch": str(batch_rows)}
    old = {k: spark.conf.get(k) for k in new}
    for k, v in new.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_map_groups_splits_every_batch_into_its_groups(spark):
    # unequal sizes: a cut at the wrong offsets mixes two groups. In key
    # order, 3-row batches end exactly where group 1 ends (row 3), group
    # 2's 11 rows span 4 batches, and other groups straddle a boundary
    sizes = [1, 2, 11] + [k % 5 + 1 for k in range(3, 40)]
    ends = set(itertools.accumulate(sizes))
    assert 3 in ends and any(e % 3 for e in ends)
    rows = [(k, v) for k, n in enumerate(sizes) for v in range(n)]
    df = spark.createDataFrame(rows, "k bigint, v bigint").repartition(3)
    with _one_partition(spark, 3):
        out = map_groups(df, "k", _group_sizes(), _SIZES_DDL).collect()
    assert len(out) == len(sizes)
    assert {r.k: (r.n, r.total) for r in out} == {
        k: (n, sum(range(n))) for k, n in enumerate(sizes)}


def test_map_groups_checks_each_groups_columns(spark):
    # groups 0 and 1 share one output batch; their columns would join
    # to equal lengths (3, 3), so only a per-group check catches them
    def ragged(k, v):
        return {0: ([0, 0], [1]), 1: ([1], [1, 1])}.get(
            int(k[0]), (k[:1], [len(v)]))

    df = spark.range(0, 9).selectExpr("id % 3 AS k", "id AS v")
    with _one_partition(spark, 100), \
            pytest.raises(Exception, match="same length"):
        map_groups(df, "k", ragged, "a bigint, b bigint").collect()


def test_map_groups_null_key_parts_form_their_own_groups(spark):
    import numpy as np

    rows = [("a", 1), ("a", 1), (None, 1), (None, 1), ("a", None),
            (None, None), (None, None), (None, None), ("b", 2)]
    df = spark.createDataFrame(rows, "s string, n bigint")

    def composite_sizes(s, n):
        # map_batches' numpy conversion: a bigint column holding nulls
        # arrives as float64 with NaN
        first = n[0]
        return s[:1], [None if np.isnan(first) else int(first)], [len(s)]

    out = map_groups(df, ["s", "n"], composite_sizes,
                     "s string, n bigint, rows bigint")
    got = sorted(map(tuple, out.collect()), key=str)
    assert got == sorted([("a", 1, 2), (None, 1, 2), ("a", None, 1),
                          (None, None, 3), ("b", 2, 1)], key=str)


def test_map_groups_honours_order(spark):
    rows = [(g, v, w) for g in range(3) for v in (2, 7, 7, 1)
            for w in (5, 3)]
    df = spark.createDataFrame(rows, "g bigint, v bigint, w bigint") \
        .repartition(3)

    def sequence(g, v, w):
        return g[:1], [v.tolist()], [w.tolist()]

    out = map_groups(df, "g", sequence, "g bigint, vs array<bigint>, "
                     "ws array<bigint>", order=[("v", "descending"), "w"])
    want = sorted([(v, w) for v in (2, 7, 7, 1) for w in (5, 3)],
                  key=lambda p: (-p[0], p[1]))
    got = {r.g: list(zip(r.vs, r.ws)) for r in out.collect()}
    assert got == {g: want for g in range(3)}


def test_map_groups_empty_input_and_silent_groups(spark):
    empty = spark.createDataFrame([], "k bigint, v bigint")
    out = map_groups(empty, "k", _group_sizes(), _SIZES_DDL)
    assert out.schema == _SIZES_SCHEMA
    assert out.collect() == []

    def odd_only(k, v):
        if k[0] % 2 == 0:
            return (), (), ()
        return k[:1], [len(v)], [int(v.sum())]

    df = spark.range(0, 40).selectExpr("id % 10 AS k", "id AS v")
    got = sorted(r.k for r in map_groups(df, "k", odd_only,
                                         _SIZES_DDL).collect())
    assert got == [1, 3, 5, 7, 9]


def test_map_groups_ddl_and_struct_schema_agree(spark):
    df = spark.range(0, 30).selectExpr("id % 4 AS k", "id AS v")
    a = map_groups(df, "k", _group_sizes(), _SIZES_DDL)
    b = map_groups(df, "k", _group_sizes(), _SIZES_SCHEMA)
    assert a.schema == b.schema == _SIZES_SCHEMA
    assert sorted(a.collect()) == sorted(b.collect())


def test_map_groups_plan_names_fn(spark):
    df = spark.range(0, 30).selectExpr("id % 4 AS k", "id AS v")
    plan = _plan(map_groups(df, "k", _group_sizes(), _SIZES_DDL))
    assert "MapInArrow group_sizes(" in plan, plan
    assert re.search(r"Sort \[k#\d+L ASC NULLS LAST", plan), plan
    assert re.search(r"Exchange hashpartitioning\(k#", plan), plan
    assert "_bucket" not in plan, plan
