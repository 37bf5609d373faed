import itertools

import pytest

from my_ocr_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def docs_rows():
    from my_ocr_spark.fixtures import gen_docs
    return gen_docs(n_docs=120, seed=42)


@pytest.fixture(scope="session")
def docs_df(spark, docs_rows):
    from my_ocr_spark.schemas import DOCS_SCHEMA
    data = [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"])
            for r in docs_rows]
    return spark.createDataFrame(data, schema=DOCS_SCHEMA)


_groups = itertools.count()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn`` under its own job group and returns
    (its result, the number of Spark jobs the status tracker saw it
    start)."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{next(_groups)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    return run
