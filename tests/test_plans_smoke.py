"""Every queries() entry executes at sf0.001 with a stable, non-trivial
schema — the cheap local stand-in for the driver's per-query run."""

import pytest


@pytest.fixture(scope="module")
def registry():
    import __spark_entry__ as E
    return E.queries(), E.oracle_sql()


def test_every_query_runs(spark, registry):
    qs, _ = registry
    sf = "/root/testdata/sf0.001"
    failures = []
    for name, fn in qs.items():
        try:
            df = fn(spark, sf)
            assert len(df.columns) >= 1
            df.limit(5).collect()  # forces execution of the plan head
        except Exception as exc:  # noqa: BLE001
            failures.append(f"{name}: {exc}")
    assert not failures, "\n".join(failures)


def test_oracle_keys_subset_of_queries(registry):
    qs, oracles = registry
    assert set(oracles) <= set(qs)
    # coverage floor: most queries carry an exact oracle
    assert len(oracles) >= 45
    assert len(qs) >= 55


def test_entry_smoke(spark):
    import __spark_entry__ as E
    df = E.entry(spark)
    assert df.count() > 0
    assert "text" in df.columns and "url" in df.columns


def test_bench_headline_names_are_registered():
    """bench.py drives queries() by name — a rename or typo would break
    the driver's per-round benchmark, so pin the membership here."""
    import __spark_entry__ as E
    from bench import HEADLINE

    assert HEADLINE, "bench.HEADLINE is empty"
    missing = [n for n in HEADLINE if n not in E.queries()]
    assert not missing, missing
