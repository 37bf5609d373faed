"""band_overlap_join: equivalence to the plain overlap theta join,
exactly-once emission, and edge conventions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _mk(spark, rows, prefix):
    return spark.createDataFrame(
        rows, f"{prefix}id long, grp long, s double, e double")


@pytest.fixture(scope="module")
def frames(spark):
    # deterministic scatter incl. same-bucket, cross-bucket, long, and
    # touching intervals; a few groups
    left = [(i, i % 3, float((i * 37) % 500), float((i * 37) % 500 + 5 + i % 90))
            for i in range(200)]
    right = [(i, i % 3, float((i * 53) % 500), float((i * 53) % 500 + 3 + i % 70))
             for i in range(300)]
    return _mk(spark, left, "l"), _mk(spark, right, "r")


def _plain(left, right):
    r = right.select(*[F.col(c).alias(c + "_r") for c in right.columns])
    j = left.join(r, F.col("grp") == F.col("grp_r"))
    return j.filter(F.least("e", "e_r") > F.greatest("s", "s_r"))


def test_matches_plain_join_exactly(spark, frames):
    from my_ocr_spark.operators.rangejoin import band_overlap_join

    left, right = frames
    for width in (32.0, 128.0, 1000.0):
        got = (band_overlap_join(left, right, width=width)
               .select("lid", "rid_r").toPandas()
               .sort_values(["lid", "rid_r"]).reset_index(drop=True))
        want = (_plain(left, right).select("lid", "rid_r").toPandas()
                .sort_values(["lid", "rid_r"]).reset_index(drop=True))
        assert got.equals(want), f"width={width}"


def test_exactly_once_even_for_long_intervals(spark):
    from my_ocr_spark.operators.rangejoin import band_overlap_join

    # both intervals span many buckets -> co-occur in many; must emit once
    left = _mk(spark, [(1, 0, 0.0, 1000.0)], "l")
    right = _mk(spark, [(2, 0, 10.0, 990.0)], "r")
    out = band_overlap_join(left, right, width=64.0).collect()
    assert len(out) == 1


def test_touching_intervals_do_not_match(spark):
    from my_ocr_spark.operators.rangejoin import band_overlap_join

    left = _mk(spark, [(1, 0, 0.0, 100.0)], "l")
    right = _mk(spark, [(2, 0, 100.0, 200.0)], "r")
    assert band_overlap_join(left, right, width=64.0).count() == 0


def test_different_groups_never_match(spark):
    from my_ocr_spark.operators.rangejoin import band_overlap_join

    left = _mk(spark, [(1, 0, 0.0, 100.0)], "l")
    right = _mk(spark, [(2, 1, 0.0, 100.0)], "r")
    assert band_overlap_join(left, right, width=64.0).count() == 0


def test_out_of_contract_bucket_raises_instead_of_wrong_pair(spark):
    """A right interval in group 0 whose end bucket passes 2^19 (the
    default fuse_bits=20 contract) explodes onto fused keys that belong
    to group 1; with the left interval's start bucket on one of them,
    the join without a bucket-range check emits this cross-group pair."""
    from my_ocr_spark.operators.rangejoin import band_overlap_join

    w, half = 64.0, 1 << 19
    left = _mk(spark, [(1, 1, -(half - 1) * w, -(half - 8) * w)], "l")
    right = _mk(spark, [(2, 0, -(half - 1) * w, (half + 1.5) * w)], "r")
    with pytest.raises(Exception, match="fused key"):
        band_overlap_join(left, right, width=w).collect()
