"""Property tests for the two-phase distributed rank (dist_rank.py).

The helper replaced every unbounded single-partition window in the
registry, so it gets its own differential against the single-window
reference implementation — including the degenerate shapes that broke
the first (repartitionByRange-based) draft at 10x: ties on the bucket
key, all-equal keys (min == max), negatives, nulls, and frames smaller
than the bucket count.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from pokertracker_cassandra_st_spark.dist_rank import range_prefix, range_row_number


def _frame(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["x", "k", "w"]).astype(
            {"k": "int64", "w": "int64"}
        )
    )


CASES = {
    "uniform": [(float(i % 17) * 1.5 - 3.0, i, i % 5 + 1) for i in range(500)],
    "heavy_ties": [(float(i % 3), i, 1) for i in range(300)],
    "all_equal": [(7.25, i, 2) for i in range(100)],
    "tiny": [(1.0, 0, 1), (2.0, 1, 3)],
    "single_row": [(0.0, 0, 5)],
    "negatives": [((-1.0) ** i * i * 0.125, i, 1) for i in range(257)],
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_row_number_matches_global_window(spark, case):
    df = _frame(spark, CASES[case])
    got = range_row_number(df, ["x", "k"], "rn")
    ref = df.withColumn("rn_ref", F.row_number().over(Window.orderBy("x", "k")))
    j = got.join(ref, ["x", "k", "w"])
    assert j.filter(F.col("rn") != F.col("rn_ref")).count() == 0
    assert j.count() == len(CASES[case])


@pytest.mark.parametrize("inclusive", [True, False])
def test_prefix_sum_matches_global_window(spark, inclusive):
    df = _frame(spark, CASES["uniform"])
    got = range_prefix(df, ["x", "k"], {"w": "pw"}, inclusive=inclusive)
    end = 0 if inclusive else -1
    ref = df.withColumn(
        "pw_ref",
        F.coalesce(
            F.sum("w").over(
                Window.orderBy("x", "k").rowsBetween(Window.unboundedPreceding, end)
            ),
            F.lit(0),
        ),
    )
    j = got.join(ref, ["x", "k", "w"])
    assert j.filter(F.col("pw") != F.col("pw_ref")).count() == 0


def test_null_primary_sorts_first(spark):
    rows = [(None, 0, 1), (1.0, 1, 1), (None, 2, 1), (-5.0, 3, 1)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["x", "k", "w"]).astype({"k": "int64", "w": "int64"})
    )
    got = {r["k"]: r["rn"] for r in range_row_number(df, ["x", "k"], "rn").collect()}
    # nulls (bucket -1) first in key order, then -5.0, then 1.0
    assert got == {0: 1, 2: 2, 3: 3, 1: 4}


def test_branch_consistency_under_reuse(spark):
    """The failure mode of the first draft: referencing the bucketing
    from two plan branches must not disagree. Joining the helper's
    output to ITSELF (forcing the lineage to execute in two branches of
    one plan) must produce zero rank mismatches."""
    df = _frame(spark, CASES["uniform"])
    a = range_row_number(df, ["x", "k"], "rn").alias("a")
    b = range_row_number(df, ["x", "k"], "rn").alias("b")
    j = a.join(b, F.col("a.k") == F.col("b.k"))
    assert j.filter(F.col("a.rn") != F.col("b.rn")).count() == 0


def test_skewed_range_buckets_balanced(spark):
    """Round-14 equal-count mapping lock (guide §2.5): a single far
    outlier stretching the value range used to drop every other row
    into bucket 0 under the equal-width interpolation — serializing
    the per-bucket windows. The refined histogram must spread the
    concentrated mass across most buckets (the outlier cell stays its
    own atom; correctness is bucket-independent either way)."""
    from pokertracker_cassandra_st_spark.dist_rank import _with_bucket

    n = 4096
    rows = [(float(i) / n, i, 1) for i in range(n)] + [(1e9, n, 1)]
    df = _frame(spark, rows)
    counts = {
        r["_b"]: r["c"]
        for r in _with_bucket(df, "x", 32)
        .groupBy("_b")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    ideal = (n + 1) / 32
    # max bucket within 2x the ideal share (equal-width put ~n rows in
    # bucket 0), and the mass spread over most of the key space
    assert max(counts.values()) <= 2 * ideal
    assert len(counts) >= 24


def test_wide_int_span_keeps_every_row(spark):
    """(x - min) * fine computed in the key's int type wrapped for a
    2e6 span (fine = 2048): the wrapped rows found no bucket and 475
    of 1000 were silently dropped. The grid now runs in double."""
    df = spark.createDataFrame([(i * 2000,) for i in range(1000)], "x int")
    got = range_row_number(df, ["x"], "rn")
    assert got.count() == 1000
    assert [r.rn for r in got.orderBy("x").collect()] == list(range(1, 1001))


@pytest.mark.parametrize("helper", ["_clo", "_chi", "_heavy", "_bmap", "_mn", "_mx"])
def test_bucket_helper_name_collision_raises(spark, helper):
    df = _frame(spark, CASES["tiny"]).withColumn(helper, F.lit(0))
    with pytest.raises(ValueError, match="collide with range_prefix helpers"):
        range_prefix(df, ["x", "k"], {"w": "pw"}, inclusive=True)


def test_row_number_helper_name_collision_raises(spark):
    df = _frame(spark, CASES["tiny"]).withColumn("_one", F.lit(0))
    with pytest.raises(ValueError, match="range_row_number helpers"):
        range_row_number(df, ["x", "k"], "rn")
