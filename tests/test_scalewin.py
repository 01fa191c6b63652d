"""scalewin: the two-phase global-window replacements must reproduce the
window functions they replace, bit-for-bit, on adversarial shapes (ties,
uneven buckets, more partitions than rows)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from spider_spark.operators.scalewin import (
    two_phase_cumsum,
    two_phase_ntile,
    two_phase_order_index,
)


def _df(spark, n=257):
    rows = [(i, (i * 7919) % 101, (i * 13) % 997) for i in range(n)]
    return spark.createDataFrame(rows, "id long, v long, val long")


def test_order_index_equals_row_number(spark):
    df = _df(spark)
    got, total = two_phase_order_index(
        df, [("v", True), ("id", False)], "idx", start=1
    )
    assert total == 257
    w = Window.orderBy(F.desc("v"), "id")
    want = {
        r["id"]: r["rn"]
        for r in df.select("id", F.row_number().over(w).alias("rn")).collect()
    }
    assert {r["id"]: r["idx"] for r in got.collect()} == want


def test_order_index_single_ascending_column(spark):
    """One ascending single-column input: row_number()-1 over a
    distinct-value table, including with >1 range partition."""
    vals = [((v * 7919) % 1000,) for v in range(257)]  # distinct, shuffled
    df = spark.createDataFrame(vals, "v long")
    out, n = two_phase_order_index(df, [("v", False)], "idx")
    assert n == 257
    got = {r["v"]: r["idx"] for r in out.collect()}
    want = {v: i for i, (v,) in enumerate(sorted(set(vals)))}
    assert got == want


def test_order_index_stable_across_repeated_collects(spark):
    """Enough rows (over several input partitions) that RangePartitioner
    samples instead of taking every row, so a re-sampled plan would move
    the boundaries: every collect of the output — and of a second call's
    output, and of the first again afterwards — must equal row_number()-1."""
    n = 6000
    df = spark.range(0, n, numPartitions=6).select(
        F.col("id"), ((F.col("id") * 7919) % 101).alias("v")
    )
    order = [("v", False), ("id", False)]
    ranked = sorted(((i * 7919) % 101, i) for i in range(n))
    want = {i: k for k, (_, i) in enumerate(ranked)}

    def got(out):
        return {r["id"]: r["idx"] for r in out.select("id", "idx").collect()}

    first, total = two_phase_order_index(df, order, "idx")
    assert total == n
    assert got(first) == want
    assert got(first) == want
    second, _ = two_phase_order_index(df, order, "idx")
    assert got(second) == want
    assert got(first) == want


@pytest.mark.parametrize("n_tiles", [3, 4, 5, 300])
def test_ntile_equals_window_ntile(spark, n_tiles):
    """Exact SQL ntile parity incl. heavy ties on the order column,
    uneven buckets (257 % n != 0), and more buckets than rows (300)."""
    df = _df(spark)
    got = {
        r["id"]: r["t"]
        for r in two_phase_ntile(
            df, [("v", True), ("id", False)], n_tiles, "t"
        ).collect()
    }
    w = Window.orderBy(F.desc("v"), "id")
    want = {
        r["id"]: r["t"]
        for r in df.select("id", F.ntile(n_tiles).over(w).alias("t")).collect()
    }
    assert got == want


def test_cumsum_equals_window_running_sum(spark):
    df = _df(spark)
    got = {
        (r["id"]): (r["cum"], r["rk"])
        for r in two_phase_cumsum(
            df, [("v", True), ("id", False)], "val", "cum", out_idx="rk"
        ).collect()
    }
    w = (
        Window.orderBy(F.desc("v"), "id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w2 = Window.orderBy(F.desc("v"), "id")
    want = {
        r["id"]: (r["cum"], r["rk"])
        for r in df.select(
            "id",
            F.sum("val").over(w).alias("cum"),
            F.row_number().over(w2).cast("long").alias("rk"),
        ).collect()
    }
    assert got == want
