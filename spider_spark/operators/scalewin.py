"""Two-phase replacements for single-partition global windows.

A `Window.orderBy(...)` with no `partitionBy` plans a ONE-task sort of its
whole input ("No Partition Defined For Window Operation"). Fine for tiny
aggregates (days, vocab pairs, top-k pools); not fine for host/domain- or
user-cardinality tables, which reach 10^8–10^9 rows on a Common-Crawl-
class corpus. Every helper here computes the same value with one
range-partition + driver-prefix-sum shape: range-partition on the order
key, collect O(partitions) per-partition counts/sums, add each
partition's offset map-side in one Arrow batch pass. The crawl engine's
``results()`` assigns its global crawl-order ``seq`` the same way.

Requirements shared by all helpers: the order must be a TOTAL order over
the input rows (callers append a unique tiebreak column — every call site
here orders by (metric, source|user_id|value)), and the pid-stamped input
is local-checkpointed BEFORE the driver collect, because RangePartitioner
samples with an RDD-id-seeded reservoir — an un-pinned plan could
re-sample different boundaries between the collect and the final pass. A
cache (``persist()``) is not a pin: a second identical plan shares its
cache entry, and unpersisting either drops it for both. The pin is lazy:
the range exchange (and its boundary sampling) runs once inside the
``localCheckpoint`` call, which fixes the boundaries in the checkpointed
RDD, and the driver's count collect materialises that RDD — no extra job.
Values are unaffected by partition count or boundary placement (the
ordering is total), so results are deterministic under any parallelism.
"""

from __future__ import annotations


def _shuffle_parts(spark) -> int:
    return max(1, int(spark.conf.get("spark.sql.shuffle.partitions") or "32"))


def _keys(order):
    from pyspark.sql import functions as F

    return [
        F.col(c).desc() if descending else F.col(c).asc()
        for c, descending in order
    ]


def _pinned(df, order):
    """Range-partition on the order key, sort within partitions, stamp the
    partition id, pin. Returns (pinned_df, original_cols)."""
    from pyspark.sql import functions as F

    n_parts = _shuffle_parts(df.sparkSession)
    cols = [f.name for f in df.schema.fields]
    d = (
        df.repartitionByRange(n_parts, *_keys(order))
        .sortWithinPartitions(*_keys(order))
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    return d, cols


def two_phase_order_index(df, order, out_col: str, start: int = 0):
    """``row_number() - 1 + start`` over the total order — no global
    window. ``order`` is a list of (column, descending) pairs. Returns
    ``(indexed_df, total_row_count)``."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    d, cols = _pinned(df, order)
    counts = {
        r["_pid"]: r["c"]
        for r in d.groupBy("_pid").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    offsets: dict[int, int] = {}
    acc = start
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    schema = T.StructType(
        [f for f in d.schema.fields if f.name != "_pid"]
        + [T.StructField(out_col, T.LongType())]
    )

    def _gen(batches):
        nxt = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if nxt is None:
                nxt = offsets[int(pdf["_pid"].iloc[0])]
            out = pdf[cols].copy()
            out[out_col] = pd.array(range(nxt, nxt + len(pdf)), dtype="int64")
            nxt += len(pdf)
            yield out

    return d.mapInPandas(_gen, schema=schema), acc - start


def two_phase_ntile(df, order, n: int, out_col: str):
    """``ntile(n) OVER (ORDER BY ...)`` without the one-task window: SQL
    standard semantics (first ``count % n`` buckets hold ``count//n + 1``
    rows) computed row-locally from the two-phase row index and the total
    count."""
    from pyspark.sql import functions as F

    idx_col = f"_{out_col}_idx"
    indexed, total = two_phase_order_index(df, order, idx_col, start=0)
    q, r = divmod(total, n)
    big = r * (q + 1)  # rows living in the (q+1)-sized leading buckets
    if q == 0:
        tile = F.col(idx_col) + 1  # fewer rows than buckets
    else:
        tile = (
            F.when(
                F.col(idx_col) < big, F.expr(f"`{idx_col}` div {q + 1}")
            ).otherwise(F.lit(r) + F.expr(f"(`{idx_col}` - {big}) div {q}"))
            + 1
        )
    return indexed.withColumn(out_col, tile.cast("int")).drop(idx_col)


def two_phase_cumsum(df, order, val_col: str, out_cum: str,
                     out_idx: str | None = None, start_idx: int = 1):
    """Running ``SUM(val) ROWS UNBOUNDED PRECEDING`` (inclusive) over the
    total order, optionally with the 1-based row index — the Lorenz-curve
    shape. Per-partition local cumulative sums plus driver prefix sums of
    the O(partitions) partition totals."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    d, cols = _pinned(df, order)
    stats = {
        r["_pid"]: (r["c"], r["s"])
        for r in d.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("c"), F.sum(val_col).alias("s"))
        .collect()
    }
    idx_off: dict[int, int] = {}
    sum_off: dict[int, int] = {}
    acc_i, acc_s = start_idx, 0
    for pid in sorted(stats):
        idx_off[pid] = acc_i
        sum_off[pid] = acc_s
        acc_i += stats[pid][0]
        acc_s += stats[pid][1] or 0
    val_field = next(f for f in d.schema.fields if f.name == val_col)
    extra = [T.StructField(out_cum, val_field.dataType)]
    if out_idx:
        extra.append(T.StructField(out_idx, T.LongType()))
    schema = T.StructType(
        [f for f in d.schema.fields if f.name != "_pid"] + extra
    )

    def _gen(batches):
        base_i = base_s = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if base_i is None:
                pid = int(pdf["_pid"].iloc[0])
                base_i, base_s = idx_off[pid], sum_off[pid]
            out = pdf[cols].copy()
            out[out_cum] = pdf[val_col].cumsum() + base_s
            if out_idx:
                out[out_idx] = pd.array(
                    range(base_i, base_i + len(pdf)), dtype="int64"
                )
                base_i += len(pdf)
            base_s += pdf[val_col].sum()
            yield out

    return d.mapInPandas(_gen, schema=schema)
