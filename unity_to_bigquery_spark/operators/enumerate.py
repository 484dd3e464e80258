"""Scalable global enumeration: assign contiguous 1-based positions in
a total order WITHOUT the single-partition global window.

``row_number() OVER (ORDER BY key)`` funnels every row through one
task — the classic scale cliff. The scalable shape is:

1. range-repartition + sort within partitions on the total-order key
   (globally sorted data in partition-id order, all parallel);
2. per-partition row counts (tiny: one row per partition);
3. cumulative offsets over partition ids (a window over N_partition
   rows, trivially small);
4. position = partition offset + intra-partition row index.

No collect, no single-partition stage; the only narrow data is the
N-partition offset table, broadcast back onto the sorted rows.

Steps 2 and 4 must read ONE evaluation of the range exchange: its
boundaries come from a sample seeded by the RDD id, so a second
evaluation splits the rows differently and the offsets stop matching
the rows they are added to. Both therefore read a non-deterministic
CTE (it carries ``spark_partition_id()``), which Spark plans once and
shares — the row side and the offset side see the same partitions.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def _with_partition_offsets(
    df: DataFrame, order_cols: list, num_partitions: int | None, measure: str
) -> DataFrame:
    """``df`` range-partitioned and sorted on ``order_cols``, plus
    ``__pid`` (range partition), ``__mid`` (monotonically increasing id,
    so the intra-partition index is ``__mid - (__pid << 33)``) and
    ``__offset``: the SQL aggregate ``measure`` summed over all earlier
    partitions (0 for the first)."""
    n = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    s = (
        df.repartitionByRange(n, *order_cols)
        .sortWithinPartitions(*order_cols)
        .select(
            "*",
            F.spark_partition_id().alias("__pid"),
            F.monotonically_increasing_id().alias("__mid"),
        )
    )
    return df.sparkSession.sql(
        "WITH t AS (SELECT * FROM {s}) "
        "SELECT /*+ BROADCAST(o) */ t.*, o.__offset FROM t JOIN ("
        "  SELECT __pid, COALESCE(SUM(__m) OVER (ORDER BY __pid ROWS BETWEEN"
        "    UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS __offset"
        f"  FROM (SELECT __pid, {measure} AS __m FROM t GROUP BY __pid)"
        ") o ON t.__pid = o.__pid",
        s=s,
    )


def global_enumerate(
    df: DataFrame,
    order_cols: list,
    position_col: str = "position",
    num_partitions: int | None = None,
) -> DataFrame:
    """Attach 1-based ``position_col`` reflecting the total order of
    ``order_cols`` (must be a unique total order for determinism).
    """
    t = _with_partition_offsets(df, order_cols, num_partitions, "COUNT(1)")
    rn = F.col("__mid") - F.shiftleft(F.col("__pid").cast("long"), 33) + 1
    return t.withColumn(position_col, F.col("__offset") + rn).drop(
        "__pid", "__mid", "__offset"
    )


def global_cumsum(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    out_col: str = "cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Attach the INCLUSIVE running sum of ``value_col`` in the total
    order of ``order_cols`` (a unique total order for determinism) —
    the prefix-sum sibling of :func:`global_enumerate`, same
    no-global-window shape: per-partition running sums in parallel,
    a partition-count-sized offset table of partition SUMS, broadcast
    back. The classic scale cliff this avoids is
    ``SUM(x) OVER (ORDER BY key)`` funneling every row through one
    task."""
    quoted = "`" + value_col.replace("`", "``") + "`"
    t = _with_partition_offsets(df, order_cols, num_partitions, f"SUM({quoted})")
    w_in = (
        Window.partitionBy("__pid")
        .orderBy("__mid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t.withColumn(
        out_col, F.col("__offset") + F.sum(value_col).over(w_in)
    ).drop("__pid", "__mid", "__offset")
