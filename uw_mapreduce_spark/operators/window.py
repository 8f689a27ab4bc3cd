"""Sliding-window aggregation over a global order — the reference's
flagship query.

Reference parity: O12+O13+O14 — bounded window replication
(`/root/reference/src/SlidingAggregation.java:241-313`), per-partition
aggregate broadcast (:305-310) and prefix-sum window evaluation
(`AggrReducer`, :316-430, `countAggregate` :356-377).  All of that
machinery computes, per record,

    agg(value) OVER (ORDER BY rank ROWS BETWEEN l-1 PRECEDING AND CURRENT ROW)

with rank = 0-based row number over the key order (SURVEY.md §0 — the
semantics were verified against all three golden output dirs).  The
moderate-scale path is one window spec: the rank and the ROWS frame share
one sort and one `WindowExec`.  Spark's sliding-frame `WindowExec`
re-aggregates its frame buffer as the frame moves — it does not retract —
so its cost grows with ``window``; the scalable path's prefix-sum
difference does not.

The aggregate function is pluggable (the reference hardcodes SUM but
marks the accumulation sites `// Aggregation point`,
`SlidingAggregation.java:301,360,372,407`): pass any Spark aggregate
expression name in ``agg`` (sum/min/max/count/avg/...).

For the no-single-partition 100 TB path see
``scale.sliding_aggregate_scalable``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


AGG_FNS = {
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "count": F.count,
    "avg": F.avg,
}


def sliding_aggregate(
    df: DataFrame,
    order_by: list[str],
    value_col: str,
    window: int,
    agg: str = "sum",
    rank_col: str = "rank",
    agg_col: str = "agg",
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Trailing window aggregate over the global (or per-group) order.

    Frame: rows [max(0, r-window+1), r] — trailing, inclusive of the
    current row, clamped at the start (`SlidingAggregation.java:357-362`,
    verified on expected{16,79,91}).

    ``partition_by`` generalizes the reference (whose order is global):
    with a partition spec Spark parallelizes natively and this IS the
    100 TB path; without one, use the scalable variant beyond ~10M rows.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    try:
        agg_fn = AGG_FNS[agg]
    except KeyError:
        raise ValueError(f"agg must be one of {sorted(AGG_FNS)}") from None

    parts = [F.col(c) for c in (partition_by or [])]
    # Rank and frame over ONE spec: both window functions run in one
    # Window operator over one sort, so the frame's rows are exactly the
    # rank order, ties included.
    w = Window.partitionBy(*parts).orderBy(*[F.col(c) for c in order_by])
    ranked = df.withColumn(rank_col, (F.row_number().over(w) - F.lit(1)).cast("long"))
    frame = w.rowsBetween(-(window - 1), Window.currentRow)
    return ranked.withColumn(agg_col, agg_fn(F.col(value_col)).over(frame))


def sliding_sum_kv(df: DataFrame, window: int) -> DataFrame:
    """The reference pipeline verbatim on a (key, value) table:
    rank by key (value as deterministic tiebreak), trailing SUM.
    Output schema (rank, key, agg) matches the golden files
    `expected{16,79,91}/part-r-*` = ``rank\\tkey\\tsum`` rows.
    """
    out = sliding_aggregate(
        df.withColumn("value", F.col("value").cast("long")),
        order_by=["key", "value"],
        value_col="value",
        window=window,
    )
    return out.select("rank", "key", "agg")
