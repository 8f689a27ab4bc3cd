"""Range partitioning, in-partition sort, total sort, rank rebalance.

Reference parity:
- O6 range partition: `SortMapper` ships sampled borders to every mapper
  via the distributed cache and routes each record to the partition whose
  border interval contains its key
  (`/root/reference/src/SlidingAggregation.java:87-146`, border lookup
  `find_border` :128-134, ±∞ guard borders :109-111).
- O7 within-partition sort: `SortReducer` buffers the whole partition and
  sorts in memory (`SlidingAggregation.java:148-170`) — no spill, an
  O(partition) heap bomb at scale.  Spark's sort spills; strictly better.
- O11 perfect rebalance: `PerfectMapper` routes rank r to partition
  ⌊r/⌈n/P⌉⌋ so every partition holds an equal contiguous rank block
  (`SlidingAggregation.java:213-239`).

Spark-first: O6+O7 *is* `df.orderBy` (RangePartitioner samples borders
internally — the whole Sample job disappears), and O11 on a dense unique
rank *is* `repartitionByRange` because equi-depth equals equi-width.
These wrappers exist so each reference operator is individually callable
and testable.  The engine's scalable paths do not use them: their borders
come from `scale.py`'s exact border passes (a deterministic bounded
histogram whose exact interval counts also give every range its rank
offset), and they route rows with `scale._pid_expr`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.column import Column


def range_partition(df: DataFrame, cols: list[str | Column], num_partitions: int | None = None) -> DataFrame:
    """O4+O5+O6 in one call: sample, compute borders, shuffle by range.

    `repartitionByRange` runs a distributed reservoir sample and quantile
    computation (the reference's Sample job) inside the exchange —
    no single-reducer collect, no distributed-cache file.
    """
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    if num_partitions is None:
        return df.repartitionByRange(*cs)
    return df.repartitionByRange(num_partitions, *cs)


def sort_within_partitions(df: DataFrame, cols: list[str | Column]) -> DataFrame:
    """O7: sort inside each partition, no shuffle (spilling, unlike the
    reference's in-heap `Collections.sort`)."""
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    return df.sortWithinPartitions(*cs)


def total_sort(df: DataFrame, cols: list[str | Column], num_partitions: int | None = None) -> DataFrame:
    """O6+O7 fused = global total-order sort.

    Equivalent to the reference's Sample+Sort jobs
    (`SlidingAggregation.java:438-472`); Spark plans it as
    RangePartitioner exchange + per-partition spillable sort, with AQE
    coalescing output partitions at runtime.
    """
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    out = df.orderBy(*cs)
    if num_partitions is not None:
        out = df.repartitionByRange(num_partitions, *cs).sortWithinPartitions(*cs)
    return out


def rebalance_by_rank(df: DataFrame, rank_col: str = "rank", num_partitions: int | None = None) -> DataFrame:
    """O11: contiguous equal-size rank blocks per partition.

    On a dense 0..n-1 rank, range partitioning IS the reference's
    ⌊rank/m⌋ routing (`SlidingAggregation.java:234-237`) — equi-depth
    quantiles of a dense sequence are equi-width blocks.  Content is
    unchanged (a pure exchange), which is what makes it oracle-checkable
    as SELECT *.
    """
    return range_partition(df, [rank_col], num_partitions)


def _salt_expr(salt: int, salt_from: list[str] | None, salt_mode: str, columns: list[str]):
    """The left-side salt column for ``salted_join`` (factored out so the
    spread property is directly testable)."""
    if salt_mode == "content":
        src = [F.col(c) for c in (salt_from or columns)]
        return F.pmod(F.xxhash64(*src), F.lit(salt))
    if salt_mode == "row_order":
        # Partition-local counter + partition offset: consecutive rows —
        # byte-identical or not — cycle through all salt values.
        return F.pmod(F.monotonically_increasing_id(), F.lit(salt))
    raise ValueError(f"unknown salt_mode: {salt_mode!r}")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    salt: int = 16,
    how: str = "inner",
    salt_from: list[str] | None = None,
    salt_mode: str = "content",
) -> DataFrame:
    """Equality join with explicit key salting for EXTREME skew.

    AQE's skew-join splitting is the CANONICAL skew answer (on by
    default in session.py) and handles moderate skew by subdividing
    oversized shuffle blocks at runtime; reach for explicit salting when
    a single join key dominates the whole input (a null-like sentinel, a
    mega-user): the big LEFT side gets a salt in [0, salt), the smaller
    RIGHT side is replicated once per salt value, and the join key
    becomes (keys..., salt) — the hot key's rows spread over ``salt``
    tasks at the cost of a salt-times larger right side.

    Two salt modes, trading retry-determinism against spread:

    * ``content`` (default): ``xxhash64`` of ``salt_from`` (default: all
      left columns) — a pure function of row content, so a partially
      recomputed shuffle-map stage reproduces the identical salt per row
      (mixing execution artifacts like ``spark_partition_id()`` into the
      salt risks the classic retry-duplication hazard: a regenerated
      task re-salting rows into buckets other reducers already
      consumed).  The cost: BYTE-IDENTICAL duplicate rows all take one
      salt and stay skewed.
    * ``row_order``: ``monotonically_increasing_id() % salt`` — a
      partition-local row counter, so even literal duplicate rows cycle
      across all salt values.  Deterministic under retry ONLY when the
      left side's partition contents and iteration order are — true for
      file scans (Spark splits are stable), NOT guaranteed directly
      downstream of a shuffle whose map outputs may be refetched in a
      different interleaving.  Use it when the left side comes straight
      from storage and its hot rows are indistinguishable by content;
      otherwise prefer ``content`` mode or AQE.

    ``how`` is limited to inner/left — a right/full outer join would
    emit one null-extended row per salt replica for unmatched right
    rows.
    """
    if how not in ("inner", "left", "left_outer"):
        raise ValueError("salted_join supports inner and left joins only")
    l_side = left.withColumn(
        "_salt", _salt_expr(salt, salt_from, salt_mode, left.columns)
    )
    r_side = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)).cast("array<bigint>"))
    )
    return l_side.join(r_side, on + ["_salt"], how).drop("_salt")
