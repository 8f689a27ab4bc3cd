"""Scalable unpartitioned rank + sliding-window aggregation (100 TB path).

Why this exists: ``Window.orderBy(...)`` with no PARTITION BY collapses to
a single partition in Spark — correct but a one-task bottleneck.  The
reference solves global windowing with 5 MR jobs: sampled range partition
(Sample+Sort), prefix-count ranking (Rank), equal-width rebalance
(Perfect), bounded replication + per-partition totals + prefix-sum window
evaluation (Aggr) — `SlidingAggregation.java:433-536`.

This module runs the same query in three rounds, entirely JVM-side:

  1. stats pass — key count/min/max and the NULL-/NaN-key row counts.
  2. interval pass(es) — ``_intervals``: exact, disjoint
     ``(count, min, max[, carry])`` key intervals from a bounded
     fixed-width histogram (≤2 refinement passes under skew), or, for
     keys the histogram cannot bin, one exact counting pass cut at
     sampled keys.  The driver derives everything else from these
     intervals (``_layout``): equi-depth range borders, every range's
     exact row count and so its global rank offset, prefix-sum /
     prefix-max carry-ins, and a halo lower bound — the smallest key such
     that the rows from it up to the range start cover ``window - 1``
     rows, or every earlier row.
  3. output pass — one plan: tag each row with its range ``_pid``, copy
     it into every later range whose halo holds its key
     (``explode(sequence(_pid, reach))``), one ``repartition(P, _dst)``,
     then per-range windows in key order: global rank = offset + local
     row number, the trailing aggregate from local running values (sum:
     S(r) - S(r-l) with ``lag``; min/max: block decomposition), and keep
     only each range's own rows.

The offsets, carry-ins and halo bounds enter the plan as literal arrays
indexed by range id — no cache, no broadcast, no self-join.  The halo is the reference's bounded replication
(job 4, :241-313) sized from exact counts: a range receives its
``window - 1`` predecessors rounded up to whole intervals, so a heavy key
that ends a range can make one halo as large as that key — per-task
memory stays at most 2× the largest range.  Every aggregate the driver
reads is commutative, so the layout — and every result — is a pure
function of the data multiset, whatever the input partitioning.

Integer values accumulate in int64 (the reference's int32 overflow
fixed — SURVEY.md §2.3.5); floats accumulate in double.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_INVERTIBLE = ("sum", "count", "avg")

_HIST_TYPES = (
    "tinyint", "smallint", "int", "bigint", "float", "double",
    "date", "timestamp", "timestamp_ntz",
)
_CARRY = {"sum": F.sum, "max": F.max}


def _as_double(key, dtype: str):
    """Order-preserving double image of a key, for histogram binning only
    (borders themselves are exact values of the original type).  Temporal
    types go through microseconds-since-epoch; timestamp_ntz is read in
    the session zone, which is constant within a session so the image is
    stable for any recompute (and binning error can only cost balance,
    never correctness — routing compares exact key values)."""
    if dtype == "date":
        return F.unix_date(key).cast("double")
    if dtype == "timestamp":
        return F.unix_micros(key).cast("double")
    if dtype == "timestamp_ntz":
        return F.unix_micros(key.cast("timestamp")).cast("double")
    return key.cast("double")


def _borders_from_intervals(intervals, n: int, num_partitions: int) -> list:
    """Equi-depth walk over disjoint (count, min, max, ...) intervals
    sorted by key: border i is the top key of the interval where
    cumulative EXACT row count crosses i·n/P — `chooseBorders`
    (`SlidingAggregation.java:75-83`) with intervals in place of sample
    elements.  Borders are actual data values (interval maxima); fewer
    than two intervals means one key span, so no borders."""
    borders: list = []
    if len(intervals) < 2:
        return borders
    cum, j = 0, 1
    for cnt, _mn, mx, *_ in intervals:
        cum += cnt
        while j < num_partitions and cum * num_partitions >= j * n:
            if not borders or mx > borders[-1]:
                borders.append(mx)
            j += 1
        if j >= num_partitions:
            break
    return borders


def _count_below(key, values: list, inclusive: bool, base: int = 0):
    """``base`` + the number of sorted ``values`` below ``key`` (``<=``
    when ``inclusive``, else ``<``) as a BALANCED comparison tree —
    O(log k) comparisons per row, expression size O(k)."""

    def tree(lo: int, hi: int):
        if lo == hi:
            return F.lit(base + lo)
        mid = (lo + hi) // 2
        v = F.lit(values[mid])
        return F.when(key >= v if inclusive else key > v, tree(mid + 1, hi)).otherwise(
            tree(lo, mid)
        )

    return tree(0, len(values))


def _pid_expr(order_col: str, borders: list):
    """Range id for a key given sorted borders: range j holds keys in
    (b_{j-1}, b_j]; NULL keys take range 0 (Spark ASC sorts NULLS FIRST)
    and NaN, above every value, the last.  The reference's linear
    ``find_border`` (`SlidingAggregation.java:128-134`) becomes
    `_count_below`'s balanced tree."""
    key = F.col(order_col)
    if not borders:
        return F.lit(0)
    return F.when(key.isNull(), F.lit(0)).otherwise(_count_below(key, borders, False))


def _histogram_intervals(keyed, dtype, stats, num_partitions, buckets_per_partition, carry):
    """Exact intervals from a deterministic bounded histogram: one
    ``groupBy(bucket)`` over B = buckets_per_partition·P fixed-width
    buckets of the key's double image (map-side combine caps each task's
    shuffle output at B rows, whatever the key cardinality).  Binning is
    monotone in the key, so buckets are disjoint, exact key intervals.

    Overweight buckets (count > n/4P, more than one distinct key) are
    refined in ≤2 further bounded passes of 64 sub-buckets each over the
    ACTUAL per-bucket [min, max] span; a bucket that narrows to
    min == max is a heavy key seen with its EXACT count, so a hot key
    pulls borders toward equal row counts and gets its range to itself
    (equal keys must share a range — extreme skew yielding fewer than P
    ranges IS the equal-rows optimum).  At most 4P buckets can exceed
    n/4P, so each refinement collects ≤ 4P·64 rows: driver bytes stay
    O(P), n-independent.
    """
    key = F.col("_k")
    kd = _as_double(key, dtype)
    n = stats["n"]
    level0 = max(2 * num_partitions, buckets_per_partition * num_partitions)
    child_b = max(8, min(64, buckets_per_partition))
    refine_min = max(2, n // (4 * num_partitions))
    aggs = [
        F.count(F.lit(1)).alias("_c"),
        F.min(key).alias("_mn"), F.max(key).alias("_mx"),
        F.min(kd).alias("_mnd"), F.max(kd).alias("_mxd"),
    ]
    if carry:
        aggs.append(_CARRY[carry](F.col("_v")).alias("_cv"))
    final: list = []  # (count, min, max, carry)
    pending = [(stats["mn"], stats["mx"], stats["mnd"], stats["mxd"], level0)]
    for depth in range(3):  # level-0 pass + ≤2 refinement passes
        if not pending:
            break
        expr, off = None, 0
        for mn, mx, mnd, mxd, nb in pending:
            w = (mxd - mnd) / nb
            local = F.least(
                F.lit(nb - 1),
                F.greatest(F.lit(0), F.floor((kd - F.lit(mnd)) / F.lit(w))),
            )
            cond = (key >= F.lit(mn)) & (key <= F.lit(mx))
            b = F.lit(off) + local
            expr = F.when(cond, b) if expr is None else expr.when(cond, b)
            off += nb
        buckets = sorted(
            (tuple(r) for r in keyed.withColumn("_b", expr)
             .where(F.col("_b").isNotNull())
             .groupBy("_b").agg(*aggs).collect()),
            key=lambda t: t[0],
        )
        pending = []
        for _b, cnt, mn, mx, mnd, mxd, *cv in buckets:
            if depth < 2 and cnt > refine_min and mn != mx and mxd > mnd:
                pending.append((mn, mx, mnd, mxd, child_b))
            else:
                final.append((cnt, mn, mx, cv[0] if cv else None))
    final.sort(key=lambda t: (t[1], t[2]))
    return final


def _sampled_intervals(keyed, n, num_partitions, sample_per_partition, carry):
    """Exact intervals for keys the histogram cannot bin (strings, or
    numerics whose double image collapses or is non-finite).

    A hash-sampled distinct-key aggregate picks cut keys: HEAVY keys
    (count ≥ n/4P) enter unconditionally with exact weight, LIGHT keys
    iff ``xxhash64(key) % mod == 0`` with Horvitz-Thompson weight
    count·mod, capped at 4·target driver rows in a deterministic total
    order; the weighted equi-depth walk keeps 16P cuts.  One counting
    pass then bins every key by its cut (`_count_below`), so the
    intervals — ``(c_{i-1}, c_i]`` — carry exact counts like the
    histogram's."""
    key = F.col("_k")
    target = sample_per_partition * num_partitions
    mod = max(1, n // target)
    heavy = F.col("_c") >= max(2, n // (4 * num_partitions))
    cand = (
        keyed.groupBy("_k").agg(F.count(F.lit(1)).alias("_c"))
        .where(heavy | (F.pmod(F.xxhash64(key), F.lit(mod)) == 0))
        .select("_k", F.when(heavy, F.col("_c")).otherwise(F.col("_c") * mod).alias("_w"),
                heavy.alias("_h"))
    )
    sample = sorted(
        (r["_k"], r["_w"]) for r in cand.orderBy(F.col("_h").desc(), F.xxhash64(key), key)
        .limit(4 * target).collect()
    )
    cuts = _borders_from_intervals(
        [(w, k, k) for k, w in sample], sum(w for _, w in sample), 16 * num_partitions
    )
    aggs = [F.count(F.lit(1)).alias("_c"), F.min(key).alias("_mn"), F.max(key).alias("_mx")]
    if carry:
        aggs.append(_CARRY[carry](F.col("_v")).alias("_cv"))
    rows = keyed.groupBy(_count_below(key, cuts, False).alias("_b")).agg(*aggs).collect()
    return [(c, mn, mx, cv[0] if cv else None) for _b, c, mn, mx, *cv in sorted(rows)]


def _intervals(df, order_col, num_partitions, value_col=None, carry=None,
               buckets_per_partition=64):
    """Border passes: ``(n, intervals, head, tail)``.

    ``intervals`` are exact, disjoint, key-sorted ``(count, min, max,
    carry)`` over the ``n`` keys that are neither NULL nor NaN; ``carry``
    is the ``carry`` aggregate ("sum" or "max") of ``value_col`` over the
    interval, None without one.  ``head`` / ``tail`` are ``(count,
    carry)`` of the NULL-key rows (which sort first) and the NaN-key rows
    (which sort last), both from the stats pass."""
    key = F.col("_k")
    keyed = df.select(
        F.col(order_col).alias("_k"), *([F.col(value_col).alias("_v")] if carry else [])
    )
    dtype = dict(keyed.dtypes)["_k"]
    hist = dtype in _HIST_TYPES or dtype.startswith("decimal")
    floating = dtype in ("float", "double")
    # NaN sorts above every value in Spark; kept out of the intervals so it
    # cannot poison min/max/binning, it falls past every border into the
    # last range — the sort-correct placement.
    valid = key.isNotNull() & ~F.isnan(key) if floating else key.isNotNull()

    def edge(cond, name):
        out = [F.count(F.when(cond, 1)).alias(name)]
        if carry:
            out.append(_CARRY[carry](F.when(cond, F.col("_v"))).alias(name + "_v"))
        return out

    aggs = [F.count(F.when(valid, 1)).alias("n"),
            F.min(F.when(valid, key)).alias("mn"), F.max(F.when(valid, key)).alias("mx")]
    aggs += edge(key.isNull(), "head") + (edge(F.isnan(key), "tail") if floating else [])
    if hist:
        kd = _as_double(key, dtype)
        aggs += [F.min(F.when(valid, kd)).alias("mnd"), F.max(F.when(valid, kd)).alias("mxd")]
    stats = keyed.agg(*aggs).collect()[0].asDict()

    def side(name):
        return (stats.get(name) or 0, stats.get(name + "_v"))

    n, head, tail = stats["n"], side("head"), side("tail")
    if n == 0 or stats["mn"] == stats["mx"]:
        intervals = [(n, stats["mn"], stats["mx"], None)] if n else []
    elif hist and math.isfinite(stats["mnd"]) and math.isfinite(stats["mxd"]) \
            and stats["mxd"] > stats["mnd"]:
        intervals = _histogram_intervals(
            keyed.where(valid), dtype, stats, num_partitions, buckets_per_partition, carry
        )
    else:
        # Double images collapse (bigints differing only below 2^-53 of
        # their magnitude) or are non-finite (±Infinity keys make every bin
        # width infinite), or the type has none: cut at sampled keys.
        intervals = _sampled_intervals(
            keyed.where(valid), n, num_partitions, buckets_per_partition, carry
        )
    return n, intervals, head, tail


def _deterministic_borders(
    df: DataFrame,
    order_col: str,
    num_partitions: int,
    sample_per_partition: int = 64,
) -> list:
    """Equi-depth range borders, deterministic and driver-bounded: the
    reference's Sample job (`SlidingAggregation.java:38-84`, picking P-1
    equi-depth positions — `chooseBorders` :75-83) with its unseeded
    ``Random`` (:35) replaced by commutative exact aggregates (borders are
    a pure function of the data, unlike Spark's randomly seeded
    RangePartitioner), its O(n/threshold)-row collector by bounded
    collects, and sample weights by EXACT interval counts, so heavy keys
    weigh their true mass.  Returns sorted border VALUES; range j holds
    keys in (b_{j-1}, b_j]."""
    if num_partitions <= 1:
        return []
    n, intervals, _, _ = _intervals(
        df, order_col, num_partitions, buckets_per_partition=sample_per_partition
    )
    return _borders_from_intervals(intervals, n, num_partitions)


@dataclass(frozen=True)
class _Layout:
    """Everything the output pass needs, derived on the driver from the
    exact intervals; every list is indexed by range id."""

    borders: list
    counts: list  # own rows per range
    starts: list  # global rank of each range's first row, halo included
    halo_rows: list  # rows copied into each range from earlier ranges
    everything: int  # ranges 1..everything copy every earlier row
    halo_keys: list  # lower key bound of ranges everything+1.. (non-decreasing)
    carry_in: list  # carry aggregate over all earlier ranges (exclusive)


def _layout(df, order_col, num_partitions, halo=0, value_col=None, carry=None) -> _Layout:
    """Run the border passes and derive borders, exact rank offsets,
    carry-ins and the halo: range j needs its ``halo`` predecessors, so
    its halo walks intervals backward from its start until they cover
    ``halo`` rows (or reach global rank 0) and keeps the lower key bound
    of the last interval it took."""
    zero = 0 if carry == "sum" else None
    if num_partitions <= 1:
        return _Layout([], [None], [0], [0], 0, [], [zero])
    n, intervals, head, tail = _intervals(df, order_col, num_partitions, value_col, carry)
    borders = _borders_from_intervals(intervals, n, num_partitions)
    # Units in global key order: (range, count, lower key, carry); the
    # NULL-key rows open range 0, the NaN-key rows close the last range.
    units, r = [], 0
    if head[0]:
        units.append((0, head[0], None, head[1]))
    for cnt, mn, mx, cv in intervals:
        units.append((r, cnt, mn, cv))
        if r < len(borders) and mx == borders[r]:
            r += 1
    if tail[0]:
        units.append((len(borders), tail[0], None, tail[1]))

    def fold(a, b):
        if a is None or b is None:
            return b if a is None else a
        return a + b if carry == "sum" else max(a, b)

    size = len(borders) + 1
    counts, totals, first = [0] * size, [None] * size, [None] * size
    for i, (r, cnt, _lo, cv) in enumerate(units):
        counts[r] += cnt
        totals[r] = fold(totals[r], cv)
        first[r] = i if first[r] is None else first[r]
    offsets, carry_in = [0], [zero]
    for j in range(1, size):
        offsets.append(offsets[-1] + counts[j - 1])
        carry_in.append(fold(carry_in[-1], totals[j - 1]))

    halo_rows, everything, halo_keys = [0] * size, 0, []
    for j in range(1, size):
        if not halo or not counts[j]:  # only the last range can be empty
            continue
        acc, i = 0, first[j]
        while i > 0 and acc < halo:
            i -= 1
            acc += units[i][1]
        halo_rows[j] = acc
        if i == 0:
            everything = j
        else:
            halo_keys.append(units[i][2])
    starts = [o - h for o, h in zip(offsets, halo_rows)]
    return _Layout(borders, counts, starts, halo_rows, everything, halo_keys, carry_in)


def _by_range(values: list, dtype: str, part: str):
    """``values[part]`` as a literal array lookup — driver-derived per-range
    constants enter the plan inline, no DataFrame or broadcast join."""
    return F.get(F.array(*[F.lit(v) for v in values]).cast(f"array<{dtype}>"), F.col(part))


def _spread(df, order_col, lay: _Layout, num_partitions) -> DataFrame:
    """Tag rows with their range ``_pid``; with a halo, copy rows into
    every later range ``_dst`` that needs them.  Shuffle once by range."""
    out = df.withColumn("_pid", _pid_expr(order_col, lay.borders))
    if not lay.halo_keys and not lay.everything:
        return out.repartition(num_partitions, "_pid")
    key = F.col(order_col)
    reach = F.when(key.isNull(), F.lit(lay.everything)).otherwise(
        _count_below(key, lay.halo_keys, True, lay.everything)
    )
    dst = F.explode(F.sequence(F.col("_pid"), F.greatest(F.col("_pid"), reach)))
    return out.withColumn("_dst", dst).repartition(num_partitions, "_dst")


def _ranked(df, order_by, num_partitions, rank_col, halo=0, value_col=None, carry=None):
    """The shared core: border passes, then the output plan up to the
    global rank (``num_partitions`` None: ``spark.sql.shuffle.partitions``
    ranges) — ``df`` plus ``_pid`` (and ``_dst`` with a halo) and
    ``rank_col``, with the per-range key-order window and the name of the
    range column it partitions by.  Callers finish with `_own`."""
    if num_partitions is None:
        num_partitions = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    lay = _layout(df, order_by[0], num_partitions, halo, value_col, carry)
    frame = _spread(df, order_by[0], lay, num_partitions)
    part = "_dst" if "_dst" in frame.columns else "_pid"
    w = Window.partitionBy(part).orderBy(*[F.col(c) for c in order_by])
    rank = _by_range(lay.starts, "bigint", part) + F.row_number().over(w) - F.lit(1)
    return frame.withColumn(rank_col, rank), lay, w, part


def _own(frame: DataFrame, cols: list) -> DataFrame:
    """Drop the halo copies: keep each range's own rows."""
    if "_dst" in frame.columns:
        frame = frame.where(F.col("_pid") == F.col("_dst"))
    return frame.select(*cols)


def _ranged_with_offsets(
    df: DataFrame,
    order_by: list[str],
    value_col: str | None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Range-partition ``df`` and attach global rank (and, when
    ``value_col`` is given, the global inclusive prefix sum ``_prefix``).

    The returned frame is the input plus ``rank`` (dense, 0-based, in
    ``order_by`` order) [and ``_prefix``]: the shared core with an empty
    halo — each range's exact rank offset and prefix-sum carry-in come
    from the border passes' intervals.
    """
    carry = "sum" if value_col is not None else None
    frame, lay, w, part = _ranked(df, order_by, num_partitions, "rank", 0, value_col, carry)
    cols = [*df.columns, "rank"]
    if value_col is not None:
        sum_type = df.select(F.sum(value_col)).schema[0].dataType.simpleString()
        w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        local_prefix = F.coalesce(F.sum(F.col(value_col)).over(w_run), F.lit(0))
        frame = frame.withColumn("_prefix", _by_range(lay.carry_in, sum_type, part) + local_prefix)
        cols.append("_prefix")
    return _own(frame, cols)


def sliding_aggregate_scalable(
    df: DataFrame,
    order_by: list[str],
    value_col: str,
    window: int,
    agg: str = "sum",
    rank_col: str = "rank",
    agg_col: str = "agg",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed trailing-window aggregate with no single-partition stage.

    Same semantics as ``window.sliding_aggregate`` (0-based rank over
    ``order_by``; frame = rows [max(0, r-window+1), r]).  ``agg`` must be
    invertible: sum, count, or avg.  Each range sees its ``window - 1``
    predecessors through the halo, so the window is the difference of
    LOCAL running sums, S(r) - S(r-l) = ``_rs - lag(_rs, l)``.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    if agg not in _INVERTIBLE:
        raise ValueError(
            f"scalable path supports invertible aggregates {_INVERTIBLE}; "
            f"use sliding_aggregate (Window path) or a partition_by spec for {agg!r}"
        )
    frame, _, w, _ = _ranked(df, order_by, num_partitions, rank_col, halo=window - 1)
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    frame = frame.withColumn(
        "_rs", F.coalesce(F.sum(F.col(value_col)).over(w_run), F.lit(0))
    )
    win_sum = F.col("_rs") - F.coalesce(F.lag("_rs", window).over(w), F.lit(0))
    win_count = F.least(F.col(rank_col) + F.lit(1), F.lit(window)).cast("long")
    agg_expr = {"sum": win_sum, "count": win_count, "avg": win_sum / win_count}[agg]
    return _own(frame.withColumn(agg_col, agg_expr), [rank_col, *df.columns, agg_col])


def sliding_minmax_scalable(
    df: DataFrame,
    order_by: list[str],
    value_col: str,
    window: int,
    agg: str = "min",
    rank_col: str = "rank",
    agg_col: str = "agg",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed trailing-window MIN/MAX — the non-invertible case.

    Prefix-difference does not invert min/max, so this uses the classic
    block decomposition (two-stacks / sparse-table idea, expressed in
    SQL windows): with blocks of exactly ``window`` rows
    (block = rank DIV window), the trailing window [r-l+1, r] spans at
    most two adjacent blocks, and

        win_min(r) = min( suffix_min(block of r-l+1, from r-l+1),
                          prefix_min(block of r, up to r) )

    Both pieces are RUNNING aggregates inside a block (one forward, one
    backward), windowed within ``(range, block)`` — the range exchange
    already clusters them, so no second exchange.  The halo puts rank
    r-l+1 in r's range, so the suffix piece is ``lag(_sfx, l-1)`` in the
    same sort order.  When r-l+1 is a block start the suffix piece is the
    whole block, which then ends at r: redundant but harmless.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    if agg not in ("min", "max"):
        raise ValueError("use sliding_aggregate_scalable for invertible aggregates")
    agg_fn, pick = (F.min, F.least) if agg == "min" else (F.max, F.greatest)

    frame, _, _, part = _ranked(df, order_by, num_partitions, rank_col, halo=window - 1)
    frame = frame.withColumn("_blk", F.expr(f"{rank_col} DIV {window}"))
    # Rank orders the block windows (ties in ``order_by`` already have
    # their rank), and all three frames share one sort: (range, _blk, rank).
    w_blk = Window.partitionBy(part, "_blk").orderBy(rank_col)
    w_fwd = w_blk.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_bwd = w_blk.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    w_lag = Window.partitionBy(part).orderBy("_blk", rank_col)
    frame = (
        frame.withColumn("_pfx", agg_fn(F.col(value_col)).over(w_fwd))
        .withColumn("_sfx", agg_fn(F.col(value_col)).over(w_bwd))
        .withColumn(agg_col, pick(F.col("_pfx"), F.lag("_sfx", window - 1).over(w_lag)))
    )
    return _own(frame, [rank_col, *df.columns, agg_col])


def prefix_max_scalable(
    df: DataFrame,
    order_by: list[str],
    value_col: str,
    out_col: str = "prefix_max",
    num_partitions: int | None = None,
    inclusive: bool = True,
) -> DataFrame:
    """Global running maximum of ``value_col`` in ``order_by`` order,
    without a single-partition window — the high-watermark primitive
    (running max of event time in arrival order is exactly Structured
    Streaming's watermark bookkeeping).  ``inclusive=False`` computes
    the EXCLUSIVE prefix max (max over strictly-preceding rows, NULL
    for the global first row) — the dominance test of the skyline
    operator (`operators/skyline.pareto_frontier`): the local window
    ends at ``-1`` and the carry-in stays the same exclusive
    per-range composition.

    The shared core with an empty halo (O8/O13 in the reference,
    `SlidingAggregation.java:159-168,305-310`): the interval pass also
    yields each interval's max value, the driver folds them into each
    range's EXCLUSIVE carry-in max, and a per-range running max window
    combines with it via ``greatest``.  Unlike prefix sums max has no
    inverse, but carry-in composition is associative all the same —
    O(n/P) per machine, O(P) driver.  The carry keeps the VALUE
    column's type.
    """
    frame, lay, w, part = _ranked(df, order_by, num_partitions, "_rank", 0, value_col, "max")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow if inclusive else -1)
    local = F.max(F.col(value_col)).over(w_run)
    carry = _by_range(lay.carry_in, df.schema[value_col].dataType.simpleString(), part)
    # Spark's greatest skips NULLs: either side may be NULL (first row of
    # a range / first range), NULL only when neither exists.
    return _own(frame.withColumn(out_col, F.greatest(local, carry)), [*df.columns, out_col])
