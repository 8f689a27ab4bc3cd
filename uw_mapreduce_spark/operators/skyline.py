"""2-D Pareto frontier (skyline): rows not dominated on a
(minimize x, maximize y) trade-off — "cheapest part at every size
level", the product-search / portfolio primitive.

Semantics (fixed, mirrored by the oracle): a row survives iff

    y  >  max{ y' : x' < x }        (vacuously true for the min-x rows)

i.e. strictly cheaper rows must all be strictly worse on y.  This is
the standard sort-scan skyline for two dimensions.

Scale shape: the classic formulation is a running max over the global
x order — an unpartitioned window, one task at 100 TB.  Instead the
prefix max runs over the X VALUE HISTOGRAM: max(y) per distinct x
(one hash aggregate with map-side partials), cumulative max over the
histogram (bounded by the value domain — prices on a cent grid, sizes
on an integer grid — not by corpus size), then a broadcast-join back
and a map-side filter.  The same "shuffle the vocabulary, not the
corpus" argument as `grouped_weighted_median`; for genuinely
continuous x, quantize first (the repo-wide integer-grid discipline) —
and when the distinct-x count still exceeds ``max_domain``, the prefix
max routes through the scalable `scale.prefix_max_scalable` plan so no
single task ever materializes the whole histogram.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..caching import persist_scoped

__all__ = ["pareto_frontier"]

_SCOPE = "skyline"


def pareto_frontier(
    df: DataFrame,
    x_col: str,
    y_col: str,
    max_domain: int = 65536,
) -> DataFrame:
    """Rows with ``y > max(y)`` over all strictly-smaller ``x``.

    Both columns must be integer-comparable (quantize doubles first).
    Returns the input rows unchanged (the survivors).

    The cumulative max over the x-value histogram is an unpartitioned
    window — bounded by |distinct x|, fine for grid-valued domains but
    one task for genuinely continuous x at 100×.  Above ``max_domain``
    distinct values the prefix max routes through the
    `scale.prefix_max_scalable(inclusive=False)` plan instead (border
    passes → exact per-range max carry-ins → one range exchange → local
    window), and the survivor filter joins back on x without the
    broadcast (a 2³²-row histogram is not broadcastable).  Deciding
    needs |distinct x|, so the histogram aggregate runs EAGERLY at
    call time (registered in `plans.catalog.EAGER_FACES` via the
    catalog face); the histogram is persisted under a bounded scope so
    the routing count and the returned plan share ONE computation
    instead of re-aggregating per action."""
    h = persist_scoped(
        df.groupBy(x_col).agg(F.max(y_col).alias("_ymax")), _SCOPE
    )
    if h.count() > max_domain:
        from .scale import prefix_max_scalable

        cum = prefix_max_scalable(
            h, [x_col], "_ymax", out_col="_best_below", inclusive=False
        ).select(x_col, "_best_below")
        joined = df.join(cum, x_col)
    else:
        w = (
            Window.orderBy(x_col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        cum = h.withColumn("_best_below", F.max("_ymax").over(w)).select(
            x_col, "_best_below"
        )
        joined = df.join(F.broadcast(cum), x_col)
    return joined.where(
        F.col("_best_below").isNull() | (F.col(y_col) > F.col("_best_below"))
    ).drop("_best_below")
