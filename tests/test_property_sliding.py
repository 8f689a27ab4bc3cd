"""Property-based check: every sliding path agrees with a pure-Python
brute-force model on arbitrary inputs (hypothesis-generated)."""

from __future__ import annotations

import datetime

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from uw_mapreduce_spark.operators.scale import (
    sliding_aggregate_scalable,
    sliding_minmax_scalable,
)
from uw_mapreduce_spark.operators.window import sliding_aggregate

_int_keys = st.one_of(st.none(), st.integers(-1000, 1000))
_double_keys = st.one_of(
    st.none(), st.just(float("nan")), st.floats(-1e3, 1e3, allow_nan=False)
)
_values = st.integers(-10**6, 10**6)
# NULL keys sort first and NaN keys last in Spark; windows up to 60 rows
# exceed every input (max 40 rows), and up to 50 partitions exceed its
# distinct keys.
rows_strategy = st.one_of(
    st.tuples(st.just("long"), st.lists(st.tuples(_int_keys, _values), min_size=1, max_size=40)),
    st.tuples(st.just("double"), st.lists(st.tuples(_double_keys, _values), min_size=1, max_size=40)),
)
_AGGS = {
    "sum": sum, "count": len, "avg": lambda w: sum(w) / len(w), "min": min, "max": max,
}


def _sort_key(row):
    k, v = row
    if k is None:
        return (0, 0, v)
    return (2, 0, v) if k != k else (1, k, v)


def brute(rows, l, agg):
    ordered = sorted(rows, key=_sort_key)
    out = []
    for r in range(len(ordered)):
        win = [v for _, v in ordered[max(0, r - l + 1): r + 1]]
        out.append((r, _AGGS[agg](win)))
    return out


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(typed_rows=rows_strategy, l=st.integers(1, 60), p=st.integers(2, 50))
def test_sliding_paths_match_brute_force(spark, typed_rows, l, p):
    key_type, rows = typed_rows
    df = spark.createDataFrame(rows, f"key {key_type}, value long")
    for agg in _AGGS:
        expected = brute(rows, l, agg)
        got_w = sorted(
            (r["rank"], r["agg"])
            for r in sliding_aggregate(df, ["key", "value"], "value", l, agg=agg).collect()
        )
        scalable = sliding_minmax_scalable if agg in ("min", "max") else sliding_aggregate_scalable
        got_s = sorted(
            (r["rank"], r["agg"])
            for r in scalable(
                df, ["key", "value"], "value", l, agg=agg, num_partitions=p
            ).collect()
        )
        assert got_w == expected, agg
        assert got_s == expected, agg


_COLLAPSED = 2**60  # bigints within 2^7 of this share one double image
_CORE_KEYS = {
    "int": ("int", st.integers(-50, 50)),
    "bigint": ("bigint", st.integers(-(2**62), 2**62)),
    "bigint_collapsed": ("bigint", st.integers(_COLLAPSED, _COLLAPSED + 64)),
    "double": (
        "double",
        st.one_of(
            st.floats(-1e6, 1e6, allow_nan=False),
            st.sampled_from([float("nan"), float("inf"), float("-inf")]),
        ),
    ),
    "timestamp": (
        "timestamp",
        st.datetimes(datetime.datetime(2000, 1, 1), datetime.datetime(2030, 1, 1)),
    ),
    "string": ("string", st.text("abcxyz", max_size=4)),
}


@pytest.mark.parametrize("kind", sorted(_CORE_KEYS))
def test_core_layout_is_exact(spark, kind):
    """The driver-side layout of the scalable core is exact, not an
    estimate: its per-range own counts equal ``groupBy(_pid).count()``
    of the tagged rows, and the halo copies it predicts are exactly the
    extra rows the explode emits — for every key type the border passes
    handle (histogram, refined histogram, sampled cuts), NULL keys, a
    hot key, and bigints whose double images collapse."""
    import pyspark.sql.functions as F

    from uw_mapreduce_spark.operators.scale import _layout, _spread

    key_type, keys = _CORE_KEYS[kind]

    @settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        cold=st.lists(st.one_of(st.none(), keys), min_size=1, max_size=60),
        hot=st.tuples(keys, st.integers(0, 40)),
        p=st.integers(2, 7),
        halo=st.integers(0, 12),
    )
    def check(cold, hot, p, halo):
        rows = [(k,) for k in cold + [hot[0]] * hot[1]]
        df = spark.createDataFrame(rows, f"k {key_type}")
        lay = _layout(df, "k", p, halo=halo)
        assert len(lay.counts) == len(lay.borders) + 1 <= p
        tagged = _spread(df, "k", lay, p)
        # Without any halo copy the frame carries no ``_dst`` column.
        own = tagged.where(F.col("_pid") == F.col("_dst")) if "_dst" in tagged.columns else tagged
        counts = dict(own.groupBy("_pid").count().collect())
        assert [counts.get(j, 0) for j in range(len(lay.counts))] == lay.counts
        assert tagged.count() == len(rows) + sum(lay.halo_rows)
        before = [sum(lay.counts[:j]) for j in range(len(lay.counts))]
        assert [s + h for s, h in zip(lay.starts, lay.halo_rows)] == before
        assert all(h >= min(halo, b) for h, b, c in zip(lay.halo_rows, before, lay.counts) if c)

    check()


@settings(deadline=None, max_examples=12, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(1, 50)),  # (key, multiplicity)
        min_size=1, max_size=12, unique_by=lambda t: t[0],
    ),
    st.integers(2, 6),
)
def test_borders_partition_invariants(spark, key_mults, p):
    """For arbitrary key multisets (including heavy keys): borders are
    sorted, within the key domain, deterministic, and the derived
    ranges cover every row exactly once."""
    import pyspark.sql.functions as F

    from uw_mapreduce_spark.operators.scale import _deterministic_borders, _pid_expr

    rows = [(k,) for k, m in key_mults for _ in range(m)]
    df = spark.createDataFrame(rows, "k long")
    borders = _deterministic_borders(df, "k", p, sample_per_partition=4)
    assert borders == sorted(set(borders))
    assert len(borders) <= p - 1
    keys = sorted(k for k, _ in key_mults)
    assert all(keys[0] <= b <= keys[-1] for b in borders)
    assert borders == _deterministic_borders(df, "k", p, sample_per_partition=4)
    tagged = df.withColumn("_pid", _pid_expr("k", borders))
    assert tagged.count() == len(rows)            # total cover, no loss
    assert tagged.where(F.col("_pid").isNull()).count() == 0
    # ranges are order-respecting: max key of partition i < min key of i+1
    bounds = tagged.groupBy("_pid").agg(
        F.min("k").alias("lo"), F.max("k").alias("hi")
    ).orderBy("_pid").collect()
    for a, b in zip(bounds, bounds[1:]):
        assert a["hi"] < b["lo"]


pack_strategy = st.lists(st.integers(0, 50), min_size=1, max_size=30)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(sizes=pack_strategy, budget=st.integers(1, 64))
def test_pack_documents_matches_brute_force(spark, sizes, budget):
    """Token-stream packing agrees with a pure-Python prefix-sum model
    on arbitrary document-size multisets and budgets (incl. budget=1,
    zero-token docs, docs far larger than the budget)."""
    from uw_mapreduce_spark.operators.packing import pack_documents

    rows = [(i, n) for i, n in enumerate(sizes)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    got = sorted(
        (r.doc_id, r.start_offset, r.first_pack, r.last_pack, r.n_packs_spanned)
        for r in pack_documents(
            df, "n_tokens", budget=budget, order_by=["doc_id"], num_partitions=3
        ).collect()
    )
    expected, off = [], 0
    for i, n in enumerate(sizes):
        first = off // budget
        last = (off + n - 1) // budget if n > 0 else first
        expected.append((i, off, first, last, last - first + 1))
        off += n
    assert got == expected


gap_rows_strategy = st.lists(
    st.tuples(st.integers(1, 3), st.integers(0, 40), st.integers(-100, 100)),
    min_size=1,
    max_size=25,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=gap_rows_strategy)
def test_gap_fill_matches_brute_force(spark, rows):
    """gap_fill_locf agrees with a pure-Python model on arbitrary
    (key, hour, value) multisets — duplicate buckets (last ts wins,
    value desc as tiebreak on equal ts), gaps, single-point keys."""
    import datetime

    from uw_mapreduce_spark.operators.resample import gap_fill_locf

    t0 = datetime.datetime(2024, 1, 1)
    data = [
        (k, t0 + datetime.timedelta(hours=h), v) for k, h, v in rows
    ]
    df = spark.createDataFrame(data, "k long, ts timestamp, v long")
    got = {
        (r.k, r.bucket): (r.n_obs, r.carried)
        for r in gap_fill_locf(df, ["k"], "ts", "v").collect()
    }

    base = int(t0.replace(tzinfo=datetime.timezone.utc).timestamp()) // 3600
    per_key: dict = {}
    for k, h, v in rows:
        per_key.setdefault(k, {}).setdefault(h, []).append(v)
    expected = {}
    for k, buckets in per_key.items():
        lo, hi = min(buckets), max(buckets)
        carried = None
        for h in range(lo, hi + 1):
            if h in buckets:
                # same ts within bucket: operator breaks ties by value desc
                carried = max(buckets[h])
                expected[(k, base + h)] = (len(buckets[h]), carried)
            else:
                expected[(k, base + h)] = (0, carried)
    assert got == expected
