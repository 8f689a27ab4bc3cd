"""Introspection utilities: the measurement core, plan digests and
schema drift.

The measurement core is what `bench.py`, `tests/perf_probe.py` and
`plans/explain.py` share: ``warm_up`` brings a session to steady state
once, ``time_face`` times one catalog face (per-rep cache clear,
optional one-retry, ``count()`` or noop-sink action, flattened error)
and ``formatted_plan`` is the one ``explain("formatted")`` rendering.
Nothing here imports the catalog; callers pass the face callable.

``plan_digest`` condenses a DataFrame's physical plan into the
counters this repo's plan audits care about (PLANS.md /
tests/test_plans.py): shuffle exchanges, broadcast exchanges, join
strategies, scans, whether filters reached the parquet scan, and the
whole-stage-codegen span count.  It reads the SAME executed-plan
string the tests assert against, so an audit can log one dict instead
of regex-ing plans ad hoc.

``schema_drift`` compares two schemas (e.g. yesterday's snapshot vs
today's delivery) into added / removed / type-changed columns — the
first check before any `table_diff` of contents.
"""

from __future__ import annotations

import gc
import os
import re
import sys
import time
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def formatted_plan(df: DataFrame) -> str:
    """The text ``df.explain("formatted")`` prints, as a string."""
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def warm_up(spark, sf_dir: str) -> None:
    """Warm the JVM, parquet footers and Python worker pool once so
    per-face times measure the faces, not session bring-up.  Reads the
    first table present among lineitem and embeddings (scale-curve dirs
    hold only documents+embeddings), then pre-forks one Python/Arrow
    worker per core so the first ``mapInPandas`` face isn't charged the
    process spin-up."""
    for table in ("lineitem", "embeddings"):
        path = os.path.join(sf_dir, f"{table}.parquet")
        if os.path.exists(path):
            spark.read.parquet(path).count()
            break

    def _noop(it):
        yield from it

    warm = spark.range(0, 1024, 1, int(spark.sparkContext.defaultParallelism))
    warm.mapInPandas(_noop, "id long").count()


def time_face(
    spark,
    name: str,
    face: Callable,
    sf_dir: str,
    reps: int = 1,
    *,
    clear_first: bool = True,
    retry: bool = False,
    noop: bool = False,
) -> tuple[float, list[float], str | None]:
    """Build ``face(spark, sf_dir)`` and force it ``reps`` times; returns
    ``(best, rep_times, error)``.

    Each rep clears the session cache first (scoped operator caches
    would otherwise carry over), except rep 0 when ``clear_first`` is
    False.  The action is ``count()``, or a noop-sink write with
    ``noop`` (a count lets Catalyst prune unused columns).  With
    ``retry`` a failed rep gets ONE more attempt, so a transient
    executor hiccup does not erase a correct face's datapoint.  A rep
    that still fails ends the run: ``best`` is -1.0 and ``error`` the
    exception flattened to one line (PythonException's str starts with
    a newline).  ``best`` is the minimum rep time, -1.0 when no rep ran.
    Operator-scoped checkpoint RDDs are freed by a ``gc.collect()``
    after the last rep."""
    sc = spark.sparkContext
    rep_times: list[float] = []
    error = None
    for rep in range(reps):
        if rep or clear_first:
            spark.catalog.clearCache()
        for attempt in range(2 if retry else 1):
            sc.setJobDescription(f"{name} rep{rep}")
            t0 = time.time()
            try:
                df = face(spark, sf_dir)
                if noop:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    df.count()
                rep_times.append(round(time.time() - t0, 3))
                error = None
                break
            except Exception as e:
                error = " ".join(f"{type(e).__name__}: {e}".split())
                print(f"error in {name} rep{rep} attempt {attempt}: {error[:500]}",
                      file=sys.stderr, flush=True)
            finally:
                sc.setJobDescription(None)
        if error is not None:
            break
    gc.collect()
    if error is not None:
        return -1.0, rep_times, error[:300]
    return (min(rep_times) if rep_times else -1.0), rep_times, None


def plan_digest(df: DataFrame, *, execute: bool = False) -> dict:
    """``execute=True`` collects THIS DataFrame first so AQE's FINAL
    plan is digested — join-strategy re-picks and codegen spans
    (`*(N)`) only exist there.  (A ``count()`` would execute a
    DIFFERENT query execution and leave this one un-finalized.)  Dev
    tool: only pass execute=True on result-sized frames."""
    if execute:
        df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    return {
        "shuffle_exchanges": len(re.findall(r"Exchange (?:hash|range)partitioning", plan)),
        "broadcast_exchanges": plan.count("BroadcastExchange"),
        "broadcast_hash_joins": plan.count("BroadcastHashJoin"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "nested_loop_joins": plan.count("BroadcastNestedLoopJoin")
        + plan.count("CartesianProduct"),
        "scans": plan.count("FileScan"),
        "scans_with_pushed_filters": sum(1 for p in pushed if p.strip()),
        # toString() renders codegen stages as "*(N) Operator"; the
        # formatted explain spells out "WholeStageCodegen (N)".
        "codegen_spans": len(
            set(re.findall(r"\*\((\d+)\)", plan))
            | set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))
        ),
    }


def schema_drift(old: StructType, new: StructType) -> dict:
    """{added: [name], removed: [name], type_changed: [(name, old, new)]}."""
    o = {f.name: f.dataType.simpleString() for f in old.fields}
    n = {f.name: f.dataType.simpleString() for f in new.fields}
    return {
        "added": sorted(set(n) - set(o)),
        "removed": sorted(set(o) - set(n)),
        "type_changed": sorted(
            (c, o[c], n[c]) for c in set(o) & set(n) if o[c] != n[c]
        ),
    }
