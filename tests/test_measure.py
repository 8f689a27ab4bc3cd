"""The measurement core shared by bench.py and tests/perf_probe.py:
the face timer's retry/failure contract, the one formatted-plan dump,
and bench.py's scale-up synthesizer."""

from __future__ import annotations

import os
import re
import shutil

from uw_mapreduce_spark.inspect import formatted_plan, time_face


def _flaky_face(failures: int):
    calls = {"n": 0}

    def face(spark, sf_dir):
        calls["n"] += 1
        if calls["n"] <= failures:
            raise ValueError("boom\n   on a new line")
        return spark.range(10)

    return face


def test_time_face_retry_recovers_a_transient_failure(spark, sf_small):
    best, times, err = time_face(spark, "flaky", _flaky_face(1), sf_small, retry=True)
    assert best >= 0 and times == [best] and err is None


def test_time_face_without_retry_records_flattened_error(spark, sf_small):
    best, times, err = time_face(spark, "flaky", _flaky_face(1), sf_small)
    assert (best, times) == (-1.0, [])
    assert err == "ValueError: boom on a new line"


def test_time_face_always_failing_face_is_failed(spark, sf_small):
    best, times, err = time_face(spark, "broken", _flaky_face(10**6), sf_small, 3, retry=True)
    assert (best, times) == (-1.0, [])
    assert err.startswith("ValueError: boom")


def test_formatted_plan_is_the_formatted_explain(spark):
    plan = formatted_plan(spark.range(5).selectExpr("id * 2 AS x"))
    assert "== Physical Plan ==" in plan
    assert "Project" in plan


def test_synthesize_doubles_rows_with_disjoint_keys(spark, sf_small, tmp_path):
    import bench

    out_dir = str(tmp_path / "x2")
    tables = list(bench.SCALE_RULES)
    recipe = "test-x2"
    assert bench._synthesize(spark, sf_small, out_dir, tables, 2, recipe) == out_dir
    with open(os.path.join(out_dir, "_READY")) as f:
        assert f.read().strip() == recipe

    off = bench.SF1_OFFSET
    for table in tables:
        src = spark.read.parquet(f"{sf_small}/{table}.parquet")
        out = spark.read.parquet(f"{out_dir}/{table}.parquet")
        assert out.count() == 2 * src.count(), table
        for k in bench.SCALE_RULES[table][0]:
            base = {r[0] for r in src.select(k).collect() if r[0] is not None}
            got = {r[0] for r in out.select(k).collect() if r[0] is not None}
            shifted = {v + off for v in base}
            assert not base & shifted, (table, k)
            assert got == base | shifted, (table, k)

    # Copy 1's text carries the shard suffix on EVERY token (Java's \S).
    docs = spark.read.parquet(f"{out_dir}/documents.parquet")
    copy1 = [r.text for r in docs.where(docs.doc_id >= off).select("text").collect()]
    tokens = [t for text in copy1 if text for t in re.findall(r"[^ \t\n\x0b\f\r]+", text)]
    assert tokens and all(t.endswith("x1") for t in tokens)

    # A matching _READY marker makes the second call a no-op.
    shutil.rmtree(os.path.join(out_dir, "region.parquet"))
    assert bench._synthesize(spark, sf_small, out_dir, tables, 2, recipe) == out_dir
    assert not os.path.exists(os.path.join(out_dir, "region.parquet"))
