"""Per-face profiling CLI over the measurement core (`uw_mapreduce_spark.inspect`).

Times catalog faces with the bench's timer (count() action, cache
cleared before each rep, min-of-N) at any SF dir, and optionally dumps
each face's formatted physical plan — the measure-first loop without
paying for the whole bench.

    python -m tests.perf_probe NAME [NAME ...] [--sf-dir DIR] [--reps N]
        [--explain OUTDIR] [--suffix TAG] [--noop]

--explain writes OUTDIR/<name>_<TAG>.txt with explain("formatted"), or
  a `PLAN DUMP FAILED: ...` line when the plan does not build.  With
  --reps 0 nothing is executed beyond what building the plans runs
  (iterative kernels still run their per-round collects).
--noop times a noop-sink write instead of count(); the bench's graded
  numbers stay count()-based, this isolates computation during analysis.
"""

from __future__ import annotations

import os
import sys


def main(argv: list[str]) -> int:
    names: list[str] = []
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = 2
    explain_dir = None
    suffix = "probe"
    use_noop = False
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--sf-dir":
            sf_dir = argv[i + 1]; i += 2
        elif a == "--reps":
            reps = int(argv[i + 1]); i += 2
        elif a == "--explain":
            explain_dir = argv[i + 1]; i += 2
        elif a == "--suffix":
            suffix = argv[i + 1]; i += 2
        elif a == "--noop":
            use_noop = True; i += 1
        else:
            names.append(a); i += 1

    from uw_mapreduce_spark.inspect import formatted_plan, time_face, warm_up
    from uw_mapreduce_spark.plans.catalog import QUERIES
    from uw_mapreduce_spark.session import get_spark

    spark = get_spark(app_name="perf-probe")
    if reps:
        warm_up(spark, sf_dir)
    if explain_dir:
        os.makedirs(explain_dir, exist_ok=True)

    for name in names:
        fn = QUERIES[name]
        if explain_dir:
            path = os.path.join(explain_dir, f"{name}_{suffix}.txt")
            try:
                plan = formatted_plan(fn(spark, sf_dir))
            except Exception as e:  # record the failure in the dump
                plan = f"PLAN DUMP FAILED: {type(e).__name__}: {e}\n"
            with open(path, "w") as f:
                f.write(plan)
            print(f"wrote {path} ({len(plan)} chars)", flush=True)
        if reps:
            best, times, err = time_face(spark, name, fn, sf_dir, reps, noop=use_noop)
            print(f"TIMES {name}: min={best} raw={times}" + (f" error={err}" if err else ""),
                  flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
