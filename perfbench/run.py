"""Paper-pipeline benchmark: ``key\\tvalue`` text in, trailing-window
aggregate over the global key order, ``rank\\tkey\\tagg`` text out.

Run from the root of a checkout:

    python3 perfbench/run.py --workload window_sum_uniform --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --self-test

Each run makes the calls the CLI (``python -m uw_mapreduce_spark``)
makes: ``read_text_kv`` -> one of three aggregation routes ->
``write_text_kv``.  Every execution's part files are checked against
DuckDB running the paper's SQL on the same input.  ``--trace 0`` prints
the end-to-end metrics; ``--trace 1`` interleaves untraced and traced
executions and prints the per-layer metrics.  The last stdout line is
one JSON object; the full record (environment, input statistics, every
execution, spans) is written under ``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path
from types import SimpleNamespace

import duckdb
import pyspark

from kvgen import InputStats, write_input
from oracle import Oracle
from sparkprobe import GroupTotals, StatusProbe

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"

ORDER_BY = ["key", "value"]  # the CLI's rank order
READ = "sources.text_kv.read_text_kv"
WRITE = "sources.text_kv.write_text_kv"
SETUPS = 5  # session set-ups per run; the first one launches the JVM
# Warm-up before timing: one execution on a WARMUP_ROWS slice pays most of
# the class loading and code generation (~8 s), then WARMUP_FULL executions
# on the full input let the JIT settle; timed executions still drift down
# a few percent each for several more, so every run times the same
# positions of that curve.
WARMUP_ROWS = 2_000
WARMUP_FULL = 2
MIN_TIMED = 5  # per kind (untraced, traced) of timed execution
DRIVER_MEMORY = "1g"
HARD_STOP_S = 130.0  # stop measuring early rather than miss the 180 s limit


@dataclass(frozen=True)
class Workload:
    name: str
    keys: str  # kvgen key distribution
    rows: int
    route: str  # "window" | "scalable_sum" | "scalable_max", as the CLI picks
    agg: str
    window: int


# Why each workload exists is recorded in BENCHMARK.json and perfbench/README.md.
# The two uniform workloads share their input (same dist, rows and seed),
# so their job_s ratio is the Window/scalable crossover reading.
# scalable_max_skewed is runnable here but not listed in BENCHMARK.json
# (see perfbench/README.md, "Workloads").
WORKLOADS = {
    w.name: w
    for w in (
        Workload("window_sum_uniform", "uniform", 300_000, "window", "sum", 91),
        Workload("scalable_sum_uniform", "uniform", 300_000, "scalable_sum", "sum", 91),
        Workload("scalable_max_skewed", "zipf", 80_000, "scalable_max", "max", 1000),
    )
}

AGG_LAYER = {
    "window": "operators.window.sliding_aggregate",
    "scalable_sum": "operators.scale.sliding_aggregate_scalable",
    "scalable_max": "operators.scale.sliding_minmax_scalable",
}


def load_program() -> SimpleNamespace:
    """Import the program under test from the checkout root."""
    sys.path.insert(0, str(ROOT))
    from uw_mapreduce_spark.operators.scale import (
        sliding_aggregate_scalable,
        sliding_minmax_scalable,
    )
    from uw_mapreduce_spark.operators.window import sliding_aggregate
    from uw_mapreduce_spark.session import get_spark
    from uw_mapreduce_spark.sources.text_kv import read_text_kv, write_text_kv

    # Same dispatch and arguments as uw_mapreduce_spark/__main__.py.
    routes = {
        "window": lambda kv, w: sliding_aggregate(kv, ORDER_BY, "value", w.window, agg=w.agg),
        "scalable_sum": lambda kv, w: sliding_aggregate_scalable(
            kv, ORDER_BY, "value", w.window, agg=w.agg, num_partitions=None
        ),
        "scalable_max": lambda kv, w: sliding_minmax_scalable(
            kv, ORDER_BY, "value", w.window, agg=w.agg, num_partitions=None
        ),
    }
    return SimpleNamespace(
        get_spark=get_spark,
        read_text_kv=read_text_kv,
        write_text_kv=write_text_kv,
        routes=routes,
    )


def pin_environment(scratch: Path) -> None:
    """Keep Spark's, the JVM's and Python's temporary files inside the
    checkout, and pin the driver heap so results do not depend on host RAM."""
    tmp = scratch / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(scratch / "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # A fixed-size driver heap (-Xms = -Xmx) keeps the resident set from
    # tracking G1's adaptive heap sizing, which otherwise varies run to run.
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options -Xms{DRIVER_MEMORY} pyspark-shell"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def setup_sessions(program: SimpleNamespace, master: str):
    """Set the session up SETUPS times, stopping it in between; each
    sample runs from ``get_spark`` until a trivial action completes."""
    spark, times = None, []
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = program.get_spark(app_name="perfbench", master=master)
        spark.range(1).count()
        times.append(time.perf_counter() - t0)
    return spark, times


def shutdown(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


@dataclass
class Span:
    name: str
    start_s: float
    end_s: float
    id: str
    parent: str


@dataclass
class Rep:
    """One execution of the pipeline."""

    id: str
    traced: bool
    warmup: bool
    job_s: float = 0.0
    ok: bool = False
    totals: GroupTotals = field(default_factory=GroupTotals)
    layers: dict = field(default_factory=dict)  # layer -> GroupTotals
    spans: list = field(default_factory=list)
    cached_mb: float = 0.0
    peak_rss_mb: float = 0.0


@dataclass
class Input:
    """A generated input file and the oracle holding its expected output."""

    path: Path
    stats: InputStats
    oracle: Oracle


def make_input(directory: Path, workload: Workload, rows: int, seed: int) -> Input:
    path = directory / "part-00000.txt"
    stats = write_input(path, workload.keys, rows, seed)
    return Input(path, stats, Oracle(path, workload.agg, workload.window, directory / "duckdb"))


class Bench:
    """One workload run: live session, probe, executions so far."""

    def __init__(self, program, spark, workload, run_id, output_dir, t_origin):
        self.program = program
        self.spark = spark
        self.probe = StatusProbe(spark)
        self.workload = workload
        self.run_id = run_id
        self.output_dir = output_dir
        self.t_origin = t_origin
        self.reps: list[Rep] = []

    @property
    def failed(self) -> int:
        return sum(not r.ok for r in self.reps)

    def _span(self, rep: Rep, name: str, span_id: str, parent: str, t0: float) -> None:
        rep.spans.append(Span(name, t0 - self.t_origin, time.perf_counter() - self.t_origin, span_id, parent))

    @contextmanager
    def _call(self, rep: Rep, layer: str):
        """Traced executions give each public call its own job group and span."""
        if not rep.traced:
            yield
            return
        group = f"{rep.id}/{layer}"
        self.probe.set_group(group)
        t0 = time.perf_counter()
        yield
        self._span(rep, layer, group, rep.id, t0)

    def _pipeline(self, rep: Rep, source: Input) -> None:
        w, p = self.workload, self.program
        if not rep.traced:
            self.probe.set_group(rep.id)
        self.probe.reset_peak_rss()
        t0 = time.perf_counter()
        with self._call(rep, READ):
            kv = p.read_text_kv(self.spark, str(source.path))
        with self._call(rep, AGG_LAYER[w.route]):
            out = p.routes[w.route](kv, w).select("rank", "key", "agg")
        if rep.traced:
            rep.cached_mb = self.probe.cached_mb()
        with self._call(rep, WRITE):
            p.write_text_kv(out, str(self.output_dir))
        rep.job_s = time.perf_counter() - t0
        rep.peak_rss_mb = self.probe.jvm_peak_rss_mb()
        if rep.traced:
            self._span(rep, "pipeline", rep.id, self.run_id, t0)

    def execute(self, source: Input, traced: bool, warmup: bool = False, tamper=None) -> Rep:
        """Run the pipeline once on ``source``, collect its stage metrics
        and check its output; ``tamper(output_dir)`` runs before the check."""
        rep = Rep(id=f"{self.run_id}/r{len(self.reps)}", traced=traced, warmup=warmup)
        self.reps.append(rep)
        try:
            self._pipeline(rep, source)
        except Exception as exc:  # a failed execution is counted, not fatal
            print(f"perfbench: {rep.id} raised {type(exc).__name__}: {exc}", file=sys.stderr)
        else:
            self.probe.settle()
            if traced:
                for layer in (READ, AGG_LAYER[self.workload.route], WRITE):
                    rep.layers[layer] = self.probe.group(f"{rep.id}/{layer}", task_detail=layer == WRITE)
                    rep.totals += rep.layers[layer]
            else:
                rep.totals = self.probe.group(rep.id)
            if tamper is not None:
                tamper(self.output_dir)
            rep.ok = source.oracle.check(self.output_dir)
            if not rep.ok:
                print(f"perfbench: {rep.id} output differs from the DuckDB oracle", file=sys.stderr)
        self.probe.set_group(f"{self.run_id}/idle")
        self._reset()
        return rep

    def _reset(self) -> None:
        """Between executions: no cached frame may serve the next one
        (persist_scoped matches live cache entries by plan), and the old
        output goes away outside the timed region."""
        self.spark.catalog.clearCache()
        shutil.rmtree(self.output_dir, ignore_errors=True)
        gc.collect()
        self.spark.sparkContext._jvm.java.lang.System.gc()


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def end_to_end(reps: list[Rep], setup_times: list[float]) -> dict:
    return {
        "job_s": (median(r.job_s for r in reps), "s"),
        "executor_cpu_s": (median(r.totals.executor_cpu_s for r in reps), "s"),
        "spark_jobs": (median(r.totals.jobs for r in reps), "count"),
        "shuffle_mb": (median(r.totals.shuffle_write_mb for r in reps), "MB"),
        "jvm_peak_rss_mb": (median(r.peak_rss_mb for r in reps), "MB"),
        "setup_s": (median(setup_times), "s"),
    }


def per_layer(workload: Workload, traced: list[Rep], untraced: list[Rep],
              inputs: InputStats, setup_times: list[float]) -> dict:
    agg_layer = AGG_LAYER[workload.route]
    scale = workload.route != "window"

    def span_s(rep: Rep, name: str) -> float:
        return next(s.end_s - s.start_s for s in rep.spans if s.name == name)

    def layer(name: str, attr: str) -> float:
        return median(getattr(r.layers[name], attr) for r in traced)

    def scale_only(value_fn) -> float:
        return median(value_fn(r) for r in traced) if scale else 0.0

    def sc(attr: str) -> float:
        return scale_only(lambda r: getattr(r.layers[agg_layer], attr))

    def ratio(num: float, den: float) -> float:
        return num / den if den else 0.0

    def share(attr: str) -> float:
        """Part of the whole execution's ``attr`` spent inside the scale call."""
        return scale_only(lambda r: ratio(getattr(r.layers[agg_layer], attr), getattr(r.totals, attr)))

    def cpu_per_run(r: Rep) -> float:
        return ratio(r.layers[agg_layer].executor_cpu_s, r.layers[agg_layer].executor_run_s)

    # Times that a layer which does not run would report as a constant 0
    # are given as shares of the execution instead: the route call is one
    # metric for whichever operators module the route uses.
    return {
        "session.cold_start_s": (setup_times[0], "s"),
        "sources.text_kv.read_text_kv.s": (median(span_s(r, READ) for r in traced), "s"),
        "operators.call_s": (median(span_s(r, agg_layer) for r in traced), "s"),
        "operators.scale.jobs": (sc("jobs"), "count"),
        "operators.scale.stages": (sc("stages"), "count"),
        "operators.scale.driver_result_kb": (sc("driver_result_kb"), "KB"),
        "operators.scale.cpu_share": (share("executor_cpu_s"), "ratio"),
        "operators.scale.run_share": (share("executor_run_s"), "ratio"),
        "operators.scale.cpu_per_run": (scale_only(cpu_per_run), "ratio"),
        "operators.scale.shuffle_write_mb": (sc("shuffle_write_mb"), "MB"),
        "operators.scale.spill_mb": (sc("spill_mb"), "MB"),
        "caching.cached_mb": (median(r.cached_mb for r in traced), "MB"),
        "sources.text_kv.scan_amplification": (
            median(r.totals.input_mb * (1 << 20) / inputs.file_bytes for r in traced), "ratio"),
        "sources.text_kv.write_text_kv.s": (median(span_s(r, WRITE) for r in traced), "s"),
        "sources.text_kv.write_text_kv.jobs": (layer(WRITE, "jobs"), "count"),
        "sources.text_kv.write_text_kv.executor_cpu_s": (layer(WRITE, "executor_cpu_s"), "s"),
        # Task run times are whole milliseconds; as a share of the call's
        # span the single-task share keeps its precision.
        "sources.text_kv.write_text_kv.max_task_share": (
            median(ratio(r.layers[WRITE].max_task_s, span_s(r, WRITE)) for r in traced), "ratio"),
        "sources.text_kv.write_text_kv.shuffle_write_mb": (layer(WRITE, "shuffle_write_mb"), "MB"),
        "sources.text_kv.write_text_kv.output_mb": (layer(WRITE, "output_mb"), "MB"),
        "trace.overhead_s": (median(r.job_s for r in traced) - median(r.job_s for r in untraced), "s"),
    }


def environment(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "cpus": cpu_count(),
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "pyspark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
    }


def run(args, program) -> int:
    t_origin = time.perf_counter()
    workload = WORKLOADS[args.workload]
    run_id = f"{workload.name}-s{args.seed}-t{args.trace}"
    scratch = WORK / "run"
    shutil.rmtree(scratch, ignore_errors=True)
    pin_environment(scratch)

    source = make_input(scratch / "input", workload, workload.rows, args.seed)
    warm_source = make_input(scratch / "warmup", workload, WARMUP_ROWS, args.seed)
    spark, setup_times = setup_sessions(program, f"local[{cpu_count()}]")
    try:
        bench = Bench(program, spark, workload, run_id, scratch / "output", t_origin)
        bench.execute(warm_source, traced=False, warmup=True)
        for _ in range(WARMUP_FULL):
            bench.execute(source, traced=False, warmup=True)
        t_measure = time.perf_counter()
        kinds = (False, True) if args.trace else (False,)
        while True:
            timed = [r for r in bench.reps if not r.warmup]
            bench.execute(source, traced=kinds[len(timed) % len(kinds)])
            timed.append(bench.reps[-1])
            now = time.perf_counter()
            enough = min(sum(r.traced == k for r in timed) for k in kinds) >= MIN_TIMED // len(kinds)
            if now - t_origin > HARD_STOP_S or (enough and now - t_measure >= args.seconds):
                break
        env = environment(spark)
    finally:
        shutdown(spark)
        source.oracle.close()
        warm_source.oracle.close()
    shutil.rmtree(scratch, ignore_errors=True)

    untraced = [r for r in timed if not r.traced and r.ok]
    traced = [r for r in timed if r.traced and r.ok]
    failed = bench.failed
    inputs = source.stats
    e2e = end_to_end(untraced, setup_times)
    layers = per_layer(workload, traced, untraced, inputs, setup_times) if args.trace else {}
    shown = layers if args.trace else e2e
    error_rate = failed / len(bench.reps)

    record = {
        "run_id": run_id,
        "workload": vars(workload),
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "environment": env,
        "input": asdict(inputs),
        "setup_times_s": setup_times,
        "error_rate": error_rate,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in layers.items()},
        "reps": [asdict(r) for r in bench.reps],
    }
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{run_id}.json").write_text(json.dumps(record, indent=1))

    print(f"workload {workload.name}  seed {args.seed}  trace {args.trace}  env {json.dumps(env)}")
    print(f"input {json.dumps(asdict(inputs))}")
    print(f"executions {len(bench.reps)} ({1 + WARMUP_FULL} warm-up, {len(untraced)} untraced timed, "
          f"{len(traced)} traced timed)  error_rate {error_rate:.4f}")
    for name, (value, unit) in {**e2e, **layers}.items():
        print(f"  {name:<48} {value:>12.4f} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(bench.reps),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }))
    return 0


def self_test(program) -> int:
    """Prove the oracle catches a corrupted part file and that the
    failure is counted in error_rate."""
    workload = WORKLOADS["window_sum_uniform"]
    scratch = WORK / "selftest"
    shutil.rmtree(scratch, ignore_errors=True)
    pin_environment(scratch)
    source = make_input(scratch / "input", workload, 5_000, seed=0)
    spark, _ = setup_sessions(program, "local[2]")

    def corrupt(output_dir: Path) -> None:
        part = next(p for p in sorted(output_dir.glob("part-*")) if p.stat().st_size)
        lines = part.read_text().splitlines()
        rank, key, agg = lines[0].split("\t")
        lines[0] = f"{rank}\t{key}\t{int(agg) + 1}"
        part.write_text("\n".join(lines) + "\n")

    try:
        bench = Bench(program, spark, workload, "selftest", scratch / "output", time.perf_counter())
        clean = bench.execute(source, traced=True)
        corrupted = bench.execute(source, traced=False, tamper=corrupt)
    finally:
        shutdown(spark)
        source.oracle.close()
    shutil.rmtree(scratch, ignore_errors=True)
    error_rate = bench.failed / len(bench.reps)
    passed = clean.ok and not corrupted.ok and error_rate == 0.5
    print(f"self-test: clean ok={clean.ok} corrupted ok={corrupted.ok} "
          f"error_rate={error_rate} -> {'PASS' if passed else 'FAIL'}")
    return 0 if passed else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args(argv)
    if not args.self_test and args.workload is None:
        ap.error("--workload is required")
    try:
        program = load_program()
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test from {ROOT}: {exc}", file=sys.stderr)
        return 2
    return self_test(program) if args.self_test else run(args, program)


if __name__ == "__main__":
    sys.exit(main())
