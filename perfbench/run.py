"""Closed-loop benchmark of the driver-registry queries at sf0.1.

Run from the repository root:

    python3 perfbench/run.py --workload relational --seed 1 --seconds 25 --trace 0

One client: a single driver thread submits the next query only after
the previous one returns. Executors run as local[N] with N = the cores
this process may use. The run sets up a session, drains every query of
the workload's core twice untimed (first collecting its result for the
oracle check, then down the timed path), then repeats timed passes in
one seed-chosen order until ``--seconds`` have passed (at least two
whole passes), and checks the collected results against their oracles
after the session has stopped. With ``--trace 1`` half the passes run
with spans around the layer modules' public functions. The last stdout
line is one JSON object; see perfbench/README.md for every metric.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
DATA = os.path.join(BENCH, "data", "sf0.1")
WORK = os.path.join(ROOT, ".perfbench")

E2E_UNITS = {
    "setup_s": "s",
    "mix_s": "s",
    "query_gmean_s": "s",
    "peak_rss_mb": "MB",
}

#: untimed passes down the timed path after the cold collect pass
WARM_PASSES = 1


#: status-store counter (``layers.JobReader.read``) -> per-layer metric, unit
SPARK_METRICS = {
    "jobs": ("spark.jobs", "count"),
    "stages": ("spark.stages", "count"),
    "stages_skipped": ("spark.stages_skipped", "count"),
    "tasks": ("spark.tasks", "count"),
    "tasks_failed": ("spark.tasks_failed", "count"),
    "job_span_s": ("spark.job_span_s", "s"),
    "outside_jobs_s": ("driver.outside_jobs_s", "s"),
    "executor_run_s": ("spark.executor_run_s", "s"),
    "executor_cpu_s": ("spark.executor_cpu_s", "s"),
    "gc_s": ("spark.gc_s", "s"),
    "input_bytes": ("spark.input_bytes", "bytes"),
    "shuffle_write_bytes": ("spark.shuffle_write_bytes", "bytes"),
    "shuffle_read_bytes": ("spark.shuffle_read_bytes", "bytes"),
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit."""
    from layers import STREAM_COUNTERS, TRACED_LAYERS

    units = {"session.get_spark_s": "s", "setup.warm_pass_s": "s", "queries.build_s": "s", "queries.sink_s": "s"}
    units.update(SPARK_METRICS.values())
    units.update({"spark.cores_busy": "cores", "spark.executor_offcpu_s": "s"})
    for layer in TRACED_LAYERS:
        units[f"{layer}.calls"] = "count"
        units[f"{layer}.self_s"] = "s"
    units.update({f"streaming.{name}": unit for name, unit in STREAM_COUNTERS.items()})
    units.update({"trace.mix_s": "s", "trace.overhead_s": "s"})
    units.update({"run.query_p50_s": "s", "run.query_tail_s": "s", "run.failed_frac": "frac", "run.tmp_left_mb": "MB"})
    return units


def process_age_s() -> float:
    """Seconds since this process started, from the kernel's records."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this VM since boot, all
    CPUs together (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile that leaves at
    least ten samples above it, and never below the median (which is
    all that fewer than 21 samples support)."""
    s = sorted(samples)
    k = max(len(s) - 11, len(s) // 2)
    return s[k], 100.0 * (k + 1) / len(s), len(s)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            with contextlib.suppress(OSError):
                total += os.lstat(os.path.join(dirpath, name)).st_size
    return total


def isolate(run_dir: str) -> None:
    """Point every temp and scratch directory of the run into ``run_dir``
    and put the repository on the Python workers' path. Must run before
    the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_DRIVER_MEM="2g",
        # the whole heap is committed and touched at start, so peak RSS
        # does not depend on when G1 happened to grow it
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    )
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


class Runner:
    """Executes registry queries one at a time and records each one."""

    def __init__(self, spark, specs: dict, workload: str):
        from layers import JobReader, StreamListener, Tracer

        self.spark = spark
        self.specs = specs
        self.workload = workload
        self.jobs = JobReader(spark)
        self.streams = StreamListener()
        spark.streams.addListener(self.streams)
        self.tracer = Tracer()
        self.attempted = 0
        self.failures: list[str] = []

    def _cold(self) -> None:
        from kaylee_spark.queries import clear_process_stores

        self.spark.catalog.clearCache()
        clear_process_stores()

    def _fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"[perfbench] FAILED {what}\n{traceback.format_exc()}", file=sys.stderr, flush=True)

    def collect(self, name: str):
        """One untimed execution that keeps the result for the oracle."""
        self._cold()
        self.attempted += 1
        try:
            return self.specs[name].fn(self.spark, DATA).toPandas()
        except Exception:
            self._fail(f"{name} (collect)")
            return None

    def execute(self, name: str, pass_no: int, traced: bool) -> dict | None:
        """One timed execution into the noop sink, with its counters."""
        self._cold()
        group = f"perfbench/{self.workload}/{pass_no}/{name}"
        self.spark.sparkContext.setJobGroup(group, group)
        self.streams.open_bucket()
        self.attempted += 1
        tr = self.tracer
        tr.trace = group
        span = tr.span if traced else (lambda _name: contextlib.nullcontext())
        ok = True
        steal0 = host_steal_s()
        t0 = time.perf_counter()
        try:
            with span("query"):
                with span("queries.build"):
                    df = self.specs[name].fn(self.spark, DATA)
                t1 = time.perf_counter()
                with span("queries.sink"):
                    df.write.format("noop").mode("overwrite").save()
        except Exception:
            self._fail(f"{name} (pass {pass_no})")
            ok = False
        t2 = time.perf_counter()
        steal_s = host_steal_s() - steal0
        counters = self.jobs.read(group, t2 - t0)
        stream = self.streams.close_bucket()
        if not ok:
            return None
        return {
            "query": name,
            "pass": pass_no,
            "traced": traced,
            "trace": group,
            "wall_s": t2 - t0,
            "build_s": t1 - t0,
            "sink_s": t2 - t1,
            "steal_s": steal_s,
            "spark": counters,
            "streaming": stream,
        }


def _query_medians(samples: list[dict], value) -> list[float]:
    """Each query's median value over its executions."""
    by_query: dict[str, list[float]] = {}
    for s in samples:
        by_query.setdefault(s["query"], []).append(value(s))
    return [statistics.median(v) for v in by_query.values()]


def _pass_median(samples: list[dict], value) -> float:
    """A typical pass: the sum over queries of each query's median value.

    Per-query medians shrug off a slow stretch of the host that hits a
    few executions, and need no complete passes.
    """
    return sum(_query_medians(samples, value))


def layer_metrics(untraced: list[dict], traced: list[dict], tracer) -> dict[str, float]:
    from layers import STREAM_COUNTERS, TRACED_LAYERS

    m: dict[str, float] = {}
    m["queries.build_s"] = _pass_median(untraced, lambda s: s["build_s"])
    m["queries.sink_s"] = _pass_median(untraced, lambda s: s["sink_s"])
    for key, (name, _unit) in SPARK_METRICS.items():
        m[name] = _pass_median(untraced, lambda s, k=key: s["spark"][k])
    span = m["spark.job_span_s"]
    m["spark.cores_busy"] = m["spark.executor_run_s"] / span if span else 0.0
    m["spark.executor_offcpu_s"] = _pass_median(
        untraced,
        lambda s: max(0.0, s["spark"]["executor_run_s"] - s["spark"]["executor_cpu_s"] - s["spark"]["gc_s"]),
    )
    for key in STREAM_COUNTERS:
        m[f"streaming.{key}"] = _pass_median(untraced, lambda s, k=key: s["streaming"][k])
    per_trace = tracer.self_times({s["trace"] for s in traced})
    for layer in TRACED_LAYERS:
        m[f"{layer}.calls"] = _pass_median(traced, lambda s, lay=layer: per_trace[s["trace"]].get(lay, (0, 0.0))[0])
        m[f"{layer}.self_s"] = _pass_median(traced, lambda s, lay=layer: per_trace[s["trace"]].get(lay, (0, 0.0))[1])
    m["trace.mix_s"] = _pass_median(traced, lambda s: s["wall_s"])
    m["trace.overhead_s"] = m["trace.mix_s"] - _pass_median(untraced, lambda s: s["wall_s"])
    return m


def check_outputs(specs: dict, results: dict) -> list[str]:
    """Compare every collected result with its DuckDB oracle."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import compare, duck_connection

    con = duck_connection(DATA)
    problems = []
    for name, got in sorted(results.items()):
        if got is None:
            continue
        oracle = specs[name].oracle
        try:
            if oracle is None:
                issues = [] if len(got) else ["no rows and no oracle"]
            else:
                issues = compare(name, got, con.execute(oracle).fetchdf())
        except Exception as exc:
            issues = [f"oracle error: {type(exc).__name__}: {exc}"]
        problems.extend(f"{name}: {p}" for p in issues)
    con.close()
    return problems


def measure(spark, specs: dict, workload: str, queries: tuple[str, ...], seed: int, seconds: float,
            trace: bool, warm_passes: int = 0) -> dict:
    """Warm passes, timed passes and oracle check on a running session."""
    rng = random.Random(seed)
    runner = Runner(spark, specs, workload)
    # one seed-chosen order for every pass: between two executions of a
    # query all the others run once, so state they leave behind (Spark's
    # codegen cache, the JIT's profiles) is the same for every execution
    order = rng.sample(queries, len(queries))
    try:
        t = time.perf_counter()
        results = {name: runner.collect(name) for name in queries}
        for _ in range(warm_passes):
            for name in order:
                runner.execute(name, -1, False)
        warm_pass_s = time.perf_counter() - t
        setup_s = process_age_s()
        runner.jobs.skip_to_now()

        untraced: list[dict] = []
        traced: list[dict] = []
        deadline = time.perf_counter() + seconds
        pass_no = 0
        # at least two whole passes; after that the run ends at the deadline,
        # also in the middle of a pass
        while pass_no < 2 or time.perf_counter() < deadline:
            # untraced, traced, traced, untraced, ...: both kinds see the same warm-up
            is_traced = trace and pass_no % 4 in (1, 2)
            if is_traced:
                runner.tracer.install()
            try:
                for q in order:
                    if pass_no >= 2 and time.perf_counter() >= deadline:
                        break
                    if (sample := runner.execute(q, pass_no, is_traced)) is not None:
                        (traced if is_traced else untraced).append(sample)
            finally:
                runner.tracer.uninstall()
            pass_no += 1
    finally:
        spark.streams.removeListener(runner.streams)

    walls = [s["wall_s"] for s in untraced]
    tail_s, tail_pct, n = tail(walls)
    e2e = {
        "setup_s": setup_s,
        "mix_s": _pass_median(untraced, lambda s: s["wall_s"]),
        "query_gmean_s": statistics.geometric_mean(_query_medians(untraced, lambda s: s["wall_s"])),
    }
    # the pooled median and tail are recorded, not bounded: the samples of
    # a mix bunch by query with wide gaps between, and which side of a gap
    # they fall on depends on how many passes ran
    layers = {"setup.warm_pass_s": warm_pass_s, "run.query_p50_s": statistics.median(walls),
              "run.query_tail_s": tail_s}
    if trace:
        layers.update(layer_metrics(untraced, traced, runner.tracer))
    return {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "passes": pass_no,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "failures": runner.failures,
        "results": results,
        "tail": {"percentile": tail_pct, "samples": n},
        "e2e": e2e,
        "layers": layers,
        "samples": untraced + traced,
        "tracer": runner.tracer,
    }


def check(rec: dict, specs: dict) -> None:
    """Check the results ``measure`` collected against their oracles and
    count every query with a wrong result as failed."""
    problems = check_outputs(specs, rec.pop("results"))
    for p in problems:
        print(f"[perfbench] WRONG RESULT {p}", file=sys.stderr, flush=True)
    rec["failed"] += len({p.split(":", 1)[0] for p in problems})
    rec["failures"] += problems


def start_spark():
    """The package's own session at local[N], N = the cores this process may use."""
    from kaylee_spark.session import get_spark

    spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run(workload: str, mix, seed: int, seconds: float, trace: bool) -> dict:
    """One benchmark run: session, measurement, shutdown, oracle check.

    The oracle runs in this process (DuckDB) after the session is gone,
    outside the memory sampler: g06's oracle alone grew it by 1.1 GB.
    """
    from layers import RssSampler

    from kaylee_spark.queries import load_all

    specs = load_all()
    with RssSampler() as rss:
        t = time.perf_counter()
        spark = start_spark()
        get_spark_s = time.perf_counter() - t
        try:
            rec = measure(spark, specs, workload, mix.core, seed, seconds, trace, WARM_PASSES)
        finally:
            stop_spark(spark)
    check(rec, specs)
    rec["e2e"]["peak_rss_mb"] = rss.peak_bytes / 2**20
    rec["layers"]["session.get_spark_s"] = get_spark_s
    rec["nproc"] = os.cpu_count()
    rec["local_n"] = len(os.sched_getaffinity(0))
    return rec


def main(argv: list[str] | None = None) -> int:
    from mixes import MIXES

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(MIXES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [t for t in ("lineitem", "events", "documents") if not os.path.isfile(os.path.join(DATA, f"{t}.parquet"))]
    if missing or not os.path.isdir(os.path.join(ROOT, "kaylee_spark")):
        print(f"[perfbench] no fixtures or no kaylee_spark package under {ROOT}", file=sys.stderr)
        return 1

    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{time.time_ns()}")
    isolate(run_dir)
    try:
        rec = run(args.workload, MIXES[args.workload], args.seed, args.seconds, bool(args.trace))
    finally:
        tmp_left_mb = dir_bytes(run_dir) / 2**20
        shutil.rmtree(run_dir, ignore_errors=True)
    layers = rec["layers"]
    layers["run.failed_frac"] = rec["failed"] / rec["attempted"]
    layers["run.tmp_left_mb"] = tmp_left_mb

    out_dir = os.path.join(WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    tracer = rec.pop("tracer")
    if args.trace:
        tracer.dump(os.path.join(out_dir, f"{stem}.spans.json"))
    with open(os.path.join(out_dir, f"{stem}.json"), "w") as f:
        json.dump(rec, f, indent=1)

    print(f"perfbench {args.workload} seed={args.seed} local[{rec['local_n']}] nproc={rec['nproc']} "
          f"passes={rec['passes']} attempted={rec['attempted']} failed={rec['failed']}")
    for name, value in rec["e2e"].items():
        print(f"  {name:<14} {value:10.4f} {E2E_UNITS[name]}")
    print(f"  {'query_p50_s':<14} {layers['run.query_p50_s']:10.4f} s")
    print(f"  {'query_tail_s':<14} {layers['run.query_tail_s']:10.4f} s  "
          f"(p{rec['tail']['percentile']:.0f} of {rec['tail']['samples']} samples)")
    print(f"  {'failed_frac':<14} {layers['run.failed_frac']:10.4f}")
    print(f"  {'tmp_left_mb':<14} {tmp_left_mb:10.4f} MB")
    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, u in per_layer_units().items() for v in [layers[k]]}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in rec["e2e"].items()}
    print(json.dumps({"correct": rec["failed"] == 0, "attempted": rec["attempted"], "failed": rec["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
