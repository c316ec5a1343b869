"""Closed-loop benchmark of ezdata_spark workloads.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 16 --trace 0

One client in one process runs a workload's catalog queries on
``local[<cpus of this process>]``.  Each query is built through
``QUERIES[name]`` and materialised with the noop sink; the next query
starts only after that action returns.

A run starts a session, warms the JVM, and runs one untimed pass that
checks every query's result.  It then times whole passes, each a
permutation of the queries drawn from ``--seed``; ``--seconds`` sets
how many (``Workload.passes``).  With ``--trace 1`` the timed passes
alternate between untraced and traced ones; the traced passes record
spans around the program's modules (see ``spans.py``) and give the
per-layer metrics.

The last line on stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the metric names and units
are those of ``BENCHMARK.json``.  Everything a run writes (warehouse,
temp files, Spark local dirs) goes to ``perfbench/.work/`` and is
removed when the run ends.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import dataclasses  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from collections import defaultdict  # noqa: E402
from pathlib import Path  # noqa: E402

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
DRIVER_MEMORY = "4g"

sys.path.insert(0, str(BENCH_DIR))

import spans as spans_mod  # noqa: E402
import stats  # noqa: E402
from sparkmon import SparkUI, cpu_times, descendants, pyworker_cpu_s, steal_share  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def cpus() -> int:
    return len(os.sched_getaffinity(0))


@contextlib.contextmanager
def hermetic_env(tag: str):
    """Pin the session size, give the run its own cwd (hence its own
    warehouse), temp dir and Spark local dirs, and export the import
    path to the Python workers.  Removes the run's files on exit."""
    work = BENCH_DIR / ".work" / f"{tag}-{os.getpid()}"
    tmp, local = work / "tmp", work / "local"
    tmp.mkdir(parents=True)
    local.mkdir()
    pythonpath = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus()),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        PYTHONPATH=os.pathsep.join(pythonpath),
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(local),
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            # no hsperfdata file in the system temp dir
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
        ),
    )
    tempfile.tempdir = None
    sys.path.insert(0, str(ROOT))
    cwd = os.getcwd()
    os.chdir(work)
    try:
        yield work
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            (BENCH_DIR / ".work").rmdir()


def start_session():
    from ezdata_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it ran in, and wait for every child
    process (JVM, Python workers) to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while descendants(os.getpid())[1:] and time.monotonic() < deadline:
        time.sleep(0.1)


def jvm_warmup(spark) -> None:
    """Generic warm-up (no benchmark query): scan, hash, shuffle and
    aggregate, so the first pass does not pay for JIT of Spark's own
    machinery alone."""
    df = spark.range(0, 200_000, 1, cpus()).selectExpr("id % 97 AS k", "xxhash64(id) AS h")
    df.groupBy("k").agg({"h": "max"}).write.format("noop").mode("overwrite").save()


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def release(spark) -> None:
    # through the module attribute, so a traced pass sees the call
    from ezdata_spark import cache

    cache.release_caches()
    spark.catalog.clearCache()


class Run:
    def __init__(self, spark, workload, seed: int):
        from ezdata_spark.queries import QUERIES

        self.spark = spark
        self.sf_dir = str(BENCH_DIR / "data" / workload.sf)
        self.queries = QUERIES
        self.rng = random.Random(seed)
        self.order = list(workload.queries)
        self.attempted = 0
        self.failures: list[str] = []

    def permutation(self) -> list[str]:
        self.rng.shuffle(self.order)
        return list(self.order)

    def fail(self, name: str, what: str) -> None:
        self.failures.append(name)
        print(f"# FAIL {name}: {what[:500]}", file=sys.stderr, flush=True)

    def check_pass(self, checker) -> None:
        for name in self.permutation():
            self.attempted += 1
            problem = checker.check(self.spark, name, self.queries[name])
            release(self.spark)
            if problem is not None:
                self.fail(name, problem)

    def plain_pass(self, latencies) -> float:
        t0 = time.perf_counter()
        for name in self.permutation():
            self.attempted += 1
            q0 = time.perf_counter()
            try:
                noop(self.queries[name](self.spark, self.sf_dir))
            except Exception as exc:  # noqa: BLE001 - a failing query is a result
                self.fail(name, f"{type(exc).__name__}: {exc}")
            else:
                latencies[name].append(time.perf_counter() - q0)
            release(self.spark)
        return time.perf_counter() - t0

    def traced_pass(self, tracer, ui, index: int) -> tuple[float, dict]:
        """One pass with spans; returns its wall time and layer totals."""
        totals: dict[str, float] = defaultdict(float)
        t0 = time.perf_counter()
        for name in self.permutation():
            self.attempted += 1
            qid = f"{index}:{name}"
            tracer.query = qid
            try:
                cpu0 = time.process_time()
                with tracer.span("build", "phase") as build:
                    df = self.queries[name](self.spark, self.sf_dir)
                totals["build.driver_cpu_s"] += time.process_time() - cpu0
                totals["catalyst.analysis_s"] += _phase_seconds(df, "analysis")
                pw0 = pyworker_cpu_s()
                with tracer.span("exec", "phase") as execute:
                    noop(df)
                totals["exec.pyworker_cpu_s"] += pyworker_cpu_s() - pw0
                totals["cache.stored_bytes"] += ui.stored_bytes()
            except Exception as exc:  # noqa: BLE001 - a failing query is a result
                self.fail(name, f"{type(exc).__name__}: {exc}")
                build = execute = None
            release(self.spark)
            tracer.query = None
            qspans = [s for s in tracer.spans if s.query == qid]
            spans_mod.attribute_jobs(qspans, ui.new_jobs())
            _add_query_layers(totals, qspans, build, execute)
        wall = time.perf_counter() - t0
        totals["cache.tracked"] = totals["cache.track.calls"]
        totals["cache.release_s"] = totals["cache.release.self_s"]
        if totals["exec.s"] > 0:
            totals["exec.slot_util"] = totals["exec.run_s"] / (totals["exec.s"] * cpus())
        return wall, totals


def _phase_seconds(df, phase: str) -> float:
    summary = df._jdf.queryExecution().tracker().phases().get(phase)
    return summary.get().durationMs() / 1e3 if summary.isDefined() else 0.0


JOB_SUMS = ("stages", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "failed_tasks")


def _add_query_layers(totals, qspans, build, execute) -> None:
    selfs = spans_mod.self_times(qspans)
    for s in qspans:
        totals[f"{s.layer}.calls"] += 1
        totals[f"{s.layer}.self_s"] += selfs.get(s.sid, 0.0)
        totals[f"{s.layer}.jobs"] += len(s.jobs)
        totals[f"{s.layer}.bytes_written"] += s.bytes_written
    if build is None:
        return
    build_jobs = [j for s in spans_mod.subtree(qspans, build) for j in s.jobs]
    totals["build.s"] += build.end - build.start
    totals["build.jobs"] += len(build_jobs)
    totals["build.job_s"] += sum(j["completed"] - j["submitted"] for j in build_jobs if j["completed"])
    exec_jobs = [j for s in spans_mod.subtree(qspans, execute) for j in s.jobs]
    totals["exec.s"] += execute.end - execute.start
    totals["exec.jobs"] += len(exec_jobs)
    for key in JOB_SUMS:
        totals[f"exec.{key}"] += sum(j[key] for j in exec_jobs)
    # Catalyst work of the action: from the action's call to its first job
    first = min((j["submitted"] for j in exec_jobs), default=execute.end)
    totals["catalyst.plan_s"] += max(0.0, min(first, execute.end) - execute.start)


def install_tracer(tracer) -> None:
    """Wrap the program's public entry points: every operator, source,
    streaming and astro function that ``queries.py`` imports inside a
    query, plus ``expr.translate``, the ``EzTable`` methods and the
    ``cache`` registry."""
    import ast
    import importlib
    import inspect

    import ezdata_spark.queries as queries_mod
    from ezdata_spark.table import EzTable

    tree = ast.parse(Path(queries_mod.__file__).read_text())
    called = {id(c.func) for c in ast.walk(tree) if isinstance(c, ast.Call)}
    # a name used other than as a callee may be handed to a UDF: never wrap it
    handed = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name) and id(n) not in called}
    prefixes = ("operators.", "sources.", "streaming.", "functions.astro")
    targets = {
        ("ezdata_spark.expr", "translate", "expr.translate"),
        ("ezdata_spark.cache", "track", "cache.track"),
        ("ezdata_spark.cache", "release_caches", "cache.release"),
    }
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 1 and (node.module or "").startswith(prefixes):
            module = importlib.import_module(f"ezdata_spark.{node.module}")
            for alias in node.names:
                if alias.name not in handed and inspect.isfunction(getattr(module, alias.name, None)):
                    targets.add((module.__name__, alias.name, node.module))
    tracer.install(sorted(targets))
    tracer.install_methods(EzTable, "table")


def layer_metrics(traced: list[dict], untraced_walls: list[float], traced_walls: list[float], names) -> dict:
    out = {name: statistics.median(p.get(name, 0.0) for p in traced) for name in names}
    out["trace.overhead"] = statistics.median(traced_walls) / statistics.median(untraced_walls)
    return out


def end_to_end(latencies, walls, setup_s, rss_mb) -> tuple[dict, str]:
    pooled = [x for xs in latencies.values() for x in xs]
    tail, pct, n = stats.tail(pooled)
    values = {
        "setup_s": setup_s,
        "pass_s": statistics.median(walls),
        "query_geomean_s": stats.geomean(statistics.median(xs) for xs in latencies.values() if xs),
        "latency_p50_s": statistics.median(pooled),
        "latency_tail_s": tail,
        "rss_mb": rss_mb,
    }
    return values, f"latency_tail_s is p{pct:.1f} of {n} executions"


def tree_rss_mb(spark) -> float:
    """Process-tree RSS after a full GC.  G1 hands the freed heap back to
    the OS on a background thread, in steps, and a further full GC
    shrinks the heap again; so collect, wait a second and read, until
    the reading holds within 1 % (at most 6 rounds)."""
    import bench

    gc.collect()
    rss = None
    for _ in range(6):
        spark._jvm.System.gc()
        time.sleep(1.0)
        now = bench._tree_rss_mb()
        if rss is not None and now >= 0.99 * rss:
            break
        rss = now
    return float(now)


def run(workload_name: str, seed: int, seconds: float, trace: bool, spec: dict,
        sf: str | None = None, passes: int | None = None) -> dict:
    """One benchmark run.  ``sf`` and ``passes`` override the workload's
    scale and pass count (the smoke tests use them)."""
    from check import Checker

    workload = WORKLOADS[workload_name]
    if sf is not None:
        workload = dataclasses.replace(workload, sf=sf)
    load_start = os.getloadavg()
    with hermetic_env(workload_name):
        t0 = time.perf_counter()
        spark = start_session()
        session_start_s = time.perf_counter() - t0
        try:
            run = Run(spark, workload, seed)
            checker = Checker(BENCH_DIR / "data" / workload.sf, workload.sf)
            t1 = time.perf_counter()
            jvm_warmup(spark)
            run.check_pass(checker)
            checker.close()
            # the checking pass is the first call of every query; one
            # more pass lets the JIT catch up before anything is timed
            run.plain_pass(defaultdict(list))
            # the DuckDB oracle's own time is not the program's set-up
            session_warm_s = time.perf_counter() - t1 - checker.oracle_seconds
            setup_s = time.perf_counter() - T_START - checker.oracle_seconds

            latencies: dict[str, list[float]] = defaultdict(list)
            walls, traced_walls, traced = [], [], []
            tracer = spans_mod.Tracer(spark.sparkContext) if trace else None
            ui = SparkUI(spark.sparkContext) if trace else None
            passes = passes or workload.passes(seconds)
            cpu0 = cpu_times()
            for index in range(passes):
                if trace and index % 2 == 1:
                    install_tracer(tracer)
                    ui.skip_jobs()
                    try:
                        wall, totals = run.traced_pass(tracer, ui, index)
                    finally:
                        tracer.uninstall()
                    traced_walls.append(wall)
                    traced.append(totals)
                else:
                    walls.append(run.plain_pass(latencies))
            steal = steal_share(cpu0, cpu_times())
            rss_mb = tree_rss_mb(spark)
        finally:
            stop_session(spark)

    if trace:
        names = [m["name"] for m in spec["per_layer"]]
        values = layer_metrics(traced, walls, traced_walls, names)
        values["session.start_s"] = session_start_s
        values["session.warm_s"] = session_warm_s
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        note = f"{len(traced)} traced and {len(walls)} untraced passes"
    else:
        values, note = end_to_end(latencies, walls, setup_s, rss_mb)
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        note += "; timed passes " + " ".join(f"{w:.3f}" for w in walls) + " s"
    print(f"# {workload_name} seed={seed} cpus={cpus()} load_at_start={[round(x, 2) for x in load_start]}"
          f" steal_during_timed_passes={steal:.1%}: {note}")
    return {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {name: {"value": values[name], "unit": unit} for name, unit in units.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    for needed in (ROOT / "ezdata_spark", ROOT / "tests" / "oracle_check.py", ROOT / "bench.py"):
        if not needed.exists():
            print(f"error: {needed.relative_to(ROOT)} not found; run from a checkout of the repository",
                  file=sys.stderr)
            return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), spec)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
