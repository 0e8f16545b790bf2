#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_backfill --seed 1 --seconds 5 --trace 0

Run from the repository root. Builds the workload's inputs from
``--seed`` under ``.perfbench_work/``, boots a ``local[nproc]`` session
through the package's ``get_spark``, measures for ``--seconds``, checks
the outputs, and prints as its last stdout line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, the per-layer ones with
``--trace 1``. The line before it is a report with the environment,
sample counts, error rate and any problems. A traced run also writes
its spans and job counts to ``.perfbench_out/``.

Exits with code 2, printing no result, when the package is missing.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "spotify_serverless_etl_pipeline_engineering_with_azure_spark"
# Everything a run writes, removed by cleanup(); per process, so
# concurrent runs in one checkout do not collide.
WORK = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))

# Heap of the session JVM: far below host RAM. It is committed and touched at
# JVM start (-Xms = -Xmx, AlwaysPreTouch), so peak RSS does not depend on
# how far G1 happened to grow the heap in a run: left to grow, the JVM's
# peak nearly doubled between some runs of one workload. At 1g olap_star's
# passes were GC-bound.
HEAP = "1536m"

# Session variables the benchmark owns; inherited values would make runs
# incomparable.
_OWNED_ENV = (
    "SPARK_GRAFT_MASTER",
    "SPARK_GRAFT_SHUFFLE_PARTITIONS",
    "SPARK_GRAFT_SHUFFLE_INITIAL",
    "SPARK_GRAFT_EXTRA_CONFS",
    "SPARK_GRAFT_INDEX_DIR",
)


def host_env(work: str) -> dict[str, str]:
    """Fit the session to the host: all usable cores, a heap well below
    host RAM, and every scratch directory inside the checkout. The temp
    directory is per process, not per run: the registry zips the
    package into it once per process."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    return {
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
    }


def spark_confs(work: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # Compiler threads that live as long as the JVM, so the CPU time
        # of the JIT, left out of the measured passes, is all on threads
        # that can still be read: an exiting compiler thread would take
        # its CPU time with it and leave it in the process's.
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }


def _q(xs: list[float], q: float) -> float:
    """The q-quantile (0 < q < 1) of xs, inclusive method."""
    if not xs:
        return 0.0
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(bench, peak_rss_mb: float) -> dict[str, tuple[float, str]]:
    return {
        "setup_s": (bench.setup_s, "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "cpu_ms_per_item": (1000 * _med(bench.cpu_per_item_s), "ms"),
    }


def wall_times(bench) -> dict[str, float]:
    """Wall-clock figures, for the report line only: on a shared host
    they follow the CPU time other guests take (``host_steal_pct``)."""
    return {
        "setup_s": bench.setup_wall_s,
        "op_p50_s": _med(bench.op_s),
        "op_p90_s": _q(bench.op_s, 0.9),
        "pass_s": _med(bench.pass_s),
        "items_per_s": bench.items / bench.item_s if bench.item_s else 0.0,
    }


def per_layer(bench) -> dict[str, tuple[float, str]]:
    from workloads import STREAM_PHASES, TABLES

    tr, layers = bench.tracer, bench.layers
    ops: dict[int, dict[str, int]] = {}
    for c in tr.counts:
        agg = ops.setdefault(c["op"], {})
        for k in ("jobs", "stages", "tasks", "narrow_stages", "failed_tasks"):
            agg[k] = agg.get(k, 0) + c[k]

    def per_op(k: str) -> float:
        return statistics.fmean(o[k] for o in ops.values()) if ops else 0.0

    build = [c["jobs"] for c in tr.counts if c["group"].endswith(".build")]
    out = {
        "session.get_spark_s": (layers.get("get_spark_s", 0.0), "s"),
        "registry.load_all_s": (layers.get("load_all_s", 0.0), "s"),
        "registry.build_s": (_med(tr.durations("build")), "s"),
        "spark.exec_s": (_med(tr.durations("exec")), "s"),
        "spark.build_jobs": (statistics.fmean(build) if build else 0.0, "count"),
        "spark.jobs": (per_op("jobs"), "count"),
        "spark.stages": (per_op("stages"), "count"),
        "spark.tasks": (per_op("tasks"), "count"),
        "spark.narrow_stages": (per_op("narrow_stages"), "count"),
        "spark.failed_tasks": (float(sum(o["failed_tasks"] for o in ops.values())), "count"),
    }
    for t in TABLES:
        out[f"operators.sinks.write_csv_s.{t}"] = (
            _med(tr.durations(f"operators.sinks.write_csv.{t}")), "s"
        )
    out["operators.sinks.out_bytes_per_item"] = (_med(layers.get("out_bytes_per_item", [])), "B/item")
    for phase in STREAM_PHASES:
        out[f"streaming.{phase}_ms"] = (_med(layers.get(phase, [])), "ms")
    out["streaming.batches"] = (_med(layers.get("batches", [])), "count")
    untraced, traced = _med(bench.pass_s), _med(bench.traced_pass_s)
    out["trace.overhead_pct"] = (100.0 * (traced / untraced - 1.0) if untraced and traced else 0.0, "%")
    return out


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def environment(spark) -> dict:
    sc = spark.sparkContext
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpus_effective": sc.defaultParallelism,
        "master": sc.master,
        "heap": sc.getConf().get("spark.driver.memory"),
        "spark": spark.version,
        "java": sc._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }


def stop_session(spark) -> None:
    """Stop the session and the JVM behind it, and wait until the JVM
    and every worker below this process have exited."""
    from pyspark import SparkContext

    from tracing import descendants

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def run(workload: str, seed: int, seconds: float, trace: bool, sizes=None, corrupt: bool = False) -> dict:
    """Run one workload in this process; returns the full record:
    ``result`` (the printed contract line, both metric sets), ``report``
    and the bench itself."""
    import tempfile

    from tracing import RssSampler, Tracer
    from workloads import WORKLOADS, Bench, Sizes

    work = os.path.join(WORK, f"{workload}-{seed}")
    shutil.rmtree(work, ignore_errors=True)
    env = host_env(work)
    for d in (env["TMPDIR"], env["SPARK_LOCAL_DIRS"]):
        os.makedirs(d, exist_ok=True)
    for k in _OWNED_ENV:
        os.environ.pop(k, None)
    os.environ.update(env)
    tempfile.tempdir = None
    bench = Bench(
        workload=workload,
        seed=seed,
        seconds=seconds,
        sizes=sizes or Sizes(),
        work=work,
        tracer=Tracer(enabled=trace, cores=int(env["SPARK_GRAFT_CPUS"])),
        spark_confs=spark_confs(work),
        corrupt=corrupt,
    )
    ticks = _cpu_ticks()
    try:
        with RssSampler() as rss:
            WORKLOADS[workload](bench)
            info = environment(bench.spark)
    finally:
        stop_session(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
    # Share of CPU time the hypervisor gave to other guests during the
    # run: on a shared host it explains run-to-run spread.
    spent = [b - a for a, b in zip(ticks, _cpu_ticks())]
    info["host_steal_pct"] = 100.0 * spent[7] / max(1, sum(spent[:8]))
    e2e = end_to_end(bench, rss.peak_mb)
    layers = per_layer(bench)
    report = {
        "workload": workload,
        "seed": seed,
        "trace": int(trace),
        "error_rate": bench.failed / max(1, bench.attempted),
        "samples": {"ops": len(bench.op_s), "passes": len(bench.pass_s),
                    "traced_passes": len(bench.traced_pass_s)},
        "wall": wall_times(bench),
        "cpu_ms_per_item_passes": [1000 * x for x in bench.cpu_per_item_s],
        "env": info,
        "problems": bench.problems[:20],
    }
    result = {
        "correct": bench.failed == 0,
        "attempted": max(1, bench.attempted),
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in (layers if trace else e2e).items()},
    }
    return {"result": result, "report": report, "end_to_end": e2e, "per_layer": layers, "bench": bench}


def cleanup() -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(WORK))
    except OSError:
        pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(
        "olap_star", "corpus_cold", "etl_backfill", "etl_blob_stream"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if importlib.util.find_spec(PACKAGE) is None:
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    try:
        out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        cleanup()
    if args.trace:
        out["bench"].tracer.dump(
            os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-seed{args.seed}.json"),
            {"report": out["report"], "result": out["result"]},
        )
    print(json.dumps(out["report"]))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
