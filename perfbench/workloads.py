"""The benchmark workloads.

Each is a closed loop: one process, one operation at a time, on
``local[nproc]``. A workload function gets a ``Bench`` (seed, sizes,
tracer, live session) and fills in its measurements:

- ``olap_star``: 18 star-schema registry queries, warm, in a seeded
  order per pass; operation = one query.
- ``corpus_cold``: the 9 dedup, text and similarity queries, each
  against a fresh snapshot directory holding a seeded row sample of the
  corpus, so every call builds its index; operation = one query.
- ``etl_backfill``: ``read_raw_json`` -> ``transform`` -> ``write_csv``
  x3 over a seeded raw zone; operation = one backfill of the zone.
- ``etl_blob_stream``: ``run_spotify_pipeline`` with availableNow and
  one blob per trigger; operation = one blob (trigger), pass = one
  drain of the staged zone.

Set-up (session boot, registry import, warm-up) is measured into
``setup_s``; input generation and output checks are not measured at
all. Every operation has a ``build`` span (making its DataFrame or
starting its stream) and an ``exec`` span (running its actions).

olap_star and corpus_cold are not listed in BENCHMARK.json (see
perfbench/README.md); they stay runnable and in the smoke test.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

import datagen
from checks import (
    check_query,
    compare_rows,
    corrupt_one,
    read_csv_dir,
    star_oracle,
)
from tracing import Tracer, tree_cpu_s

OLAP_QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q13_customer_distribution",
    "q18_large_volume_customers",
    "top_customers_by_revenue",
    "join_broadcast_enrich",
    "window_rank_topn",
    "window_running_lag",
    "events_tumbling_window",
    "events_sessionization",
    "json_extract_events",
    "asof_join_events",
    "range_join_close_events",
    "merge_upsert_orders",
    "events_multires_rollup",
)
CORPUS_QUERIES = (
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "text_fingerprint",
    "text_quality_score",
    "sim_cosine_topk_bruteforce",
    "sim_ann_lsh_bucketed",
    "sim_ann_ivf",
)
TABLES = ("songs", "artists", "albums")
STREAM_PHASES = ("addBatch", "getBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets")


@dataclass(frozen=True)
class Sizes:
    """Input sizes. ``star_sf`` scales the star schema (lineitem =
    6M x sf); the corpus is ``corpus_docs`` documents and
    ``corpus_vecs`` embeddings, sampled at ``snapshot_frac`` per
    snapshot."""

    star_sf: float = 0.01
    corpus_docs: int = 1500
    corpus_vecs: int = 600
    snapshot_frac: float = 0.8
    check_frac: float = 0.15
    backfill_blobs: int = 16
    backfill_items: int = 500
    backfill_warm: int = 6
    backfill_passes: int = 6
    stream_blobs: int = 4
    stream_items: int = 100
    stream_warm_blobs: int = 4
    stream_drains: int = 3


SMOKE_SIZES = Sizes(
    star_sf=0.001,
    corpus_docs=300,
    corpus_vecs=200,
    check_frac=0.8,
    backfill_blobs=3,
    backfill_items=40,
    backfill_warm=1,
    backfill_passes=1,
    stream_blobs=2,
    stream_items=20,
    stream_warm_blobs=1,
    stream_drains=1,
)


@dataclass
class Bench:
    """One run: its inputs, its live session and what it measured."""

    workload: str
    seed: int
    seconds: float
    sizes: Sizes
    work: str
    tracer: Tracer
    spark_confs: dict = field(default_factory=dict)
    corrupt: bool = False
    spark: object = None
    queries: dict = field(default_factory=dict)
    oracles: dict = field(default_factory=dict)
    # measurements
    setup_s: float = 0.0
    setup_wall_s: float = 0.0
    _setup_start: tuple[float, float] = (0.0, 0.0)
    op_s: list[float] = field(default_factory=list)
    pass_s: list[float] = field(default_factory=list)
    traced_pass_s: list[float] = field(default_factory=list)
    cpu_per_item_s: list[float] = field(default_factory=list)
    items: int = 0
    item_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    layers: dict = field(default_factory=dict)

    def boot(self) -> None:
        """Session boot and registry import, the start of set-up; each
        is reported per layer."""
        t0 = time.perf_counter()
        self._setup_start = (t0, tree_cpu_s(os.getpid()))
        with self.tracer.span("session.get_spark"):
            from spotify_serverless_etl_pipeline_engineering_with_azure_spark.session import (
                get_spark,
            )

            self.spark = get_spark("perfbench", extra=self.spark_confs)
        t1 = time.perf_counter()
        with self.tracer.span("registry.load_all"):
            from spotify_serverless_etl_pipeline_engineering_with_azure_spark import registry

            reg = registry.load_all()
        t2 = time.perf_counter()
        self.queries = {name: q.fn for name, q in reg.items()}
        self.oracles = registry.oracle_sql()
        self.layers["get_spark_s"] = t1 - t0
        self.layers["load_all_s"] = t2 - t1

    def setup_done(self) -> None:
        """End of set-up (boot, registry import, warm-up): ``setup_s`` is
        the CPU time the process tree spent in it, ``setup_wall_s`` its
        wall time."""
        t0, cpu0 = self._setup_start
        self.setup_wall_s = time.perf_counter() - t0
        self.setup_s = tree_cpu_s(os.getpid()) - cpu0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fail(self, what: str, exc: BaseException | str) -> None:
        self.failed += 1
        self.problems.append(f"{what}: {exc}"[:500])

    def check(self, problems: list[str]) -> None:
        """One output check: counts as an attempt, and as a failure on
        any mismatch."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems)

    def record_pass(self, wall: float, cpu: float, items: int, traced: bool) -> None:
        """One measured pass: ``wall`` seconds, ``cpu`` seconds of the
        process tree, ``items`` done. CPU time leaves out the time the
        hypervisor gives to other guests, which wall time on a shared
        host follows."""
        if traced:
            self.traced_pass_s.append(wall)
            return
        self.pass_s.append(wall)
        self.items += items
        self.item_s += wall
        self.cpu_per_item_s.append(cpu / items)

    def passes(self, traced_too: bool, minimum: int = 1):
        """Passes of the measured region, which ends at the first pass
        boundary after ``seconds`` and ``minimum`` passes. In a traced
        run passes alternate untraced/traced and go on until each kind
        has run once. Yields (index, traced).

        Passes get cheaper for a while after warm-up, as the JIT
        compiles more of Spark's code, so the median of a run depends
        on how many passes it ran. With ``minimum`` above what
        ``seconds`` allows, every run of a workload measures the same
        passes."""
        start = time.perf_counter()
        i = 0
        while True:
            done = time.perf_counter() - start >= self.seconds
            if done and i >= max(minimum, 2 if traced_too else 1):
                return
            yield i, traced_too and i % 2 == 1
            i += 1


def work_cpu_s() -> float:
    """CPU seconds of this process tree so far, JIT compilation left out:
    what the measured passes count."""
    return tree_cpu_s(os.getpid(), jit=False)


def _query_op(bench: Bench, name: str, data_dir: str, op: int, collect: bool = False):
    """Build and run one registry query; returns (seconds, pandas result
    or None). The build (the query callable) and the execution (the
    action) are separate spans and job groups."""
    tr, sc = bench.tracer, bench.spark.sparkContext
    fn = bench.queries[name]
    t0 = time.perf_counter()
    with tr.span("op", op):
        with tr.job_group(sc, f"op{op}.build", op), tr.span("build", op):
            df = fn(bench.spark, data_dir)
        with tr.job_group(sc, f"op{op}.exec", op), tr.span("exec", op):
            if collect:
                out = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
                out = None
    return time.perf_counter() - t0, out


def _query_pass(bench: Bench, names, data_dir_for, op0: int, collect: bool = False):
    """One pass over ``names``. Returns (per-op seconds, CPU seconds,
    next op id, collected results); a failed operation is counted and
    leaves the pass incomplete (``None`` seconds). Making a snapshot
    directory is neither timed nor counted in the CPU time."""
    op_s, cpu, op, results = [], 0.0, op0, {}
    for name in names:
        data_dir = data_dir_for(op)
        bench.attempted += 1
        cpu0 = work_cpu_s()
        try:
            dt, out = _query_op(bench, name, data_dir, op, collect)
        except Exception as exc:  # a failing query is counted, the run goes on
            bench.fail(name, exc)
            return None, cpu, op + 1, results
        cpu += work_cpu_s() - cpu0
        op_s.append(dt)
        if collect:
            results[name] = (out, data_dir)
        op += 1
    return op_s, cpu, op, results


def _query_workload(bench: Bench, names, data_dir_for, warm_dir_for) -> None:
    """Shared loop of olap_star and corpus_cold. A warm-up pass collects
    each result for the oracle check; measured passes then run the mix
    in a seeded order. Latency percentiles are over whole passes only,
    so every query weighs the same in them."""
    tr = bench.tracer
    was, tr.enabled = tr.enabled, False
    _, _, op, results = _query_pass(bench, names, warm_dir_for, 0, collect=True)
    bench.setup_done()
    for name, (got, data_dir) in results.items():
        bench.check(check_query(name, got, bench.oracles[name], data_dir, bench.corrupt))
    rng = random.Random(bench.seed)
    for _, traced in bench.passes(was):
        order = list(names)
        rng.shuffle(order)
        tr.enabled = traced
        op_s, cpu, op, _ = _query_pass(bench, order, data_dir_for, op)
        if op_s is None:
            continue
        bench.record_pass(sum(op_s), cpu, len(op_s), traced)
        if not traced:
            bench.op_s += op_s
    tr.enabled = was


def olap_star(bench: Bench) -> None:
    data = datagen.write_tables(
        bench.path("star"), datagen.star_tables(bench.seed, bench.sizes.star_sf)
    )
    bench.boot()
    _query_workload(bench, OLAP_QUERIES, lambda op: data, lambda op: data)


def corpus_cold(bench: Bench) -> None:
    """The warm-up pass, whose results are checked, runs on smaller
    snapshots (``check_frac``): the DuckDB oracles of the LSH queries
    take seconds per thousand documents."""
    s = bench.sizes
    corpus = datagen.corpus_tables(bench.seed, s.corpus_docs, s.corpus_vecs)

    def snapshot(frac: float):
        def make(op: int) -> str:
            return datagen.sample_snapshot(
                corpus, bench.path("snapshots", f"op{op}"), bench.seed * 100_003 + op, frac
            )

        return make

    bench.boot()
    _query_workload(bench, CORPUS_QUERIES, snapshot(s.snapshot_frac), snapshot(s.check_frac))


def _backfill_op(bench: Bench, raw_dir: str, out: str, op: int) -> float:
    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.operators import (
        sinks,
        spotify,
    )

    tr, sc = bench.tracer, bench.spark.sparkContext
    t0 = time.perf_counter()
    with tr.span("op", op):
        with tr.span("build", op):
            with tr.span("operators.spotify.read_raw_json", op):
                raw = spotify.read_raw_json(bench.spark, raw_dir)
            with tr.span("operators.spotify.transform", op):
                tables = spotify.transform(raw)
        with tr.span("exec", op):
            for name in TABLES:
                with tr.job_group(sc, f"op{op}.write_csv.{name}", op), tr.span(
                    f"operators.sinks.write_csv.{name}", op
                ):
                    sinks.write_csv(tables[name], os.path.join(out, name))
    return time.perf_counter() - t0


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


def _check_star(bench: Bench, out_dir_for, docs: list[dict]) -> None:
    want = star_oracle(docs)
    problems = []
    for name in TABLES:
        got = read_csv_dir(out_dir_for(name), name)
        if bench.corrupt and name == "songs" and got:
            got = corrupt_one(got)
        problems += compare_rows(name, got, want[name])
    bench.check(problems)


def etl_backfill(bench: Bench) -> None:
    """Set-up warms up with ``backfill_warm`` backfills of the zone: the
    JIT compiles Spark's planning code only after several plans, and
    until then a backfill costs up to three times its CPU time once
    warm. The fixed cost of a backfill (planning, jobs, three CSV
    writes) outweighs its per-item cost at this size."""
    s = bench.sizes
    raw_dir = bench.path("raw")
    docs = datagen.write_raw_zone(raw_dir, bench.seed, s.backfill_blobs, s.backfill_items)
    n_items = s.backfill_blobs * s.backfill_items
    bench.boot()
    tr = bench.tracer
    was, tr.enabled = tr.enabled, False
    out = bench.path("out", "warm")
    for _ in range(s.backfill_warm):
        bench.attempted += 1
        try:
            _backfill_op(bench, raw_dir, out, 0)
        except Exception as exc:
            bench.fail("backfill warm-up", exc)
        shutil.rmtree(out, ignore_errors=True)
    bench.setup_done()
    last = None
    for i, traced in bench.passes(was, s.backfill_passes):
        tr.enabled = traced
        out = bench.path("out", f"op{i + 1}")
        bench.attempted += 1
        cpu0 = work_cpu_s()
        try:
            dt = _backfill_op(bench, raw_dir, out, i + 1)
        except Exception as exc:
            bench.fail("backfill", exc)
            continue
        bench.record_pass(dt, work_cpu_s() - cpu0, n_items, traced)
        if traced:
            bench.layers.setdefault("out_bytes_per_item", []).append(_dir_bytes(out) / n_items)
        else:
            bench.op_s.append(dt)
        if last is not None:
            shutil.rmtree(last, ignore_errors=True)
        last = out
    tr.enabled = was
    if last is not None:
        _check_star(bench, lambda name: os.path.join(last, name), docs)


def _drain(bench: Bench, raw_dir: str, base: str, n_blobs: int, op: int):
    """Run the blob pipeline over ``raw_dir`` to completion; returns
    (wall seconds, data-trigger progress list)."""
    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.streaming.pipeline import (
        run_spotify_pipeline,
    )

    tr, sc = bench.tracer, bench.spark.sparkContext
    t0 = time.perf_counter()
    with tr.span("op", op):
        with tr.span("build", op):
            q = run_spotify_pipeline(
                bench.spark, raw_dir, os.path.join(base, "out"), os.path.join(base, "ckpt")
            )
        with tr.span("exec", op):
            try:
                q.awaitTermination(150)
            finally:
                if q.isActive:
                    q.stop()
    wall = time.perf_counter() - t0
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    # The stream's jobs run under a job group named by its run id.
    tr.record(sc, str(q.runId), op)
    if len(progress) != n_blobs:
        bench.fail("stream", f"{len(progress)} data triggers for {n_blobs} blobs")
    return wall, progress


def _check_stream(bench: Bench, base: str, docs: list[dict]) -> None:
    """Each trigger dedups one blob, so each batch directory is checked
    against the keep-first oracle of the blob its song ids come from."""
    problems = []
    batches = sorted(os.listdir(os.path.join(base, "out", "songs_data")))
    for batch in batches:
        songs = read_csv_dir(os.path.join(base, "out", "songs_data", batch), "songs")
        blobs = {int(song[0].split("_")[1]) for song in songs}
        if len(blobs) != 1:
            problems.append(f"{batch}: songs from blobs {sorted(blobs)}")
            continue
        want = star_oracle([docs[blobs.pop()]])
        for name in TABLES:
            got = read_csv_dir(os.path.join(base, "out", f"{name}_data", batch), name)
            if bench.corrupt and name == "songs" and got:
                got = corrupt_one(got)
            problems += compare_rows(f"{batch}/{name}", got, want[name])
    if len(batches) != len(docs):
        problems.append(f"{len(batches)} batch outputs for {len(docs)} blobs")
    bench.check(problems)


def etl_blob_stream(bench: Bench) -> None:
    s = bench.sizes
    warm_dir, raw_dir = bench.path("raw_warm"), bench.path("raw")
    datagen.write_raw_zone(warm_dir, bench.seed + 1, s.stream_warm_blobs, s.stream_items)
    docs = datagen.write_raw_zone(raw_dir, bench.seed, s.stream_blobs, s.stream_items)
    bench.boot()
    tr = bench.tracer
    was, tr.enabled = tr.enabled, False
    bench.attempted += 1
    try:
        _drain(bench, warm_dir, bench.path("drain_warm"), s.stream_warm_blobs, 0)
    except Exception as exc:
        bench.fail("stream warm-up", exc)
    bench.setup_done()
    last = None
    for i, traced in bench.passes(was, s.stream_drains):
        tr.enabled = traced
        base = bench.path(f"drain{i + 1}")
        bench.attempted += 1
        cpu0 = work_cpu_s()
        try:
            wall, progress = _drain(bench, raw_dir, base, s.stream_blobs, i + 1)
        except Exception as exc:
            bench.fail("stream", exc)
            continue
        n_items = s.stream_blobs * s.stream_items
        bench.record_pass(wall, work_cpu_s() - cpu0, n_items, traced)
        if traced:
            for p in progress:
                for phase in STREAM_PHASES:
                    bench.layers.setdefault(phase, []).append(p["durationMs"].get(phase, 0))
            bench.layers.setdefault("batches", []).append(len(progress))
            bench.layers.setdefault("out_bytes_per_item", []).append(
                _dir_bytes(os.path.join(base, "out")) / n_items
            )
        else:
            bench.op_s += [p["durationMs"]["triggerExecution"] / 1000 for p in progress]
        if last is not None:
            shutil.rmtree(last, ignore_errors=True)
        last = base
    tr.enabled = was
    if last is not None:
        _check_stream(bench, last, docs)


WORKLOADS = {
    "olap_star": olap_star,
    "corpus_cold": corpus_cold,
    "etl_backfill": etl_backfill,
    "etl_blob_stream": etl_blob_stream,
}
