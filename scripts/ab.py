#!/usr/bin/env python
"""Interleaved A/B harness: time registry queries under named arms in
one warm session, and optionally attribute each run's wall to stages.

Arms (``--arm NAME=SPEC``, repeatable). The implicit ``default`` arm is
the committed session confs plus the registry builders.
  - conf arm: SPEC is ``k=v;k2=v2`` (the SPARK_GRAFT_EXTRA_CONFS
    grammar, ``session.parse_confs``), applied with ``spark.conf.set``
    for the arm's runs. A key the running session cannot change
    (``spark.conf.isModifiable`` is false: static, core and Hadoop
    confs, whose effect is fixed at boot) raises ValueError, since its
    arm would silently measure the boot value; A/B such a key as separate
    processes under SPARK_GRAFT_EXTRA_CONFS;
  - builder arm: SPEC is ``module:function``, a
    ``(spark, sf_dir) -> DataFrame`` builder that runs in place of the
    single ``--queries`` entry (a candidate implementation A/B'd without
    a selector in the production plan).
Every conf any arm touches is reset to its session value (or unset)
after each arm's pass, also when the pass raises.

Loop: one unmeasured warm-up run per (arm, query), then ``--reps``
passes with the arm order rotated by rep, so host drift does not
systematically favour the arm that runs last. Each run ends in the
noop sink (as bench.py) under the job description ``arm/query/rep``.

Output: one JSON line (also written to ``--out``). Per arm and query:
walls in execution order, median, min and spread (max - min); per arm:
the sums of medians and of mins. ``--stages`` boots with a plain-JSON
event log and adds each measured run's top stages (duration, tasks,
input, shuffle read/write, spill).

Cores and heap come from SPARK_GRAFT_CPUS / SPARK_GRAFT_DRIVER_MEM.

Examples:
  # conf A/B on the headline set
  python scripts/ab.py --sf-dir DIR --reps 3 \\
      --arm shj=spark.sql.join.preferSortMergeJoin=false
  # candidate builder vs the registered plan, with stage attribution
  python scripts/ab.py --sf-dir DIR --queries dedup_simhash \\
      --arm cand=mymodule:simhash_candidate --stages
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import HEADLINE  # noqa: E402

from spotify_serverless_etl_pipeline_engineering_with_azure_spark import (  # noqa: E402
    get_spark,
    registry,
)
from spotify_serverless_etl_pipeline_engineering_with_azure_spark.session import (  # noqa: E402
    parse_confs,
)

TOP_STAGES = 5


def parse_arm(spec: str) -> tuple[str, dict[str, str] | str]:
    """``NAME=SPEC`` → (name, conf dict) or (name, ``module:function``)."""
    name, sep, body = spec.partition("=")
    if not sep or not name:
        raise ValueError(f"arm {spec!r} is not 'NAME=SPEC'")
    if "=" not in body and ":" in body:
        return name, body
    return name, parse_confs(body)


def load_builder(spec: str):
    module, _, func = spec.partition(":")
    return getattr(importlib.import_module(module), func)


def run_ab(spark, sf_dir: str, queries: list[str], arms: dict, reps: int) -> dict:
    """Run the interleaved A/B; ``arms`` maps name → conf dict or
    ``module:function`` (``default`` is added when absent)."""
    arms = {"default": {}, **arms}
    if any(isinstance(a, str) for a in arms.values()) and len(queries) != 1:
        raise ValueError("a builder arm replaces exactly one query")
    registered = registry.queries()
    builders = {
        n: {q: load_builder(a) if isinstance(a, str) else registered[q] for q in queries}
        for n, a in arms.items()
    }
    touched = {k for a in arms.values() if isinstance(a, dict) for k in a}
    for k in sorted(touched):
        if not spark.conf.isModifiable(k):
            raise ValueError(
                f"conf arm key {k!r} cannot change in a running session; "
                "compare it across processes with SPARK_GRAFT_EXTRA_CONFS"
            )
    session = {k: spark.conf.get(k, None) for k in touched}
    sc = spark.sparkContext

    def run_pass(arm: str, tag: str) -> dict[str, float]:
        walls = {}
        try:
            for k, v in (arms[arm] if isinstance(arms[arm], dict) else {}).items():
                spark.conf.set(k, v)
            for q in queries:
                sc.setJobDescription(f"{arm}/{q}/{tag}")
                t0 = time.perf_counter()
                builders[arm][q](spark, sf_dir).write.format("noop").mode("overwrite").save()
                walls[q] = time.perf_counter() - t0
        finally:
            sc.setJobDescription(None)
            for k, v in session.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        return walls

    names = list(arms)
    for arm in names:
        run_pass(arm, "warmup")
    walls = {a: {q: [] for q in queries} for a in names}
    for rep in range(reps):
        for arm in names[rep % len(names):] + names[: rep % len(names)]:
            for q, w in run_pass(arm, str(rep)).items():
                walls[arm][q].append(round(w, 3))

    out_arms = {}
    for arm in names:
        per_q = {
            q: {
                "walls_s": w,
                "median_s": round(statistics.median(w), 3),
                "min_s": min(w),
                "spread_s": round(max(w) - min(w), 3),
            }
            for q, w in walls[arm].items()
        }
        out_arms[arm] = {
            "spec": arms[arm],
            "queries": per_q,
            "sum_median_s": round(sum(v["median_s"] for v in per_q.values()), 3),
            "sum_min_s": round(sum(v["min_s"] for v in per_q.values()), 3),
        }
    return {
        "sf_dir": sf_dir,
        "reps": reps,
        "cpus_effective": sc.defaultParallelism,
        "master": sc.master,
        "arms": out_arms,
    }


def parse_event_log(log_dir: str) -> dict[str, list[dict]]:
    """Job description → its stages (sorted by duration, longest
    first) from the plain-JSON event logs under ``log_dir``. A stage
    without a completion time (failed or killed) has duration None."""

    def num(v) -> int:  # accumulables may serialize as strings
        try:
            return int(v)
        except (TypeError, ValueError):
            return 0

    def stage_row(si: dict) -> dict:
        m = {
            a.get("Name", "").removeprefix("internal.metrics."): num(a.get("Value"))
            for a in si.get("Accumulables", [])
        }
        sub, comp = si.get("Submission Time"), si.get("Completion Time")
        return {
            "stage": si["Stage ID"],
            "name": si.get("Stage Name", "")[:120],
            "duration_s": None if sub is None or comp is None else (comp - sub) / 1000,
            "tasks": si.get("Number of Tasks"),
            "input_b": m.get("input.bytesRead", 0),
            "shuffle_read_b": m.get("shuffle.read.localBytesRead", 0)
            + m.get("shuffle.read.remoteBytesRead", 0),
            "shuffle_write_b": m.get("shuffle.write.bytesWritten", 0),
            "spill_b": m.get("memoryBytesSpilled", 0) + m.get("diskBytesSpilled", 0),
        }

    desc_stages: dict[str, set[int]] = {}
    stages: dict[int, dict] = {}
    for root, _dirs, files in os.walk(log_dir):
        for fn in files:
            with open(os.path.join(root, fn), errors="ignore") as f:
                for line in f:
                    try:
                        ev = json.loads(line)
                    except json.JSONDecodeError:
                        continue
                    if ev.get("Event") == "SparkListenerJobStart":
                        desc = (ev.get("Properties") or {}).get("spark.job.description")
                        if desc:
                            desc_stages.setdefault(desc, set()).update(ev.get("Stage IDs", []))
                    elif ev.get("Event") == "SparkListenerStageCompleted":
                        si = ev["Stage Info"]
                        stages[si["Stage ID"]] = stage_row(si)
    return {
        desc: sorted(
            (stages[s] for s in ids if s in stages),
            key=lambda st: -(st["duration_s"] or 0),
        )
        for desc, ids in desc_stages.items()
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Interleaved A/B of registry queries.")
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--queries", default=",".join(HEADLINE), help="comma-separated")
    ap.add_argument("--arm", action="append", default=[], metavar="NAME=SPEC")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--stages", action="store_true", help="per-run top stages")
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    arms = dict(parse_arm(a) for a in args.arm)
    queries = args.queries.split(",")

    log_dir = tempfile.mkdtemp(prefix="ab_eventlog_") if args.stages else None
    # One plain-JSON file: Spark 4 defaults to rolled, compressed logs.
    extra = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    } if log_dir else None
    spark = get_spark("sse_ab", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        rec = run_ab(spark, args.sf_dir, queries, arms, args.reps)
    finally:
        spark.stop()
    if log_dir:
        by_desc = parse_event_log(log_dir)
        shutil.rmtree(log_dir, ignore_errors=True)
        for arm, a in rec["arms"].items():
            for q, r in a["queries"].items():
                r["stages"] = {
                    str(rep): by_desc.get(f"{arm}/{q}/{rep}", [])[:TOP_STAGES]
                    for rep in range(args.reps)
                }
    line = json.dumps(rec)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
