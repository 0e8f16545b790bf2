#!/usr/bin/env python3
"""Smoke test of the benchmark, in one process, at tiny sizes (star
schema at sf0.001, a few blobs):

- every workload runs once, traced, and every metric BENCHMARK.json
  names comes back with its unit, with an error rate of 0;
- ``spark.build_jobs`` is 0 on olap_star (index caches hit) and above 0
  on corpus_cold (every call builds); ``streaming.batches`` equals the
  blobs staged;
- a negative case corrupts one output row and must raise the error rate.

    python3 perfbench/smoke.py

Exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _check_units(got: dict, spec: list[dict], where: str) -> None:
    for m in spec:
        if m["name"] not in got:
            raise AssertionError(f"{where}: metric {m['name']} missing")
        value, unit = got[m["name"]]
        if unit != m["unit"]:
            raise AssertionError(f"{where}: {m['name']} has unit {unit}, want {m['unit']}")
        if not isinstance(value, (int, float)):
            raise AssertionError(f"{where}: {m['name']} = {value!r} is not a number")


def main() -> int:
    import run
    from workloads import SMOKE_SIZES

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    try:
        # olap_star and corpus_cold are not in BENCHMARK.json (see
        # README) but stay runnable; they are the workloads whose query
        # builds hit and miss the index caches.
        listed = [w["name"] for w in spec["workloads"]]
        for name in listed + [w for w in ("olap_star", "corpus_cold") if w not in listed]:
            out = run.run(name, seed=1, seconds=0.1, trace=True, sizes=SMOKE_SIZES)
            report, layers = out["report"], out["per_layer"]
            print(json.dumps(report), flush=True)
            _check_units(out["end_to_end"], spec["end_to_end"], name)
            _check_units(layers, spec["per_layer"], name)
            printed = out["result"]["metrics"]
            if sorted(printed) != sorted(m["name"] for m in spec["per_layer"]):
                raise AssertionError(f"{name}: traced result prints {sorted(printed)}")
            if report["error_rate"] != 0 or not out["result"]["correct"]:
                raise AssertionError(f"{name}: error rate {report['error_rate']}: {report['problems']}")
            build_jobs = layers["spark.build_jobs"][0]
            if name == "olap_star" and build_jobs != 0:
                raise AssertionError(f"olap_star launched {build_jobs} jobs per query build")
            if name == "corpus_cold" and not build_jobs > 0:
                raise AssertionError("corpus_cold launched no index-build jobs")
            if name == "etl_blob_stream" and layers["streaming.batches"][0] != SMOKE_SIZES.stream_blobs:
                raise AssertionError(f"stream ran {layers['streaming.batches'][0]} data triggers")
        neg = run.run("etl_backfill", seed=1, seconds=0.1, trace=False, sizes=SMOKE_SIZES, corrupt=True)
        if not neg["report"]["error_rate"] > 0 or neg["result"]["correct"]:
            raise AssertionError("a corrupted output row was not detected")
        print("negative case:", json.dumps(neg["report"]["problems"])[:300])
    finally:
        run.cleanup()
    print("smoke: ok")
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
