#!/usr/bin/env python
"""Benchmark: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query executes to completion through the noop sink (full plan
runs, nothing ships to the driver — measuring the engine, not
toPandas).

The JSON line carries ``cpus_effective`` (the session's
sparkContext.defaultParallelism) and ``master`` so a reader can VERIFY
the $SPARK_GRAFT_CPUS contract was honored instead of inferring it
from wall-clock ratios. NOTE on those ratios: at sf0.1 every headline
query is 0.1–1.2 s and dominated by fixed per-query cost (planning,
AQE stage setup, Python round trips), so low-core vs high-core walls
are near-identical BY NATURE at this scale — per-query core-scaling
ratios are only meaningful at >= sf1 (see BENCH_SF1_C8_r11 /
BENCH_SF1_C32_r11 for a measured pair)."""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spotify_serverless_etl_pipeline_engineering_with_azure_spark import get_spark, registry

HEADLINE = [
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
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "text_fingerprint",
    "text_quality_score",
    "sim_cosine_topk_bruteforce",
    "sim_ann_lsh_bucketed",
    "sim_ann_ivf",
    "asof_join_events",
    "range_join_close_events",
    "merge_upsert_orders",
    "events_multires_rollup",
    "streaming_tumbling_window",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # 'sf<number>' basenames carry their scale factor; anything else
    # (custom dirs) reports 0.0 rather than dying on float().
    m = re.fullmatch(r"sf([0-9.]+)", os.path.basename(sf_dir.rstrip("/")))
    sf = float(m.group(1)) if m else 0.0
    spark = get_spark("sse_bench")
    qs = registry.queries()

    # Warm-up: one unmeasured pass per query amortizes one-time session
    # costs (janino codegen compile, parquet footer/listing caches,
    # Python worker spin-up) so the measured pass reflects steady-state
    # per-row throughput — the quantity that extrapolates to cluster
    # scale, where fixed seconds of compile time are noise.
    for name in HEADLINE:
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Five timed INTERLEAVED passes (every query once per pass, in
    # suite order), reporting the per-query MEDIAN plus a dispersion
    # figure. Interleaving matters: host drift (another process, GC
    # pressure, thermal state) moves in minutes-long waves, so
    # back-to-back repetitions of one query share the same wave and
    # their spread understates the truth, while interleaved reps sample
    # different waves and the median cancels them. Median, not min:
    # under drift a min-of-3 makes per-query claims unfalsifiable,
    # while the median is a consistent estimator under asymmetric
    # noise, and the reported
    # spread (max − min across passes) tells the reader which
    # regressions are attributable and which are weather. A regression
    # claim is only real if it exceeds the query's spread.
    n_passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "5")))
    passes: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _ in range(n_passes):
        for name in HEADLINE:
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            passes[name].append(time.perf_counter() - t0)

    from statistics import median

    timings = {name: round(median(v), 3) for name, v in passes.items()}
    spread = {name: round(max(v) - min(v), 3) for name, v in passes.items()}
    # queries_min keeps comparability with older records, which are
    # min-of-3: compare min to min, median to median. Min over the
    # FIRST 3 passes only — a minimum over more passes is biased lower,
    # so min-of-5 would systematically flatter a run with more passes.
    # With fewer than 3 passes the min is over fewer samples than the
    # min-of-3 convention; the stat label says how many so a reader
    # can't be misled by an implicit "of_first_3".
    n_min = min(3, n_passes)
    mins = {name: round(min(v[:n_min]), 3) for name, v in passes.items()}
    total = round(sum(timings.values()), 3)
    stat = f"median_of_{n_passes}_interleaved_min_of_first_{n_min}"
    line = json.dumps(
        {
            "metric": "headline_queries_total_time",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "spread": spread,
            "queries_min": mins,
            "value_min": round(sum(mins.values()), 3),
            "stat": stat,
            "sf": sf,
            # Effective parallelism + master: lets a reader VERIFY
            # the $SPARK_GRAFT_CPUS contract from the line itself.
            "cpus_effective": spark.sparkContext.defaultParallelism,
            "master": spark.sparkContext.master,
        }
    )
    # The line is ~4 KB and grows with query count; a log-capture that
    # truncates its tail loses the whole record. Keep stdout as the
    # contract, and ALSO write the line whole to
    # $SPARK_GRAFT_BENCH_OUT when a harness sets it.
    print(line)
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT")
    if out_path:
        with open(out_path, "w") as f:
            f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
