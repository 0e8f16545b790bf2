#!/usr/bin/env python
"""Oracle sweep: run registered queries in a fresh driver-style
SparkSession (plain builder, like the external driver's) and compare
each oracle-backed one against DuckDB with tests/oracle_mirror.compare.

Usage:
    python scripts/check_parity.py SF_DIR        # every query
    python scripts/check_parity.py SF_DIR [--shard I/N] [--journal DIR]
        [--only name1,name2]

--shard I/N runs the queries whose registration index is I mod N, so
each suite family (registered consecutively) spreads across shards.
--journal DIR appends one JSON record per query to
DIR/shard_I_of_N.jsonl. A re-run skips every name whose latest record
is pass or skip, so an interrupted shard resumes where it stopped and a
deleted journal re-runs everything. In a journaled sweep the SKIP names
get a skip record that names the scripts/verify_scale.py reference
certifying them instead. --only restricts the run to the given names.

Journal record: name, status (pass | fail | error | skip), rows,
spark_s, ref_s, cpus_effective, and problems on fail/error or reason
and reference on skip. scripts/verify_scale.py writes the same schema.

DuckDB runs with a memory cap of half the host's RAM and a
per-process spill dir, so a heavy oracle spills instead of drawing the
OOM killer.

Exit code 0 = every query run passes; 1 = a failure, or no query
selected."""

from __future__ import annotations

import argparse
import atexit
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tests.oracle_mirror import compare, duckdb_conn  # noqa: E402

# Oracles that are quadratic in near-duplicate cluster width: a
# journaled (scale) sweep records them as skipped, and verify_scale.py
# certifies them against the named reference instead.
SKIP = {
    "dedup_prefix_filter_jaccard": "all-pairs oracle is quadratic in cluster width",
    "advanced_misc_suite": "embeds the quadratic dedup_prefix_filter_jaccard oracle",
}


def oracle_conn(sf_dir: str):
    """DuckDB over sf_dir, capped at half the host's RAM, spilling to a
    per-process temp dir removed at exit."""
    con = duckdb_conn(sf_dir)
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**31
    spill = os.path.join(tempfile.gettempdir(), f"duckdb_spill_{os.getpid()}")
    os.makedirs(spill, exist_ok=True)
    atexit.register(shutil.rmtree, spill, True)
    con.execute(f"SET memory_limit='{max(mem_gb, 1)}GB'")
    con.execute(f"SET temp_directory='{spill}'")
    return con


def verdict(name: str, got, want, spark_s: float, ref_s: float) -> dict:
    """Journal record comparing the engine frame `got` with the
    reference frame `want` (None: no reference, the run is the check)."""
    problems = [] if want is None else compare(got, want)
    rec = {
        "name": name,
        "status": "fail" if problems else "pass",
        "rows": len(got),
        "spark_s": round(spark_s, 2),
        "ref_s": round(ref_s, 2),
    }
    if problems:
        rec["problems"] = [p[:500] for p in problems]
    return rec


def oracle_check(spark, con, sf_dir: str, name: str, fn, sql: str | None) -> dict:
    t0 = time.time()
    got = fn(spark, sf_dir).toPandas()
    t1 = time.time()
    want = None if sql is None else con.execute(sql).fetchdf()
    return verdict(name, got, want, t1 - t0, time.time() - t1)


def green(journal: str | None) -> set[str]:
    """Names whose latest journal record is pass or skip (last record
    wins, so a regression caught on re-run is not masked)."""
    latest: dict[str, str] = {}
    if journal and os.path.exists(journal):
        with open(journal) as f:
            for line in f:
                rec = json.loads(line)
                latest[rec["name"]] = rec["status"]
    return {n for n, s in latest.items() if s in ("pass", "skip")}


def sweep(names: list[str], check, journal: str | None, cpus: int) -> int:
    """check(name) -> record for every name not green in the journal;
    each record is printed and appended. Returns the failure count."""
    done = green(journal)
    if journal:
        os.makedirs(os.path.dirname(journal), exist_ok=True)
    fails = 0
    for name in names:
        if name in done:
            print(f"green {name} (journal)", flush=True)
            continue
        t0 = time.time()
        try:
            rec = check(name)
        except Exception as ex:  # noqa: BLE001 — record and continue
            traceback.print_exc()
            rec = {
                "name": name,
                "status": "error",
                "spark_s": round(time.time() - t0, 2),
                "problems": [f"{type(ex).__name__}: {str(ex)[:500]}"],
            }
        rec["cpus_effective"] = cpus
        fails += rec["status"] in ("fail", "error")
        if journal:
            with open(journal, "a") as f:
                f.write(json.dumps(rec) + "\n")
        detail = rec.get("problems") or rec.get("reason") or f"{rec['rows']} rows"
        print(f"{rec['status']:5s} {name}: {detail}", flush=True)
    return fails


def parse_only(ap, only: str, registered) -> set[str] | None:
    names = set(only.split(",")) if only else None
    if names and names - set(registered):
        ap.error(f"--only names not registered: {sorted(names - set(registered))}")
    return names


def shard_names(registered: list[str], spec: str) -> list[str]:
    """The names whose registration index is I mod N, for spec "I/N"."""
    i, _, n = spec.partition("/")
    if not (i.isdigit() and n.isdigit() and int(i) < int(n)):
        raise ValueError(f"--shard must be I/N with 0 <= I < N; got {spec}")
    return [q for k, q in enumerate(registered) if k % int(n) == int(i)]


def main() -> int:
    ap = argparse.ArgumentParser(description="Oracle sweep over registered queries.")
    ap.add_argument("sf_dir", help="dataset dir, e.g. the sf0.01 testdata dir")
    ap.add_argument("--shard", default="0/1", help="I/N: run registration indexes = I mod N")
    ap.add_argument("--journal", help="DIR for shard_I_of_N.jsonl; resume skips green names")
    ap.add_argument("--only", default="", help="comma list of query names")
    args = ap.parse_args()

    import __spark_entry__ as e

    qs, osql = e.queries(), e.oracle_sql()
    only = parse_only(ap, args.only, qs)
    try:
        names = [q for q in shard_names(list(qs), args.shard) if only is None or q in only]
    except ValueError as ex:
        ap.error(str(ex))
    if not names:
        print(f"ERROR: no queries assigned to shard {args.shard}", file=sys.stderr)
        return 1
    journal = args.journal and os.path.join(
        args.journal, f"shard_{args.shard.replace('/', '_of_')}.jsonl"
    )

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = oracle_conn(args.sf_dir)

    def check(name: str) -> dict:
        if journal and name in SKIP:
            ref = f"scripts/verify_scale.py REFERENCES[{name!r}]"
            return {"name": name, "status": "skip", "reason": SKIP[name], "reference": ref}
        return oracle_check(spark, con, args.sf_dir, name, qs[name], osql.get(name))

    t0 = time.time()
    fails = sweep(names, check, journal, spark.sparkContext.defaultParallelism)
    print(f"\n{len(names)} queries, {fails} failures, {time.time() - t0:.0f}s at {args.sf_dir}")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
