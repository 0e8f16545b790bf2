"""Executable pins for the scale guards — fixtures that actually TRIP
every cap/guard the round-3 review added.

Each guard below was introduced because production-scale data (hot
boilerplate clusters, book-length documents, near-cap money magnitudes)
breaks an expression that is perfectly correct at test SF. At sf0.001–
sf0.1 none of the guards ever fire, so before this file a regression
that deleted one (it looks like dead code at small SF) shipped green
through every gate. These tests synthesize the triggering shape and
assert the guarded output on BOTH engines — deleting any guard now
fails loudly here.
"""

from __future__ import annotations

import glob
import re

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from spotify_serverless_etl_pipeline_engineering_with_azure_spark import registry
from spotify_serverless_etl_pipeline_engineering_with_azure_spark.functions.exact import (
    dsum,
)
from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans import (
    dedup as _dedup,
)

from .conftest import SF_SMOKE
from .oracle_mirror import compare


# ---------------------------------------------------------------------------
# Synthetic corpora
# ---------------------------------------------------------------------------
def _write_docs(dirpath, rows: list[tuple[int, str]]) -> str:
    """Write a synthetic documents.parquet with the real table schema."""
    tbl = pa.table(
        {
            "doc_id": pa.array([i for i, _ in rows], pa.int64()),
            "text": pa.array([t for _, t in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array([f"src{i % 3}" for i, _ in rows], pa.string()),
            "n_chars": pa.array([len(t) for _, t in rows], pa.int64()),
        }
    )
    pq.write_table(tbl, str(dirpath / "documents.parquet"))
    return str(dirpath)


def _docs_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    return con


def _parity(spark, sf_dir: str, qname: str):
    q = registry.load_all()[qname]
    spark_pdf = q.fn(spark, sf_dir).toPandas()
    with _docs_conn(sf_dir) as con:
        oracle_pdf = con.execute(q.oracle).fetchdf()
    problems = compare(spark_pdf, oracle_pdf)
    assert not problems, f"{qname} on {sf_dir}: {problems}"
    return spark_pdf


HOT_CLUSTER_IDS = range(100, 300)  # 200 byte-identical docs — 3× the cap

# Disjoint vocabularies so fillers can never share a band bucket with
# the hot cluster (which would change its bucket's width/min).
_HOT_TEXT = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
_PAIR_TEXT = "mike november oscar papa quebec romeo sierra tango uniform victor whiskey xray"


@pytest.fixture(scope="module")
def hot_bucket_dir(tmp_path_factory):
    rows = [(i, _HOT_TEXT) for i in HOT_CLUSTER_IDS]
    rows += [(10, _PAIR_TEXT), (11, _PAIR_TEXT)]
    rows += [
        (0, "zero one two three four five six seven eight nine ten eleven"),
        (1, "red green blue cyan magenta yellow black white gray pink teal navy"),
        (2, "cat dog bird fish horse cow sheep goat duck hen pig deer"),
    ]
    return _write_docs(tmp_path_factory.mktemp("hotbucket"), rows)


# ---------------------------------------------------------------------------
# (a) MinHash bucket cap: hot buckets emit a STAR CHAIN, never k² pairs
# ---------------------------------------------------------------------------
def test_minhash_hot_bucket_fixture_actually_trips_the_cap(spark, hot_bucket_dir):
    width = (
        _dedup._minhash_bands_frame(spark, hot_bucket_dir)
        .groupBy("band", "sig")
        .count()
        .agg(F.max("count").alias("w"))
        .collect()[0]["w"]
    )
    assert width == len(HOT_CLUSTER_IDS) > _dedup.MINHASH_BUCKET_CAP, (
        "fixture no longer produces an over-cap bucket — the guard tests "
        "below would be vacuous"
    )


def test_minhash_hot_bucket_star_chain_both_engines(spark, hot_bucket_dir):
    pdf = _parity(spark, hot_bucket_dir, "dedup_minhash_lsh")
    hot = set(HOT_CLUSTER_IDS)
    hot_pairs = {
        (a, b)
        for a, b in zip(pdf.doc_a, pdf.doc_b)
        if a in hot and b in hot
    }
    # Star, not clique: min_id → each member, O(k) pairs. A regression
    # that drops the cap emits k(k−1)/2 = 19900 pairs; one that goes
    # back to dropping hot buckets emits 0.
    expected = {(min(hot), b) for b in hot if b != min(hot)}
    assert hot_pairs == expected
    # Exact copies share every band, so each star edge carries all bands.
    bands = {
        int(n)
        for a, b, n in zip(pdf.doc_a, pdf.doc_b, pdf.n_shared_bands)
        if a in hot and b in hot
    }
    assert bands == {8}
    # The ≤cap all-pairs branch still works: the width-2 bucket pair.
    assert (10, 11) in set(zip(pdf.doc_a, pdf.doc_b))


def test_minhash_hot_bucket_filtered_corpus_keeps_one_copy(spark, hot_bucket_dir):
    """The end product: connected components over the star chain merges
    the whole hot cluster, so filtered-corpus keeps exactly one of the
    200 copies (plus one of the near-dup pair)."""
    pdf = _parity(spark, hot_bucket_dir, "dedup_filtered_corpus")
    row = pdf.iloc[0]
    assert row.n_total == 205
    # 199 hot-cluster copies + 1 of the (10, 11) pair dropped
    assert row.n_dropped == 200
    assert row.n_kept == 5


def test_incremental_delta_flags_hot_bucket_dups(spark, hot_bucket_dir):
    """The hot cluster's min id (100) IS a delta doc (% 10 == 0) — the
    exact shape where a star-chain-pair-derived verdict silently
    reports is_dup=false for every other delta doc in the bucket.
    The per-bucket min-corpus rule must flag them all against the
    bucket's lowest corpus member (101)."""
    pdf = _parity(spark, hot_bucket_dir, "dedup_incremental_delta")
    verdicts = {int(r.doc_id): (bool(r.is_dup), int(r.first_match)) for r in pdf.itertuples()}
    hot_delta = [i for i in HOT_CLUSTER_IDS if i % 10 == 0]
    assert hot_delta and min(HOT_CLUSTER_IDS) in hot_delta, "fixture drifted"
    for d in hot_delta:
        assert verdicts[d] == (True, 101), (
            f"delta doc {d} in the hot bucket must match corpus min 101, "
            f"got {verdicts[d]}"
        )
    assert verdicts[10] == (True, 11)  # plain width-2 bucket still works
    assert verdicts[0] == (False, -1)  # unique delta doc stays clean


# ---------------------------------------------------------------------------
# (b) SimHash token-capacity guard: NULL above SIMHASH_MAX_TOKENS
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def long_doc_dir(tmp_path_factory):
    at_cap = " ".join(f"w{i % 89}" for i in range(_dedup.SIMHASH_MAX_TOKENS))
    over_cap = " ".join(f"w{i % 89}" for i in range(_dedup.SIMHASH_MAX_TOKENS + 1))
    rows = [(0, at_cap), (1, over_cap), (2, "tiny doc with five tokens")]
    return _write_docs(tmp_path_factory.mktemp("longdoc"), rows)


def test_simhash_token_guard_both_engines(spark, long_doc_dir):
    pdf = _parity(spark, long_doc_dir, "dedup_simhash")
    sig = {int(r.doc_id): r.simhash for r in pdf.itertuples()}
    import pandas as pd

    assert not pd.isna(sig[0]), "doc at exactly SIMHASH_MAX_TOKENS must sign"
    assert pd.isna(sig[1]), (
        "doc one token over the bound must be NULL — the packed-popcount "
        "fields silently carry between 2^15 and 2^16 tokens"
    )
    assert not pd.isna(sig[2])


# ---------------------------------------------------------------------------
# (c) digest fold capacity: per-row hashes are summed in DECIMAL(38,0)
# ---------------------------------------------------------------------------
def test_digest_fold_sums_in_wide_decimal(spark):
    """A plain long SUM of 31-bit row hashes overflows (loudly, ANSI) at
    ~4.3e9 member rows — inside the 100 TB envelope for row-per-token
    members. That magnitude is unreachable in a test, so pin the
    MECHANISM: the digest aggregate must carry its folds as
    decimal(38,0). Deleting the cast is invisible to every parity gate
    (both engines agree at small n) but flips this plan string."""
    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans.suites import (
        digest_spark,
    )

    member = registry.queries()["q6_forecast_revenue"](spark, SF_SMOKE)
    dg = digest_spark(member, "q6_forecast_revenue")
    plan = dg._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("decimal(38,0)") >= 2, (
        f"digest folds are no longer decimal(38,0)-widened:\n{plan}"
    )


# ---------------------------------------------------------------------------
# (d) dsum capacity contract: loud at the cap, exact just under it
# ---------------------------------------------------------------------------
def test_dsum_row_over_cap_is_loud_not_wrapped(spark):
    """Row values must fit DECIMAL(15,s): one past the cap must raise
    (ANSI cast overflow), never silently wrap or return NULL."""
    df = spark.createDataFrame([(1e13,)], "v double")
    with pytest.raises(Exception, match="(?i)cannot be represented|overflow|CAST_OVERFLOW"):
        df.agg(dsum(F.col("v"), 2).alias("s")).collect()


def test_dsum_exact_at_near_cap_magnitudes(spark):
    """Just under the documented cap the split-long fold must stay
    bit-identical to the decimal SUM (the hi/lo recombination is where
    an off-by-one in the split base would first show)."""
    vals = [9999999999999.98, 9999999999999.97, 0.01, -9999999999999.98, 123.45]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = df.agg(dsum(F.col("v"), 2).alias("s")).collect()[0]["s"]
    with duckdb.connect() as con:
        want = con.execute(
            "SELECT CAST(SUM(CAST(v AS DECIMAL(15,2))) AS DOUBLE) "
            "FROM (SELECT UNNEST(?::DOUBLE[]) AS v)",
            [vals],
        ).fetchone()[0]
    assert got == want


def test_dsum_scale_above_max_raises(spark):
    with pytest.raises(ValueError, match="scale"):
        dsum(F.col("v"), 11)


def test_dsum_parts_rollup_matches_direct_global_dsum(spark):
    """dsum_parts' contract: re-summing per-group (hi, lo) long
    partials across groups must be bit-identical to a direct global
    dsum — the associativity that lets q11 serve per-key values AND
    the grand total from ONE fact pass. Near-cap magnitudes with mixed
    signs exercise the hi/lo carry behavior across the rollup."""
    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.functions.exact import (
        dsum_from_parts,
        dsum_parts,
    )

    vals = [
        (1, 9999999999999.98), (1, 0.01), (2, -9999999999999.97),
        (2, 123.45), (3, 0.005), (3, -0.015), (4, 9999999999999.97),
    ]
    df = spark.createDataFrame(vals, "k int, v double")
    direct = df.agg(dsum(F.col("v"), 2).alias("s")).collect()[0]["s"]
    per = df.groupBy("k").agg(*dsum_parts(F.col("v"), 2, "p"))
    rolled = (
        per.agg(F.sum("p_hi").alias("h"), F.sum("p_lo").alias("l"))
        .select(dsum_from_parts(F.col("h"), F.col("l"), 2).alias("s"))
        .collect()[0]["s"]
    )
    assert rolled == direct


# ---------------------------------------------------------------------------
# (e) n-gram DF cap: hot stop-shingles are pruned on both engines
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def hot_shingle_dir(tmp_path_factory):
    # 40 probe-subset docs (doc_id % 5 == 0) all sharing ONE 3-gram
    # ("alpha beta gamma", df=40 > NGRAM_DF_CAP) with unique tails.
    rows = [
        (i * 5, f"alpha beta gamma u{i}a u{i}b u{i}c u{i}d u{i}e")
        for i in range(40)
    ]
    # One genuinely-similar probe pair sharing rare shingles.
    rows += [
        (200, "delta epsilon zeta eta theta iota kappa mu"),
        (205, "delta epsilon zeta eta theta iota kappa nu"),
    ]
    return _write_docs(tmp_path_factory.mktemp("hotshingle"), rows)


def test_ngram_df_cap_prunes_hot_shingle_both_engines(spark, hot_shingle_dir):
    assert 40 > _dedup.NGRAM_DF_CAP, "fixture must exceed the DF cap"
    pdf = _parity(spark, hot_shingle_dir, "dedup_ngram_jaccard")
    hot_ids = {i * 5 for i in range(40)}
    hot_pairs = [
        (a, b) for a, b in zip(pdf.doc_a, pdf.doc_b) if a in hot_ids and b in hot_ids
    ]
    # The only thing the 40 docs share is the pruned stop-shingle: a
    # regression that drops the DF cap emits 40·39/2 = 780 pairs here.
    assert hot_pairs == []
    assert (200, 205) in set(zip(pdf.doc_a, pdf.doc_b))


def test_ngram_index_filters_width_before_collecting(spark, hot_shingle_dir):
    """The DF cap must prune BEFORE collect_list aggregates a bucket:
    collecting first and filtering on array size after builds a hot
    stop-shingle's full ids array (multi-GB aggregation buffer at web
    scale; hard JVM limit past 2³¹ members) just to throw it away. The
    build plan therefore counts shingle df in a Window over the sh
    partitioning and filters over-cap rows below the aggregate —
    reverting to collect-then-size-filter removes the Window and fails
    here."""
    plan = (
        _dedup._ngram_index_frame(spark, hot_shingle_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "Window" in plan, "df count must run below the collect_list"
    win_pos = plan.index("Window")
    collect_pos = plan.index("collect_list")
    # optimizedPlan prints consumers above producers: the aggregate
    # consuming the filtered rows must appear ABOVE the window.
    assert collect_pos < win_pos, (
        "collect_list must consume width-filtered rows, not feed the filter"
    )


# ---------------------------------------------------------------------------
# (f) prefix-filter join: hot prefixes STREAM pairs, never array rows
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def boilerplate_dir(tmp_path_factory):
    text = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    return _write_docs(
        tmp_path_factory.mktemp("boilerplate"), [(i, text) for i in range(100)]
    )


def test_prefix_filter_hot_cluster_streams_all_pairs(spark, boilerplate_dir):
    """100 byte-identical docs make every prefix shingle df=100 — the
    exact shape where a collect_list bucket expansion would build one
    k²/2-struct array row (the JVM 2³¹ cliff at web scale). The join
    formulation must stream all 4950 pairs, each at jaccard 1.0, and
    the candidate plan must contain no collect_list."""
    pdf = _parity(spark, boilerplate_dir, "dedup_prefix_filter_jaccard")
    assert len(pdf) == 100 * 99 // 2
    assert set(pdf.jaccard) == {1.0}
    df = registry.queries()["dedup_prefix_filter_jaccard"](spark, boilerplate_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # A collect over a SHINGLE/bucket key is the regression (one
    # k²/2-struct array row per hot bucket); a collect grouped by
    # doc_id is the verification profile array, bounded by document
    # token count. Every collect aggregation in the plan must be
    # keyed on doc_id — asserted on the GROUPING-KEY prefix only: the
    # first ']' closes the key list in both the logical form
    # ('Aggregate [keys], [exprs]') and the physical form
    # ('ObjectHashAggregate(keys=[...], functions=[...]')). The prior
    # split on 'functions=' was ineffective on logical lines (no such
    # token -> the whole line, where the collected COLUMN's 'doc_id'
    # satisfied the assert even when the grouping key was the shingle).
    for line in plan.splitlines():
        if "collect_list" in line or "collect_set" in line:
            assert "doc_id" in line.split("]")[0], (
                "prefix-filter candidates regressed to an array bucket "
                f"expansion: {line.strip()[:200]}"
            )


# ---------------------------------------------------------------------------
# (g) numeric contract: every ROUND is the multiply form, and every
#     exact sum and k-dp rounding comes from functions/exact.py
# ---------------------------------------------------------------------------
PACKAGE = "spotify_serverless_etl_pipeline_engineering_with_azure_spark"
NUMERIC_HOME = f"{PACKAGE}/functions/exact.py"
# A hand-written copy of the numeric rule: the decimal→double cast
# routed through a string, and the ROUND(x·10^k)/10^k quantization.
NUMERIC_COPIES = (
    re.compile(r"AS\s+(VARCHAR|STRING)\)\s+AS\s+DOUBLE"),
    re.compile(r"\*\s*1(0)+\.0\)?\s*/\s*1(0)+\.0"),
)


def numeric_rule_copies(path: str, source: str) -> list[str]:
    """Every hand-written copy of the numeric rule in ``source`` outside
    functions/exact.py, whose twins (sql_double, sql_dsum, sql_davg,
    sql_roundk; dsum, roundk) are its one definition."""
    if path == NUMERIC_HOME:
        return []
    found = []
    for pattern in NUMERIC_COPIES:
        for m in pattern.finditer(source):
            line = source.count("\n", 0, m.start()) + 1
            found.append(f"{path}:{line}: {' '.join(m.group(0).split())}")
    return sorted(found)


# A hand-written exact sum: a decimal cast with a fractional scale (or
# the deleted ``dec``) inside a Spark or SQL sum, windowed or not, or a
# Spark column cast to one for a later sum. A scale-0 cast is an
# integer fold, and a decimal rendered straight to a string is a
# display format; neither is an exact-decimal sum.
SUM_CALL = re.compile(r"\bsum\(", re.IGNORECASE)
SCALED_DECIMAL = re.compile(r"\bdec\(|decimal\(\s*\d+\s*,\s*[1-9]\d*\s*\)", re.IGNORECASE)
SCALED_CAST = re.compile(
    r"\.cast\(\s*[\"'](decimal\(\s*\d+\s*,\s*[1-9]\d*\s*\))[\"']\s*\)"
    r"(?!\s*\.cast\(\s*[\"']string[\"']\s*\))"
)
IMPORT = re.compile(r"^\s*from\s+\S+\s+import\s+(\([^)]*\)|[^\n]*)", re.MULTILINE)


def exact_sum_copies(path: str, source: str) -> list[str]:
    """Every sum outside functions/exact.py whose argument casts to a
    scaled decimal, every other Spark cast to one, and every import of
    ``dec``: the exact sum is dsum/dsum_over/dsum_parts on Spark and
    sql_dsum/sql_dsum_over in SQL text."""
    if path == NUMERIC_HOME:
        return []

    def at(pos: int, text: str) -> tuple[int, str]:
        return pos, f"{path}:{source.count(chr(10), 0, pos) + 1}: {' '.join(text.split())}"

    found, sums = [], []
    for m in SUM_CALL.finditer(source):
        depth, i = 1, m.end()
        while depth and i < len(source):
            depth += {"(": 1, ")": -1}.get(source[i], 0)
            i += 1
        cast = SCALED_DECIMAL.search(source, m.end(), i)
        if cast:
            sums.append(range(m.start(), i))
            found.append(at(m.start(), f"{m.group(0)}…{cast.group(0)}"))
    for m in SCALED_CAST.finditer(source):
        if not any(m.start() in span for span in sums):
            found.append(at(m.start(), f"cast…{m.group(1)}"))
    for m in IMPORT.finditer(source):
        if re.search(r"\bdec\b", m.group(1)):
            found.append(at(m.start(1), "import dec"))
    return [text for _, text in sorted(found)]


def test_all_rounds_use_engine_deterministic_multiply_form():
    """ROUND(x, k) on a raw computed double is NOT cross-engine
    deterministic (Spark: HALF_UP on the exact binary expansion;
    DuckDB: float arithmetic), so every k-dp quantization is
    ROUND(x·10^k)/10^k and every exact sum reaches a double through a
    correctly rounded string parse. This guard keeps both rules honest:
    (a) no plan module may call F.round with a scale argument; (b)
    every ROUND( in every registered oracle must have its inner
    expression end with a power-of-ten multiplier; (c) no file of the
    package outside functions/exact.py writes either rule, or an exact
    decimal sum, out by hand, so a change to DuckDB's cast or rounding
    is made in one place."""
    import os

    import spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans as plans_pkg

    plans_dir = os.path.dirname(plans_pkg.__file__)
    offenders = []
    for fn in sorted(os.listdir(plans_dir)):
        if not fn.endswith(".py"):
            continue
        src = open(os.path.join(plans_dir, fn)).read()
        for m in re.finditer(r"F\.round\(", src):
            # only a SCALE-ARGUMENT round (F.round(x, k), raw-double
            # rounding) is the divergent class; the suite digest's
            # integer F.round(x * 10^6) is not.
            depth, i = 1, m.end()
            while depth and i < len(src):
                if src[i] == "(":
                    depth += 1
                elif src[i] == ")":
                    depth -= 1
                i += 1
            inner = src[m.end() : i - 1].rstrip()
            if re.search(r"\*\s*10+(\.0)?\s*$", inner):
                continue
            line = src.count("\n", 0, m.start()) + 1
            offenders.append(f"{fn}:{line} raw F.round — use functions.exact.roundk")
    assert not offenders, offenders

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.registry import (
        load_all,
        oracle_sql,
    )

    load_all()
    bad = []
    for name, sql in oracle_sql().items():
        for m in re.finditer(r"ROUND\(", sql):
            # find the matching close paren of this ROUND(
            depth, i = 1, m.end()
            while depth and i < len(sql):
                if sql[i] == "(":
                    depth += 1
                elif sql[i] == ")":
                    depth -= 1
                i += 1
            inner = sql[m.end() : i - 1].rstrip()
            if not re.search(r"\*\s*10+(\.0)?$", inner):
                bad.append(f"{name}: ROUND({inner[:80]}…")
    assert not bad, (
        "oracle ROUND without the multiply form (cross-engine divergent):\n"
        + "\n".join(bad)
    )

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    copies = []
    for full in sorted(glob.glob(os.path.join(root, PACKAGE, "**", "*.py"), recursive=True)):
        with open(full, encoding="utf-8") as f:
            rel, source = os.path.relpath(full, root), f.read()
        copies += numeric_rule_copies(rel, source) + exact_sum_copies(rel, source)
    assert not copies, f"numeric rule written outside functions/exact.py: {copies}"


def test_numeric_scan_flags_a_hand_copy():
    """Both shapes are caught, across a line break too, in any file but
    exact.py; integer cents and the suite digest's ROUND(x·10^6)
    integer are not copies of the rule."""
    path = f"{PACKAGE}/plans/q.py"
    source = (
        'ORACLE = """\n'
        "SELECT CAST(CAST(SUM(CAST(v AS DECIMAL(18,2))) AS STRING)\n"
        "            AS DOUBLE) AS total,\n"
        "       (ROUND(x * 1000000.0) / 1000000.0) AS share\n"
        '"""\n'
        'ranks = F.round(F.col("r") * 1000000000.0) / 1000000000.0\n'
    )
    assert numeric_rule_copies(path, source) == [
        f"{path}:2: AS STRING) AS DOUBLE",
        f"{path}:4: * 1000000.0) / 1000000.0",
        f"{path}:6: * 1000000000.0) / 1000000000.0",
    ]
    assert not numeric_rule_copies(NUMERIC_HOME, source)
    kept = (
        "CENTS = 'CAST(ROUND(o_totalprice * 100) AS BIGINT)'\n"
        "prod = F.round(col * 1000000.0)\n"
        "hi = F.floor(prod / 4294967296.0)\n"
    )
    assert not numeric_rule_copies(path, kept)


def test_exact_sum_scan_flags_a_hand_written_sum():
    """Spark sums over a scaled decimal cast (plain, windowed across a
    line break, or through ``dec``), a column cast to one for a later
    sum, a SQL sum over one, and a ``dec`` import are copies; a min/max
    rendered to a string, a scale-0 integer fold and a sum of longs are
    not."""
    path = f"{PACKAGE}/plans/q.py"
    source = (
        "from ..functions.exact import (\n"
        "    dec,\n"
        ")\n"
        'total = F.sum(dec(F.col("v"), 2)).cast("double")\n'
        "contrib = F.sum(roundk(x, 9).cast(\"decimal(28,12)\"))\n"
        "running = F.sum(\n"
        '    F.col("v").cast("decimal(18,2)")\n'
        ").over(w)\n"
        'ORACLE = "SELECT SUM(CAST(v AS DECIMAL(28,12))) FROM t"\n'
        'c = roundk(F.col("r") / F.col("deg"), 9).cast("decimal(28,12)").alias("c")\n'
    )
    assert exact_sum_copies(path, source) == [
        f"{path}:1: import dec",
        f"{path}:4: sum(…dec(",
        f"{path}:5: sum(…decimal(28,12)",
        f"{path}:6: sum(…decimal(18,2)",
        f"{path}:9: SUM(…DECIMAL(28,12)",
        f"{path}:10: cast…decimal(28,12)",
    ]
    assert not exact_sum_copies(NUMERIC_HOME, source)
    kept = (
        "from ..functions.exact import dsum, roundk\n"
        'mn = F.min(c).cast("decimal(18,2)").cast("string")\n'
        'm2 = F.sum((c * c).cast("decimal(38,0)"))\n'
        'n_rows = F.sum("pn")\n'
    )
    assert not exact_sum_copies(path, kept)
