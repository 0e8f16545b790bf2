"""Suite (digest) queries: one driver-checkable row per member query.

The external driver hash-compares a BOUNDED PREFIX of the registry
against DuckDB (the first 50 registered queries). With far more
oracle-backed queries than that, per-query
driver rows cannot cover the full surface — so each suite here re-runs
a whole family of registered queries and reduces every member's FULL
result to an order-insensitive digest row:

    (qname, n_rows, h1, h2)

where h = md5(canonical row string) folded to a 48-bit int mod 2^31-1,
h1 = Σ h mod M and h2 = Σ (h² mod M) mod M — the first two POWER SUMS
of the row-hash multiset, genuinely independent constraints (~62 bits
of discrimination) plus the exact row count. An affine second fold
(a·h + b) would be fully determined by h1 and n_rows — see the h2
comment in digest_spark. The DuckDB
oracle computes the IDENTICAL digest over the member's oracle SQL, so
one green suite row certifies hash-level parity of every member's full
result set. Any value/row/schema drift in any member flips the suite
row red.

Canonicalization must be byte-identical across engines per column.
Each column's class comes from the member's pinned Spark dtype in
plans/member_dtypes.py (``_spark_class``), the one per-member schema
record:

- class 'v' (verbatim): strings, ints, dates, booleans, decimals cast
  straight to their canonical string form (identical in both engines).
- class 'd' (double): ROUND(x·10⁶) → exact hi/lo 2³²-split → "hi_lo"
  string (6dp of discrimination). The member queries already produce
  bit-identical doubles (decimal-cast sum discipline,
  functions/exact.py); both engines then scale by the same IEEE
  multiply and round the SAME product double half-away-from-zero —
  deterministic for every input. ROUND(x, 6) would not be: a double
  1 ulp below a 6dp half boundary rounds down under Spark's
  exact-binary HALF_UP and up under DuckDB's float-arithmetic ROUND.
  Nor would a DECIMAL(38,0) serialization: past 2^53 Spark's
  double→decimal cast rounds the SHORTEST decimal repr while DuckDB
  casts the exact binary value — the hi/lo split in
  _canon_spark/_canon_sql uses only IEEE-exact ops, so no decimal
  cast of a big double exists anywhere.
- class 't' (timestamp): epoch MICROSECONDS (unix_micros / EPOCH_US) —
  session-timezone-independent on the Spark side.

NULLs are coalesced to '∅' BEFORE concat (both engines' CONCAT_WS
skips NULLs, which would silently collapse arity), and cells join on
the 0x1f unit separator, which cannot appear in the data.

Scale note: a digest is a map-side md5 + a single global aggregation
per member — strictly cheaper than the member query itself; the suite
adds no shuffle beyond what its members already do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import MERSENNE31, md5_int48, sql_md5_int48
from ..registry import REGISTRY, import_query_modules, register
from .member_dtypes import MEMBER_DTYPES

# Member queries must be registered before the digests can compose
# their oracles; importing them here makes this module
# import-order-independent.
import_query_modules()

_SEP = "\x1f"
_NULL = "∅"

# Suite membership. Every member is an oracle-backed registered query;
# the suite certifies all of them through one driver row each.
SUITES: dict[str, tuple[str, ...]] = {
    # The full TPC-H-derived suite, q1-q22, in one driver row per query.
    "tpch_digest": (
        "q1_pricing_summary", "q2_top_supplier_per_nation", "q3_shipping_priority",
        "q4_order_priority", "q5_local_supplier_volume", "q6_forecast_revenue",
        "q7_volume_shipping", "q8_market_share", "q9_product_profit",
        "q10_returned_items", "q11_important_parts", "q12_priority_by_linestatus",
        "q13_customer_distribution", "q14_promo_revenue", "q15_top_supplier",
        "q16_parts_supplier_cnt", "q17_small_quantity_revenue",
        "q18_large_volume_customers", "q19_disjunctive_revenue",
        "q20_promotion_suppliers", "q21_sole_returning_supplier",
        "q22_dormant_customers",
    ),
    # Inner / left-outer / semi / anti join semantics.
    "join_suite": (
        "top_customers_by_revenue", "join_left_outer", "join_semi", "join_anti",
        "bloom_filter_prune_join",
    ),
    # Multi-dimensional grouping: rollup, cube, grouping sets, distinct aggs.
    "agg_grouping_suite": (
        "agg_rollup", "agg_cube", "sql_grouping_sets", "agg_distinct",
    ),
    # Ordered-set / statistical / positional aggregates.
    "agg_advanced_suite": (
        "agg_percentiles", "agg_statistical_moments", "agg_min_max_by",
        "agg_string_concat", "sketch_hll_distinct",
        "sketch_countmin_heavy_hitters", "agg_histogram",
        "sketch_hll_merge", "agg_approx_sketches",
    ),
    # Ranking, offset, and frame-based window functions.
    "window_suite": (
        "window_rank_topn", "window_running_lag", "window_frames",
        "window_time_range_trailing",
    ),
    # UNION/INTERSECT/EXCEPT (+ ALL variants) and schema-evolution union.
    "set_ops_suite": (
        "set_ops", "set_ops_all", "union_schema_evolution",
    ),
    # The scalar-function surface: string, date, math, conditional,
    # regexp, casts, bitwise, null semantics, struct/map/array ops.
    "scalar_suite": (
        "scalar_string", "scalar_date", "scalar_math", "scalar_conditional",
        "scalar_string_extended", "scalar_regexp", "scalar_math_transcendental",
        "scalar_casts", "scalar_date_advanced", "scalar_bitwise",
        "null_semantics", "struct_ops", "map_functions", "explode_variants",
        "array_functions",
    ),
    # The Python-boundary surface: pandas UDF, applyInPandas, mapInArrow,
    # from_json schema projection.
    "udf_surface_suite": (
        "udf_pandas_scalar", "udf_apply_in_pandas", "udf_map_in_arrow",
        "from_json_props", "udtf_sentence_stats",
    ),
    # Text-analysis + LLM-corpus-prep operators over the documents
    # corpus (chunking, packing, repetition signals, PII redaction,
    # stratified sampling, mix accounting).
    "text_suite": (
        "text_token_count", "text_quality_score", "text_lang_id",
        "text_fingerprint", "text_bpe_token_count",
        "text_chunk_windows", "corpus_pack_sequences",
        "text_repetition_signals", "text_pii_redaction",
        "corpus_sample_stratified", "corpus_sample_reservoir",
        "corpus_mix_stats",
        "corpus_quality_filter", "corpus_length_band_filter",
        "text_tfidf_top_terms",
        "corpus_decontaminate", "text_pmi_collocations",
        "text_vocab_coverage", "text_unigram_logprob",
    ),
    # Structured Streaming variants beyond the individually-checked
    # tumbling window and watermark dedup.
    "streaming_suite": (
        "streaming_sliding_window", "streaming_stream_stream_join",
        "streaming_static_enrich_join", "streaming_foreach_batch_sink",
        "streaming_stateful_user_totals", "streaming_session_window",
        "streaming_stateful_funnel",
        "streaming_tumbling_window", "streaming_dedup_watermark",
    ),
    # Remaining batch ETL / event-time / layout operators.
    "etl_misc_suite": (
        "events_tumbling_window", "events_sessionization",
        "events_session_window_builtin", "sql_shared_dialect",
        "parquet_partitioned_roundtrip", "unpivot_lineitem",
        "events_multires_rollup", "timeseries_gap_fill",
        "scd2_user_value_history", "fuzzy_match_part_names",
        "dq_referential_integrity", "dq_profile_orders",
        "orc_sink_roundtrip", "ref_x2_runid_sink",
    ),
    # Heavier members split out of etl_misc_suite: iterative operators
    # (pagerank, k-means, SemDeDup) run eager driver-side jobs during
    # plan build, and multimodal ops pay a Python-worker round trip,
    # so they get their own digest row and keep etl_misc's row short.
    "advanced_misc_suite": (
        "multimodal_binary_meta", "multimodal_decode_features",
        "multimodal_resize", "multimodal_frame_sample",
        "graph_pagerank_neardup", "cluster_kmeans_embeddings",
        "dedup_semdedup", "corpus_cross_source_overlap",
        "observe_pipeline_metrics", "compact_small_files",
        "dedup_incremental_delta", "corpus_end_to_end_accounting",
        "dedup_prefix_filter_jaccard",
    ),
    # The full reference star-schema pipeline over the staged seed-42
    # raw-zone JSON (S4+S5 + P1/P2/P3 + C1/C2 + D1/D2): one digest row
    # per output table, hash-compared against DuckDB read_json over the
    # identical bytes — the last reference operators to gain hash-level
    # driver certification.
    "reference_pipeline_suite": (
        "spotify_songs", "spotify_artists", "spotify_albums",
        "spotify_artists_exploded",
    ),
    # User-behavior analytics + warehouse-audit operators (split from
    # etl_misc_suite to keep each digest row's wall time bounded: a
    # driver row that re-runs 35 members is a timeout magnet).
    "behavior_suite": (
        "events_funnel_conversion", "events_cohort_retention",
        "timeseries_ewma_decay", "agg_salted_skew",
        "events_attribution_last_touch",
        "events_markov_transitions", "events_rfm_segmentation",
        "events_point_in_time_enrich",
        "table_diff_snapshot", "events_anomaly_zscore",
        "events_rolling_active_users",
        "orders_seasonality_mom_yoy", "part_name_fingerprint_clusters",
        "top_parts_pareto", "events_error_budget_sli",
    ),
}

_SPARK_CLASS = {
    "double": "d",
    "float": "d",
    "timestamp": "t",
    "timestamp_ntz": "t",
}


def _spark_class(dtype: str) -> str:
    if dtype in _SPARK_CLASS:
        return _SPARK_CLASS[dtype]
    base = dtype.split("(")[0]
    if base in ("string", "bigint", "int", "smallint", "tinyint", "date", "boolean", "decimal"):
        return "v"
    raise TypeError(f"no canonicalization class for Spark dtype {dtype!r}")


def _member_kinds(qname: str) -> dict[str, str] | None:
    """``{column: class}`` from the member's pinned dtype signature
    (see dtype_signature for the split rules); None when unpinned."""
    sig = MEMBER_DTYPES.get(qname)
    if sig is None:
        return None
    return {c: _spark_class(dt) for c, dt in (kv.split(":", 1) for kv in sig.split(";"))}


def _canon_spark(name: str, cls: str) -> Column:
    col = F.col(name)
    if cls == "d":
        # Canonical form: round(x·10⁶) as an exact integer — NOT
        # ROUND(x, 6). Rounding the raw double at 6dp diverges across
        # engines for doubles within 1 ulp of a 6dp half boundary:
        # Spark's ROUND is HALF_UP on the EXACT binary expansion while
        # DuckDB's is float arithmetic, and k/n ratios such as
        # cume_dist land on such boundaries SYSTEMATICALLY.
        # Multiplying FIRST makes both engines round the SAME IEEE
        # product double with the same half-away-from-zero tie rule —
        # deterministic for every input, boundary or not.
        #
        # The integer product is then serialized via an EXACT hi/lo
        # power-of-two split, NOT a decimal(38,0) cast: Spark's
        # double→decimal cast goes through BigDecimal.valueOf — the
        # SHORTEST decimal representation — while DuckDB casts the
        # exact binary value, and past 2^53 the two differ. The split
        # uses only IEEE-exact ops on
        # the shared product double: ÷2^32 is an exponent shift,
        # floor of a double is exact, hi·2^32 is exact for |hi|<2^53,
        # and the final subtraction's result (<2^32) is representable
        # — so both engines emit identical (hi, lo) longs for any
        # |x·10⁶| < 2^63·2^32 (|x| < 4·10^22), with ANSI making the
        # long overflow loud beyond that.
        prod = F.round(col * 1000000.0)
        hi = F.floor(prod / 4294967296.0)
        lo = (prod - hi.cast("double") * 4294967296.0).cast("long")
        # concat, not concat_ws: concat_ws SKIPS nulls (a null double
        # would canonicalize to "" instead of propagating to the
        # _NULL sentinel); concat propagates, matching SQL's ||.
        base = F.concat(hi.cast("string"), F.lit("_"), lo.cast("string"))
    elif cls == "t":
        base = F.unix_micros(col).cast("string")
    else:
        base = col.cast("string")
    return F.coalesce(base, F.lit(_NULL))


def _canon_sql(name: str, cls: str) -> str:
    if cls == "d":
        # Mirror of _canon_spark's 'd' class: same product double,
        # same exact hi/lo split (DuckDB FLOOR returns DOUBLE, so the
        # multiply-back matches Spark's long→double promotion, which
        # is exact at these magnitudes).
        prod = f"ROUND({name} * 1000000.0)"
        hi = f"FLOOR(({prod}) / 4294967296.0)"
        base = (
            f"(CAST({hi} AS BIGINT)::VARCHAR || '_' || "
            f"CAST(({prod}) - ({hi}) * 4294967296.0 AS BIGINT)::VARCHAR)"
        )
    elif cls == "t":
        # CAST handles oracle columns that are DATE where Spark has a
        # midnight TIMESTAMP (both land on the same epoch-us value).
        base = f"CAST(EPOCH_US(CAST({name} AS TIMESTAMP)) AS VARCHAR)"
    else:
        base = f"CAST({name} AS VARCHAR)"
    return f"COALESCE({base}, '{_NULL}')"


def dtype_signature(df: DataFrame) -> str:
    """Canonical 'col:dtype;col:dtype' string (columns sorted by name).

    ';' separates pairs because Spark dtype strings themselves contain
    ',' (decimal(18,2), struct<a:int,b:string>) — a ','-separated
    signature would be unsplittable for exactly the precision-drift
    dtypes the h3 pin exists to catch. ':' is safe as the col/dtype
    separator when split on the FIRST occurrence (column names cannot
    contain ':'; struct dtypes can, to the right)."""
    actual = dict(df.dtypes)
    return ";".join(f"{c}:{actual[c]}" for c in sorted(actual))


def _sig_hash(sig: str) -> int:
    """Python-side md5-int48 fold of a dtype signature — the same
    folding as the row hashes, computed driver-side (the signature is a
    plan property, not data)."""
    import hashlib

    return int(hashlib.md5(sig.encode("utf-8")).hexdigest()[:12], 16) % MERSENNE31


def digest_fold_exprs(h) -> tuple:
    """The two order-free digest folds over a row-hash column h < M:
    h1 = Σh mod M and h2 = Σ(h² mod M) mod M — the first two POWER SUMS
    of the hash multiset.

    h2 must NOT be an affine map of h: a (31·h + 7) fold makes
    h2 ≡ 31·h1 + 7·n_rows (mod M) identically — fully determined by h1
    and the row count, so any corruption whose row-hash deltas
    cancel in h1 passes h2 automatically and the "two folds"
    carry ~31 bits, not ~62. The quadratic power sum is an
    independent constraint (tests pin this with an engineered
    equal-h1 multiset pair). h < 2³¹ so h² < 2⁶² stays inside int64
    before the DECIMAL cast.

    Per-row terms are summed in DECIMAL(38,0) and reduced mod M AFTER
    the aggregate: a plain long SUM overflows (loudly, ANSI) at ~4.3e9
    member rows for h1 — row-per-token/row-per-pair members reach that
    inside the 100 TB envelope, and the certification mechanism must
    not be the first thing to die there.
    """
    wide = "decimal(38,0)"
    h1 = (F.coalesce(F.sum(h.cast(wide)), F.lit(0)) % MERSENNE31).cast("long")
    h2 = (
        F.coalesce(F.sum(((h * h) % MERSENNE31).cast(wide)), F.lit(0)) % MERSENNE31
    ).cast("long")
    return h1, h2


def digest_spark(df: DataFrame, qname: str) -> DataFrame:
    """Reduce a member query's result to its (qname, n_rows, h1, h2, h3)
    digest. The column set and each column's class must match the pin
    in plans/member_dtypes.py. h3 pins the EXACT dtype signature: the
    Spark side hashes the actual df.dtypes, the SQL side hashes the
    pin — so an int→bigint or decimal-precision drift flips the row
    even though its canonicalization class ('v'/'d'/'t') is unchanged."""
    kinds = _member_kinds(qname)
    if kinds is None:
        raise ValueError(
            f"{qname} missing from plans/member_dtypes.py — "
            "run scripts/gen_member_dtypes.py"
        )
    cols = sorted(kinds)
    actual = dict(df.dtypes)
    if sorted(actual) != cols:
        raise ValueError(f"{qname}: spark columns {sorted(actual)} != pinned {cols}")
    for c in cols:
        got = _spark_class(actual[c])
        if got != kinds[c]:
            raise TypeError(
                f"{qname}.{c}: spark dtype {actual[c]} maps to class {got!r}, "
                f"pinned dtype says {kinds[c]!r}"
            )
    row = F.concat_ws(_SEP, *[_canon_spark(c, kinds[c]) for c in cols])
    h = md5_int48(row) % MERSENNE31
    h1, h2 = digest_fold_exprs(F.col("h"))
    return (
        df.select(h.alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            h1.alias("h1"),
            h2.alias("h2"),
        )
        .select(
            F.lit(qname).alias("qname"),
            "n_rows",
            "h1",
            "h2",
            F.lit(_sig_hash(dtype_signature(df))).cast("long").alias("h3"),
        )
    )


def digest_sql(qname: str, oracle: str) -> str:
    kinds = _member_kinds(qname)
    if kinds is None:
        # Unpinned member (scripts/gen_member_dtypes.py bootstraps the
        # pin by importing this module): a row no Spark digest can
        # equal, since COUNT is never negative — fail-loud, not
        # fail-open, and no import-time error.
        return (
            f"SELECT '{qname}' AS qname, CAST(-1 AS BIGINT) AS n_rows, "
            "CAST(0 AS BIGINT) AS h1, CAST(0 AS BIGINT) AS h2, CAST(0 AS BIGINT) AS h3"
        )
    cols = sorted(kinds)
    row = "CONCAT_WS(CHR(31), " + ", ".join(_canon_sql(c, kinds[c]) for c in cols) + ")"
    h3 = _sig_hash(MEMBER_DTYPES[qname])
    return f"""
SELECT '{qname}' AS qname,
       COUNT(*) AS n_rows,
       COALESCE(CAST(CAST(SUM(CAST(h AS HUGEINT)) AS HUGEINT)
                     % {MERSENNE31} AS BIGINT), 0) AS h1,
       COALESCE(CAST(CAST(SUM(CAST((h * h) % {MERSENNE31} AS HUGEINT))
                          AS HUGEINT) % {MERSENNE31} AS BIGINT), 0) AS h2,
       CAST({h3} AS BIGINT) AS h3
FROM (
  SELECT {sql_md5_int48(row)} % {MERSENNE31} AS h
  FROM ({oracle}) member_result
) hashed
"""


def _make_suite(suite_name: str, members: tuple[str, ...]) -> None:
    missing = [m for m in members if m not in REGISTRY]
    if missing:
        raise ValueError(f"{suite_name}: members not registered yet: {missing}")
    oracle = "\nUNION ALL\n".join(
        digest_sql(m, REGISTRY[m].oracle) for m in members
    )

    def suite(spark: SparkSession, sf_dir: str, _members: tuple[str, ...] = members) -> DataFrame:
        out: DataFrame | None = None
        for m in _members:
            part = digest_spark(REGISTRY[m].fn(spark, sf_dir), m)
            out = part if out is None else out.unionByName(part)
        return out

    suite.__name__ = suite_name
    suite.__doc__ = (
        f"Digest suite certifying {len(members)} registered queries "
        f"({', '.join(members[:4])}{', …' if len(members) > 4 else ''}) — "
        "one (qname, n_rows, h1, h2) row per member, hash-compared "
        "against the identical DuckDB digest of each member's oracle."
    )
    register(suite_name, oracle=oracle, tags=("suite", "digest"))(suite)


for _name, _members in SUITES.items():
    _make_suite(_name, _members)
