"""Scale-pattern operators: binned range join and bucketed co-located
join — the two join disciplines that keep 100 TB joins off the
cartesian/full-shuffle cliff.

Reference grounding: the reference plants FK columns specifically so
its outputs can be joined downstream
(/root/reference/spotifytransform.py:60-61; Readme.MD:198-199); these
are the physical layouts that keep those joins affordable when the
fact side is 10^12 rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import share, table
from ..functions.exact import dsum, sql_dsum
from ..registry import register

import threading

# Serializes bucketed-layout builds within this driver process (see
# bucketed_join_colocated: concurrent threads / cloned sessions share
# the external catalog and the app-scoped layout path).
_BUCKETED_BUILD_LOCK = threading.Lock()

_BIN_S = 300  # range-join bin width = the predicate radius (seconds)
# Compare at MICROSECOND precision on both engines: events.ts carries
# sub-second precision, so a whole-second comparison on one side and a
# fractional one on the other would diverge for pairs whose true gap
# straddles the 300 s boundary (e.g. 0.1 s vs 300.9 s).
_BIN_US = _BIN_S * 1_000_000


@register(
    "range_join_close_events",
    oracle=f"""
SELECT a.user_id, COUNT(*) AS n_close_pairs
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_id < b.event_id
 AND ABS(EPOCH_US(CAST(a.ts AS TIMESTAMP)) - EPOCH_US(CAST(b.ts AS TIMESTAMP))) <= {_BIN_US}
GROUP BY a.user_id
""",
    tags=("join", "range-join", "timeseries"),
)
def range_join_close_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (|t_a − t_b| ≤ 300 s per user) via time binning.

    A naive inequality join is a per-user cartesian product. Binning by
    the predicate radius makes it an EQUI-join: bucket each event by
    floor(epoch_us/300e6) (microsecond precision on BOTH engines); the right side replicates into its bucket ± 1 so
    every qualifying pair shares an equi-key exactly once; the exact
    |Δt| predicate runs as a residual filter. Shuffle volume is 3× the
    input instead of |user|², and Catalyst plans a plain hash join.
    """
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    left = ev.select(
        "user_id",
        F.col("event_id").alias("a_id"),
        F.col("us").alias("a_us"),
        F.floor(F.col("us") / _BIN_US).alias("bin"),
    )
    right = ev.select(
        "user_id",
        F.col("event_id").alias("b_id"),
        F.col("us").alias("b_us"),
        F.explode(
            F.array(
                F.floor(F.col("us") / _BIN_US) - 1,
                F.floor(F.col("us") / _BIN_US),
                F.floor(F.col("us") / _BIN_US) + 1,
            )
        ).alias("bin"),
    )
    pairs = left.join(right, ["user_id", "bin"]).filter(
        (F.col("a_id") < F.col("b_id"))
        & (F.abs(F.col("a_us") - F.col("b_us")) <= _BIN_US)
    )
    return pairs.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_close_pairs"))


@register(
    "bucketed_join_colocated",
    oracle=f"""
SELECT o_orderpriority, COUNT(*) AS n,
       {sql_dsum("l_extendedprice * (1 - l_discount)", 6)}
         AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
    tags=("join", "bucketing", "sink"),
)
def bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both fact tables written bucketBy(8)
    on the join key, then joined shuffle-free (each bucket pair joins
    in place — the physical plan has NO exchange under the
    SortMergeJoin). At 100 TB this is THE recurring-join discipline:
    pay the shuffle once at layout time, never per query. The merge
    hint keeps the demonstration honest (a broadcast would also skip
    the shuffle, but only while one side stays small).

    SIZING CONTRACT: a shuffle-free bucketed join gets exactly one
    task per bucket, so the bucket count IS the join's parallelism and
    per-task volume — n_buckets ≈ table_bytes / target_partition_size
    (128–512 MB), fixed at table-creation time and shared by both
    sides. 8 is the demo shape for the test SFs; at 10¹² lineitem rows
    it would make 8 tasks each merge ~12 TB, so a production layout
    derives the count from the table's size, exactly as _BF_BITS below
    derives from NDV.
    """
    import hashlib
    import os

    from ..catalog import app_scoped_dir

    # Cache key = source-data identity (path + parquet mtime/size), not
    # just the path: regenerated test data invalidates the layout, and a
    # metastore entry whose /tmp files were cleaned is rebuilt instead of
    # served stale/broken.
    fingerprint = [sf_dir]
    for tbl in ("orders", "lineitem"):
        p = os.path.join(sf_dir, f"{tbl}.parquet")
        st = os.stat(p)
        fingerprint.append(f"{tbl}:{st.st_mtime_ns}:{st.st_size}")
    suffix = hashlib.md5("|".join(fingerprint).encode()).hexdigest()[:8]
    # Layout LIFECYCLE (a bucketed layout is a full copy of both fact
    # tables — table-sized at any SF, so leaks here dwarf every other
    # cache): layouts nest under app_scoped_dir's per-application root,
    # so a dead application's layouts are swept by the NEXT process.
    # A superseded suffix is deliberately NOT dropped synchronously
    # while this application lives — lazy DataFrames previously
    # returned by this function still reference the old catalog tables
    # and files (the same held-frame invalidation run_to_parquet's
    # run-unique dirs exist to prevent); within one application,
    # superseded layouts accumulate bounded by dataset-regeneration
    # count (an orchestrator owning a production layout store would
    # key tables by corpus snapshot and run retention there).
    base = f"{app_scoped_dir('/tmp/sse_bucketed', spark)}/{suffix}"
    names = {"orders": f"sse_orders_b_{suffix}", "lineitem": f"sse_lineitem_b_{suffix}"}
    # Serialize the check-then-build: the layout path is per-application
    # (app_scoped_dir), but within one application concurrent THREADS —
    # or newSession() clones, which share the external catalog the
    # saveAsTable lands in — can both observe cached=False and race
    # overwrite-writes into the same directory (one job crashes, or a
    # layout missing bucket files is committed and then served as
    # cached forever after). An in-process lock is sufficient: one
    # application is one driver process, and other applications build
    # under their own app_scoped_dir.
    with _BUCKETED_BUILD_LOCK:
        for tbl, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
            cached = spark.catalog.tableExists(names[tbl]) and os.path.isdir(f"{base}/{tbl}")
            if not cached:
                if spark.catalog.tableExists(names[tbl]):  # metastore entry, files gone
                    spark.sql(f"DROP TABLE {names[tbl]}")
                (
                    table(spark, sf_dir, tbl)
                    .write.bucketBy(8, key)
                    .sortBy(key)
                    .option("path", f"{base}/{tbl}")
                    .mode("overwrite")
                    .saveAsTable(names[tbl])
                )
    li = spark.table(names["lineitem"])
    orders = spark.table(names["orders"])
    return (
        li.join(orders.hint("merge"), li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias(
                "revenue"
            ),
        )
    )


@register(
    "fuzzy_match_part_names",
    oracle="""
WITH names AS (SELECT DISTINCT p_name FROM part),
blocked AS (
  SELECT a.p_name AS name_a, b.p_name AS name_b
  FROM names a JOIN names b
    ON SUBSTR(a.p_name, 1, 1) = SUBSTR(b.p_name, 1, 1)
   AND a.p_name < b.p_name
   AND ABS(LENGTH(a.p_name) - LENGTH(b.p_name)) <= 2
)
SELECT name_a, name_b,
       CAST(LEVENSHTEIN(name_a, name_b) AS INTEGER) AS edit_dist
FROM blocked
WHERE LEVENSHTEIN(name_a, name_b) <= 3
""",
    tags=("fuzzy", "dedup", "join"),
)
def fuzzy_match_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching: near-identical name pairs by Levenshtein
    distance ≤ 3, with BLOCKING (shared first character + length within
    ±2) so the candidate set is a keyed equi-join, not all-pairs — the
    same candidate-then-verify shape as the LSH dedup path. Vocabulary
    is deduplicated before pairing: you fuzzy-match the distinct-value
    dictionary, never the raw rows.

    BOTH blocking predicates are equi-join KEYS, not residual filters:
    the length-within-±2 constraint joins on (first_char, length) by
    replicating the right side once per allowed length offset (each
    qualifying pair matches exactly one offset, so no duplicates), so
    Catalyst hash-partitions on ~26·|lengths| composite keys instead of
    ~26 first-char blocks — at any dictionary size that is ~20× fewer
    pairs per task and ~20× more parallelism for free, with an
    identical result set and oracle.

    Honest scale contract: the TPC-H p_name dictionary grows ~linearly
    with |part| (5 words from a 92-color vocabulary), so in-block
    candidate pairs still grow quadratically with SF — blocking-key
    SELECTIVITY is the production lever, not this demo's constant. A
    corpus whose dictionary genuinely grows needs token-level blocking
    keys sized to the data, or the prefix-filter set-similarity join
    (dedup_prefix_filter_jaccard) — the scalable exact-similarity path
    in this repo whose candidate count is bounded by rare-token DF
    rather than by block width.
    """
    # shared by both self-join sides
    names = share(table(spark, sf_dir, "part").select("p_name").distinct())
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.substring("p_name", 1, 1).alias("blk_a"),
        F.length("p_name").alias("len_a"),
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.substring("p_name", 1, 1).alias("blk_b"),
        F.length("p_name").alias("len_b"),
    ).withColumn("off", F.explode(F.array(*[F.lit(i) for i in range(-2, 3)]))).withColumn(
        "len_key", F.col("len_b") + F.col("off")
    )
    blocked = a.join(
        b,
        (F.col("blk_a") == F.col("blk_b"))
        & (F.col("len_a") == F.col("len_key"))
        & (F.col("name_a") < F.col("name_b")),
    )
    dist = F.levenshtein("name_a", "name_b")
    return blocked.select("name_a", "name_b", dist.alias("edit_dist")).filter(
        F.col("edit_dist") <= 3
    )


# Bloom-filter pruning: m = 2^20 bits packed 32 per BIGINT word (bits
# stay below the sign bit on both engines), k = 2 md5-derived hashes.
# SIZING CONTRACT: a Bloom filter's economics exist only while
# m ≳ n·ln(1/fpp)/ln²2 for the build-side distinct count n — a fixed m
# SATURATES as n grows (every bit set → the prune passes everything;
# results stay exact via the trailing semi-join, but the filter is pure
# overhead). 2^20 covers the BUILDING-customer build side to ~sf10;
# production derives m from the build side's NDV estimate (the same
# statistic the optimizer's own InjectRuntimeFilter uses) rather than a
# constant. The filter frame is 2^15 words ≈ 256 KB — trivially
# broadcastable at any m this formula yields for a broadcast-worthy n.
_BF_BITS = 1 << 20
_BF_WORD_BITS = 32


@register(
    "bloom_filter_prune_join",
    oracle=f"""
SELECT o_orderpriority, COUNT(*) AS n_orders,
       {sql_dsum("o_totalprice", 2)} AS revenue
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
GROUP BY o_orderpriority
""",
    tags=("join", "bloom", "pruning"),
)
def bloom_filter_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join through an explicit Bloom-filter pre-prune: build a
    2^20-bit / 2-hash filter over the BUILDING customer keys (one
    map-side-combining BIT_OR aggregation → ≤ 2^15 packed words),
    broadcast it, drop non-matching orders row-locally, then run the
    exact semi-join on the survivors.

    The final semi-join makes the result EXACT (the bloom pass is a
    superset — no false negatives by construction), so the oracle is
    the plain semi-join. The point is the scan-side economics at 100 TB:
    the ~256 KB filter reaches every task and eliminates most fact rows
    BEFORE the join shuffle, which is what Spark's own runtime bloom
    pruning (spark.sql.optimizer.runtime.bloomFilter.enabled) automates
    for shuffle joins — built explicitly here so the mechanics (packed
    words, k probes, superset guarantee) are visible and testable.
    """
    from ..functions.hashing import md5_int48

    def positions(key: F.Column) -> tuple[F.Column, F.Column]:
        s = key.cast("string")
        return tuple(
            md5_int48(F.concat(F.lit(f"bf{i}|"), s)) % _BF_BITS for i in (0, 1)
        )

    build = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    p0, p1 = positions(F.col("c_custkey"))
    # shared by both per-hash broadcast probes
    words = share(
        build.select(F.explode(F.array(p0, p1)).alias("pos"))
        .select(
            F.shiftright("pos", 5).alias("widx"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_BF_WORD_BITS} AS INT))"
            ).alias("bit"),
        )
        .groupBy("widx")
        .agg(F.bit_or("bit").alias("word"))
    )
    o0, o1 = positions(F.col("o_custkey"))
    probed = (
        table(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderpriority", "o_totalprice", o0.alias("pos0"), o1.alias("pos1"))
        .join(F.broadcast(words.select(F.col("widx").alias("w0"), F.col("word").alias("word0"))),
              F.shiftright("pos0", 5) == F.col("w0"))
        .join(F.broadcast(words.select(F.col("widx").alias("w1"), F.col("word").alias("word1"))),
              F.shiftright("pos1", 5) == F.col("w1"))
        .filter(
            F.expr(f"(word0 & shiftleft(CAST(1 AS BIGINT), CAST(pos0 % {_BF_WORD_BITS} AS INT))) != 0")
            & F.expr(f"(word1 & shiftleft(CAST(1 AS BIGINT), CAST(pos1 % {_BF_WORD_BITS} AS INT))) != 0")
        )
    )
    # The exactness semi-join is deliberately NOT a forced broadcast:
    # build grows linearly with SF (a fifth of customer — ~3e9 keys at
    # the 100 TB posture, far past the 8 GB broadcast cliff). AQE
    # broadcasts while it fits and shuffle-semi-joins beyond; only the
    # ~256 KB packed bloom words stay a forced broadcast (bounded by
    # _BF_BITS, not by data).
    exact = probed.join(build, probed.o_custkey == build.c_custkey, "left_semi")
    return exact.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice"), 2).alias("revenue"),
    )


@register(
    "compact_small_files",
    oracle=f"""
SELECT CAST(48 AS BIGINT) AS n_files_before,
       CAST(4 AS BIGINT) AS n_files_after,
       COUNT(*) AS n_rows,
       {sql_dsum("o_totalprice", 2)} AS total_price
FROM orders
""",
    tags=("layout", "compaction", "maintenance"),
)
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance job every 100 TB
    lakehouse runs: a fragmented dataset (here 48 shuffle-sized files,
    the debris a wide parallel write leaves) is rewritten into few
    full-sized files so later scans pay per-file open/footer cost 12×
    less often.

    The compaction rewrite uses repartition(4), not coalesce(4):
    coalesce only merges the read's partitions, and the file source
    packs 48 small files into as few partitions as its split sizing
    and core count allow (2 under spark.sql.files.minPartitionNum=1),
    so coalesce would write that many files. repartition's round-robin
    shuffle fills all 4 partitions from any input of 4 rows or more,
    so the file count does not depend on the cores. The returned audit
    row carries the REAL before/after file counts listed from disk plus
    content control totals; the oracle pins the expected counts as
    literals and recomputes the totals from the source table, proving
    the rewrite is lossless.

    SIZING CONTRACT: 48→4 is the demo shape pinned in the oracle's
    literals, valid only while 4 target files are "full-sized"
    (≈0.5–1 GB). Each coalesced task streams table_bytes/n_after
    through one writer, so a production compaction derives
    n_after ≈ table_bytes / target_file_size and runs PER PARTITION
    of a date/tenant-partitioned table (bounding any one job's
    rewrite), never one 4-way rewrite of the whole table — at 10¹¹
    orders that would be 4 tasks of ~25 TB each.
    """
    import os

    from ..catalog import sink_run_dir

    # Run-unique, app-scoped, swept (sink_run_dir's contract), so a
    # second build's overwrite never races a previously returned
    # frame's lazy read of the same files.
    base = sink_run_dir(spark, "compact", sf_dir)
    frag, compacted = f"{base}/frag", f"{base}/compact"
    orders = table(spark, sf_dir, "orders")
    orders.repartition(48).write.mode("overwrite").parquet(frag)
    spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(compacted)

    def _n_parquet(path: str) -> int:
        return sum(1 for f in os.listdir(path) if f.endswith(".parquet"))

    back = spark.read.parquet(compacted)
    return (
        back.agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            F.lit(_n_parquet(frag)).cast("long").alias("n_files_before"),
            F.lit(_n_parquet(compacted)).cast("long").alias("n_files_after"),
            "n_rows",
            "total_price",
        )
    )
