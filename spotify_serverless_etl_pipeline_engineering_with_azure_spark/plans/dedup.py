"""Deduplication operators (north-star extensions): exact hash dedup,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Generalizes the reference's key-dedup D1/D2
(/root/reference/spotifytransform.py:95,98) from exact-key to
content/near-duplicate semantics.

Scale notes (100 TB):
- exact dedup: hash-groupBy with map-side partial agg; one shuffle on
  the content hash.
- MinHash signatures: computed in ONE aggregation with 16 min()
  columns (no hash-family cross-join, no extra shuffle); LSH banding
  turns all-pairs O(n²) into a bucket-join on (band, sig).
- SimHash: entirely row-local nested fold — zero shuffles for
  signatures.
- n-gram Jaccard: exact verification path, only ever run on LSH
  candidates or bounded probe sets (all-pairs does not scale and is
  deliberately restricted here).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import (
    cached_index,
    checkpoint_frame,
    materialize,
    scatter,
    scratch_roots,
    share,
    table,
)
from ..functions.exact import dsum, roundk, sql_dsum, sql_roundk
from ..functions.hashing import (
    MINHASH_N_BANDS as N_BANDS,
    MINHASH_PARAMS,
    MINHASH_ROWS_PER_BAND,
    PRIME48,
    hex_int48,
    md5_int48,
    sql_hex_int48,
    sql_md5_int48,
)
from ..registry import register

SIMHASH_BITS = 48

# LSH bucket-width cap (both engines): a cluster of k near-identical
# documents shares a (band, sig) bucket in EVERY band, and all-pairs
# in-bucket expansion is k²/2 — at web scale, boilerplate duplicated
# 10⁵+ times would make k²-row stragglers (and >2³¹-element pair
# arrays, were pairs ever array-expanded from an unbounded bucket). A
# bucket wider than the cap therefore emits a STAR CHAIN instead of
# all-pairs: one (min_id, member) pair per other member — O(k) pairs
# that still link every member to a single representative, so
# connected-components merges the whole cluster and filtered-corpus
# keeps exactly one copy (a cluster of >cap near-identical-but-not-
# byte-identical docs — templated boilerplate differing by a token —
# is NOT caught by dedup_exact, so silently dropping hot buckets would
# keep every copy). Pairwise similarity detail inside a hot bucket is
# deliberately not materialized (it is k²). The index itself stores
# NO per-bucket arrays at all (a hot bucket's ids array would be a
# multi-GB single row at web scale — the collect_list aggregation
# buffer alone grows with k): it is a POSTING TABLE (doc_id, band,
# sig) plus derived O(1)-wide rows; only ≤cap buckets are ever
# collected, and only transiently during pair expansion.
MINHASH_BUCKET_CAP = 64

# SimHash packed-popcount capacity: each 16-bit field carries a
# popcount ≤ n_tokens; past ~2^15 tokens a skewed doc overflows int64
# (loud under ANSI) or carries between fields while STAYING inside
# int64 (silently wrong signature). Both engines emit NULL past this
# bound, and the Spark side slices the token array to MAX+1 entries
# BEFORE aggregation so the packed SUM itself can never overflow:
# worst case (MAX+1)·(2⁴⁸+2³²+2¹⁶+1) ≈ 2^62 < 2^63. A real corpus
# pre-chunks longer docs (books) before signature time.
SIMHASH_MAX_TOKENS = 16383


# ---------------------------------------------------------------------------
# Shared shingling (3-token n-grams, distinct per doc — row-local distinct)
# ---------------------------------------------------------------------------
def _shingle_array() -> Column:
    toks = F.split(F.col("text"), " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 3),
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
            F.element_at(toks, i + 3),
        ),
    )
    return F.array_distinct(grams)


def _shingles(docs: DataFrame) -> DataFrame:
    return (
        scatter(docs)
        .filter(F.size(F.split(F.col("text"), " ")) >= 3)
        .select("doc_id", F.explode(_shingle_array()).alias("sh"))
    )


_SQL_SHINGLES = """
  SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(t) - 1),
         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents {where})
  WHERE LEN(t) >= 3
"""


def _bucket_pairs(grouped: DataFrame) -> DataFrame:
    """Expand each bucket row into ordered doc pairs.

    grouped must carry an ascending-sorted ``ids`` array column. Emits
    one row per (doc_a < doc_b) pair within a bucket. Pair expansion is
    row-local codegen'd array work; every caller BOUNDS bucket width
    BEFORE the ids array is ever collected (the n-gram index DF-prunes
    at NGRAM_DF_CAP; the MinHash index build collects only buckets a
    width-stats semi-join proved ≤ MINHASH_BUCKET_CAP wide), so both
    the collect_list aggregation buffer and the flattened pair array
    per row stay ≤ cap resp. cap²/2 — unbounded widths would hit the
    JVM's 2³¹ array-element limit on boilerplate duplicated at web
    scale.
    """
    return grouped.select(F.explode(_all_pairs_expr(F.col("ids"))).alias("p")).select(
        "p.doc_a", "p.doc_b"
    )


def _all_pairs_expr(ids: Column) -> Column:
    """Row-local (doc_a < doc_b) pair-struct array over an
    ascending-sorted id array — THE all-pairs expansion behind
    _bucket_pairs, kept separate so the slice arithmetic and struct
    field order exist exactly once."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------
@register(
    "dedup_exact",
    oracle="""
SELECT MD5(text) AS text_md5, MD5('x' || text) AS text_md5_salted,
       MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
FROM documents
GROUP BY MD5(text), MD5('x' || text)
""",
    tags=("dedup", "exact"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: hash-groupBy on the content identity, keep
    min doc_id.

    The identity is the PAIR (md5(text), md5('x' || text)), not md5
    alone: engineered MD5 collisions (distinct bytes, equal digest)
    circulate in crawled corpora, and a single-hash groupBy would
    silently merge two different documents — dropping one of them in
    any keep-the-keeper consumer — with the oracle agreeing. The known
    collision constructions are block-aligned (Merkle–Damgård: a
    collision survives any common SUFFIX and any whole-block common
    prefix), so a one-byte prefix shifts every block boundary and the
    salted digest disagrees on them. The salt is plain string concat —
    byte-identical on both engines, unlike REVERSE, whose
    grapheme-vs-codepoint semantics differ between DuckDB and Spark on
    combining marks/emoji. A SIMULTANEOUS collision of both digests has
    no known construction. Still one shuffle, map-side partial agg.
    """
    docs = table(spark, sf_dir, "documents")
    return docs.groupBy(
        F.md5("text").alias("text_md5"),
        F.md5(F.concat(F.lit("x"), F.col("text"))).alias("text_md5_salted"),
    ).agg(
        F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------
def _minhash_bands_cte() -> str:
    """The shared DuckDB CTE chain ending in ``bands`` (doc_id, band,
    sig) — the oracle mirror of _band_signatures, reused by every
    MinHash-family oracle so the signature pipeline exists once."""
    mins = ",\n         ".join(
        f"MIN((({a} * x1) % {PRIME48} + x2 + {b}) % {PRIME48}) AS mh_{j}"
        for j, (a, b) in enumerate(MINHASH_PARAMS)
    )
    band_selects = []
    for k in range(N_BANDS):
        cols = range(k * MINHASH_ROWS_PER_BAND, (k + 1) * MINHASH_ROWS_PER_BAND)
        sig = " || ',' || ".join(f"CAST(mh_{j} AS VARCHAR)" for j in cols)
        band_selects.append(f"SELECT doc_id, {k} AS band, {sig} AS sig FROM minhash")
    bands = "\n  UNION ALL ".join(band_selects)
    return f"""shingles AS ({_SQL_SHINGLES.format(where="")}),
hexed AS (
  SELECT doc_id, MD5(sh) AS hx FROM shingles
),
hashed AS (
  SELECT doc_id, {sql_hex_int48("hx", 1)} AS x1, {sql_hex_int48("hx", 13)} AS x2
  FROM hexed
),
minhash AS (
  SELECT doc_id,
         {mins}
  FROM hashed GROUP BY doc_id
),
bands AS (
  {bands}
)"""


def _minhash_oracle() -> str:
    return f"""
WITH {_minhash_bands_cte()},
stats AS (
  SELECT band, sig, COUNT(*) AS width, MIN(doc_id) AS mn
  FROM bands GROUP BY 1, 2
),
kept AS (
  SELECT b.doc_id, b.band, b.sig FROM bands b
  JOIN stats w ON b.band = w.band AND b.sig = w.sig
  WHERE w.width <= {MINHASH_BUCKET_CAP}
),
raw_pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM kept a
  JOIN kept b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
  UNION ALL
  SELECT s.mn AS doc_a, b.doc_id AS doc_b
  FROM bands b
  JOIN stats s ON b.band = s.band AND b.sig = s.sig
  WHERE s.width > {MINHASH_BUCKET_CAP} AND b.doc_id <> s.mn
)
SELECT doc_a, doc_b, COUNT(*) AS n_shared_bands
FROM raw_pairs
GROUP BY 1, 2
"""


def _band_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, band, sig) LSH banding rows: shingle → ONE md5 → two
    independent 48-bit slices (x1, x2) → 16 minhashes in ONE
    aggregation (partial agg map-side) → 8 bands of 2 exploded
    row-locally. The two-slice affine family keeps shingle identity at
    96 md5 bits (see MINHASH_PARAMS in functions/hashing.py for the
    collision analysis); md5 is computed once in its own projection so
    neither engine re-hashes per slice. It is built from SQL strings
    (one py4j call per F.expr): the plan is identical to per-Column
    operator calls and cheaper to build on the driver."""
    hexed = _shingles(docs).select("doc_id", F.md5("sh").alias("hx"))
    hashed = hexed.select(
        "doc_id",
        hex_int48(F.col("hx"), 1).alias("x1"),
        hex_int48(F.col("hx"), 13).alias("x2"),
    )
    minhash = hashed.groupBy("doc_id").agg(
        *[
            F.expr(f"MIN((({a} * x1) % {PRIME48} + x2 + {b}) % {PRIME48}) AS mh_{j}")
            for j, (a, b) in enumerate(MINHASH_PARAMS)
        ]
    )
    band_structs = []
    for k in range(N_BANDS):
        cols = range(k * MINHASH_ROWS_PER_BAND, (k + 1) * MINHASH_ROWS_PER_BAND)
        sig = ", ".join(f"CAST(mh_{j} AS STRING)" for j in cols)
        band_structs.append(f"struct({k} AS band, concat_ws(',', {sig}) AS sig)")
    return minhash.select(
        "doc_id", F.explode(F.expr(f"array({', '.join(band_structs)})")).alias("b")
    ).select("doc_id", F.col("b.band").alias("band"), F.col("b.sig").alias("sig"))


def _minhash_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Build (or fetch) the LSH index: (bands, pairs), both eagerly
    materialized once per (dataset identity, Spark application).

    - ``bands`` (doc_id, band, sig): the signature POSTING TABLE. Every
      row is O(1) wide — deliberately NOT per-bucket id arrays, whose
      collect_list aggregation buffer and single-row payload both grow
      with bucket width (a web-scale boilerplate bucket of 5×10⁸
      members would be a multi-GB row, and past 2³¹ members a hard JVM
      array limit).
    - ``pairs`` (doc_a, doc_b): the raw candidate pair stream, one row
      per shared band — all-pairs for buckets ≤ MINHASH_BUCKET_CAP
      (collected transiently AFTER a width-stats semi-join proves them
      narrow), a star chain (bucket-min → member) above it.

    Index BUILD is separated from candidate SEARCH exactly as the ANN
    paths do (_lsh_index/_ivf_index): the shingle→minhash→banding
    pipeline runs once per corpus version; every consumer (the candidate
    query itself, connected components, filtered-corpus, incremental
    delta dedup) starts from a materialized table. At cluster scale
    these are materialized signature/candidate tables — the standard
    shape for corpus dedup, where signatures are computed once per
    snapshot and reused across dedup, clustering, and incremental
    joins. Identity/eviction semantics are catalog.cached_index's
    (supersession releases the old checkpoints).
    """

    def build() -> tuple[DataFrame, DataFrame]:
        bands = checkpoint_frame(_minhash_bands_frame(spark, sf_dir))
        pairs = checkpoint_frame(_minhash_pairs_frame(bands))
        return (bands, pairs)

    return cached_index(spark, sf_dir, ("documents.parquet",), "minhash", build)


def _minhash_bands_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRE-checkpoint logical plan of the banding build, exposed
    separately so plan-quality tests can assert on the build pipeline —
    checkpointing truncates lineage to an RDD scan, hiding the build's
    joins/shuffles from every explain-based check."""
    return _band_signatures(table(spark, sf_dir, "documents"))


def _minhash_pairs_frame(bands: DataFrame) -> DataFrame:
    """Raw candidate pairs from a (checkpointed) bands posting table.

    Width stats first (count + min per bucket — O(1)-wide rows, no
    arrays): buckets proven ≤ MINHASH_BUCKET_CAP by a semi-join are
    collected into ≤cap arrays and expanded all-pairs row-locally;
    wider buckets stream a star chain from a keyed join against their
    single stats row (min → each member), never materializing a hot
    bucket in one row. ``bands`` must be materialized (checkpointed) —
    Spark shares no subplans, so an un-checkpointed frame would re-run
    the signature pipeline for each of the three consumers here. The
    stats frame goes through checkpoint_frame for the same reason:
    both the small and star legs consume it, and without the
    truncation the full-posting-table stats shuffle runs twice per
    index build (verified in the executed plan — no ReusedExchange
    dedups it). Its build shape stays explain-visible via
    _minhash_stats_frame.
    """
    stats = checkpoint_frame(_minhash_stats_frame(bands))
    small = (
        bands.join(
            stats.filter(
                (F.col("width") > 1) & (F.col("width") <= MINHASH_BUCKET_CAP)
            ).select("band", "sig"),
            ["band", "sig"],
        )
        .groupBy("band", "sig")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
    )
    star = (
        bands.join(
            stats.filter(F.col("width") > MINHASH_BUCKET_CAP).select(
                "band", "sig", "mn"
            ),
            ["band", "sig"],
        )
        .filter(F.col("doc_id") != F.col("mn"))
        .select(F.col("mn").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    return _bucket_pairs(small).unionByName(star)


def _minhash_stats_frame(bands: DataFrame) -> DataFrame:
    """Per-bucket width stats (band, sig, width, mn) — O(1)-wide rows,
    no arrays. Split out so plan tests can assert on the aggregation's
    shape (its consumer lazily checkpoints it, which truncates the
    lineage explain-based checks would otherwise see)."""
    return bands.groupBy("band", "sig").agg(
        F.count(F.lit(1)).alias("width"), F.min("doc_id").alias("mn")
    )


@register("dedup_minhash_lsh", oracle=_minhash_oracle(), tags=("dedup", "minhash", "lsh"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates: shingle → 16 minhashes → 8 bands
    of 2 → (band, sig) posting table → per-bucket pair stream.

    The 16-hash signature is ONE aggregation (16 min() columns, partial
    agg map-side); banding replaces the O(n²) all-pairs scan. Both the
    posting table and the raw pair stream are cached per-corpus index
    frames (_minhash_index); the query itself is one bounded groupBy
    over the materialized pair stream. Buckets wider than
    MINHASH_BUCKET_CAP contribute a star chain instead of all-pairs —
    O(k) representative pairs that keep every member of a hot
    boilerplate cluster linked for connected-components without the k²
    blow-up.
    """
    _, pairs = _minhash_index(spark, sf_dir)
    return pairs.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("n_shared_bands")
    )


# ---------------------------------------------------------------------------
# SimHash signatures
# ---------------------------------------------------------------------------
def _simhash_oracle() -> str:
    tokhash = sql_md5_int48("t")
    return f"""
SELECT doc_id,
       CASE WHEN LEN(harr) > {SIMHASH_MAX_TOKENS} THEN NULL ELSE
       LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT),
         LIST_TRANSFORM(RANGE(0, {SIMHASH_BITS}), j ->
           CASE WHEN LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT),
                  LIST_TRANSFORM(harr, h -> ((h // (CAST(1 AS BIGINT) << j)) % 2) * 2 - 1)),
                  (s, v) -> s + v) > 0
                THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)),
         (a, b) -> a + b) END AS simhash
FROM (
  SELECT doc_id, LIST_TRANSFORM(STRING_SPLIT(text, ' '), t -> {tokhash}) AS harr
  FROM documents
)
"""


@register("dedup_simhash", oracle=_simhash_oracle(), tags=("dedup", "simhash"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """48-bit SimHash signature per document.

    Implementation: explode tokens → hash once per token → 12 packed
    SUM aggregates, each carrying four 16-bit per-bit popcounts in one
    long (bit 4k+i lives at field i·16 of packed sum k) → unpack and
    reassemble bits row-locally. Versus the naive 48 SUM(±1) columns
    this quarters the per-row aggregate update work, and unlike a
    nested higher-order-function fold it keeps whole-stage codegen
    (HOF lambdas are interpreted). The plan carries ONE exchange
    total: the small-input parallelism repair is
    scatter(docs, "doc_id"), whose hashpartitioning the
    groupBy(doc_id) reuses, so the packed aggregation runs as a
    single in-stage pass with no second shuffle.

    Capacity: each 16-bit field holds a popcount ≤ 65535 and the packed
    sum stays below 2^63 for ≤ 32767 tokens per document — far above
    any real document here; a longer doc needs per-doc pre-chunking.

    The per-bit balance is 2·ones_j − n (same sign as the oracle's
    SUM(±1)); shiftright/`% 2` extraction is exact on the non-negative
    48-bit hash, matching the oracle's `(h // 2^j) % 2`.
    """
    docs = table(spark, sf_dir, "documents")
    # Cap the aggregation's input at MAX+1 tokens per doc BEFORE any
    # hashing: bounds the packed SUM away from int64 overflow regardless
    # of content, while the n-guard below still detects oversized docs
    # (their capped count is MAX+1). The cap is a position filter on
    # posexplode output — not an array slice, which would materialize a
    # second token array per doc; the generator emits rows straight into
    # a codegen'd row filter and only surviving tokens reach md5.
    # The parallelism-repair shuffle is KEYED by doc_id: the
    # packed-popcount groupBy(doc_id) below reuses its partitioning, so
    # the plan has 1 Exchange + one Complete-mode agg, and
    # the keyed repartition skips round-robin's sortBeforeRepartition
    # pass. doc_id is unique, so hash balance matches round-robin's.
    src = scatter(docs, "doc_id")
    tok = (
        src
        .select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "t"))
        .filter(F.col("pos") <= SIMHASH_MAX_TOKENS)
    )
    hashed = tok.select("doc_id", md5_int48(F.col("t")).alias("h"))
    n_packs = SIMHASH_BITS // 4
    # The wide expressions are built as SQL strings (ONE py4j call per
    # F.expr) rather than hundreds of Column-operator calls: the
    # resulting Catalyst plan is identical, and building it is a
    # fraction of the driver-side cost.
    packs = [
        "SUM("
        + " + ".join(
            f"(shiftright(h, {4 * k + i}) % 2) * {1 << (16 * i)}" for i in range(4)
        )
        + f") AS p_{k}"
        for k in range(n_packs)
    ]
    packed = hashed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"), *[F.expr(p) for p in packs]
    )
    bits = []
    for j in range(SIMHASH_BITS):
        k, i = divmod(j, 4)
        bits.append(
            f"CASE WHEN (shiftright(p_{k}, {16 * i}) % 65536) * 2 > n "
            f"THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        )
    sig = F.expr(" + ".join(bits))
    # Capacity guard, enforced not just documented: each packed 16-bit
    # field holds a popcount ≤ n, so n > 32767 can overflow int64 on a
    # skewed doc (loud under ANSI) — and n in (32768, 65535] can carry
    # into the NEXT field while staying inside int64: a SILENTLY wrong
    # signature. Docs past the bound get NULL on BOTH engines; a real
    # corpus pre-chunks them (books) before signature time.
    guarded = F.when(F.col("n") <= SIMHASH_MAX_TOKENS, sig)
    return packed.select("doc_id", guarded.alias("simhash"))


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (verification path, bounded probe set)
# ---------------------------------------------------------------------------
# Document-frequency cap: a shingle shared by more than this many docs is
# dropped from the vocabulary BEFORE pair expansion (on both engines). A
# stop-shingle bucket of size k expands to k² pairs — at 100 TB that is a
# straggler/OOM — and a shingle shared by thousands of docs carries no
# similarity signal anyway (standard DF pruning).
NGRAM_DF_CAP = 32

def _ngram_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Build (or fetch) the DF-pruned shingle inverted index over the
    bounded probe subset (doc_id % 5 = 0): (sh, ids) with ids sorted,
    buckets wider than NGRAM_DF_CAP dropped — plus the per-doc sizes
    (doc_id, sz) over the PRUNED vocabulary. Both eagerly
    materialized once per (dataset identity, Spark application) —
    the same build/search split as _minhash_index: one groupBy builds
    the inverted index AND implicitly the DF counts (bucket width),
    pruning happens BEFORE any quadratic pair expansion (bounded
    fan-out: ≤ CAP²/2 pairs per bucket), and sizes come from
    re-exploding the kept buckets at build time — no second corpus
    pass, and the query plan never recomputes them (Spark does not
    share subplans, so two broadcast consumers would otherwise shuffle
    twice). At cluster scale these are materialized posting-list /
    doc-stat tables keyed on the corpus snapshot. Identity/eviction
    semantics are catalog.cached_index's."""

    def build() -> tuple[DataFrame, DataFrame]:
        kept = checkpoint_frame(_ngram_index_frame(spark, sf_dir))
        sizes = checkpoint_frame(
            kept.select(F.explode("ids").alias("doc_id"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("sz"))
        )
        return (kept, sizes)

    return cached_index(spark, sf_dir, ("documents.parquet",), "ngram", build)


def _ngram_index_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRE-checkpoint plan of the pruned inverted-index build (see
    _minhash_bands_frame for why this is exposed).

    Width BEFORE collection (the same discipline as
    _minhash_pairs_frame): df comes from a count window over the
    ``sh`` partitioning and over-cap rows are filtered BEFORE any
    collect_list, so the aggregation buffer and the ids array are both
    ≤ NGRAM_DF_CAP — collecting first and filtering on size after
    would build a hot stop-shingle's full ids array (a 10⁸-member
    boilerplate shingle is a multi-GB single aggregation buffer, and
    past 2³¹ members a hard JVM array limit) just to throw it away.
    The window buffers one shingle's rows in a spillable sorter, never
    one JVM array, and the subsequent groupBy reuses the window's
    hash partitioning — one shuffle total.
    """
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    sh = _shingles(docs).withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("sh"))
    )
    return (
        sh.filter(F.col("df") <= NGRAM_DF_CAP)
        .groupBy("sh")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH raw_shingles AS ({_SQL_SHINGLES.format(where="WHERE doc_id % 5 = 0")}),
df AS (SELECT sh, COUNT(*) AS df FROM raw_shingles GROUP BY sh),
shingles AS (
  SELECT s.doc_id, s.sh FROM raw_shingles s JOIN df USING (sh)
  WHERE df.df <= {NGRAM_DF_CAP}
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.02
""",
    tags=("dedup", "jaccard"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard similarity over a bounded probe subset.

    Inverted-index formulation: group docs by shingle (one shuffle),
    DF-prune buckets above NGRAM_DF_CAP (both engines — a hot
    stop-shingle bucket is quadratic, and a shingle shared that widely
    has no similarity signal), expand in-bucket pairs, count pair
    occurrences = |A∩B| over the pruned vocabulary. Sizes come
    from a cheap per-doc count and broadcast-join onto the (small) pair
    set. jaccard = |A∩B| / (|A|+|B|-|A∩B|) — integer counts, so the
    double division is bit-identical across engines. All-pairs Jaccard
    is the LSH verification path, never a full-corpus scan.
    """
    kept, sizes = _ngram_index(spark, sf_dir)
    buckets = kept.filter(F.size("ids") > 1)
    inter = _bucket_pairs(buckets).groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("n_common")
    )
    # sizes is one row per probe doc — linear in the corpus — so the
    # attach joins are left to AQE (broadcast while small, shuffle at
    # scale); a forced hint would die at the 8 GB broadcast bound.
    sa = sizes.select(F.col("doc_id").alias("da"), F.col("sz").alias("sa_sz"))
    sb = sizes.select(F.col("doc_id").alias("db"), F.col("sz").alias("sb_sz"))
    jac = F.col("n_common").cast("double") / (
        F.col("sa_sz") + F.col("sb_sz") - F.col("n_common")
    )
    return (
        inter.join(sa, F.col("da") == F.col("doc_a"))
        .join(sb, F.col("db") == F.col("doc_b"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.02)
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (candidate-guarded exact verification)
# ---------------------------------------------------------------------------
# τ picked so the synthetic near-orthogonal corpus yields a non-empty
# pair set at test SFs (top within-cell cosines ≈ 0.49) — an empty
# result would make the parity row a vacuous check.
EMB_COSINE_TAU = 0.4
SEMDEDUP_K_MIN = 8  # codebook floor: keeps tiny fixtures on a stable shape
SEMDEDUP_TAU = 0.5  # drop a vector whose max cosine to a lower-id cellmate ≥ τ


def _semdedup_k(n: int) -> int:
    """Codebook size for an n-vector corpus: K = max(8, ⌊√(n/2) + 0.5⌋).

    K balances assignment cost O(N·K) against in-cell pair cost
    O(Σ cell²) ≈ O(N²/K); d/dK[N·K + N²/2K] = 0 at K = √(N/2). This
    CANNOT be a constant: a fixed K makes cells N/K wide, so the pair
    stream grows as N²/2K with the corpus.
    floor(x + 0.5) rather than Python round(): both engines evaluate
    the same correctly-rounded IEEE sqrt, and half-away-from-zero on
    it matches the oracle's FLOOR(...+0.5) exactly, while Python's
    banker's rounding does not."""
    import math

    return max(SEMDEDUP_K_MIN, int(math.floor(math.sqrt(n / 2.0) + 0.5)))


# Oracle mirror of _semdedup_k over the embeddings view: the SAME
# IEEE sqrt of the SAME exact integer-halving, floored the same way.
_SQL_SEMDEDUP_K = (
    f"(SELECT GREATEST({SEMDEDUP_K_MIN}, "
    "CAST(FLOOR(SQRT(COUNT(*) / 2.0) + 0.5) AS BIGINT)) FROM embeddings)"
)


def _semdedup_member(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cluster): broadcast-codebook nearest-centroid
    assignment over the first K = √(N/2) store rows
    (advanced_ops._top1_cell_frame, the IVF posting build at another
    K). Materialized once per dataset (catalog.cached_index): Spark
    does not share subplans, so the two consumers inside one SemDeDup
    query (cell grouping and the per-vector verdict join) — plus
    dedup_embedding_cosine's pair generation — would otherwise each
    re-run the O(N·K) codebook fold over the corpus. At cluster scale
    this is the materialized assignment table every SemDeDup pipeline
    persists."""
    from .advanced_ops import _top1_cell_frame
    from .similarity import vector_store

    def build() -> DataFrame:
        k = _semdedup_k(vector_store(spark, sf_dir).count())
        return checkpoint_frame(
            _top1_cell_frame(spark, sf_dir, k).withColumnRenamed("cid", "cluster")
        )

    return cached_index(
        spark,
        sf_dir,
        ("embeddings.parquet",),
        "semdedup_member",
        build,
        params=("ksqrt2",),  # K derived from corpus size inside the build
    )


# Work-granule target for the within-cell self-join: pair enumerations
# per reduce task. Each pair costs one dim-wide dot fold (~µs of
# codegen'd column arithmetic), so a 2M-pair task is seconds of CPU —
# small enough to parallelize a hot cell, large enough that salting
# never fragments a healthy cell. This is the one SEMANTIC constant of
# the salting scheme (a per-task work budget, like a split size); the
# FAN-OUT itself is derived per cell from its width below, because a
# fixed fan-out stops spreading the work once data outgrows it.
TARGET_CELL_PAIRS_PER_TASK = 2_000_000


def _cell_salts_expr(w):
    """Per-cell salt count DERIVED from the cell's row count w:

        salts(w) = clamp(⌈w²/(2·TARGET_CELL_PAIRS_PER_TASK)⌉, 1, w)

    A cell of width w enumerates ~w²/2 pairs; dividing by the per-task
    pair budget spreads exactly the cells that need it (a 10⁶-member
    junk cell derives 10¹²/2 pairs ÷ 2M budget = 250,000 salts, capped
    at w = 10⁶ — see the cap) and leaves healthy ~√(2N)-wide cells
    unsalted (salts=1, no explode overhead). The UPPER clamp at w
    bounds replication: the right side replicates ×salts, so salts ≤ w
    keeps replicated rows ≤ w² ≈ 2×pairs — the fan-out can never cost
    more than the work it spreads (and salts > w is useless anyway:
    each left row owns one salt, so at most w salt values are ever
    matched). Evaluated per cluster on the broadcast width table, not
    collected to the driver.

    The width is cast to DOUBLE before squaring: a long×long square
    overflows int64 at w ≥ ~3.04e9 — under Spark 4's default ANSI mode
    that is a job-killing error in exactly the pathological-giant-cell
    regime the derivation exists for (a skew-collapsed codebook over a
    10¹⁰⁺-vector corpus). Salt counts need no integer exactness; the
    double square is exact to 2⁵³ pairs and merely approximate beyond,
    which only perturbs the task-budget rounding."""
    w_dbl = F.col(w).cast("double")
    pairs_over_budget = F.ceil(
        w_dbl * w_dbl / F.lit(2.0 * TARGET_CELL_PAIRS_PER_TASK)
    )
    return F.greatest(F.lit(1).cast("long"),
                      F.least(F.col(w).cast("long"), pairs_over_budget))


def _cell_salt_plan(member: DataFrame) -> DataFrame:
    """(cluster, salts): the broadcast salt table the cell self-join
    keys on — one row per cell (≤ K ≈ √(N/2) rows, broadcastable at
    any corpus size), widths COUNTED from the checkpointed assignment
    table with a plain count aggregate, salts derived by
    _cell_salts_expr. No driver job: the width stats ride the query
    plan as a broadcast-exchange subtree, the same pre-collection
    discipline as the MinHash width-stats semi-join."""
    return F.broadcast(
        member.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("w"))
        .select("cluster", _cell_salts_expr("w").alias("salts"))
    )


def _cell_pair_cosines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-cell candidate pairs WITH their exact cosine:
    (va, vb, cs) for va < vb in the same cell.

    The shared generator for exact-cosine work: an equi-join on cluster
    of the checkpointed cell-assignment table (vectors attached from
    the shared store BEFORE the join) with itself — cost O(Σ cell²)
    pair ROWS, never O(N²) and never a giant array: a
    collect_list-per-cell expansion (the _bucket_pairs shape) would
    materialize one array of cell²/2 structs per cluster row, which
    hits the JVM's 2³¹ array-element limit once a cell passes ~65k
    members; the join streams the same pairs. Cells stay ~√(2N) wide
    because _semdedup_k sizes the codebook as √(N/2).

    Each side CARRIES its vector and norm through the cell join, and
    the cosine is computed in the join's output pipeline — the
    quadratic pair stream is never exchanged. Joining bare (va, vb)
    ids and attaching vectors afterwards would hash-partition the
    O(Σ cell²) vector-wide pair rows through two shuffles.
    Carrying vectors makes the shuffled volume corpus-sized
    (N·(1+salts) store rows); consumers reduce the pair stream
    map-side (filter ≥ τ, or partial max per vb) before anything else
    is exchanged.

    Hot cells get the join_salted treatment, implemented here with a
    fan-out DERIVED from each cell's row count (never a
    constant): a broadcast (cluster, salts) table
    (_cell_salt_plan) joins both sides map-side; the left row carries
    salt = vec_id % salts_c, the right row replicates ×salts_c via an
    exploded sequence, and the pair join keys on (cluster, salt). Every
    same-cell pair still appears exactly once (each left row owns one
    salt value; the right copy with the matching salt provides the
    pair), healthy cells pay nothing (salts_c=1, a single-element
    explode), and a pathological cell — a skew-collapsed codebook can
    funnel most of the corpus into one cell — spreads its ~w²/2 pairs
    across ⌈w²/2·budget⌉ reduce tasks instead of serializing on one.
    """
    from ..functions.vectors import cosine6

    from .similarity import vector_store

    member = _semdedup_member(spark, sf_dir)
    store = vector_store(spark, sf_dir)
    salts = _cell_salt_plan(member)
    # Deliberately NOT shared although both pair sides consume it: the
    # two sides project differently so no ReusedExchange forms, but
    # storing this corpus-sized, vector-wide frame costs more than
    # evaluating the attach join twice.
    attached = member.join(store, "vec_id").join(salts, "cluster")
    a = attached.select(
        F.col("cluster").alias("ca"),
        F.col("vec_id").alias("va"),
        (F.col("vec_id") % F.col("salts")).cast("int").alias("sa"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = attached.select(
        F.col("cluster").alias("cb"),
        F.col("vec_id").alias("vb"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
        F.explode(
            F.sequence(F.lit(0), (F.col("salts") - 1).cast("int"))
        ).alias("sb"),
    )
    cs = cosine6("emb_a", "emb_b", "nrm_a", "nrm_b")
    return a.join(
        b,
        (F.col("ca") == F.col("cb"))
        & (F.col("sa") == F.col("sb"))
        & (F.col("va") < F.col("vb")),
    ).select("va", "vb", cs.alias("cs"))


def _member_cte() -> str:
    """DuckDB mirror of the broadcast-codebook cell assignment (the
    cent/assign/member CTE bodies shared by the SemDeDup-family
    oracles)."""
    from ..functions.vectors import sql_cosine6

    asim = sql_cosine6("e.embedding", "c.cemb")
    return f"""
cent AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings
         WHERE vec_id < {_SQL_SEMDEDUP_K}),
assign AS (
  SELECT e.vec_id,
         c.cid,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY {asim} DESC, c.cid) AS rn
  FROM embeddings e CROSS JOIN cent c
),
member AS (SELECT vec_id, cid AS cluster FROM assign WHERE rn = 1)
"""


def _emb_cosine_oracle() -> str:
    from ..functions.vectors import sql_cosine6

    cos = sql_cosine6("ea.embedding", "eb.embedding")
    return f"""
WITH {_member_cte()},
pairs AS (
  SELECT ma.vec_id AS va, mb.vec_id AS vb
  FROM member ma
  JOIN member mb ON ma.cluster = mb.cluster AND ma.vec_id < mb.vec_id
)
SELECT p.va AS vec_a, p.vb AS vec_b, {cos} AS cos_sim
FROM pairs p
JOIN embeddings ea ON ea.vec_id = p.va
JOIN embeddings eb ON eb.vec_id = p.vb
WHERE {cos} >= {EMB_COSINE_TAU}
"""


@register("dedup_embedding_cosine", oracle=_emb_cosine_oracle(), tags=("dedup", "embedding"))
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, candidate-guarded.

    Exact cosine is evaluated ONLY on SemDeDup-cell candidate pairs
    (broadcast-codebook assignment → in-cell pair expansion), never
    all-pairs: pointed at a full corpus the cost is proportional to the
    candidate count, O(Σ cell²) with K sized √(N/2) from the corpus.
    Vectors ride through the cell join itself (_cell_pair_cosines) from
    the shared materialized vector store (norms folded once per corpus
    snapshot, identical doubles → bit-identical cosine), so each
    candidate pays one dot fold inside the join's output pipeline, the
    τ filter reduces the stream map-side, and the corpus parquet is
    scanned zero times per query — the quadratic pair stream never
    crosses an exchange.
    """
    return _cell_pair_cosines(spark, sf_dir).select(
        F.col("va").alias("vec_a"),
        F.col("vb").alias("vec_b"),
        F.col("cs").alias("cos_sim"),
    ).filter(F.col("cos_sim") >= EMB_COSINE_TAU)


# ---------------------------------------------------------------------------
# SemDeDup: cluster-bucketed semantic dedup (the embedding-cosine scale path)
# ---------------------------------------------------------------------------
def _semdedup_oracle() -> str:
    from ..functions.vectors import sql_cosine6

    psim = sql_cosine6("ea.embedding", "eb.embedding")
    return f"""
WITH {_member_cte()},
pairs AS (
  SELECT mb.vec_id AS vb, {psim} AS cs
  FROM member ma
  JOIN member mb ON ma.cluster = mb.cluster AND ma.vec_id < mb.vec_id
  JOIN embeddings ea ON ea.vec_id = ma.vec_id
  JOIN embeddings eb ON eb.vec_id = mb.vec_id
),
agg AS (SELECT vb AS vec_id, MAX(cs) AS mx FROM pairs GROUP BY vb)
SELECT m.vec_id, m.cluster,
       COALESCE(a.mx, CAST(-1.0 AS DOUBLE)) AS max_sim_lower,
       COALESCE(a.mx, CAST(-1.0 AS DOUBLE)) < {SEMDEDUP_TAU} AS keep
FROM member m LEFT JOIN agg a ON a.vec_id = m.vec_id
"""


@register("dedup_semdedup", oracle=_semdedup_oracle(), tags=("dedup", "embedding", "semdedup"))
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup via k-means cells.

    Assign every vector to its nearest of K codebook centroids, then
    compare ONLY within a cell: a vector is dropped when its max cosine
    to a lower-id cellmate reaches SEMDEDUP_TAU. This is the scale path
    that `dedup_embedding_cosine` (exact pair-level cosine over the
    same cell candidates) is the spot-check for: cell assignment is a
    broadcast-codebook join reduced by a map-side partial aggregate
    (K = √(N/2) from _semdedup_k, so cells stay ~√(2N) wide), pair
    expansion is O(Σ cell²) instead of O(N²) and rides inside the cell
    join (_cell_pair_cosines) without ever being exchanged; a hot cell
    takes the join_salted treatment implemented there. The per-vector
    max collapses the pair stream map-side before its one shuffle.

    Output is the per-vector verdict a corpus pipeline consumes:
    (vec_id, cluster, max_sim_lower, keep) — every input row appears
    exactly once, keep=false marks semantic near-duplicates.
    """
    member = _semdedup_member(spark, sf_dir)
    # The pair stream arrives with cosines already computed inside the
    # cell join (_cell_pair_cosines — vectors ride the join, the
    # quadratic stream never crosses an exchange); the per-vector max
    # is a partial aggregate, so what the groupBy shuffles is one
    # (vb, mx) row per vector per task, not the pair stream.
    max_lower = (
        _cell_pair_cosines(spark, sf_dir)
        .groupBy("vb")
        .agg(F.max("cs").alias("mx"))
    )
    sim = F.coalesce(F.col("mx"), F.lit(-1.0))
    return (
        member.join(max_lower, member.vec_id == max_lower.vb, "left")
        .select(
            "vec_id",
            "cluster",
            sim.alias("max_sim_lower"),
            (sim < SEMDEDUP_TAU).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-source duplication matrix (which sources copy from each other)
# ---------------------------------------------------------------------------
def _cross_source_oracle() -> str:
    return f"""
WITH pairs AS (SELECT doc_a, doc_b FROM ({_minhash_oracle()})),
labeled AS (
  SELECT LEAST(da.source, db.source) AS source_a,
         GREATEST(da.source, db.source) AS source_b
  FROM pairs
  JOIN documents da ON da.doc_id = pairs.doc_a
  JOIN documents db ON db.doc_id = pairs.doc_b
)
SELECT source_a, source_b, COUNT(*) AS n_pairs
FROM labeled GROUP BY 1, 2
"""


@register(
    "corpus_cross_source_overlap",
    oracle=_cross_source_oracle(),
    tags=("dedup", "corpus", "provenance"),
)
def corpus_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate overlap matrix between corpus sources.

    The curation question behind dedup: which pairs of sources share
    near-duplicate content (mirrors, scrapes, cross-posts)? MinHash+LSH
    candidate pairs (the scale-safe generator) are labeled with each
    side's source via two KEYED joins against the documents dimension,
    then counted per unordered source pair. The pair stream grows with
    the corpus (star chains alone contribute Θ(N) rows), so neither
    label join is force-broadcast — AQE broadcasts the pair side while
    it is small and switches to a shuffled keyed join when it is not;
    both shapes move only (id, source)-width rows, never document
    text. LEAST/GREATEST canonicalizes the unordered pair so (A,B)
    and (B,A) fold together.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    docs = table(spark, sf_dir, "documents")
    da = docs.select(F.col("doc_id").alias("id_a"), F.col("source").alias("src_a"))
    db = docs.select(F.col("doc_id").alias("id_b"), F.col("source").alias("src_b"))
    labeled = (
        pairs.join(da, F.col("id_a") == F.col("doc_a"))
        .join(db, F.col("id_b") == F.col("doc_b"))
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
    )
    return labeled.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


# ---------------------------------------------------------------------------
# Incremental dedup: an arriving delta batch checked against the corpus
# ---------------------------------------------------------------------------
def _incremental_oracle() -> str:
    return f"""
WITH {_minhash_bands_cte()},
corpus_min AS (
  SELECT band, sig, MIN(doc_id) AS corpus_id
  FROM bands WHERE doc_id % 10 <> 0 GROUP BY 1, 2
),
hits AS (
  SELECT d.doc_id AS delta_id, c.corpus_id
  FROM bands d JOIN corpus_min c ON d.band = c.band AND d.sig = c.sig
  WHERE d.doc_id % 10 = 0
),
best AS (SELECT delta_id, MIN(corpus_id) AS first_match FROM hits GROUP BY delta_id)
SELECT d.doc_id, COALESCE(b.first_match, CAST(-1 AS BIGINT)) AS first_match,
       (b.delta_id IS NOT NULL) AS is_dup
FROM documents d LEFT JOIN best b ON b.delta_id = d.doc_id
WHERE d.doc_id % 10 = 0
"""


@register(
    "dedup_incremental_delta",
    oracle=_incremental_oracle(),
    tags=("dedup", "minhash", "incremental"),
)
def dedup_incremental_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest dedup: each document in an arriving DELTA batch
    (doc_id % 10 = 0 stands in for today's crawl) is checked against the
    EXISTING corpus via the LSH band index — the shape a production
    pipeline runs daily, where the corpus side's (band, sig) index is
    precomputed once and only the delta's signatures are fresh work.

    The rule is uniform per bucket and deliberately NOT derived from
    the candidate-pair stream: a delta doc is a duplicate iff it shares
    a bucket with ≥1 corpus doc, and its per-bucket match is that
    bucket's MIN CORPUS member. For ≤cap buckets this is exactly what
    the all-pairs semantics would report (the minimum of a delta doc's
    corpus pair-partners in a bucket IS the bucket's corpus min); for
    hot buckets it is strictly better — the star chain links members
    through the bucket's global min, so a pair-derived verdict would
    silently report is_dup=false for every delta doc in a hot bucket
    whose min id happens to be a delta doc itself, appending known
    boilerplate duplicates. Computed straight off the cached POSTING
    TABLE: one keyed aggregation for the per-bucket corpus min, one
    keyed join with the delta's band rows, one aggregation keyed on
    delta_id — no per-bucket arrays anywhere (a hot bucket's ids array
    would be a multi-GB row at web scale). Delta-internal duplicates
    are deliberately out of scope (they are the ordinary batch-local
    dedup). Every delta doc gets a verdict row (is_dup + lowest
    matching corpus doc), ready to anti-join the delta before
    appending.
    """
    docs = table(spark, sf_dir, "documents")
    bands, _ = _minhash_index(spark, sf_dir)
    corpus_min = (
        bands.filter(F.col("doc_id") % 10 != 0)
        .groupBy("band", "sig")
        .agg(F.min("doc_id").alias("corpus_id"))
    )
    best = (
        bands.filter(F.col("doc_id") % 10 == 0)
        .select(F.col("doc_id").alias("delta_id"), "band", "sig")
        .join(corpus_min, ["band", "sig"])
        .groupBy("delta_id")
        .agg(F.min("corpus_id").alias("first_match"))
    )
    delta_docs = docs.filter(F.col("doc_id") % 10 == 0).select("doc_id")
    return delta_docs.join(
        best, delta_docs.doc_id == best.delta_id, "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("first_match"), F.lit(-1).cast("long")).alias("first_match"),
        F.col("delta_id").isNotNull().alias("is_dup"),
    )


# ---------------------------------------------------------------------------
# Connected components over the LSH candidate graph (dedup clustering)
# ---------------------------------------------------------------------------
def _graph_ctes() -> str:
    """The DuckDB CTEs every graph oracle starts from: the MinHash-LSH
    candidate ``pairs`` and their undirected ``edges`` (a, b). Both are
    MATERIALIZED (DuckDB ≥ 0.9): DuckDB otherwise inlines a CTE at every
    reference, re-running the MinHash oracle once per use of ``edges``
    and per step of a recursive ``reach``."""
    return f"""pairs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({_minhash_oracle()})
),
edges AS MATERIALIZED (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
)"""


def _reach_ctes() -> str:
    """``_graph_ctes`` plus ``reach`` (src, dst): every vertex with each
    vertex reachable from it, for a WITH RECURSIVE clause."""
    return f"""{_graph_ctes()},
verts AS (SELECT DISTINCT a AS v FROM edges),
reach(src, dst) AS (
  SELECT v, v FROM verts
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
)"""


def _cc_oracle() -> str:
    return f"""
WITH RECURSIVE {_reach_ctes()}
SELECT src AS doc_id, MIN(dst) AS component
FROM reach GROUP BY src
"""


@register("dedup_connected_components", oracle=_cc_oracle(), tags=("dedup", "iterative", "graph"))
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the MinHash-LSH
    candidate-pair graph, so each group of transitively-linked
    near-duplicates gets one canonical id (min doc_id) — the step a
    training-data pipeline runs between candidate generation and
    keep-one-per-cluster filtering.

    Iterative min-label propagation WITH POINTER JUMPING (the
    Shiloach–Vishkin shortcut): each round every vertex first takes the
    min label among itself and its neighbors, then replaces its label
    with its label's label (labels are always vertex ids, so the label
    table self-joins on them). The neighbor step alone converges in
    O(diameter) rounds — a gradually-drifting template (paginated or
    versioned boilerplate, where only consecutive versions share an
    LSH band) forms a path component whose diameter grows with the
    chain, and each round is a full edge-set shuffle; the shortcut
    makes the known-min's reach roughly DOUBLE per round instead of
    growing by one hop, so convergence is O(log diameter): ~12 rounds
    for a 3000-link drift chain instead of 3000 (or a loud cap trip).
    Per-round cost is one extra keyed self-join of the (vertex, label)
    table — far smaller than the edge join it replaces thousands of.
    Convergence is checked via a driver-side count per round (the
    per-round WORK is fully distributed; the driver only sees the
    single converged/not-converged scalar, which is how any iterative
    Spark algorithm terminates). catalog.materialize truncates lineage
    so plans don't grow exponentially with rounds. The DuckDB oracle
    computes the same fixpoint as a recursive CTE — the fixpoint
    (label = component min) is algorithm-independent, so the shortcut
    changes round counts, never results.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    labels = _min_label_components(pairs)
    return labels.select(F.col("v").alias("doc_id"), F.col("label").alias("component"))


# Re-root the CC label table through parquet every this many rounds.
# localCheckpoint truncates LINEAGE but carries the plan's estimated
# sizeInBytes forward as the checkpointed frame's originStats — and a
# round's plan multiplies that estimate into itself ~4x (two label
# self-joins), so the BigInt estimate's BIT LENGTH doubles per round.
# Within a few dozen rounds the estimate exceeds
# BigInteger's 2^31-bit ceiling and Catalyst's stats visitor kills the
# job with "BigInteger would overflow supported range" — on exactly
# the slow-converging giant graphs the loop exists for. A parquet
# round-trip resets stats to REAL file bytes (a reliable checkpoint()
# keeps the inflated originStats too, so catalog.materialize does NOT
# subsume it); every 8 rounds bounds the estimate at ~real_bits * 2^8
# plus per-round join constants, orders of magnitude under the
# ceiling, while paying the (tiny, vertex-table-sized) write on 1
# round in 8.
_CC_REROOT_EVERY = 8


def _undirected_edges(pairs: DataFrame) -> DataFrame:
    """(a, b) in both directions for each (doc_a, doc_b) pair, deduped
    and materialized — the edge set both iterative loops start from."""
    return materialize(
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .unionByName(pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")))
        .distinct()
    )


def _min_label_components(pairs: DataFrame, max_rounds: int = 200) -> DataFrame:
    """Min-label + pointer-jumping loop behind dedup_connected_components,
    exposed on a raw (doc_a, doc_b) pair frame so tests can drive it
    with synthetic graphs (a 300-link path proves the O(log diameter)
    round count — without the jump, that fixture needs 300 rounds).
    Returns (v, label) for every vertex incident to a pair."""
    spark = pairs.sparkSession
    edges = _undirected_edges(pairs)
    # share(): the first round reads the initial label table three times
    # (neighbor-min join, hook join, convergence count).
    labels = share(
        edges.select(F.col("a").alias("v")).distinct().withColumn("label", F.col("v"))
    )
    # The two re-root scratch dirs, allocated on the first re-root
    # round (most graphs converge before it) and alternated, so a dir
    # is overwritten only 2·_CC_REROOT_EVERY rounds after its write,
    # when every intervening round has been materialized and nothing
    # lazily reads it. The finally sweeps them on every path.
    dirs = cleanup = None
    rooted = False
    # Loop to the FIXPOINT (changed == 0), not a fixed round cap:
    # returning unconverged labels would silently disagree with the
    # oracle's recursive-CTE fixpoint. The hard ceiling only guards
    # against a non-terminating regression, and trips loudly — with
    # pointer jumping, the default 200 rounds allows components of
    # astronomically large diameter (reach doubles per round), not
    # merely 200 hops.
    try:
        for round_no in range(1, max_rounds + 1):
            neighbor_min = (
                edges.join(labels, edges.a == labels.v)
                .groupBy(F.col("b").alias("nv"))
                .agg(F.min("label").alias("nlabel"))
            )
            # Both sides of the jump self-join read hooked, and it stays
            # a plain frame: AQE reuses its inner exchanges (the edge
            # join's shuffles and the neighbor-min aggregate) across the
            # two sides, so the hook subtree runs once per round.
            hooked = labels.join(neighbor_min, labels.v == F.col("nv"), "left").select(
                "v",
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias(
                    "label"
                ),
            )
            # Pointer jump: label(v) <- label(label(v)). Every label IS a
            # vertex id present in the label table (initial labels are the
            # vertices themselves; mins of labels stay labels), so the
            # lookup always resolves; coalesce is belt-and-braces.
            jump = hooked.select(F.col("v").alias("jv"), F.col("label").alias("jlabel"))
            new_labels = materialize(
                hooked.join(jump, hooked.label == F.col("jv"), "left").select(
                    "v", F.coalesce(F.col("jlabel"), F.col("label")).alias("label")
                )
            )
            rooted = round_no % _CC_REROOT_EVERY == 0
            if rooted:
                if dirs is None:
                    dirs, cleanup = scratch_roots(spark, "cc_labels_reroot", 2)
                path = dirs[(round_no // _CC_REROOT_EVERY) % 2]
                new_labels.write.mode("overwrite").parquet(path)
                new_labels = spark.read.parquet(path)
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), F.col("n.v") == F.col("o.v"))
                .filter(F.col("n.label") != F.col("o.label"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"connected components did not converge in {max_rounds} rounds"
            )
        # Labels from a re-root round are a lazy read of a scratch dir
        # the sweep deletes: detach them first.
        if rooted:
            labels = materialize(labels)
    finally:
        if cleanup is not None:
            cleanup()
    return labels


@register(
    "dedup_filtered_corpus",
    oracle=f"""
WITH RECURSIVE {_reach_ctes()},
comp AS (SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY src),
dropped AS (SELECT doc_id FROM comp WHERE doc_id <> component)
SELECT (SELECT COUNT(*) FROM documents) AS n_total,
       (SELECT COUNT(*) FROM dropped) AS n_dropped,
       (SELECT COUNT(*) FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM dropped)) AS n_kept
""",
    tags=("dedup", "pipeline", "end-to-end"),
)
def dedup_filtered_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's END PRODUCT: corpus size after keeping one
    canonical doc (min doc_id) per near-dup cluster — candidates from
    MinHash-LSH, clusters from connected components, non-candidates
    kept untouched. The drop set is an anti-join against the corpus
    (never a rewrite of it), which at 100 TB means the full text moves
    zero times: only (doc_id, component) pairs shuffle."""
    comp = dedup_connected_components(spark, sf_dir)
    dropped = comp.filter(F.col("doc_id") != F.col("component")).select("doc_id")
    docs = table(spark, sf_dir, "documents").select("doc_id")
    kept = docs.join(dropped, "doc_id", "left_anti")
    return (
        docs.agg(F.count(F.lit(1)).alias("n_total"))
        .crossJoin(dropped.agg(F.count(F.lit(1)).alias("n_dropped")))
        .crossJoin(kept.agg(F.count(F.lit(1)).alias("n_kept")))
    )


# ---------------------------------------------------------------------------
# PageRank over the LSH candidate graph (iterative centrality)
# ---------------------------------------------------------------------------
PR_ITERS = 3
PR_DAMPING = 0.85

# Per-iteration quantization is the cross-engine determinism anchor:
# ranks are cut to 6dp at every iteration boundary and per-edge
# contributions to 9dp BEFORE the exact decimal SUM, so float-summation
# order (Spark's parallel partials vs DuckDB's sequential fold) can
# never leak into the next iteration's inputs. The quantization is
# ROUND(x·10^k)/10^k — NOT ROUND(x, k): rounding the raw double at k
# decimals diverges across engines for values within 1 ulp of a k-dp
# half boundary (Spark's ROUND is HALF_UP on the exact binary
# expansion, DuckDB's is float arithmetic). Multiplying FIRST makes
# both engines round the SAME IEEE product double with the same
# half-away-from-zero tie rule, and the final division by the same
# power of ten is one more shared correctly-rounded IEEE op
# (functions/exact.roundk and sql_roundk).


def _pagerank_oracle() -> str:
    iters = []
    prev = "r0"
    for k in range(1, PR_ITERS + 1):
        iters.append(f"""
iter{k} AS (
  SELECT d.v,
         {sql_roundk(f"(CAST(1 AS DOUBLE) - CAST({PR_DAMPING} AS DOUBLE)) / CAST(n.cnt AS DOUBLE) + {PR_DAMPING} * s.contrib", 6)} AS r
  FROM (
    SELECT e.b AS v, {sql_dsum(sql_roundk("p.r / d2.deg", 9), 9)} AS contrib
    FROM edges e
    JOIN {prev} p ON p.v = e.a
    JOIN deg d2 ON d2.v = e.a
    GROUP BY e.b
  ) s
  JOIN deg d ON d.v = s.v
  CROSS JOIN n
)""")
        prev = f"iter{k}"
    its = ",".join(iters)
    return f"""
WITH {_graph_ctes()},
deg AS (SELECT a AS v, COUNT(*) AS deg FROM edges GROUP BY a),
n AS (SELECT COUNT(*) AS cnt FROM deg),
r0 AS (
  SELECT v, {sql_roundk("1.0 / n.cnt", 6)} AS r FROM deg CROSS JOIN n
),{its}
SELECT v AS doc_id, r AS pagerank FROM {prev}
"""


@register("graph_pagerank_neardup", oracle=_pagerank_oracle(), tags=("graph", "iterative", "pagerank"))
def graph_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 iterations, d=0.85) over the undirected MinHash-LSH
    candidate graph — ranks the most-connected near-duplicate hubs, the
    signal a dedup pipeline uses to pick cluster canonicals or flag
    template spam (a doc near-duplicating MANY others is boilerplate).

    Iterative groupBy-join rounds exactly like connected components
    above: per round, each vertex's rank disperses along its edges and
    re-aggregates — one shuffle per iteration, edges materialized once
    (catalog.materialize). The undirected graph has no dangling nodes
    (every vertex has degree ≥ 1), so no leaked-mass correction term is
    needed. Ranks are quantized to 6dp at every iteration boundary and
    contributions summed as exact decimals, making the whole
    computation bit-identical to the oracle's unrolled-CTE form
    regardless of summation order.

    (On this synthetic corpus the candidate graph is a union of
    near-cliques — regular components — so ranks converge to uniform;
    the oracle still verifies every dispersal/damping step exactly, and
    irregular graphs rank hubs above leaves with the same plan.)
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    return _pagerank_on_pairs(pairs)


def _pagerank_on_pairs(pairs: DataFrame) -> DataFrame:
    """PageRank loop behind graph_pagerank_neardup, exposed on a raw
    (doc_a, doc_b) pair frame so tests can drive it with synthetic
    graphs. Returns (doc_id, pagerank).

    The per-iteration checkpoint compounds the stats estimate like the
    CC loop's (_CC_REROOT_EVERY), but PR_ITERS rounds stay below the
    first re-root boundary, so the loop needs no re-root."""
    edges = _undirected_edges(pairs)
    # share(): deg is read by the n count, the rank init, AND the
    # contribution join in EVERY iteration — unshared, the degree
    # shuffle over the edge set re-executes once per PageRank round.
    deg = share(edges.groupBy(F.col("a").alias("v")).agg(F.count(F.lit(1)).alias("deg")))
    n = deg.count()
    if n == 0:
        # An empty edge set has no vertices to rank; without this
        # guard the teleport base below divides by zero. The select
        # keeps the (doc_id, pagerank) contract on an empty frame.
        return deg.select(F.col("v").alias("doc_id"), F.lit(0.0).alias("pagerank"))
    ranks = deg.select("v", roundk(F.lit(1.0) / F.lit(float(n)), 6).alias("r"))
    # Same IEEE op sequence as the oracle's (1.0 − 0.85)/n in DOUBLE:
    # DuckDB's bare `1 - 0.85` is DECIMAL subtraction (0.1499999…944 as
    # a double), Python's is double subtraction (0.1500000…002) — a
    # ~1e-17 teleport drift that can flip a 6dp rounding boundary, so
    # the oracle now casts to DOUBLE first and both engines compute the
    # identical base.
    base = (1.0 - PR_DAMPING) / float(n)
    for _ in range(PR_ITERS):
        contribs = (
            edges.join(ranks.withColumnRenamed("v", "rv"), F.col("rv") == F.col("a"))
            .join(deg.select(F.col("v").alias("dv"), "deg"), F.col("dv") == F.col("a"))
            .groupBy("b")
            .agg(dsum(roundk(F.col("r") / F.col("deg"), 9), 9).alias("contrib"))
        )
        ranks = materialize(
            contribs.select(
                F.col("b").alias("v"),
                roundk(F.lit(base) + PR_DAMPING * F.col("contrib"), 6).alias("r"),
            )
        )
    return ranks.select(F.col("v").alias("doc_id"), F.col("r").alias("pagerank"))


# ---------------------------------------------------------------------------
# Prefix-filter set-similarity join (PPJoin-family)
# ---------------------------------------------------------------------------
# Jaccard threshold for the prefix-filter join. With threshold t, two
# shingle sets can only reach Jaccard >= t if they share a shingle
# among each one's (m - ceil(t*m) + 1) RAREST shingles — the
# prefix-filter guarantee (Chaudhuri et al. SSJoin / Xiao et al.
# PPJoin), which makes this join EXACT: no false negatives, unlike
# MinHash LSH.
PF_JACCARD_T = 0.6


def _pfj_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build (or fetch) the prefix-filter join's id-keyed index:
    (vocab, prefix, profiles), all eagerly checkpointed once per
    (dataset identity, Spark application) — the `_minhash_index` shape.

    - ``vocab`` (sh, dfc, shid): per-shingle document frequency plus a
      frozen INJECTIVE int64 shingle id.
    - ``prefix`` (doc_id, i, m, shid): each doc's (m − ⌈t·m⌉ + 1)
      rarest shingles with their df-order position i and set size m —
      the join's probe entries. It lives in the index because the
      window pipeline behind it is per-corpus-snapshot stable, and a
      LAZY localCheckpoint in the query plan would let its two
      join-side consumers both evaluate it (lazy checkpoint blocks
      dedupe only after one evaluation COMPLETES, and concurrent
      stages both start before either finishes). Eager in the index,
      it is built exactly once and both join sides read blocks.
    - ``profiles`` (doc_id, shs): each doc's SORTED ARRAY of shingle
      ids — the ride-along verification payload.

    WHY ids at all: ride-along arrays of the raw 3-token shingle
    STRINGS would make every candidate's exact intersection pay
    per-element string hashing and equality, the dominant PFJ cost.
    Substituting any BIJECTION for the shingle
    alphabet changes no set cardinality — n_common/n_union/jaccard are
    bit-identical — while the intersection hash-set runs on longs and
    the prefix-frame exchanges shrink by the string/long width ratio.

    WHY monotonically_increasing_id + eager checkpoint, not a content
    hash or a global row_number: the id only needs to be injective
    (intersection SIZES are bijection-invariant; nothing downstream
    orders by id except the per-doc sort, which any total order
    serves). A 64-bit content hash (xxhash64) admits collisions that
    would silently OVERCOUNT n_common once web-scale vocabularies
    reach birthday range — wrong for an operator whose contract is
    exactness. A global row_number would funnel the vocabulary
    through one partition. mono_id is injective with zero extra
    shuffles — but deterministic only per evaluation, and Spark
    shares no subplans, so the eager checkpoint freezes ONE
    assignment for all consumers. vocab and profiles are built and
    cached ATOMICALLY (one cache entry) because a split cache could
    evict one half and rebuild it under a FRESH assignment — prefix
    rows keyed by new ids probing arrays of old ids, silently wrong
    intersections. The tuple makes that impossible by construction.
    """

    def build() -> tuple[DataFrame, DataFrame, DataFrame]:
        # shared by the df aggregation and the prefix and profile joins
        toks = share(_shingles(table(spark, sf_dir, "documents")))
        dfreq = toks.groupBy("sh").agg(F.count(F.lit(1)).alias("dfc"))
        vocab = checkpoint_frame(
            dfreq.withColumn("shid", F.monotonically_increasing_id())
        )
        # The df-order window stays keyed on the STRING (dfc, sh) —
        # the positional semantics the mirror and oracle pin — while
        # the id is what travels into the join and the arrays. vocab
        # is vocabulary-sized (grows with corpus tokens) — AQE picks
        # the join strategy; a forced broadcast dies past 8 GB.
        w_doc = Window.partitionBy("doc_id").orderBy("dfc", "sh")
        w_m = Window.partitionBy("doc_id")
        prefix = checkpoint_frame(
            toks.join(vocab, "sh")
            .withColumn("i", F.row_number().over(w_doc))
            .withColumn("m", F.count(F.lit(1)).over(w_m))
            .filter(
                F.col("i")
                <= F.col("m") - F.ceil(F.lit(PF_JACCARD_T) * F.col("m")) + 1
            )
            .select("doc_id", "i", "m", "shid")
        )
        profiles = checkpoint_frame(
            toks.join(vocab.select("sh", "shid"), "sh")
            .groupBy("doc_id")
            .agg(F.sort_array(F.collect_set("shid")).alias("shs"))
        )
        return (vocab, prefix, profiles)

    return cached_index(spark, sf_dir, ("documents.parquet",), "pfj", build)


def _pfj_intersect_batches(batches, threshold: float | None = None):
    """Arrow-batched exact intersection counts for the prefix-filter
    join's verification: per input row (doc_a, doc_b, sa, sb) with sa
    and sb SORTED, UNIQUE int64 arrays (the _pfj_index contract —
    sort_array(collect_set(shid))), emit (doc_a, doc_b, n_common, ma,
    mb) with n_common = |sa ∩ sb| counted by a fully-vectorized numpy
    binary-search merge instead of JVM array_intersect's per-row boxed
    hash set.

    FUSED THRESHOLD: with ``threshold`` set, only rows whose jaccard
    passes it are emitted, so failing candidates never cross the Arrow
    IPC boundary back to the JVM; only the result-rate fraction of the
    candidates survives the filter. The predicate
    is computed EXACTLY as the SQL tail computes it —
    ``float64(n_common) / float64(ma + mb − n_common) >= t`` — numpy
    float64 division is the same IEEE-754 double division the JVM
    performs on ``CAST(n_common AS DOUBLE) / n_union``, so fusing
    moves the filter without moving any rounding boundary (a pinned
    test compares the fused kernel row-for-row against a JVM
    array_intersect reference that filters externally). n_union >= 1 always:
    inner joins over non-empty profile arrays give ma, mb >= 1 and
    n_common <= min(ma, mb).

    WHY: size(array_intersect) pays a boxed OpenHashSet insert and
    probe per element; this kernel's cost is one np.searchsorted of
    every a-element against the batch's packed b-keys — the same
    batched sorted-merge the numpy mirror uses. The rows never leave
    the join's stage: mapInArrow
    pipelines inside it (no exchange), so the plan's shuffle shape is
    IDENTICAL to a JVM projection's and the only new cost is the Arrow
    IPC hop, linear in candidate bytes.

    Mechanics: flatten both list columns; pack each element into one
    monotone int64 key `row_id * span + (value - lo)` (rows are
    contiguous and row-internally sorted, so packed keys are GLOBALLY
    sorted with zero sorting work); count a-keys present in the b-key
    array via one vectorized binary search; bincount matches per row.
    When `rows * span` could overflow the packing (shingle ids are
    monotonically_increasing_id — partition id in the high bits, so
    span is usually ~2^38 but unbounded in principle), fall back to a
    batch-local np.unique remap, which is exact for any id range.
    Intersection SIZES are all it returns, so the kernel is
    bit-equivalent to array_intersect semantics on unique arrays."""
    import numpy as np
    import pyarrow as pa

    out_fields = pa.schema(
        [
            pa.field("doc_a", pa.int64()),
            pa.field("doc_b", pa.int64()),
            pa.field("n_common", pa.int64()),
            pa.field("ma", pa.int64()),
            pa.field("mb", pa.int64()),
        ]
    )
    for batch in batches:
        n = batch.num_rows
        if n == 0:
            continue
        sa, sb = batch.column("sa"), batch.column("sb")
        if sa.null_count or sb.null_count:
            # Inner join over always-built profile arrays — a null here
            # means the index contract broke; fail loud, never guess.
            raise ValueError("_pfj_intersect_batches: null shingle array")
        va = sa.flatten().to_numpy(zero_copy_only=False)
        vb = sb.flatten().to_numpy(zero_copy_only=False)
        oa = sa.offsets.to_numpy(zero_copy_only=False)
        ob = sb.offsets.to_numpy(zero_copy_only=False)
        la = np.diff(oa - oa[0]).astype(np.int64)
        lb = np.diff(ob - ob[0]).astype(np.int64)
        ra = np.repeat(np.arange(n, dtype=np.int64), la)
        rb = np.repeat(np.arange(n, dtype=np.int64), lb)
        if len(va) and len(vb):
            # Python ints for the overflow check: hi-lo+1 itself can
            # exceed int64 when ids span the full mono_id range.
            lo = min(int(va.min()), int(vb.min()))
            span = max(int(va.max()), int(vb.max())) - lo + 1
            if n * span < (1 << 62):
                ka = ra * span + (va - lo)
                kb = rb * span + (vb - lo)
            else:
                allv = np.concatenate([va, vb])
                uniq, inv = np.unique(allv, return_inverse=True)
                span = len(uniq)
                ka = ra * span + inv[: len(va)].astype(np.int64)
                kb = rb * span + inv[len(va) :].astype(np.int64)
            idx = np.searchsorted(kb, ka)
            idx_c = np.minimum(idx, len(kb) - 1)
            hit = (idx < len(kb)) & (kb[idx_c] == ka)
            counts = np.bincount(ra[hit], minlength=n)
        else:
            counts = np.zeros(n, dtype=np.int64)
        doc_a, doc_b = batch.column("doc_a"), batch.column("doc_b")
        if threshold is not None:
            keep = counts.astype(np.float64) / (la + lb - counts) >= threshold
            if not keep.all():
                if not keep.any():
                    continue
                keep_idx = np.flatnonzero(keep)
                take = pa.array(keep_idx, type=pa.int64())
                doc_a, doc_b = doc_a.take(take), doc_b.take(take)
                counts, la, lb = counts[keep_idx], la[keep_idx], lb[keep_idx]
        yield pa.record_batch(
            [
                doc_a,
                doc_b,
                pa.array(counts, type=pa.int64()),
                pa.array(la, type=pa.int64()),
                pa.array(lb, type=pa.int64()),
            ],
            schema=out_fields,
        )


def _pfj_intersect_passing(batches):
    """mapInArrow entry point for production: the intersection kernel
    with the member's jaccard threshold fused in (importable
    module-level function, not a lambda/partial, so reused Python
    workers can resolve it by reference)."""
    return _pfj_intersect_batches(batches, threshold=PF_JACCARD_T)


def _pfj_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The prefix-filter candidate self-join behind
    dedup_prefix_filter_jaccard: one row (doc_a, doc_b, sa, sb) per
    (pair, shared prefix shingle) that survives the length and
    positional filters, with sa/sb each side's sorted, unique shingle-id
    array. Verification (counting |sa ∩ sb| and applying the jaccard
    threshold) is the caller's."""
    # vocab (frozen shingle ids + df counts), the prefix probe frame,
    # and the ride-along profile arrays come from the cached id-keyed
    # index — see _pfj_index for why the id assignment must be frozen
    # and shared atomically between the prefix stream and the arrays,
    # and why the prefix frame is eager there (its two join-side
    # consumers raced a lazy checkpoint into double evaluation).
    # Candidates stream from a SELF-JOIN of the prefix frame — NOT a
    # collect_list bucket expansion: prefix buckets have no width cap
    # (capping would break the no-false-negatives guarantee; a cluster
    # of k near-identical docs makes every prefix shingle df≈k), so an
    # array-expansion bucket of k members would materialize k²/2
    # structs in one row and hit the JVM 2³¹-element limit at
    # web-scale boilerplate.
    _vocab, prefix, profiles = _pfj_index(spark, sf_dir)
    # Each doc's SORTED SHINGLE-SET ARRAY rides the prefix entries INTO
    # the pair-generating self-join — the _cell_pair_cosines lesson
    # (payloads ride the join that creates pairs; the pair stream is
    # never exchanged). Two rejected shapes:
    # (a) token-level verification (cand ⋈ toks_a on doc_a ⋈ toks_b on
    #     (doc_b, sh) + groupBy) shuffles Σ_cand |S_a| token rows;
    # (b) pair-level array attach (distinct cand, then two profile
    #     joins) halves that but must route the whole pair stream WITH
    #     its arrays through the second attach's shuffle once the
    #     profile side outgrows broadcast.
    # Riding the arrays makes every shuffle corpus-linear: the prefix
    # side costs prefix-entries × array width (id-keyed: 8 B/element
    # instead of the shingle string), the emission stream is filtered
    # and intersected MAP-SIDE inside the join's stage (pipelined
    # mapInArrow — no exchange), and the only pair-level exchange is
    # the final distinct over rows that already passed jaccard >= t —
    # RESULT-sized (each true pair × its passing prefix shingles, all
    # copies bit-identical since the row is a pure function of the
    # pair). The ~k× redundant intersections for a pair sharing k
    # prefix shingles are the documented price — row-local vectorized
    # work that scales with cores, traded against the pair-stream
    # shuffle that does not scale with disk. collect_set is PER-DOC
    # (bounded by document token count), never a bucket expansion.
    #
    # Length + positional filters (see dedup_prefix_filter_jaccard):
    # both thresholds are relaxed by 0.5 — sizes/overlaps are integers,
    # so half-unit slack can only ADMIT extra candidates (verified
    # exactly in the same join), never drop a true pair to t·m landing
    # on a float rounding boundary. They sit in the JOIN CONDITION, so
    # rejected emissions never reach verification.
    overlap_frac = PF_JACCARD_T / (1.0 + PF_JACCARD_T)
    pref_a = prefix.join(profiles, "doc_id").select(
        F.col("doc_id").alias("doc_a"),
        F.col("i").alias("ia"),
        F.col("m").alias("ma"),
        "shid",
        F.col("shs").alias("sa"),
    )
    pref_b = prefix.join(profiles, "doc_id").select(
        F.col("doc_id").alias("doc_b"),
        F.col("i").alias("ib"),
        F.col("m").alias("mb"),
        F.col("shid").alias("shid_b"),
        F.col("shs").alias("sb"),
    )
    return pref_a.join(
        pref_b,
        (F.col("shid") == F.col("shid_b"))
        & (F.col("doc_a") < F.col("doc_b"))
        & (
            F.least("ma", "mb")
            >= PF_JACCARD_T * F.greatest("ma", "mb") - F.lit(0.5)
        )
        & (
            1 + F.least(F.col("ma") - F.col("ia"), F.col("mb") - F.col("ib"))
            >= overlap_frac * (F.col("ma") + F.col("mb")) - F.lit(0.5)
        ),
    ).select("doc_a", "doc_b", "sa", "sb")


@register(
    "dedup_prefix_filter_jaccard",
    oracle=f"""
WITH toks AS ({_SQL_SHINGLES.format(where="")}),
dfreq AS (SELECT sh, COUNT(*) AS dfc FROM toks GROUP BY sh),
ordered AS (
  SELECT t.doc_id, t.sh,
         ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY d.dfc, t.sh) AS i,
         COUNT(*) OVER (PARTITION BY t.doc_id) AS m
  FROM toks t JOIN dfreq d ON t.sh = d.sh
),
prefix AS (
  SELECT doc_id, sh FROM ordered WHERE i <= m - CEIL({PF_JACCARD_T} * m) + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM prefix a JOIN prefix b ON a.sh = b.sh AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS m FROM toks GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM cand c
  JOIN toks ta ON ta.doc_id = c.doc_a
  JOIN toks tb ON tb.doc_id = c.doc_b AND tb.sh = ta.sh
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b, i.n_common,
       sa.m + sb.m - i.n_common AS n_union,
       {sql_roundk("CAST(i.n_common AS DOUBLE) / (sa.m + sb.m - i.n_common)", 6)} AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(i.n_common AS DOUBLE) / (sa.m + sb.m - i.n_common) >= {PF_JACCARD_T}
""",
    tags=("dedup", "jaccard", "prefix-filter"),
)
def dedup_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT shingle-Jaccard similarity join via prefix filtering — the
    deterministic alternative to MinHash LSH (no false negatives).

    Each doc's 3-token shingles sort by ascending document frequency;
    only the (m − ⌈t·m⌉ + 1) RAREST shingles form its prefix, and two
    docs are candidates only if their prefixes share a shingle. The
    inverted index is built on prefix shingles only, which are low-df
    WHEN DOCUMENTS DIFFER — rare shingles rank first, so a shingle
    popular across unrelated docs is never in anyone's prefix.
    Candidates are further pruned by two exactness-preserving filters
    before verification: the SSJoin LENGTH filter (Jaccard ≥ t forces
    min(ma,mb) ≥ t·max(ma,mb) — size-mismatched docs can never pass)
    and the PPJoin POSITIONAL filter (a pair sharing the prefix
    shingle at df-order positions ia, ib can have at most
    1 + min(ma−ia, mb−ib) common shingles, which must reach
    t/(1+t)·(ma+mb); the pair's first common prefix shingle carries
    the maximal — and valid — bound, so keeping pairs where ANY shared
    row passes loses no true pair). Verification attaches each side's
    sorted shingle-ID array (int64 ids from a frozen bijection — see
    _pfj_index; intersection sizes are bijection-invariant, so results
    are bit-identical to string-set semantics) and counts the exact
    intersection row-locally INSIDE the pair-generating self-join's
    stage via the Arrow-batched vectorized sorted-merge kernel
    (_pfj_intersect_batches, pipelined mapInArrow: no new exchange)
    rather than JVM array_intersect's per-row hash set — see
    _pfj_candidates for the two rejected shapes and why every shuffle
    here is corpus-linear. Integer-over-integer division
    makes the threshold decision engine-exact.

    Honest quadratic contract: a cluster of k docs that genuinely ARE
    mutually near-identical (templated boilerplate differing by a
    token — every prefix shingle has df≈k there, and rareness-ordering
    cannot help) has Θ(k²) VERIFIED OUTPUT by the operator's exact-join
    definition; no candidate filter can reduce an output that large.
    The join itself stays keyed (never cartesian), AQE's skew-join
    splits the hot shingle's k×k sort-merge partition across tasks at
    runtime, and the k² cost lands in the result, not in any single
    array row (the pair stream is join rows, collect_list-free — see
    the plan pin in tests). Production bounds k by running exact dedup
    first and this join on LSH-candidate scopes; for capped-cost
    near-dup discovery use dedup_minhash_lsh, whose star chain is the
    deliberate O(k) alternative.

    The document-frequency vocabulary (with its frozen int64 shingle
    ids) and the per-doc sorted id-array profiles come from the
    cached, eagerly-checkpointed `_pfj_index` — built once per
    (dataset, application) exactly like the MinHash index, so the
    shingle scatter+explode pipeline runs once at build time instead
    of four times in the query plan (Spark shares no subplans).
    Candidates STREAM from a self-join of the index's EAGER prefix
    frame (as a lazy checkpoint in the query plan its two join-side
    consumers could both evaluate it; eager in the index, both sides
    read checkpoint blocks) — not from a
    collect_list bucket expansion: prefix buckets have no width cap
    (capping would break the no-false-negatives guarantee), so an
    array-expansion bucket of k members would materialize k²/2 structs
    in one row and hit the JVM 2³¹-element limit on web-scale
    boilerplate, while the join emits the same pairs as a stream.
    """
    # The jaccard threshold is FUSED into the kernel: failing
    # candidates are dropped batch-locally before the Arrow IPC return
    # hop, so the boundary carries only result-rate rows (see
    # _pfj_intersect_batches for the exact double-division predicate).
    passing = _pfj_candidates(spark, sf_dir).mapInArrow(
        _pfj_intersect_passing,
        "doc_a long, doc_b long, n_common long, ma long, mb long",
    )
    return (
        passing
        .withColumn("n_union", F.col("ma") + F.col("mb") - F.col("n_common"))
        .withColumn("jaccard", roundk(F.col("n_common").cast("double") / F.col("n_union"), 6))
        .select("doc_a", "doc_b", "n_common", "n_union", "jaccard")
        .distinct()
    )
