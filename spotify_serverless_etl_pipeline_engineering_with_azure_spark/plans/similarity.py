"""Similarity search over the ``embeddings`` table (north-star
extension): brute-force cosine top-k baseline + sign-LSH bucketed ANN
as the scale path.

Scale notes (100 TB): brute force is O(probes × corpus) — correct but
only viable for small probe sets or as the per-bucket scorer. The LSH
variant buckets every vector once (row-local projections, no shuffle),
then joins probes to candidates within a bucket, cutting the scored
pairs by ~2^planes. Recall/latency trades via number of planes and
multi-probe; verified against brute force in tests/test_similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import cached_index, checkpoint_frame, scatter, table
from ..functions.vectors import (
    LSH_TABLES,
    cosine6,
    lsh_bucket,
    norm,
    sql_cosine6,
    sql_lsh_bucket,
)
from ..functions.exact import davg, roundk, sql_davg, sql_roundk
from ..registry import register

# Oracle-side cosine fragments bit-identical to cosine6 —
# see functions/vectors.sql_cosine6 for why LIST_COSINE_SIMILARITY +
# ROUND(x, 6) is NOT engine-deterministic.
_COS6_PE_E = sql_cosine6("pe", "e.embedding")
_COS6_PE_C = sql_cosine6("pe", "c.embedding")

TOPK = 5
N_PROBES = 10

# sign-LSH search contract — shared by the registered query, its DuckDB
# oracle, and scripts/verify_scale.py's full-population mirror, so a
# product-constant change cannot silently drift the verifier.
LSH_PROBE_LIMIT = 20
LSH_TOPK = 3


def probe_top_k(scored: DataFrame, k: int, rank: str) -> DataFrame:
    """Each probe's ``k`` nearest rows of ``scored`` (probe_id,
    neighbor_id, cos_sim), numbered 1..k in column ``rank`` by cosine
    descending, ties to the lower neighbor_id."""
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.select(
        "probe_id", "neighbor_id", "cos_sim", F.row_number().over(w).alias(rank)
    ).filter(F.col(rank) <= k)


def _sql_probe_top_k(k: int) -> str:
    """DuckDB twin of :func:`probe_top_k` over a ``scored`` CTE."""
    return f"""SELECT probe_id, neighbor_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT probe_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {k}"""


def vector_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE materialized vector store: (vec_id, embedding, nrm), norms
    folded once per corpus snapshot, shared by every vector operator
    (brute-force scoring, the SemDeDup-family attach joins, IVF
    re-rank). One checkpoint serves N consumers — without it each
    side of every pair-attach join re-scans the parquet and re-folds
    the norms (Spark shares no subplans), and the identical stored
    doubles are what make every cosine bit-identical across reads.
    Identity/eviction semantics are catalog.cached_index's."""
    return cached_index(
        spark,
        sf_dir,
        ("embeddings.parquet",),
        "vector_store",
        lambda: checkpoint_frame(_vector_store_frame(spark, sf_dir)),
    )


def _vector_store_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRE-checkpoint plan of the vector store build (exposed for
    plan-quality assertions — checkpointing truncates lineage)."""
    return table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("nrm")
    )


@register(
    "sim_cosine_topk_bruteforce",
    oracle=f"""
WITH probes AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id < {N_PROBES}),
scored AS (
  SELECT probe_id, e.vec_id AS neighbor_id,
         {_COS6_PE_E} AS cos_sim
  FROM probes JOIN embeddings e ON e.vec_id <> probe_id
)
{_sql_probe_top_k(TOPK)}
""",
    tags=("similarity", "ann"),
)
def sim_cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the probe set, scan the corpus
    once, rank per probe.

    The corpus is never shuffled for scoring — probes broadcast to every
    partition; the only exchange is the per-probe top-k (tiny). Norms
    are computed once per vector BEFORE the pair join (same doubles →
    bit-identical cosine), so each scored pair pays one dot-product
    fold instead of three.
    """
    emb = vector_store(spark, sf_dir)
    probes = emb.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("pe"),
        F.col("nrm").alias("pnrm"),
    )
    scored = (
        emb.join(F.broadcast(probes), F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine6("pe", "embedding", "pnrm", "nrm").alias("cos_sim"),
        )
    )
    return probe_top_k(scored, TOPK, "rank")


def _lsh_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build (or fetch) the sign-LSH hash tables: (vec_id, embedding,
    nrm, table, bucket), eagerly materialized once per dataset and
    Spark application. Index BUILD is separated from SEARCH exactly as
    a serving ANN system does it — the hyperplane projections run once
    per vector at build time; queries pay only the candidate join and
    exact re-rank. At cluster scale this frame is a materialized index
    table (ideally bucketed on (table, bucket) on disk). The embedding
    and its norm are deliberately DENORMALIZED into each of the
    LSH_TABLES rows (a slim (vec_id, t, bucket) table plus a separate
    vector store — the _ivf_index shape — would be ~LSH_TABLES× smaller
    but adds a per-query attach join; at LSH_TABLES=2 the space cost is
    bounded and the search stays one equi-join). Identity/eviction
    semantics are catalog.cached_index's."""

    return cached_index(
        spark,
        sf_dir,
        ("embeddings.parquet",),
        "lsh",
        lambda: checkpoint_frame(_lsh_index_frame(spark, sf_dir)),
    )


def _lsh_index_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRE-checkpoint plan of the sign-LSH hash-table build, exposed so
    plan-quality tests can assert on the build pipeline (checkpointing
    truncates lineage to an RDD scan)."""
    emb = table(spark, sf_dir, "embeddings").withColumn(
        "nrm", norm(F.col("embedding"))
    )
    return emb.select(
        "vec_id",
        "embedding",
        "nrm",
        F.posexplode(
            F.array(*[lsh_bucket(F.col("embedding"), t) for t in range(LSH_TABLES)])
        ).alias("t", "bucket"),
    )


def _lsh_scored_sql(t: int) -> str:
    return f"""
  SELECT probe_id, c.vec_id AS neighbor_id,
         {_COS6_PE_C} AS cos_sim
  FROM (SELECT vec_id AS probe_id, embedding AS pe,
               {sql_lsh_bucket("embedding", t)} AS bucket
        FROM embeddings WHERE vec_id < {LSH_PROBE_LIMIT}) p
  JOIN (SELECT vec_id, embedding, {sql_lsh_bucket("embedding", t)} AS bucket
        FROM embeddings) c
    ON c.bucket = p.bucket AND c.vec_id <> probe_id"""


@register(
    "sim_ann_lsh_bucketed",
    oracle=f"""
WITH scored AS (
  SELECT probe_id, neighbor_id, MAX(cos_sim) AS cos_sim FROM (
    {_lsh_scored_sql(0)}
    UNION ALL
    {_lsh_scored_sql(1)}
  ) GROUP BY probe_id, neighbor_id
)
{_sql_probe_top_k(LSH_TOPK)}
""",
    tags=("similarity", "ann", "lsh"),
)
def sim_ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN search via multi-table sign-LSH (OR-construction): LSH_TABLES
    independent hash tables of PLANES_PER_TABLE hyperplane bits each; a
    candidate is scored if it collides with the probe in ANY table, and
    exact cosine ranks the survivors.

    The hash tables come from :func:`_lsh_index` (built once per
    dataset); the search is an equi-join on (table, bucket) against a
    broadcast probe set, and the per-pair MAX aggregation dedupes
    multi-table collisions before ranking. Scored pairs shrink
    ~2^k/L vs brute force; recall floors are pinned in
    tests/test_dedup_similarity.py.
    """
    buckets = _lsh_index(spark, sf_dir)
    probes = buckets.filter(F.col("vec_id") < LSH_PROBE_LIMIT).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("pe"),
        F.col("nrm").alias("pnrm"),
        F.col("t").alias("pt"),
        F.col("bucket").alias("pbucket"),
    )
    scored = (
        buckets.join(
            F.broadcast(probes),
            (F.col("t") == F.col("pt"))
            & (F.col("bucket") == F.col("pbucket"))
            & (F.col("vec_id") != F.col("probe_id")),
        )
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine6("pe", "embedding", "pnrm", "nrm").alias("cos_sim"),
        )
        .groupBy("probe_id", "neighbor_id")
        .agg(F.max("cos_sim").alias("cos_sim"))
    )
    return probe_top_k(scored, LSH_TOPK, "rank")


# ---------------------------------------------------------------------------
# k-means (Lloyd) over the embedding corpus — iterative clustering
# ---------------------------------------------------------------------------
# Oracle-baked demo sizing. Capacity contract for the literal-codebook
# assignment mechanism (_kmeans_assign_expr, and the IVF twin in
# advanced_ops): the codebook is inlined as K structs × dim literal
# doubles in ONE SQL expression, which stops working well before any
# large K — around K in the low THOUSANDS the generated Catalyst tree
# blows past janino codegen method/constant-pool limits (falling back
# to interpreted evaluation of K·dim multiply-adds per row), and a
# production K ~ √N (3×10⁵ at 10¹¹ vectors) would be a ~500 MB SQL
# string the driver cannot even build. At that scale the assignment
# step must switch shape: broadcast the codebook as DATA (an array
# literal per partition via a broadcast variable + Arrow-vectorized
# mapInPandas matmul, or a broadcast-join against a K-row centroid
# table with a rank-1 re-rank). The literal form is kept here because
# it is the fastest shape for the oracle-baked K≤tens demo and keeps
# the whole iteration inside whole-stage codegen.
KMEANS_K = 4
KMEANS_ITERS = 3

# Cross-engine determinism anchors (same scheme as graph_pagerank_neardup):
# centroids are quantized to 6dp at every iteration boundary, per-vector
# element contributions to the mean are quantized to 9dp and summed as
# exact decimals, and assignment distances are rounded to 6dp with the
# centroid id as tie-break — so Spark's parallel partial sums and
# DuckDB's sequential folds can never diverge between iterations.


def _centroid_mean(val: Column) -> Column:
    """Centroid component: ``val`` quantized to 9dp, averaged exactly,
    quantized to 6dp."""
    return roundk(davg(roundk(val, 9), 9), 6)


def _sql_centroid_mean(val: str) -> str:
    """SQL twin of :func:`_centroid_mean`."""
    return sql_roundk(sql_davg(sql_roundk(val, 9), 9), 6)


def _kmeans_oracle() -> str:
    parts = [
        f"""
exp AS (
  SELECT vec_id, u.i AS pos, u.v AS val FROM (
    SELECT vec_id,
           UNNEST(LIST_TRANSFORM(RANGE(1, LEN(embedding) + 1),
                  i -> {{'i': CAST(i - 1 AS INTEGER),
                        'v': CAST(embedding[i] AS DOUBLE)}})) AS u
    FROM embeddings
  )
),
c0 AS (
  SELECT CAST(vec_id AS INTEGER) AS cid, pos, {sql_roundk("val", 6)} AS cval FROM exp
  WHERE vec_id < {KMEANS_K}
)"""
    ]
    prev = "c0"
    for k in range(1, KMEANS_ITERS + 1):
        parts.append(f"""
d{k} AS (
  SELECT e.vec_id, c.cid,
         {sql_roundk("SUM((e.val - c.cval) * (e.val - c.cval))", 6)} AS dist_sq
  FROM exp e JOIN {prev} c ON c.pos = e.pos
  GROUP BY e.vec_id, c.cid
),
a{k} AS (
  SELECT vec_id, cid, dist_sq FROM (
    SELECT vec_id, cid, dist_sq,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist_sq, cid) AS rn
    FROM d{k}
  ) WHERE rn = 1
),
c{k} AS (
  SELECT p.cid, p.pos, COALESCE(u.cval, p.cval) AS cval
  FROM {prev} p LEFT JOIN (
    SELECT a.cid, e.pos,
           {_sql_centroid_mean("e.val")} AS cval
    FROM a{k} a JOIN exp e ON e.vec_id = a.vec_id
    GROUP BY a.cid, e.pos
  ) u ON u.cid = p.cid AND u.pos = p.pos
)""")
        prev = f"c{k}"
    body = ",".join(parts)
    return f"""
WITH {body}
SELECT vec_id, cid AS cluster_id, dist_sq
FROM a{KMEANS_ITERS}
"""


def _kmeans_assign_expr(centroids: dict[int, list[float]]) -> str:
    """One SQL string ranking all K centroids per row: K zip_with
    squared-distance folds over literal arrays, sorted on (dist, cid).
    Single py4j call — per-Column construction of K 64-wide folds costs
    a py4j call per operator on the driver. The literal form is valid HERE
    because k-means' K is a semantic hyperparameter (4 clusters), not a
    corpus-sizing rule: the K ~ √N quantizers (SemDeDup, IVF) use the
    broadcast-codebook join (advanced_ops._broadcast_codebook), whose
    docstring argues why literals cannot follow √N."""

    def sq_dist(vals: list[float]) -> str:
        lits = ", ".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in vals)
        return (
            # multiply-form round (functions/exact.roundk) mirroring
            # the oracle's dist_sq quantization bit-for-bit.
            f"(round(aggregate(zip_with(embedding, array({lits}), "
            "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
            "CAST(0.0 AS DOUBLE), (acc, z) -> acc + z) * 1000000.0D) / 1000000.0D)"
        )

    structs = ", ".join(
        f"struct({sq_dist(vals)} AS dist_sq, {cid} AS cid)"
        for cid, vals in sorted(centroids.items())
    )
    return f"element_at(array_sort(array({structs})), 1)"


@register("cluster_kmeans_embeddings", oracle=_kmeans_oracle(), tags=("clustering", "kmeans", "iterative"))
def cluster_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (K=4, 3 iterations, squared-Euclidean) over the
    embedding corpus, seeded from the first K vectors — the codebook
    trainer behind IVF cells, semantic corpus bucketing, and
    diversity-balanced data selection.

    Classic scalable Lloyd shape: the codebook (K×dim doubles, K=4
    fixed) lives on the driver, so each
    assignment pass is pure map-side codegen'd literal arithmetic over
    one corpus scan (zero shuffle, zero crossJoin); each update pass is
    one map-side-combining hash aggregation keyed (cluster, dim) — K·dim
    groups cross the wire, independent of corpus size. Per iteration:
    one scan + one bounded shuffle + one K×dim collect, the same sync a
    1000-executor cluster would do. An emptied cluster keeps its
    previous centroid (COALESCE in the oracle, dict fallback here).

    Determinism: per-iteration 6dp centroid quantization, 9dp→decimal
    exact mean sums, 6dp distances with cid tie-break (see module
    comment); the unrolled-CTE oracle replays every assignment and
    update step bit-identically.
    """
    emb = scatter(table(spark, sf_dir, "embeddings"))
    # Initial codebook: first K vectors, element-quantized in-engine so
    # the 6dp rounding semantics match the oracle's ROUND exactly.
    init = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < KMEANS_K)
        .select(
            F.col("vec_id").cast("int").alias("cid"),
            F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"),
        )
        .select("cid", "pos", roundk(F.col("val"), 6).alias("cval"))
        .collect()
    )
    centroids: dict[int, list[float]] = {}
    for r in init:
        centroids.setdefault(r.cid, [0.0] * 64)
        if r.pos >= len(centroids[r.cid]):
            centroids[r.cid].extend([0.0] * (r.pos + 1 - len(centroids[r.cid])))
        centroids[r.cid][r.pos] = r.cval

    for _ in range(KMEANS_ITERS - 1):
        best = F.expr(_kmeans_assign_expr(centroids))
        updated = (
            emb.select(
                best.getField("cid").alias("cid"),
                F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"),
            )
            .groupBy("cid", "pos")
            .agg(_centroid_mean(F.col("val")).alias("cval"))
            .collect()
        )
        nxt = {cid: list(vals) for cid, vals in centroids.items()}
        for r in updated:
            nxt[r.cid][r.pos] = r.cval
        centroids = nxt

    best = F.expr(_kmeans_assign_expr(centroids))
    return emb.select(
        "vec_id",
        best.getField("cid").alias("cluster_id"),
        best.getField("dist_sq").alias("dist_sq"),
    )


@register(
    "embedding_centroids",
    oracle=f"""
WITH expanded AS (
  SELECT label, u.i AS pos, u.v AS val
  FROM (
    SELECT label,
           UNNEST(LIST_TRANSFORM(RANGE(1, LEN(embedding) + 1),
                  i -> {{'i': CAST(i - 1 AS INTEGER),
                        'v': CAST(embedding[i] AS DOUBLE)}})) AS u
    FROM embeddings
  )
)
SELECT label, pos,
       {_sql_centroid_mean("val")} AS centroid_val,
       COUNT(*) AS n_vectors
FROM expanded
WHERE pos < 8
GROUP BY label, pos
""",
    tags=("similarity", "embedding", "centroid"),
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (element-wise mean) of the embedding vectors —
    the class-centroid computation behind IVF training, label
    debugging, and centroid-classifier baselines. posexplode turns the
    array into (label, dim, value) rows so the mean is a plain hash
    aggregate with map-side partials: one shuffle keyed on
    (label, dim), never a driver-side matrix. Output restricted to the
    first 8 dims to keep the checked surface compact. The mean uses the
    kmeans-update exact discipline (9dp quantize → decimal sum →
    multiply-form round) so it is summation-order-independent and
    bit-identical across engines, not merely probably-inside-the-round."""
    emb = table(spark, sf_dir, "embeddings")
    expanded = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val")
    ).filter(F.col("pos") < 8)
    return expanded.groupBy("label", "pos").agg(
        # the kmeans-update mean: a raw double SUM is
        # summation-order-dependent across partitions, so the pre-round
        # mean could straddle a 6dp boundary differently per engine.
        _centroid_mean(F.col("val")).alias("centroid_val"),
        F.count(F.lit(1)).alias("n_vectors"),
    )
