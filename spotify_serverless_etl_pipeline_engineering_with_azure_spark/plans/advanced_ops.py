"""Advanced operators beyond the built-in surface: as-of join, IVF
similarity search, custom stateful streaming (applyInPandasWithState),
map-typed columns, explode variants, unpivot, and sketch aggregates.

These are the operators a 100 TB training-data pipeline needs that
Spark doesn't ship as single calls — each is expressed as a composition
of built-in DataFrame ops where semantics allow (as-of join = flagged
ignore-nulls window; IVF = broadcast centroid assignment + in-cluster
probe), dropping to the Arrow-batched stateful pandas API only for the
genuinely stateful streaming case.

Reference grounding: these generalize the event/stream surface the
reference's blob-trigger architecture implies
(/root/reference/spotifytransform.py:67-68 — one arriving file = one
event) and the analytical star schema its FK design exists to serve
(/root/reference/spotifytransform.py:60-61, Readme.MD:189-211).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import (
    cached_index,
    checkpoint_frame,
    materialize,
    share,
    table,
)
from ..functions.exact import sql_dsum
from ..registry import register
from .behavior_ops import SQL_FUNNEL_STEPS


# ---------------------------------------------------------------------------
# As-of join (time-series point-in-time lookup)
# ---------------------------------------------------------------------------
@register(
    "asof_join_events",
    oracle="""
WITH u AS (
  SELECT user_id, ts, event_id, value, 1 AS is_p FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, ts, event_id, value, 0 AS is_p FROM events WHERE event_type = 'click'
),
seq AS (
  SELECT user_id, ts, event_id, value, is_p,
         LAST_VALUE(CASE WHEN is_p = 0 THEN event_id END IGNORE NULLS)
           OVER w AS click_event_id,
         LAST_VALUE(CASE WHEN is_p = 0 THEN value END IGNORE NULLS)
           OVER w AS click_value
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, is_p, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id AS purchase_event_id, user_id, ts AS purchase_ts,
       click_event_id, click_value
FROM seq WHERE is_p = 1
""",
    tags=("asof-join", "window", "timeseries"),
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest click at
    or before the purchase time.

    Spark has no ASOF JOIN operator; the idiomatic distributed form is
    both-sides-in-one-frame + an ignore-nulls last() over (user, time).
    ONE shuffle on user_id, no range join explosion — at 100 TB this
    beats any windowed range-join rewrite because state per key is a
    single carried value. Ties are broken (ts, side, event_id) so
    clicks at the purchase timestamp count as "before" and results are
    exactly reproducible.

    ONE fact scan: the sides are distinguished by a computed is_p flag
    over an isin filter, not two filtered scans unioned — event_type is
    low-cardinality and unsorted, so row-group stats prune nothing and
    the two-scan form read the full corpus twice for a query whose
    scale contract advertises one pass. (The oracle keeps its UNION
    form: DuckDB's scans are not the thing under test, and the values
    are identical.)
    """
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "click"))
        .select(
            "user_id",
            "ts",
            "event_id",
            "value",
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("is_p"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_p", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_id = F.when(F.col("is_p") == 0, F.col("event_id"))
    click_val = F.when(F.col("is_p") == 0, F.col("value"))
    return (
        ev
        .select(
            "user_id",
            "ts",
            "event_id",
            "is_p",
            F.last(click_id, ignorenulls=True).over(w).alias("click_event_id"),
            F.last(click_val, ignorenulls=True).over(w).alias("click_value"),
        )
        .filter(F.col("is_p") == 1)
        .select(
            F.col("event_id").alias("purchase_event_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "click_event_id",
            "click_value",
        )
    )


# ---------------------------------------------------------------------------
# IVF approximate nearest neighbors (the scale path beyond LSH)
# ---------------------------------------------------------------------------
_N_CENTROIDS_MIN = 8  # nlist floor: keeps tiny fixtures on a stable shape
# The three constants below are SEMANTIC, not fan-out sizing, so they
# stay literal — unlike nlist/nprobe (corpus-derived, _ivf_k/_ivf_nprobe)
# and the per-cell pair salts (width-derived, dedup._cell_salts_expr):
# - _PROBE_MOD defines the test WORKLOAD (every 29th vector acts as a
#   query), mirrored verbatim in the oracle; the probe set scales as
#   N/29 and per-probe cost is what nlist/nprobe size. Changing it
#   changes which question is asked, not how the plan scales.
# - _TOPK is the user-requested k of the ANN query — an answer-shape
#   parameter (WindowGroupLimit cuts it map-side at any value).
# - _N_PROBE_MIN is a tiny-fixture floor, inactive past nlist=9.
_PROBE_MOD = 29
_TOPK = 3
_N_PROBE_MIN = 3


def _ivf_k(n: int) -> int:
    """nlist for an n-vector corpus: max(8, ⌊√n + 0.5⌋) — FAISS
    practice sizes the coarse quantizer ~√N so cells stay ~√N wide.
    This CANNOT be a constant: a fixed nlist makes cells N/nlist wide,
    so the vector-carrying probe load grows quadratically with the
    corpus. floor(x+0.5) matches the oracle's FLOOR(...+0.5)
    on the same correctly-rounded IEEE sqrt (Python round() is
    banker's and does not)."""
    import math

    return max(_N_CENTROIDS_MIN, int(math.floor(math.sqrt(n) + 0.5)))


def _ivf_nprobe(k: int) -> int:
    """nprobe = max(3, ⌊√nlist + 0.5⌋): the common heuristic that
    scales probe breadth with the cell count. Per-query scan fraction
    is nprobe/nlist ≈ k^(−1/2) and per-query cost nprobe·N/nlist ≈
    N/√k — sublinear in the corpus, unlike a fixed nprobe at fixed
    nlist (a constant fraction of N per query: brute force with extra
    steps)."""
    import math

    return max(_N_PROBE_MIN, int(math.floor(math.sqrt(k) + 0.5)))


# Oracle mirrors of _ivf_k / _ivf_nprobe over the embeddings view —
# the same IEEE sqrt, floored the same way, derived from the same
# COUNT the Spark side reads off the vector store.
_SQL_IVF_K = (
    f"(SELECT GREATEST({_N_CENTROIDS_MIN}, "
    "CAST(FLOOR(SQRT(COUNT(*)) + 0.5) AS BIGINT)) FROM embeddings)"
)
_SQL_IVF_NPROBE = (
    f"(SELECT GREATEST({_N_PROBE_MIN}, CAST(FLOOR(SQRT("
    f"GREATEST({_N_CENTROIDS_MIN}, CAST(FLOOR(SQRT(COUNT(*)) + 0.5) AS BIGINT))"
    ") + 0.5) AS BIGINT)) FROM embeddings)"
)


def _ivf_oracle() -> str:
    from ..functions.vectors import sql_cosine6

    cos = sql_cosine6("{a}", "{b}")
    asim = cos.format(a="e.embedding", b="c.cemb")
    psim = cos.format(a="a.embedding", b="b.embedding")
    return f"""
WITH cent AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings
              WHERE vec_id < {_SQL_IVF_K}),
assign AS (
  SELECT e.vec_id, c.cid, {asim} AS sim,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {asim} DESC, c.cid) AS rn
  FROM embeddings e CROSS JOIN cent c
),
member AS (SELECT vec_id, cid FROM assign WHERE rn = 1),
probes AS (SELECT vec_id AS probe_id, cid FROM assign
           WHERE vec_id % {_PROBE_MOD} = 0 AND rn <= {_SQL_IVF_NPROBE}),
cand AS (
  SELECT p.probe_id, m.vec_id AS neighbor_id
  FROM probes p JOIN member m ON m.cid = p.cid AND m.vec_id <> p.probe_id
),
scored AS (
  SELECT probe_id, neighbor_id, {psim} AS cos_sim,
         ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY {psim} DESC, neighbor_id) AS rk
  FROM cand
  JOIN embeddings a ON a.vec_id = probe_id
  JOIN embeddings b ON b.vec_id = neighbor_id
)
SELECT probe_id, neighbor_id, cos_sim, CAST(rk AS INTEGER) AS rk
FROM scored WHERE rk <= {_TOPK}
"""


def _broadcast_codebook(spark: SparkSession, sf_dir: str, k: int):
    """(cid, cemb, cnrm): the first-k-vectors coarse quantizer as a
    BROADCAST frame cut from the shared vector store.

    Replaces the former collected-Rows codebook baked into one
    K-literal ranked expression. That shape was fine at a fixed K=8
    but cannot follow the K ~ √N sizing rule this file documents: the
    literal SQL text is O(K·dim) — megabytes at √N — one projection
    expression overflows janino's 64 KB method ceiling into
    interpreted evaluation, and the collected Rows pin K·dim·8B of
    driver memory per snapshot. Broadcasting ships the same codebook
    once per executor, the per-row K cosine folds stay codegen'd
    column arithmetic, and nothing is ever collected."""
    from .similarity import vector_store

    store = vector_store(spark, sf_dir)
    return F.broadcast(
        store.filter(F.col("vec_id") < k).select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("cemb"),
            F.col("nrm").alias("cnrm"),
        )
    )


def _codebook_sim():
    """cosine6 of the row vector against a joined codebook row —
    the SAME quantized left-to-right folds as the oracle's
    sql_cosine6, so assignment ranks identically on both engines."""
    from ..functions.vectors import cosine6

    return cosine6("embedding", "cemb", "nrm", "cnrm")


def _ivf_index(spark: SparkSession, sf_dir: str) -> dict:
    """Build (or fetch) the IVF index: the assignment table, the
    inverted cell lists, and the normed vector store — each eagerly
    materialized so QUERIES against the index pay probe-side work
    only. This is the real IVF architecture (FAISS et al. separate
    index BUILD from SEARCH; an index is built once and queried many
    times); at cluster scale these frames are materialized index
    tables. Identity/eviction semantics are catalog.cached_index's
    (the K/nprobe hyperparameters join the identity via params; a
    checkpointed RDD dies with its context).
    """
    def build() -> dict:
        # The inverted lists as a POSTING TABLE (cid, vec_id) — one row
        # per member, the shape every production IVF store uses (and,
        # on a cluster, a table bucketed by cid). NOT collect_list
        # arrays: a cell's array holds ~N/K elements in ONE aggregation
        # buffer/row, which crosses the JVM 2³¹ array-element cliff at
        # N·nprobe/K ~ 2e9 and OOMs the collecting task long before —
        # while the posting table scales like any keyed table and the
        # candidate expansion becomes a plain keyed join instead of an
        # explode of giant arrays.
        from .similarity import vector_store

        # Hyperparameters are INDEX PROPERTIES: derive k/nprobe from
        # ONE corpus count at build time and carry them in the index
        # dict — search (and the two frame builds, which take them as
        # arguments) must never re-run the count job, exactly as a
        # FAISS index stores its own nlist.
        k = _ivf_k(vector_store(spark, sf_dir).count())
        nprobe = _ivf_nprobe(k)
        cells = checkpoint_frame(_top1_cell_frame(spark, sf_dir, k))
        probes = checkpoint_frame(_ivf_probe_cells_frame(spark, sf_dir, k, nprobe))
        # The re-rank vector store is THE shared one (one checkpoint
        # for brute-force, SemDeDup, and IVF — not a private copy).
        return {"probes": probes, "cells": cells,
                "vectors": vector_store(spark, sf_dir),
                "k": k, "nprobe": nprobe}

    return cached_index(
        spark,
        sf_dir,
        ("embeddings.parquet",),
        "ivf",
        build,
        # K and nprobe derive from corpus size inside the build; the
        # marker versions the cache across sizing-rule changes.
        params=("ksqrtN", "npsqrtK", _PROBE_MOD),
    )


def _top1_cell_frame(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """PRE-checkpoint plan of a top-1 cell assignment over the first-k
    codebook: (vec_id, cid), each corpus vector's nearest cell — the
    IVF posting table and the SemDeDup cell membership. The K×dim
    codebook fold runs once per vector at build time, never per query:
    the broadcast-codebook join expands to N×K rows entirely map-side
    and the partial min(struct(neg_sim, cid)) collapses each vector's K
    candidates before the exchange, so the shuffle carries N rows no
    matter how large K grows. Ranking matches the oracles' ROW_NUMBER()
    ORDER BY sim DESC, cid via the lexicographic struct (−sim, cid), on
    the SAME cosine6 the whole family uses. Exposed so
    plan-quality tests can assert on the build pipeline (checkpointing
    truncates lineage)."""
    from .similarity import vector_store

    return (
        vector_store(spark, sf_dir)
        .crossJoin(_broadcast_codebook(spark, sf_dir, k))
        .select("vec_id", (-_codebook_sim()).alias("neg_sim"), "cid")
        .groupBy("vec_id")
        .agg(F.min(F.struct("neg_sim", "cid")).alias("top"))
        .select("vec_id", F.col("top").getField("cid").cast("long").alias("cid"))
    )


def _ivf_probe_cells_frame(
    spark: SparkSession, sf_dir: str, k: int, nprobe: int
) -> DataFrame:
    """PRE-checkpoint plan of the probe assignment: (probe_id, cid) —
    each PROBE's nprobe nearest cells, one row per (probe, probed
    cell). Unlike the top-1 posting build, top-nprobe needs a ranked
    prefix, so this uses a row_number window — but only over the PROBE
    subset × K rows (the test probe set is the fixed 1/29 corpus
    slice; a serving system's probe batch is bounded by its request
    queue, so the window input scales with queries, not the corpus)."""
    from .similarity import vector_store

    cent = _broadcast_codebook(spark, sf_dir, k)
    w = Window.partitionBy("probe_id").orderBy("neg_sim", "cid")
    return (
        vector_store(spark, sf_dir)
        .filter(F.col("vec_id") % _PROBE_MOD == 0)
        .crossJoin(cent)
        .select(
            F.col("vec_id").alias("probe_id"),
            (-_codebook_sim()).alias("neg_sim"),
            "cid",
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .select("probe_id", F.col("cid").cast("long").alias("cid"))
    )




@register("sim_ann_ivf", oracle=_ivf_oracle(), tags=("similarity", "ann", "ivf"))
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style multi-probe ANN search: each probe searches its nprobe
    nearest cells of a K-cell inverted index — the standard IVF
    nprobe>1 recall lever (corpus scanned per query is N·nprobe/K
    instead of N). The index (posting table, probe→cell map, normed
    vector store) comes from :func:`_ivf_index`, built once per
    dataset; this query measures SEARCH, the per-request cost a serving
    system pays.

    Centroids are the first K corpus vectors (deterministic,
    oracle-expressible); a production build would k-means them, which
    changes recall, not the plan shape. SIZING: K = √N and nprobe = √K,
    both derived from the corpus and mirrored in the oracle as
    subqueries (_ivf_k/_ivf_nprobe) — per-query cost is nprobe·N/K ≈
    N/√K, sublinear in the corpus; a fixed K would make every query
    scan a fixed fraction of the corpus.

    Scale posture: candidate generation is a keyed join of the
    probe→cell map against the posting-table inverted lists — and BOTH
    sides attach their vectors from the shared store BEFORE that join
    (corpus-sized / probe-batch-sized 1:1 joins), so the candidate
    stream is born inside the cid join carrying everything its cosine
    needs and is reduced map-side by WindowGroupLimit's partial top-k
    before its only exchange. Attaching vectors AFTER candidate
    expansion would shuffle O(candidates) rows ~550 bytes wide. A hot
    cell is the skew case; the cid join is left un-hinted and AQE's
    skew-join splits it (the probe side is a fixed 1/29 corpus slice
    here, a request-queue-bounded batch in serving, so no forced
    broadcast: past the 8 GB bound it would die). Pairs need no
    dedup: each neighbor lives in exactly one cell and each (probe,
    cell) edge is distinct.
    """
    from ..functions.vectors import cosine6

    from .similarity import probe_top_k

    idx = _ivf_index(spark, sf_dir)
    nb = idx["cells"].join(idx["vectors"], "vec_id").select(
        "cid",
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    pr = idx["probes"].join(
        idx["vectors"].select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("a_emb"),
            F.col("nrm").alias("a_nrm"),
        ),
        "probe_id",
    )
    pair_sim = cosine6("a_emb", "b_emb", "a_nrm", "b_nrm")
    scored = (
        nb.join(pr, "cid")
        .filter(F.col("neighbor_id") != F.col("probe_id"))
        .select("probe_id", "neighbor_id", pair_sim.alias("cos_sim"))
    )
    return probe_top_k(scored, _TOPK, "rk")


# ---------------------------------------------------------------------------
# Custom stateful streaming operator (applyInPandasWithState)
# ---------------------------------------------------------------------------
@register(
    "streaming_stateful_user_totals",
    oracle=f"""
SELECT user_id, COUNT(*) AS n_events,
       {sql_dsum("value", 2)} AS sum_value
FROM events
GROUP BY user_id
""",
    tags=("streaming", "stateful", "pandas"),
)
def streaming_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator: per-user running totals maintained in
    explicit GroupState via applyInPandasWithState (the escape hatch
    when built-in windows/dedup can't express the state machine).

    The bounded test stream drains in one micro-batch, so the emitted
    running totals equal the batch GROUP BY — which makes this, unlike
    most custom-stateful ops, oracle-checkable. Money math is done in
    integer cents inside the pandas worker (float sums are
    order-dependent; cents are exact).

    Scale posture: state is one (count, cents) pair per user — bounded
    by cardinality, not stream length; Arrow batches the transfer; the
    per-chunk loop consumes the iterator WITHOUT materializing the
    group. The output (one row per user) drains through foreachBatch
    parquet, not a driver-memory sink — user cardinality grows with
    the data, and the memory sink holds its whole table in driver JVM
    memory.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..streaming.pipeline import events_stream

    def totals(key, pdf_iter, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            cents += int((pdf["value"] * 100).round().sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [cents / 100.0]}
        )

    updated = (
        events_stream(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            totals,
            outputStructType="user_id bigint, n_events bigint, sum_value double",
            stateStructType="n bigint, cents bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    from ..streaming.pipeline import run_to_parquet

    back, q = run_to_parquet(updated, "stot", sf_dir, output_mode="update")
    # Update mode re-emits a user's row each micro-batch it changes in;
    # the totals here are returned as-is (no per-user MAX fold), so the
    # single-data-batch drain is a correctness precondition — assert
    # it, as the funnel does.
    data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(data_batches) == 1, (
        f"stateful totals expects a single-batch drain, got "
        f"{[(p['batchId'], p['numInputRows']) for p in q.recentProgress]}"
    )
    return back.select("user_id", "n_events", "sum_value")


# ---------------------------------------------------------------------------
# Map-typed columns
# ---------------------------------------------------------------------------
@register(
    "map_functions",
    oracle="""
SELECT event_id,
       CAST(JSON_EXTRACT(props, '$.k') AS BIGINT) AS k_val,
       CAST(JSON_EXTRACT(props, '$.k') AS BIGINT) * 2 AS dbl_val,
       2 AS n_keys,
       'dbl,k' AS keys_csv,
       CAST(JSON_EXTRACT(props, '$.k') AS BIGINT) * 3 AS val_sum
FROM events WHERE event_id % 101 = 0
""",
    tags=("map", "scalar"),
)
def map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: map_from_arrays, element_at, map_keys,
    map_values, size, aggregate-over-values. The oracle computes the
    same scalars straight from the source JSON — the hash compares
    values, proving the map round-trip is lossless."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") % 101 == 0)
    k = F.get_json_object("props", "$.k").cast("long")
    m = F.map_from_arrays(
        F.array(F.lit("k"), F.lit("dbl")), F.array(k, k * 2)
    )
    return ev.select(
        "event_id",
        F.element_at(m, "k").alias("k_val"),
        F.element_at(m, "dbl").alias("dbl_val"),
        F.size(m).alias("n_keys"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_csv"),
        F.aggregate(
            F.map_values(m), F.lit(0).cast("long"), lambda acc, v: acc + v
        ).alias("val_sum"),
    )


# ---------------------------------------------------------------------------
# Explode variants: posexplode + explode_outer
# ---------------------------------------------------------------------------
@register(
    "explode_variants",
    oracle="""
WITH docs AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents
              WHERE doc_id % 37 = 0),
pos AS (
  SELECT doc_id,
         UNNEST(LIST_TRANSFORM(RANGE(1, LEN(t) + 1),
                i -> {'pos': CAST(i - 1 AS INTEGER), 'tok': t[i]})) AS u
  FROM docs
),
long_toks AS (
  SELECT doc_id,
         CASE WHEN LEN(LIST_FILTER(t, x -> LENGTH(x) > 9)) = 0
              THEN [CAST(NULL AS VARCHAR)]
              ELSE LIST_FILTER(t, x -> LENGTH(x) > 9) END AS lt
  FROM docs
)
SELECT 'pos' AS src, doc_id, u.pos AS pos, u.tok AS tok FROM pos
UNION ALL
SELECT 'outer' AS src, doc_id, CAST(NULL AS INTEGER) AS pos, UNNEST(lt) AS tok
FROM long_toks
""",
    tags=("explode", "array"),
)
def explode_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode (index + value) and explode_outer (empty array → one
    NULL row, so the parent row survives — the semantics joins need
    when the array side is optional)."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 37 == 0)
    toks = F.split("text", " ")
    pos = docs.select(
        F.lit("pos").alias("src"),
        "doc_id",
        F.posexplode(toks).alias("pos", "tok"),
    )
    long_toks = F.filter(toks, lambda x: F.length(x) > 9)
    outer = docs.select(
        F.lit("outer").alias("src"),
        "doc_id",
        F.lit(None).cast("int").alias("pos"),
        F.explode_outer(long_toks).alias("tok"),
    )
    return pos.unionByName(outer)


# ---------------------------------------------------------------------------
# Unpivot / melt
# ---------------------------------------------------------------------------
@register(
    "unpivot_lineitem",
    oracle="""
SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val
FROM lineitem WHERE l_orderkey % 997 = 0
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
FROM lineitem WHERE l_orderkey % 997 = 0
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
FROM lineitem WHERE l_orderkey % 997 = 0
""",
    tags=("unpivot", "reshape"),
)
def unpivot_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape via DataFrame.unpivot (melt): each measure
    column becomes a (measure, val) row. The inverse of
    pivot_returnflag."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 997 == 0)
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="measure",
        valueColumnName="val",
    )


# ---------------------------------------------------------------------------
# Hypertable-style multi-resolution time rollup
# ---------------------------------------------------------------------------
@register(
    "events_multires_rollup",
    oracle=f"""
SELECT CAST(GROUPING(d) + 2 * GROUPING(h) AS INTEGER) AS gid,
       d AS day, h AS hour, event_type,
       COUNT(*) AS n_events,
       {sql_dsum("value", 2)} AS sum_value
FROM (SELECT DATE_TRUNC('DAY', CAST(ts AS TIMESTAMP)) AS d,
             DATE_TRUNC('HOUR', CAST(ts AS TIMESTAMP)) AS h,
             event_type, value
      FROM events)
GROUP BY GROUPING SETS ((d, h, event_type), (d, event_type), (event_type))
""",
    tags=("agg", "grouping-sets", "timeseries"),
)
def events_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate shape: hourly, daily, and
    total rollups of the event stream computed in ONE grouped pass via
    GROUPING SETS (the Expand operator replicates rows per set
    map-side; still a single shuffle). GROUPING() flags disambiguate
    the NULLs that signal rolled-up levels from genuine NULL keys."""
    ev = table(spark, sf_dir, "events").select(
        F.date_trunc("DAY", "ts").alias("d"),
        F.date_trunc("HOUR", "ts").alias("h"),
        "event_type",
        "value",
    )
    ev.createOrReplaceTempView("_events_rollup_src")
    return ev.sparkSession.sql(
        f"""
        SELECT CAST(GROUPING(d) + 2 * GROUPING(h) AS INT) AS gid,
               d AS day, h AS hour, event_type,
               COUNT(*) AS n_events,
               {sql_dsum("value", 2)} AS sum_value
        FROM _events_rollup_src
        GROUP BY GROUPING SETS ((d, h, event_type), (d, event_type), (event_type))
        """
    )


# ---------------------------------------------------------------------------
# Sketch aggregates (approximate — rows-only check, by design)
# ---------------------------------------------------------------------------
@register(
    "agg_approx_sketches",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS exact_customers,
       TRUE AS cd_within_bounds,
       TRUE AS pct_within_bounds
FROM orders
GROUP BY o_orderpriority
""",
    tags=("agg", "approx", "sketch"),
)
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approx_count_distinct and approx_percentile per segment —
    SELF-VALIDATED against exact aggregates computed in the same pass.

    Raw sketch outputs are engine-specific (Spark's HLL++ vs DuckDB's
    approx algorithms legitimately disagree), so the sketch values
    themselves cannot be hash-compared. Instead the query emits the
    published-error-bound verdicts as booleans, which ARE deterministic
    and oracle-checkable (TRUE on the oracle side):

    - cd_within_bounds: |HLL++(rsd=0.01) − exact| ≤ 5% of exact — 5
      standard errors of the configured rsd; HLL++ is deterministic
      per dataset (hash-based, no RNG), so the verdict is stable.
    - pct_within_bounds: the RANK of approx_percentile(0.5,
      accuracy=10000)'s answer, computed exactly by a second counting
      pass, sits inside the 45th–55th-percentile band — generous
      against the sketch's n/10000 rank-error guarantee. The rank is
      verified by COUNTING (two conditional longs per group), NOT by an
      exact percentile aggregate: Spark's percentile/percentile_disc
      is a TypedImperativeAggregate that buffers the whole per-group
      value multiset, which at 10¹¹ orders is exactly the unbounded
      state this sketch query exists to avoid.

    At 100 TB the sketches replace exact COUNT(DISTINCT)'s full shuffle
    of every key with fixed-size mergeable sketches; the self-check
    costs one extra scan + a broadcast of the per-priority sketch row
    (o_orderpriority is bounded at 5 values at any SF) + a bounded
    second aggregation.
    """
    orders = table(spark, sf_dir, "orders")
    # materialize the 5-row sketch aggregate: Spark shares no
    # subplans, so its two consumers (the broadcast into the rank pass
    # and the final join) would otherwise each re-run the whole
    # aggregation — doubling exactly the exact-distinct shuffle this
    # query exists to showcase avoiding, and re-executing the sketches
    # (whose merge order Spark randomizes) between the rank measurement
    # and the verdict row.
    sk = materialize(
        orders.groupBy("o_orderpriority").agg(
            F.approx_count_distinct("o_custkey", 0.01).alias("acd"),
            F.percentile_approx("o_totalprice", 0.5, 10000).alias("amed"),
            F.count_distinct(F.col("o_custkey")).alias("exact_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    ranks = (
        orders.select("o_orderpriority", "o_totalprice")
        .join(F.broadcast(sk.select("o_orderpriority", "amed")), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.when(F.col("o_totalprice") < F.col("amed"), 1)).alias("r_lo"),
            F.count(F.when(F.col("o_totalprice") <= F.col("amed"), 1)).alias("r_hi"),
        )
    )
    cd_ok = (
        F.abs(F.col("acd") - F.col("exact_customers"))
        <= 0.05 * F.col("exact_customers")
    )
    # The answer's rank interval [r_lo, r_hi] must intersect the middle
    # band: at least 45% of rows are ≤ it, at most 55% are < it.
    pct_ok = (F.col("r_hi") >= 0.45 * F.col("n_orders")) & (
        F.col("r_lo") <= 0.55 * F.col("n_orders")
    )
    return sk.join(ranks, "o_orderpriority").select(
        "o_orderpriority",
        "n_orders",
        "exact_customers",
        cd_ok.alias("cd_within_bounds"),
        pct_ok.alias("pct_within_bounds"),
    )


@register(
    "timeseries_gap_fill",
    oracle="""
WITH bounds AS (
  SELECT event_type,
         MIN(DATE_TRUNC('DAY', CAST(ts AS TIMESTAMP))) AS d0,
         MAX(DATE_TRUNC('DAY', CAST(ts AS TIMESTAMP))) AS d1
  FROM events GROUP BY event_type
),
spine AS (
  SELECT event_type, UNNEST(GENERATE_SERIES(d0, d1, INTERVAL 1 DAY)) AS day
  FROM bounds
),
daily AS (
  SELECT event_type, DATE_TRUNC('DAY', CAST(ts AS TIMESTAMP)) AS day,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT s.event_type, s.day, COALESCE(d.n, 0) AS n_events,
       (d.n IS NULL) AS was_gap
FROM spine s LEFT JOIN daily d
  ON s.event_type = d.event_type AND s.day = d.day
""",
    tags=("timeseries", "gap-fill", "sequence"),
)
def timeseries_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine gap filling: per event type, generate every day
    between its first and last event with sequence(), left-join the
    actual daily counts, zero-fill the holes — the scaffolding every
    time-series chart/model needs. The spine is built from the grouped
    bounds (5 rows → array expansion), so its cost is O(days), not
    O(events).

    ONE data-sized pass: the bounds derive from the daily counts
    (date_trunc is monotone, so min(day) = trunc(min(ts)) and
    max(day) = trunc(max(ts))), so no second full-corpus scan+shuffle
    of the raw events computes a min/max the days-sized frame already
    contains."""
    ev = table(spark, sf_dir, "events")
    # shared by the bounds aggregation and the spine join
    daily = share(
        ev.groupBy("event_type", F.date_trunc("DAY", "ts").alias("day")).agg(
            F.count(F.lit(1)).alias("n")
        )
    )
    bounds = daily.groupBy("event_type").agg(
        F.min("day").alias("d0"),
        F.max("day").alias("d1"),
    )
    spine = bounds.select(
        "event_type",
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    d = daily.select(
        F.col("event_type").alias("de"), F.col("day").alias("dd"), "n"
    )
    return (
        spine.join(
            d, (spine.event_type == F.col("de")) & (spine.day == F.col("dd")), "left"
        )
        .select(
            "event_type",
            "day",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
            F.col("n").isNull().alias("was_gap"),
        )
    )


@register(
    "streaming_stateful_funnel",
    oracle=f"""
WITH {SQL_FUNNEL_STEPS}
SELECT 1 AS step, 'view' AS step_name, COUNT(*) AS n_users FROM s1
UNION ALL
SELECT 2, 'click', COUNT(*) FROM s2
UNION ALL
SELECT 3, 'purchase', COUNT(*) FROM s3
""",
    tags=("streaming", "stateful", "funnel", "pandas"),
)
def streaming_stateful_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming funnel tracker: a per-user state machine in explicit
    GroupState advances view → click → purchase as events arrive,
    emitting each user's deepest step reached.

    The state is THREE timestamps (first view; first later click;
    first later purchase) — O(1) per user regardless of stream length,
    the property that lets this run forever at 100 TB/day. Events are
    processed in (ts, event_id) order within each Arrow batch, and the
    machine only ever ADVANCES (monotone), so with per-user in-order
    delivery (the Kafka-partition-by-key contract) the drained result
    equals the batch funnel — which is exactly what the oracle checks:
    the bounded test stream's per-user deepest steps aggregate to the
    same step counts as events_funnel_conversion's batch SQL
    (plans/behavior_ops.py).

    Memory contract, stated precisely: the PERSISTED state is O(1) per
    user, but the in-order requirement forces buffering one user's
    events from the CURRENT micro-batch before the sorted replay (the
    chunks applyInPandasWithState hands over carry no cross-chunk
    order). That transient buffer is bounded by the trigger interval —
    seconds-to-minutes of ONE user's events, slimmed below to the
    three columns the machine reads — never by stream length; a single
    key flooding 10⁸ rows into one trigger is a rate-limiting/trigger-
    sizing concern upstream of any stateful operator. The drained
    output (one row per user) lands in per-batch parquet via
    foreachBatch, not a driver-memory sink: user cardinality grows
    with the data, and Spark's memory sink holds the entire output in
    driver JVM memory.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..streaming.pipeline import events_stream

    NONE = -1

    def funnel(key, pdf_iter, state: GroupState):
        t1, t2, t3 = state.get if state.exists else (NONE, NONE, NONE)
        # Buffer only the three columns the machine reads (see the
        # memory contract in the docstring) — the replay needs a batch-
        # wide sort, but it never needs the full event payload.
        frames = [pdf[["ts", "event_id", "event_type"]] for pdf in pdf_iter]
        if frames:
            pdf = pd.concat(frames).sort_values(["ts", "event_id"])
            us = pdf["ts"].astype("datetime64[us]").astype("int64")
            for ts, etype in zip(us, pdf["event_type"]):
                if etype == "view" and t1 == NONE:
                    t1 = ts
                elif etype == "click" and t2 == NONE and t1 != NONE and ts > t1:
                    t2 = ts
                elif etype == "purchase" and t3 == NONE and t2 != NONE and ts > t2:
                    t3 = ts
        state.update((t1, t2, t3))
        step = 3 if t3 != NONE else 2 if t2 != NONE else 1 if t1 != NONE else 0
        yield pd.DataFrame({"user_id": [key[0]], "deepest_step": [step]})

    stream = events_stream(spark, sf_dir).filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    tracked = stream.groupBy("user_id").applyInPandasWithState(
        funnel,
        outputStructType="user_id bigint, deepest_step int",
        stateStructType="t1 bigint, t2 bigint, t3 bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    from ..streaming.pipeline import run_to_parquet

    back, q = run_to_parquet(tracked, "funnel", sf_dir, output_mode="update")
    # Oracle equality DEPENDS on the whole bounded stream draining in
    # ONE data micro-batch: the monotone machine drops out-of-order
    # transitions, so a multi-batch drain (a multi-file source, a
    # maxFilesPerTrigger) could fall below the batch funnel with no
    # error. events_stream matches a single file and no trigger limit
    # is set — assert that contract instead of trusting it.
    data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(data_batches) == 1, (
        f"stateful funnel expects a single-batch drain, got "
        f"{[(p['batchId'], p['numInputRows']) for p in q.recentProgress]}"
    )
    # update mode re-emits a user's row each micro-batch; the machine is
    # monotone, so the deepest step is the MAX per user. A user at step
    # k counts in every funnel level <= k (cumulative funnel).
    deepest = back.groupBy("user_id").agg(F.max("deepest_step").alias("s"))
    levels = spark.createDataFrame(
        [(1, "view"), (2, "click"), (3, "purchase")], "step int, step_name string"
    )
    return (
        deepest.join(F.broadcast(levels), F.col("s") >= F.col("step"))
        .groupBy("step", "step_name")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
