"""Semantic tests for the dedup/similarity extensions beyond oracle
parity: LSH candidate quality vs exact Jaccard, SimHash locality, ANN
recall vs brute force."""

from __future__ import annotations

from pyspark.sql import functions as F

from spotify_serverless_etl_pipeline_engineering_with_azure_spark import registry

ALL = registry.load_all()


def test_minhash_lsh_candidates_skew_similar(spark, sf_dir):
    """LSH candidate pairs should have higher mean exact Jaccard than
    random pairs (the banding is doing its job)."""
    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.catalog import table
    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans.dedup import _shingles

    cand = ALL["dedup_minhash_lsh"].fn(spark, sf_dir)
    sh = _shingles(table(spark, sf_dir, "documents"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    jac = (
        inter.join(sizes.alias("sa"), F.col("sa.doc_id") == F.col("doc_a"))
        .join(sizes.alias("sb"), F.col("sb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            (F.col("n").cast("double") / (F.col("sa.sz") + F.col("sb.sz") - F.col("n"))).alias(
                "jaccard"
            ),
        )
    )
    overall = jac.agg(F.avg("jaccard")).first()[0]
    cand_mean = (
        cand.join(jac, (cand.doc_a == jac.doc_a) & (cand.doc_b == jac.doc_b), "left")
        .agg(F.avg(F.coalesce(jac.jaccard, F.lit(0.0))))
        .first()[0]
    )
    assert cand.count() > 0
    assert cand_mean > overall, f"LSH candidates not similarity-skewed: {cand_mean} <= {overall}"


def test_simhash_locality(spark, sf_dir, tmp_path):
    """The LOCALITY property itself, not just signature spread: an
    identical text must produce an identical signature, and a one-token
    perturbation of a long doc must stay within a small hamming radius.
    Spread/positivity alone would pass a broken per-bit threshold or
    pack-offset bug that still yields distinct positive values — and the
    oracle parity row shares the hashing helper, so 'both engines break
    identically' is a live failure mode for it."""
    import duckdb

    sig = ALL["dedup_simhash"].fn(spark, sf_dir)
    n = sig.count()
    n_distinct = sig.select("simhash").distinct().count()
    assert n_distinct > n * 0.9  # random corpus → near-unique signatures
    assert sig.filter(F.col("simhash") < 0).count() == 0  # 48-bit positive

    # Probe corpus: doc 1 duplicates doc 0's text; doc 2 perturbs ONE
    # of its tokens (drawn from a real corpus doc so tokens are long
    # enough for md5 bit spread).
    base = duckdb.sql(
        f"SELECT text FROM read_parquet('{sf_dir}/documents.parquet') "
        "WHERE LEN(STRING_SPLIT(text, ' ')) >= 40 LIMIT 1"
    ).fetchone()[0]
    toks = base.split(" ")
    toks[len(toks) // 2] = "zzz_perturbed_token"
    ds = tmp_path / "probe"
    ds.mkdir()
    duckdb.sql(
        "COPY (SELECT * FROM (VALUES (0::BIGINT, ?), (1::BIGINT, ?), (2::BIGINT, ?)) "
        f"t(doc_id, text)) TO '{ds}/documents.parquet' (FORMAT PARQUET)",
        params=[base, base, " ".join(toks)],
    )
    rows = {
        r.doc_id: r.simhash
        for r in ALL["dedup_simhash"].fn(spark, str(ds)).collect()
    }
    assert rows[0] == rows[1], "identical text must hash identically"
    hamming = bin(rows[0] ^ rows[2]).count("1")
    assert hamming <= 24, (
        f"one token of {len(toks)} changed flipped {hamming}/48 bits — "
        "locality broken"
    )


def test_ann_lsh_recall_vs_bruteforce(spark, sf_dir):
    """Multi-table LSH recall floor: mean per-probe overlap with the
    brute-force top-5 must clear 0.15 (measured ≈0.22–0.28 on the
    synthetic corpus with 2 tables × 4 planes — a broken hyperplane or
    bucketing change drops it to ≈0.05 single-table levels)."""
    from collections import defaultdict

    bf = defaultdict(set)
    for r in ALL["sim_cosine_topk_bruteforce"].fn(spark, sf_dir).collect():
        bf[r.probe_id].add(r.neighbor_id)
    ann_rows = ALL["sim_ann_lsh_bucketed"].fn(spark, sf_dir).collect()
    assert ann_rows, "LSH ANN returned nothing"
    assert all(r.rank <= 3 for r in ann_rows)
    ann = defaultdict(set)
    for r in ann_rows:
        ann[r.probe_id].add(r.neighbor_id)
    recalls = [len(ann.get(p, set()) & ns) / len(ns) for p, ns in bf.items()]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.15, f"LSH mean recall {mean_recall:.3f} < 0.15"


def test_ann_ivf_recall_vs_bruteforce(spark, sf_dir):
    """Multi-probe IVF recall floor: mean recall@3 vs exact brute force
    over the IVF probe set must clear 0.4 (measured ≈0.61–0.74 with
    nprobe=3; single-probe was ≈0.06)."""
    from collections import defaultdict

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.catalog import table
    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.functions.vectors import (
        cosine,
    )
    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans.advanced_ops import (
        _PROBE_MOD,
    )
    from pyspark.sql import Window

    emb = table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % _PROBE_MOD == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pe")
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("s"), F.asc("neighbor_id")
    )
    bf_rows = (
        emb.join(F.broadcast(probes), F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("pe"), F.col("embedding")).alias("s"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .collect()
    )
    bf = defaultdict(set)
    for r in bf_rows:
        bf[r.probe_id].add(r.neighbor_id)
    ann = defaultdict(set)
    for r in ALL["sim_ann_ivf"].fn(spark, sf_dir).collect():
        ann[r.probe_id].add(r.neighbor_id)
    recalls = [len(ann.get(p, set()) & ns) / len(ns) for p, ns in bf.items()]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.4, f"IVF mean recall@3 {mean_recall:.3f} < 0.4"


def test_dedup_exact_is_lossless_partition(spark, sf_dir):
    out = ALL["dedup_exact"].fn(spark, sf_dir)
    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.catalog import table

    n_docs = table(spark, sf_dir, "documents").count()
    agg = out.agg(F.sum("n_copies")).first()[0]
    assert agg == n_docs  # every doc in exactly one group


def test_semdedup_partitions_corpus_and_drops_duplicates(spark, sf_dir):
    """Every vector gets exactly one verdict; an exact duplicate pair
    lands in the same cell and the higher id is dropped (the SemDeDup
    guarantee: identical embeddings have cosine 1 to every centroid, so
    they share a nearest cell and score max_sim_lower = 1 >= tau)."""
    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.catalog import table
    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans.dedup import (
        SEMDEDUP_TAU,
        dedup_semdedup,
    )

    out = ALL["dedup_semdedup"].fn(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    rows = out.collect()
    assert len(rows) == n
    assert len({r.vec_id for r in rows}) == n
    for r in rows:
        assert r.keep == (r.max_sim_lower < SEMDEDUP_TAU)

    # Inject an exact duplicate of vec 9 as a fresh max id: the clone
    # must be dropped while some original representative is kept.
    import tempfile

    clone_id = n + 1000
    dup = emb.filter(F.col("vec_id") == 9).select(
        F.lit(clone_id).cast("long").alias("vec_id"), "embedding", "label"
    )
    with tempfile.TemporaryDirectory() as tmp:
        emb.select("vec_id", "embedding", "label").unionByName(dup).write.parquet(
            f"{tmp}/embeddings.parquet"
        )
        verdicts = {r.vec_id: r for r in dedup_semdedup(spark, tmp).collect()}
    assert not verdicts[clone_id].keep
    assert abs(verdicts[clone_id].max_sim_lower - 1.0) < 1e-6
    assert verdicts[9].cluster == verdicts[clone_id].cluster


def test_prefix_filter_jaccard_is_complete(spark, sf_dir):
    """The prefix-filter join must find EVERY pair with shingle-Jaccard
    >= t (no false negatives) — compared against a brute-force
    all-pairs DuckDB computation at test scale."""
    import duckdb

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark import registry
    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans.dedup import (
        PF_JACCARD_T,
    )

    got = {
        (r["doc_a"], r["doc_b"])
        for r in registry.load_all()["dedup_prefix_filter_jaccard"]
        .fn(spark, sf_dir)
        .collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    brute = con.execute(f"""
WITH toks AS (
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(1, LEN(t) - 1),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
    FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents)
    WHERE LEN(t) >= 3)
),
sizes AS (SELECT doc_id, COUNT(*) AS m FROM toks GROUP BY doc_id),
inter AS (
  SELECT ta.doc_id AS a, tb.doc_id AS b, COUNT(*) AS c
  FROM toks ta JOIN toks tb ON ta.sh = tb.sh AND ta.doc_id < tb.doc_id
  GROUP BY 1, 2
)
SELECT a, b FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
WHERE CAST(c AS DOUBLE) / (sa.m + sb.m - c) >= {PF_JACCARD_T}
""").fetchall()
    assert got == {(a, b) for a, b in brute}


def test_prefix_filter_verification_arms_are_bit_identical(spark, sf_dir):
    """Production verification — the fused-threshold Arrow kernel — must
    emit row-for-row what an independent JVM reference emits over the
    SAME candidate join: size(array_intersect(sa, sb)) with the jaccard
    threshold as an external Catalyst filter. The kernel substitutes
    only HOW |sa ∩ sb| is counted and WHERE the threshold runs, never
    which pairs exist or what their sizes are."""
    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans.dedup import (
        PF_JACCARD_T,
        _pfj_candidates,
        dedup_prefix_filter_jaccard,
    )

    n_union = F.size("sa") + F.size("sb") - F.size(F.array_intersect("sa", "sb"))
    reference = (
        _pfj_candidates(spark, sf_dir)
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sa", "sb")).cast("long").alias("n_common"),
            n_union.cast("long").alias("n_union"),
        )
        .filter(F.col("n_common").cast("double") / F.col("n_union") >= PF_JACCARD_T)
        .withColumn(
            "jaccard",
            F.round(F.col("n_common").cast("double") / F.col("n_union") * 1000000.0)
            / 1000000.0,
        )
        .distinct()
    )
    frames = {
        arm: df.toPandas().sort_values(["doc_a", "doc_b"]).reset_index(drop=True)
        for arm, df in (
            ("arrow", dedup_prefix_filter_jaccard(spark, sf_dir)),
            ("jvm", reference),
        )
    }
    assert len(frames["arrow"]) > 0, "fixture produced no near-dup pairs"
    assert frames["arrow"].equals(frames["jvm"])


def test_pfj_intersect_kernel_packing_and_fallback_paths():
    """_pfj_intersect_batches direct: both key-packing strategies must
    count exactly. The packed path (row*span + value) engages for
    normal mono_id ranges; ids spanning nearly the full int64 range
    force the batch-local np.unique remap fallback — drive both with
    the same logical rows and known intersections, plus the empty-array
    and empty-batch edges."""
    import pyarrow as pa

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans.dedup import (
        _pfj_intersect_batches,
    )

    def run(sa_rows, sb_rows):
        batch = pa.record_batch(
            {
                "doc_a": pa.array(range(len(sa_rows)), type=pa.int64()),
                "doc_b": pa.array(range(len(sa_rows)), type=pa.int64()),
                "sa": pa.array(sa_rows, type=pa.list_(pa.int64())),
                "sb": pa.array(sb_rows, type=pa.list_(pa.int64())),
            }
        )
        out = list(_pfj_intersect_batches(iter([batch])))
        assert len(out) == 1
        return out[0].to_pydict()

    # packed path: small ids
    got = run(
        [[1, 2, 3], [10, 20], [5], []],
        [[2, 3, 9], [20, 30, 40], [6], [1, 2]],
    )
    assert got["n_common"] == [2, 1, 0, 0]
    assert got["ma"] == [3, 2, 1, 0]
    assert got["mb"] == [3, 3, 1, 2]
    # fallback path: ids spanning ~the full int64 range make
    # rows*span overflow the packing check
    big = (1 << 62) + 5
    got = run(
        [[1, big], [2, 3]],
        [[big], [3, big]],
    )
    assert got["n_common"] == [1, 1]
    assert got["ma"] == [2, 2] and got["mb"] == [1, 2]
    # empty batch: kernel yields nothing (mapInArrow allows it)
    empty = pa.record_batch(
        {
            "doc_a": pa.array([], type=pa.int64()),
            "doc_b": pa.array([], type=pa.int64()),
            "sa": pa.array([], type=pa.list_(pa.int64())),
            "sb": pa.array([], type=pa.list_(pa.int64())),
        }
    )
    assert list(_pfj_intersect_batches(iter([empty]))) == []


def test_pfj_kernel_fused_threshold_filters_before_ipc():
    """The fused jaccard threshold must drop failing candidates
    INSIDE the kernel (so they never cross the Arrow boundary) using
    the exact double-division predicate the JVM reference applies
    externally — including the boundary case where n_common/n_union
    lands exactly on the threshold (>=, so it passes)."""
    import pyarrow as pa

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans.dedup import (
        PF_JACCARD_T,
        _pfj_intersect_batches,
        _pfj_intersect_passing,
    )

    def batch(sa_rows, sb_rows):
        return pa.record_batch(
            {
                "doc_a": pa.array(range(len(sa_rows)), type=pa.int64()),
                "doc_b": pa.array(
                    range(100, 100 + len(sa_rows)), type=pa.int64()
                ),
                "sa": pa.array(sa_rows, type=pa.list_(pa.int64())),
                "sb": pa.array(sb_rows, type=pa.list_(pa.int64())),
            }
        )

    # rows: jaccard = 3/3=1.0 (pass), 1/3≈0.33 (fail),
    # 3/5=0.6 == PF_JACCARD_T exactly (boundary: >= keeps it),
    # 0 common (fail)
    b = batch(
        [[1, 2, 3], [1, 2], [1, 2, 3, 4], [7]],
        [[1, 2, 3], [2, 3], [1, 2, 3, 9], [8]],
    )
    assert PF_JACCARD_T == 0.6, "boundary row below assumes t=0.6"
    out = list(_pfj_intersect_batches(iter([b]), threshold=PF_JACCARD_T))
    assert len(out) == 1
    got = out[0].to_pydict()
    assert got["doc_a"] == [0, 2]
    assert got["doc_b"] == [100, 102]
    assert got["n_common"] == [3, 3]
    assert got["ma"] == [3, 4] and got["mb"] == [3, 4]

    # production entry point behaves identically
    got2 = list(_pfj_intersect_passing(iter([batch([[1, 2, 3]], [[1, 2, 3]])])))
    assert got2[0].to_pydict()["n_common"] == [3]

    # a batch where every row fails yields NOTHING (not an empty batch)
    assert (
        list(_pfj_intersect_batches(iter([batch([[1]], [[2]])]), threshold=0.5))
        == []
    )

    # threshold=None keeps every row — the direct-count contract the
    # packing/fallback test above relies on
    all_rows = list(_pfj_intersect_batches(iter([b])))
    assert all_rows[0].num_rows == 4


def test_index_caches_reuse_and_invalidate(spark, sf_dir, tmp_path):
    """The per-dataset index caches (_minhash_index, _ngram_index) must
    serve the SAME checkpointed frame for an unchanged corpus snapshot
    and rebuild when the underlying parquet changes — a stale hit would
    silently answer dedup queries from a superseded corpus. Both
    families key on documents.parquet in the one shared registry, so
    their entries must stay apart."""
    import shutil

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark import catalog
    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans import dedup

    ds = tmp_path / "ds"
    ds.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", ds / "documents.parquet")

    b1 = dedup._minhash_index(spark, str(ds))
    assert dedup._minhash_index(spark, str(ds)) is b1, "unchanged snapshot must hit"
    k1, s1 = dedup._ngram_index(spark, str(ds))
    assert dedup._ngram_index(spark, str(ds))[0] is k1

    # Regenerate the corpus (half the docs) — identity key must miss.
    import duckdb

    duckdb.sql(
        f"COPY (SELECT * FROM read_parquet('{sf_dir}/documents.parquet') "
        f"WHERE doc_id % 2 = 0) TO '{ds}/documents.parquet' (FORMAT PARQUET)"
    )
    b2 = dedup._minhash_index(spark, str(ds))
    assert b2 is not b1, "regenerated corpus must rebuild the LSH index"
    k2, s2 = dedup._ngram_index(spark, str(ds))
    assert k2 is not k1
    # Supersession EVICTS the stale entry (an append-only cache would
    # pin every superseded checkpointed index for the app's lifetime).
    for family in ("minhash", "ngram"):
        assert sum(
            1
            for k in catalog._INDEX_CACHE
            if k[0][0] == str(ds) and k[0][2][0] == family
        ) == 1
    # Rebuilt index reflects the new corpus: no odd doc_id anywhere.
    odd = b2[0].filter(F.col("doc_id") % 2 == 1).count()
    assert odd == 0
    assert s2.filter(F.col("doc_id") % 2 == 1).count() == 0


def test_dataset_cached_lru_cap_and_dead_app_purge(spark, tmp_path):
    """The opt-in entry cap must evict LEAST-RECENTLY-USED (a hit
    refreshes recency — plain FIFO would evict the hottest entry
    first), and entries from a dead application must be purged on the
    next miss (their checkpointed blocks died with that context)."""
    import os

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.catalog import (
        dataset_cached,
    )

    def mkds(name: str) -> str:
        d = tmp_path / name
        d.mkdir()
        (d / "x.parquet").write_bytes(b"stub")
        return str(d)

    cache: dict = {}
    builds: list[str] = []

    def build_for(ds):
        return lambda: builds.append(ds) or ds

    a, b, c = mkds("a"), mkds("b"), mkds("c")
    get = lambda ds: dataset_cached(  # noqa: E731
        cache, spark, ds, ("x.parquet",), build_for(ds), max_entries=2
    )
    get(a), get(b)
    get(a)  # refresh a's recency — b is now the LRU entry
    get(c)  # cap=2: must evict b, keep the refreshed a
    assert builds == [a, b, c]
    get(a)
    assert builds == [a, b, c], "a must still be cached after the cap eviction"
    get(b)
    assert builds == [a, b, c, b], "b was evicted and must rebuild"

    # Dead-application purge: forge an entry under a foreign appid and
    # miss on a fresh identity — the foreign entry must disappear.
    dead_key = ((a, ("x.parquet",), (), "app-dead-123"), ((0, 4),))
    cache[dead_key] = "zombie"
    get(c)
    assert dead_key not in cache, "dead-application entries must be purged"


def test_persisted_survives_session_restart(tmp_path):
    """TWO-SESSION regression: run a query that shares an aggregate
    (q15_top_supplier, formerly a persisted() site), stop the session,
    open a new one in the same process (the module-level table cache
    still holds the old application's entries) and run it again — the
    dead-app purge must rebuild cleanly and the rows must match. Runs
    in a subprocess so stopping a SparkContext can't poison the
    suite's shared session."""
    import os
    import subprocess
    import sys
    import textwrap

    from .conftest import SF_SMOKE

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {repo_root!r})
        from pyspark.sql import SparkSession
        from spotify_serverless_etl_pipeline_engineering_with_azure_spark import get_spark, registry

        SF = {SF_SMOKE!r}
        q15 = registry.queries()["q15_top_supplier"]
        s1 = get_spark(
            "sse_restart_a",
            extra={{"spark.sql.shuffle.partitions": "2", "spark.driver.memory": "2g"}},
        )
        r1 = sorted(map(tuple, q15(s1, SF).collect()))
        assert r1
        s1.stop()
        s2 = (
            SparkSession.builder.master("local[2]")
            .appName("sse_restart_b")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        r2 = sorted(map(tuple, q15(s2, SF).collect()))
        assert r2 == r1, (r1, r2)
        s2.stop()
        print("RESTART_OK")
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, f"restart repro failed:\n{proc.stderr[-4000:]}"
    assert "RESTART_OK" in proc.stdout


def test_run_to_parquet_sweeps_dead_process_dirs(spark, tmp_path, monkeypatch):
    """A drain base dir left by a process that no longer exists must be
    swept on the next invocation; the current invocation's own run dir
    must survive (it backs the returned lazy frame). The sweep
    (catalog.app_scoped_dir) must leave foreign-host app dirs alone (PID
    liveness is not knowable across hosts on a shared store) and never
    delete entries that don't parse as the naming convention (user data
    under a user-supplied root)."""
    import glob
    import os
    import shutil

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.streaming.pipeline import (
        run_to_parquet,
    )

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.catalog import (
        _host_hash,
    )

    sf_dir = "/root/testdata/sf0.001"
    base = "/tmp/sse_sinks"  # catalog.sink_run_dir's root
    dead = f"{base}/app_999999999_{_host_hash()}_dead0000"
    os.makedirs(f"{dead}/run_old", exist_ok=True)
    foreign = f"{base}/app_999999999_0ther0st_dead0000"
    unparseable = f"{base}/app_metadata"
    for d in (foreign, unparseable):
        os.makedirs(d, exist_ok=True)

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.streaming.pipeline import (
        events_stream,
    )
    from pyspark.sql import functions as F

    deduped = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "24 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    try:
        back, q = run_to_parquet(deduped, "sweeptest", sf_dir)
        assert not os.path.exists(dead), "dead-pid drain dir must be swept"
        assert os.path.exists(foreign), "foreign-host app dirs must never be swept"
        assert os.path.exists(unparseable), "non-convention entries must never be deleted"
        live = glob.glob(f"{base}/app_{os.getpid()}_*/drain_sweeptest_*")
        assert live, "this invocation's run dir must exist"
        assert back.count() > 0, "returned frame must read the landed parquet"
    finally:
        for d in (foreign, unparseable):
            shutil.rmtree(d, ignore_errors=True)


def test_connected_components_pointer_jumping_on_a_drift_chain(spark):
    """A 300-link path graph — the drifting-template shape, where only
    consecutive versions share an LSH band — must converge in O(log
    diameter) rounds. The max_rounds=15 budget FAILS without the
    pointer-jumping shortcut (plain min-label propagation moves the min
    one hop per round and needs 300), so this is a mutation check on
    the jump itself; labels must still be the exact component min."""
    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans.dedup import (
        _min_label_components,
    )

    n = 300
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    labels = _min_label_components(pairs, max_rounds=15).toPandas()
    assert len(labels) == n + 1
    assert set(labels.label) == {0}


def test_connected_components_stats_stay_bounded_across_rounds(spark):
    """localCheckpoint carries the plan's sizeInBytes ESTIMATE forward
    as originStats, and a round multiplies it into itself ~4x — the
    bit length doubles per round until java BigInteger itself overflows
    at 2^31 bits (~round 24: measured job-killer on a slow-converging
    300x corpus). The parquet re-root every _CC_REROOT_EVERY rounds
    resets the estimate to real file bytes; a 1500-link path needs ~11
    rounds (crossing a re-root boundary), so the final label frame's
    estimate must be FILE-sized, not 2^(2^11)-sized — and the labels
    still exact."""
    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans.dedup import (
        _CC_REROOT_EVERY,
        _min_label_components,
    )

    n = 1500  # ceil(log2(1500)) ~ 11 rounds > _CC_REROOT_EVERY
    assert _CC_REROOT_EVERY < 11
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    out = _min_label_components(pairs, max_rounds=20)
    bits = int(
        out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    ).bit_length()
    # without the re-root the estimate at round ~11 is >100k bits
    assert bits < 1000, f"stats estimate escaped the re-root cap: {bits} bits"
    pdf = out.toPandas()
    assert len(pdf) == n + 1
    assert set(pdf.label) == {0}


def test_cc_converging_on_reroot_boundary_detaches_before_sweep(spark, monkeypatch):
    """The post-fixpoint sweep deletes both scratch parquet dirs —
    if convergence lands exactly on a re-root round, the final label
    frame is a lazy read of one of them and MUST be detached (eager
    checkpoint) first. Force every round to be a re-root round
    (_CC_REROOT_EVERY=1) so the boundary case is guaranteed: without
    the detach, toPandas() raises FileNotFound; without the sweep,
    the dir snapshot grows."""
    import glob
    import tempfile

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans import (
        dedup,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "doc_a long, doc_b long"
    )
    tmp = tempfile.gettempdir()
    before = set(glob.glob(f"{tmp}/cc_labels_reroot_*"))
    monkeypatch.setattr(dedup, "_CC_REROOT_EVERY", 1)
    pdf = dedup._min_label_components(pairs, max_rounds=20).toPandas()
    assert len(pdf) == 21
    assert set(pdf.label) == {0}
    assert set(glob.glob(f"{tmp}/cc_labels_reroot_*")) == before, "scratch dirs leaked"


def test_iterative_loops_use_reliable_checkpoint_when_dir_configured(
    spark, tmp_path, monkeypatch
):
    """Round-boundary durability: localCheckpoint blocks die with
    their executor (lineage truncated — one lost executor aborts the
    whole loop; Spark's documented caveat), so when the application
    has configured a reliable checkpoint dir — shared storage by
    setCheckpointDir's own contract — catalog.materialize must take the
    durable branch (rdd-* dirs appear under it), and the stats
    re-root scratch must resolve UNDER that cluster-visible root
    (never driver tmp) and be swept post-fixpoint."""
    import os

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans import (
        dedup,
    )

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None, "fixture session should start without one"
    sc.setCheckpointDir(str(tmp_path / "ck"))
    try:
        ckdir = sc.getCheckpointDir().replace("file:", "")
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(20)], "doc_a long, doc_b long"
        )
        monkeypatch.setattr(dedup, "_CC_REROOT_EVERY", 1)
        pdf = dedup._min_label_components(pairs, max_rounds=20).toPandas()
        assert len(pdf) == 21 and set(pdf.label) == {0}
        entries = os.listdir(ckdir)
        assert any(e.startswith("rdd-") for e in entries), (
            f"reliable checkpoint branch did not engage: {entries}"
        )
        assert not any(e.startswith("cc_labels_reroot") for e in entries), (
            f"scratch dirs under the checkpoint dir were not swept: {entries}"
        )
    finally:
        # The context is session-scoped: restore the no-dir default so
        # every later test keeps the local-mode localCheckpoint branch.
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            spark._jvm.scala.Option.apply(None)
        )
    assert sc.getCheckpointDir() is None


def test_scratch_roots_resolution_and_cleanup(spark, tmp_path):
    """catalog.scratch_roots is the cluster-visibility convention for
    engine-internal parquet round-trips: the reliable checkpoint dir
    when one is set, else driver-local tempfile as the documented
    local-mode stand-in; cleanup() removes the paths through the
    Hadoop FS API."""
    import os

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.catalog import (
        scratch_roots,
    )

    from .conftest import checkpoint_dir

    # (1) a checkpoint dir wins
    root = str(tmp_path / "scratch")
    with checkpoint_dir(spark, root) as ck:
        assert ck.startswith(root)
        paths, cleanup = scratch_roots(spark, "probe", 2)
        local = [p.replace("file:", "") for p in paths]
        assert all(p.startswith(ck) for p in local)
        assert len(set(paths)) == 2
        spark.range(5).write.mode("overwrite").parquet(paths[0])
        cleanup()
        assert not any(os.path.exists(p) for p in local)
    # (2) fallback: driver tempfile, created and removable — and
    # `file:`-pinned, so writes/read-backs/cleanup resolve to the
    # driver-local filesystem mkdtemp created the dirs on even when
    # fs.defaultFS points elsewhere (scheme-less paths would resolve
    # against the default FS and leak the local dirs).
    paths, cleanup = scratch_roots(spark, "probe", 2)
    assert all(p.startswith("file:") for p in paths)
    local = [p[len("file:") :] for p in paths]
    assert all(os.path.isdir(p) for p in local)
    spark.range(5).write.mode("overwrite").parquet(paths[1])
    cleanup()
    assert not any(os.path.exists(p) for p in local)


def test_checkpoint_frame_search_parallelism_floor(spark, tmp_path, monkeypatch):
    """checkpoint_frame reshards a below-floor frame up to
    min(defaultParallelism, ceil(rows / _FLOOR_ROWS_PER_PART)) — with
    and without a checkpoint dir. The build plan's last shuffle is
    AQE-coalesced by BYTES, so a small index table collapses to one
    partition and every search stage that pipelines on its scan runs
    single-threaded (measured: sim_ann_ivf at sf1 flipped 3.4 s ↔ 6.8 s
    on whether AQE kept or elided the probe-side exchange over the
    1-partition index — IVF_FLOOR_AB_r10.json). The floor is ROW-AWARE: a micro frame
    must stay compact (a 2,835-row table resharded to 32 partitions
    measurably turned a 0.14 s consumer into 0.35 s of task overhead),
    and frames already at/above their target must be returned
    untouched — at corpus scale the byte-sized count dominates and a
    forced repartition DOWN would be a regression."""
    import math
    import os

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.catalog import (
        _FLOOR_ROWS_PER_PART,
        checkpoint_frame,
    )

    from .conftest import checkpoint_dir

    cores = spark.sparkContext.defaultParallelism
    n_big = 4 * _FLOOR_ROWS_PER_PART  # enough rows for >1 target part
    big = spark.range(n_big).coalesce(1)

    out = checkpoint_frame(big)
    expect = min(cores, math.ceil(n_big / _FLOOR_ROWS_PER_PART))
    assert out.rdd.getNumPartitions() == expect
    assert sorted(r["id"] for r in out.collect()) == list(range(n_big))

    # Micro frame: target is 1 — must NOT be spread across cores.
    micro = checkpoint_frame(spark.range(100).coalesce(1))
    assert micro.rdd.getNumPartitions() == 1

    # At/above the target: untouched (no reshard, count preserved) —
    # and the verdict must be reached WITHOUT running a count() job:
    # with >= cores partitions the cap predetermines the outcome, and
    # on corpus-sized tables that count is a full extra job per index
    # build (r10 ADVICE).
    from pyspark.sql import DataFrame as _DF

    wide = spark.range(n_big).repartition(cores + 3)
    with monkeypatch.context() as m:
        def _boom(self):
            raise AssertionError("count() ran for an already-wide frame")

        m.setattr(_DF, "count", _boom)
        kept = checkpoint_frame(wide)
    assert kept.rdd.getNumPartitions() == cores + 3

    # Durable branch: under a checkpoint dir both materializations are
    # reliable checkpoints, and the floor still applies.
    with checkpoint_dir(spark, tmp_path / "ck") as ck:
        dur = checkpoint_frame(big)
        assert dur.rdd.getNumPartitions() == expect
        assert sorted(r["id"] for r in dur.collect()) == list(range(n_big))
        assert any(e.startswith("rdd-") for e in os.listdir(ck))


def test_durable_index_store_roundtrip_and_sweep(spark, sf_dir, tmp_path):
    """With a checkpoint dir set, index builds become reliable
    checkpoints under it (rdd-* dirs) — replicated by the storage layer
    and surviving executor loss, unlike executor-local localCheckpoint
    blocks — and the durable index serves the same rows as the local
    build. (The dead-app sweep is app_scoped_dir's, covered by
    test_run_to_parquet_sweeps_dead_process_dirs.)"""
    import os
    import shutil

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans import dedup

    from .conftest import checkpoint_dir

    ds = tmp_path / "ds"
    ds.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", ds / "documents.parquet")
    baseline = dedup.dedup_minhash_lsh(spark, str(ds)).toPandas()

    # Fresh dataset identity so the cache cannot serve the local build.
    ds2 = tmp_path / "ds2"
    ds2.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", ds2 / "documents.parquet")
    with checkpoint_dir(spark, tmp_path / "ck") as ck:
        durable = dedup.dedup_minhash_lsh(spark, str(ds2)).toPandas()
        entries = os.listdir(ck)
    assert sum(e.startswith("rdd-") for e in entries) >= 2, (
        f"bands + pairs must land as reliable checkpoints: {entries}"
    )

    def key(pdf):
        return sorted(
            map(tuple, pdf[["doc_a", "doc_b", "n_shared_bands"]].itertuples(index=False))
        )

    assert key(durable) == key(baseline)


def test_persisted_frames_refresh_on_dataset_regeneration(spark, sf_dir, tmp_path):
    """A query that shares an aggregate (text_vocab_coverage, formerly a
    persisted() site) must follow its data: rerun after an in-place
    regeneration, it returns what a fresh directory holding the new
    file returns, not the old snapshot's rows (Spark's CacheManager
    keys by canonicalized plan with no data-freshness component, so a
    frame cached across calls would serve the stale aggregate)."""
    import shutil

    import duckdb

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark import registry

    query = registry.queries()["text_vocab_coverage"]
    rows = lambda d: sorted(map(tuple, query(spark, str(d)).collect()))  # noqa: E731
    ds = tmp_path / "ds"
    ds.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", ds / "documents.parquet")
    before = rows(ds)

    duckdb.sql(
        f"COPY (SELECT * FROM read_parquet('{sf_dir}/documents.parquet') "
        f"WHERE doc_id % 2 = 0) TO '{ds}/documents.parquet' (FORMAT PARQUET)"
    )
    fresh = tmp_path / "fresh"
    fresh.mkdir()
    shutil.copy(ds / "documents.parquet", fresh / "documents.parquet")
    after = rows(ds)
    assert after != before, "regenerated snapshot must change the result"
    assert after == rows(fresh), "rerun must read the NEW data, not a stale cache"


def test_dataset_caches_are_session_bound(spark, sf_dir):
    """newSession() clones share one applicationId but have separate
    catalogs and confs — a cache hit handing session B a frame owned by
    session A registers temp views into A's catalog (B:
    TABLE_OR_VIEW_NOT_FOUND) and executes under A's conf. The cache
    identity must therefore include the session, not just the app."""
    from spotify_serverless_etl_pipeline_engineering_with_azure_spark import catalog

    a_frame = catalog.table(spark, sf_dir, "nation")
    b = spark.newSession()
    try:
        b_frame = catalog.table(b, sf_dir, "nation")
        assert b_frame.sparkSession is b, "cache must not serve A's frame to B"
        assert a_frame.sparkSession is spark
        # the real downstream symptom: SQL over views registered from
        # the cached frame must resolve in B's own catalog
        catalog.register_views(b, sf_dir)
        assert b.sql("SELECT COUNT(*) AS n FROM nation").collect()[0]["n"] == 25
    finally:
        # drop B's entries so the shared-session suite state is unchanged
        for cache in (catalog._TABLE_CACHE,):
            for k in [k for k in cache if k[0][4] == catalog._session_uuid(b)]:
                del cache[k]


def test_cell_salts_derivation_math(spark):
    """The per-cell salt count is DERIVED from measured width by
    salts(w) = clamp(ceil(w^2 / (2*budget)), 1, w) — pin the arithmetic
    at the default 2M-pair budget: healthy ~sqrt(2N) cells stay
    unsalted (salts=1), a 10^6-member junk cell fans out to 250k tasks,
    and the upper clamp at w bounds replication by the work spread."""
    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans.dedup import (
        _cell_salts_expr,
    )

    # 2^32 and 3.1e9 are past the int64-square overflow point (long w*w
    # overflows at w >= ~3.04e9, an ANSI-mode job-killer before the
    # expression cast its width to double) — the derivation must
    # survive exactly the pathological-giant-cell regime it exists for.
    widths = [1, 10, 2000, 2001, 3000, 100_000, 1_000_000,
              2**32, 3_100_000_000]
    df = spark.createDataFrame([(w,) for w in widths], "w long")
    got = {r.w: r.salts for r in df.select("w", _cell_salts_expr("w").alias("salts")).collect()}
    import math

    budget2 = 2.0 * 2_000_000
    for w in widths:
        # mirror the engine's double-square (w^2 > 2^53 rounds)
        expect = max(1, min(w, math.ceil(float(w) * float(w) / budget2)))
        assert got[w] == expect, f"w={w}: got {got[w]}, expected {expect}"
    assert got[2000] == 1 and got[2001] == 2  # the salting threshold
    assert got[1_000_000] == 250_000
    # past w = sqrt(2*budget*w) the pair count outruns the width and
    # the upper clamp holds: replication never exceeds the work spread
    assert got[2**32] == 2**32


def test_giant_cell_trips_derived_salting_and_stays_correct(
    spark, tmp_path, monkeypatch
):
    """One-giant-cell fixture (the round-6 verdict's ask): a
    skew-collapsed codebook — centroid 0 along e0, centroids 1..K-1
    along e1, every corpus vector along e0 — funnels the whole corpus
    into cell 0. The derived salting must TRIP (salts > 1 for that
    cell, from MEASURED width, no constant), and the registered
    embedding-family queries must stay hash-identical to their DuckDB
    oracles on the same fixture: per-cell salting changes the fan-out,
    never the pair set."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spotify_serverless_etl_pipeline_engineering_with_azure_spark.plans import dedup as _dedup
    from tests.oracle_mirror import compare

    N, DIM = 260, 8
    K = _dedup._semdedup_k(N)
    vecs = np.zeros((N, DIM), dtype=np.float32)
    vecs[0, 0] = 1.0
    for j in range(1, K):  # decoy centroids: orthogonal to the corpus
        vecs[j, 1] = 1.0
        vecs[j, 3] = j * 1e-4  # distinct, so no cosine ties anywhere
    for i in range(K, N):  # the corpus: all nearest to centroid 0
        vecs[i, 0] = 1.0
        vecs[i, 2] = (i + 1) * 1e-4
    ds = tmp_path / "giant"
    ds.mkdir()
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    emb = pa.ListArray.from_arrays(
        pa.array(range(0, (N + 1) * DIM, DIM), type=pa.int32()), flat
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(N), type=pa.int64()),
                "embedding": emb,
                "label": pa.array([0] * N, type=pa.int32()),
            }
        ),
        f"{ds}/embeddings.parquet",
    )

    # Shrink the per-task pair budget so the ~250-wide cell crosses the
    # salting threshold at test size (the derivation rule under test is
    # scale-free; the budget is the one semantic constant).
    monkeypatch.setattr(_dedup, "TARGET_CELL_PAIRS_PER_TASK", 500)

    member = _dedup._semdedup_member(spark, str(ds))
    widths = {
        r.cluster: r.w
        for r in member.groupBy("cluster").agg(F.count(F.lit(1)).alias("w")).collect()
    }
    giant_w = max(widths.values())
    assert giant_w == N - K + 1, f"fixture failed to collapse: {widths}"
    salts = {
        r.cluster: r.salts for r in _dedup._cell_salt_plan(member).collect()
    }
    giant_cell = max(widths, key=widths.get)
    assert salts[giant_cell] > 1, (
        f"derived salting did not trip on a {giant_w}-wide cell: {salts}"
    )
    assert salts[giant_cell] == min(
        giant_w, -(-giant_w * giant_w // (2 * 500))
    )

    # Both engines, both family members, on the skewed fixture.
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{ds}/embeddings.parquet')"
    )
    for name in ("dedup_embedding_cosine", "dedup_semdedup"):
        pdf = ALL[name].fn(spark, str(ds)).toPandas()
        odf = con.execute(ALL[name].oracle).fetchdf()
        problems = compare(pdf, odf)
        assert not problems, f"{name} diverged on the giant-cell fixture: {problems}"
        assert len(pdf) > 0
