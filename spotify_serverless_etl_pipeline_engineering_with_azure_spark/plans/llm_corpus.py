"""LLM-training-corpus operators over the ``documents`` table: token-
window chunking, sequence packing, Gopher-style repetition signals,
PII redaction, deterministic stratified sampling, and corpus-mix
statistics — the data-prep surface a large-scale pretraining pipeline
runs between "raw crawl" and "training batches".

Scale posture per operator is documented in its docstring; the common
theme is map-side row-local expressions (JVM codegen, no Python) plus
at most one keyed shuffle. Every query is DuckDB-oracle-backed and
certified through the ``llm_corpus`` digest membership in
``plans/suites.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import scatter, table
from ..functions.exact import sql_double
from ..functions.hashing import md5_int48, sql_md5_int48
from ..registry import register

# Token-window chunking: 32-token windows, stride 24 (8-token overlap).
CHUNK_W = 32
CHUNK_S = 24

# Sequence packing: shard the corpus, pack each shard into 512-token
# training sequences by cumulative offset.
PACK_BUDGET = 512
# Sequence-packing shard sizing: a fixed shard count would funnel a
# fixed fraction of the corpus through each window-sort task, so the
# shard count is DERIVED from the corpus and MIRRORED in the
# oracle: shards = max(8, ⌈n_docs / PACK_DOCS_PER_SHARD⌉). Shard count
# changes bin assignments, so the derivation (same IEEE division, same
# ceil) is part of the result contract on both engines, exactly like
# _semdedup_k. The floor keeps every corpus of at most
# 8·PACK_DOCS_PER_SHARD docs on 8 shards.
PACK_SHARDS_MIN = 8
# Docs one window task sorts: 64k docs × ~10² tokens ≈ a few MB of
# sort state — the per-task work granule (semantic budget; the FAN-OUT
# derives from it and the corpus's document count).
PACK_DOCS_PER_SHARD = 65536
_SQL_PACK_SHARDS = (
    f"(SELECT GREATEST({PACK_SHARDS_MIN}, "
    f"CAST(CEIL(COUNT(*) / {PACK_DOCS_PER_SHARD}.0) AS BIGINT)) FROM documents)"
)

# Deterministic stratified sampling rates (percent kept) per language:
# downsample the over-represented language, keep low-resource ones.
SAMPLE_RATES = {"en": 40, "de": 70, "fr": 70, "es": 70}
SAMPLE_DEFAULT = 100


@register(
    "text_chunk_windows",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, STRING_SPLIT(text, ' ') AS t,
         CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n
  FROM documents
),
chunks AS (
  SELECT doc_id, t, n,
         UNNEST(RANGE(0, 1 + CASE WHEN n > {CHUNK_W}
                                  THEN (n - {CHUNK_W} + {CHUNK_S} - 1) // {CHUNK_S}
                                  ELSE 0 END)) AS chunk_idx
  FROM toks
)
SELECT doc_id,
       CAST(chunk_idx AS INTEGER) AS chunk_idx,
       CAST(chunk_idx * {CHUNK_S} + 1 AS INTEGER) AS start_tok,
       CAST(LEN(LIST_SLICE(t, chunk_idx * {CHUNK_S} + 1,
                           LEAST(chunk_idx * {CHUNK_S} + {CHUNK_W}, n)))
            AS INTEGER) AS n_chunk_tokens,
       ARRAY_TO_STRING(LIST_SLICE(t, chunk_idx * {CHUNK_S} + 1,
                                  LEAST(chunk_idx * {CHUNK_S} + {CHUNK_W}, n)),
                       ' ') AS chunk_text
FROM chunks
""",
    tags=("llm", "text", "chunking"),
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split documents into overlapping fixed-size token windows
    (1 row → N chunk rows) — the standard context-window prep step.

    Row-local: split once, explode a ``sequence`` of chunk indices,
    slice the token array per chunk. No shuffle at any scale; output
    size is input × ~n/stride.
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).withColumn(
        "n", F.size("t").cast("long")
    )
    n_chunks = F.lit(1) + F.when(
        F.col("n") > CHUNK_W,
        F.floor((F.col("n") - CHUNK_W + CHUNK_S - 1) / CHUNK_S),
    ).otherwise(F.lit(0))
    chunked = toks.select(
        "doc_id",
        "t",
        "n",
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("chunk_idx"),
    )
    start = F.col("chunk_idx") * CHUNK_S + 1
    # slice length is clamped to the doc end: LEAST(start+W-1, n) - start + 1
    length = F.least(start + CHUNK_W - 1, F.col("n")) - start + 1
    piece = F.slice("t", start.cast("int"), length.cast("int"))
    return chunked.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        start.cast("int").alias("start_tok"),
        F.size(piece).alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


@register(
    "corpus_pack_sequences",
    oracle=f"""
WITH sized AS (
  SELECT doc_id, doc_id % {_SQL_PACK_SHARDS} AS shard,
         CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
placed AS (
  SELECT shard, n_tok,
         (CAST(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tok)
           // {PACK_BUDGET} AS bin
  FROM sized
)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(bin AS BIGINT) AS bin,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens_packed,
       {sql_double("SUM(n_tok)")} / {PACK_BUDGET} AS fill_ratio
FROM placed
GROUP BY shard, bin
""",
    tags=("llm", "packing"),
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed-token-budget training sequences by
    cumulative offset: doc d goes to bin floor(prefix_tokens(d) /
    budget) within its shard — the deterministic, fully-parallel
    variant of greedy packing (a doc can straddle two bins; training
    pipelines truncate or wrap at the boundary).

    Scale posture: sharding parallelizes the running sum — each
    shard's window sorts only its own rows (one shuffle on shard),
    never a global order — and the shard count is SIZED TO THE DATA:
    max(8, ⌈n_docs/64k⌉), computed from a broadcast 1-row count (no
    driver job, no collect) and mirrored in the oracle as a subquery,
    so one shard is always one task-sized sort no matter how the
    corpus grows. fill_ratio divides by a power of two, so the double
    is exact in both engines.
    """
    docs = table(spark, sf_dir, "documents")
    n_shards = F.greatest(
        F.lit(PACK_SHARDS_MIN).cast("long"),
        F.ceil(F.col("_n_docs") / F.lit(float(PACK_DOCS_PER_SHARD))),
    )
    sized = docs.crossJoin(
        F.broadcast(docs.groupBy().agg(F.count(F.lit(1)).alias("_n_docs")))
    ).select(
        "doc_id",
        (F.col("doc_id") % n_shards).alias("shard"),
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = sized.select(
        "shard",
        "n_tok",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / PACK_BUDGET).alias("bin"),
    )
    return placed.groupBy("shard", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens_packed"),
        (F.sum("n_tok").cast("double") / PACK_BUDGET).alias("fill_ratio"),
    )


# Per-document unigram stats (doc_id, n_tokens, n_unique, top_count):
# the oracle CTEs and the Spark aggregate the repetition signals and
# the quality filter both read.
_SQL_UNIGRAM_STATS = """tok AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents
),
uni AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         COUNT(*) AS n_unique,
         CAST(MAX(c) AS BIGINT) AS top_count
  FROM (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY doc_id, t)
  GROUP BY doc_id
)"""


def _unigram_stats(docs: DataFrame) -> DataFrame:
    """One keyed aggregation over (doc, token), map-side combined,
    then per doc: token count, distinct tokens, top token count."""
    return (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_unique"),
            F.max("c").cast("long").alias("top_count"),
        )
    )


@register(
    "text_repetition_signals",
    oracle=f"""
WITH {_SQL_UNIGRAM_STATS},
big AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
         CAST(MAX(c) AS BIGINT) AS top_bigram_count
  FROM (
    SELECT doc_id, bg, COUNT(*) AS c FROM (
      SELECT doc_id,
             UNNEST(LIST_TRANSFORM(
               RANGE(1, LEN(STRING_SPLIT(text, ' '))),
               i -> STRING_SPLIT(text, ' ')[i] || ' ' || STRING_SPLIT(text, ' ')[i+1]
             )) AS bg
      FROM documents
    ) GROUP BY doc_id, bg
  ) GROUP BY doc_id
)
SELECT uni.doc_id,
       n_tokens,
       n_unique,
       CAST(1.0 - CAST(n_unique AS DOUBLE) / n_tokens AS DOUBLE) AS dup_token_frac,
       CAST(top_count AS DOUBLE) / n_tokens AS top_token_frac,
       CAST(top_bigram_count AS DOUBLE) / n_bigrams AS top_bigram_frac
FROM uni JOIN big ON uni.doc_id = big.doc_id
""",
    tags=("llm", "text", "quality"),
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: duplicate-token
    fraction, most-frequent-token fraction, most-frequent-bigram
    fraction — the filters that catch boilerplate and degenerate text
    before training.

    Two keyed aggregations ((doc, token) and (doc, bigram)), both with
    map-side partial combine, joined on doc_id. Ratios divide exact
    integers, so the doubles are bit-identical across engines.
    """
    docs = table(spark, sf_dir, "documents")
    uni = _unigram_stats(docs)
    toks = F.split("text", " ")
    bigrams = docs.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(toks, 1, F.size(toks) - 1),
                F.slice(toks, 2, F.size(toks) - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bg"),
    )
    big = (
        bigrams.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.max("c").cast("long").alias("top_bigram_count"),
        )
    )
    return uni.join(big, "doc_id").select(
        "doc_id",
        "n_tokens",
        "n_unique",
        (F.lit(1.0) - F.col("n_unique").cast("double") / F.col("n_tokens")).alias(
            "dup_token_frac"
        ),
        (F.col("top_count").cast("double") / F.col("n_tokens")).alias("top_token_frac"),
        (F.col("top_bigram_count").cast("double") / F.col("n_bigrams")).alias(
            "top_bigram_frac"
        ),
    )


# PII patterns kept to constructs with identical semantics in Java
# regex (Spark) and RE2 (DuckDB): literal classes, bounded repeats.
_EMAIL_RE = "[a-z0-9]+@[a-z]+\\.[a-z]+"
_PHONE_RE = "[0-9]{3}-[0-9]{4}"


@register(
    "text_pii_redaction",
    oracle=f"""
WITH staged AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 5 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN ' tel 555-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
                 ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
       CAST(LEN(REGEXP_EXTRACT_ALL(text, '{_EMAIL_RE}')) AS INTEGER) AS n_emails,
       CAST(LEN(REGEXP_EXTRACT_ALL(text, '{_PHONE_RE}')) AS INTEGER) AS n_phones,
       REGEXP_REPLACE(REGEXP_REPLACE(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                      '{_PHONE_RE}', '<PHONE>', 'g') AS redacted,
       LENGTH(REGEXP_REPLACE(REGEXP_REPLACE(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                             '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_len
FROM staged
""",
    tags=("llm", "text", "pii"),
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: detect and mask email/phone patterns. The corpus
    is synthetic, so deterministic PII is first injected (doc_id-keyed
    suffixes) and then redacted — the detect/mask path is the real
    operator; the injection stands in for a crawl that contains PII.

    Row-local regexp (JVM codegen, no shuffle); patterns restricted to
    constructs with identical Java-regex/RE2 semantics.
    """
    docs = table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.lit(" tel 555-"), (1000 + F.col("doc_id") % 9000).cast("string")),
            ).otherwise(""),
        ).alias("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return staged.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_PHONE_RE), 0)).alias("n_phones"),
        redacted.alias("redacted"),
        F.length(redacted).cast("long").alias("redacted_len"),
    )


def _sample_rate_sql() -> str:
    cases = " ".join(
        f"WHEN lang = '{lang}' THEN {pct}" for lang, pct in sorted(SAMPLE_RATES.items())
    )
    return f"CASE {cases} ELSE {SAMPLE_DEFAULT} END"


@register(
    "corpus_sample_stratified",
    oracle=f"""
SELECT doc_id, lang, source
FROM documents
WHERE {sql_md5_int48("'doc' || CAST(doc_id AS VARCHAR)")} % 100 < {_sample_rate_sql()}
""",
    tags=("llm", "sampling"),
)
def corpus_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for corpus mixing: keep a doc
    iff hash(doc_id) mod 100 clears its language's rate — downsampling
    the over-represented language while keeping low-resource strata.

    Unlike rand()-based sampling this is reproducible across runs,
    engines, and partitionings (the property a training pipeline needs
    for auditable mixes). Pure map-side filter: no shuffle, prunes to
    three columns at the scan.
    """
    docs = table(spark, sf_dir, "documents")
    rate = F.lit(SAMPLE_DEFAULT)
    for lang, pct in sorted(SAMPLE_RATES.items()):
        rate = F.when(F.col("lang") == lang, pct).otherwise(rate)
    keep = md5_int48(F.concat(F.lit("doc"), F.col("doc_id").cast("string"))) % 100 < rate
    return docs.filter(keep).select("doc_id", "lang", "source")


@register(
    "corpus_mix_stats",
    oracle="""
WITH per AS (
  SELECT lang, source, COUNT(*) AS n_docs,
         CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang, source
)
SELECT lang, source, n_docs, n_tokens,
       CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS BIGINT) AS token_share
FROM per
""",
    tags=("llm", "stats"),
)
def corpus_mix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mix accounting per (language, source): document and token
    counts plus each stratum's share of all training tokens — the
    numbers a sampling-weight schedule is derived from.

    One aggregation (map-side combine) to stratum granularity — tiny —
    then an unpartitioned window over the aggregated strata only
    (hundreds of rows at any corpus size, never the raw data).
    token_share divides exact integers → bit-identical doubles.
    """
    docs = table(spark, sf_dir, "documents")
    per = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy()
    return per.select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w).cast("long")).alias(
            "token_share"
        ),
    )


# Quality-filter thresholds, calibrated to the synthetic corpus so the
# filter genuinely splits it: the decision op is what matters, not the
# constants.
QF_MIN_TOKENS = 15
QF_MAX_DUP_FRAC = 0.67
QF_MAX_TOP_FRAC = 0.15


@register(
    "corpus_quality_filter",
    oracle=f"""
WITH {_SQL_UNIGRAM_STATS}
SELECT doc_id, n_tokens,
       CAST(1.0 - CAST(n_unique AS DOUBLE) / n_tokens AS DOUBLE) AS dup_token_frac,
       CAST(top_count AS DOUBLE) / n_tokens AS top_token_frac,
       CASE WHEN n_tokens < {QF_MIN_TOKENS} THEN 'too_short'
            WHEN 1.0 - CAST(n_unique AS DOUBLE) / n_tokens > {QF_MAX_DUP_FRAC}
              THEN 'repetitive'
            WHEN CAST(top_count AS DOUBLE) / n_tokens > {QF_MAX_TOP_FRAC}
              THEN 'boilerplate'
       END AS reject_reason,
       CASE WHEN n_tokens >= {QF_MIN_TOKENS}
             AND 1.0 - CAST(n_unique AS DOUBLE) / n_tokens <= {QF_MAX_DUP_FRAC}
             AND CAST(top_count AS DOUBLE) / n_tokens <= {QF_MAX_TOP_FRAC}
            THEN TRUE ELSE FALSE END AS keep
FROM uni
""",
    tags=("llm", "quality", "filter"),
)
def corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end keep/drop decision a corpus-cleaning pipeline
    actually emits: length + repetition signals composed into a boolean
    verdict with the FIRST failing rule as the audit reason.

    One keyed aggregation ((doc, token), map-side combine) then
    row-local rule evaluation — the decision layer adds nothing to the
    shuffle footprint of the signals it reads.
    """
    uni = _unigram_stats(table(spark, sf_dir, "documents"))
    dup = F.lit(1.0) - F.col("n_unique").cast("double") / F.col("n_tokens")
    top = F.col("top_count").cast("double") / F.col("n_tokens")
    reason = (
        F.when(F.col("n_tokens") < QF_MIN_TOKENS, "too_short")
        .when(dup > QF_MAX_DUP_FRAC, "repetitive")
        .when(top > QF_MAX_TOP_FRAC, "boilerplate")
    )
    return uni.select(
        "doc_id",
        "n_tokens",
        dup.alias("dup_token_frac"),
        top.alias("top_token_frac"),
        reason.alias("reject_reason"),
        reason.isNull().alias("keep"),
    )


# Benchmark-contamination check: 5-gram overlap between the training
# corpus and a held-out benchmark set. 5 tokens is long enough that
# coincidental overlap on this vocabulary is rare — hits mean copied
# passages.
DECON_G = 5
DECON_BENCH_MOD, DECON_BENCH_REM = 23, 1


def _decon_sql_grams(where: str) -> str:
    terms = " || ' ' || ".join(f"t[i+{j}]" for j in range(DECON_G))
    return f"""
  SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
           RANGE(1, LEN(t) - {DECON_G - 2}), i -> {terms}))) AS sh
  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents {where})
  WHERE LEN(t) >= {DECON_G}
"""


@register(
    "corpus_decontaminate",
    oracle=f"""
WITH bench AS (
  SELECT DISTINCT sh FROM ({_decon_sql_grams(
      f"WHERE doc_id % {DECON_BENCH_MOD} = {DECON_BENCH_REM}")})
),
train AS ({_decon_sql_grams(
      f"WHERE doc_id % {DECON_BENCH_MOD} <> {DECON_BENCH_REM}")}),
sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM train GROUP BY doc_id),
hits AS (
  SELECT t.doc_id, COUNT(*) AS n_contaminated_grams
  FROM train t JOIN bench b USING (sh)
  GROUP BY t.doc_id
)
SELECT h.doc_id, h.n_contaminated_grams, s.n_grams,
       CAST(h.n_contaminated_grams AS DOUBLE) / s.n_grams AS contamination_frac
FROM hits h JOIN sizes s USING (doc_id)
""",
    tags=("llm", "decontamination"),
)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/benchmark contamination report: training documents sharing
    any 5-gram with the benchmark split (doc_id % 23 == 1 stands in for
    an external eval set), with the contaminated-gram fraction — the
    decontamination pass every serious pretraining pipeline runs so
    eval answers don't leak into training data.

    A REAL eval suite's gram set is bounded (eval suites are small)
    and AQE broadcasts it, making the probe a map-side hash join — the
    100 TB corpus never shuffled, only its hit counts (per-doc
    aggregation). The bench STAND-IN here (doc_id % 23) is a fixed
    1/23 FRACTION of the corpus, so at posture it outgrows the 8 GB
    broadcast bound and AQE degrades honestly to a shuffle join on the
    gram key — that cost belongs to the stand-in, not the operator;
    the join is deliberately un-hinted for exactly this reason (see
    the inline comment at the join).
    The per-doc gram total rides the exploded stream as a constant
    column and is recovered by first() in the SAME aggregation as the
    hit count — a separate sizes aggregation would re-run the gram
    transform+explode over the whole training corpus a second time
    (Spark shares no subplans). The fraction divides exact integers →
    bit-identical doubles.
    """
    docs = table(spark, sf_dir, "documents")
    is_bench = F.col("doc_id") % DECON_BENCH_MOD == DECON_BENCH_REM

    def gram_arrays(df: DataFrame) -> DataFrame:
        toks = F.split(F.col("text"), " ")
        g = F.transform(
            F.sequence(F.lit(0), F.size(toks) - DECON_G),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j + 1) for j in range(DECON_G)]
            ),
        )
        return (
            scatter(df)
            .filter(F.size(toks) >= DECON_G)
            .select("doc_id", F.array_distinct(g).alias("gs"))
        )

    bench = (
        gram_arrays(docs.filter(is_bench))
        .select(F.explode("gs").alias("sh"))
        .distinct()
    )
    train = gram_arrays(docs.filter(~is_bench)).select(
        "doc_id",
        # cast: size() is INT; the published schema is BIGINT — the h3
        # dtype pin catches
        # exactly this drift.
        F.size("gs").cast("long").alias("n_grams"),
        F.explode("gs").alias("sh"),
    )
    hits = (
        # bench grows with its source set (here ~1/23 of the corpus), so the
        # join strategy is left to AQE: broadcast while it fits, shuffle
        # join beyond the 8 GB broadcast bound. A real eval suite IS
        # bounded and AQE will broadcast it.
        train.join(bench, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_contaminated_grams"),
            F.first("n_grams").alias("n_grams"),
        )
    )
    frac = F.col("n_contaminated_grams").cast("double") / F.col("n_grams")
    return hits.select(
        "doc_id", "n_contaminated_grams", "n_grams", frac.alias("contamination_frac")
    )


# ---------------------------------------------------------------------------
# End-to-end corpus accounting: the whole cleaning pipeline as one query
# ---------------------------------------------------------------------------
CONTAMINATION_DROP_FRAC = 0.1


def _end_to_end_oracle() -> str:
    from ..registry import REGISTRY

    cq = REGISTRY["corpus_quality_filter"].oracle
    cc = REGISTRY["dedup_connected_components"].oracle
    dx = REGISTRY["corpus_decontaminate"].oracle
    return f"""
WITH verdicts AS (
  SELECT d.source, q.n_tokens,
         CASE WHEN NOT q.keep THEN 'quality'
              WHEN c.component IS NOT NULL AND c.component <> d.doc_id
                THEN 'duplicate'
              WHEN x.contamination_frac > {CONTAMINATION_DROP_FRAC}
                THEN 'contaminated'
              ELSE 'kept' END AS v
  FROM documents d
  JOIN ({cq}) q ON q.doc_id = d.doc_id
  LEFT JOIN ({cc}) c ON c.doc_id = d.doc_id
  LEFT JOIN ({dx}) x ON x.doc_id = d.doc_id
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN v = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN v = 'quality' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_quality,
       CAST(SUM(CASE WHEN v = 'duplicate' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_dup,
       CAST(SUM(CASE WHEN v = 'contaminated' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_contaminated,
       CAST(SUM(CASE WHEN v = 'kept' THEN q.n_tokens ELSE 0 END) AS BIGINT) AS n_tokens_kept
FROM verdicts q
GROUP BY source
"""


def corpus_end_to_end_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole cleaning pipeline as ONE composed plan: per-source
    accounting of what survives quality filtering, near-dup clustering,
    and benchmark decontamination — the governance table a training-data
    team reviews before a corpus ships.

    Composes the registered member operators directly (their DataFrames
    join on doc_id; Catalyst plans the whole thing as one DAG), with
    drop-reason precedence quality > duplicate > contaminated mirrored
    exactly in the composed-CTE oracle. Scale posture: each member is
    individually scale-audited; the composition adds only doc_id-keyed
    joins and a final low-cardinality source aggregation. The near-dup
    and contamination verdict sides are NOT tiny — each is a fixed
    fraction of the corpus (one row per near-dup doc / per
    contaminated train doc) — so their joins are un-hinted: AQE
    broadcasts at test SF and shuffle-joins on doc_id at posture (the
    inline comment at the join is the contract).
    """
    from .dedup import dedup_connected_components

    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    cq = corpus_quality_filter(spark, sf_dir).select("doc_id", "n_tokens", "keep")
    cc = dedup_connected_components(spark, sf_dir).select(
        F.col("doc_id").alias("cc_id"), "component"
    )
    dx = corpus_decontaminate(spark, sf_dir).select(
        F.col("doc_id").alias("dx_id"), "contamination_frac"
    )
    v = (
        F.when(~F.col("keep"), F.lit("quality"))
        .when(
            F.col("component").isNotNull() & (F.col("component") != F.col("doc_id")),
            F.lit("duplicate"),
        )
        .when(
            F.col("contamination_frac") > CONTAMINATION_DROP_FRAC, F.lit("contaminated")
        )
        .otherwise(F.lit("kept"))
    )
    joined = (
        docs.join(cq, "doc_id")
        # cc (one row per near-dup doc) and dx (one per contaminated doc)
        # grow linearly with the corpus — strategy left to AQE, not a
        # forced broadcast that would abort past the 8 GB bound.
        .join(cc, docs.doc_id == F.col("cc_id"), "left")
        .join(dx, docs.doc_id == F.col("dx_id"), "left")
        .select("source", "n_tokens", v.alias("v"))
    )
    kept = F.col("v") == "kept"
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(kept.cast("long")).alias("n_kept"),
        F.sum((F.col("v") == "quality").cast("long")).alias("n_drop_quality"),
        F.sum((F.col("v") == "duplicate").cast("long")).alias("n_drop_dup"),
        F.sum((F.col("v") == "contaminated").cast("long")).alias("n_drop_contaminated"),
        F.sum(F.when(kept, F.col("n_tokens")).otherwise(0).cast("long")).alias(
            "n_tokens_kept"
        ),
    )


def _register_end_to_end() -> None:
    register(
        "corpus_end_to_end_accounting",
        oracle=_end_to_end_oracle(),
        tags=("corpus", "pipeline", "governance"),
    )(corpus_end_to_end_accounting)


_register_end_to_end()


# Length-band filter percentiles: documents outside [P_LO, P_HI] of the
# corpus token-length distribution are dropped (too-short docs are
# boilerplate/fragments, too-long ones are concatenation artifacts —
# the standard C4/Gopher-style length gate, but with DATA-DERIVED
# cutoffs instead of fixed constants).
BAND_P_LO = 0.05
BAND_P_HI = 0.95


@register(
    "corpus_length_band_filter",
    oracle=f"""
WITH cuts AS (
  SELECT quantile_cont(LENGTH(text), {BAND_P_LO}) AS lo,
         quantile_cont(LENGTH(text), {BAND_P_HI}) AS hi
  FROM documents
)
SELECT d.doc_id, CAST(LENGTH(d.text) AS BIGINT) AS n_chars_txt,
       LENGTH(d.text) >= (SELECT lo FROM cuts)
         AND LENGTH(d.text) <= (SELECT hi FROM cuts) AS keep
FROM documents d
""",
    tags=("corpus", "filter", "percentile"),
)
def corpus_length_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-percentile length-band filter: keep documents whose char
    length lies within [p5, p95] of the corpus distribution.

    This is the two-pass global-quantile-cutoff pattern (the production
    alternative to a full NTILE sort, cf. events_rfm_segmentation's
    docstring): pass 1 reduces the whole corpus to TWO scalars with
    Spark's exact interpolated ``percentile`` aggregate (matching
    DuckDB's ``quantile_cont`` formula rank = p·(n-1) bit-for-bit);
    pass 2 re-scans with the broadcast scalar cutoffs as a row-local
    predicate. No shuffle ever carries document text — the only
    exchange is the single-row percentile reduce. At 100 TB the exact
    percentile's sort-based aggregation is the cost center; swap in
    approx_percentile with a pinned error budget if the cutoffs may be
    approximate (semantics, not plan shape, change — which is why the
    exact form is the oracle-pinned contract here).
    """
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("n_chars_txt")
    )
    cuts = docs.agg(
        F.expr(f"percentile(n_chars_txt, {BAND_P_LO})").alias("lo"),
        F.expr(f"percentile(n_chars_txt, {BAND_P_HI})").alias("hi"),
    )
    return (
        docs.crossJoin(F.broadcast(cuts))
        .select(
            "doc_id",
            F.col("n_chars_txt").cast("long").alias("n_chars_txt"),
            ((F.col("n_chars_txt") >= F.col("lo")) & (F.col("n_chars_txt") <= F.col("hi"))).alias(
                "keep"
            ),
        )
    )


# Bounded-k hash-priority sample: exactly K docs per language (or all
# of a smaller stratum), chosen by md5 priority — the deterministic
# analogue of per-stratum reservoir sampling.
RESERVOIR_K = 20


@register(
    "corpus_sample_reservoir",
    oracle=f"""
WITH ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY {sql_md5_int48("'rsv|' || CAST(doc_id AS VARCHAR)")}, doc_id) AS rn
  FROM documents
)
SELECT doc_id, lang, rn FROM ranked WHERE rn <= {RESERVOIR_K}
""",
    tags=("corpus", "sampling", "topk"),
)
def corpus_sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-k per-stratum sample: the K smallest md5 priorities per
    language — a deterministic reservoir sample (every doc's priority
    is an iid uniform hash, so the K smallest are a uniform
    without-replacement draw).

    corpus_sample_stratified keeps a RATE per stratum (output grows
    with the corpus); this keeps a COUNT (output fixed at K·|strata|
    regardless of input size — what an eval-set or human-review draw
    needs). Plan: one shuffle on lang for the per-stratum top-K. A
    pathologically hot stratum (lang has ~5 values over 10¹¹ docs) is
    the skew case, and the LOAD-BEARING safeguard is Spark's
    InferWindowGroupLimit rewrite (3.5+): the rn <= K filter sitting
    DIRECTLY above the window turns the plan into a per-partition
    partial top-K before the shuffle (WindowGroupLimit(Partial) —
    pinned in test_plan_quality), so no stratum's full row set ever
    funnels through one window-sort task and row_number stays far from
    its int32 ceiling. AQE does NOT split window partitions — anything
    interposed between the filter and the window (a projection, a
    persist, a computed rn without the literal filter) silently
    re-opens the single-task funnel; keep the filter adjacent.
    """
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    pri = md5_int48(F.concat(F.lit("rsv|"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(pri.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= RESERVOIR_K)
    )
