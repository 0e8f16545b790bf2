"""Text-analysis operators over the ``documents`` table (north-star
extensions: token counting, quality scoring, language-ID heuristic,
document fingerprinting).

All are single-pass, shuffle-free row-local expressions (JVM codegen,
no Python UDFs) — the 100 TB posture is "map-side only": each operator
scales linearly with input and never moves data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import scatter, share, table
from ..functions.exact import davg, roundk, sql_davg, sql_roundk
from ..functions.hashing import md5_int48, sql_md5_int48
from ..registry import register

# Rolling-hash (base, modulus) pairs for the document fingerprint:
# FOUR independent polynomial folds over md5-derived token values,
# concatenated into a ~120-bit identity. Width is sized for the
# 100 TB posture, not the test corpus: a single 30-bit fold collides
# at ~38k docs (50% birthday bound), a packed 61-bit pair at ~2·10⁹ —
# both inside a 10¹¹–10¹²-document production corpus, where the
# expected silent-collision count for 61 bits is n²/2N ≈ 10³–10⁵.
# Four 30-bit folds give 2¹²⁰ states: ≈ 4·10⁻¹⁵ expected collisions at
# 10¹¹ docs. All moduli are primes < 2³⁰ so every intermediate
# (acc·43 + md5₄₈ < 2⁴⁹) stays exact in int64 on both engines.
FP_FOLDS = ((31, 1073741789), (37, 1073741783), (41, 1073741741), (43, 1073741723))

# Coverage-curve cap: the curve is computed over the top-N vocabulary
# entries (distributed top-k), bounding the single-partition ranking
# window at any corpus scale. 50k ≫ any tokenizer-sizing read-off
# point and ≫ the synthetic test vocabulary (result unchanged there).
VOCAB_CURVE_N = 50000

STOPWORDS = ("the", "a", "of", "and")
_SQL_STOP = "('the', 'a', 'of', 'and')"

# marker-token tables for the language-ID heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of"),
    "de": ("der", "die", "das", "und"),
    "fr": ("le", "la", "les", "et"),
    "es": ("el", "los", "las", "y"),
}


def _tokens() -> F.Column:
    return F.split(F.col("text"), " ")


@register(
    "text_token_count",
    oracle="""
SELECT doc_id,
       CAST(LEN(STRING_SPLIT(text, ' ')) AS INTEGER) AS n_tokens,
       LENGTH(text) AS n_chars_actual,
       n_chars = LENGTH(text) AS chars_ok
FROM documents
""",
    tags=("text",),
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting + char-count validation.

    scatter(): see text_fingerprint — the documents table is written as
    ONE parquet row group at every test SF, so without the repair every
    map-only doc operator runs as a single task regardless of cores."""
    docs = scatter(table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.size(_tokens()).alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
        (F.col("n_chars") == F.length("text")).alias("chars_ok"),
    )


@register(
    "text_quality_score",
    oracle=f"""
SELECT doc_id, n_tokens, stop_ratio, chars_per_token,
       CASE WHEN n_tokens < 40 THEN 'short'
            WHEN stop_ratio > 0.12 THEN 'stopword_heavy'
            ELSE 'ok' END AS quality_class
FROM (
  SELECT doc_id,
         CAST(LEN(STRING_SPLIT(text, ' ')) AS INTEGER) AS n_tokens,
         CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t IN {_SQL_STOP})) AS DOUBLE)
           / LEN(STRING_SPLIT(text, ' ')) AS stop_ratio,
         CAST(LENGTH(text) AS DOUBLE) / LEN(STRING_SPLIT(text, ' ')) AS chars_per_token
  FROM documents
)
""",
    tags=("text", "quality"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: length / stopword-ratio features.

    The ratios divide exact integers, so the doubles are bit-identical
    across engines — no rounding needed. scatter(): see
    text_fingerprint (single-row-group input → single-task map without
    the repair).
    """
    docs = scatter(table(spark, sf_dir, "documents"))
    toks = _tokens()
    n_tokens = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    scored = docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        (stop_hits.cast("double") / n_tokens).alias("stop_ratio"),
        (F.length("text").cast("double") / n_tokens).alias("chars_per_token"),
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "stop_ratio",
        "chars_per_token",
        F.when(F.col("n_tokens") < 40, "short")
        .when(F.col("stop_ratio") > 0.12, "stopword_heavy")
        .otherwise("ok")
        .alias("quality_class"),
    )


def _sql_hits(markers: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{m}'" for m in markers)
    return f"LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t IN ({inlist})))"


@register(
    "text_lang_id",
    oracle=f"""
SELECT lang, predicted_lang, COUNT(*) AS n_docs
FROM (
  SELECT lang,
         CASE WHEN en_hits >= GREATEST(de_hits, fr_hits, es_hits) AND en_hits > 0 THEN 'en'
              WHEN de_hits >= GREATEST(fr_hits, es_hits) AND de_hits > 0 THEN 'de'
              WHEN fr_hits >= es_hits AND fr_hits > 0 THEN 'fr'
              WHEN es_hits > 0 THEN 'es'
              ELSE 'und' END AS predicted_lang
  FROM (
    SELECT lang,
           {_sql_hits(LANG_MARKERS["en"])} AS en_hits,
           {_sql_hits(LANG_MARKERS["de"])} AS de_hits,
           {_sql_hits(LANG_MARKERS["fr"])} AS fr_hits,
           {_sql_hits(LANG_MARKERS["es"])} AS es_hits
    FROM documents
  )
)
GROUP BY lang, predicted_lang
""",
    tags=("text", "langid"),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language-ID heuristic → confusion counts vs truth.

    A deterministic stopword-hit argmax. (The synthetic corpus shares
    one vocabulary across langs, so accuracy is data-limited; the
    operator contract — deterministic prediction per doc — is what the
    oracle checks.) scatter(): see text_fingerprint — the marker-hit
    map work feeds the tiny confusion agg, and the scan it runs in is
    single-split at every test SF.
    """
    docs = scatter(table(spark, sf_dir, "documents"))
    toks = _tokens()

    def hits(markers: tuple[str, ...]) -> F.Column:
        return F.size(F.filter(toks, lambda t: t.isin(*markers)))

    scored = docs.select(
        "lang",
        hits(LANG_MARKERS["en"]).alias("en_hits"),
        hits(LANG_MARKERS["de"]).alias("de_hits"),
        hits(LANG_MARKERS["fr"]).alias("fr_hits"),
        hits(LANG_MARKERS["es"]).alias("es_hits"),
    )
    predicted = (
        F.when(
            (F.col("en_hits") >= F.greatest("de_hits", "fr_hits", "es_hits"))
            & (F.col("en_hits") > 0),
            "en",
        )
        .when(
            (F.col("de_hits") >= F.greatest("fr_hits", "es_hits")) & (F.col("de_hits") > 0), "de"
        )
        .when((F.col("fr_hits") >= F.col("es_hits")) & (F.col("fr_hits") > 0), "fr")
        .when(F.col("es_hits") > 0, "es")
        .otherwise("und")
    )
    return (
        scored.select("lang", predicted.alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _fingerprint_oracle() -> str:
    folds = "\n       || ".join(
        f"LPAD(CAST(LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT), hv), "
        f"(acc, v) -> (acc * {b} + v) % {p}) AS VARCHAR), 10, '0')"
        for b, p in FP_FOLDS
    )
    return f"""
SELECT doc_id,
       {folds} AS fingerprint
FROM (
  SELECT doc_id,
         LIST_TRANSFORM(STRING_SPLIT(text, ' '), x -> {sql_md5_int48("x")}) AS hv
  FROM documents
)
"""


@register("text_fingerprint", oracle=_fingerprint_oracle(), tags=("text", "fingerprint"))
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint, ~120 bits.

    FOUR independent polynomial rolling hashes (FP_FOLDS) over
    md5-derived 48-bit token values, concatenated as fixed-width
    decimal into one 40-char identity string. Two deliberate choices,
    both sized for a 10¹¹–10¹²-document corpus rather than the test SF:

    - Token values are md5 folds, not a cheap surrogate: a surrogate
      such as ascii(first)+7·length makes same-first-char/same-length
      tokens ("car"/"cat") indistinguishable, so real-text collisions
      would be SYSTEMATIC — the iid birthday analysis would not apply,
      and the oracle could not tell because both engines share the
      expression.
    - Four 30-bit folds (~2¹²⁰ states), not a 61-bit pack: 61 bits has
      a 50% first-collision at ~2·10⁹ docs and ~10³–10⁵ expected
      silent collisions at production corpus sizes; at 2¹²⁰ the
      expectation is ~4·10⁻¹⁵ at 10¹¹ docs.

    The md5 runs ONCE per token: the hashed-long array is BOUND in its
    own projection (CollapseProject keeps it single-evaluated — it
    refuses to inline an alias consumed more than once), then each fold
    is its own scalar-long F.aggregate over that array. Higher-order
    lambdas evaluate interpreted per element, and that per-element
    walk, not the accumulator shape, is the fold cost, so the scalar
    form is kept as the simplest. Every intermediate stays < 2⁴⁹
    (acc·43 + 2⁴⁸) — exact in int64 on both engines.

    scatter(): the documents table can be ONE parquet row group,
    unsplittable below a row group whatever maxPartitionBytes or
    minPartitionNum say, so a zero-shuffle plan would run the whole
    md5+fold pipeline as one task. One small-input repair shuffle of
    the compact doc rows buys full machine width for the per-token
    work. At real corpus scale the scan spans many files/row groups
    and scatter's width check passes the frame through untouched, so
    the zero-shuffle property is preserved exactly where it matters.
    """
    docs = scatter(table(spark, sf_dir, "documents"))
    hv = F.transform(_tokens(), lambda t: md5_int48(t))
    bound = docs.select("doc_id", hv.alias("hv"))

    def fold(b: int, p: int) -> F.Column:
        return F.aggregate(
            F.col("hv"),
            F.lit(0).cast("long"),
            lambda acc, v: (acc * b + v) % p,
            lambda acc: F.lpad(acc.cast("string"), 10, "0"),
        )

    fp = F.concat(*[fold(b, p) for b, p in FP_FOLDS])
    return bound.select("doc_id", fp.alias("fingerprint"))


# GPT-2-style pretokenizer subset: a token is an optionally
# space-prefixed letter run, digit run, or punctuation run. Kept to
# RE2-compatible constructs so Spark (Java regex) and DuckDB (RE2)
# tokenize identically.
BPE_ISH_PATTERN = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"


@register(
    "text_bpe_token_count",
    oracle=f"""
SELECT doc_id,
       CAST(LEN(REGEXP_EXTRACT_ALL(text, '{BPE_ISH_PATTERN}')) AS INTEGER)
         AS n_bpe_tokens,
       CAST(LEN(STRING_SPLIT(text, ' ')) AS INTEGER) AS n_ws_tokens,
       CAST(LEN(LIST_DISTINCT(REGEXP_EXTRACT_ALL(text, '{BPE_ISH_PATTERN}')))
         AS INTEGER) AS n_unique_bpe
FROM documents
""",
    tags=("text", "tokenize"),
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting (space-prefixed letter/digit/punct
    runs — the GPT-2 pretokenizer shape) next to the whitespace count.
    Row-local regexp_extract_all, JVM-side; the pattern sticks to
    constructs Java regex and RE2 treat identically. scatter(): see
    text_fingerprint (single-row-group input; the triple regex pass is
    the heaviest per-row map in the text family)."""
    docs = scatter(table(spark, sf_dir, "documents"))
    toks = F.regexp_extract_all("text", F.lit(BPE_ISH_PATTERN), 0)
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.size(_tokens()).alias("n_ws_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_bpe"),
    )


MIN_PAIR_COUNT = 5


@register(
    "text_pmi_collocations",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, STRING_SPLIT(text, ' ') AS l FROM documents
),
bg AS (
  SELECT u.w1, u.w2 FROM (
    SELECT UNNEST(LIST_TRANSFORM(RANGE(1, LEN(l)),
                  i -> {{'w1': l[i], 'w2': l[i + 1]}})) AS u
    FROM tok
  )
),
uni AS (
  SELECT t AS w, COUNT(*) AS c FROM (
    SELECT UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents
  ) GROUP BY t
),
totals AS (
  SELECT (SELECT COUNT(*) FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) FROM documents)) AS n_uni,
         (SELECT COUNT(*) FROM bg) AS n_bi
),
pairs AS (
  SELECT w1, w2, COUNT(*) AS n_pair FROM bg GROUP BY w1, w2
  HAVING COUNT(*) >= {MIN_PAIR_COUNT}
)
SELECT p.w1, p.w2, p.n_pair,
       {sql_roundk('''LN((CAST(p.n_pair AS DOUBLE) / t.n_bi) /
                ((CAST(u1.c AS DOUBLE) / t.n_uni) * (CAST(u2.c AS DOUBLE) / t.n_uni)))''', 6)}
         AS pmi
FROM pairs p
JOIN uni u1 ON u1.w = p.w1
JOIN uni u2 ON u2.w = p.w2
CROSS JOIN totals t
""",
    tags=("text", "pmi", "collocation"),
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over adjacent token bigrams — the
    classic collocation-mining signal (phrase detection for tokenizer
    vocab building, boilerplate-phrase discovery).

    Bigram expansion is row-local (``transform`` over the token array —
    no self-join on position); the pair and unigram counts are two
    map-side-combining aggregations, and the unigram table joined back
    is vocabulary-sized, so both enrich joins broadcast at any corpus
    scale. PMI's LN is computed from the same division tree on both
    engines and rounded to 6dp, absorbing libm last-ulp differences.
    """
    docs = table(spark, sf_dir, "documents")
    toks = _tokens()
    bigram = F.expr(
        "transform(slice(split(text, ' '), 1, size(split(text, ' ')) - 1), "
        "(x, i) -> struct(x AS w1, element_at(split(text, ' '), i + 2) AS w2))"
    )
    bg = scatter(docs).select(F.explode(bigram).alias("b")).select("b.w1", "b.w2")
    # shared by both enrich joins (the u1/u2 aliases)
    uni = share(
        scatter(docs)
        .select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_uni = docs.select(F.sum(F.size(toks)).alias("n_uni"))
    pairs = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= MIN_PAIR_COUNT)
    )
    # Total bigram count derived ROW-LOCALLY from the token arrays
    # (size-1 per doc; split() never returns an empty array, so the
    # term is never negative) — counting the exploded bigram stream
    # here would re-run the corpus-wide explode a second time for a
    # single scalar.
    n_bi = docs.select(F.sum(F.size(toks) - 1).alias("n_bi"))
    # roundk, not ROUND(·, 6): the LN of a ratio is a raw computed
    # double — the divergent cross-engine rounding class (see
    # functions/exact.roundk).
    pmi = roundk(
        F.log(
            (F.col("n_pair").cast("double") / F.col("n_bi"))
            / (
                (F.col("u1.c").cast("double") / F.col("n_uni"))
                * (F.col("u2.c").cast("double") / F.col("n_uni"))
            )
        ),
        6,
    )
    return (
        # the unigram table is vocabulary-sized (unbounded on web text) —
        # join strategy left to AQE (text_tfidf_top_terms discipline);
        # only the 1-row totals stay forced broadcasts.
        pairs.join(uni.alias("u1"), F.col("w1") == F.col("u1.w"))
        .join(uni.alias("u2"), F.col("w2") == F.col("u2.w"))
        .crossJoin(F.broadcast(n_bi))
        .crossJoin(F.broadcast(n_uni))
        .select("w1", "w2", "n_pair", pmi.alias("pmi"))
    )


@register(
    "text_vocab_coverage",
    oracle=f"""
WITH uni AS (
  SELECT t AS token, COUNT(*) AS cnt FROM (
    SELECT UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents
  ) GROUP BY t
),
tot AS (SELECT SUM(cnt) AS n_total FROM uni),
top AS (SELECT token, cnt FROM uni ORDER BY cnt DESC, token LIMIT {VOCAB_CURVE_N})
SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS INTEGER) AS rank,
       token, cnt,
       {sql_roundk('''CAST(CAST(SUM(cnt) OVER (ORDER BY cnt DESC, token
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS DOUBLE)
               / n_total''', 6)} AS cum_share
FROM top CROSS JOIN tot
""",
    tags=("text", "vocab"),
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ranked vocabulary with cumulative corpus coverage — the
    tokenizer-sizing curve ("how many vocab entries cover 95% of
    tokens").

    The corpus reduces to a vocabulary-sized table via one map-side-
    combining count; the curve is then computed over the TOP
    VOCAB_CURVE_N entries selected by a DISTRIBUTED top-k
    (TakeOrderedAndProject), so the single-partition ranking window
    runs over ≤ 50k rows at any data scale. Raw whitespace vocabulary
    is NOT bounded on web text (numbers, URLs, typos grow it linearly)
    — an uncapped global window would funnel the whole vocabulary
    through one task. cum_share still divides by the FULL corpus token
    total, so the curve reads identically; entries past rank N are
    exactly the ones no tokenizer-sizing decision reads. Cumulative
    sums are exact integers; only the final share divides, 6dp.
    """
    docs = table(spark, sf_dir, "documents")
    # shared by the grand total and the top-k
    uni = share(
        scatter(docs)
        .select(F.explode(_tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = uni.agg(F.sum("cnt").alias("n_total"))
    top = uni.orderBy(F.desc("cnt"), F.asc("token")).limit(VOCAB_CURVE_N)
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    cum = Window.orderBy(F.desc("cnt"), F.asc("token")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        top.crossJoin(F.broadcast(tot))
        .select(
            F.row_number().over(w).alias("rank"),
            "token",
            "cnt",
            # roundk: k/n ratios terminate near half boundaries
            # SYSTEMATICALLY, as cume_dist's do.
            roundk(F.sum("cnt").over(cum).cast("double") / F.col("n_total"), 6).alias(
                "cum_share"
            ),
        )
    )


TFIDF_TOP_N = 3


@register(
    "text_tfidf_top_terms",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         {sql_roundk('tf.tf * (LN(CAST(n_docs + 1 AS DOUBLE) / (df.df + 1)) + 1)', 6)} AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term) AS rn
  FROM scored
)
SELECT doc_id, term, tf, df, score, CAST(rn AS INTEGER) AS rn
FROM ranked WHERE rn <= {TFIDF_TOP_N}
""",
    tags=("text", "tfidf"),
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by smoothed TF-IDF.

    Two map-side-combining aggregations (term frequency per doc, then
    document frequency per term), a join on term, and a per-doc top-k
    window. The IDF's LN is the one transcendental — rounded to 6dp on
    both engines BEFORE ranking, with the term string as tie-break, so
    ordering is deterministic cross-engine. At 100 TB the df table is
    vocabulary-sized: broadcast when it fits, shuffle-join when it
    doesn't (Spark/AQE picks per stats); the top-k window partitions by
    doc_id so no global sort exists anywhere.
    """
    docs = table(spark, sf_dir, "documents")
    # Keyed parallelism repair: hashpartitioning
    # (doc_id) satisfies the tf aggregation's ClusteredDistribution
    # (doc_id, term) — subset rule — so the near-corpus-cardinality
    # (doc_id, term) exchange disappears; and when the df join
    # broadcasts, the shared tf's partitioning survives to the
    # per-doc top-k window, which then skips ITS exchange too.
    tok = scatter(docs, "doc_id").select(
        "doc_id", F.explode(_tokens()).alias("term")
    )
    # shared by the df derivation and the scoring join's probe side
    tf = share(tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    score = roundk(
        F.col("tf")
        * (F.log((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1)) + 1),
        6,
    )
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "term", "tf", "df", score.alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TFIDF_TOP_N)
        .select("doc_id", "term", "tf", "df", "score", "rn")
    )


@register(
    "text_unigram_logprob",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents
),
vocab AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
tot AS (SELECT SUM(cnt) AS n_total FROM vocab),
scored AS (
  SELECT t.doc_id,
         {sql_roundk("LOG2(CAST(v.cnt AS DOUBLE) / CAST(n_total AS DOUBLE))", 6)} AS lp
  FROM toks t JOIN vocab v USING (tok) CROSS JOIN tot
)
SELECT doc_id, COUNT(*) AS n_tokens,
       {sql_roundk("-" + sql_davg("lp", 6), 6)} AS h_bits
FROM scored GROUP BY doc_id
""",
    tags=("text", "quality", "language-model"),
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram cross-entropy per document (CCNet-style LM quality proxy).

    Perplexity filtering scores each document against a language model;
    the distributed unigram form is fully expressible in SQL: build the
    corpus unigram distribution (one map-side-combining aggregation),
    score every token with round(log2 p, 6) — per-row transcendental,
    identical division tree both engines — and average per document.
    h_bits = -mean log2 p(tok); outlier-high documents are gibberish /
    rare-token soup, outlier-low are repetitive boilerplate, the same
    two tails a real perplexity filter trims.

    Scale posture: the vocabulary is sublinear in corpus size (Heaps'
    law) and broadcasts; token scoring is a broadcast-hash join (no
    corpus shuffle); the only corpus-sized shuffles are the vocab count
    and the per-doc aggregation, both with map-side partial aggregation.
    Per-token logs are 6dp-quantized then decimal-summed (the PageRank
    discipline), so the per-doc mean is order-independent and
    bit-identical across engines.
    """
    docs = table(spark, sf_dir, "documents")
    # Keyed parallelism repair: when the vocab join
    # broadcasts (vocabulary is Heaps-sublinear), the token stream
    # keeps this hashpartitioning(doc_id) all the way to the final
    # per-doc aggregation, which then reuses it instead of paying its
    # own exchange; the vocab count still shuffles by tok either way.
    toks = scatter(docs, "doc_id").select(
        "doc_id", F.explode(_tokens()).alias("tok")
    )
    # shared by the grand total and the scoring join. The token STREAM
    # (toks) is deliberately NOT shared: its second derivation is a
    # map-side scan+explode (no shuffle), far cheaper than
    # materializing a corpus-sized row stream.
    vocab = share(toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt")))
    total = vocab.agg(F.sum("cnt").alias("n_total"))
    # roundk on the raw log2 (the divergent cross-engine ROUND class;
    # the quantized k/10⁶ double then survives davg() exactly — see
    # functions/exact.py's input contract).
    lp = roundk(
        F.log2(F.col("cnt").cast("double") / F.col("n_total").cast("double")), 6
    )
    scored = (
        # vocabulary-sized side: AQE picks (see text_pmi_collocations)
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .select("doc_id", lp.alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        # roundk, not ROUND(·, 6): a decimal(·,6) sum divided by a
        # small integer count terminates ON 7-digit half boundaries
        # systematically, where Spark's HALF_UP and DuckDB's float
        # ROUND disagree.
        roundk(-davg(F.col("lp"), 6), 6).alias("h_bits"),
    )
