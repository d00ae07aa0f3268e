"""Text-analysis operators for training-data pipelines: token stats,
quality scoring, language ID, fingerprinting, BPE-ish tokenization.

All scoring is pure column expressions (JVM-side, whole-stage codegen)
— no Python UDFs in the hot path.  Cross-engine determinism: integer
arithmetic everywhere possible; double ratios are single IEEE divisions
of exact integers, rounded.

Scale note: every query here is embarrassingly parallel over documents
(no shuffle except final aggregates), so the same plan holds at 100 TB
with partition-local work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sayn_spark.functions.registry import T, persist_tracked, register

# r14 optimization: the documents parquet at test scale factors is one
# row group, so per-row scoring folds chained onto the scan ran serial
# (single task) on a 32-core box; _fan_out widens ONLY when the file is
# too small to split — a no-op at production scale.
from sayn_spark.functions.dedup import _fan_out

# tokens = non-empty whitespace-split lowercase words (same in DuckDB oracle)
_TOKENS = "filter(split(lower(text), ' '), x -> x != '')"

STOPWORDS = ("the", "a", "of", "and", "is")


@register(
    "q_text_token_stats",
    oracle="""
WITH tok AS (
  SELECT doc_id, n_chars,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS tokens
  FROM documents
)
SELECT doc_id,
       len(tokens) AS n_tokens,
       len(list_distinct(tokens)) AS n_distinct_tokens,
       CAST(list_aggregate(list_transform(tokens, x -> len(x)), 'sum') AS BIGINT) AS total_token_chars,
       n_chars
FROM tok
""",
)
def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokenizer + distinct + char totals."""
    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.expr(f"size({_TOKENS})").alias("n_tokens"),
        F.expr(f"size(array_distinct({_TOKENS}))").alias("n_distinct_tokens"),
        F.expr(f"aggregate({_TOKENS}, 0, (a, x) -> a + length(x))").alias("total_token_chars"),
        "n_chars",
    )


_SW_SQL = "('" + "','".join(STOPWORDS) + "')"

def n_tokens_col():
    """Token count over a ``text`` column (reusable: the filter task
    and the registered queries share these builders so one definition
    carries the oracle evidence)."""
    return F.expr(f"size({_TOKENS})")


def quality_score_col():
    """The q_text_quality composite over a ``text`` column:
    0.4*distinct_ratio + 0.3*(1 - stopword_ratio) + 0.3*min(1, n/100),
    rounded to 6dp.  A zero-token document scores 0.0 outright: the
    unguarded ratios were DIVIDE_BY_ZERO under ANSI, so ONE empty or
    whitespace-only document killed a whole quality-filter run
    (review r13); no tokens = no quality, and min_score gates drop it
    like any other low scorer."""
    sw = "('" + "','".join(STOPWORDS) + "')"
    n_tokens = n_tokens_col()
    n_safe = F.greatest(n_tokens, F.lit(1))
    n_distinct = F.expr(f"size(array_distinct({_TOKENS}))")
    n_stop = F.expr(f"size(filter({_TOKENS}, x -> x in {sw}))")
    distinct_ratio = n_distinct.cast("double") / n_safe
    stop_ratio = n_stop.cast("double") / n_safe
    return F.when(n_tokens == 0, F.lit(0.0)).otherwise(
        F.round(
            0.4 * distinct_ratio
            + 0.3 * (F.lit(1.0) - stop_ratio)
            + 0.3 * F.least(F.lit(1.0), n_tokens / F.lit(100.0)),
            6,
        )
    )


@register(
    "q_text_quality",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, n_chars,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS tokens,
         len(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS n_punct
  FROM documents
)
SELECT doc_id,
       len(tokens) AS n_tokens,
       ROUND(CAST(len(list_distinct(tokens)) AS DOUBLE) / GREATEST(len(tokens), 1), 6) AS distinct_ratio,
       ROUND(CAST(len(list_filter(tokens, x -> x IN {_SW_SQL})) AS DOUBLE) / GREATEST(len(tokens), 1), 6) AS stopword_ratio,
       ROUND(CAST(n_punct AS DOUBLE) / GREATEST(n_chars, 1), 6) AS punct_ratio,
       CASE WHEN len(tokens) = 0 THEN 0.0 ELSE
       ROUND(0.4 * (CAST(len(list_distinct(tokens)) AS DOUBLE) / len(tokens))
           + 0.3 * (1.0 - CAST(len(list_filter(tokens, x -> x IN {_SW_SQL})) AS DOUBLE) / len(tokens))
           + 0.3 * LEAST(1.0, len(tokens) / 100.0), 6) END AS quality_score
FROM tok
""",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: lexical diversity, stopword & punctuation
    ratios combined into one deterministic score."""
    d = _fan_out(T(spark, sf_dir, "documents"), spark, sf_dir)
    sw = "('" + "','".join(STOPWORDS) + "')"
    n_tokens = n_tokens_col()
    n_distinct = F.expr(f"size(array_distinct({_TOKENS}))")
    n_stop = F.expr(f"size(filter({_TOKENS}, x -> x in {sw}))")
    n_punct = F.length(F.regexp_replace(F.lower("text"), "[a-z0-9 ]", ""))
    # greatest(n, 1): empty docs report 0.0 ratios instead of killing
    # the scan with ANSI DIVIDE_BY_ZERO (review r13; oracle mirrors)
    n_safe = F.greatest(n_tokens, F.lit(1))
    distinct_ratio = n_distinct.cast("double") / n_safe
    stop_ratio = n_stop.cast("double") / n_safe
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(distinct_ratio, 6).alias("distinct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(
            n_punct.cast("double") / F.greatest(F.col("n_chars"), F.lit(1)), 6
        ).alias("punct_ratio"),
        quality_score_col().alias("quality_score"),
    )


_MARKERS = {
    "en": ("the", "is", "and"),
    "es": ("el", "la", "los"),
    "fr": ("le", "les", "et"),
    "de": ("der", "die", "und"),
}


def langid_columns(prefix: str = ""):
    """Marker-count columns over a ``text`` column (c_en..c_de +
    has_cjk) — stage these, then apply ``predicted_lang_col``.

    ``prefix`` namespaces the staged columns: task-layer callers that
    SELECT * alongside these must pass a reserved prefix (the filter
    task uses ``__sayn_``), or a source column that happens to be named
    c_en/has_cjk becomes an ambiguous reference — and the staging
    cleanup would drop the user's own column.  q_text_langid keeps the
    bare names (they are part of its oracle-pinned output)."""
    counts = [
        F.expr(
            f"size(filter({_TOKENS}, x -> x in ('" + "','".join(words) + "')))"
        ).alias(f"{prefix}c_{lang}")
        for lang, words in _MARKERS.items()
    ]
    return [
        F.col("text").rlike("[\\u4e00-\\u9fff]").alias(f"{prefix}has_cjk"),
        *counts,
    ]


def predicted_lang_col(prefix: str = ""):
    """The q_text_langid decision over staged langid_columns(): CJK
    wins outright; otherwise deterministic tie-break en > es > fr > de.
    Pass the same ``prefix`` the staging used."""
    p = prefix
    return (
        F.when(F.col(f"{p}has_cjk"), "zh")
        .when(
            F.col(f"{p}c_en") >= F.greatest(f"{p}c_es", f"{p}c_fr", f"{p}c_de"),
            "en",
        )
        .when(F.col(f"{p}c_es") >= F.greatest(f"{p}c_fr", f"{p}c_de"), "es")
        .when(F.col(f"{p}c_fr") >= F.col(f"{p}c_de"), "fr")
        .otherwise("de")
    )


@register(
    "q_text_langid",
    oracle="""
WITH tok AS (
  SELECT doc_id, lang,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS tokens,
         regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') AS has_cjk
  FROM documents
), scored AS (
  SELECT doc_id, lang, has_cjk,
         len(list_filter(tokens, x -> x IN ('the','is','and'))) AS c_en,
         len(list_filter(tokens, x -> x IN ('el','la','los'))) AS c_es,
         len(list_filter(tokens, x -> x IN ('le','les','et'))) AS c_fr,
         len(list_filter(tokens, x -> x IN ('der','die','und'))) AS c_de
  FROM tok
)
SELECT doc_id, lang AS declared_lang, c_en, c_es, c_fr, c_de,
       CASE WHEN has_cjk THEN 'zh'
            WHEN c_en >= GREATEST(c_es, c_fr, c_de) THEN 'en'
            WHEN c_es >= GREATEST(c_fr, c_de) THEN 'es'
            WHEN c_fr >= c_de THEN 'fr'
            ELSE 'de' END AS predicted_lang
FROM scored
""",
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/marker-word language ID heuristic (en/es/fr/de + CJK->zh).

    Deterministic tie-break order en > es > fr > de; the declared lang
    column rides along for accuracy eval downstream.
    """
    d = T(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        F.col("lang").alias("declared_lang"),
        *langid_columns(),
    )
    return scored.select(
        "doc_id",
        "declared_lang",
        "c_en",
        "c_es",
        "c_fr",
        "c_de",
        predicted_lang_col().alias("predicted_lang"),
    )


@register(
    "q_text_fingerprint",
    oracle="""
WITH fp AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(
             list_filter(string_split(lower(text), ' '), x -> x <> ''))), ' ')) AS fingerprint
  FROM documents
)
SELECT fingerprint, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
FROM fp GROUP BY fingerprint
""",
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-collision fingerprint (normalise -> distinct -> sort -> md5):
    docs with the same word *set* collide regardless of word order."""
    d = T(spark, sf_dir, "documents")
    fp = F.md5(F.expr(f"concat_ws(' ', array_sort(array_distinct({_TOKENS})))"))
    return (
        d.select("doc_id", fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
    )


@register(
    "q_text_bpe_tokens",
    oracle="""
SELECT doc_id,
       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe_tokens,
       len(list_distinct(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS n_bpe_distinct
FROM documents
""",
)
def q_text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex tokenizer (letter runs / digit runs / single symbols)
    — the pre-tokenization pass of GPT-style BPE vocabularies."""
    d = T(spark, sf_dir, "documents")
    # build via function API, not F.expr — SQL string literals would eat \s
    toks = F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), 0)
    return d.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_bpe_distinct"),
    )


@register(
    "q_feature_hashing",
    oracle="""
WITH tok AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS tokens
  FROM documents
), bucketed AS (
  SELECT doc_id, (('0x' || substr(md5(t), 1, 8))::BIGINT) % 64 AS bucket
  FROM (SELECT doc_id, unnest(tokens) AS t FROM tok)
), vec AS (
  SELECT doc_id, bucket, COUNT(*) AS cnt FROM bucketed GROUP BY doc_id, bucket
)
SELECT doc_id,
       CAST(SUM(cnt * cnt) AS BIGINT) AS l2_sq,
       MAX(cnt) AS max_bucket_count,
       COUNT(*) AS n_nonzero_buckets
FROM vec GROUP BY doc_id
""",
)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing (hashing-trick) TF vectors: tokens -> md5 mod 64
    buckets -> count vector; reported as exact integer vector stats.
    The cheap embedding when you can't run a model over 100 TB."""
    d = T(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.expr(_TOKENS)).alias("t"))
    bucketed = toks.select(
        "doc_id",
        (F.expr("cast(conv(substr(md5(t), 1, 8), 16, 10) as bigint)") % 64).alias("bucket"),
    )
    vec = bucketed.groupBy("doc_id", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    return vec.groupBy("doc_id").agg(
        F.sum(F.col("cnt") * F.col("cnt")).alias("l2_sq"),
        F.max("cnt").alias("max_bucket_count"),
        F.count(F.lit(1)).alias("n_nonzero_buckets"),
    )


@register(
    "q_regression_tokens_vs_chars",
    oracle="""
WITH tok AS (
  SELECT lang, n_chars,
         len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS n_tokens
  FROM documents
)
SELECT lang,
       COUNT(*) AS n,
       ROUND((COUNT(*) * CAST(SUM(n_chars * n_tokens) AS DOUBLE) - CAST(SUM(n_chars) AS DOUBLE) * SUM(n_tokens))
           / (COUNT(*) * CAST(SUM(n_chars * n_chars) AS DOUBLE) - CAST(SUM(n_chars) AS DOUBLE) * SUM(n_chars)), 8) AS slope
FROM tok GROUP BY lang
""",
)
def q_regression_tokens_vs_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise OLS slope (tokens ~ chars) from exact integer moment
    sums — distributed regression without any ML library; the moments
    are one partial-aggregated pass."""
    d = T(spark, sf_dir, "documents")
    tok = d.select(
        "lang", "n_chars", F.expr(f"size({_TOKENS})").alias("n_tokens")
    )
    n = F.count(F.lit(1))
    sx = F.sum("n_chars")
    sy = F.sum("n_tokens")
    sxy = F.sum(F.col("n_chars") * F.col("n_tokens"))
    sxx = F.sum(F.col("n_chars") * F.col("n_chars"))
    slope = (n * sxy.cast("double") - sx.cast("double") * sy) / (
        n * sxx.cast("double") - sx.cast("double") * sx
    )
    return tok.groupBy("lang").agg(n.alias("n"), F.round(slope, 8).alias("slope"))


@register(
    "q_text_winnowing",
    oracle="""
WITH grams AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(lower(text)) - 7),
                        i -> md5(substr(lower(text), i, 8))) AS g
  FROM documents WHERE len(text) >= 8
)
SELECT doc_id,
       len(list_distinct(g)) AS n_distinct_grams,
       list_aggregate(g, 'min') AS min_gram_hash
FROM grams
""",
)
def q_text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint (MOSS/winnowing style): hashes
    of every 8-char window; the distinct-gram count + global min hash
    summarise the document for copy detection.  Pure column expressions
    — each document is fingerprinted partition-locally."""
    d = T(spark, sf_dir, "documents").where(F.length("text") >= 8)
    lowered = d.select("doc_id", F.lower("text").alias("lt"))
    grams = lowered.select(
        "doc_id",
        F.expr("transform(sequence(1, length(lt) - 7), i -> md5(substr(lt, i, 8)))").alias("g"),
    )
    return grams.select(
        "doc_id",
        F.size(F.array_distinct("g")).alias("n_distinct_grams"),
        F.array_min("g").alias("min_gram_hash"),
    )


_BM25_TERMS = ("data", "spark", "query")
_BM25_K1 = 1.2
_BM25_B = 0.75


@register(
    "q_bm25_search",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
),
stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*) AS avgdl
  FROM tok
),
tf AS (
  SELECT doc_id, t AS term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS t FROM tok)
  WHERE t IN ('data', 'spark', 'query')
  GROUP BY doc_id, t
),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         SUM(ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
             * tf.tf * ({_BM25_K1} + 1)
             / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * len(tok.toks) / s.avgdl))) AS score
  FROM tf
  JOIN df ON df.term = tf.term
  JOIN tok ON tok.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, ROUND(score, 6) AS bm25 FROM scored
ORDER BY score DESC, doc_id LIMIT 20
""",
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval for the query ('data', 'spark', 'query'):
    classic lexical search as two aggregations + a broadcast of the
    tiny per-term stats.  The lexical half of hybrid search next to the
    ANN queries; at 100 TB this is the inverted-index scoring pass.
    """
    d = T(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.expr(_TOKENS).alias("toks"))
    stats = tok.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(F.size("toks")).cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    terms = list(_BM25_TERMS)
    tf = (
        tok.select("doc_id", F.explode("toks").alias("t"))
        .where(F.col("t").isin(terms))
        .groupBy("doc_id", F.col("t").alias("term"))
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dl = tok.select("doc_id", F.size("toks").alias("dl"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    denom = F.col("tf") + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    contrib = idf * F.col("tf") * (_BM25_K1 + 1) / denom
    return (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(contrib).alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
        .select("doc_id", F.round("score", 6).alias("bm25"))
    )


# count-min sketch geometry: 4 hash rows x 512 buckets.  Bucket hash is
# md5-based so both engines agree bit-for-bit.
_CMS_D = 4
_CMS_W = 512


@register(
    "q_text_heavy_hitters",
    oracle=f"""
WITH toks AS (
  SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS token
  FROM documents
),
exact AS (SELECT token, COUNT(*) AS exact_cnt FROM toks GROUP BY token),
counters AS (
  SELECT j, ('0x' || substr(md5(j || ':' || token), 1, 8))::BIGINT % {_CMS_W} AS bucket,
         COUNT(*) AS c
  FROM toks, (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS j)
  GROUP BY 1, 2
),
top AS (
  SELECT token, exact_cnt,
         ROW_NUMBER() OVER (ORDER BY exact_cnt DESC, token) AS rk
  FROM exact
),
est AS (
  SELECT t.token, t.exact_cnt, t.rk, MIN(c.c) AS cms_est
  FROM top t
  JOIN counters c
    ON c.bucket = ('0x' || substr(md5(c.j || ':' || t.token), 1, 8))::BIGINT % {_CMS_W}
  WHERE t.rk <= 20
  GROUP BY t.token, t.exact_cnt, t.rk
)
SELECT token, rk, exact_cnt, cms_est, cms_est - exact_cnt AS overcount FROM est
""",
)
def q_text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via a count-min sketch: hash every token into
    4 x 512 counters, estimate each top-20 token's count as
    the MIN over its 4 buckets, and report the (always >= 0)
    overcount vs the exact answer.

    The sketch is the 100 TB pattern: the counter table is a fixed
    4*512-row aggregate (one map-side-combined shuffle of
    16-byte keys) regardless of corpus size, and it is mergeable across
    partitions/days by cell-wise addition — the exact GROUP BY it is
    checked against shuffles every distinct token.  md5-derived bucket
    hashes keep both engines bit-identical.
    """
    toks = (
        T(spark, sf_dir, "documents")
        .select(F.explode(F.expr(_TOKENS)).alias("token"))
    )
    toks = persist_tracked(toks)
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("exact_cnt"))
    bucket = F.expr(
        f"cast(conv(substr(md5(concat(j, ':', token)), 1, 8), 16, 10) as bigint) % {_CMS_W}"
    )
    counters = (
        toks.select("token", F.explode(F.expr(f"sequence(0, {_CMS_D - 1})")).alias("j"))
        .select("j", bucket.alias("bucket"))
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = (
        exact.withColumn(
            "rk", F.row_number().over(Window.orderBy(F.desc("exact_cnt"), "token"))
        )
        .where(F.col("rk") <= 20)
        .select("token", "exact_cnt", "rk")
    )
    probes = top.select(
        "token", "exact_cnt", "rk",
        F.explode(F.expr(f"sequence(0, {_CMS_D - 1})")).alias("j"),
    ).select("token", "exact_cnt", "rk", "j", bucket.alias("bucket"))
    return (
        probes.join(F.broadcast(counters), ["j", "bucket"])
        .groupBy("token", "exact_cnt", "rk")
        .agg(F.min("c").alias("cms_est"))
        .select(
            "token", "rk", "exact_cnt", "cms_est",
            (F.col("cms_est") - F.col("exact_cnt")).alias("overcount"),
        )
    )


@register(
    "q_text_zipf_slope",
    oracle=f"""
WITH toks AS (
  SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS token
  FROM documents
),
freqs AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
top AS (
  SELECT token, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rk
  FROM freqs ORDER BY cnt DESC, token LIMIT 500
),
pts AS (SELECT ln(rk) AS x, ln(cnt) AS y FROM top)
SELECT COUNT(*) AS n_points,
       ROUND((COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))
           / (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)), 4) AS zipf_slope,
       (SELECT MIN(token) FROM top WHERE rk = 1) AS top_token,
       (SELECT cnt FROM top WHERE rk = 1) AS top_count
FROM pts
""",
)
def q_text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit: OLS slope of ln(freq) ~ ln(rank) over
    the top-500 tokens — the standard sanity check that a crawled
    corpus has natural-language token statistics (slope near -1)
    rather than boilerplate/spam (flat or cliffed).

    Scale: token counts partial-aggregate map-side; the top-500 is a
    per-partition top-k (TakeOrderedAndProject via orderBy+limit), NOT
    a global sort of the vocabulary — at 100 TB the vocab table never
    concentrates on one partition.  The regression itself runs over
    500 rows.  Slope rounded to 4dp: ln() is the one transcendental
    both engines evaluate per-row before order-dependent summation.
    """
    toks = T(spark, sf_dir, "documents").select(
        F.explode(F.expr(_TOKENS)).alias("token")
    )
    freqs = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    top = freqs.orderBy(F.desc("cnt"), "token").limit(500)
    pts = top.select(
        "token",
        "cnt",
        F.row_number().over(Window.orderBy(F.desc("cnt"), "token")).alias("rk"),
    )
    pts = pts.select(
        "token", "cnt", "rk", F.log(F.col("rk").cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    n = F.count(F.lit(1))
    slope = (n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y")) / (
        n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")
    )
    return pts.agg(
        n.alias("n_points"),
        F.round(slope, 4).alias("zipf_slope"),
        F.min(F.when(F.col("rk") == 1, F.col("token"))).alias("top_token"),
        F.max(F.when(F.col("rk") == 1, F.col("cnt"))).alias("top_count"),
    )


def _nll_from_toks(toks: DataFrame) -> DataFrame:
    """(t, nll: decimal(20,8)) unigram negative-log-prob table from an
    exploded (doc_id, t) token stream.

    The corpus-total scalar sums the VOCABULARY counts instead of
    re-counting the token stream (r15): sum of group counts == total
    count exactly (both LongType), but the old form was a third full
    evaluation of the tokenize+explode — at corpus scale a complete
    extra pass, and locally one more consumer racing the token cache.
    The two freq subtrees share one exchange (same groupBy key)."""
    freq = toks.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").alias("total"))
    return freq.crossJoin(F.broadcast(total)).select(
        "t",
        F.round(-F.log(F.col("c").cast("double") / F.col("total")), 8)
        .cast("decimal(20,8)")
        .alias("nll"),
    )


def nll_vocab_frame(d: DataFrame) -> DataFrame:
    """(t, nll) unigram-LM vocabulary trained on a (doc_id, text)
    corpus — the FROZEN-LM artifact the streaming surprisal filter
    scores against (train offline on a reference corpus, apply to the
    ingest stream)."""
    return _nll_from_toks(d.select("doc_id", F.explode(F.expr(_TOKENS)).alias("t")))


def _score_toks(toks: DataFrame, nll: DataFrame) -> DataFrame:
    return (
        toks.join(nll, "t")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_toks"), F.sum("nll").alias("s"))
        .select(
            "doc_id",
            "n_toks",
            F.round(F.col("s").cast("double") / F.col("n_toks"), 6).alias("avg_nll"),
        )
    )


def doc_avg_nll_frame(d: DataFrame) -> DataFrame:
    """(doc_id, n_toks, avg_nll) — self-trained unigram-LM surprisal
    per document over an arbitrary (doc_id, text) frame, shared
    verbatim by q_text_unigram_surprisal, q_perplexity_buckets, and
    the filter task's ``scorer: surprisal`` (same expressions, same
    determinism: 8dp per-token nll summed in DECIMAL, mean rounded to
    6dp)."""
    toks = d.select("doc_id", F.explode(F.expr(_TOKENS)).alias("t"))
    toks = persist_tracked(toks)
    return _score_toks(toks, _nll_from_toks(toks))


def score_against_vocab(docs: DataFrame, vocab: DataFrame) -> DataFrame:
    """(doc_id, n_toks, avg_nll) for ``docs`` under a FROZEN (t, nll)
    vocabulary — the apply side of the offline-trained LM filter.
    Out-of-vocabulary tokens score the vocabulary's MAXIMUM nll (the
    rarest-known-token surprisal): deterministic, and unseen tokens
    read as maximally surprising, which is the conservative choice for
    a quality gate.  The vocabulary (and its scalar max) broadcast;
    scoring is one join + a map-side-combinable per-doc aggregate."""
    toks = docs.select("doc_id", F.explode(F.expr(_TOKENS)).alias("t"))
    mx = vocab.agg(F.max("nll").alias("_oov_nll"))
    joined = (
        toks.join(F.broadcast(vocab), "t", "left")
        .crossJoin(F.broadcast(mx))
        .select("doc_id", F.coalesce("nll", "_oov_nll").alias("nll"))
    )
    return (
        joined.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_toks"), F.sum("nll").alias("s"))
        .select(
            "doc_id",
            "n_toks",
            F.round(F.col("s").cast("double") / F.col("n_toks"), 6).alias("avg_nll"),
        )
    )


def _doc_avg_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan-out tried and reverted (r14): the nll pipeline branches this
    # frame (vocabulary + totals + doc scoring), and the extra exchange
    # per branch cost more than the serial scan it removed
    return doc_avg_nll_frame(
        T(spark, sf_dir, "documents").select("doc_id", "text")
    )


@register(
    "q_text_unigram_surprisal",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS t
  FROM documents
),
freq AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
tot AS (SELECT COUNT(*) AS total FROM tok),
nll AS (
  SELECT t, CAST(ROUND(-LN(CAST(c AS DOUBLE) / total), 8) AS DECIMAL(20,8)) AS nll
  FROM freq, tot
),
doc AS (
  SELECT doc_id, COUNT(*) AS n_toks, SUM(nll) AS s
  FROM tok JOIN nll USING (t) GROUP BY doc_id
),
scored AS (
  SELECT doc_id, n_toks, ROUND(CAST(s AS DOUBLE) / n_toks, 6) AS avg_nll FROM doc
)
SELECT doc_id, n_toks, avg_nll, rk FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY avg_nll DESC, doc_id) AS rk FROM scored
) WHERE rk <= 50
""",
)
def q_text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM surprisal scoring — the self-trained stand-in for the
    CCNet/KenLM perplexity filter: train token frequencies on the
    corpus itself, score each document by its mean negative log
    probability, surface the 50 most surprising documents (gibberish,
    boilerplate-free outliers, wrong-language text score high; typical
    prose scores low).

    Determinism: per-token -ln(c/total) rounds to 8dp and accumulates
    in DECIMAL, so the per-doc sum is independent of row order in both
    engines; the mean rounds to 6dp before ranking and doc_id breaks
    ties.

    Scale: the LM "state" is the vocabulary-sized (token, count) table
    — the token join is the single wide operation, the per-doc
    aggregate combines map-side, and the top-50 is a per-partition
    TakeOrderedAndProject, never a global sort.  Swapping the
    self-trained frequencies for a reference-corpus table turns this
    into the standard quality-filter shape without changing the plan.
    """
    doc = _doc_avg_nll(spark, sf_dir)
    top = doc.orderBy(F.desc("avg_nll"), "doc_id").limit(50)
    return top.select(
        "doc_id",
        "n_toks",
        "avg_nll",
        F.row_number().over(Window.orderBy(F.desc("avg_nll"), "doc_id")).alias("rk"),
    )


_NLL_SQL_DOC = """
tok AS (
  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS t
  FROM documents
),
freq AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
tot AS (SELECT COUNT(*) AS total FROM tok),
nll AS (
  SELECT t, CAST(ROUND(-LN(CAST(c AS DOUBLE) / total), 8) AS DECIMAL(20,8)) AS nll
  FROM freq, tot
),
doc AS (
  SELECT doc_id, COUNT(*) AS n_toks, SUM(nll) AS s
  FROM tok JOIN nll USING (t) GROUP BY doc_id
)
"""


@register(
    "q_perplexity_buckets",
    oracle=f"""
WITH {_NLL_SQL_DOC},
scored AS (
  SELECT doc_id,
         CAST(ROUND(ROUND(CAST(s AS DOUBLE) / n_toks, 6) * 1000000) AS BIGINT)
           AS nll_micro
  FROM doc
),
ranked AS (
  SELECT d.source, sc.doc_id, sc.nll_micro,
         ROW_NUMBER() OVER (PARTITION BY d.source ORDER BY sc.nll_micro, sc.doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY d.source) AS n
  FROM scored sc JOIN documents d USING (doc_id)
)
SELECT source,
       CASE WHEN 3 * rn <= n THEN 'head'
            WHEN 3 * rn <= 2 * n THEN 'middle'
            ELSE 'tail' END AS bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(nll_micro) AS BIGINT) AS sum_nll_micro
FROM ranked GROUP BY source, bucket
""",
)
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: per source, rank documents by
    unigram-LM surprisal and split into head / middle / tail terciles
    — the language-model quality partition web-corpus pipelines use
    to keep head+middle and drop (or re-weight) the tail, calibrated
    PER DUMP exactly like q_quality_adaptive_filter's median.

    Boundary-free by construction: surprisal converts to exact integer
    micro-units (avg_nll is 6dp), and the tercile assignment
    ``3*rn <= n`` / ``3*rn <= 2*n`` is pure integer rank arithmetic —
    no percentile interpolation, no FP threshold anywhere (the lesson
    of the r5 adaptive-filter fragility, applied to the next
    order-statistics operator).

    Scale shape: the surprisal stage is q_text_unigram_surprisal's
    (vocabulary-table join, map-side-combinable doc aggregate); the
    bucketing adds one shuffle on source for the per-source rank and a
    3-row-per-source aggregate.  At 100 TB swap the exact rank for
    percentile_approx boundaries on nll_micro and the bucket CASE —
    the output contract (source, bucket, counts, mass) is unchanged.
    """
    doc = _doc_avg_nll(spark, sf_dir)
    src = T(spark, sf_dir, "documents").select("doc_id", "source")
    scored = doc.join(src, "doc_id").select(
        "source",
        "doc_id",
        F.expr("cast(round(avg_nll * 1000000) as bigint)").alias("nll_micro"),
    )
    w = Window.partitionBy("source").orderBy("nll_micro", "doc_id")
    ranked = scored.select(
        "source",
        "nll_micro",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n"),
    )
    bucket = (
        F.when(F.lit(3) * F.col("rn") <= F.col("n"), "head")
        .when(F.lit(3) * F.col("rn") <= F.lit(2) * F.col("n"), "middle")
        .otherwise("tail")
    )
    return ranked.groupBy("source", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nll_micro").alias("sum_nll_micro"),
    )


# --- RAKE keyword extraction (Rose et al. 2010) -----------------------

_RAKE_STOPS = ("the", "a", "of", "and", "is")
_RAKE_K = 3


@register(
    "q_text_rake_keywords",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
  FROM documents
),
tokrows AS (
  SELECT doc_id, s.pos AS pos, s.w AS w,
         CASE WHEN s.w IN ('the', 'a', 'of', 'and', 'is') THEN 1 ELSE 0 END
           AS is_stop
  FROM (SELECT doc_id, unnest(list_transform(generate_series(1, len(t)),
          i -> struct_pack(pos := i, w := t[i]))) AS s
        FROM tok WHERE len(t) >= 1)
),
marked AS (
  SELECT doc_id, pos, w, is_stop,
         SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS phrase_id
  FROM tokrows
),
words AS (SELECT doc_id, pos, w, phrase_id FROM marked WHERE is_stop = 0),
phrases AS (
  SELECT doc_id, phrase_id, CAST(COUNT(*) AS BIGINT) AS plen
  FROM words GROUP BY doc_id, phrase_id
),
wordstats AS (
  SELECT k.doc_id, k.w,
         CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM(p.plen - 1) AS BIGINT) AS deg
  FROM words k JOIN phrases p USING (doc_id, phrase_id)
  GROUP BY k.doc_id, k.w
),
scored AS (
  SELECT k.doc_id, k.phrase_id,
         string_agg(k.w, ' ' ORDER BY k.pos) AS phrase,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM((s.deg * 1000000) // s.freq) AS BIGINT) AS score_micro
  FROM words k JOIN wordstats s ON k.doc_id = s.doc_id AND k.w = s.w
  GROUP BY k.doc_id, k.phrase_id
)
SELECT doc_id, phrase, n_words, score_micro, rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
              ORDER BY score_micro DESC, phrase_id) AS rk
  FROM scored
) WHERE rk <= {_RAKE_K}
""",
)
def q_text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs; each word scores
    degree/frequency over the document's own phrases (degree = sum of
    co-occurring phrase sizes minus one); a phrase scores the sum of
    its word scores and the top 3 per document are the keywords —
    the classic unsupervised keyphrase extractor, useful for corpus
    topic profiling before mixture construction.

    Determinism: word scores round ONCE by integer floor division
    into 1e-6 units (never a float ratio), phrase scores are exact
    BIGINT sums, and ranking tie-breaks on phrase position — no FP
    anywhere.

    Scale shape: phrase segmentation is a per-document prefix count
    (window partitioned by doc_id — no global window); word stats and
    phrase scores are map-side-combinable aggregates on (doc, word) /
    (doc, phrase) keys; the two joins are co-partitioned on doc_id.
    Everything shuffles at most the token stream, and the top-k is a
    per-doc WindowGroupLimit.
    """
    stops = ", ".join(f"'{s}'" for s in _RAKE_STOPS)
    tok = (
        T(spark, sf_dir, "documents")
        .select("doc_id", F.expr("filter(split(lower(text), ' '), x -> x != '')").alias("t"))
        .where(F.expr("size(t) >= 1"))
    )
    tokrows = tok.select(
        "doc_id", F.posexplode("t").alias("pos0", "w")
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        "w",
        F.expr(f"case when w in ({stops}) then 1 else 0 end").alias("is_stop"),
    )
    w_doc = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = tokrows.withColumn("phrase_id", F.sum("is_stop").over(w_doc))
    words = marked.where(F.col("is_stop") == 0).select(
        "doc_id", "pos", "w", "phrase_id"
    )
    phrases = words.groupBy("doc_id", "phrase_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("plen")
    )
    wordstats = (
        words.join(phrases, ["doc_id", "phrase_id"])
        .groupBy("doc_id", "w")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.sum(F.col("plen") - 1).cast("bigint").alias("deg"),
        )
    )
    scored = (
        words.join(wordstats, ["doc_id", "w"])
        .withColumn("w_score", F.expr("(deg * 1000000) div freq"))
        .groupBy("doc_id", "phrase_id")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list(struct(pos, w))), "
                "s -> s.w), ' ')"
            ).alias("phrase"),
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("w_score").cast("bigint").alias("score_micro"),
        )
    )
    w_rank = Window.partitionBy("doc_id").orderBy(
        F.desc("score_micro"), "phrase_id"
    )
    return (
        scored.withColumn("rk", F.row_number().over(w_rank))
        .where(F.col("rk") <= _RAKE_K)
        .select("doc_id", "phrase", "n_words", "score_micro", "rk")
    )


# --- Bigram LM with Stupid Backoff (Brants et al. 2007) ----------------

_SB_ALPHA_NUM, _SB_ALPHA_DEN = 4, 10  # backoff factor 0.4, exact rational
_SB_K = 50

_SB_POS_EXPR = (
    "transform(sequence(1, size(t) - 1), i -> "
    "struct(element_at(t, i) as w1, element_at(t, i + 1) as w2))"
)


def bigram_lm_frames(train: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(nll_bi (w1, w2, nll_i8), nll_uni (w, nll_i8)) — the Stupid
    Backoff LM tables trained on a (doc_id, text) corpus, in exact
    integer 1e-8 nll units (each transcendental rounded ONCE at the
    vocabulary entry).  Both frames are vocabulary-sized aggregates —
    broadcast them when they fit (the trained-filter case), hash-join
    on the bigram key when they don't.  ``train`` needs only a
    ``text`` column."""
    d = train.select(F.expr(_TOKENS).alias("t"))
    train_pos = (
        d.where(F.expr("size(t) >= 2"))
        .select(F.explode(F.expr(_SB_POS_EXPR)).alias("p"))
        .select("p.w1", "p.w2")
    )
    bi = train_pos.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    train_tok = d.select(F.explode("t").alias("w"))
    uni = persist_tracked(
        train_tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    )
    tot = train_tok.agg(F.count(F.lit(1)).alias("n"))
    nll_bi = bi.join(uni.withColumnRenamed("w", "w1"), "w1").select(
        "w1",
        "w2",
        F.expr(
            "cast(round(-ln(cast(c12 as double) / c) * 100000000) as bigint)"
        ).alias("nll_i8"),
    )
    nll_uni = uni.crossJoin(F.broadcast(tot)).select(
        "w",
        F.expr(
            f"cast(round(-ln({_SB_ALPHA_NUM} * cast(c as double) / ({_SB_ALPHA_DEN} * n))"
            " * 100000000) as bigint)"
        ).alias("nll_i8"),
    )
    return nll_bi, nll_uni


def score_against_bigram_lm(
    docs: DataFrame, nll_bi: DataFrame, nll_uni: DataFrame
) -> DataFrame:
    """(doc_id, n_scored, sum_nll_i8, avg_nll_i8) — per-document Stupid
    Backoff surprisal of a (doc_id, text) frame under FROZEN LM tables
    from bigram_lm_frames: bigram tier when the pair is known, 0.4x
    backoff to the unigram, vocabulary-max nll for OOV.  Documents
    with < 2 tokens have no scoreable position and are absent (no
    evidence — the caller decides their fate).  All integer after the
    LM lookups: BIGINT sums + floor division."""
    oov = nll_uni.agg(F.max("nll_i8").alias("oov_i8"))
    score_pos = (
        docs.select("doc_id", F.expr(_TOKENS).alias("t"))
        .where(F.expr("size(t) >= 2"))
        .select("doc_id", F.explode(F.expr(_SB_POS_EXPR)).alias("p"))
        .select("doc_id", "p.w1", "p.w2")
    )
    scored_pos = (
        score_pos.join(F.broadcast(nll_bi), ["w1", "w2"], "left")
        .join(
            F.broadcast(
                nll_uni.select(F.col("w").alias("w2"), F.col("nll_i8").alias("nll_u_i8"))
            ),
            "w2",
            "left",
        )
        .crossJoin(F.broadcast(oov))
        .select(
            "doc_id", F.coalesce("nll_i8", "nll_u_i8", "oov_i8").alias("p_nll_i8")
        )
    )
    return (
        scored_pos.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_scored"),
            F.sum("p_nll_i8").alias("sum_nll_i8"),
        )
        .withColumn("avg_nll_i8", F.expr("sum_nll_i8 div n_scored"))
    )


@register(
    "q_text_bigram_surprisal",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
  FROM documents WHERE lang = 'en'
),
train_pos AS (
  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                i -> t[i] || ' ' || t[i + 1])) AS g
  FROM tok WHERE doc_id % 2 = 0 AND len(t) >= 2
),
bi AS (SELECT g, COUNT(*) AS c12 FROM train_pos GROUP BY g),
train_tok AS (SELECT unnest(t) AS w FROM tok WHERE doc_id % 2 = 0),
uni AS (SELECT w, COUNT(*) AS c FROM train_tok GROUP BY w),
tot AS (SELECT COUNT(*) AS n FROM train_tok),
nll_bi AS (
  SELECT b.g,
         CAST(ROUND(-LN(CAST(b.c12 AS DOUBLE) / u.c) * 100000000) AS BIGINT) AS nll_i8
  FROM bi b JOIN uni u ON u.w = string_split(b.g, ' ')[1]
),
nll_uni AS (
  SELECT w,
         CAST(ROUND(-LN({_SB_ALPHA_NUM} * CAST(c AS DOUBLE) / ({_SB_ALPHA_DEN} * n))
              * 100000000) AS BIGINT) AS nll_i8
  FROM uni, tot
),
oov AS (SELECT MAX(nll_i8) AS oov_i8 FROM nll_uni),
score_pos AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
                i -> t[i] || ' ' || t[i + 1])) AS g
  FROM tok WHERE doc_id % 2 = 1 AND len(t) >= 2
),
scored_pos AS (
  SELECT p.doc_id,
         COALESCE(b.nll_i8, u.nll_i8, o.oov_i8) AS nll_i8
  FROM score_pos p
  LEFT JOIN nll_bi b USING (g)
  LEFT JOIN nll_uni u ON u.w = string_split(p.g, ' ')[2]
  CROSS JOIN oov o
),
docsc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_scored,
         CAST(SUM(nll_i8) AS BIGINT) AS sum_nll_i8
  FROM scored_pos GROUP BY doc_id
)
SELECT doc_id, n_scored, sum_nll_i8, avg_nll_i8, rk FROM (
  SELECT *, CAST(sum_nll_i8 // n_scored AS BIGINT) AS avg_nll_i8,
         ROW_NUMBER() OVER (ORDER BY sum_nll_i8 // n_scored DESC, doc_id) AS rk
  FROM docsc
) WHERE rk <= {_SB_K}
""",
)
def q_text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM with Stupid Backoff (Brants et al. 2007, "Large
    Language Models in Machine Translation"): train bigram + unigram
    counts on a reference slice (the even-doc_id half of the 'en'
    corpus), score the held-out half per token position —
    p(w2|w1) = c(w1 w2)/c(w1) when the bigram is known, else
    0.4 * c(w2)/N, else (OOV) the vocabulary's maximum backoff
    surprisal — and surface the 50 most surprising documents.  This is
    the CCNet/KenLM quality-filter shape one order up from the unigram
    family (q_text_unigram_surprisal): held-out scoring means the
    backoff tier is genuinely exercised, not dead code.

    Determinism: each transcendental rounds ONCE into integer 1e-8
    units at the vocabulary entry (the q_dsir_selection rule —
    margins measured in tests/test_oracle_fragility.py), per-doc sums
    are exact BIGINT, and the per-doc average is integer floor
    division (positive operands, so Spark's truncating ``div`` and
    DuckDB's ``//`` agree) — no FP anywhere downstream of the LM
    tables.

    Scale shape: the LM "state" is two vocabulary-sized count tables
    (map-side-combinable aggregates); scoring is one join per tier on
    the position stream — broadcast when the LM fits (the common case
    for a trained filter model), hash-partitioned on the bigram key
    when it doesn't — and the doc aggregate combines map-side.  The
    top-50 compiles to TakeOrderedAndProject.  Swapping the held-out
    split for a persisted reference-corpus LM table turns this into
    the production frozen-LM filter without changing the plan (the
    ``nll_vocab_frame`` pattern, one tier up)."""
    d = T(spark, sf_dir, "documents").where(F.col("lang") == "en").select(
        "doc_id", "text"
    )
    nll_bi, nll_uni = bigram_lm_frames(d.where(F.expr("doc_id % 2 = 0")))
    docsc = score_against_bigram_lm(
        d.where(F.expr("doc_id % 2 = 1")), nll_bi, nll_uni
    )
    w = Window.orderBy(F.desc("avg_nll_i8"), F.col("doc_id"))
    return (
        docsc.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _SB_K)
        .select("doc_id", "n_scored", "sum_nll_i8", "avg_nll_i8", "rk")
    )


# --- Content-defined chunking (rsync/FastCDC-style boundaries) ---------

_CDC_DIV = 16  # expected chunk length in tokens (boundary prob 1/16)


@register(
    "q_doc_cdc_chunks",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
  FROM documents
),
pos AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(t)),
                i -> struct_pack(i := i, w := t[i]))) AS s
  FROM toks WHERE len(t) > 0
),
flagged AS (
  SELECT doc_id, s.i AS i, s.w AS w,
         CASE WHEN (('0x' || substr(md5(s.w), 1, 8))::BIGINT) % {_CDC_DIV} = 0
              THEN 1 ELSE 0 END AS b
  FROM pos
),
assigned AS (
  SELECT doc_id, i, w,
         COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY i
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS chunk_index
  FROM flagged
)
SELECT doc_id, CAST(chunk_index AS BIGINT) AS chunk_index,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       string_agg(w, ' ' ORDER BY i) AS chunk_text
FROM assigned GROUP BY doc_id, chunk_index
""",
)
def q_doc_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS/FastCDC boundary idea,
    token-granular): a chunk ends after any token whose hash falls in
    1/{_CDC_DIV} of the hash space, so expected chunk length is
    {_CDC_DIV} tokens and — the property fixed-window chunking lacks —
    boundaries depend only on LOCAL content: an insertion near the top
    of a document re-chunks one neighborhood instead of shifting every
    downstream window.  That makes chunk-level dedup stable under
    edits, which is why CDC is the chunking layer under storage dedup
    and a natural pre-pass for passage-level corpus dedup.

    Determinism: the boundary predicate is a modulus over the md5
    prefix — the registry's cross-engine content hash (DuckDB ``hash``
    vs Spark ``xxhash64`` are NOT bit-identical, they only agree
    within-engine, so a cross-engine boundary must come from md5) —
    and chunk text is the exact token sequence: no FP anywhere.

    Scale shape: the Spark side builds each document's chunk list with
    a single aggregate() fold over the row's own token array — ZERO
    exchanges; chunks leave the row through one map-side explode (the
    per-row-fold rule in SCALE.md).  The relational DuckDB oracle
    (position window + group-by) certifies the fold.  At 100 TB this
    rides the scan like the C4/line operators; pair it with
    fingerprint-only shuffles for chunk-level dedup downstream."""
    d = T(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_TOKENS).alias("t")
    ).where(F.expr("size(t) > 0"))
    empty_s = "cast(array() as array<string>)"
    fold = F.expr(
        f"aggregate(t, "
        f"named_struct('chunks', cast(array() as array<array<string>>), "
        f"'cur', {empty_s}), "
        f"(acc, x) -> case when "
        f"cast(conv(substr(md5(x), 1, 8), 16, 10) as bigint) % {_CDC_DIV} = 0 "
        f"then named_struct('chunks', array_append(acc.chunks, array_append(acc.cur, x)), "
        f"'cur', {empty_s}) "
        f"else named_struct('chunks', acc.chunks, 'cur', array_append(acc.cur, x)) end, "
        f"acc -> case when size(acc.cur) > 0 "
        f"then array_append(acc.chunks, acc.cur) else acc.chunks end)"
    )
    return (
        d.select("doc_id", F.posexplode(fold).alias("chunk_index", "c"))
        .select(
            "doc_id",
            F.col("chunk_index").cast("bigint").alias("chunk_index"),
            F.size("c").cast("bigint").alias("n_tokens"),
            F.expr("concat_ws(' ', c)").alias("chunk_text"),
        )
    )


# ---------------------------------------------------------------------------
# Character-entropy quality signal
# ---------------------------------------------------------------------------

_ENT_LN = "cast(round(ln(cast({x} as double)) * 100000000) as bigint)"
_ENT_LOW = 200000000  # 2.0 nats in 1e-8 units


def char_entropy_col(text: str = "text"):
    """Column: per-document character Shannon entropy in integer 1e-8
    nat units, as a ZERO-EXCHANGE row-local fold (run-length aggregate
    over the doc's own sorted chars).  NULL/empty text scores 0.
    Shared by q_text_char_entropy, the filter task's ``scorer:
    entropy``, and the streaming stage."""
    ln_run = _ENT_LN.format(x="acc.run")
    fold = (
        f"aggregate(array_sort(filter(split({text}, ''), x -> x != '')), "
        "named_struct('prev', '', 'run', 0L, 'acc', 0L), "
        "(acc, c) -> case when c = acc.prev "
        "then named_struct('prev', acc.prev, 'run', acc.run + 1L, 'acc', acc.acc) "
        "else named_struct('prev', c, 'run', 1L, "
        f"'acc', acc.acc + case when acc.run > 0 then acc.run * {ln_run} else 0L end) end, "
        f"acc -> acc.acc + case when acc.run > 0 then acc.run * {ln_run} else 0L end)"
    )
    ln_n = _ENT_LN.format(x=f"length({text})")
    return F.expr(
        f"case when {text} is null or length({text}) = 0 then 0L else "
        f"cast((cast(length({text}) as bigint) * {ln_n} - {fold}) "
        f"div cast(length({text}) as bigint) as bigint) end"
    )


@register(
    "q_text_char_entropy",
    oracle=f"""
WITH ch AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ''), x -> x <> '')) AS c
  FROM documents WHERE text IS NOT NULL AND length(text) > 0
),
cnts AS (SELECT doc_id, c, COUNT(*) AS k FROM ch GROUP BY doc_id, c),
per_doc AS (
  SELECT doc_id,
         CAST(SUM(k) AS BIGINT) AS n,
         CAST(SUM(k * CAST(ROUND(LN(CAST(k AS DOUBLE)) * 100000000) AS BIGINT))
              AS BIGINT) AS acc
  FROM cnts GROUP BY doc_id
)
SELECT doc_id, n AS n_chars,
       CAST((n * CAST(ROUND(LN(CAST(n AS DOUBLE)) * 100000000) AS BIGINT) - acc)
            // n AS BIGINT) AS entropy_e8,
       CAST(CASE WHEN (n * CAST(ROUND(LN(CAST(n AS DOUBLE)) * 100000000) AS BIGINT)
                       - acc) // n < {_ENT_LOW} THEN 1 ELSE 0 END AS BIGINT)
         AS low_entropy
FROM per_doc
""",
)
def q_text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document, in integer 1e-8
    nat units — the crawler quality signal that catches what word
    rules miss (binary junk, base64 blobs, aaaaa-style keyboard mash
    all sit far below natural text's ~2.5-4 nats/char; ``low_entropy``
    flags documents under 2.0).  H = ln(n) - (1/n) * sum_c k_c ln(k_c)
    over character counts.

    Determinism: each LN rounds ONCE into 1e-8 integer units (the
    q_dsir_selection rule; margins in the FRAGILITY audit) and
    everything downstream — the k*L(k) products, the subtraction, the
    floor division by n — is exact BIGINT, so the threshold flag has
    no FP boundary.

    Scale shape: the Spark side is a ZERO-EXCHANGE row-local fold
    (array_sort + run-length aggregate over the doc's own chars — the
    MassiveText-fold discipline; the relational DuckDB formulation
    certifies it): 100 TB of text never shuffles a single character.
    """
    d = (
        T(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & (F.length("text") > 0))
        .select("doc_id", "text")
    )
    # stage the fold in its own column (interpreted HOFs re-evaluate
    # inlined subexpressions — the measured-8x pitfall)
    staged = d.select(
        "doc_id",
        F.expr("cast(length(text) as bigint)").alias("n_chars"),
        char_entropy_col().alias("entropy_e8"),
    )
    return staged.select(
        "doc_id",
        "n_chars",
        "entropy_e8",
        F.expr(
            f"cast(case when entropy_e8 < {_ENT_LOW} then 1 else 0 end as bigint)"
        ).alias("low_entropy"),
    )


# ---------------------------------------------------------------------------
# Fill-in-the-middle (FIM) transform
# ---------------------------------------------------------------------------


@register(
    "q_fim_transform",
    oracle="""
WITH tok AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
  FROM documents
),
sized AS (
  SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n,
         (('0x' || substr(md5('fim0|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT) AS h0,
         (('0x' || substr(md5('fim1|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT) AS h1,
         (('0x' || substr(md5('fim2|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT) AS h2
  FROM tok WHERE len(t) >= 2
),
cut AS (
  SELECT doc_id, t, n,
         CASE WHEN h0 % 2 = 0 THEN 1 ELSE 0 END AS is_fim,
         1 + (h1 % (n - 1)) AS i,
         1 + (h1 % (n - 1)) + (h2 % (n - (1 + (h1 % (n - 1))) + 1)) AS j
  FROM sized
)
SELECT doc_id,
       CASE WHEN is_fim = 1 THEN 'fim' ELSE 'plain' END AS mode,
       n AS n_tokens,
       CAST(CASE WHEN is_fim = 1 THEN i ELSE 0 END AS BIGINT) AS i_split,
       CAST(CASE WHEN is_fim = 1 THEN j ELSE 0 END AS BIGINT) AS j_split,
       CASE WHEN is_fim = 1 THEN
         '<PRE> ' || array_to_string(t[1:i], ' ') ||
         ' <SUF> ' || COALESCE(array_to_string(t[j+1:n], ' '), '') ||
         ' <MID> ' || COALESCE(array_to_string(t[i+1:j], ' '), '')
       ELSE array_to_string(t, ' ') END AS out_text
FROM cut
""",
)
def q_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle transform (Bavarian et al. 2022): for a
    deterministic half of the corpus, split the token stream at two
    hash-derived points and emit the PSM reordering
    ``<PRE> prefix <SUF> suffix <MID> middle`` (training on it teaches
    infilling 'for free'); the other half passes through verbatim —
    the 50% FIM rate the paper found cost-neutral.  Split points are
    md5-derived from doc_id, so the transform is reproducible across
    runs and engines (no RNG state), and the full output text is the
    oracle-compared value — a off-by-one in either cut breaks the
    hash.

    Scale shape: pure row-local string/array work after one tokenize —
    zero shuffles; at 100 TB this is a map stage in front of the pack
    task (FIM before packing, per the paper's pipeline order)."""
    d = T(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.expr(_TOKENS).alias("t")).where(F.size("t") >= 2)
    h = (
        "cast(conv(substr(md5(concat('fim{k}|', cast(doc_id as string))), 1, 8), "
        "16, 10) as bigint)"
    )
    sized = tok.select(
        "doc_id",
        "t",
        F.expr("cast(size(t) as bigint)").alias("n"),
        F.expr(h.format(k=0)).alias("h0"),
        F.expr(h.format(k=1)).alias("h1"),
        F.expr(h.format(k=2)).alias("h2"),
    )
    cut = sized.select(
        "doc_id",
        "t",
        "n",
        F.expr("case when h0 % 2 = 0 then 1 else 0 end").alias("is_fim"),
        F.expr("1 + (h1 % (n - 1))").alias("i"),
        F.expr("1 + (h1 % (n - 1)) + (h2 % (n - (1 + (h1 % (n - 1))) + 1))").alias(
            "j"
        ),
    )
    return cut.select(
        "doc_id",
        F.expr("case when is_fim = 1 then 'fim' else 'plain' end").alias("mode"),
        F.col("n").alias("n_tokens"),
        F.expr("cast(case when is_fim = 1 then i else 0 end as bigint)").alias(
            "i_split"
        ),
        F.expr("cast(case when is_fim = 1 then j else 0 end as bigint)").alias(
            "j_split"
        ),
        F.expr(
            "case when is_fim = 1 then "
            "concat('<PRE> ', concat_ws(' ', slice(t, 1, i)), "
            "' <SUF> ', concat_ws(' ', slice(t, j + 1, n - j)), "
            "' <MID> ', concat_ws(' ', slice(t, i + 1, j - i))) "
            "else concat_ws(' ', t) end"
        ).alias("out_text"),
    )
