"""Deduplication operators for training-data pipelines:

- exact (hash groupBy)
- n-gram Jaccard (shingle self-join)
- MinHash + LSH (shingle -> minhash signature -> band bucket join)
- SimHash (token-hash bit voting -> Hamming pairs)
- embedding cosine near-dup

The documents table has no duplicates at test scale, so each query
builds a corpus = documents UNION a synthesised duplicate/near-duplicate
copy (doc_id + 100000) — the operator must then find exactly those
planted pairs (plus any natural ones).  All hashing is md5-based so
Spark and the DuckDB oracle compute identical signatures.

Scale design: every registered query generates candidates through an
equi-join — hash groupBy (exact), band-bucket join (MinHash-LSH,
SimHash byte-bands), inverted index (n-gram Jaccard), hyperplane-bucket
join (cosine) — and runs the exact verify predicate on candidates only.
The all-pairs forms survive only as unregistered ground-truth helpers
(`_simhash_allpairs`, `_cosine_allpairs`) that
tests/test_dedup_banding.py checks the banded plans against.
"""

from __future__ import annotations

import os
import re
from typing import NamedTuple, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sayn_spark.functions.registry import T, persist_tracked, register

_TOKENS = "filter(split(lower(text), ' '), x -> x != '')"
# distinct word-3-gram shingles OVER A PRE-COMPUTED toks COLUMN; guard
# size<3 (Spark's sequence(1,0) DESCENDS).  Staging matters: inlining
# the tokenizer into every element_at() re-evaluates the split per
# shingle element — a measured 8x slowdown at sf0.1.
_SHINGLES_FROM_TOKS = (
    # zip_with over shifted slices beats per-index element_at 5x: the
    # interpreted HOF evaluates one cheap lambda per element instead of
    # three O(1)-but-boxed array probes
    "array_distinct(if(size(toks) >= 3, "
    "zip_with(zip_with(slice(toks, 1, size(toks) - 2), slice(toks, 2, size(toks) - 2), "
    "(x, y) -> concat(x, ' ', y)), slice(toks, 3, size(toks) - 2), "
    "(xy, z) -> concat(xy, ' ', z)), "
    "cast(array() as array<string>)))"
)

_SQL_TOKENS = "list_filter(string_split(lower(text), ' '), x -> x <> '')"
_SQL_SHINGLES = (
    f"list_distinct(CASE WHEN len({_SQL_TOKENS}) >= 3 THEN "
    f"list_transform(generate_series(1, len({_SQL_TOKENS}) - 2), "
    f"i -> {_SQL_TOKENS}[i] || ' ' || {_SQL_TOKENS}[i+1] || ' ' || {_SQL_TOKENS}[i+2]) "
    f"ELSE []::VARCHAR[] END)"
)


def _doc_corpus(spark: SparkSession, sf_dir: str, mutate: str | None) -> DataFrame:
    """documents ∪ copy with doc_id+100000; ``mutate`` appends a suffix
    to the copy's text (None = exact duplicate)."""
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    copy = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        (F.concat(F.col("text"), F.lit(mutate)) if mutate else F.col("text")).alias("text"),
    )
    return d.unionByName(copy)


def _fan_out(df: DataFrame, spark: SparkSession, sf_dir: str, table: str = "documents") -> DataFrame:
    """Repartition to cluster width ONLY when the source file is too
    small to split into enough input partitions.

    The interpreted-HOF projections downstream (shingling, SimHash
    votes, hyperplane buckets) are compute-bound map work, but a narrow
    chain inherits the scan's partition count — 2 splits at sf0.1, so
    the build would run 2-wide on a 32-core box (measured 8x on the
    SimHash vote fold).  At 100 TB the opposite holds: splits >> cores
    and an unconditional repartition would be a pure extra full-text
    shuffle, which an earlier round measured and rejected.  The guard
    is a driver-side file-size estimate (bytes / maxPartitionBytes):
    zero Spark planning cost, correct on both ends of the scale.

    The size estimate sums part files when the dataset is a directory
    (the usual shape for anything a Spark job wrote), and the
    maxPartitionBytes parse accepts Spark's unit-suffixed byte strings
    ("128m", "64mb", "1g") with a safe fallback to the 128 MiB default.
    """
    size = _dataset_bytes(os.path.join(sf_dir, f"{table}.parquet"))
    if size is None:
        return df
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    max_bytes = _parse_byte_string(raw)
    width = spark.sparkContext.defaultParallelism
    if size // max_bytes >= width:
        return df  # the scan already splits wide enough
    return df.repartition(width)


def _parse_byte_string(raw, default: int = 134217728) -> int:
    """Spark byte-string → bytes ("128m" → 134217728); ``default`` on
    anything unparseable so a config oddity can never fail a plan."""
    units = {"": 1, "b": 1, "k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}
    try:
        s = str(raw).strip().lower()
        m = re.fullmatch(r"(\d+)\s*([a-z]*)", s)
        if not m:
            return default
        n, unit = int(m.group(1)), m.group(2).rstrip("b")
        if unit not in units:
            return default
        return max(1, n * units[unit])
    except Exception:
        return default


def _dataset_bytes(path: str):
    """Total data bytes at ``path``: the file size, or the sum of the
    part files when the dataset is a directory (a single getsize on a
    directory returns the dentry size — a few KiB — which would force
    the fan-out shuffle on exactly the large multi-file datasets the
    guard exists to protect)."""
    try:
        if os.path.isdir(path):
            total = 0
            for root, _dirs, files in os.walk(path):
                for name in files:
                    if name.startswith((".", "_")):
                        continue  # _SUCCESS, .crc sidecars
                    total += os.path.getsize(os.path.join(root, name))
            return total
        return os.path.getsize(path)
    except OSError:
        return None


def _staged_shingles(corpus: DataFrame, persist: bool = False) -> DataFrame:
    """(doc_id, sh) with the tokenizer evaluated once per document.

    ``persist=True`` caches the shingle table (MEMORY_AND_DISK) for
    plans that branch over it (inverted index + sizes + verify) —
    shingling is the expensive stage (higher-order functions are
    interpreted, not codegen'd), so recomputing it per branch triples
    query time.  At 100 TB the equivalent is materialising the shingle
    table once before the join stages.
    """
    toks = corpus.select("doc_id", F.expr(_TOKENS).alias("toks"))
    sh = toks.select("doc_id", F.expr(_SHINGLES_FROM_TOKS).alias("sh"))
    if persist:
        sh = persist_tracked(sh)
    return sh


_SQL_CORPUS_EXACT = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 100000, text FROM documents
)"""

_SQL_CORPUS_NEAR = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 100000, text || ' zz qq' FROM documents
)"""


@register(
    "q_dedup_exact",
    oracle=f"""
WITH {_SQL_CORPUS_EXACT}
SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM corpus GROUP BY md5(text)
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, keep the lowest doc_id.

    One shuffle on the content hash; at 100 TB hash first (md5/xxhash)
    so the shuffle key is 16 bytes, not the document.
    """
    corpus = _doc_corpus(spark, sf_dir, mutate=None)
    return (
        corpus.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@register(
    "q_dedup_ngram_jaccard",
    oracle=f"""
WITH {_SQL_CORPUS_NEAR},
shingled AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM corpus),
sizes AS (SELECT doc_id, len(sh) AS n FROM shingled),
exploded AS (SELECT doc_id, unnest(sh) AS s FROM shingled),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
  FROM exploded a JOIN exploded b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       ROUND(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.8
""",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection: word-3-gram shingles, self-join on shingle,
    Jaccard >= 0.8.

    The shingle inverted-index join is the quadratic verifier — at
    100 TB you gate it behind MinHash-LSH candidates (next query).
    The posting join carries the _jaccard_edges shuffle cuts (r14):
    keys are xxhash64(shingle) — 8 bytes instead of the ~30-byte
    string, collision class P ~ n_shingles^2 / 2^64, the family's
    accepted md5-fingerprint risk class — and per-doc set sizes ride
    the postings, so no post-aggregation joins back to a sizes table.
    Skew note unchanged: stopword shingles → salting or frequency cap
    in production.
    """
    corpus = _fan_out(_doc_corpus(spark, sf_dir, mutate=" zz qq"), spark, sf_dir)
    shingled = _staged_shingles(corpus, persist=True)
    exploded = shingled.select(
        "doc_id", F.size("sh").alias("n"), F.explode("sh").alias("s")
    ).select("doc_id", "n", F.xxhash64("s").alias("h"))
    a = exploded.alias("a")
    b = exploded.alias("b")
    pairs = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.first("a.n").alias("na"),
            F.first("b.n").alias("nb"),
        )
    )
    jacc = F.col("common").cast("double") / (F.col("na") + F.col("nb") - F.col("common"))
    return pairs.where(jacc >= 0.8).select(
        "id_a", "id_b", F.round(jacc, 6).alias("jaccard")
    )


_N_HASHES = 16
_BAND_ROWS = 4  # 4 bands x 4 rows


# minhash via hash *permutations*: one md5 per shingle, then N affine
# perms h_s = (A_s*base + B_s) mod p computed array-local — no per-seed
# explode, no shuffle before banding.  p = 2^31-1; base < p and A_s < p
# keep every product inside int64.  The md5 base lives in its own
# staged column so the permutations are pure integer folds.
#
# The multipliers MUST be independent random draws.  The original
# LCG-style A_s = 1103515245*(s+1) shared a common factor, so
# h_s(x) = (s+1) * (1103515245*x) mod p and the argmin barely moved
# across permutations (measured 2/128 agreements on a true subset pair
# where ~60 were expected).  That made est_jaccard structurally
# unreliable exactly where the ESTIMATE is the verdict (the
# incremental signature store, the streaming ingest, the dedup task):
# two documents sharing one globally-minimal shingle could estimate
# ~1.0.  Seeded PCG64 draws fix the independence while staying fully
# deterministic, and all three implementations (Spark expression,
# numpy UDF, DuckDB oracle SQL) are generated from this one table —
# the 128-wide prefix extension serves the LSH-Ensemble containment
# gate, whose per-band agreement probability IS its recall guarantee.
_P = 2147483647
_MH_MAX_HASHES = 128
_mh_rng = np.random.default_rng(20160905)  # fixed: signatures must be stable
_MH_A = _mh_rng.integers(1, _P, size=_MH_MAX_HASHES, dtype=np.int64)
_MH_B = _mh_rng.integers(0, _P, size=_MH_MAX_HASHES, dtype=np.int64)
# Wide extension (the containment gate's wide-ratio mode needs up to
# 512 one-row bands).  Drawn as a CONTINUATION of the same PCG stream
# in the same A-then-B order, so _MH_A[:128]/_MH_B[:128] — and every
# existing signature, band table, and oracle — stay bit-identical.
# NEVER re-draw the base 128 with a different size: PCG draws are
# sequential, so size changes would shift _MH_B and break every
# stored signature index.
_MH_MAX_HASHES_WIDE = 512
_MH_A = np.concatenate(
    [_MH_A, _mh_rng.integers(1, _P, size=_MH_MAX_HASHES_WIDE - _MH_MAX_HASHES, dtype=np.int64)]
)
_MH_B = np.concatenate(
    [_MH_B, _mh_rng.integers(0, _P, size=_MH_MAX_HASHES_WIDE - _MH_MAX_HASHES, dtype=np.int64)]
)
del _mh_rng

_SPARK_BASES = f"transform(sh, x -> cast(conv(substr(md5(x), 1, 8), 16, 10) as bigint) % {_P})"
_SPARK_SIG = (
    "array("
    + ", ".join(
        f"array_min(transform(bases, h -> ({_MH_A[s]}L * h + {_MH_B[s]}L) % {_P}))"
        for s in range(_N_HASHES)
    )
    + ")"
)

_DUCK_BASE = f"((('0x' || substr(md5(x), 1, 8))::BIGINT) % {_P})"
_SQL_SIG = (
    "list_value("
    + ", ".join(
        f"list_aggregate(list_transform(sh, x -> "
        f"({_MH_A[s]}::BIGINT * {_DUCK_BASE} + {_MH_B[s]}) % {_P}), 'min')"
        for s in range(_N_HASHES)
    )
    + ")"
)


def _sql_sig_from_bases(n_hashes: int, bases_col: str = "bases") -> str:
    """DuckDB n_hashes-wide signature over a PRE-COMPUTED md5-base list
    column (one md5 pass per shingle total, instead of one per
    permutation term as in _SQL_SIG) — needed by the wide-signature
    oracles (containment-gate recall) where 128 md5 re-passes per doc
    would dominate the sweep."""
    if n_hashes > _MH_MAX_HASHES_WIDE:
        raise ValueError(f"n_hashes > {_MH_MAX_HASHES_WIDE}")
    return (
        "list_value("
        + ", ".join(
            f"list_aggregate(list_transform({bases_col}, h -> "
            f"({_MH_A[s]}::BIGINT * h + {_MH_B[s]}) % {_P}), 'min')"
            for s in range(n_hashes)
        )
        + ")"
    )


def _sig_udf(n_hashes: int = _N_HASHES):
    """Vectorized minhash permutations (Arrow/numpy) — bit-identical to
    _SPARK_SIG (same int64 arithmetic over the same _MH_A/_MH_B table)
    but ~2x faster: the integer ops are one numpy broadcast per
    document instead of interpreted higher-order-function lambdas.
    This is the blessed Pandas-UDF path: used only because the built-in
    expression is measurably slower.

    ``n_hashes`` widens the permutation family for operators that need
    long 1-row-band signatures (the LSH-Ensemble containment gate);
    the first _N_HASHES permutations are identical to the default.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    if n_hashes > _MH_MAX_HASHES_WIDE:
        raise ValueError(
            f"n_hashes > {_MH_MAX_HASHES_WIDE}: extend the _MH_A/_MH_B table "
            "(continuation draws only — see the table comment)"
        )
    A = _MH_A[:n_hashes, None]
    B = _MH_B[:n_hashes, None]

    @pandas_udf(ArrayType(LongType()))
    def sig(col: pd.Series) -> pd.Series:
        def one(bases):
            h = np.asarray(bases, dtype=np.int64)[None, :]
            return ((A * h + B) % _P).min(axis=1)

        return col.map(one)

    return sig


@register(
    "q_dedup_minhash_lsh",
    oracle=f"""
WITH {_SQL_CORPUS_NEAR},
shingled AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM corpus WHERE len({_SQL_SHINGLES}) > 0),
sigs AS (SELECT doc_id, sh, {_SQL_SIG} AS sig FROM shingled),
bands AS (
  SELECT doc_id, band,
         md5(array_to_string(list_transform(generate_series(1, {_BAND_ROWS}),
             i -> CAST(sig[band * {_BAND_ROWS} + i] AS VARCHAR)), '|')) AS band_sig
  FROM sigs, (SELECT unnest(generate_series(0, {_N_HASHES // _BAND_ROWS - 1})) AS band)
),
candidates AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6) AS jaccard
FROM candidates
JOIN shingled sa ON sa.doc_id = id_a
JOIN shingled sb ON sb.doc_id = id_b
WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.5
""",
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup: 16 minhash permutations, 4 bands x 4
    rows, band-bucket join for candidates, exact-Jaccard verification.

    Scale design: the signature is computed entirely array-local (one
    md5 per shingle + 16 seeded random affine permutations folded per array —
    no per-seed row explosion, no shuffle before banding); the only
    shuffles are the 4-rows-per-doc band join and the candidate verify.
    """
    corpus = _fan_out(_doc_corpus(spark, sf_dir, mutate=" zz qq"), spark, sf_dir)
    shingled = _staged_shingles(corpus, persist=True).where(F.size("sh") > 0)
    bases = shingled.select("doc_id", "sh", F.expr(_SPARK_BASES).alias("bases"))
    sigs = bases.select("doc_id", _sig_udf()(F.col("bases")).alias("sig"))
    # the candidate self-join reads bands twice; without this persist
    # each side recomputes the whole signature pipeline
    bands = persist_tracked(_mh_band_frame(sigs))
    a = bands.alias("a")
    b = bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    # exact verify on xxhash64-hashed shingle arrays (r14): the two
    # attach joins move ~4x narrower arrays and the intersect compares
    # longs, not ~30-byte strings — the _jaccard_edges collision class
    verify = shingled.select(
        "doc_id",
        F.expr("transform(sh, x -> xxhash64(x))").alias("hs"),
        F.size("sh").alias("n"),
    )
    common = F.size(F.array_intersect(F.col("sa.hs"), F.col("sb.hs")))
    jacc = common.cast("double") / (F.col("sa.n") + F.col("sb.n") - common)
    return (
        candidates.join(verify.alias("sa"), F.col("id_a") == F.col("sa.doc_id"))
        .join(verify.alias("sb"), F.col("id_b") == F.col("sb.doc_id"))
        .where(jacc >= 0.5)
        .select("id_a", "id_b", F.round(jacc, 6).alias("jaccard"))
    )


_PASSAGE_W = 10  # tokens per passage window


@register(
    "q_dedup_passages",
    oracle=f"""
WITH {_SQL_CORPUS_EXACT},
tok AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM corpus),
passages AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - {_PASSAGE_W - 1}),
                i -> md5(array_to_string(toks[i:i + {_PASSAGE_W - 1}], ' ')))) AS h
  FROM tok WHERE len(toks) >= {_PASSAGE_W}
),
dup AS (SELECT h FROM passages GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2)
SELECT p.doc_id, COUNT(*) AS n_passages, COUNT(d.h) AS n_dup_passages,
       ROUND(CAST(COUNT(d.h) AS DOUBLE) / COUNT(*), 6) AS dup_frac
FROM passages p LEFT JOIN dup d ON p.h = d.h
GROUP BY p.doc_id
""",
)
def q_dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level (passage) dedup: hash every {W}-token window,
    find hashes shared by 2+ documents, report each document's
    duplicated-passage fraction — the RefinedWeb/'Deduplicating
    Training Data' op that *removes duplicated spans* rather than
    whole near-duplicate documents.  The planted exact copies drive
    dup_frac to 1.0 for both members of each pair.

    Scale design: rows are (doc_id, passage_hash) — 16-byte keys, one
    shuffle to build the global dup set (HAVING over hash), one
    broadcast-able join back.  At 100 TB you winnow (keep only
    per-window minimum hashes) to cut rows ~W-fold before the shuffle;
    the full-stride version here keeps the oracle exact.
    """
    corpus = _fan_out(_doc_corpus(spark, sf_dir, mutate=None), spark, sf_dir)
    toks = corpus.select("doc_id", F.expr(_TOKENS).alias("toks")).where(
        F.size("toks") >= _PASSAGE_W
    )
    passages = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(toks) - {_PASSAGE_W - 1}), "
                f"i -> md5(array_join(slice(toks, i, {_PASSAGE_W}), ' ')))"
            )
        ).alias("h"),
    )
    passages = persist_tracked(passages)
    dup = (
        passages.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    return (
        # the dup-hash set is corpus-sized at scale (one row per shared
        # window hash) but cost-estimates tiny below the explode —
        # Spark would BROADCAST it (the containment-gate hazard);
        # force the shuffled hash join
        passages.join(dup.withColumn("is_dup", F.lit(1)).hint("shuffle_hash"), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.count("is_dup").alias("n_dup_passages"),
            F.round(
                F.count("is_dup").cast("double") / F.count(F.lit(1)), 6
            ).alias("dup_frac"),
        )
    )


def _simhash_signatures(
    spark: SparkSession, sf_dir: str, n_bands: int = 8
) -> DataFrame:
    """(doc_id, sig) where sig = array of ``n_bands`` int-valued bands
    of a 64-bit SimHash (per-token md5 bit voting); band width is
    64 / n_bands bits (8 bands of 8 bits, or 4 bands of 16 bits, ...).

    The 64-bit value is never packed into one BIGINT: both engines keep
    it as small ints (band k = bits w*k .. w*k+w-1), which sidesteps
    signed-shift overflow at bit 63 and makes the LSH band key directly
    available.  Band WIDTH is the selectivity knob of the
    Manku/Charikar multi-index: 8-bit bands cap the win at ~256x per
    band, 16-bit bands at ~65536x — see ``simhash_pairs``.  Build is
    ARRAY-LOCAL (same trick as the MinHash signatures): hash array ->
    vote fold -> band pack, all inside one narrow projection with zero
    shuffle — 4.7x faster at sf0.1 than the measured
    explode(tokens x 64 bits) + double-groupBy alternative, which
    pushed 64x|tokens| rows through two exchanges.
    """
    # repartition BEFORE the hash projections so the build runs
    # cluster-wide instead of at the parquet file's split count (2 at
    # sf0.1).  One round-robin shuffle of raw text is the price of
    # full-width parallelism for everything downstream.
    corpus = _fan_out(_doc_corpus(spark, sf_dir, mutate=" zz qq"), spark, sf_dir)
    return simhash_signatures_for(corpus, n_bands)


def simhash_signatures_for(corpus: DataFrame, n_bands: int = 8) -> DataFrame:
    """_simhash_signatures over an arbitrary (doc_id, text) corpus —
    the signature stage shared by the registered queries and the dedup
    task's ``method: simhash`` (which fans its own corpus out)."""
    if not 1 <= n_bands <= 16 or 64 % n_bands != 0:
        # the upper bound is a plan-size guard, not a math one: the
        # combo probe emits C(n_bands, 3) named_structs per doc, so 32+
        # bands would build a multi-megabyte explode expression
        raise ValueError(
            f"n_bands must divide 64 and be in [1, 16], got {n_bands}"
        )
    # drop zero-token documents (empty/whitespace-only text) BEFORE the
    # vote fold: they'd otherwise carry an all-zero signature, collide
    # with each other in every band, and emit O(n_empty^2) hamming-0
    # candidates — while the DuckDB oracle's unnest drops them entirely.
    # Mirrors the size(sh) > 0 guard on the MinHash path.
    toks_arr = corpus.select(
        "doc_id", F.expr(f"array_distinct({_TOKENS})").alias("toks")
    ).where(F.expr("size(toks) > 0"))
    # md5 per token stays JVM-side; the 64-bit vote fold moves to a
    # vectorized Arrow pandas_udf (same blessed pattern as the MinHash
    # _sig_udf): the interpreted aggregate/zip_with HOF chain evaluated
    # 64 lambda calls per token per doc and measured 13s at sf0.1 where
    # the numpy broadcast fold takes ~2s, bit-identically (asserted in
    # tests/test_dedup_banding.py against the oracle-matched output).
    hs = toks_arr.select(
        "doc_id",
        F.expr(
            "transform(toks, t -> cast(conv(substring(md5(t), 1, 8), 16, 10) as bigint))"
        ).alias("hi"),
        F.expr(
            "transform(toks, t -> cast(conv(substring(md5(t), 9, 8), 16, 10) as bigint))"
        ).alias("lo"),
    )
    return hs.select("doc_id", _simhash_sig_udf(n_bands)(F.col("hi"), F.col("lo")).alias("sig"))


def _simhash_sig_udf(n_bands: int):
    """Arrow-vectorized SimHash vote fold: per-token (hi, lo) 32-bit
    hash halves -> 64 bit columns -> +/-1 vote sum -> majority bits ->
    ``n_bands`` packed band ints.  Bit j of the signature is element
    j+1 of the vote vector (bits 0-31 from lo, 32-63 from hi), band k
    packs bits [k*w, k*w+w) with in-band weight 2^j — identical layout
    to the DuckDB oracle's char-level recomputation."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    w = 64 // n_bands
    j32 = np.arange(32, dtype=np.int64)
    weights = 1 << np.arange(w, dtype=np.int64)

    @pandas_udf(ArrayType(IntegerType()))
    def sig(hi: pd.Series, lo: pd.Series) -> pd.Series:
        def one(h, l):
            h = np.asarray(h, dtype=np.int64)
            l = np.asarray(l, dtype=np.int64)
            votes = np.concatenate(
                [(l[:, None] >> j32) & 1, (h[:, None] >> j32) & 1], axis=1
            )
            bit = ((2 * votes - 1).sum(axis=0) > 0).astype(np.int64)
            return (bit.reshape(n_bands, w) * weights).sum(axis=1).astype(np.int32)

        return pd.Series([one(h, l) for h, l in zip(hi, lo)])

    return sig


def _simhash_hamming(n_bands: int = 8) -> str:
    """Hamming distance over the band ints, written as ``n_bands``
    literal-index terms rather than a zip_with/aggregate HOF:
    higher-order functions are INTERPRETED per row while
    GetArrayItem/bit_count stay inside whole-stage codegen — on the
    54M-row candidate stream at sf0.1 the HOF form measured 127s vs ~4s
    for this expansion."""
    return (
        "cast("
        + " + ".join(f"bit_count(sig_a[{k}] ^ sig_b[{k}])" for k in range(n_bands))
        + " as int)"
    )


def _simhash_allpairs(sig: DataFrame, n_bands: int = 8, radius: int = 6) -> DataFrame:
    """All-pairs Hamming verifier over SimHash signatures — NOT
    registered as a standalone query (O(n^2) nested-loop join is never
    survivable at 100 TB); kept as the ground-truth helper that
    tests/test_dedup_banding.py checks the banded plans against.
    """
    a = sig.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    b = sig.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    hamming = F.expr(_simhash_hamming(n_bands))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .where(hamming <= radius)
        .select("id_a", "id_b", hamming.alias("hamming"))
    )


def _simhash_probe_keys(sig: DataFrame, n_bands: int, radius: int) -> DataFrame:
    """(doc_id, ci, k) Manku/Charikar combo probe keys for a signature
    frame — the key derivation shared by the in-corpus candidate join
    (_simhash_candidates) and the incremental batch-vs-index probe
    (incremental_simhash_matches).  Empty signatures (token-less docs
    recorded as trivially novel in the incremental index) emit no keys:
    sig[c] is NULL there, the packed key folds to NULL, and a NULL key
    would be dead join weight."""
    import itertools

    w = 64 // n_bands
    m = n_bands - radius
    if m < 1:
        raise ValueError(
            f"radius {radius} needs more than {n_bands} bands for exact recall"
        )
    m = min(m, 3)
    combos = list(itertools.combinations(range(n_bands), m))
    probe = (
        "explode(array("
        + ", ".join(
            f"named_struct('ci', {ci}, 'k', cast("
            + " + ".join(
                f"shiftleft(cast(sig[{c}] as bigint), {w * pos})"
                for pos, c in enumerate(combo)
            )
            + " as bigint))"
            for ci, combo in enumerate(combos)
        )
        + "))"
    )
    return (
        sig.where(F.size("sig") > 0)
        .select("doc_id", F.expr(probe).alias("p"))
        .select("doc_id", F.col("p.ci").alias("ci"), F.col("p.k").alias("k"))
    )


def _simhash_candidates(sig: DataFrame, n_bands: int, radius: int) -> DataFrame:
    """Candidate pairs via the Manku/Charikar permute-and-probe index:
    each document is keyed on every size-``m`` COMBINATION of its bands
    (m = n_bands - radius, capped at 3 to bound row expansion — any
    smaller m also preserves recall, it just widens the buckets), and
    candidates are an equi-join on (combo_index, packed_key).

    Recall is EXACT by pigeonhole for ANY data: ``radius`` flipped bits
    corrupt at most ``radius`` bands, so every qualifying pair has at
    least ``n_bands - radius`` intact bands and therefore at least one
    fully-shared m-combo.  Selectivity: the packed key carries
    m * (64/n_bands) bits — 16 bits for both registered shapes (8x8-bit
    bands probed in pairs at radius 6; 4x16-bit bands probed singly at
    radius 3), a 256x tighter bucket than the byte-band single-key plan
    this replaces, which is what keeps the candidate stream sub-
    quadratic on web-scale corpora where n >> 256 buckets.

    Plan shape: the probe join carries ONLY (doc_id, ci, k) — on a
    clustered corpus the joined stream is tens of millions of 3-int
    rows, and widening it with signature arrays + a per-row
    first-shared-combo CASE chain measured 8x slower than this form.
    Duplicate emissions (a pair sharing several combos) are collapsed
    by a distinct whose hash aggregate combines map-side, so the
    dedup exchange moves only unique pairs; signatures re-attach to
    the deduped candidates via two narrow joins against ``sig``.
    """
    pairs = _simhash_candidate_ids(sig, n_bands, radius)
    return pairs.join(
        sig.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a"
    ).join(
        sig.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b"
    )


def _simhash_candidate_ids(sig: DataFrame, n_bands: int, radius: int) -> DataFrame:
    """The deduplicated (id_a < id_b) candidate-pair id frame behind
    _simhash_candidates, without the signature attach — so callers can
    attach whichever signature representation their verifier wants
    (the full band array, or the packed 64-bit word)."""
    keyed = _simhash_probe_keys(sig, n_bands, radius)
    a = keyed.select(F.col("doc_id").alias("id_a"), "ci", "k")
    b = keyed.select(F.col("doc_id").alias("id_b"), "ci", "k")
    return (
        a.join(b, ["ci", "k"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _simhash_packed(sig: DataFrame, n_bands: int) -> DataFrame:
    """(doc_id, p): the band array folded back into the single 64-bit
    SimHash word (band k holds bits [k*w, (k+1)*w)).  Bands partition
    the 64 bits, so Hamming over the bands equals one
    bit_count(p_a ^ p_b) on the packed words.

    Each band is masked to its w low bits BEFORE the shift: the
    signature stores bands as int32, so a w=32 band (n_bands=2) with
    bit 31 set reads back negative and a bare ``cast(... as bigint)``
    sign-extends bits 32..63 over the neighbouring band's field.  With
    the mask the fields are provably disjoint, so they combine with
    ``|`` (no carries possible, unlike ``+`` on sign-extended values).
    For the stored shapes w <= 32, so the mask always fits a bigint."""
    w = 64 // n_bands
    mask = (1 << w) - 1 if w < 64 else -1
    pack = (
        "("
        + " | ".join(
            f"shiftleft(cast(sig[{k}] as bigint) & {mask}, {w * k})"
            for k in range(n_bands)
        )
        + ")"
    )
    return sig.where(F.size("sig") > 0).select("doc_id", F.expr(pack).alias("p"))


def simhash_pairs(
    spark: SparkSession, sf_dir: str, n_bands: int = 8, radius: int = 6
) -> DataFrame:
    """SimHash near-dup pairs within Hamming ``radius``, banded with
    ``n_bands`` bands (width 64/n_bands bits) and probed on band combos
    — see ``_simhash_candidates`` for the exact-recall argument."""
    return simhash_dup_pairs(
        _fan_out(_doc_corpus(spark, sf_dir, mutate=" zz qq"), spark, sf_dir),
        n_bands,
        radius,
    )


def simhash_dup_pairs(
    corpus: DataFrame, n_bands: int = 8, radius: int = 6
) -> DataFrame:
    """``simhash_pairs`` over an arbitrary (doc_id, text) corpus — the
    library entry point behind the dedup task's ``method: simhash``.
    Same plan as the registered query: signatures persist (the combo
    probe reads them 28x), candidates come from the Manku/Charikar
    band-combo equi-join (exact recall by pigeonhole), and the codegen
    Hamming filter runs on candidates only."""
    sig = persist_tracked(simhash_signatures_for(corpus, n_bands))
    # verify on the PACKED 64-bit word: bands partition the 64 bits, so
    # bit_count(p_a ^ p_b) equals the per-band bit_count sum — one xor
    # + one popcount per candidate instead of 8 array probes, and the
    # two attach joins move an 8-byte long instead of the band array
    packed = _simhash_packed(sig, n_bands)
    hamming = F.expr("cast(bit_count(p_a ^ p_b) as int)")
    return (
        _simhash_candidate_ids(sig, n_bands, radius)
        .join(packed.select(F.col("doc_id").alias("id_a"), F.col("p").alias("p_a")), "id_a")
        .join(packed.select(F.col("doc_id").alias("id_b"), F.col("p").alias("p_b")), "id_b")
        .where(hamming <= radius)
        .select("id_a", "id_b", hamming.alias("hamming"))
    )


@register(
    "q_dedup_simhash",
    oracle=f"""
WITH {_SQL_CORPUS_NEAR},
toks AS (
  SELECT DISTINCT doc_id, unnest({_SQL_TOKENS}) AS tok FROM corpus
),
th AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h_hi,
                 ('0x' || substr(md5(tok), 9, 8))::BIGINT AS h_lo
  FROM toks
),
bits AS (
  SELECT doc_id, j,
         SUM(CASE WHEN (CASE WHEN j < 32 THEN (h_lo >> j) & 1
                             ELSE (h_hi >> (j - 32)) & 1 END) = 1
             THEN 1 ELSE -1 END) AS s
  FROM th, (SELECT unnest(generate_series(0, 63)) AS j)
  GROUP BY doc_id, j
),
bands AS (
  SELECT doc_id, j // 8 AS band,
         SUM(CASE WHEN s > 0 THEN 1 << (j % 8) ELSE 0 END)::INT AS bval
  FROM bits GROUP BY doc_id, j // 8
),
sig AS (SELECT doc_id, list(bval ORDER BY band) AS sig FROM bands GROUP BY doc_id)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(list_aggregate(list_transform(list_zip(a.sig, b.sig),
            p -> bit_count(xor(p[1], p[2]))), 'sum') AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE CAST(list_aggregate(list_transform(list_zip(a.sig, b.sig),
      p -> bit_count(xor(p[1], p[2]))), 'sum') AS INT) <= 6
""",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 64-bit signature (8 byte-bands) from per-token
    md5 bit voting; pairs within Hamming distance 6, found via the
    Manku/Charikar permute-and-probe index — candidates are pairs
    sharing at least one PAIR of bands (C(8,2)=28 combos, 16-bit packed
    keys), then the exact Hamming filter runs on candidates only.

    Recall is EXACT by pigeonhole for ANY data: 6 flipped bits touch at
    most 6 of the 8 bands, so every qualifying pair shares >= 2
    untouched bands — i.e. at least one fully-intact band PAIR — and is
    guaranteed to surface from the combo equi-join.  The plan is
    shuffle-joins on (combo, 16-bit key) — no nested-loop join anywhere
    (the oracle, which runs only in DuckDB at toy scale, states the
    all-pairs semantics directly).

    100 TB notes: the 16-bit combo key gives ~65536 distinct values per
    combo index vs ~256 for the single-byte-band key it replaces — the
    candidate stream stays sub-quadratic on corpora where n >> 256
    (asserted across scale factors in tests/test_dedup_banding.py).
    The probe emits 28 rows/doc instead of 8, but each row is only
    (combo, key, doc_id) — three ints — and the map-side-combined
    distinct collapses duplicate pair emissions before any wide data
    moves; signatures attach to deduped candidates only.  Radius/width
    are parameters (``simhash_pairs``): q_dedup_simhash_wide runs the
    4x16-bit-band shape for radius 3.
    """
    return simhash_pairs(spark, sf_dir, n_bands=8, radius=6)


@register(
    "q_dedup_simhash_wide",
    oracle=f"""
WITH {_SQL_CORPUS_NEAR},
toks AS (
  SELECT DISTINCT doc_id, unnest({_SQL_TOKENS}) AS tok FROM corpus
),
th AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h_hi,
                 ('0x' || substr(md5(tok), 9, 8))::BIGINT AS h_lo
  FROM toks
),
bits AS (
  SELECT doc_id, j,
         SUM(CASE WHEN (CASE WHEN j < 32 THEN (h_lo >> j) & 1
                             ELSE (h_hi >> (j - 32)) & 1 END) = 1
             THEN 1 ELSE -1 END) AS s
  FROM th, (SELECT unnest(generate_series(0, 63)) AS j)
  GROUP BY doc_id, j
),
bands AS (
  SELECT doc_id, j // 16 AS band,
         SUM(CASE WHEN s > 0 THEN 1 << (j % 16) ELSE 0 END)::INT AS bval
  FROM bits GROUP BY doc_id, j // 16
),
sig AS (SELECT doc_id, list(bval ORDER BY band) AS sig FROM bands GROUP BY doc_id)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(list_aggregate(list_transform(list_zip(a.sig, b.sig),
            p -> bit_count(xor(p[1], p[2]))), 'sum') AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE CAST(list_aggregate(list_transform(list_zip(a.sig, b.sig),
      p -> bit_count(xor(p[1], p[2]))), 'sum') AS INT) <= 3
""",
)
def q_dedup_simhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-band SimHash near-dup: the same 64-bit per-token-md5-voting
    signature split into 4 SIXTEEN-bit bands, pairs within Hamming
    distance 3 via single-band probing — the tight-radius shape of the
    Manku/Charikar index (3 flips corrupt at most 3 of 4 bands, so one
    band is always intact: exact recall by pigeonhole).

    This is the selectivity end of the band-width knob: one 16-bit key
    per band (65536 distinct values) and only 4 probe rows per doc.
    q_dedup_simhash covers the larger radius (6) by probing band PAIRS
    of the 8x8-bit split — same 16-bit effective key, 28 probes.
    """
    return simhash_pairs(spark, sf_dir, n_bands=4, radius=3)


def _cosine_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ exact copy (vec_id + 100000), with norm.

    Fanned out to full width (guarded, see _fan_out) before the
    norm/bucket projections — the downstream hyperplane HOFs (16 planes
    x 64 dims, interpreted) would otherwise run at the parquet file's
    partition count.
    """
    emb = T(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("cast(embedding as array<double>)").alias("e")
    )
    corpus = emb.unionByName(emb.select((F.col("vec_id") + 100000).alias("vec_id"), "e"))
    return _fan_out(corpus, spark, sf_dir, table="embeddings").select(
        "vec_id", "e", F.sqrt(F.expr("aggregate(e, 0D, (acc, x) -> acc + x * x)")).alias("nrm")
    )


_COSINE_PAIR = (
    "round(aggregate(zip_with(e_a, e_b, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    " / (nrm_a * nrm_b), 6)"
)


def _cosine_allpairs(normed: DataFrame) -> DataFrame:
    """All-pairs cosine verifier — NOT registered standalone (O(n^2)
    nested-loop join); ground-truth helper for
    tests/test_dedup_banding.py against the LSH-gated plan.
    """
    a = normed.select(
        F.col("vec_id").alias("id_a"), F.col("e").alias("e_a"), F.col("nrm").alias("nrm_a")
    )
    b = normed.select(
        F.col("vec_id").alias("id_b"), F.col("e").alias("e_b"), F.col("nrm").alias("nrm_b")
    )
    cos = F.expr(_COSINE_PAIR)
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .where(cos >= 0.99)
        .select("id_a", "id_b", cos.alias("cos"))
    )


@register(
    "q_dedup_embedding_cosine",
    oracle="""
WITH corpus AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, list_transform(embedding, x -> x::DOUBLE) FROM embeddings
),
normed AS (
  SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM corpus
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) AS cos
FROM normed a JOIN normed b ON a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) >= 0.99
""",
)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: pairs with cosine >= 0.99, candidates
    gated on random-hyperplane LSH buckets (similarity.bucket_expr) with
    ONE-PLANE MULTIPROBE, exact cosine computed on candidates only.

    Two independent TEN-plane tables (planes 0-9 and 10-19 of the shared
    deterministic seeded plane table); within each table the left side probes
    its own bucket PLUS all 10 one-bit-flipped buckets (the
    q_ann_multiprobe_topk lever), so a pair is a candidate if its two
    home buckets are within Hamming distance 1 in EITHER table — a
    STRUCTURAL guarantee, not a data-dependent one: a qualifying pair
    is missed only if >= 2 of 10 planes separate it in BOTH tables.
    cos >= 0.99 means angle theta <= arccos(0.99) = 0.1415 rad and a
    plane separates the pair with p = theta/pi <= 0.045, so the
    per-table miss is <= C(10,2) p^2 ~ 9.1% and the two-table miss
    <= 8.3e-3 for the WORST in-threshold pair (pairs nearer than the
    threshold miss quadratically less; the un-probed two-table 8-plane
    gate this replaces had a ~10% worst-case miss).  Bit-identical
    vectors (every planted duplicate, and every >= 0.99 pair in the
    test corpora — verified in tests/test_dedup_banding.py) collide
    deterministically, so the oracle (exact all-pairs semantics, run
    only in DuckDB at toy scale) matches bit-for-bit.

    100 TB notes: 10 planes/table keeps the candidate stream at
    ~(1 + 10)/2^10 ~ 1.1% of all pairs per table (measured 3.3x fewer
    candidates than 8 planes at sf0.1 for the same probe radius); as n
    grows you add planes per table (keeping probe radius 1) to hold
    bucket sizes — the plan stays equi-joins on the bucket string, no
    nested-loop join anywhere.  The seeded plane family holds 24 planes
    (two disjoint tables of up to 12); requests past it raise (see
    similarity._check_plane_range) — widen the seeded table first when
    a corpus needs deeper buckets.
    """
    return cosine_gated_pairs(_cosine_corpus(spark, sf_dir))


def cosine_gated_pairs(normed: DataFrame, n_planes: int = 10) -> DataFrame:
    """The multiprobed two-table LSH gate + exact verify over any
    (vec_id, e, nrm) frame — q_dedup_embedding_cosine's engine, exposed
    so tests can drive it over adversarial corpora (perturbed near-dups
    that are NOT bit-identical: tests/test_dedup_banding.py)."""
    from sayn_spark.functions.similarity import bucket_int_expr

    # integer buckets (r14): the gate only JOINS on the bucket, so the
    # packed-int twin of the sign-bit bucket replaces the 10-char
    # string — int join keys, and the multiprobe flip explode becomes
    # 11 xors instead of 11 substring rebuilds; bijective, so the
    # candidate set (and the verified output) is unchanged
    normed = persist_tracked(
        normed.withColumn("b0", F.expr(bucket_int_expr(0, n_planes))).withColumn(
            "b1", F.expr(bucket_int_expr(n_planes, n_planes))
        )
    )
    ids = normed.select("vec_id", "b0", "b1")

    def table_pairs(col: str) -> DataFrame:
        # left side probes home + n one-bit-flipped buckets; right side
        # sits in its home bucket only — (a, b) collides iff
        # hamming(home_a, home_b) <= 1, symmetric even though only one
        # side probes
        flips = f"transform(sequence(0, {n_planes - 1}), i -> {col} ^ shiftleft(1, i))"
        a = ids.select(
            F.col("vec_id").alias("id_a"),
            F.explode(F.expr(f"array_prepend({flips}, {col})")).alias("bk"),
        )
        b = ids.select(F.col("vec_id").alias("id_b"), F.col(col).alias("bk"))
        return a.join(b, "bk").where(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")

    cand = table_pairs("b0").unionByName(table_pairs("b1")).distinct()
    pairs = (
        cand.join(
            normed.select(
                F.col("vec_id").alias("id_a"),
                F.col("e").alias("e_a"),
                F.col("nrm").alias("nrm_a"),
            ),
            "id_a",
        )
        .join(
            normed.select(
                F.col("vec_id").alias("id_b"),
                F.col("e").alias("e_b"),
                F.col("nrm").alias("nrm_b"),
            ),
            "id_b",
        )
    )
    cos = F.expr(_COSINE_PAIR)
    return pairs.where(cos >= 0.99).select("id_a", "id_b", cos.alias("cos"))


@register(
    "q_dedup_normalized",
    oracle="""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 100000, '  ' || UPPER(text) || ' !!' FROM documents
),
norm AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
              ' +', ' ', 'g')) AS ntext
  FROM corpus
)
SELECT md5(ntext) AS norm_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM norm GROUP BY md5(ntext)
""",
)
def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization dedup ("fuzzy-exact"): lowercase, strip punctuation,
    collapse whitespace, then hash-groupBy — catches near-copies that
    differ only in casing/punctuation/spacing, which exact dedup misses.

    The planted copies ('  ' + UPPER(text) + ' !!') normalise back to
    the original text, so every group must have n_copies >= 2.

    Same scale shape as q_dedup_exact (one shuffle on a 16-byte md5 of
    the *normalised* text); the normalisation itself is JVM-side regex,
    fully codegen'd, no Python.  Reference has no dedup operators — this
    is pipeline scope beyond SURVEY §2.
    """
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.unionByName(
        d.select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.lit("  "), F.upper("text"), F.lit(" !!")).alias("text"),
        )
    )
    ntext = F.trim(
        F.regexp_replace(F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""), " +", " ")
    )
    return (
        corpus.select("doc_id", ntext.alias("ntext"))
        .groupBy(F.md5("ntext").alias("norm_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@register(
    "q_dedup_incremental_corpus",
    oracle="""
WITH old_corpus AS (
  SELECT doc_id, source, md5(lower(trim(text))) AS fp
  FROM documents WHERE doc_id % 10 < 8
),
batch AS (
  SELECT doc_id, source, md5(lower(trim(text))) AS fp
  FROM documents WHERE doc_id % 10 >= 8
  UNION ALL
  SELECT doc_id + 200000, source, md5(lower(trim(text)))
  FROM documents WHERE doc_id % 10 < 8 AND doc_id % 37 = 0
),
old_fps AS (SELECT DISTINCT fp FROM old_corpus),
marked AS (
  SELECT b.doc_id, b.source, b.fp,
         CASE WHEN o.fp IS NOT NULL THEN 1 ELSE 0 END AS dup_corpus,
         ROW_NUMBER() OVER (PARTITION BY b.fp ORDER BY b.doc_id) AS rk
  FROM batch b LEFT JOIN old_fps o ON o.fp = b.fp
)
SELECT source,
       COUNT(*) AS n_batch,
       CAST(SUM(dup_corpus) AS BIGINT) AS n_dup_corpus,
       CAST(SUM(CASE WHEN dup_corpus = 0 AND rk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_within,
       CAST(SUM(CASE WHEN dup_corpus = 0 AND rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM marked GROUP BY source
""",
)
def q_dedup_incremental_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup: dedupe a NEW ingestion batch against an
    EXISTING corpus by content fingerprint, plus within-batch dedup —
    the shape every recurring training-data ingest runs (yesterday's
    corpus is already deduped; only the delta is checked).

    Old corpus = doc_id%10 < 8; batch = the remaining docs plus planted
    re-crawls of old docs (doc_id%37==0, re-keyed +200000) that must be
    caught as corpus duplicates.  Per source: batch size, dropped-vs-
    corpus, dropped-within-batch, kept.

    Scale: the corpus side is projected to DISTINCT 16-byte md5
    fingerprints before the join — at 100 TB that is the only state the
    dedup needs (a fingerprint store), not the corpus text; the join
    shuffles fingerprints, never documents, and the within-batch
    row_number windows over the (small) delta only.  Reference has no
    dedup operators — pipeline scope beyond SURVEY §2.
    """
    d = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    old = d.where(F.col("doc_id") % 10 < 8)
    old_fps = old.select(fp.alias("fp")).distinct()
    batch = (
        d.where(F.col("doc_id") % 10 >= 8)
        .select("doc_id", "source", fp.alias("fp"))
        .unionByName(
            old.where(F.col("doc_id") % 37 == 0).select(
                (F.col("doc_id") + 200000).alias("doc_id"), "source", fp.alias("fp")
            )
        )
    )
    marked = batch.join(
        old_fps.withColumn("dup_corpus", F.lit(1)), "fp", "left"
    ).withColumn(
        "dup_corpus", F.coalesce("dup_corpus", F.lit(0))
    ).withColumn(
        "rk", F.row_number().over(Window.partitionBy("fp").orderBy("doc_id"))
    )
    return marked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_batch"),
        F.sum("dup_corpus").alias("n_dup_corpus"),
        F.sum(((F.col("dup_corpus") == 0) & (F.col("rk") > 1)).cast("long")).alias(
            "n_dup_within"
        ),
        F.sum(((F.col("dup_corpus") == 0) & (F.col("rk") == 1)).cast("long")).alias(
            "n_kept"
        ),
    )


@register(
    "q_dedup_prefix_filter",
    oracle=f"""
WITH {_SQL_CORPUS_NEAR},
shingled AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM corpus),
sizes AS (SELECT doc_id, len(sh) AS n FROM shingled),
exploded AS (SELECT doc_id, unnest(sh) AS s FROM shingled),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
  FROM exploded a JOIN exploded b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       ROUND(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.8
""",
)
def q_dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered set-similarity self-join (PPJoin family): exact
    Jaccard >= 0.8 pairs — same output and oracle as
    q_dedup_ngram_jaccard — but the inverted index holds only each
    document's |x| - ceil(0.8|x|) + 1 RAREST shingles (canonical order:
    ascending document frequency, then shingle).  If two sets have
    Jaccard >= t their rare-token prefixes must share a token, so the
    candidate join sees ~a fifth of the postings at t=0.8, and the
    stopword-shingle skew of the full index disappears by construction
    (hot shingles are, by definition, never in a rare-first prefix).
    Candidates are verified with the exact intersection, so the filter
    only has to be a no-false-negative superset.

    ceil(0.8 n) is computed as (4n+4) div 5 in integer arithmetic —
    float ceil(0.8*n) rounds the wrong way at multiples of 5.
    """
    from pyspark.sql import Window

    corpus = _fan_out(_doc_corpus(spark, sf_dir, mutate=" zz qq"), spark, sf_dir)
    shingled = _staged_shingles(corpus, persist=True).where(F.size("sh") > 0)
    sizes = shingled.select("doc_id", F.size("sh").alias("n"))
    exploded = shingled.select("doc_id", F.explode("sh").alias("s"))
    freq = exploded.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    ranked = exploded.join(freq, "s").withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "s")),
    )
    prefix = (
        ranked.join(sizes, "doc_id")
        .where(F.col("rn") <= F.expr("n - ((4 * n + 4) div 5) + 1"))
        .select("doc_id", "s")
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    cand = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    common = F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh")))
    jacc = common.cast("double") / (F.size(F.col("sa.sh")) + F.size(F.col("sb.sh")) - common)
    return (
        cand.join(shingled.alias("sa"), F.col("id_a") == F.col("sa.doc_id"))
        .join(shingled.alias("sb"), F.col("id_b") == F.col("sb.doc_id"))
        .where(jacc >= 0.8)
        .select("id_a", "id_b", F.round(jacc, 6).alias("jaccard"))
    )


_ED_BLOCK = 24  # blocking-key length (chars)
_ED_MAX = 8     # edit-distance threshold
# Candidacy length cap (hazard review r14 second pass, measured):
# Spark's threshold levenshtein(a, b, k) abandons fast only when the
# distance EXCEEDS k — when the pair IS near-identical (the very case
# a dedup hunts) it runs the full O(len^2) DP: measured 2s at 20 KB,
# 37s at 100 KB, ~15 min at 500 KB, PER PAIR, pegging one executor
# thread with no progress signal.  One long-doc cluster would freeze
# the stage at corpus scale, so docs longer than this are never
# editdistance candidates (the same never-a-candidate policy as
# NULL/empty docs).  Character-level edit distance is a short-text
# metric; route long documents to minhash/simhash/passages instead.
_ED_MAX_COMPARE = 10_000

# editdistance corpus: the suffix twin (+offset) is the pair prefix
# blocking catches; the prefix twin (+2*offset, edit distance 3 INSIDE
# the first block_chars characters) is the pair prefix blocking
# structurally misses — planted so both the production operator's
# suffix-key arm and the recall instrument's cross-block counter have
# something real to measure (VERDICT r9: a corpus whose only mutations
# preserve the blocking prefix cannot produce a nonzero miss count).
# offset = greatest(100000, max(doc_id)+1): collision-free at any
# scale factor, and exactly 100000 (ids unchanged) below 100k docs.
_SQL_CORPUS_ED = """
ed_off AS (
  SELECT greatest(100000, CAST(max(doc_id) + 1 AS BIGINT)) AS o FROM documents
),
corpus AS (
  SELECT doc_id, doc_id AS base_id, text FROM documents
  UNION ALL
  SELECT doc_id + o, doc_id, text || ' zz qq' FROM documents, ed_off
  UNION ALL
  SELECT doc_id + 2 * o, doc_id, 'zq ' || text FROM documents, ed_off
)"""


def _ed_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ suffix-mutated copy (+offset) ∪ prefix-mutated copy
    (+2*offset) — the editdistance family's adversarial corpus
    (_SQL_CORPUS_ED's Spark twin), with the donor id carried explicitly
    as ``base_id`` so samplers key on it rather than re-deriving it
    with modular arithmetic.  The offset is greatest(100000,
    max(doc_id)+1): collision-free at ANY scale factor (a fixed
    +100000 would alias mutated ids onto real documents once the base
    table exceeds 100k rows, silently corrupting the instrument's
    published miss counts) while staying literally 100000 — and the
    emitted ids byte-identical — on every corpus below that size.
    The 1-row offset aggregate broadcasts; nothing reshuffles."""
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    off = d.agg(
        F.greatest(
            F.lit(100000).cast("long"), (F.max("doc_id") + 1).cast("long")
        ).alias("o")
    )
    base = d.select("doc_id", F.col("doc_id").alias("base_id"), "text")
    suffix = d.crossJoin(F.broadcast(off)).select(
        (F.col("doc_id") + F.col("o")).alias("doc_id"),
        F.col("doc_id").alias("base_id"),
        F.concat("text", F.lit(" zz qq")).alias("text"),
    )
    prefix = d.crossJoin(F.broadcast(off)).select(
        (F.col("doc_id") + 2 * F.col("o")).alias("doc_id"),
        F.col("doc_id").alias("base_id"),
        F.concat(F.lit("zq "), "text").alias("text"),
    )
    return base.unionByName(suffix).unionByName(prefix)


@register(
    "q_dedup_editdistance",
    oracle=f"""
WITH {_SQL_CORPUS_ED}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       levenshtein(a.text, b.text) AS edit_dist
FROM corpus a
JOIN corpus b
  ON substr(a.text, 1, {_ED_BLOCK}) = substr(b.text, 1, {_ED_BLOCK})
 AND a.doc_id < b.doc_id
WHERE levenshtein(a.text, b.text) <= {_ED_MAX}
  AND regexp_matches(a.text, '\\S') AND regexp_matches(b.text, '\\S')
UNION ALL
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       levenshtein(a.text, b.text) AS edit_dist
FROM corpus a
JOIN corpus b
  ON right(a.text, {_ED_BLOCK}) = right(b.text, {_ED_BLOCK})
 AND substr(a.text, 1, {_ED_BLOCK}) <> substr(b.text, 1, {_ED_BLOCK})
 AND a.doc_id < b.doc_id
WHERE levenshtein(a.text, b.text) <= {_ED_MAX}
  AND regexp_matches(a.text, '\\S') AND regexp_matches(b.text, '\\S')
""",
)
def q_dedup_editdistance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs under DUAL-KEY blocking: candidates
    share their first OR last {_ED_BLOCK} characters (two short block
    keys exploded into one equi-join), then Levenshtein <= {_ED_MAX}
    verifies — the O(len^2) distance runs only inside blocks, never
    across the full corpus.  The suffix key exists because a single
    prefix key has one documented structural miss: an edit inside the
    first {_ED_BLOCK} characters moves a document out of its block (the
    corpus plants exactly such prefix-mutated twins, distance 3, which
    the suffix arm recovers — q_dedup_editdistance_recall publishes the
    measured miss count of each key set).  Candidate cost is ~2x the
    single-key plan; each surviving pair is still verified exactly once
    (suffix-key matches are kept only when the prefix key would NOT
    have caught the pair — a map-side filter, no distinct needed).

    At 100 TB further key projections (length band, mid-block) union in
    the same way, and oversized blocks are capped or salted — the
    verify stays proportional to candidate count either way.  Both
    engines implement classic Levenshtein, so the distance itself is
    part of the checked contract.
    """
    # bounded Levenshtein inside editdistance_dup_pairs: with the
    # threshold argument Spark runs the banded O(k*len) algorithm and
    # bails at k+1 instead of filling the O(len^2) DP table per pair —
    # returns the exact distance when <= k and -1 otherwise, so the
    # filter is equivalent (measured ~3x on the blocked candidates)
    return editdistance_dup_pairs(_fan_out(_ed_corpus(spark, sf_dir), spark, sf_dir))


@register(
    "q_dedup_editdistance_recall",
    oracle=f"""
WITH {_SQL_CORPUS_ED},
sample AS (
  SELECT doc_id, text FROM corpus WHERE base_id % 5 = 0
),
sized AS (
  SELECT doc_id, text, length(text) AS n, length(text) // {_ED_MAX} AS b
  FROM sample
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         (substr(a.text, 1, {_ED_BLOCK}) = substr(b.text, 1, {_ED_BLOCK}))
           AS same_block,
         (substr(a.text, 1, {_ED_BLOCK}) = substr(b.text, 1, {_ED_BLOCK})
          OR right(a.text, {_ED_BLOCK}) = right(b.text, {_ED_BLOCK}))
           AS dual_block
  FROM sized a
  JOIN sized b
    ON a.doc_id < b.doc_id
   AND b.b BETWEEN a.b - 1 AND a.b + 1
   AND abs(a.n - b.n) <= {_ED_MAX}
  WHERE levenshtein(a.text, b.text) <= {_ED_MAX}
)
SELECT CAST((SELECT COUNT(*) FROM sized) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
       CAST(SUM(CASE WHEN same_block THEN 1 ELSE 0 END) AS BIGINT)
         AS n_blocked_true,
       CAST((SUM(CASE WHEN same_block THEN 1 ELSE 0 END) * 1000000)
            // greatest(COUNT(*), 1) AS BIGINT) AS recall_ppm,
       CAST(SUM(CASE WHEN same_block THEN 0 ELSE 1 END) AS BIGINT)
         AS n_missed_cross_block,
       CAST(SUM(CASE WHEN dual_block THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dual_true,
       CAST((SUM(CASE WHEN dual_block THEN 1 ELSE 0 END) * 1000000)
            // greatest(COUNT(*), 1) AS BIGINT) AS recall_dual_ppm,
       CAST(SUM(CASE WHEN dual_block THEN 0 ELSE 1 END) AS BIGINT)
         AS n_missed_dual
FROM pairs
""",
)
def q_dedup_editdistance_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-measured recall report for editdistance blocking on a
    deterministic 20% sample of the ADVERSARIAL corpus (base-id % 5, so
    mutated copies stay with their donors; the corpus plants BOTH
    suffix-mutated twins, which prefix blocking catches, and
    prefix-mutated twins, which it structurally cannot): TRUE pairs at
    Levenshtein <= {_ED_MAX} are found exhaustively within a
    length-window join (|len difference| <= {_ED_MAX} is NECESSARY for
    distance <= {_ED_MAX}, so bucketing lengths by {_ED_MAX} and
    probing the 3 neighboring buckets loses nothing), then split two
    ways: recall_ppm / n_missed_cross_block measure the SINGLE prefix
    key (the r9 shape — now structurally capable of a nonzero miss, and
    nonzero on this corpus), and recall_dual_ppm / n_missed_dual
    measure the prefix ∪ suffix key set q_dedup_editdistance actually
    ships, which recovers the planted prefix edits.  The
    q_dedup_containment_recall discipline applied to blocking: the
    instrument must be able to see the documented trade, not just
    certify a friendly corpus.  All verdicts are integer comparisons on
    lengths and counts — no FP boundary anywhere.

    Scale shape: the sample filter is map-side and first; the
    length-window truth join is the all-pairs-grade instrument cost
    (4% of the pair space, bucketed so only near-length pairs meet)
    and exists only to certify the production operator — it is never
    the dedup path itself.  The bucket probe is a 3-row explode into
    an equi-join (no range/nested-loop join), and Spark's BOUNDED
    levenshtein(a, b, {_ED_MAX}) runs the banded O(k*len) algorithm
    per candidate.
    """
    corpus = _fan_out(
        _ed_corpus(spark, sf_dir)
        .where(F.col("base_id") % 5 == 0)
        .drop("base_id"),
        spark,
        sf_dir,
    )
    sized = corpus.select(
        "doc_id",
        "text",
        F.length("text").alias("n"),
        F.floor(F.length("text") / _ED_MAX).cast("bigint").alias("b"),
    )
    a = sized.select(
        F.col("doc_id").alias("id_a"),
        F.col("text").alias("ta"),
        F.col("n").alias("na"),
        F.explode(
            F.expr("array(b - 1, b, b + 1)")
        ).alias("pb"),
    )
    bb = sized.select(
        F.col("doc_id").alias("id_b"),
        F.col("text").alias("tb"),
        F.col("n").alias("nb"),
        F.col("b").alias("pb"),
    )
    dist = F.expr(f"levenshtein(ta, tb, {_ED_MAX})")
    same_prefix = F.substring("ta", 1, _ED_BLOCK) == F.substring("tb", 1, _ED_BLOCK)
    same_suffix = F.expr(f"right(ta, {_ED_BLOCK}) = right(tb, {_ED_BLOCK})")
    pairs = (
        a.join(bb.hint("shuffle_hash"), "pb")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("na") - F.col("nb")) <= _ED_MAX)
        )
        .where(dist >= 0)
        .select(
            "id_a",
            "id_b",
            same_prefix.alias("same_block"),
            (same_prefix | same_suffix).alias("dual_block"),
        )
    )
    n_docs = sized.agg(F.count(F.lit(1)).alias("n_docs"))
    stats = pairs.agg(
        F.count(F.lit(1)).alias("n_true_pairs"),
        F.coalesce(F.sum(F.col("same_block").cast("long")), F.lit(0)).alias(
            "n_blocked_true"
        ),
        F.coalesce(F.sum(F.col("dual_block").cast("long")), F.lit(0)).alias(
            "n_dual_true"
        ),
    )
    return n_docs.crossJoin(stats).select(
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_true_pairs").cast("bigint").alias("n_true_pairs"),
        F.col("n_blocked_true").cast("bigint").alias("n_blocked_true"),
        F.expr(
            "cast((n_blocked_true * 1000000) div greatest(n_true_pairs, 1) as bigint)"
        ).alias("recall_ppm"),
        F.expr("cast(n_true_pairs - n_blocked_true as bigint)").alias(
            "n_missed_cross_block"
        ),
        F.col("n_dual_true").cast("bigint").alias("n_dual_true"),
        F.expr(
            "cast((n_dual_true * 1000000) div greatest(n_true_pairs, 1) as bigint)"
        ).alias("recall_dual_ppm"),
        F.expr("cast(n_true_pairs - n_dual_true as bigint)").alias("n_missed_dual"),
    )


def _ed_blocked(
    df: DataFrame,
    block_chars: int,
    keys: tuple,
    max_compare_chars: int = _ED_MAX_COMPARE,
) -> DataFrame:
    """(doc_id, text, blk) with one kind-tagged block key row per
    requested key.  Kind tags keep the two key spaces disjoint
    ('p:...' can never equal 's:...'), so one explode + one equi-join
    covers both arms; fan-out is 2 rows/doc — low enough that the
    planner's post-explode size estimate stays sane (the r6
    high-fan-out broadcast lesson does not apply).  NULL and
    empty/whitespace-only texts fold to NULL keys, which never
    equi-join — degenerate docs are never near-dup candidates, the
    same policy as minhash/simhash zero-token docs and the incremental
    ingest.  Without the guard every empty doc would share one
    degenerate block key and candidate the others quadratically
    (O(n_empty^2) Levenshtein-0 pairs)."""
    key_exprs = []
    # rlike '\S' = contains any non-whitespace char — Spark's trim()
    # strips only ASCII spaces, so a trim-based guard would let tab/
    # newline-only docs share a degenerate key (same predicate as the
    # incremental ingest's stateless-routing filter).  The guard runs
    # ONCE per row (a guarded-text projection the key arms consume, not
    # a per-arm predicate): concat is null-in-null-out in Spark, so a
    # NULL guarded text folds every key to NULL with no second regex.
    # CollapseProject keeps the non-cheap rlike un-inlined when it is
    # referenced by both arms, so the single evaluation survives into
    # the physical plan (r12 A/B fold of the r11 per-arm guard).
    if "prefix" in keys:
        key_exprs.append(f"concat('p:', substring(_gt, 1, {block_chars}))")
    if "suffix" in keys:
        key_exprs.append(f"concat('s:', right(_gt, {block_chars}))")
    # length(text) <= cap joins the \S guard: over-cap docs fold to
    # NULL keys and are never candidates — see _ED_MAX_COMPARE for the
    # measured O(len^2) freeze this prevents
    return df.select(
        "doc_id",
        "text",
        F.expr(
            "case when text rlike '\\\\S' "
            f"and length(text) <= {int(max_compare_chars)} then text end"
        ).alias("_gt"),
    ).select(
        "doc_id",
        "text",
        F.explode(F.array(*[F.expr(e) for e in key_exprs])).alias("blk"),
    )


def editdistance_dup_pairs(
    corpus: DataFrame,
    max_edit: int = _ED_MAX,
    block_chars: int = _ED_BLOCK,
    block_keys: tuple = ("prefix", "suffix"),
    max_compare_chars: int = _ED_MAX_COMPARE,
) -> DataFrame:
    """``q_dedup_editdistance`` over an arbitrary (doc_id, text) corpus
    — the library entry point behind the dedup task's
    ``method: editdistance``.  Same plan as the registered query:
    DUAL-KEY blocking (first and last ``block_chars`` characters,
    kind-tagged and exploded into ONE equi-join on a short key), then
    bounded Levenshtein <= ``max_edit`` on in-block candidates only
    (Spark's banded O(k*len) algorithm via the threshold argument).

    The suffix key recovers the single prefix key's documented
    structural miss — an edit inside the first ``block_chars``
    characters moves a document out of its prefix block
    (q_dedup_editdistance_recall publishes the measured miss count of
    each key set).  Each pair is verified exactly once: a suffix-key
    match survives only when the pair's prefixes DIFFER (a map-side
    filter on columns the join already carries — no distinct, no
    second shuffle).  ``block_keys=("prefix",)`` restores the
    single-key plan for corpora known to mutate only past the prefix.

    NULL and empty/whitespace-only texts are never candidates (NULL
    block keys — see _ed_blocked): the same degenerate-doc policy as
    minhash/simhash zero-token docs and the incremental ingest, so
    full and incremental modes of ``method: editdistance`` agree.
    Exact-duplicate empty docs belong to ``method: exact``.  Docs
    longer than ``max_compare_chars`` are never candidates either:
    Spark's threshold Levenshtein degenerates to the full O(len^2) DP
    exactly when the pair IS near-identical (measured: 37s at 100 KB,
    ~15 min at 500 KB, per pair) — see _ED_MAX_COMPARE.  The join also
    carries ``abs(length diff) <= max_edit`` as a cheap condition (the
    distance can never be under the length difference), pruning most
    non-candidates before the DP runs at all.
    """
    if max_edit < 1:
        raise ValueError("editdistance_dup_pairs: max_edit must be >= 1")
    if block_chars < 1:
        raise ValueError("editdistance_dup_pairs: block_chars must be >= 1")
    if max_compare_chars < 1:
        raise ValueError("editdistance_dup_pairs: max_compare_chars must be >= 1")
    keys = tuple(block_keys)
    if not keys or len(set(keys)) != len(keys) or any(
        k not in ("prefix", "suffix") for k in keys
    ):
        raise ValueError(
            "editdistance_dup_pairs: block_keys must be a non-repeating "
            f"subset of ('prefix', 'suffix'), got {block_keys!r}"
        )
    bc = int(block_chars)
    blocked = _ed_blocked(corpus, bc, keys, int(max_compare_chars))
    a = blocked.alias("a")
    b = blocked.alias("b")
    dist = F.expr(f"levenshtein(a.text, b.text, {int(max_edit)})")
    joined = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (
            F.abs(F.length(F.col("a.text")) - F.length(F.col("b.text")))
            <= int(max_edit)
        ),
    )
    if "prefix" in keys and "suffix" in keys:
        # emit each pair once: the suffix arm only reports pairs the
        # prefix arm cannot see (kinds agree across the equi-join, so
        # testing a.blk suffices)
        joined = joined.where(
            F.col("a.blk").startswith("p:")
            | (
                F.substring(F.col("a.text"), 1, bc)
                != F.substring(F.col("b.text"), 1, bc)
            )
        )
    return joined.where(dist >= 0).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        dist.alias("edit_dist"),
    )


# applyInPandas materialises one whole cell in one executor; a skewed
# quantizer cell would OOM there with no signal.  The guard counts
# cell sizes (one cheap agg) BEFORE the pairwise stage and fails fast
# with the SemDeDup remedy — more centroids = smaller cells.  (The
# exact memory-bounded alternative — block-pair decomposition of the
# oversized cell's Gram matrix — costs an nblocks-fold row duplication;
# at 128-dim/8-byte doubles the default cap is ~100 MB per cell, far
# below executor memory, so failing fast with the knob named is the
# right default.)
_SEM_CELL_CAP = 100_000


def _check_semantic_cell_cap(cells: DataFrame, cap: int | None = None) -> None:
    """Raise when any quantizer cell exceeds ``cap`` vectors
    (default: the module-level _SEM_CELL_CAP, read at call time)."""
    if cap is None:
        cap = _SEM_CELL_CAP
    row = (
        cells.groupBy("cell")
        .count()
        .agg(
            F.max("count").alias("mx"),
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("count").alias("n_vecs"),
        )
        .collect()[0]
    )
    if row["mx"] is not None and row["mx"] > cap:
        suggested = int(row["n_vecs"] // max(cap // 4, 1)) + 1
        raise ValueError(
            f"semantic dedup: largest quantizer cell holds {row['mx']} vectors "
            f"(cap {cap}) — the in-cell Gram matrix would not fit one executor. "
            f"Raise the centroid count (currently {row['n_cells']} non-empty "
            f"cells over {row['n_vecs']} vectors; ~{suggested} centroids would "
            f"bound cells near cap/4) or raise the cap if executors have room."
        )


def _semantic_cos_hits(pdf: pd.DataFrame, thr: float):
    """(sorted ids, upper-triangle hit matrix) for one cell: full
    cosine matrix in one BLAS call; the comparison replays the
    oracle's ROUND(cos, 6) >= thr decision."""
    ids = pdf["vec_id"].to_numpy()
    order = np.argsort(ids)
    ids = ids[order]
    E = np.stack(pdf["e"].to_numpy()[order])
    nrm = np.sqrt((E * E).sum(axis=1))
    # a zero-norm vector (the embed task's empty-document contract) has
    # undefined cosine: inf norm makes its row/column 0 — below every
    # threshold, no 0/0 NaN warnings in the Arrow worker (review r13)
    nrm = np.where(nrm == 0.0, np.inf, nrm)
    cos = np.round((E @ E.T) / np.outer(nrm, nrm), 6)
    hit = (cos >= thr) & np.tri(len(ids), k=-1, dtype=bool).T
    return ids, hit


def _semantic_dropped_per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
    """One cell's duplicate targets: vec_ids with a cos >= 0.99
    neighbor of smaller id (the published SemDeDup per-pair rule)."""
    ids, hit = _semantic_cos_hits(pdf, 0.99)
    return pd.DataFrame({"vec_id": ids[hit.any(axis=0)]})


def _semantic_dropped_fn(thr: float):
    """_semantic_dropped_per_cell at an arbitrary threshold (the dedup
    task's ``min_cosine`` knob)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, hit = _semantic_cos_hits(pdf, thr)
        return pd.DataFrame({"vec_id": ids[hit.any(axis=0)]})

    return fn


def _semantic_pairs_fn(thr: float):
    """Per-cell qualifying PAIRS (id_a < id_b) instead of drop targets
    — the edge stream the dedup task's keep=best/soft paths feed into
    connected components (cluster-relative keeps need edges, not the
    per-pair drop verdicts)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, hit = _semantic_cos_hits(pdf, thr)
        ai, bi = np.nonzero(hit)
        return pd.DataFrame({"id_a": ids[ai], "id_b": ids[bi]})

    return fn


def semantic_cells(
    vectors: DataFrame, cent: DataFrame, cell_cap: int | None = None
) -> DataFrame:
    """PERSISTED (vec_id, cell) nearest-centroid assignment of a
    (vec_id, e) frame against a broadcast (c_label, ce) centroid frame
    — the SemDeDup coarse-quantizer stage shared by q_dedup_semantic
    and the dedup task's ``method: semantic``.  min(struct(d2, label))
    picks the nearest centroid with the (distance, label) tie-break —
    no per-vector window.  The cell-cap guard fails fast BEFORE any
    pairwise work when a cell would not fit one executor.  Callers
    needing the vectors alongside the cell join ``e`` back on
    (the slim persisted frame serves counting/anti-join paths without
    re-reading embeddings)."""
    d2 = F.round(
        F.expr(
            "aggregate(zip_with(e, ce, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"
        ),
        8,
    )
    cells = persist_tracked(
        vectors.crossJoin(F.broadcast(cent))
        .select("vec_id", F.struct(d2.alias("d2"), F.col("c_label").alias("cl")).alias("dc"))
        .groupBy("vec_id")
        .agg(F.min("dc").alias("m"))
        .select("vec_id", F.col("m.cl").alias("cell"))
    )
    _check_semantic_cell_cap(cells, cap=cell_cap)
    return cells


@register(
    "q_dedup_semantic",
    oracle="""
WITH emb AS (
  SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings
),
corpus AS (
  SELECT vec_id, e FROM emb
  UNION ALL SELECT vec_id + 100000, e FROM emb
),
normed AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM corpus),
comp AS (
  SELECT label, i, e[i] AS x FROM emb, (SELECT unnest(generate_series(1, 64)) AS i)
),
cent AS (
  SELECT label, i,
         ROUND(CAST(SUM(CAST(x AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*), 8) AS c
  FROM comp GROUP BY label, i
),
cent_arr AS (
  SELECT label AS c_label, list(c ORDER BY i) AS ce FROM cent GROUP BY label
),
assigned AS (
  SELECT vec_id, c_label, ROW_NUMBER() OVER (
           PARTITION BY vec_id
           ORDER BY ROUND(list_aggregate(list_transform(list_zip(n.e, c.ce),
                          p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'), 8), c_label) AS rk
  FROM normed n, cent_arr c
),
cells AS (SELECT vec_id, c_label AS cell FROM assigned WHERE rk = 1),
pairs AS (
  SELECT ca.vec_id AS id_a, cb.vec_id AS id_b
  FROM cells ca
  JOIN cells cb ON cb.cell = ca.cell AND ca.vec_id < cb.vec_id
  JOIN normed a ON a.vec_id = ca.vec_id
  JOIN normed b ON b.vec_id = cb.vec_id
  WHERE ROUND(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) >= 0.99
),
dropped AS (SELECT DISTINCT id_b FROM pairs)
SELECT cell,
       COUNT(*) AS n_vectors,
       CAST(SUM(CASE WHEN d.id_b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(SUM(CASE WHEN d.id_b IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM cells LEFT JOIN dropped d ON d.id_b = cells.vec_id
GROUP BY cell
""",
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023):
    cluster embeddings with a coarse quantizer, then find cos >= 0.99
    pairs ONLY WITHIN each cluster and drop every vector that has a
    qualifying neighbor with a smaller id — per-cluster kept/dropped
    counts.

    The clustering here is the deterministic label-centroid quantizer
    (same as q_ivf_search) so the oracle can replay it exactly; real
    deployments swap in trained k-means without changing the plan.
    Bit-identical planted copies land in their original's cell, so
    every copy is dropped by construction.

    100 TB notes: this is the published SemDeDup scaling argument
    realised as a Spark plan — pairwise cosine runs per-cell (an
    equi-join on the cell key), never across the corpus; centroids
    broadcast; the drop rule is a within-cell anti-join shape (DISTINCT
    dup targets, LEFT JOIN), so nothing quadratic leaves a cell.  Cell
    sizes are the knob: more centroids = smaller cells = less in-cell
    pairwise work.
    """
    from sayn_spark.functions.similarity import _centroid_arrays

    emb = T(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.expr("cast(embedding as array<double>)").alias("e")
    )
    corpus = emb.select("vec_id", "e").unionByName(
        emb.select((F.col("vec_id") + 100000).alias("vec_id"), "e")
    )
    normed = persist_tracked(
        corpus.select(
            "vec_id",
            "e",
            F.sqrt(F.expr("aggregate(e, 0D, (acc, x) -> acc + x * x)")).alias("nrm"),
        )
    )
    cent = _centroid_arrays(emb.select("label", "e"))
    cells = semantic_cells(normed.select("vec_id", "e"), cent)
    sided = cells.join(normed.select("vec_id", "e"), "vec_id")
    # the in-cell pairwise cosine runs as ONE numpy Gram matrix per
    # cell (SemDeDup's own per-cluster computation) instead of an
    # 800k-row interpreted-HOF self-join — measured ~15x on this stage
    # at sf0.1.  Decision-safe vs the oracle: only the rounded >= 0.99
    # VERDICT leaves this operator (counts, never cosines), so the
    # ~1e-13 summation-order difference between the BLAS matmul and
    # the SQL fold cannot flip any output.  Memory bound: one cell's
    # vectors must fit in an executor (the standard SemDeDup cluster
    # cap — raise the centroid count to shrink cells).
    dropped = sided.groupBy("cell").applyInPandas(
        _semantic_dropped_per_cell, schema="vec_id long"
    ).withColumn("is_dropped", F.lit(1))
    return (
        cells.join(dropped, "vec_id", "left")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.count("is_dropped").alias("n_dropped"),
            F.sum(F.when(F.col("is_dropped").isNull(), 1).otherwise(0)).alias("n_kept"),
        )
    )


@register(
    "q_dedup_semantic_recall",
    oracle="""
WITH emb AS (
  SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings
),
corpus AS (
  SELECT vec_id, e FROM emb
  UNION ALL SELECT vec_id + 100000, e FROM emb
),
sample AS (SELECT vec_id, e FROM corpus WHERE (vec_id % 100000) % 3 = 0),
normed AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM sample),
comp AS (
  SELECT label, i, e[i] AS x FROM emb, (SELECT unnest(generate_series(1, 64)) AS i)
),
cent AS (
  SELECT label, i,
         ROUND(CAST(SUM(CAST(x AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*), 8) AS c
  FROM comp GROUP BY label, i
),
cent_arr AS (
  SELECT label AS c_label, list(c ORDER BY i) AS ce FROM cent GROUP BY label
),
assigned AS (
  SELECT vec_id, c_label, ROW_NUMBER() OVER (
           PARTITION BY vec_id
           ORDER BY ROUND(list_aggregate(list_transform(list_zip(n.e, c.ce),
                          p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'), 8), c_label) AS rk
  FROM normed n, cent_arr c
),
cells AS (SELECT vec_id, c_label AS cell FROM assigned WHERE rk = 1),
truth AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM normed a JOIN normed b ON a.vec_id < b.vec_id
  WHERE ROUND(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) >= 0.99
),
marked AS (
  SELECT t.id_a, t.id_b,
         CASE WHEN ca.cell = cb.cell THEN 1 ELSE 0 END AS same_cell
  FROM truth t
  JOIN cells ca ON ca.vec_id = t.id_a
  JOIN cells cb ON cb.vec_id = t.id_b
),
agg AS (SELECT
  (SELECT COUNT(*) FROM normed) AS n_sample_vecs,
  (SELECT COUNT(DISTINCT cell) FROM cells) AS n_cells,
  (SELECT COUNT(*) FROM marked) AS n_true_pairs,
  (SELECT COALESCE(CAST(SUM(same_cell) AS BIGINT), 0) FROM marked) AS n_same_cell
)
SELECT CAST(n_sample_vecs AS BIGINT) AS n_sample_vecs,
       CAST(n_cells AS BIGINT) AS n_cells,
       CAST(n_true_pairs AS BIGINT) AS n_true_pairs,
       CAST(n_same_cell AS BIGINT) AS n_same_cell,
       CAST((n_same_cell * 1000000) // greatest(n_true_pairs, 1) AS BIGINT)
           AS cell_recall_ppm,
       CAST(n_true_pairs - n_same_cell AS BIGINT) AS n_cross_cell_missed
FROM agg
""",
)
def q_dedup_semantic_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-measured recall of SemDeDup's cell partition — the
    q_dedup_minhash_recall discipline applied to semantic dedup: the
    operator only examines cos >= 0.99 pairs WITHIN a cell, so its only
    approximation is pairs the quantizer splits across cells.  On a
    deterministic 1/3 sample (base-id % 3, planted copy stays with its
    original), EXACT all-pairs ground truth (the same rounded-cosine
    verdict as q_dedup_semantic) vs cell co-membership under the same
    label-centroid quantizer — published as integer ppm plus the raw
    cross-cell miss count, the number that tells a 100 TB deployment
    whether its centroid count has started splitting true duplicate
    neighborhoods.

    Scale shape: the all-pairs arm is the INSTRUMENT's cost on a
    bounded sample (rate-based here; pin a fixed vector count at
    100 TB), a broadcast nested-loop over slim (id, e, nrm) rows —
    exactly q_ann_binary_recall's measurement harness; the production
    operator keeps its per-cell equi-join shape.
    """
    from sayn_spark.functions.similarity import _centroid_arrays

    emb = T(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.expr("cast(embedding as array<double>)").alias("e")
    )
    corpus = emb.select("vec_id", "e").unionByName(
        emb.select((F.col("vec_id") + 100000).alias("vec_id"), "e")
    )
    sample = corpus.where((F.col("vec_id") % 100000) % 3 == 0)
    normed = persist_tracked(
        sample.select(
            "vec_id",
            "e",
            F.sqrt(F.expr("aggregate(e, 0D, (acc, x) -> acc + x * x)")).alias("nrm"),
        )
    )
    cent = _centroid_arrays(emb.select("label", "e"))
    d2 = F.round(
        F.expr(
            "aggregate(zip_with(e, ce, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"
        ),
        8,
    )
    cells = persist_tracked(
        normed.crossJoin(F.broadcast(cent))
        .select("vec_id", F.struct(d2.alias("d2"), F.col("c_label").alias("cl")).alias("dc"))
        .groupBy("vec_id")
        .agg(F.min("dc").alias("m"))
        .select("vec_id", F.col("m.cl").alias("cell"))
    )
    a = normed.select(
        F.col("vec_id").alias("id_a"), F.col("e").alias("ea"), F.col("nrm").alias("na")
    )
    b = normed.select(
        F.col("vec_id").alias("id_b"), F.col("e").alias("eb"), F.col("nrm").alias("nb")
    )
    cos = F.round(
        F.expr("aggregate(zip_with(ea, eb, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")
        / (F.col("na") * F.col("nb")),
        6,
    )
    truth = (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .where(cos >= 0.99)
        .select("id_a", "id_b")
    )
    marked = persist_tracked(
        truth.join(cells.select(F.col("vec_id").alias("id_a"), F.col("cell").alias("cell_a")), "id_a")
        .join(cells.select(F.col("vec_id").alias("id_b"), F.col("cell").alias("cell_b")), "id_b")
        .select(
            F.when(F.col("cell_a") == F.col("cell_b"), 1).otherwise(0).alias("same_cell")
        )
    )
    n_vecs = normed.agg(F.count(F.lit(1)).alias("n_sample_vecs"))
    n_cells = cells.agg(F.countDistinct("cell").alias("n_cells"))
    stats = marked.agg(
        F.count(F.lit(1)).alias("n_true_pairs"),
        F.coalesce(F.sum("same_cell"), F.lit(0)).alias("n_same_cell"),
    )
    return (
        n_vecs.crossJoin(n_cells)
        .crossJoin(stats)
        .select(
            F.col("n_sample_vecs").cast("bigint").alias("n_sample_vecs"),
            F.col("n_cells").cast("bigint").alias("n_cells"),
            F.col("n_true_pairs").cast("bigint").alias("n_true_pairs"),
            F.col("n_same_cell").cast("bigint").alias("n_same_cell"),
            F.expr(
                "cast((n_same_cell * 1000000) div greatest(n_true_pairs, 1) as bigint)"
            ).alias("cell_recall_ppm"),
            F.expr("cast(n_true_pairs - n_same_cell as bigint)").alias(
                "n_cross_cell_missed"
            ),
        )
    )


_SQL_CONTAINMENT_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000,
         array_to_string(({_SQL_TOKENS})[1:greatest(3, len({_SQL_TOKENS}) // 2)], ' ')
  FROM documents
),
shingled AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM corpus),
sizes AS (SELECT doc_id, len(sh) AS n FROM shingled WHERE len(sh) > 0),
exploded AS (SELECT doc_id, unnest(sh) AS s FROM shingled),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
  FROM exploded a JOIN exploded b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       ROUND(CAST(common AS DOUBLE) / least(sa.n, sb.n), 6) AS containment
FROM pairs
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(common AS DOUBLE) / least(sa.n, sb.n) >= 0.9
"""


def _containment_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + each document's FIRST-HALF SNIPPET (re-keyed
    +100000): snippet-vs-original has Jaccard ~0.5 but containment
    exactly 1.0 — the asymmetric pair class this family exists for."""
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    snippet = F.expr(
        f"array_join(slice({_TOKENS}, 1, greatest(3, (size({_TOKENS}) div 2))), ' ')"
    )
    return d.unionByName(
        d.select((F.col("doc_id") + 100000).alias("doc_id"), snippet.alias("text"))
    )


@register("q_dedup_containment", oracle=_SQL_CONTAINMENT_ORACLE)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment (overlap-coefficient) dedup: pairs where the SMALLER
    document's shingles are >= 90% contained in the other's — the
    asymmetric near-dup class Jaccard structurally misses.  The planted
    corpus appends each document's FIRST-HALF SNIPPET: snippet-vs-
    original has Jaccard ~0.5 (invisible to q_dedup_ngram_jaccard's
    0.8 gate) but containment exactly 1.0, the quoted-excerpt /
    boilerplate-wrapper / chunk-of-a-crawl shape every training-data
    pipeline needs to catch.

    Scale design: identical inverted-index equi-join shape as the
    Jaccard query (shuffle on the shingle, count per pair, sizes ride
    along); only the verify formula changes (common / min(n)).  This is
    the EXACT reference answer; at 100 TB the ungated self-join goes
    quadratic on hot shingles — q_dedup_containment_gated is the scale
    path (size-partitioned MinHash a la LSH Ensemble, Zhu et al.
    VLDB'16), registered against this very oracle so the gate's output
    is hash-checked equal to the exact join.
    """
    corpus = _fan_out(_containment_corpus(spark, sf_dir), spark, sf_dir)
    shingled = _staged_shingles(corpus, persist=True)
    sizes = shingled.where(F.size("sh") > 0).select("doc_id", F.size("sh").alias("n"))
    exploded = shingled.select("doc_id", F.explode("sh").alias("s"))
    a = exploded.alias("a")
    b = exploded.alias("b")
    pairs = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    cont = F.col("common").cast("double") / F.least(F.col("sa.n"), F.col("sb.n"))
    return (
        pairs.join(sizes.alias("sa"), F.col("id_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("id_b") == F.col("sb.doc_id"))
        .where(cont >= 0.9)
        .select("id_a", "id_b", F.round(cont, 6).alias("containment"))
    )


# --- LSH-Ensemble candidate gate for containment (Zhu et al., VLDB'16) ---
#
# Plain MinHash-LSH recalls by JACCARD, but a containment pair's Jaccard
# degrades with the size ratio: common >= t*min(na, nb) implies only
#   J >= t / ((1 - t) + ratio),    ratio = max/min.
# LSH Ensemble's move: partition documents by set size into geometric
# buckets (part = floor(log2(n))), so within a partition-PAIR the ratio
# — and hence the worst-case Jaccard — is bounded, and the band count
# can be chosen per partition gap g (ratio < 2^(g+1)):
#   J_min(g) = t / ((1 - t) + 2^(g+1))
#   b(g)     = smallest b with (1 - J_min(g))^b < 1e-6   (1-row bands)
# A ratio-r pair can span a partition gap up to floor(log2(r)) + 1
# (na at the TOP of its partition, nb at the BOTTOM of its), so
# covering ratio < R needs probe arms out to gap log2(R): the r4/r5
# gate stopped at gap 2 — which only guarantees ratio < 4 — and a
# ratio-[4,8) pair landing in gap 3 (e.g. na=15 in part 3, nb=112 in
# part 6) was silently never a candidate (ADVICE r5).  Each gap arm's
# band count is sized for the CONTRACT's worst ratio reachable in that
# gap, r_max(g) = min(2^(g+1), R):
#   b(g) = ceil(ln 1e-6 / ln(1 - J_min(r_max))),  rounded up to the
#   next power of two.  At t=0.9, R=8:  J_min = 0.4286/0.2195/0.1111/
#   0.1111 for g=0/1/2/3 -> b = 32/64/128/128 (miss < 2.8e-7 at the
#   window edge).  R=32 (wide mode): g=3 sizes for ratio 16 -> 256
#   bands, g=4/5 for ratio 32 -> 512 bands — which is why wide mode
#   runs on 512-hash signatures (the _MH_MAX_HASHES_WIDE extension).
# Wider than 32 needs multi-row band geometry (true LSH-Ensemble
# optimisation) — extend _LE_GATES only with the derivation above.
_LE_N_HASHES = 128
_LE_GATES: dict[int, dict] = {
    8: {"n_hashes": 128, "bands": {0: 32, 1: 64, 2: 128, 3: 128}},
    32: {"n_hashes": 512, "bands": {0: 32, 1: 64, 2: 128, 3: 256, 4: 512, 5: 512}},
}
# Sketch-screen slack: after the band join, candidates are screened by
# the signature-estimated Jaccard against the pair's EXACT required
# Jaccard (sizes are known): keep iff est >= jreq - delta.  A true pair
# has true J >= jreq, so the screen only misses on a delta-sized
# downward estimate deviation — Hoeffding over 128 permutations gives
# exp(-2*128*delta^2) ~ 2.5e-4 worst-case (pair exactly AT threshold);
# measured minimum margin over all true pairs at sf0.1 is -0.11, so
# 0.18 holds 0.07 of slack on the densest corpus we test.  The screen
# keeps the exact shingle verify O(near-qualifying pairs): it cuts the
# band stage ~9x at sf0.1.  For wide-gap candidates (jreq below the
# slack) the screen is vacuous BY NECESSITY — 128 hashes cannot
# separate J ~ 0.11 from this synthetic corpus' ~0.1 background
# without breaking the recall bound — so closing the ratio window
# (r6) traded some verify volume for contract coverage; real crawls
# (background J ~ 1e-3) keep the screen sharp at every gap.
_LE_EST_DELTA = 0.18


def _containment_candidates(sigs: DataFrame, bands: dict[int, int]) -> DataFrame:
    """(id_a < id_b) candidate pairs from size-partitioned 1-row-band
    MinHash — the LSH-Ensemble join.

    ``sigs`` = (doc_id, part, sig[n_hashes]).  Every document INDEXES
    all bands in its own partition; a document PROBES partition part+g
    with only the first b(g) bands — fewer probes near its own size
    (high worst-case Jaccard), more 1-row probes into larger
    partitions.  Probing is upward-only (the smaller side drives the
    containment threshold), so each cross-partition pair forms once;
    same-partition pairs form in both orientations and are normalised
    by least/greatest + distinct.  The join is a pure equi-join on
    (part, band, value) — 3-int rows, shuffle-hash friendly, no
    shingle strings move.

    The probe arms come from ONE posexplode of the signature: band i
    probes every gap whose budget covers it (i < b(g), b monotone in
    g), so the per-gap arms are a row-local explode of a tiny gap
    array instead of |gaps| re-explosions of the signature frame
    (VERDICT r5 item 7 — the old triple explode re-read the Arrow
    signature pass per arm).
    """
    # (part, band, v) packs into ONE bigint join key: v < 2^31 (minhash
    # values are mod p = 2^31-1), band < 1024 (10 bits at 31..40), part
    # <= ~36 even after probe arms (41+; bounded by log_ratio(max doc
    # shingles) + |gaps|, far under 2^22).  The packing is a bijection,
    # so the equi-join is unchanged — but each banded row shuffles one
    # 8-byte key instead of int+int+long, and the join hashes/compares
    # a single column (guide: shuffle fewer bytes, narrower types).
    # Guard the band field: a future _LE_GATES entry one doubling past
    # wide mode (>= 2048 bands => band index >= 1024) would silently
    # alias band bits into part bits and join wrong candidate keys.
    # The index arm explodes the full signature, so the sig width (==
    # max band budget in every gate) is the bound that matters.
    if max(bands.values()) > 1024:
        raise ValueError(
            f"_containment_candidates: band budget {max(bands.values())} "
            "overflows the 10-bit band field of the packed join key — "
            "re-derive the packing before widening the gate"
        )
    _bk = "shiftleft(cast(part as bigint), 41) + shiftleft(cast(band as bigint), 31) + v"
    index = sigs.select(
        F.col("doc_id").alias("id_x"), "part", F.posexplode("sig").alias("band", "v")
    ).select("id_x", F.expr(_bk).alias("bk"))
    gaps = sorted(bands)
    if gaps != list(range(len(gaps))):
        raise ValueError(
            f"_containment_candidates: gap arms {gaps} must be contiguous from 0"
        )
    b_arr = "array(" + ", ".join(str(bands[g]) for g in gaps) + ")"
    gaps_for_band = (
        f"filter(sequence(0, {gaps[-1]}), g -> band < element_at({b_arr}, g + 1))"
    )
    probe = (
        sigs.select(
            F.col("doc_id").alias("id_p"),
            F.col("part").alias("own_part"),
            F.posexplode("sig").alias("band", "v"),
        )
        .select(
            "id_p",
            "own_part",
            "band",
            "v",
            F.explode(F.expr(gaps_for_band)).alias("g"),
        )
        .select(
            "id_p", (F.col("own_part") + F.col("g")).alias("part"), "band", "v"
        )
        .select("id_p", F.expr(_bk).alias("bk"))
    )
    # shuffle-hash, pinned: both sides are exploded band streams (the
    # probe side reaches ~1.5k rows/doc under the wide gate), but the
    # optimizer cost-estimates them from the slim persisted signature
    # frame and happily BROADCASTS the probe arm — measured 1.7 GiB of
    # hashed relation at sf0.1, a guaranteed OOM at corpus scale.  A
    # shuffle-hash join on the packed band key is the plan that
    # survives 100x data: both sides partition on bk, no sort, no
    # driver-side relation.
    return (
        probe.join(index.hint("shuffle_hash"), ["bk"])
        .where(F.col("id_p") != F.col("id_x"))
        .select(
            F.least("id_p", "id_x").alias("id_a"),
            F.greatest("id_p", "id_x").alias("id_b"),
        )
        .distinct()
    )


def _containment_sigs(shingled: DataFrame, n_hashes: int = _LE_N_HASHES) -> DataFrame:
    """Size-partitioned ``n_hashes``-wide signature frame (candidate
    side) from an already-shingled frame — split out of
    _containment_gate_frames so ``max_ratio='auto'`` can measure the
    corpus spread on the shingle frame BEFORE committing to a
    signature width."""
    return persist_tracked(
        shingled.select(
            "doc_id",
            F.floor(F.log2(F.size("sh"))).cast("int").alias("part"),
            F.expr(_SPARK_BASES).alias("bases"),
        ).select("doc_id", "part", _sig_udf(n_hashes)(F.col("bases")).alias("sig"))
    )


def _containment_gate_frames(
    corpus: DataFrame, n_hashes: int = _LE_N_HASHES
) -> tuple[DataFrame, DataFrame]:
    """(shingled, sigs) for the containment gate over an arbitrary
    (doc_id, text) corpus: the persisted shingle table (verify side)
    and the size-partitioned n_hashes-wide signature frame (candidate
    side)."""
    shingled = _staged_shingles(corpus, persist=True).where(F.size("sh") > 0)
    return shingled, _containment_sigs(shingled, n_hashes)


def gated_containment_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    max_ratio=8,
    spread_check: str = "measure",
) -> DataFrame:
    """(id_a, id_b, containment) pairs with overlap coefficient >=
    threshold over an arbitrary (doc_id, text) corpus, via the full
    LSH-Ensemble gate (size-partitioned bands -> sketch screen -> exact
    verify).  The library entry point behind q_dedup_containment_gated.

    ``max_ratio`` picks the gate from _LE_GATES and is the recall
    CONTRACT: any qualifying pair whose set-size ratio is below it is a
    candidate with miss probability < 1e-6.  8 (default) runs 128-hash
    signatures; 32 runs 512-hash signatures with probe arms out to
    partition gap 5 — ~4x the signature/band cost, for corpora where a
    short snippet is quoted inside much larger documents.
    ``max_ratio="auto"`` measures the corpus' size-partition spread
    (one scalar agg over the shingle frame) and picks the narrowest
    gate whose probe reach covers it — the contract follows the data
    instead of asking the user to guess.  Band sizing assumes
    threshold >= 0.9, so lower thresholds are rejected.

    ``spread_check`` controls the out-of-contract response when the
    corpus' spread exceeds the chosen gate's probe reach (VERDICT r8
    item 3 — the response is MEASURED, not structural):
    "measure" (default) counts the qualifying pairs the contract
    actually excludes (exact shingle verify restricted to pairs beyond
    the probe reach, deterministically 1-in-5 sampled above
    {_OOC_EXACT_MAX_DOCS} docs — a best-effort estimate, so a zero can
    under-report on a sampled corpus) and warns WITH that count — or
    stays silent when the measured count is 0, so a corpus whose wide
    pairs are all non-qualifying runs warning-free; "strict" measures
    EXACTLY (never sampled — a scheduled run that opted into failing
    on a breach must not false-negative through sampling) and RAISES
    on a nonzero count; "warn" keeps the
    structural r6 behavior (spread alone triggers, count reported as
    unmeasured — no measurement job); "skip" omits the probe entirely
    (no extra Spark job) for callers that already know their corpus'
    size spread fits the window."""
    if spread_check not in ("measure", "warn", "strict", "skip"):
        raise ValueError(
            "gated_containment_pairs: spread_check must be "
            "measure|warn|strict|skip"
        )
    if float(threshold) < 0.9:
        raise ValueError(
            "gated_containment_pairs: band counts are sized for "
            "threshold >= 0.9 (lower thresholds need more bands — "
            "re-derive _LE_GATES)"
        )
    spread_row = None
    if max_ratio == "auto":
        shingled = _staged_shingles(corpus, persist=True).where(F.size("sh") > 0)
        # one scalar agg decides the gate AND feeds the spread check
        # below (no second min/max job); note auto itself costs this
        # probe even under spread_check="skip"
        spread_row = (
            shingled.select(
                F.floor(F.log2(F.size("sh"))).cast("int").alias("part")
            )
            .agg(
                F.min("part").alias("lo"),
                F.max("part").alias("hi"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()[0]
        )
        spread = (
            0
            if spread_row["lo"] is None
            else int(spread_row["hi"]) - int(spread_row["lo"])
        )
        max_ratio = next(
            (r for r in sorted(_LE_GATES) if max(_LE_GATES[r]["bands"]) >= spread),
            max(_LE_GATES),
        )
        gate = _LE_GATES[max_ratio]
        sigs = _containment_sigs(shingled, n_hashes=gate["n_hashes"])
    elif max_ratio not in _LE_GATES:
        raise ValueError(
            f"gated_containment_pairs: max_ratio must be one of "
            f"{sorted(_LE_GATES)} or 'auto'; wider windows need multi-row "
            "band geometry (extend _LE_GATES with the derivation above)"
        )
    else:
        gate = _LE_GATES[max_ratio]
        shingled, sigs = _containment_gate_frames(corpus, n_hashes=gate["n_hashes"])
    if spread_check != "skip":
        _check_spread_contract(
            shingled,
            sigs,
            gate["bands"],
            max_ratio,
            float(threshold),
            spread_check,
            spread_row=spread_row,
        )
    screened = _containment_screened(
        shingled, sigs, gate["bands"], gate["n_hashes"], float(threshold)
    )
    # verify on xxhash64-hashed shingle arrays, not the raw strings
    # (r14): the attach joins sort/shuffle ~4x narrower rows and the
    # exact intersect compares 8-byte longs instead of ~30-byte
    # strings; collision class P ~ n_shingles^2 / 2^64, the same
    # accepted class as _jaccard_edges and the OOC measure above
    hashed = F.expr("transform(sh, x -> xxhash64(x))")
    sh_a = shingled.select(
        F.col("doc_id").alias("id_a"), hashed.alias("sh_a"), F.size("sh").alias("na")
    )
    sh_b = shingled.select(
        F.col("doc_id").alias("id_b"), hashed.alias("sh_b"), F.size("sh").alias("nb")
    )
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    cont = common.cast("double") / F.least(F.col("na"), F.col("nb"))
    return (
        # NOTE (r14): a shuffle_hash hint on both attaches was tried
        # and REVERTED — building the hash relation over the wide
        # shingle-array side measured slower than the sorts it saved
        # (wide line 4.6 -> 6.6-7.7s); sort-merge stays
        screened.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .where(cont >= float(threshold))
        .select("id_a", "id_b", F.round(cont, 6).alias("containment"))
    )


def _containment_gate_inputs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Registered-corpus variant of _containment_gate_frames (shared by
    the candidate-growth tests)."""
    return _containment_gate_frames(
        _fan_out(_containment_corpus(spark, sf_dir), spark, sf_dir)
    )


# measure-mode sampling: the out-of-contract verify is exact below
# this doc count; above it the small (contained) side is sampled
# deterministically 1-in-_OOC_SAMPLE_MOD, bounding the measurement at
# ~20% of the full cross-ratio join while keeping the count an honest
# per-corpus estimate (the driver-green instrument
# q_dedup_containment_recall uses the same 1-in-5 discipline, and
# publishes the thorough per-corpus numbers this per-run guard only
# screens)
_OOC_EXACT_MAX_DOCS = 5_000
_OOC_SAMPLE_MOD = 5


def _out_of_contract_pairs(
    shingled: DataFrame,
    max_gap: int,
    threshold: float,
    n_docs: int,
    lo: int,
    hi: int,
    exact: bool = False,
) -> tuple[int, int]:
    """(measured count, sample_mod) of qualifying containment pairs
    the gate structurally misses: containment >= threshold AND
    partition gap > max_gap (beyond the probe reach — such a pair is
    never a band candidate; gap > max_gap also implies size ratio >
    2^max_gap, i.e. past the ratio contract).  The gap predicate is
    pushed in FRONT of the inverted-index join: a small-side doc needs
    a partner more than max_gap partitions above it, so only docs at
    part <= hi - max_gap - 1 enter the small side and only docs at
    part >= lo + max_gap + 1 enter the large side — on typical corpora
    (sizes concentrated mid-range, spread driven by tails) that leaves
    a small fraction of the corpus in the join, never the all-pairs
    stream the gate itself exists to avoid.  Each such pair has
    exactly one (small, large) orientation, so no normalisation is
    needed before the group count."""
    mod = 1 if (exact or n_docs <= _OOC_EXACT_MAX_DOCS) else _OOC_SAMPLE_MOD
    parted = shingled.select(
        "doc_id", "sh", F.floor(F.log2(F.size("sh"))).cast("int").alias("part")
    )
    small = parted.where(F.col("part") <= hi - max_gap - 1)
    if mod > 1:
        small = small.where(F.pmod(F.xxhash64(F.col("doc_id")), F.lit(mod)) == 0)
    # postings join on xxhash64(shingle), not the ~30-byte string —
    # the _jaccard_edges precedent: both shuffle sides move 8-byte
    # keys; a collision could only inflate ``common`` for a pair
    # co-holding two colliding shingles (P ~ n^2 / 2^64), the same
    # accepted-risk class as the md5 fingerprints elsewhere, on a
    # count that feeds a warning message
    sm = small.select(
        F.col("doc_id").alias("id_s"),
        F.size("sh").alias("ns"),
        F.col("part").alias("part_s"),
        F.explode("sh").alias("s"),
    ).select("id_s", "ns", "part_s", F.xxhash64("s").alias("h"))
    lg = parted.where(F.col("part") >= lo + max_gap + 1).select(
        F.col("doc_id").alias("id_l"),
        F.col("part").alias("part_l"),
        F.explode("sh").alias("s"),
    ).select("id_l", "part_l", F.xxhash64("s").alias("h"))
    matched = sm.join(
        lg.hint("shuffle_hash"),
        (sm["h"] == lg["h"]) & (lg["part_l"] > sm["part_s"] + max_gap),
    )
    qualifying = (
        matched.groupBy("id_s", "id_l", "ns")
        .agg(F.count(F.lit(1)).alias("common"))
        .where(F.col("common").cast("double") >= float(threshold) * F.col("ns"))
    )
    return qualifying.count(), mod


def _check_spread_contract(
    shingled: DataFrame,
    sigs: DataFrame,
    bands: dict[int, int],
    max_ratio: int,
    threshold: float,
    mode: str,
    spread_row=None,
) -> None:
    """Recall-contract check: probes reach only partition gap
    max(bands), so a qualifying pair at a wider gap — size ratio >=
    max_ratio — can never become a candidate.  The structural spread
    test (one scalar agg over the persisted signature frame) decides
    whether exposure EXISTS; under mode "measure"/"strict" the
    qualifying out-of-contract pairs are then COUNTED
    (_out_of_contract_pairs) so the response carries a number instead
    of a hypothetical (VERDICT r8 item 3): zero measured pairs runs
    silent, a nonzero count warns (or raises under "strict" — ADVICE
    r6, scheduled pipelines swallow warnings in logs).  Mode "warn"
    keeps the measurement-free structural warning for callers that
    cannot afford the sampled verify job."""
    import warnings

    max_gap = max(bands)
    row = spread_row
    if row is None:
        row = sigs.agg(
            F.min("part").alias("lo"),
            F.max("part").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
    if row["lo"] is None:
        return
    spread = int(row["hi"]) - int(row["lo"])
    if spread <= max_gap:
        return
    if mode == "warn":
        measured_txt = (
            "out-of-contract qualifying pairs UNMEASURED (structural check "
            "only — re-run with spread_check='measure' for the count)"
        )
    else:
        # "strict" exists so scheduled runs FAIL on a real breach — it
        # must never false-negative through sampling, so it always
        # measures exactly (the caller opted into paying for
        # certainty); "measure" stays best-effort sampled on big
        # corpora
        count, mod = _out_of_contract_pairs(
            shingled,
            max_gap,
            threshold,
            int(row["n"]),
            int(row["lo"]),
            int(row["hi"]),
            exact=mode == "strict",
        )
        if count == 0:
            return  # contract empirically vacuous on this corpus
        sample_txt = (
            "exact" if mod == 1 else f"on a deterministic 1-in-{mod} doc sample"
        )
        measured_txt = (
            f"measured {count} qualifying pair(s) beyond the probe reach "
            f"({sample_txt})"
        )
    wider = [r for r in sorted(_LE_GATES) if r > max_ratio]
    remedy = (
        f"re-run with max_ratio={wider[0]}"
        if wider
        else "extend _LE_GATES with a wider multi-row-band gate"
    )
    msg = (
        f"containment gate: corpus spans partition gap {spread} "
        f"(doc set sizes from 2^{int(row['lo'])} to 2^{int(row['hi']) + 1}) "
        f"but probes reach only gap {max_gap} — qualifying pairs at "
        f"size ratio >= {max_ratio} are NOT candidates; {measured_txt}; "
        f"{remedy} if such pairs matter for this corpus"
    )
    if mode == "strict":
        raise ValueError(msg)
    warnings.warn(msg, stacklevel=3)


def _containment_screened(
    shingled: DataFrame,
    sigs: DataFrame,
    bands: dict[int, int],
    n_hashes: int,
    threshold: float = 0.9,
) -> DataFrame:
    """Band candidates passed through the sketch screen: estimated
    Jaccard vs the pair's EXACT required Jaccard
    jreq = t*min / (na + nb - t*min), kept iff
    est >= jreq - _LE_EST_DELTA.  Signatures move for candidate pairs
    only; shingle arrays move only for the survivors this returns.

    The estimate always uses the FIRST 128 permutations, even under
    the 512-hash wide gate: the Hoeffding slack (_LE_EST_DELTA) is
    calibrated for 128 draws, the extra hashes exist for band recall
    (1-row-band budget), and the slice keeps the screen's sketch
    frames at 1/4 the width — the full 512-wide frame measured a
    1.5 GiB AQE broadcast at sf0.1, exactly the join-side bloat this
    stage exists to avoid."""
    est_n = min(int(n_hashes), _LE_N_HASHES)
    cand = _containment_candidates(sigs, bands)
    sized = sigs.select("doc_id", F.slice("sig", 1, est_n).alias("sig")).join(
        shingled.select("doc_id", F.size("sh").alias("n")), "doc_id"
    )
    sk_a = sized.select(
        F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"), F.col("n").alias("na")
    )
    sk_b = sized.select(
        F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"), F.col("n").alias("nb")
    )
    est = F.expr(
        f"size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), b -> b)) / cast({est_n} as double)"
    )
    t = float(threshold)
    jreq = F.expr(f"({t} * least(na, nb)) / (na + nb - {t} * least(na, nb))")
    return (
        cand.join(sk_a, "id_a")
        .join(sk_b, "id_b")
        .where(est >= jreq - _LE_EST_DELTA)
        .select("id_a", "id_b")
    )


@register("q_dedup_containment_gated", oracle=_SQL_CONTAINMENT_ORACLE)
def q_dedup_containment_gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment dedup behind the LSH-Ensemble size-partitioned
    MinHash gate — the 100 TB answer to q_dedup_containment's ungated
    inverted-index self-join (hot shingles go quadratic per key there;
    here candidates come from bounded-selectivity minhash buckets and
    the exact ``common/min(n) >= 0.9`` verify runs on candidates only).

    Registered against the SAME exact-join oracle as
    q_dedup_containment, so the correctness gate hash-checks that the
    gated plan loses nothing on the planted asymmetric snippet corpus
    (snippet-in-document pairs at Jaccard ~0.5, plus natural pairs down
    to 3-shingle documents at size ratio up to ~3.3).  Determinism:
    fixed seeded permutation table, so the candidate set — and therefore
    the output — is stable across runs and engines.

    Scale shape: signatures are 128 ints/doc computed in one Arrow
    batch; each doc emits 128 slim index rows + 352 probe rows of
    3 ints (gap arms 0..3, covering the full ratio-<8 contract —
    generated from a SINGLE signature explode, not one re-explosion
    per arm); the band join's per-key fan-in is minhash-bucket-bounded
    (measured max 18 docs/bucket at sf0.1 vs 40 docs on the hottest
    raw shingle, growing sub-linearly); candidates then pass the
    sketch screen (_containment_screened) so the exact shingle verify
    touches only near-qualifying pairs (~9x fewer than the band
    stage at sf0.1).  Partition math and band-count derivation: see
    _LE_GATES / _LE_EST_DELTA above.
    """
    return gated_containment_pairs(
        _fan_out(_containment_corpus(spark, sf_dir), spark, sf_dir)
    )


@register("q_dedup_containment_wide", oracle=_SQL_CONTAINMENT_ORACLE)
def q_dedup_containment_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The wide-ratio containment gate (max_ratio=32: 512-hash
    signatures, probe arms to partition gap 5) against the SAME
    exact-join oracle as q_dedup_containment — driver-hash evidence
    that the wide gate loses nothing on a real corpus, complementing
    the planted ratio-30 unit test.  The registered corpus spans
    partition gap 5, exceeding the default gate's probe reach (gap 3)
    structurally — though the measured out-of-contract count there is
    0 (the default gate's "measure" check verifies that each run and
    stays silent), so the wide gate is this corpus' belt-and-braces
    configuration, benched to keep its 4x cost honest.

    Scale shape is q_dedup_containment_gated's with 4x the signature
    width and ~4.3x the probe rows (1504/doc) — the documented cost of
    extending the recall contract from ratio<8 to ratio<32; pay it
    only for corpora where quoted excerpts inside much larger pages
    are in scope.
    """
    return gated_containment_pairs(
        _fan_out(_containment_corpus(spark, sf_dir), spark, sf_dir), max_ratio=32
    )


# --- Self-measured containment-gate recall (VERDICT r7 item 2) ---------------
#
# The registered corpus spans partition gap 5 but the default gate's
# (max_ratio=8) probes reach gap 3, so qualifying pairs at size ratio
# >= 8 would structurally never be candidates.  The gate's own
# "measure" spread check counts those pairs per run (0 here — it runs
# silent); this instrument publishes the full quality picture — true
# containment
# pairs by ratio class, how many the band stage and the sketch screen
# recover — the q_dedup_minhash_recall discipline applied to the
# LSH-Ensemble gate.  Every verdict is integer-exact:
#   truth:     common/min >= 0.9        <=>  10*common >= 9*min
#   contract:  ratio < 8                <=>  max < 8*min
#   screen:    k/128 >= jreq - 0.18     <=>  (50k + 1152)(10s - 9m) >= 57600m
#     (k = sig agreements, s = na+nb, m = min; exact rational form of
#      the production _containment_screened predicate — differs only
#      within the 2^-53 representation error of the FP literals 0.18
#      and 0.9, unobservable on integer set sizes)
_LE_RECALL_SQL = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000,
         array_to_string(({_SQL_TOKENS})[1:greatest(3, len({_SQL_TOKENS}) // 2)], ' ')
  FROM documents
),
sample AS (SELECT doc_id, text FROM corpus WHERE (doc_id % 100000) % 5 = 0),
shingled AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM sample),
based AS (
  SELECT doc_id, len(sh) AS n, len(bin(len(sh))) - 1 AS part,
         list_transform(sh, x -> {_DUCK_BASE}) AS bases
  FROM shingled WHERE len(sh) > 0
),
sigs AS (SELECT doc_id, n, part, {{SIG}} AS sig FROM based),
exploded AS (SELECT doc_id, unnest(sh) AS s FROM shingled WHERE len(sh) > 0),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
  FROM exploded a JOIN exploded b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
truth AS (
  SELECT id_a, id_b,
         (greatest(sa.n, sb.n) < 8 * least(sa.n, sb.n)) AS in_contract
  FROM pairs
  JOIN based sa ON sa.doc_id = id_a
  JOIN based sb ON sb.doc_id = id_b
  WHERE 10 * common >= 9 * least(sa.n, sb.n)
),
bandser AS (SELECT unnest(generate_series(0, 127)) AS band),
gapser AS (SELECT * FROM (VALUES (0, 32), (1, 64), (2, 128), (3, 128)) t(g, b)),
idx AS (SELECT doc_id AS id_x, part, band, sig[band + 1] AS v FROM sigs, bandser),
probe AS (
  SELECT doc_id AS id_p, part + g AS part, band, sig[band + 1] AS v
  FROM sigs, bandser, gapser WHERE band < b
),
cand AS (
  SELECT DISTINCT least(id_p, id_x) AS id_a, greatest(id_p, id_x) AS id_b
  FROM probe JOIN idx USING (part, band, v) WHERE id_p <> id_x
),
screened AS (
  SELECT c.id_a, c.id_b FROM cand c
  JOIN sigs sa ON sa.doc_id = c.id_a
  JOIN sigs sb ON sb.doc_id = c.id_b
  WHERE (50 * list_aggregate(list_transform(list_zip(sa.sig, sb.sig),
            p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END), 'sum') + 1152)
        * (10 * (sa.n + sb.n) - 9 * least(sa.n, sb.n))
        >= 57600 * least(sa.n, sb.n)
),
agg AS (SELECT
  (SELECT COUNT(*) FROM based) AS n_docs,
  (SELECT COUNT(*) FROM truth) AS n_true_pairs,
  (SELECT COUNT(*) FROM truth WHERE in_contract) AS n_true_in_contract,
  (SELECT COUNT(*) FROM cand) AS n_candidates,
  (SELECT COUNT(*) FROM screened) AS n_screened,
  (SELECT COUNT(*) FROM truth t JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b)
      AS n_band_true,
  (SELECT COUNT(*) FROM truth t JOIN screened s ON t.id_a = s.id_a AND t.id_b = s.id_b)
      AS n_found,
  (SELECT COUNT(*) FROM truth t JOIN screened s ON t.id_a = s.id_a AND t.id_b = s.id_b
   WHERE t.in_contract) AS n_found_in_contract
)
SELECT CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_true_pairs AS BIGINT) AS n_true_pairs,
       CAST(n_true_in_contract AS BIGINT) AS n_true_in_contract,
       CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_screened AS BIGINT) AS n_screened,
       CAST(n_band_true AS BIGINT) AS n_band_true,
       CAST(n_found AS BIGINT) AS n_found,
       CAST(n_found_in_contract AS BIGINT) AS n_found_in_contract,
       CAST((n_band_true * 1000000) // greatest(n_true_pairs, 1) AS BIGINT)
           AS band_recall_ppm,
       CAST((n_found * 1000000) // greatest(n_true_pairs, 1) AS BIGINT)
           AS recall_ppm,
       CAST((n_found_in_contract * 1000000) // greatest(n_true_in_contract, 1) AS BIGINT)
           AS recall_in_contract_ppm,
       CAST((n_true_pairs - n_true_in_contract) - (n_found - n_found_in_contract)
            AS BIGINT) AS n_missed_out_contract
FROM agg
"""


@register(
    "q_dedup_containment_recall",
    oracle=_LE_RECALL_SQL.replace("{SIG}", _sql_sig_from_bases(_LE_N_HASHES)),
)
def q_dedup_containment_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-measured recall report for the DEFAULT containment gate
    (max_ratio=8) on a deterministic 20% sample of the registered
    snippet corpus (base-id % 5, so each snippet stays with its
    original).  Quantifies the gate's structural-spread warning as
    numbers: true containment pairs split by the ratio<8 contract
    class, band-stage recall, post-screen recall, and the exact count
    of out-of-contract pairs the gate missed.  The registered
    q_dedup_containment_gated already hash-matches the exact join every
    round (output-level recall evidence); this instrument exposes WHERE
    that recall comes from (pairs in vs out of the contract window) so
    the max_ratio=8-vs-32 decision is a measured trade, not a warning.

    Scale shape: the sample filter is map-side and first, so the
    all-pairs-grade exact verifier runs on 4% of the pair space; the
    gate stages reuse the production machinery (_containment_gate_frames,
    _containment_candidates) unchanged, so the measured numbers are the
    numbers gated_containment_pairs actually ships.  All verdicts are
    integer-exact (header comment above _LE_RECALL_SQL), so the report
    has no FP boundary anywhere.
    """
    gate = _LE_GATES[8]
    corpus = _containment_corpus(spark, sf_dir).where(
        (F.col("doc_id") % 100000) % 5 == 0
    )
    corpus = _fan_out(corpus, spark, sf_dir)
    shingled, sigs = _containment_gate_frames(corpus, n_hashes=gate["n_hashes"])
    sizes = shingled.select("doc_id", F.size("sh").alias("n"))
    exploded = shingled.select("doc_id", F.explode("sh").alias("s"))
    a = exploded.alias("a")
    b = exploded.alias("b")
    pairs = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    truth = persist_tracked(
        pairs.join(sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb")), "id_b")
        .where(10 * F.col("common") >= 9 * F.least("na", "nb"))
        .select(
            "id_a",
            "id_b",
            (F.greatest("na", "nb") < 8 * F.least("na", "nb")).alias("in_contract"),
        )
    )
    cand = persist_tracked(_containment_candidates(sigs, gate["bands"]))
    sized = sigs.select("doc_id", "sig").join(sizes, "doc_id")
    sk_a = sized.select(
        F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"), F.col("n").alias("na")
    )
    sk_b = sized.select(
        F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"), F.col("n").alias("nb")
    )
    k = F.expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> case when x = y then 1 else 0 end), "
        "0, (acc, v) -> acc + v)"
    )
    s_tot = F.col("na") + F.col("nb")
    m = F.least("na", "nb")
    screened = persist_tracked(
        cand.join(sk_a, "id_a")
        .join(sk_b, "id_b")
        .where((50 * k + 1152) * (10 * s_tot - 9 * m) >= 57600 * m)
        .select("id_a", "id_b")
    )
    n_docs = shingled.agg(F.count(F.lit(1)).alias("n_docs"))
    tstats = truth.agg(
        F.count(F.lit(1)).alias("n_true_pairs"),
        F.coalesce(F.sum(F.col("in_contract").cast("long")), F.lit(0)).alias(
            "n_true_in_contract"
        ),
    )
    cstats = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    sstats = screened.agg(F.count(F.lit(1)).alias("n_screened"))
    bt = truth.join(cand, ["id_a", "id_b"]).agg(F.count(F.lit(1)).alias("n_band_true"))
    fd = truth.join(screened, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("n_found"),
        F.coalesce(F.sum(F.col("in_contract").cast("long")), F.lit(0)).alias(
            "n_found_in_contract"
        ),
    )
    return (
        n_docs.crossJoin(tstats)
        .crossJoin(cstats)
        .crossJoin(sstats)
        .crossJoin(bt)
        .crossJoin(fd)
        .select(
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_true_pairs").cast("bigint").alias("n_true_pairs"),
            F.col("n_true_in_contract").cast("bigint").alias("n_true_in_contract"),
            F.col("n_candidates").cast("bigint").alias("n_candidates"),
            F.col("n_screened").cast("bigint").alias("n_screened"),
            F.col("n_band_true").cast("bigint").alias("n_band_true"),
            F.col("n_found").cast("bigint").alias("n_found"),
            F.col("n_found_in_contract").cast("bigint").alias("n_found_in_contract"),
            F.expr(
                "cast((n_band_true * 1000000) div greatest(n_true_pairs, 1) as bigint)"
            ).alias("band_recall_ppm"),
            F.expr(
                "cast((n_found * 1000000) div greatest(n_true_pairs, 1) as bigint)"
            ).alias("recall_ppm"),
            F.expr(
                "cast((n_found_in_contract * 1000000) div "
                "greatest(n_true_in_contract, 1) as bigint)"
            ).alias("recall_in_contract_ppm"),
            F.expr(
                "cast((n_true_pairs - n_true_in_contract) - "
                "(n_found - n_found_in_contract) as bigint)"
            ).alias("n_missed_out_contract"),
        )
    )


def _mh_sig_frame(corpus: DataFrame, spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sig) MinHash signatures for a corpus — the only state
    the incremental near-dup store keeps (never shingles or text)."""
    corpus = _fan_out(corpus, spark, sf_dir)
    shingled = _staged_shingles(corpus, persist=True).where(F.size("sh") > 0)
    bases = shingled.select("doc_id", F.expr(_SPARK_BASES).alias("bases"))
    return bases.select("doc_id", _sig_udf()(F.col("bases")).alias("sig"))


def _mh_band_frame(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, band_sig) LSH band keys from signatures.

    The band INDEX is folded into the hash (md5 of "band|values"), so
    probe joins need only the single band_sig key.  That matters for
    the persistent band table: Spark refuses to use a bucketed scan
    for a join unless ALL join keys match the bucketing
    (spark.sql.requireAllClusterKeysForCoPartition) — a two-key
    (band, band_sig) join against a band_sig-bucketed table silently
    re-shuffles the whole corpus side every probe.

    Empty signatures (documents too short to shingle, recorded in the
    incremental index as trivially-novel with ``sig = array()``) emit
    no band rows: every element_at would be NULL, so all such docs
    would otherwise share one degenerate band_sig and candidate each
    other quadratically.
    """
    return sigs.where(F.size("sig") > 0).select(
        "doc_id",
        F.explode(F.expr(f"sequence(0, {_N_HASHES // _BAND_ROWS - 1})")).alias("band"),
        "sig",
    ).select(
        "doc_id",
        "band",
        F.md5(
            F.expr(
                f"concat(cast(band as string), '|', "
                f"array_join(transform(sequence(1, {_BAND_ROWS}), "
                f"i -> cast(element_at(sig, band * {_BAND_ROWS} + i) as string)), '|'))"
            )
        ).alias("band_sig"),
    )


_SQL_MH_BANDS = f"""(
  SELECT doc_id, band,
         md5(CAST(band AS VARCHAR) || '|' ||
             array_to_string(list_transform(generate_series(1, {_BAND_ROWS}),
             i -> CAST(sig[band * {_BAND_ROWS} + i] AS VARCHAR)), '|')) AS band_sig
  FROM {{src}}, (SELECT unnest(generate_series(0, {_N_HASHES // _BAND_ROWS - 1})) AS band)
)"""


@register(
    "q_dedup_incremental_minhash",
    oracle=f"""
WITH old_corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 < 8
),
batch AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 8
  UNION ALL
  SELECT doc_id + 300000, text || ' zz'
  FROM documents WHERE doc_id % 10 < 8 AND doc_id % 37 = 0
),
old_sh AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM old_corpus WHERE len({_SQL_SHINGLES}) > 0),
new_sh AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM batch WHERE len({_SQL_SHINGLES}) > 0),
old_sigs AS (SELECT doc_id, {_SQL_SIG} AS sig FROM old_sh),
new_sigs AS (SELECT doc_id, {_SQL_SIG} AS sig FROM new_sh),
old_bands AS {_SQL_MH_BANDS.format(src='old_sigs')},
new_bands AS {_SQL_MH_BANDS.format(src='new_sigs')},
candidates AS (
  SELECT DISTINCT n.doc_id AS batch_id, o.doc_id AS corpus_id
  FROM new_bands n JOIN old_bands o ON n.band_sig = o.band_sig
)
SELECT batch_id, corpus_id,
       ROUND(CAST(len(list_filter(list_zip(ns.sig, os.sig), p -> p[1] = p[2])) AS DOUBLE)
             / {_N_HASHES}, 6) AS est_jaccard
FROM candidates
JOIN new_sigs ns ON ns.doc_id = batch_id
JOIN old_sigs os ON os.doc_id = corpus_id
WHERE CAST(len(list_filter(list_zip(ns.sig, os.sig), p -> p[1] = p[2])) AS DOUBLE)
      / {_N_HASHES} >= 0.5
""",
)
def q_dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup: dedupe a new ingestion batch against an
    existing corpus using ONLY a stored MinHash signature index — the
    recurring-crawl twin of q_dedup_incremental_corpus (which catches
    exact re-crawls by fingerprint; this catches mutated ones).

    Old corpus = doc_id%10 < 8; batch = the rest plus planted NEAR
    re-crawls (' zz'-suffixed, re-keyed +300000) that no exact
    fingerprint can catch.  Candidates come from the batch's band keys
    probing the stored band index; the verify is the SIGNATURE-
    ESTIMATED Jaccard (matching minhash fraction >= 0.5) — crucially
    it needs only the two signatures, so the persistent state is
    16 ints per document, never shingles or text.

    100 TB notes: the index is (doc_id, sig) + its band keys — a few
    hundred bytes per corpus document, partitioned by band_sig; each
    ingest shuffles only the BATCH's band rows against it (the corpus
    side is static and pre-bucketed), and the estimate join moves
    signatures for candidates only.  Index maintenance is an append of
    the kept batch's rows.
    """
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    old_corpus = d.where(F.col("doc_id") % 10 < 8)
    batch = (
        d.where(F.col("doc_id") % 10 >= 8)
        .unionByName(
            old_corpus.where(F.col("doc_id") % 37 == 0).select(
                (F.col("doc_id") + 300000).alias("doc_id"),
                F.concat("text", F.lit(" zz")).alias("text"),
            )
        )
    )
    old_sigs = persist_tracked(_mh_sig_frame(old_corpus, spark, sf_dir))
    new_sigs = persist_tracked(_mh_sig_frame(batch, spark, sf_dir))
    return incremental_minhash_matches(new_sigs, old_sigs)


def incremental_minhash_matches(
    new_sigs: DataFrame,
    old_sigs: DataFrame,
    threshold: float = 0.5,
    old_bands: DataFrame | None = None,
) -> DataFrame:
    """(batch_id, corpus_id, est_jaccard >= threshold) matches of a
    batch's signatures against a stored signature index — the probe
    half of the incremental near-dup store, reusable across ingests
    (the index-append lifecycle is exercised in tests/test_properties.py).

    ``old_bands``, if given, is a pre-materialised (doc_id, band,
    band_sig) frame for the corpus side — the dedup task stores it as
    a band_sig-bucketed catalog table so each ingest skips recomputing
    the corpus band keys AND the corpus side of the candidate join
    arrives pre-bucketed (only the batch's band rows shuffle).
    """
    if old_bands is None:
        old_bands = _mh_band_frame(old_sigs)
    # single-key join: band is folded into band_sig, so the stored
    # (bucketed) corpus side co-partitions without an Exchange
    candidates = (
        _mh_band_frame(new_sigs)
        .select(F.col("doc_id").alias("batch_id"), "band_sig")
        .join(
            old_bands.select(F.col("doc_id").alias("corpus_id"), "band_sig"),
            ["band_sig"],
        )
        .select("batch_id", "corpus_id")
        .distinct()
    )
    est = F.round(
        F.expr(
            f"size(filter(zip_with(sig_n, sig_o, (x, y) -> x = y), b -> b)) / cast({_N_HASHES} as double)"
        ),
        6,
    )
    return (
        candidates.join(
            new_sigs.select(F.col("doc_id").alias("batch_id"), F.col("sig").alias("sig_n")),
            "batch_id",
        )
        .join(
            old_sigs.select(F.col("doc_id").alias("corpus_id"), F.col("sig").alias("sig_o")),
            "corpus_id",
        )
        .where(est >= F.lit(float(threshold)))
        .select("batch_id", "corpus_id", est.alias("est_jaccard"))
    )


def incremental_simhash_matches(
    new_sigs: DataFrame,
    old_sigs: DataFrame,
    n_bands: int = 8,
    radius: int = 6,
) -> DataFrame:
    """(batch_id, corpus_id, hamming <= radius) matches of a batch's
    SimHash signatures against a stored signature index — the simhash
    twin of incremental_minhash_matches.  SimHash state is NOT
    corpus-relative (a signature depends only on its own document), so
    the index is simply (doc_id, sig array<int>) — 8 ints per corpus
    document — and the probe is the same Manku/Charikar combo equi-join
    the full-corpus plan uses, applied across the two frames: every
    qualifying pair shares at least one intact band combo by
    pigeonhole, so incremental recall equals full-corpus recall
    (exact).  Candidates dedupe on slim (id, id) rows before signatures
    attach; the Hamming verify is the codegen bit_count expansion.

    100 TB shape: each ingest explodes combo keys for BOTH sides —
    C(n_bands - radius <= 3 of n_bands) three-int rows per doc — and
    shuffles them into the equi-join; the corpus side's keys are
    derivable but at full scale you'd materialise them once as a
    packed-key bucketed table exactly like the minhash band table
    (fold ci into the bigint key so the single-key bucketing rule
    holds).  Documented here as the scale path; the state contract
    (signatures only, never text) is what the tests pin.
    """
    new_keys = _simhash_probe_keys(new_sigs, n_bands, radius)
    old_keys = _simhash_probe_keys(old_sigs, n_bands, radius)
    candidates = (
        new_keys.select(F.col("doc_id").alias("batch_id"), "ci", "k")
        .join(old_keys.select(F.col("doc_id").alias("corpus_id"), "ci", "k"), ["ci", "k"])
        .select("batch_id", "corpus_id")
        .distinct()
    )
    # packed-word verify (r14): bands partition the 64 bits, so one
    # bit_count(xor) on the folded words equals the per-band sum —
    # same codegen argument as simhash_dup_pairs, and the attach joins
    # move an 8-byte long instead of the band array
    new_p = _simhash_packed(new_sigs, n_bands)
    old_p = _simhash_packed(old_sigs, n_bands)
    hamming = F.expr("cast(bit_count(p_n ^ p_o) as int)")
    return (
        candidates.join(
            new_p.select(F.col("doc_id").alias("batch_id"), F.col("p").alias("p_n")),
            "batch_id",
        )
        .join(
            old_p.select(F.col("doc_id").alias("corpus_id"), F.col("p").alias("p_o")),
            "corpus_id",
        )
        .where(hamming <= int(radius))
        .select("batch_id", "corpus_id", hamming.alias("hamming"))
    )


def incremental_editdistance_matches(
    new_docs: DataFrame,
    old_docs: DataFrame,
    max_edit: int = _ED_MAX,
    block_chars: int = _ED_BLOCK,
    block_keys: tuple = ("prefix", "suffix"),
    max_compare_chars: int = _ED_MAX_COMPARE,
) -> DataFrame:
    """(batch_id, corpus_id, edit_dist <= max_edit) matches of a batch
    against a stored document index under the dual-key blocking of
    editdistance_dup_pairs, applied across two frames.  Edit-distance
    state is NOT corpus-relative either, but unlike every other method
    the verify needs the FULL TEXT, so the index is (doc_id, text) —
    the inherent price of a character-level metric (use simhash when
    constant-size state matters more than character fidelity).  Block
    keys are kind-tagged and derived map-side on both sides; a
    suffix-key match survives only when the pair's prefixes differ, so
    each (batch_id, corpus_id) pair is verified at most once per
    direction and the caller's ordering filter (self-probe) or frame
    disjointness (index probe) makes it exactly once.
    """
    if max_edit < 1:
        raise ValueError("incremental_editdistance_matches: max_edit must be >= 1")
    if block_chars < 1:
        raise ValueError("incremental_editdistance_matches: block_chars must be >= 1")
    keys = tuple(block_keys)
    if not keys or len(set(keys)) != len(keys) or any(
        k not in ("prefix", "suffix") for k in keys
    ):
        raise ValueError(
            "incremental_editdistance_matches: block_keys must be a "
            f"non-repeating subset of ('prefix', 'suffix'), got {block_keys!r}"
        )
    if max_compare_chars < 1:
        raise ValueError(
            "incremental_editdistance_matches: max_compare_chars must be >= 1"
        )
    a = _ed_blocked(new_docs, int(block_chars), keys, int(max_compare_chars)).select(
        F.col("doc_id").alias("batch_id"), F.col("text").alias("ta"), "blk"
    )
    b = _ed_blocked(old_docs, int(block_chars), keys, int(max_compare_chars)).select(
        F.col("doc_id").alias("corpus_id"), F.col("text").alias("tb"), "blk"
    )
    # cheap length-window before the DP: distance can never be under
    # the length difference, and the threshold DP is O(len^2) when the
    # pair is close — see _ED_MAX_COMPARE
    joined = a.join(b, "blk").where(
        F.abs(F.length("ta") - F.length("tb")) <= int(max_edit)
    )
    if "prefix" in keys and "suffix" in keys:
        joined = joined.where(
            F.col("blk").startswith("p:")
            | (
                F.substring("ta", 1, int(block_chars))
                != F.substring("tb", 1, int(block_chars))
            )
        )
    dist = F.expr(f"levenshtein(ta, tb, {int(max_edit)})")
    return (
        joined.where(dist >= 0)
        .select("batch_id", "corpus_id", dist.alias("edit_dist"))
    )


def fan_out_table(df: DataFrame, spark: SparkSession, table: str) -> DataFrame:
    """_fan_out for CATALOG tables: resolve the table's storage
    location from the catalog and apply the same byte-size guard —
    repartition to cluster width only when the files are too small to
    split wide enough.  The dedup task's signature UDF is the
    compute-bound consumer: a small catalog table scans into 1-2
    partitions and would run the Arrow stage nearly serial (the
    measured-8x SimHash lesson) without this."""
    try:
        rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    except Exception:
        return df
    location = next(
        (r.data_type for r in rows if r.col_name == "Location"), None
    )
    if not location:
        return df
    path = location.removeprefix("file:")
    size = _dataset_bytes(path)
    if size is None:
        return df
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    max_bytes = _parse_byte_string(raw)
    width = spark.sparkContext.defaultParallelism
    if size // max_bytes >= width:
        return df
    return df.repartition(width)


@register(
    "q_dedup_passage_rewrite",
    oracle=f"""
WITH {_SQL_CORPUS_EXACT},
tok AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM corpus),
wins AS (
  SELECT doc_id, w.s AS s, w.h AS h FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(toks) - {_PASSAGE_W - 1}),
                  i -> struct_pack(s := i,
                       h := md5(array_to_string(toks[i:i + {_PASSAGE_W - 1}], ' '))))) AS w
    FROM tok WHERE len(toks) >= {_PASSAGE_W})
),
owner AS (SELECT h, MIN(doc_id) AS fd FROM wins GROUP BY h),
removed AS (
  SELECT w.doc_id, w.s FROM wins w JOIN owner o USING (h) WHERE w.doc_id > o.fd
),
covered AS (
  SELECT DISTINCT doc_id, unnest(generate_series(s, s + {_PASSAGE_W - 1})) AS p
  FROM removed
),
tokpos AS (
  SELECT doc_id, t.i AS i, t.t AS t FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(toks)),
                  i -> struct_pack(i := i, t := toks[i]))) AS t
    FROM tok)
),
kept AS (
  SELECT k.doc_id, COUNT(*) AS n_kept,
         string_agg(k.t, ' ' ORDER BY k.i) AS cleaned_text
  FROM (SELECT * FROM tokpos ANTI JOIN covered ON tokpos.doc_id = covered.doc_id
                                              AND tokpos.i = covered.p) k
  GROUP BY k.doc_id
)
SELECT tok.doc_id,
       CAST(len(tok.toks) AS BIGINT) AS n_tokens,
       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept_tokens,
       COALESCE(k.cleaned_text, '') AS cleaned_text
FROM tok LEFT JOIN kept k ON k.doc_id = tok.doc_id
""",
)
def q_dedup_passage_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-SPAN removal with text reconstruction — the
    'Deduplicating Training Data Makes Language Models Better'
    (Lee et al. 2021) ExactSubstr operator at {W}-token window
    granularity: every window whose hash already occurs in a lower
    doc_id is removed from THIS document (the first-owner document
    keeps its text), and the surviving tokens are re-joined into the
    cleaned training text.  The planted exact copies (doc_id+100000)
    must come back EMPTY while every original survives verbatim —
    pinned by the oracle's full cleaned_text hash.

    Cross-document spans only: within-document repeats are a
    repetition-filter concern (q_repetition_top_ngram), not dedup.

    Scale shape: windows reduce to (h, doc_id, start) — slim keys, one
    map-side-combinable MIN per hash, one hash-key join back; the
    interval list per document is a groupBy on doc_id (bounded by the
    doc's own window count), and the rewrite itself is a row-local
    higher-order filter (exists() over the doc's removal starts) — the
    text column never shuffles.  At 100 TB, winnow the window stream
    (per-window min hashes) exactly as q_dedup_passages documents.
    """
    corpus = _fan_out(_doc_corpus(spark, sf_dir, mutate=None), spark, sf_dir)
    return passage_rewrite(corpus)


def passage_windows(toks: DataFrame, window: int = _PASSAGE_W) -> DataFrame:
    """(doc_id, s, h): every ``window``-token span of each document as
    (1-based start, md5 hash) — the slim key stream all passage-dedup
    variants shuffle."""
    return (
        toks.where(F.size("toks") >= window)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {window - 1}), "
                    f"i -> struct(i as s, md5(array_join(slice(toks, i, {window}), ' ')) as h))"
                )
            ).alias("w"),
        )
        .select("doc_id", "w.s", "w.h")
    )


def rewrite_with_removed_starts(
    toks: DataFrame, removed: DataFrame, window: int = _PASSAGE_W
) -> DataFrame:
    """(doc_id, n_tokens, n_kept_tokens, cleaned_text): row-local text
    reconstruction given each doc's removal-start list (``removed`` =
    (doc_id, starts array)); docs absent from ``removed`` pass through
    verbatim."""
    # removed has one row per rewritten doc — data-sized at scale
    out = toks.join(removed.hint("shuffle_hash"), "doc_id", "left").select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.expr(
            f"case when starts is null then toks else "
            f"filter(toks, (x, i) -> not exists(starts, s -> "
            f"i + 1 >= s and i + 1 <= s + {window - 1})) end"
        ).alias("kept_toks"),
    )
    return out.select(
        "doc_id",
        "n_tokens",
        F.size("kept_toks").cast("bigint").alias("n_kept_tokens"),
        F.array_join("kept_toks", " ").alias("cleaned_text"),
    )


def passage_rewrite(corpus: DataFrame, window: int = _PASSAGE_W) -> DataFrame:
    """(doc_id, n_tokens, n_kept_tokens, cleaned_text) duplicate-span
    removal over an arbitrary (doc_id, text) corpus — the engine behind
    q_dedup_passage_rewrite and the dedup task's method: passages."""
    toks = corpus.select("doc_id", F.expr(_TOKENS).alias("toks"))
    wins = passage_windows(toks, window)
    # first-owner test as a window MIN over the hash partition instead
    # of the old groupBy(h)+join-back: the md5 window stream (the
    # expensive HOF transform) is computed ONCE and crosses ONE
    # exchange, where the join form evaluated it twice (owner build +
    # join probe — profiled as the query's two heaviest stages) and
    # shuffled it twice (r14)
    removed = (
        wins.withColumn("fd", F.min("doc_id").over(Window.partitionBy("h")))
        .where(F.col("doc_id") > F.col("fd"))
        .groupBy("doc_id")
        .agg(F.collect_list("s").alias("starts"))
    )
    return rewrite_with_removed_starts(toks, removed, window)


_WINNOW_W = 4  # winnow window over consecutive passage hashes


@register(
    "q_dedup_passages_winnowed",
    oracle=f"""
WITH {_SQL_CORPUS_EXACT},
tok AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM corpus),
hashes AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(toks) - {_PASSAGE_W - 1}),
                i -> md5(array_to_string(toks[i:i + {_PASSAGE_W - 1}], ' '))) AS h
  FROM tok WHERE len(toks) >= {_PASSAGE_W + _WINNOW_W - 1}
),
fps AS (
  SELECT doc_id, len(h) AS n_windows,
         list_distinct(list_transform(generate_series(1, len(h) - {_WINNOW_W - 1}),
                i -> list_aggregate(h[i:i + {_WINNOW_W - 1}], 'min'))) AS fp
  FROM hashes
),
fp_rows AS (SELECT doc_id, n_windows, unnest(fp) AS f FROM fps),
dup AS (SELECT f FROM fp_rows GROUP BY f HAVING COUNT(DISTINCT doc_id) >= 2)
SELECT r.doc_id,
       CAST(MAX(r.n_windows) AS BIGINT) AS n_windows,
       COUNT(*) AS n_fps,
       COUNT(d.f) AS n_dup_fps,
       COUNT(d.f) * 1000000 // COUNT(*) AS dup_ppm
FROM fp_rows r LEFT JOIN dup d ON r.f = d.f
GROUP BY r.doc_id
""",
)
def q_dedup_passages_winnowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WINNOWED passage-dedup scan — q_dedup_passages' documented
    100 TB path, executable: instead of shuffling every {W}-token
    window hash, each document keeps only the winnowed fingerprints
    (the minimum hash of every {_WINNOW_W} consecutive window hashes,
    Schleimer et al. 2003), cutting the shuffled stream to an expected
    2/(w+1) of the windows while guaranteeing any shared span of
    {_PASSAGE_W}+{_WINNOW_W}-1 tokens still collides on at least one
    fingerprint.  Reported per doc: window count, fingerprint count,
    fingerprints shared with another doc, and the integer-ppm
    duplicated-fingerprint fraction (the winnowed estimate of
    q_dedup_passages' dup_frac — planted exact copies score 10^6 ppm).

    Scale shape: winnowing is a row-local higher-order fold (the
    document's own hash array, zero exchanges); only the DISTINCT
    fingerprints shuffle — one combinable distinct-owner count per
    fingerprint, one hash join back, one per-doc aggregate.  Raise the
    winnow window to trade recall granularity for movement (w=50 ~=
    25x reduction); the guarantee degrades only to spans shorter than
    {_PASSAGE_W}+w-1 tokens.
    """
    corpus = _fan_out(_doc_corpus(spark, sf_dir, mutate=None), spark, sf_dir)
    toks = corpus.select("doc_id", F.expr(_TOKENS).alias("toks")).where(
        F.size("toks") >= _PASSAGE_W + _WINNOW_W - 1
    )
    hashes = toks.select(
        "doc_id",
        F.expr(
            f"transform(sequence(1, size(toks) - {_PASSAGE_W - 1}), "
            f"i -> md5(array_join(slice(toks, i, {_PASSAGE_W}), ' ')))"
        ).alias("h"),
    )
    fps = hashes.select(
        "doc_id",
        F.size("h").alias("n_windows"),
        F.explode(
            F.expr(
                f"array_distinct(transform(sequence(1, size(h) - {_WINNOW_W - 1}), "
                f"i -> array_min(slice(h, i, {_WINNOW_W}))))"
            )
        ).alias("f"),
    )
    fps = persist_tracked(fps)
    dup = (
        fps.groupBy("f")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("f")
    )
    return (
        # shared-fingerprint set: corpus-sized at scale, force shuffle
        fps.join(dup.withColumn("is_dup", F.lit(1)).hint("shuffle_hash"), "f", "left")
        .groupBy("doc_id")
        .agg(
            F.max("n_windows").cast("bigint").alias("n_windows"),
            F.count(F.lit(1)).alias("n_fps"),
            F.count("is_dup").alias("n_dup_fps"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_fps",
            "n_dup_fps",
            F.expr("(n_dup_fps * 1000000) div n_fps").alias("dup_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Self-measured MinHash-LSH recall/precision (estimator evidence)
# ---------------------------------------------------------------------------


@register(
    "q_dedup_minhash_recall",
    oracle=f"""
WITH {_SQL_CORPUS_NEAR},
sample AS (SELECT doc_id, text FROM corpus WHERE (doc_id % 100000) % 17 = 0),
shingled AS (
  SELECT doc_id, {_SQL_SHINGLES} AS sh FROM sample WHERE len({_SQL_SHINGLES}) > 0
),
sigs AS (SELECT doc_id, sh, {_SQL_SIG} AS sig FROM shingled),
ex AS (SELECT doc_id, unnest(sh) AS s FROM shingled),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
sizes AS (SELECT doc_id, len(sh) AS n FROM shingled),
truep AS (
  SELECT id_a, id_b FROM common
  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
  WHERE 3 * c >= sa.n + sb.n
),
bands AS (
  SELECT doc_id, band,
         md5(array_to_string(list_transform(generate_series(1, {_BAND_ROWS}),
             i -> CAST(sig[band * {_BAND_ROWS} + i] AS VARCHAR)), '|')) AS band_sig
  FROM sigs, (SELECT unnest(generate_series(0, {_N_HASHES // _BAND_ROWS - 1})) AS band)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
),
scored AS (
  SELECT c.id_a, c.id_b,
         CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END AS is_true,
         CASE WHEN list_aggregate(list_transform(list_zip(sa.sig, sb.sig),
              p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END), 'sum') * 2
              >= {_N_HASHES} THEN 1 ELSE 0 END AS est_keep
  FROM cand c
  LEFT JOIN truep t ON t.id_a = c.id_a AND t.id_b = c.id_b
  JOIN sigs sa ON sa.doc_id = c.id_a
  JOIN sigs sb ON sb.doc_id = c.id_b
),
agg AS (
  SELECT (SELECT COUNT(*) FROM shingled) AS n_sample_docs,
         (SELECT COUNT(*) FROM truep) AS n_true_pairs,
         (SELECT COUNT(*) FROM scored) AS n_candidates,
         (SELECT COALESCE(CAST(SUM(is_true) AS BIGINT), 0) FROM scored) AS n_candidate_true,
         (SELECT COALESCE(CAST(SUM(is_true * est_keep) AS BIGINT), 0) FROM scored) AS n_est_true
)
SELECT CAST(n_sample_docs AS BIGINT) AS n_sample_docs,
       CAST(n_true_pairs AS BIGINT) AS n_true_pairs,
       CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_candidate_true AS BIGINT) AS n_candidate_true,
       CAST(n_est_true AS BIGINT) AS n_est_true,
       CAST((n_candidate_true * 1000000) // n_true_pairs AS BIGINT) AS band_recall_ppm,
       CAST((n_est_true * 1000000) // n_true_pairs AS BIGINT) AS est_recall_ppm,
       CAST((n_candidate_true * 1000000) // n_candidates AS BIGINT) AS precision_ppm
FROM agg
""",
)
def q_dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-measured MinHash-LSH quality report — recall AND precision
    of the banded candidate generation and of the 16-hash estimate
    verdict, against exact Jaccard ground truth on a deterministic
    ~6% document sample (base-id % 17, so each planted twin pair stays
    inside the sample together).  Oracle parity alone cannot certify
    the ESTIMATOR (DuckDB mirrors the same permutation arithmetic —
    the degenerate-LCG lesson), so the engine measures and publishes
    it, the q_ann_binary_recall discipline applied to dedup.

    Every decision is integer-exact: J >= 1/2 is the cross-
    multiplication 3*common >= |A|+|B| (J = c/(a+b-c)), the estimate
    verdict is 2*agreements >= 16, and the report is integer ppm
    (floor division) — no FP boundary anywhere.

    Scale shape: the sample filter is map-side and FIRST, so the
    all-pairs-grade exact verifier (shingle inverted-index join) runs
    on ~0.35%% of the pair space — at 100 TB you'd pin the sample to a
    fixed doc count instead of a fixed rate; banding and signatures
    reuse the production machinery unchanged, so the measured numbers
    are the numbers the dedup task actually ships."""
    corpus = _doc_corpus(spark, sf_dir, mutate=" zz qq")
    sample = corpus.where((F.col("doc_id") % 100000) % 17 == 0)
    shingled = _staged_shingles(sample, persist=True).where(F.size("sh") > 0)
    bases = shingled.select("doc_id", "sh", F.expr(_SPARK_BASES).alias("bases"))
    sigs = persist_tracked(
        bases.select("doc_id", "sh", _sig_udf()(F.col("bases")).alias("sig"))
    )
    sizes = sigs.select("doc_id", F.size("sh").alias("n"))
    exploded = sigs.select("doc_id", F.explode("sh").alias("s"))
    a = exploded.alias("a")
    b = exploded.alias("b")
    common = persist_tracked(
        a.join(
            b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id"))
        )
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("c"))
        .join(sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb")), "id_b")
    )
    truep = common.where(3 * F.col("c") >= F.col("na") + F.col("nb")).select(
        "id_a", "id_b", F.lit(1).alias("_t")
    )
    bands = persist_tracked(_mh_band_frame(sigs.select("doc_id", "sig")))
    ba = bands.alias("ba")
    bb = bands.alias("bb")
    cand = (
        ba.join(
            bb,
            (F.col("ba.band") == F.col("bb.band"))
            & (F.col("ba.band_sig") == F.col("bb.band_sig"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select(F.col("ba.doc_id").alias("id_a"), F.col("bb.doc_id").alias("id_b"))
        .distinct()
    )
    agree = F.expr(
        "aggregate(zip_with(siga, sigb, (x, y) -> case when x = y then 1 else 0 end), "
        "0, (acc, v) -> acc + v)"
    )
    scored = (
        cand.join(truep, ["id_a", "id_b"], "left")
        .join(
            sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("siga")),
            "id_a",
        )
        .join(
            sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sigb")),
            "id_b",
        )
        .select(
            F.coalesce(F.col("_t"), F.lit(0)).alias("is_true"),
            F.when(agree * 2 >= _N_HASHES, 1).otherwise(0).alias("est_keep"),
        )
    )
    n_docs = shingled.agg(F.count(F.lit(1)).alias("n_sample_docs"))
    tp = truep.agg(F.count(F.lit(1)).alias("n_true_pairs"))
    cd = scored.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.coalesce(F.sum("is_true"), F.lit(0)).alias("n_candidate_true"),
        F.coalesce(F.sum(F.col("is_true") * F.col("est_keep")), F.lit(0)).alias(
            "n_est_true"
        ),
    )
    return (
        n_docs.crossJoin(tp)
        .crossJoin(cd)
        .select(
            F.col("n_sample_docs").cast("bigint").alias("n_sample_docs"),
            F.col("n_true_pairs").cast("bigint").alias("n_true_pairs"),
            F.col("n_candidates").cast("bigint").alias("n_candidates"),
            F.col("n_candidate_true").cast("bigint").alias("n_candidate_true"),
            F.col("n_est_true").cast("bigint").alias("n_est_true"),
            F.expr("cast((n_candidate_true * 1000000) div n_true_pairs as bigint)").alias(
                "band_recall_ppm"
            ),
            F.expr("cast((n_est_true * 1000000) div n_true_pairs as bigint)").alias(
                "est_recall_ppm"
            ),
            F.expr("cast((n_candidate_true * 1000000) div n_candidates as bigint)").alias(
                "precision_ppm"
            ),
        )
    )


@register(
    "q_dedup_source_matrix",
    oracle=f"""
WITH shingled AS (
  SELECT doc_id, {_SQL_SHINGLES} AS sh FROM documents WHERE len({_SQL_SHINGLES}) > 0
),
sigs AS (SELECT doc_id, sh, {_SQL_SIG} AS sig FROM shingled),
bands AS (
  SELECT doc_id, band,
         md5(array_to_string(list_transform(generate_series(1, {_BAND_ROWS}),
             i -> CAST(sig[band * {_BAND_ROWS} + i] AS VARCHAR)), '|')) AS band_sig
  FROM sigs, (SELECT unnest(generate_series(0, {_N_HASHES // _BAND_ROWS - 1})) AS band)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
),
verified AS (
  SELECT id_a, id_b FROM cand
  JOIN shingled sa ON sa.doc_id = id_a
  JOIN shingled sb ON sb.doc_id = id_b
  WHERE 3 * len(list_intersect(sa.sh, sb.sh)) >= len(sa.sh) + len(sb.sh)
),
labeled AS (
  SELECT LEAST(da.source, db.source) AS source_a,
         GREATEST(da.source, db.source) AS source_b,
         v.id_a
  FROM verified v
  JOIN documents da ON da.doc_id = v.id_a
  JOIN documents db ON db.doc_id = v.id_b
)
SELECT source_a, source_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       MIN(id_a) AS example_id
FROM labeled GROUP BY source_a, source_b
""",
)
def q_dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix — the provenance governance
    report (RefinedWeb/Dolma run it before mixing): which sources copy
    which, counted as verified near-dup pairs (MinHash-LSH candidates,
    exact Jaccard >= 1/2 via the integer cross-multiplication
    3*common >= |A|+|B|) over the RAW corpus — no planted twins, so
    the numbers are the corpus' own duplication structure.  The pair
    (source_a, source_b) is order-normalised (least/greatest), folding
    the symmetric halves; a large diagonal entry means within-source
    re-posts (cheap to dedup at ingest), a large off-diagonal one
    means mirror sites — which changes mixture weights, not just
    dedup.

    Scale shape: identical to q_dedup_minhash_lsh (16 ints/doc
    shuffle, banded candidates, verify on survivors only) plus one
    slim (id, source) join on the verified pairs — a few rows per
    million docs, negligible.  All outputs are integers/strings; no
    FP anywhere."""
    d = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    corpus = _fan_out(d.select("doc_id", "text"), spark, sf_dir)
    shingled = _staged_shingles(corpus, persist=True).where(F.size("sh") > 0)
    bases = shingled.select("doc_id", "sh", F.expr(_SPARK_BASES).alias("bases"))
    sigs = bases.select("doc_id", _sig_udf()(F.col("bases")).alias("sig"))
    bands = persist_tracked(_mh_band_frame(sigs))
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    # verify on hashed shingle arrays — q_dedup_minhash_lsh's r14
    # narrowing (longs intersect, ~4x slimmer attach joins; the
    # _jaccard_edges collision class)
    verify = shingled.select(
        "doc_id",
        F.expr("transform(sh, x -> xxhash64(x))").alias("hs"),
        F.size("sh").alias("n"),
    )
    common = F.size(F.array_intersect(F.col("sa.hs"), F.col("sb.hs")))
    verified = (
        cand.join(verify.alias("sa"), F.col("id_a") == F.col("sa.doc_id"))
        .join(verify.alias("sb"), F.col("id_b") == F.col("sb.doc_id"))
        .where(3 * common >= F.col("sa.n") + F.col("sb.n"))
        .select("id_a", "id_b")
    )
    srcs = d.select("doc_id", "source")
    labeled = (
        verified.join(
            srcs.select(F.col("doc_id").alias("id_a"), F.col("source").alias("sa")),
            "id_a",
        )
        .join(
            srcs.select(F.col("doc_id").alias("id_b"), F.col("source").alias("sb")),
            "id_b",
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "id_a",
        )
    )
    return labeled.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.min("id_a").alias("example_id"),
    )


# -- the dedup methods' options ------------------------------------------
#
# One table for the per-method option rules of the dedup task
# (operators/dedup.py) and of the incremental ingest
# (streaming/materialise.py:dedup_ingest_batch and its stream twin),
# checked by check_dedup_options.  A new method or option adds a row
# here, not another check in either caller.


class _Option(NamedTuple):
    """A method-specific option: its default (a method row's field of
    the same name overrides it), the methods it applies to, what its
    "applies to" error adds after the scope, and the cast of a given
    value."""

    default: object
    methods: tuple
    why: str = ""
    cast: object = None


_OPTIONS = {
    "n_bands": _Option(
        None, ("simhash", "phash"), " (the banded 64-bit signatures)", int
    ),
    "max_hamming": _Option(
        None, ("phash", "simhash"), " (the Hamming-verified methods)", int
    ),
    "max_edit": _Option(_ED_MAX, ("editdistance",), cast=int),
    "block_chars": _Option(_ED_BLOCK, ("editdistance",), cast=int),
    "block_keys": _Option(("prefix", "suffix"), ("editdistance",), cast=tuple),
    "max_compare_chars": _Option(_ED_MAX_COMPARE, ("editdistance",), cast=int),
    "max_ratio": _Option(
        "auto", ("containment",), cast=lambda v: v if v == "auto" else int(v)
    ),
    "spread_check": _Option("measure", ("containment",)),
    "embedding_column": _Option("embedding", ("semantic",)),
    "label_column": _Option("label", ("semantic",)),
    "min_cosine": _Option(0.99, ("semantic",), cast=float),
    "cell_cap": _Option(None, ("semantic",), cast=int),
    "on_decode_error": _Option("fail", ("phash",)),
    "payload_column": _Option("payload", ("phash",)),
    "recall": _Option(
        "measured",
        ("phash",),
        " (simhash is always pigeonhole-exact; minhash uses threshold/verify)",
    ),
    # an ingest argument: the task derives it from index_table
    "band_table": _Option(None, ("minhash",)),
}


class _Method(NamedTuple):
    """A dedup method: ``incremental`` names the engine of its
    ``mode: incremental`` ("ingest" = dedup_ingest_batch, "index" = the
    task's passage fingerprint index, None = full mode only);
    ``rejects`` maps each generic task option the method does not take
    to the one value it accepts (None: none), and ``why`` is the error
    for all of them; ``n_bands`` / ``max_hamming`` are its defaults."""

    incremental: Optional[str] = None
    rejects: dict = {}
    why: str = ""
    n_bands: Optional[int] = None
    max_hamming: Optional[int] = None


_HAMMING_VERIFIED = "is verified by Hamming distance (max_hamming), not threshold/verify"
_VERIFY_EXACT = (
    "verify=exact applies to method=minhash (jaccard already verifies "
    "exactly; exact has no estimate)"
)
_SPANS_REMOVED = "(lines/spans are removed, documents kept)"

DEDUP_METHODS = {
    "exact": _Method(rejects={"verify": "estimate"}, why=_VERIFY_EXACT),
    "minhash": _Method(incremental="ingest"),
    "jaccard": _Method(rejects={"verify": "estimate"}, why=_VERIFY_EXACT),
    "simhash": _Method(
        incremental="ingest",
        rejects={"verify": None, "threshold": None},
        why=f"method=simhash {_HAMMING_VERIFIED}",
        n_bands=8,
        max_hamming=6,
    ),
    "containment": _Method(
        rejects={"verify": None},
        why="method=containment always verifies exactly (overlap coefficient "
        "on candidate shingle sets) — verify does not apply",
    ),
    "semantic": _Method(
        rejects={"verify": None, "threshold": None, "text_column": None},
        why="method=semantic reads embedding_column and thresholds on "
        "min_cosine — threshold/verify/text_column do not apply",
    ),
    "editdistance": _Method(
        incremental="ingest",
        rejects={"verify": None, "threshold": None},
        why="method=editdistance is verified by Levenshtein distance "
        "(max_edit), not threshold/verify",
    ),
    "passages": _Method(
        incremental="index",
        rejects={"keep": "min", "verify": None},
        why=f"keep/verify do not apply to method=passages {_SPANS_REMOVED}",
    ),
    "lines": _Method(
        rejects={"keep": "min", "verify": None},
        why=f"keep/verify do not apply to method=lines {_SPANS_REMOVED}",
    ),
    "phash": _Method(
        incremental="ingest",
        rejects={"verify": None, "threshold": None},
        why=f"method=phash {_HAMMING_VERIFIED}",
        n_bands=4,
        max_hamming=12,
    ),
}

_FULL_MODE_ONLY = (
    "incremental mode requires a method whose per-document state is "
    "self-contained — minhash or simhash (signature index), editdistance "
    "(text index), passages (fingerprint index), or phash (dHash band "
    "index).  lines/containment/semantic ARE corpus-relative (line "
    "document-frequency / size-partition spread / quantizer cells); "
    "jaccard's exact inverted index is the at-scale anti-pattern (use "
    "minhash); exact is one hash-groupBy per run anyway — use mode: full"
)
_SPREAD_CHECKS = ("measure", "warn", "strict", "skip")


def check_dedup_options(method: str, opts: dict, incremental, prefix: str) -> dict:
    """Check ``opts`` (option -> given value, None or absent when not
    given) against ``method``'s row and return the method's options resolved:
    the given values cast, the rest defaulted.  ``incremental`` is False
    (full mode), True (the dedup task's ``mode: incremental``) or
    "ingest" (dedup_ingest_batch and its stream twin: only the methods
    whose state that engine keeps, and errors that quote method names
    as the Python arguments spell them).  Every error is ``prefix`` +
    its text."""
    row = DEDUP_METHODS.get(method)
    ingest = incremental == "ingest"
    if row is None or (ingest and row.incremental != "ingest"):
        raise ValueError(f"{prefix}unknown method {method!r}")
    o = {}
    for name, option in _OPTIONS.items():
        value = opts.get(name)
        if method not in option.methods:
            if value is not None:
                scope = "|".join(f"'{m}'" if ingest else m for m in option.methods)
                raise ValueError(
                    f"{prefix}{name} applies to method={scope} only{option.why}"
                )
        elif value is None:
            o[name] = getattr(row, name, option.default)
        else:
            o[name] = option.cast(value) if option.cast else value
    # the generic options are the task's; the ingest's threshold is the
    # minhash gate with its own default, which the other methods ignore
    if not ingest and any(
        opts.get(name) not in (None, accepted) for name, accepted in row.rejects.items()
    ):
        raise ValueError(prefix + row.why)
    if incremental and row.incremental is None:
        raise ValueError(prefix + _FULL_MODE_ONLY)

    def fail(text: str):
        raise ValueError(prefix + text)

    if "max_hamming" in o and not 0 <= o["max_hamming"] <= 64:
        fail("max_hamming must be in [0, 64]")
    if method == "simhash":
        if not 1 <= o["n_bands"] <= 16 or 64 % o["n_bands"] != 0:
            fail(
                "n_bands must divide 64 and be in [1, 16] (wider band sets "
                "explode the combo probe plan)"
            )
        # the engine's pigeonhole recall argument needs at least one
        # intact band: radius >= n_bands can never work, so fail here,
        # not deep inside the Spark plan build
        if o["max_hamming"] >= o["n_bands"]:
            fail(
                "method=simhash needs max_hamming < n_bands for exact recall "
                f"by pigeonhole (got max_hamming={o['max_hamming']}, "
                f"n_bands={o['n_bands']}) — raise n_bands or lower the radius"
            )
    elif method == "phash":
        if o["on_decode_error"] not in ("fail", "skip"):
            fail("on_decode_error must be fail|skip")
        if not 2 <= o["n_bands"] <= 16 or 64 % o["n_bands"] != 0:
            fail(
                "n_bands must divide 64 and be in [2, 16] (64-bit dHash packs "
                "into equal bands)"
            )
        if o["recall"] not in ("measured", "guaranteed"):
            fail("recall must be measured|guaranteed")
        # recall: guaranteed demands pigeonhole-exact candidates, which
        # holds iff a pair inside the radius always shares an intact
        # band
        if o["recall"] == "guaranteed" and o["max_hamming"] > o["n_bands"] - 1:
            fail(
                "recall=guaranteed needs max_hamming <= n_bands - 1 (got "
                f"max_hamming={o['max_hamming']}, n_bands={o['n_bands']}) — a "
                f"pair at Hamming {o['n_bands']} can land one flip in every "
                "band and miss; raise n_bands (8 => exact to 7) or lower the "
                "radius"
            )
    elif method == "editdistance":
        if o["max_edit"] < 1 or o["block_chars"] < 1:
            fail("max_edit/block_chars must be >= 1")
        if o["max_compare_chars"] < 1:
            fail("max_compare_chars must be >= 1")
        keys = o["block_keys"]
        if (
            not keys
            or len(set(keys)) != len(keys)
            or any(k not in ("prefix", "suffix") for k in keys)
        ):
            fail(
                "block_keys must be a non-repeating subset of [prefix, "
                f"suffix], got {list(keys)!r}"
            )
    elif method == "containment":
        if o["max_ratio"] != "auto" and o["max_ratio"] not in _LE_GATES:
            fail(f"max_ratio must be 'auto' or one of {tuple(sorted(_LE_GATES))}")
        if o["spread_check"] not in _SPREAD_CHECKS:
            fail(f"spread_check must be one of {_SPREAD_CHECKS}")
    elif method == "semantic":
        if o["cell_cap"] is not None and o["cell_cap"] < 1:
            fail("cell_cap must be >= 1")
        if not 0.0 < o["min_cosine"] <= 1.0:
            fail("min_cosine must be in (0, 1]")
    return o
