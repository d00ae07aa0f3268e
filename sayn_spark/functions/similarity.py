"""Similarity search over the embedding column (array<float>, 64-dim):

- brute-force cosine top-k (the correctness baseline)
- random-hyperplane LSH bucketing (the scale path: candidates come from
  one bucket, not all pairs)
- IVF-style coarse quantizer: per-label centroids + nearest-centroid
  assignment

Everything is pure column expressions over arrays (zip_with/aggregate
fold in DOUBLE), JVM-side.  LSH hyperplanes are generated from a
seeded integer table so both engines derive bit-identical planes.

Scale design: brute-force is O(Q x N) — fine for small Q; LSH turns the
candidate set into one bucket (expected N / 2^planes); IVF probes the
nearest centroid's inverted list.  At 100 TB both reduce a cross join
to a bucketed shuffle join on a short key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sayn_spark.functions.registry import T, persist_tracked, register

_N_PLANES = 8

# Deterministic hyperplane table, c(j, i) in [-1, 1], integer-exact in
# both engines: 24 planes x 64 dims of seeded-PCG integers / 1000.
#
# NOT the old affine-LCG-over-the-flat-index family: those "planes"
# were shifted segments of one Weyl-like walk and measured pairwise
# |cos| up to 0.89 (mean 0.32) — far from the ~0.10 of independent
# 64-dim directions — which quietly weakened both the bucket balance
# and the multiprobe independence argument (the same structural-
# degeneracy class as the minhash multipliers fixed in dedup.py; this
# table measures max |cos| 0.37, mean 0.10).  One table generates the
# Spark expression and the DuckDB SQL, so every oracle reproduces the
# buckets bit-for-bit.
_PLANE_TABLE_SIZE = 24
_pl = __import__("numpy").random.default_rng(20211120).integers(
    -1000, 1001, size=(_PLANE_TABLE_SIZE, 64)
)
_PLANES_SPARK_LIT = (
    "array(" + ",".join(
        "array(" + ",".join(str(v) for v in row) + ")" for row in _pl
    ) + ")"
)
_PLANES_SQL_LIT = (
    "[" + ",".join(
        "[" + ",".join(str(v) for v in row) + "]" for row in _pl
    ) + "]"
)
del _pl
_PLANE_SPARK = f"transform(element_at({_PLANES_SPARK_LIT}, j + 1), c -> c / 1000.0D)"
_PLANE_SQL = f"list_transform(({_PLANES_SQL_LIT})[j + 1], c -> c / 1000.0)"

def bucket_int_expr(first_plane: int = 0, n_planes: int = _N_PLANES) -> str:
    """Integer twin of ``bucket_expr``: the same sign-bit bucket packed
    into an INT (bit i = plane first_plane + i), for gates that only
    JOIN on the bucket — an int key joins and explodes (multiprobe bit
    flips become ``b ^ (1 << i)``) far cheaper than the 10-char
    '0'/'1' string, and the packing is a bijection so candidate sets
    are identical.  Keep ``bucket_expr`` for surfaces whose OUTPUT is
    the bucket string (the registered LSH queries' oracle contract)."""
    _check_plane_range(first_plane, n_planes)
    last = first_plane + n_planes - 1
    return (
        f"aggregate(sequence({first_plane}, {last}), 0, (acc, j) -> acc + "
        f"if(aggregate(zip_with(e, {_PLANE_SPARK}, (x, y) -> x * y), 0D, "
        f"(a2, v) -> a2 + v) > 0, shiftleft(1, j - {first_plane}), 0))"
    )


def _check_plane_range(first_plane: int, n_planes: int) -> None:
    if n_planes < 1 or first_plane < 0 or first_plane + n_planes > _PLANE_TABLE_SIZE:
        raise ValueError(
            f"hyperplane family exhausted: planes {first_plane}.."
            f"{first_plane + n_planes - 1} requested but the seeded table "
            f"holds {_PLANE_TABLE_SIZE}; widen the seeded table "
            "(functions/similarity.py) rather than reusing offsets"
        )


def bucket_expr(first_plane: int = 0, n_planes: int = _N_PLANES) -> str:
    """Spark SQL expression: sign-bit bucket string over hyperplanes
    ``first_plane .. first_plane + n_planes - 1`` applied to column
    ``e`` (array<double>).  Different ``first_plane`` offsets yield
    independent LSH tables (dedup.py gates its cosine verifier on two
    of them); the planes come from the seeded table above, so the
    DuckDB oracle can reproduce any table bit-for-bit.

    The seeded family holds exactly ``_PLANE_TABLE_SIZE`` (24) planes;
    ``element_at`` past it would return NULL and silently emit constant
    '0' bits (degenerate buckets), so out-of-range requests raise
    instead.  To scale past 24 planes, widen the seeded table — do NOT
    reuse offsets across tables (that correlates the tables)."""
    _check_plane_range(first_plane, n_planes)
    last = first_plane + n_planes - 1
    return (
        f"array_join(transform(sequence({first_plane}, {last}), j -> "
        f"case when aggregate(zip_with(e, {_PLANE_SPARK}, (x, y) -> x * y), 0D, (acc, v) -> acc + v) > 0 "
        f"then '1' else '0' end), '')"
    )


def bucket_sql(first_plane: int = 0, n_planes: int = _N_PLANES) -> str:
    """DuckDB twin of :func:`bucket_expr` — same plane table, same
    sign-bit bucket string, so an oracle can restate any Spark-side LSH
    gating exactly."""
    _check_plane_range(first_plane, n_planes)
    last = first_plane + n_planes - 1
    return (
        f"array_to_string(list_transform(generate_series({first_plane}, {last}), j -> "
        f"CASE WHEN list_aggregate(list_transform(list_zip(e, {_PLANE_SQL}), p -> p[1] * p[2]), 'sum') > 0 "
        f"THEN '1' ELSE '0' END), '')"
    )


_BUCKET_SPARK = bucket_expr(0, _N_PLANES)
_BUCKET_SQL = bucket_sql(0, _N_PLANES)

_SQL_EMB = "emb AS (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings)"
_SQL_NORMED = "normed AS (SELECT vec_id, label, e, sqrt(list_dot_product(e, e)) AS nrm FROM emb)"


# Row cap for _as_local: its frames are O(k x d) by construction, so a
# frame past this is a misuse that would otherwise OOM the driver or
# the SQL parser at corpus scale.
_AS_LOCAL_MAX_ROWS = 10_000


def _as_local(df: DataFrame, what: str | None = None) -> DataFrame:
    """Collect a PROVABLY TINY frame (centroids, codebooks, query heads
    — all O(k x d) regardless of corpus size) and rebuild it as a
    LocalRelation with the identical schema and values.

    The collect fetches at most ``_AS_LOCAL_MAX_ROWS + 1`` rows; a
    frame with more raises ValueError naming it (``what``, else its
    schema), so a corpus-sized caller fails fast instead of OOMing the
    driver.

    Why (r15, guide §5 / VERDICT r14 item 1): the IVF-PQ queries spent
    their wall on 24-37 SEQUENTIAL driver jobs — every F.broadcast of a
    centroid/codebook/LUT subtree planned its own cluster job, and
    broadcast-build threads racing an unmaterialised persisted corpus
    frame re-evaluated its full lineage (profiled: a 14s duplicated
    cell-assignment stage inside the residual LUT build).  Broadcast
    sides derived from a LocalRelation need no cluster scan (projections
    and filters over a LocalRelation constant-fold; LocalTableScan
    collects driver-side), so the chain collapses to: one collect per
    tiny frame + the actual corpus-wide stages.

    The rebuild goes through an inline ``VALUES`` table, NOT
    createDataFrame: PySpark's createDataFrame(list) parallelizes the
    rows as a pickled Python RDD (``Scan ExistingRDD`` over
    defaultParallelism partitions), so every broadcast build over it
    spun up Python workers on 32 near-empty tasks — measured 7-9s of
    executor per build.  A VALUES list resolves to a Catalyst
    LocalRelation (ResolveInlineTables folds the casts), which is
    driver-local and JVM-only.  Values are exact: doubles round-trip
    through repr + CAST(string AS DOUBLE) (both sides are correctly-
    rounded shortest-repr conversions), longs/strings are lossless."""
    spark = df.sparkSession

    def lit(v, dt) -> str:
        from pyspark.sql.types import ArrayType, DoubleType

        if v is None:
            return f"CAST(NULL AS {dt.simpleString()})"
        if isinstance(dt, ArrayType):
            return "array(" + ", ".join(lit(x, dt.elementType) for x in v) + ")"
        if isinstance(dt, DoubleType):
            import math

            if math.isnan(v):
                return "CAST('NaN' AS DOUBLE)"
            if math.isinf(v):
                sign = "-" if v < 0 else ""
                return f"CAST('{sign}Infinity' AS DOUBLE)"
            return f"CAST('{v!r}' AS DOUBLE)"
        if isinstance(v, str):
            escaped = v.replace("\\", "\\\\").replace("'", "\\'")
            return f"'{escaped}'"
        if isinstance(v, bool) or not isinstance(v, int):
            raise TypeError(f"_as_local: unsupported literal type {dt} for {v!r}")
        return f"CAST({v} AS {dt.simpleString()})"

    rows = df.limit(_AS_LOCAL_MAX_ROWS + 1).collect()
    if len(rows) > _AS_LOCAL_MAX_ROWS:
        raise ValueError(
            f"_as_local({what or df.schema.simpleString()}): more than "
            f"{_AS_LOCAL_MAX_ROWS} rows; it only inlines frames that stay "
            "O(k x d) at any corpus size"
        )
    if not rows:  # VALUES needs >= 1 tuple; an empty local frame is fine
        return spark.createDataFrame([], schema=df.schema)
    cols = ", ".join(f.name for f in df.schema.fields)
    values = ", ".join(
        "(" + ", ".join(lit(r[f.name], f.dataType) for f in df.schema.fields) + ")"
        for r in rows
    )
    return spark.sql(f"SELECT * FROM VALUES {values} AS t({cols})")


def _normed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r14 optimization note: a width-guard fan-out was tried here (the
    # norm fold runs on the single-row-group test scan) and REVERTED —
    # every ANN query branches _normed many ways (cells/codes/LUT/
    # re-rank arms), and the extra exchange ahead of each branch
    # measured +37-68% on the ivfpq lines (A/B in OPTIMIZATION_r14.md)
    return T(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr("cast(embedding as array<double>)").alias("e"),
    ).withColumn("nrm", F.sqrt(F.expr("aggregate(e, 0D, (acc, x) -> acc + x * x)")))


@register(
    "q_ann_bruteforce_topk",
    oracle=f"""
WITH {_SQL_EMB}, {_SQL_NORMED},
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) AS cos
  FROM normed q JOIN normed c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, cos, rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
  FROM scored
) WHERE rk <= 5
""",
)
def q_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 10 query vectors — the ANN baseline.

    Cosines are rounded BEFORE ranking so cross-engine ordering is
    identical; neighbor_id breaks remaining ties.
    """
    n = _normed(spark, sf_dir)
    q = n.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"), F.col("nrm").alias("qn")
    )
    c = n.select(F.col("vec_id").alias("neighbor_id"), "e", "nrm")
    cos = F.round(
        F.expr("aggregate(zip_with(qe, e, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")
        / (F.col("qn") * F.col("nrm")),
        6,
    )
    scored = (
        q.join(c, F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= 5)


@register(
    "q_ann_lsh_buckets",
    oracle=f"""
WITH {_SQL_EMB}
SELECT {_BUCKET_SQL} AS bucket, COUNT(*) AS n_vectors, MIN(vec_id) AS min_vec_id
FROM emb GROUP BY 1
""",
)
def q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucketing: 8 sign bits -> bucket id.

    The bucket histogram is the partition layout an ANN index would
    shuffle by; at 100 TB each bucket is a co-located partition and
    search touches one (or a few probed) buckets.
    """
    emb = T(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("cast(embedding as array<double>)").alias("e")
    )
    return (
        emb.select("vec_id", F.expr(_BUCKET_SPARK).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"), F.min("vec_id").alias("min_vec_id"))
    )


@register(
    "q_ann_lsh_topk",
    oracle=f"""
WITH {_SQL_EMB}, {_SQL_NORMED},
bucketed AS (SELECT vec_id, e, nrm, {_BUCKET_SQL} AS bucket FROM normed),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) AS cos
  FROM bucketed q JOIN bucketed c
    ON q.bucket = c.bucket AND q.vec_id < 10 AND c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, cos, rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
  FROM scored
) WHERE rk <= 3
""",
)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: candidates restricted to the query's bucket,
    then exact cosine top-3 — the two-stage search shape used at scale
    (bucket join replaces the cross join of the brute-force baseline).
    """
    # bucket signs are interpreted HOF work (8 planes x 64 dims per
    # vector); persist so the query/candidate branches share one pass
    n = persist_tracked(
        _normed(spark, sf_dir).withColumn("bucket", F.expr(_BUCKET_SPARK))
    )
    q = n.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qn"),
        "bucket",
    )
    c = n.select(F.col("vec_id").alias("neighbor_id"), "e", "nrm", "bucket")
    cos = F.round(
        F.expr("aggregate(zip_with(qe, e, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")
        / (F.col("qn") * F.col("nrm")),
        6,
    )
    scored = (
        q.join(c, "bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= 3)


# flip bit i (0-based) of an 8-char '0'/'1' bucket string — shared by the
# Spark and DuckDB sides of the multiprobe query below
_FLIP_SPARK = (
    "transform(sequence(0, 7), i -> concat(substring(bucket, 1, i), "
    "if(substring(bucket, i + 1, 1) = '1', '0', '1'), substring(bucket, i + 2, 7)))"
)
_FLIP_SQL = (
    "list_transform(generate_series(0, 7), i -> substr(bucket, 1, i) || "
    "(CASE WHEN substr(bucket, i + 1, 1) = '1' THEN '0' ELSE '1' END) || substr(bucket, i + 2, 7))"
)


@register(
    "q_ann_multiprobe_topk",
    oracle=f"""
WITH {_SQL_EMB}, {_SQL_NORMED},
bucketed AS (SELECT vec_id, e, nrm, {_BUCKET_SQL} AS bucket FROM normed),
probes AS (
  SELECT vec_id, e, nrm, unnest(list_prepend(bucket, {_FLIP_SQL})) AS probe
  FROM bucketed WHERE vec_id < 10
),
scored AS (
  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(p.e, c.e) / (p.nrm * c.nrm), 6) AS cos
  FROM probes p JOIN bucketed c ON c.bucket = p.probe AND c.vec_id <> p.vec_id
)
SELECT query_id, neighbor_id, cos, rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
  FROM scored
) WHERE rk <= 3
""",
)
def q_ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe LSH ANN: each query searches its own bucket PLUS the 8
    buckets at Hamming distance 1 in sign-bit space (flip one plane's
    bit), then exact cosine top-3 over the enlarged candidate set.

    This is the standard recall lever at scale: probing L=9 buckets
    multiplies expected candidates by ~9/2^planes of the corpus while
    recovering neighbors that landed just across one hyperplane — no
    extra index, no extra tables.  The plan stays one equi-join
    (probe = bucket); each (query, neighbor) pair matches at most one
    probe (a vector lives in exactly one bucket), so no dedup is
    needed.  Compare with q_ann_lsh_topk (L=1) and the brute-force
    baseline for the recall/cost trade.
    """
    n = persist_tracked(
        _normed(spark, sf_dir).withColumn("bucket", F.expr(_BUCKET_SPARK))
    )
    q = (
        n.where(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("qe"),
            F.col("nrm").alias("qn"),
            F.explode(F.expr(f"array_prepend({_FLIP_SPARK}, bucket)")).alias("bucket"),
        )
    )
    c = n.select(F.col("vec_id").alias("neighbor_id"), "e", "nrm", "bucket")
    cos = F.round(
        F.expr("aggregate(zip_with(qe, e, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")
        / (F.col("qn") * F.col("nrm")),
        6,
    )
    scored = (
        q.join(c, "bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= 3)


@register(
    "q_ivf_centroids",
    oracle=f"""
WITH {_SQL_EMB},
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
dists AS (
  SELECT v.vec_id, v.label, c.c_label,
         ROUND(list_aggregate(list_transform(list_zip(v.e, c.ce),
               p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'), 8) AS d2
  FROM emb v, cent_arr c
),
assigned AS (
  SELECT vec_id, label, c_label,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rk
  FROM dists
)
SELECT label AS true_label, c_label AS assigned_label, COUNT(*) AS n
FROM assigned WHERE rk = 1 GROUP BY label, c_label
""",
)
def q_ivf_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantizer: per-label centroids (exact decimal mean per
    dimension), then nearest-centroid assignment -> confusion counts.

    Centroid means sum in DECIMAL so partition order doesn't change the
    result; distances fold in DOUBLE and are rounded before the argmin.
    At scale this is k-means step 0: centroids broadcast, one pass.
    """
    emb = T(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.expr("cast(embedding as array<double>)").alias("e")
    )
    comp = emb.select("label", F.posexplode("e").alias("pos", "x"))
    cent = comp.groupBy("label", "pos").agg(
        F.round(
            F.sum(F.col("x").cast("decimal(20,10)")).cast("double") / F.count(F.lit(1)), 8
        ).alias("c")
    )
    cent_arr = cent.groupBy(F.col("label").alias("c_label")).agg(
        F.expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)").alias("ce")
    )
    d2 = F.round(
        F.expr("aggregate(zip_with(e, ce, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"),
        8,
    )
    dists = emb.crossJoin(F.broadcast(cent_arr)).select(
        "vec_id", "label", "c_label", d2.alias("d2")
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "c_label")
    return (
        dists.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .groupBy(F.col("label").alias("true_label"), F.col("c_label").alias("assigned_label"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


_SQL_CENTROIDS = """
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
)"""


def _centroid_arrays(emb: DataFrame) -> DataFrame:
    """(c_label, ce: array<double>) — decimal-exact per-dimension means."""
    comp = emb.select("label", F.posexplode("e").alias("pos", "x"))
    cent = comp.groupBy("label", "pos").agg(
        F.round(
            F.sum(F.col("x").cast("decimal(20,10)")).cast("double") / F.count(F.lit(1)), 8
        ).alias("c")
    )
    return cent.groupBy(F.col("label").alias("c_label")).agg(
        F.expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)").alias("ce")
    )


def _assign_cells(emb: DataFrame, cent: DataFrame, nprobe: int = 1) -> DataFrame:
    """(vec_id, cell) nearest-centroid assignment — broadcast the k
    centroids, fold the squared distance left-to-right, round before
    the argmin, tie-break on the cell label.  ``nprobe`` > 1 keeps the
    n nearest cells per vector (the IVF multi-probe read path)."""
    d2 = F.round(
        F.expr(
            "aggregate(zip_with(e, ce, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"
        ),
        8,
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "c_label")
    out = (
        emb.crossJoin(F.broadcast(cent))
        .select("vec_id", "c_label", d2.alias("d2"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= nprobe)
        .select("vec_id", F.col("c_label").alias("cell"))
    )
    return out


# --- The catalog ANN index (built by operators/ann.py) -----------------

# The index format, declared once: every method stores
# ``{index}_centroids`` and ``{index}_vectors`` (vec_id, cell, e, nrm);
# these are the side tables each method adds.  The build, the
# incremental/stream heal and the search dispatch all derive from here.
_ANN_LAYOUT = {
    "ivf": (),
    "ivfpq": ("_codebook", "_codes"),
    "ivfsq8": ("_sq8grid", "_sq8codes"),
    "ivfbin": ("_sq8grid", "_binwords"),
    "cascade": ("_sq8grid", "_sq8codes", "_binwords"),
}


def _stored_method(db, index: str) -> str:
    """The method ``index`` was built with, read from the catalog: the
    widest layout whose side tables all exist.  A full build drops the
    side tables its method does not own, so at most one layout besides
    ``ivf`` is complete."""
    seen: dict[str, bool] = {}

    def has(suffix: str) -> bool:
        if suffix not in seen:
            seen[suffix] = db.table_exists(f"{index}{suffix}")
        return seen[suffix]

    widest_first = sorted(_ANN_LAYOUT, key=lambda m: -len(_ANN_LAYOUT[m]))
    return next(m for m in widest_first if all(has(s) for s in _ANN_LAYOUT[m]))


def _stored_encoding(spark: SparkSession, index: str) -> str:
    """The encoding the existing ``{index}_codebook`` was built with
    ("vector" for pre-residual indexes that have no enc column)."""
    cb = spark.table(f"{index}_codebook")
    if "enc" not in cb.columns:
        return "vector"
    row = cb.select("enc").first()
    return row["enc"] if row is not None else "vector"


def _pq_subvectors():
    """(s, sub) generator over ``e``: the 8 contiguous 8-dim sub-vectors
    the PQ codebook quantizes, one row each."""
    return F.posexplode(
        F.expr("transform(sequence(0, 7), s -> slice(e, s * 8 + 1, 8))")
    ).alias("s", "sub")


def _probe(
    spark: SparkSession, index: str, queries: DataFrame, nprobe: int
) -> tuple[DataFrame, DataFrame]:
    """Shared search front: ``queries`` (query_id, e) as the (vec_id,
    e: array<double>) frame ``q``, and ``probes`` (query_id, cell) —
    each query's ``nprobe`` nearest cells of ``{index}_centroids``
    (broadcast)."""
    q = queries.select(
        F.col("query_id").alias("vec_id"),
        F.expr("cast(e as array<double>)").alias("e"),
    )
    probes = _assign_cells(q, spark.table(f"{index}_centroids"), nprobe=nprobe).select(
        F.col("vec_id").alias("query_id"), "cell"
    )
    return q, probes


def _shortlist(scored: DataFrame, dist: str, n: int, rk: str = "rk") -> DataFrame:
    """(query_id, neighbor_id): each query's ``n`` nearest candidates by
    ``dist``, ties broken on neighbor_id."""
    w = Window.partitionBy("query_id").orderBy(dist, "neighbor_id")
    return (
        scored.withColumn(rk, F.row_number().over(w))
        .where(F.col(rk) <= n)
        .select("query_id", "neighbor_id")
    )


def _cell_scan(codes: DataFrame, qframe: DataFrame, dist_sql: str, dist: str) -> DataFrame:
    """(query_id, neighbor_id, dist): score the probed cells' code rows
    in place against the broadcast per-(query, cell) frame ``qframe``."""
    return (
        codes.join(F.broadcast(qframe), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.expr(dist_sql).alias(dist))
    )


def _exact_topk(
    spark: SparkSession,
    index: str,
    q: DataFrame,
    cand: DataFrame,
    k: int,
    on: str = "neighbor_id",
) -> DataFrame:
    """Shared search tail: exact cosine of each candidate against
    ``{index}_vectors``, then the top-``k`` window — (query_id,
    neighbor_id, cos, rk<=k) with the engine's determinism contract
    (rounded cosine, unique neighbor_id tie-break).  ``cand`` is a
    tier's (query_id, neighbor_id) shortlist, or — ``on="cell"``, the
    exact path — the (query_id, cell) probes themselves, whose cells
    hold the query's own row."""
    # zero-norm guard, hoisted to the per-QUERY side (r14): a zero-norm
    # query has undefined cosine against everything, so it honestly
    # returns no neighbors — filtered ONCE here, on the tiny query
    # frame, instead of try_divide + NULL-filter on every candidate row.
    # Index-side zero norms cannot occur: ``{index}_vectors`` enforces
    # nrm > 0 at build and ingest (operators/ann.py, streaming
    # ann ingest), so the per-candidate division below is plain.
    qn = q.select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.sqrt(F.expr("aggregate(e, 0D, (acc, x) -> acc + x * x)")).alias("qnrm"),
    ).where(F.col("qnrm") > 0)
    vec = spark.table(f"{index}_vectors").select(
        F.col("vec_id").alias("neighbor_id"), "cell", "e", "nrm"
    )
    # plain division is ANSI-safe here: qnrm > 0 was filtered above and
    # nrm > 0 is the ``{index}_vectors`` invariant (enforced at build
    # and ingest since r14 — one empty doc used to DIVIDE_BY_ZERO-kill
    # every search probing its cell, review r13)
    cos = F.round(
        F.expr("aggregate(zip_with(qe, e, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")
        / (F.col("qnrm") * F.col("nrm")),
        6,
    )
    pairs = cand.join(qn, "query_id").join(vec, on)
    if on == "cell":
        pairs = pairs.where(F.col("neighbor_id") != F.col("query_id"))
    scored = pairs.select("query_id", "neighbor_id", cos.alias("cos"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def ann_index_search(
    spark: SparkSession,
    index: str,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 1,
) -> DataFrame:
    """Top-k cosine search against a catalog ANN index built by the
    ``ann_index`` task (operators/ann.py): ``{index}_centroids``
    (broadcast) route each query to its ``nprobe`` nearest cells, and
    the exact cosine runs only against ``{index}_vectors`` rows in
    those cells — the bucketed inverted file never reshuffles, only
    query rows move.

    ``queries``: (query_id, e: array<double>).  Returns
    (query_id, neighbor_id, cos, rk<=k) with the engine's determinism
    contract (rounded cosine, unique neighbor_id tie-break).
    """
    q, probes = _probe(spark, index, queries, nprobe)
    # no distinct needed: every vector lives in exactly one cell, so a
    # neighbor appears at most once per query even with nprobe > 1
    return _exact_topk(spark, index, q, probes, k, on="cell")


def ann_index_search_pq(
    spark: SparkSession,
    index: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 1,
    shortlist: int = 20,
) -> DataFrame:
    """IVF-PQ search against a catalog index built by the ``ann_index``
    task with ``method: ivfpq``: route each query to its ``nprobe``
    nearest cells (broadcast centroids), ADC-scan only those cells'
    ``{index}_codes`` rows against the query's 16x8 lookup table
    (broadcast, DECIMAL sums), shortlist per query by approximate
    distance, and re-rank the shortlist with exact cosine from
    ``{index}_vectors`` — q_ann_ivfpq_topk's plan over persisted
    tables.  Only 8-small-int code rows move in the wide stage; exact
    vectors are fetched for shortlist rows alone.
    """
    q, probes = _probe(spark, index, queries, nprobe)
    probes = probes.select("query_id", F.col("cell").alias("qcell"))
    # residual-encoded index (enc column on the codebook): the LUT is
    # per (query, probe cell) — distances compare the query's
    # WITHIN-CELL residual against the residual codewords.  Exact for
    # the scanned cell: ||q - (c + r)||^2 = ||(q - c) - r||^2.
    residual = _stored_encoding(spark, index) == "residual"
    cb = spark.table(f"{index}_codebook").drop("enc")
    if residual:
        cent_arr = spark.table(f"{index}_centroids").select(
            F.col("c_label").cast("bigint").alias("qcell"), "ce"
        )
        qres = (
            probes.join(q.select(F.col("vec_id").alias("query_id"), "e"), "query_id")
            .join(F.broadcast(cent_arr), "qcell")
            .select(
                "query_id",
                "qcell",
                F.expr("zip_with(e, ce, (x, y) -> x - y)").alias("e"),
            )
        )
        qsubs = qres.select("query_id", "qcell", _pq_subvectors())
    else:
        qsubs = q.select(F.col("vec_id").alias("query_id"), _pq_subvectors())
    sub_d2 = F.round(
        F.expr(
            "aggregate(zip_with(sub, cw, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"
        ),
        8,
    )
    lut = qsubs.join(F.broadcast(cb), "s").select(
        "query_id",
        *(["qcell"] if residual else []),
        F.col("s").alias("ls"),
        F.col("c").alias("lc"),
        sub_d2.cast("decimal(20,8)").alias("ld2"),
    )
    lut_in_cell = lut if residual else lut.join(probes, "query_id")
    codes = spark.table(f"{index}_codes")
    adc = (
        codes.join(
            F.broadcast(lut_in_cell),
            (F.col("s") == F.col("ls"))
            & (F.col("c") == F.col("lc"))
            & (F.col("cell") == F.col("qcell")),
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("ld2").alias("ad2"))
    )
    return _exact_topk(spark, index, q, _shortlist(adc, "ad2", shortlist), k)


@register(
    "q_ivf_search",
    oracle=f"""
WITH {_SQL_EMB}, {_SQL_NORMED}, {_SQL_CENTROIDS},
assigned AS (
  SELECT vec_id, c_label, ROW_NUMBER() OVER (
           PARTITION BY vec_id
           ORDER BY ROUND(list_aggregate(list_transform(list_zip(n.e, c.ce),
                          p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'), 8), c_label) AS rk
  FROM normed n, cent_arr c
),
cells AS (SELECT vec_id, c_label AS cell FROM assigned WHERE rk = 1),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(qn.e, cn.e) / (qn.nrm * cn.nrm), 6) AS cos
  FROM cells q
  JOIN cells c ON c.cell = q.cell AND q.vec_id < 10 AND c.vec_id <> q.vec_id
  JOIN normed qn ON qn.vec_id = q.vec_id
  JOIN normed cn ON cn.vec_id = c.vec_id
)
SELECT query_id, neighbor_id, cos, rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
  FROM scored
) WHERE rk <= 3
""",
)
def q_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search (the probe path, completing q_ivf_centroids): assign
    every vector to its nearest centroid cell, then answer queries by
    exact top-3 cosine WITHIN the query's cell only.

    At 100 TB: centroids broadcast, cells = shuffle partitioning, each
    query touches 1/k of the data (nprobe=1 here; more probes = union
    of cells).
    """
    n = _normed(spark, sf_dir)
    cent = _centroid_arrays(n.select("label", "e"))
    cells = _assign_cells(n, cent)
    q = (
        cells.where(F.col("vec_id") < 10)
        .join(n, "vec_id")
        .select(F.col("vec_id").alias("query_id"), F.col("e").alias("qe"), F.col("nrm").alias("qn"), "cell")
    )
    c = cells.join(n, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"), "e", "nrm", "cell"
    )
    cos = F.round(
        F.expr("aggregate(zip_with(qe, e, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")
        / (F.col("qn") * F.col("nrm")),
        6,
    )
    scored = (
        q.join(c, "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= 3)


# PQ building blocks shared by q_ann_pq_adc_topk and q_ann_ivfpq_topk:
# 8 subspaces x 8 dims, 16 codewords/subspace from the 16 smallest
# vec_ids, distances rounded to 8dp before argmin, LUT entries DECIMAL
_SQL_PQ = """
subs AS (
  SELECT vec_id, s, e[(s*8+1):(s*8+8)] AS sub
  FROM normed, (SELECT unnest(generate_series(0, 7)) AS s)
),
cb AS (SELECT s, vec_id AS c, sub AS cw FROM subs WHERE vec_id < 16),
enc_d AS (
  SELECT v.vec_id, v.s, cb.c,
         ROUND(list_aggregate(list_transform(list_zip(v.sub, cb.cw),
               p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'), 8) AS d2
  FROM subs v JOIN cb ON cb.s = v.s
),
codes AS (
  SELECT vec_id, s, c FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rk
    FROM enc_d
  ) WHERE rk = 1
),
lut AS (
  SELECT q.vec_id AS query_id, cb.s, cb.c,
         CAST(ROUND(list_aggregate(list_transform(list_zip(q.sub, cb.cw),
              p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'), 8) AS DECIMAL(20,8)) AS d2
  FROM subs q JOIN cb ON cb.s = q.s WHERE q.vec_id < 10
)"""


def _pq_frames(n: DataFrame, head: DataFrame | None = None) -> tuple[DataFrame, DataFrame]:
    """(codes, lut) for the shared PQ design over normed vectors ``n``
    — the DataFrame twin of ``_SQL_PQ``.

    ``head``, when given, is a LocalRelation holding the vec_id < 16
    rows of ``n`` (same columns) — the codebook and per-query LUT then
    derive from local lineage, so their broadcast builds stop
    re-scanning (and racing the cache of) the corpus frame.  The rows
    are by construction the same, so codes/lut values are unchanged."""
    def subs_of(frame: DataFrame) -> DataFrame:
        return frame.select("vec_id", _pq_subvectors())

    subs = subs_of(n)
    hsubs = subs_of(head) if head is not None else subs
    cb = hsubs.where(F.col("vec_id") < 16).select(
        "s", F.col("vec_id").alias("c"), F.col("sub").alias("cw")
    )
    sub_d2 = F.round(
        F.expr(
            "aggregate(zip_with(sub, cw, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"
        ),
        8,
    )
    enc_d = subs.join(F.broadcast(cb), "s").select("vec_id", "s", "c", sub_d2.alias("d2"))
    # min(struct(d2, c)) = argmin with the (d2, c) tie-break, no window
    codes = (
        enc_d.groupBy("vec_id", "s")
        .agg(F.min(F.struct("d2", "c")).alias("m"))
        .select("vec_id", "s", F.col("m.c").alias("c"))
    )
    lut = (
        hsubs.where(F.col("vec_id") < 10)
        .join(F.broadcast(cb), "s")
        .select(
            F.col("vec_id").alias("query_id"),
            "s",
            "c",
            sub_d2.cast("decimal(20,8)").alias("d2"),
        )
    )
    return codes, lut


@register(
    "q_ann_pq_adc_topk",
    oracle=f"""
WITH {_SQL_EMB}, {_SQL_NORMED}, {_SQL_PQ},
adc AS (
  SELECT l.query_id, n.vec_id AS neighbor_id, SUM(l.d2) AS ad2
  FROM codes n JOIN lut l ON l.s = n.s AND l.c = n.c
  WHERE n.vec_id <> l.query_id
  GROUP BY l.query_id, n.vec_id
),
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ad2, neighbor_id) AS rk
    FROM adc
  ) WHERE rk <= 20
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         ROUND(list_dot_product(qn.e, cn.e) / (qn.nrm * cn.nrm), 6) AS cos
  FROM cand
  JOIN normed qn ON qn.vec_id = cand.query_id
  JOIN normed cn ON cn.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, cos, rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
  FROM scored
) WHERE rk <= 5
""",
)
def q_ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC, Jegou et al., PAMI'11): 64-dim vectors split into 8 8-dim
    subspaces, each encoded as its nearest of 16 codewords -> vectors
    compress to 8 small codes; a query scans CODES (one 8-term lookup
    sum per vector), shortlists the top-20 by approximate distance,
    and re-ranks only the shortlist with exact cosine.

    Determinism: the codebook is the 16 smallest vec_ids' subvectors
    (data-derived, reproducible in SQL — real PQ trains it with
    k-means, which is q_kmeans_refine's territory); per-subspace
    distances round to 8dp before the argmin/tie-break, and ADC sums
    in DECIMAL so accumulation order can't reorder the shortlist
    across engines.

    100 TB notes: codes are ~97% smaller than raw vectors — the full
    scan moves 8 small ints/vector instead of 64 doubles; the codebook
    and per-query LUTs (16 x 8 entries each) broadcast; exact vectors
    are fetched ONLY for the per-query shortlist (a semi-join on
    vec_id).  This composes with IVF cells (q_ivf_search) for the
    classic IVF-PQ index: probe a cell, ADC-scan its codes, re-rank.
    """
    n = persist_tracked(_normed(spark, sf_dir))
    head = _as_local(
        n.where(F.col("vec_id") < 16).select("vec_id", "e", "nrm"), "query head"
    )
    codes, lut = _pq_frames(n, head=head)
    adc = (
        codes.join(F.broadcast(lut), ["s", "c"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2").alias("ad2"))
    )
    w_adc = Window.partitionBy("query_id").orderBy("ad2", "neighbor_id")
    cand = (
        adc.withColumn("rk", F.row_number().over(w_adc))
        .where(F.col("rk") <= 20)
        .select("query_id", "neighbor_id")
    )
    qn = head.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"), F.col("nrm").alias("qn")
    )
    cn = n.select(F.col("vec_id").alias("neighbor_id"), "e", "nrm")
    cos = F.round(
        F.expr("aggregate(zip_with(qe, e, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")
        / (F.col("qn") * F.col("nrm")),
        6,
    )
    scored = (
        cand.join(qn, "query_id")
        .join(cn, "neighbor_id")
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= 5)


@register(
    "q_ann_ivfpq_topk",
    oracle=f"""
WITH {_SQL_EMB}, {_SQL_NORMED}, {_SQL_CENTROIDS}, {_SQL_PQ},
assigned AS (
  SELECT vec_id, c_label, ROW_NUMBER() OVER (
           PARTITION BY vec_id
           ORDER BY ROUND(list_aggregate(list_transform(list_zip(n.e, c.ce),
                          p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'), 8), c_label) AS rk
  FROM normed n, cent_arr c
),
cells AS (SELECT vec_id, c_label AS cell FROM assigned WHERE rk = 1),
adc AS (
  SELECT l.query_id, n.vec_id AS neighbor_id, SUM(l.d2) AS ad2
  FROM codes n
  JOIN cells cn ON cn.vec_id = n.vec_id
  JOIN lut l ON l.s = n.s AND l.c = n.c
  JOIN cells qc ON qc.vec_id = l.query_id AND qc.cell = cn.cell
  WHERE n.vec_id <> l.query_id
  GROUP BY l.query_id, n.vec_id
),
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ad2, neighbor_id) AS rk
    FROM adc
  ) WHERE rk <= 20
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         ROUND(list_dot_product(qn.e, cn.e) / (qn.nrm * cn.nrm), 6) AS cos
  FROM cand
  JOIN normed qn ON qn.vec_id = cand.query_id
  JOIN normed cn ON cn.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, cos, rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
  FROM scored
) WHERE rk <= 5
""",
)
def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full IVF-PQ index in one plan: coarse-quantize every vector
    to its nearest centroid cell (IVF, as q_ivf_search), ADC-scan only
    the CODES of the query's own cell (PQ, as q_ann_pq_adc_topk),
    shortlist top-20 per query, re-rank the shortlist with exact
    cosine — the textbook billion-scale ANN serving shape (Jegou et
    al.; FAISS IVF,PQ).

    100 TB notes: cells bound the scan to ~1/k of the corpus per query
    (nprobe=1; more probes union cells), and within the cell only
    8-code rows move — centroids, codebook, and per-query LUTs all
    broadcast, so the single wide operation is the per-(query,
    neighbor) ADC aggregate over the probed cell.

    Job-chain shape (r15): the centroid table and the 16-head rows
    (codebook ⊇ the 10 queries) are O(k x d) at ANY corpus size, so
    they collect ONCE each and every broadcast side (codebook, query
    LUT, query cells, the exact re-rank's query vectors) derives from
    LocalRelations — no broadcast build plans a cluster scan or races
    the corpus cache.  The head collect doubles as the eager
    materialisation of ``n``'s cache, so the corpus-wide arms
    (cell assignment, code encoding, the re-rank's neighbor side) read
    the cache instead of re-running the norm fold.
    """
    n = persist_tracked(_normed(spark, sf_dir))
    head = _as_local(
        n.where(F.col("vec_id") < 16).select("vec_id", "e", "nrm"), "query head"
    )
    cent = _as_local(_centroid_arrays(n.select("label", "e")), "label centroids")
    d2 = F.round(
        F.expr(
            "aggregate(zip_with(e, ce, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"
        ),
        8,
    )
    w_assign = Window.partitionBy("vec_id").orderBy("d2", "c_label")

    def assign(frame: DataFrame) -> DataFrame:
        return (
            frame.crossJoin(F.broadcast(cent))
            .select("vec_id", "c_label", d2.alias("d2"))
            .withColumn("rk", F.row_number().over(w_assign))
            .where(F.col("rk") == 1)
            .select("vec_id", F.col("c_label").alias("cell"))
        )

    cells = assign(n)  # corpus arm: consumed once by the ADC join
    codes, lut = _pq_frames(n, head=head)
    # query cells from the SAME argmin over the local head rows —
    # per-vector assignment is independent, so filtering before the
    # window equals filtering after it
    qcells = assign(head.where(F.col("vec_id") < 10)).select(
        F.col("vec_id").alias("query_id"), F.col("cell").alias("qcell")
    )
    # rename the LUT's join keys so the three-way condition stays
    # unambiguous against the codes side
    lut_in_cell = (
        lut.join(F.broadcast(qcells), "query_id")
        .select(
            "query_id",
            F.col("s").alias("ls"),
            F.col("c").alias("lc"),
            F.col("d2").alias("ld2"),
            "qcell",
        )
    )
    adc = (
        codes.join(cells, "vec_id")
        .join(
            F.broadcast(lut_in_cell),
            (F.col("s") == F.col("ls"))
            & (F.col("c") == F.col("lc"))
            & (F.col("cell") == F.col("qcell")),
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("ld2").alias("ad2"))
    )
    w_adc = Window.partitionBy("query_id").orderBy("ad2", "neighbor_id")
    cand = (
        adc.withColumn("rk", F.row_number().over(w_adc))
        .where(F.col("rk") <= 20)
        .select("query_id", "neighbor_id")
    )
    qn = head.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"), F.col("nrm").alias("qn")
    )
    cn = n.select(F.col("vec_id").alias("neighbor_id"), "e", "nrm")
    cos = F.round(
        F.expr("aggregate(zip_with(qe, e, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")
        / (F.col("qn") * F.col("nrm")),
        6,
    )
    scored = (
        cand.join(qn, "query_id")
        .join(cn, "neighbor_id")
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= 5)


@register(
    "q_embedding_quantization",
    oracle=f"""
WITH {_SQL_EMB},
comp AS (
  SELECT vec_id, i, e[i] AS x FROM emb, (SELECT unnest(generate_series(1, 64)) AS i)
),
dim_range AS (
  SELECT i, MIN(x) AS lo, MAX(x) AS hi FROM comp GROUP BY i
),
quant AS (
  SELECT c.vec_id, c.i,
         CASE WHEN r.hi = r.lo THEN 0
              ELSE CAST(ROUND((c.x - r.lo) / (r.hi - r.lo) * 255) AS BIGINT) END AS q,
         c.x, r.lo, r.hi
  FROM comp c JOIN dim_range r ON r.i = c.i
),
err AS (
  SELECT vec_id,
         MAX(ABS(x - (lo + q * (hi - lo) / 255))) AS max_err
  FROM quant GROUP BY vec_id
)
SELECT COUNT(*) AS n_vectors,
       CAST(SUM(CASE WHEN ROUND(max_err, 6) <= 0.02 THEN 1 ELSE 0 END) AS BIGINT) AS n_within_tolerance,
       ROUND(MAX(max_err), 6) AS worst_err
FROM err
""",
)
def q_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar quantization of the embedding column: per-dimension
    min/max ranges -> 0..255 codes -> reconstruction error bounds.

    The memory-reduction step before ANN at 100 TB (4 bytes -> 1 byte
    per dim).  Error metrics use MAX (order-independent) so the check
    is exact; per-dim ranges are global min/max aggregates.
    """
    emb = T(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("cast(embedding as array<double>)").alias("e")
    )
    comp = emb.select("vec_id", F.posexplode("e").alias("i", "x"))
    rng = comp.groupBy("i").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    q = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.round((F.col("x") - F.col("lo")) / (F.col("hi") - F.col("lo")) * 255).cast("bigint")
    )
    quant = comp.join(F.broadcast(rng), "i").select(
        "vec_id", "x", "lo", "hi", q.alias("q")
    )
    recon = F.col("lo") + F.col("q") * (F.col("hi") - F.col("lo")) / 255
    err = quant.groupBy("vec_id").agg(F.max(F.abs(F.col("x") - recon)).alias("max_err"))
    return err.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(F.when(F.round("max_err", 6) <= 0.02, 1).otherwise(0)).alias("n_within_tolerance"),
        F.round(F.max("max_err"), 6).alias("worst_err"),
    )


@register(
    "q_kmeans_refine",
    oracle=f"""
WITH {_SQL_EMB}, {_SQL_CENTROIDS},
assigned AS (
  SELECT vec_id, c_label, ROW_NUMBER() OVER (
           PARTITION BY vec_id
           ORDER BY ROUND(list_aggregate(list_transform(list_zip(v.e, c.ce),
                          p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'), 8), c_label) AS rk
  FROM emb v, cent_arr c
),
cells AS (SELECT vec_id, c_label AS cell FROM assigned WHERE rk = 1),
comp1 AS (
  SELECT cell, i, e[i] AS x
  FROM emb JOIN cells USING (vec_id), (SELECT unnest(generate_series(1, 64)) AS i)
),
cent1 AS (
  SELECT cell, i,
         ROUND(CAST(SUM(CAST(x AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*), 8) AS c1
  FROM comp1 GROUP BY cell, i
),
cent1_arr AS (SELECT cell, list(c1 ORDER BY i) AS ce1 FROM cent1 GROUP BY cell),
members AS (SELECT cell, COUNT(*) AS n_members FROM cells GROUP BY cell)
SELECT m.cell AS cluster, m.n_members,
       ROUND(sqrt(ROUND(list_aggregate(list_transform(list_zip(n1.ce1, c0.ce),
             p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'), 8)), 6) AS shift
FROM members m
JOIN cent1_arr n1 ON n1.cell = m.cell
JOIN cent_arr c0 ON c0.c_label = m.cell
""",
)
def q_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of k-means over the embeddings: seed centroids
    = per-label means (step 0), assign every vector to its nearest
    centroid, recompute centroids from the assignment, and report per
    cluster the member count and how far the centroid moved.

    Determinism contract: centroid means sum in DECIMAL and round to 8
    before use; squared distances fold left-to-right over the dimension
    array (zip_with/aggregate = list_zip/list_aggregate) and round
    before argmin/sqrt.  At 100 TB each iteration is one broadcast
    (k x 64 doubles) + one shuffle (groupBy cluster,dim) — the classic
    scalable k-means loop; further iterations repeat this block.
    """
    emb = T(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.expr("cast(embedding as array<double>)").alias("e")
    )
    cent0 = _centroid_arrays(emb.select("label", "e"))
    cells = _assign_cells(emb, cent0)
    assigned = emb.join(cells, "vec_id").select(F.col("cell").alias("label"), "e")
    cent1 = _centroid_arrays(assigned).select(
        F.col("c_label").alias("cell"), F.col("ce").alias("ce1")
    )
    members = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n_members"))
    shift = F.round(
        F.sqrt(
            F.round(
                F.expr(
                    "aggregate(zip_with(ce1, ce, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"
                ),
                8,
            )
        ),
        6,
    )
    return (
        members.join(cent1, "cell")
        .join(cent0, F.col("cell") == F.col("c_label"))
        .select(F.col("cell").alias("cluster"), "n_members", shift.alias("shift"))
    )


_GRAM_D = 8  # leading sub-block of the 64-dim Gram matrix that crosses engines


@register(
    "q_embedding_gram",
    oracle=f"""
WITH q AS (
  SELECT list_transform(embedding[1:{_GRAM_D}],
                        x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS qv
  FROM embeddings
)
SELECT i, j, CAST(SUM(qv[i + 1] * qv[j + 1]) AS BIGINT) AS gram
FROM q,
     (SELECT unnest(generate_series(0, {_GRAM_D - 1})) AS i),
     (SELECT unnest(generate_series(0, {_GRAM_D - 1})) AS j)
WHERE i <= j
GROUP BY i, j
""",
)
def q_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram matrix X'X — the one-pass building block of
    distributed PCA, ridge regression and linear probes over an
    embedding corpus: each partition accumulates a local d x d partial
    with one numpy matmul, and only those tiny matrices shuffle
    (d^2 cells per partition, independent of row count — at 100 TB the
    reduction is d^2 * n_partitions values, never the vectors).

    Embeddings are quantised to integer 1e-4 steps via the
    deterministic floor(x * 10000 + 0.5) (float->double widening and
    one double multiply are IEEE-identical in both engines), so the
    Gram sums are exact integers; the upper-triangle {_GRAM_D}x{_GRAM_D}
    block crosses engines.
    """
    import numpy as np
    import pandas as pd
    from typing import Iterator

    emb = T(spark, sf_dir, "embeddings").select("embedding")

    def _partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        G = np.zeros((_GRAM_D, _GRAM_D), dtype=np.int64)
        seen = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            seen = True
            M = np.stack(pdf["embedding"].to_numpy())[:, :_GRAM_D].astype(np.float64)
            Q = np.floor(M * 10000 + 0.5).astype(np.int64)
            G += Q.T @ Q
        if seen:
            i, j = np.triu_indices(_GRAM_D)
            yield pd.DataFrame({"i": i.astype("int32"), "j": j.astype("int32"), "g": G[i, j]})

    return (
        emb.mapInPandas(_partial, schema="i int, j int, g long")
        .groupBy("i", "j")
        .agg(F.sum("g").alias("gram"))
    )


@register(
    "q_ann_ivfpq_residual_topk",
    oracle=f"""
WITH {_SQL_EMB}, {_SQL_NORMED}, {_SQL_CENTROIDS},
assigned AS (
  SELECT vec_id, c_label, ROW_NUMBER() OVER (
           PARTITION BY vec_id
           ORDER BY ROUND(list_aggregate(list_transform(list_zip(n.e, c.ce),
                          p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'), 8), c_label) AS rk
  FROM normed n, cent_arr c
),
cells AS (SELECT vec_id, c_label AS cell FROM assigned WHERE rk = 1),
res AS (
  SELECT n.vec_id, cl.cell,
         list_transform(list_zip(n.e, c.ce), p -> p[1] - p[2]) AS re
  FROM normed n
  JOIN cells cl ON cl.vec_id = n.vec_id
  JOIN cent_arr c ON c.c_label = cl.cell
),
rsubs AS (
  SELECT vec_id, cell, s, re[(s*8+1):(s*8+8)] AS sub
  FROM res, (SELECT unnest(generate_series(0, 7)) AS s)
),
rcb AS (SELECT s, vec_id AS c, sub AS cw FROM rsubs WHERE vec_id < 16),
enc_d AS (
  SELECT v.vec_id, v.s, rcb.c,
         ROUND(list_aggregate(list_transform(list_zip(v.sub, rcb.cw),
               p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'), 8) AS d2
  FROM rsubs v JOIN rcb ON rcb.s = v.s
),
codes AS (
  SELECT vec_id, s, c FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rk
    FROM enc_d
  ) WHERE rk = 1
),
lut AS (
  SELECT q.vec_id AS query_id, rcb.s, rcb.c,
         CAST(ROUND(list_aggregate(list_transform(list_zip(q.sub, rcb.cw),
              p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'), 8) AS DECIMAL(20,8)) AS d2
  FROM rsubs q JOIN rcb ON rcb.s = q.s WHERE q.vec_id < 10
),
adc AS (
  SELECT l.query_id, n.vec_id AS neighbor_id, SUM(l.d2) AS ad2
  FROM codes n
  JOIN cells cn ON cn.vec_id = n.vec_id
  JOIN lut l ON l.s = n.s AND l.c = n.c
  JOIN cells qc ON qc.vec_id = l.query_id AND qc.cell = cn.cell
  WHERE n.vec_id <> l.query_id
  GROUP BY l.query_id, n.vec_id
),
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ad2, neighbor_id) AS rk
    FROM adc
  ) WHERE rk <= 20
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         ROUND(list_dot_product(qn.e, cn.e) / (qn.nrm * cn.nrm), 6) AS cos
  FROM cand
  JOIN normed qn ON qn.vec_id = cand.query_id
  JOIN normed cn ON cn.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, cos, rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
  FROM scored
) WHERE rk <= 5
""",
)
def q_ann_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding (the FAISS IVFPQ default; Jegou
    et al., PAMI'11 §V): the PQ layer quantizes ``e - centroid(cell)``
    instead of the raw vector, so codewords only span within-cell
    offsets — a strictly finer quantization of the region the ADC scan
    actually visits.  Identity that makes the LUT exact for the probed
    cell: ``||q - (c + r)||^2 = ||(q - c) - r||^2``.  With nprobe=1
    each query's residual is taken against its OWN cell's centroid, so
    the per-query LUT stays a single 16x8 broadcast table, exactly as
    in q_ann_ivfpq_topk — the residual subtraction is the only new
    arithmetic (exact double subtraction, no rounding added).

    The ann_index task persists this design (``encode: residual``);
    this query carries the oracle evidence for the residual ADC path
    the way q_ann_ivfpq_topk does for the vector path.

    100 TB notes: identical movement profile to q_ann_ivfpq_topk —
    centroids/codebook/LUTs broadcast, only 8-code rows move in the
    wide stage; the residual subtraction is map-side against the
    broadcast centroid table and never materialises a second copy of
    the vectors.

    Job-chain shape (r15, as q_ann_ivfpq_topk): centroids and the
    16-head rows collect once (O(k x d) at any scale) and the residual
    codebook + query LUT derive from a LOCAL twin of the residual
    pipeline (same expressions over the same rows — cell assignment is
    per-vector, so the head's local argmin equals the corpus argmin
    filtered).  Before this, the rcb/LUT broadcast builds raced the
    unmaterialised cells cache and re-evaluated the full cell
    -assignment window — profiled as a 14s duplicated stage inside a
    3.5s-wall query.
    """
    n = persist_tracked(_normed(spark, sf_dir))
    head = _as_local(
        n.where(F.col("vec_id") < 16).select("vec_id", "e", "nrm"), "query head"
    )
    cent = _as_local(_centroid_arrays(n.select("label", "e")), "label centroids")
    d2 = F.round(
        F.expr(
            "aggregate(zip_with(e, ce, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"
        ),
        8,
    )
    w_assign = Window.partitionBy("vec_id").orderBy("d2", "c_label")

    def assign(frame: DataFrame) -> DataFrame:
        return (
            frame.crossJoin(F.broadcast(cent))
            .select("vec_id", "c_label", d2.alias("d2"))
            .withColumn("rk", F.row_number().over(w_assign))
            .where(F.col("rk") == 1)
            .select("vec_id", F.col("c_label").alias("cell"))
        )

    def residual_subs(frame: DataFrame, cells_of: DataFrame) -> DataFrame:
        res = (
            frame.join(cells_of, "vec_id")
            .join(F.broadcast(cent), F.col("cell") == F.col("c_label"))
            .select(
                "vec_id",
                "cell",
                F.expr("zip_with(e, ce, (x, y) -> x - y)").alias("re"),
            )
        )
        return res.select(
            "vec_id",
            "cell",
            F.posexplode(
                F.expr("transform(sequence(0, 7), s -> slice(re, s * 8 + 1, 8))")
            ).alias("s", "sub"),
        )

    rsubs = residual_subs(n, assign(n))  # corpus arm
    hsubs = residual_subs(head, assign(head))  # local twin, 16 rows
    rcb = hsubs.where(F.col("vec_id") < 16).select(
        "s", F.col("vec_id").alias("c"), F.col("sub").alias("cw")
    )
    sub_d2 = F.round(
        F.expr(
            "aggregate(zip_with(sub, cw, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"
        ),
        8,
    )
    enc_d = rsubs.join(F.broadcast(rcb), "s").select(
        "vec_id", "cell", "s", "c", sub_d2.alias("d2")
    )
    codes = (
        enc_d.groupBy("vec_id", "cell", "s")
        .agg(F.min(F.struct("d2", "c")).alias("m"))
        .select("vec_id", "cell", "s", F.col("m.c").alias("c"))
    )
    lut_in_cell = (
        hsubs.where(F.col("vec_id") < 10)
        .join(F.broadcast(rcb), "s")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("cell").alias("qcell"),
            F.col("s").alias("ls"),
            F.col("c").alias("lc"),
            sub_d2.cast("decimal(20,8)").alias("ld2"),
        )
    )
    adc = (
        codes.join(
            F.broadcast(lut_in_cell),
            (F.col("s") == F.col("ls"))
            & (F.col("c") == F.col("lc"))
            & (F.col("cell") == F.col("qcell")),
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("ld2").alias("ad2"))
    )
    w_adc = Window.partitionBy("query_id").orderBy("ad2", "neighbor_id")
    cand = (
        adc.withColumn("rk", F.row_number().over(w_adc))
        .where(F.col("rk") <= 20)
        .select("query_id", "neighbor_id")
    )
    qn = head.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"), F.col("nrm").alias("qn")
    )
    cn = n.select(F.col("vec_id").alias("neighbor_id"), "e", "nrm")
    cos = F.round(
        F.expr("aggregate(zip_with(qe, e, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")
        / (F.col("qn") * F.col("nrm")),
        6,
    )
    scored = (
        cand.join(qn, "query_id")
        .join(cn, "neighbor_id")
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= 5)


# --- SQ8 symmetric search (the scalar-quantization ANN path) ----------


def sq8_range_row(emb: DataFrame) -> DataFrame:
    """1-row (lo_a, hi_a) frame of per-dimension min/max over an
    (vec_id, e array<double>) corpus — the trained SQ8 grid
    (q_embedding_quantization's ranges as broadcastable arrays)."""
    comp = emb.select(F.posexplode("e").alias("i", "x"))
    rng = comp.groupBy("i").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    return rng.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(i, lo))), s -> s.lo)"
        ).alias("lo_a"),
        F.expr(
            "transform(array_sort(collect_list(struct(i, hi))), s -> s.hi)"
        ).alias("hi_a"),
    )


def sq8_codes_col(e: str = "e", dims: int | None = None):
    """0..255 code array for a vector column against bound lo_a/hi_a
    arrays — a row-local fold (no explode): the encode step never
    shuffles."""
    n = str(int(dims)) if dims is not None else f"size({e})"
    return F.expr(
        f"transform(sequence(1, {n}), j -> "
        f"case when element_at(hi_a, j) = element_at(lo_a, j) then cast(0 as bigint) "
        f"else cast(round((element_at({e}, j) - element_at(lo_a, j)) "
        f"/ (element_at(hi_a, j) - element_at(lo_a, j)) * 255) as bigint) end)"
    )


def _sq8_encode(frame: DataFrame, grid: DataFrame, out: str = "c", keep=None) -> DataFrame:
    """``keep`` (default: every column but ``e``) plus ``out``, the SQ8
    codes of ``frame.e`` on the 1-row (lo_a, hi_a) ``grid`` (broadcast)
    — the one encoder behind the SQ8 tables, their heal and the query
    side of every SQ8 and binary search."""
    if keep is None:
        keep = [c for c in frame.columns if c != "e"]
    return frame.crossJoin(F.broadcast(grid)).select(*keep, sq8_codes_col().alias(out))


_SQ8_D2 = (
    "cast(aggregate(zip_with(qc, cc, (a, b) -> (a - b) * (a - b)), "
    "cast(0 as bigint), (acc, v) -> acc + v) as bigint)"
)


@register(
    "q_ann_sq8_topk",
    oracle=f"""
WITH {_SQL_EMB},
comp AS (
  SELECT vec_id, i, e[i] AS x FROM emb, (SELECT unnest(generate_series(1, 64)) AS i)
),
dim_range AS (SELECT i, MIN(x) AS lo, MAX(x) AS hi FROM comp GROUP BY i),
rngarr AS (
  SELECT list(lo ORDER BY i) AS lo_a, list(hi ORDER BY i) AS hi_a FROM dim_range
),
codes AS (
  SELECT vec_id,
         list_transform(generate_series(1, 64), j ->
           CASE WHEN r.hi_a[j] = r.lo_a[j] THEN CAST(0 AS BIGINT)
                ELSE CAST(ROUND((e[j] - r.lo_a[j]) / (r.hi_a[j] - r.lo_a[j]) * 255)
                          AS BIGINT) END) AS c
  FROM emb, rngarr r
),
scored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(generate_series(1, 64),
              j -> (q.c[j] - n.c[j]) * (q.c[j] - n.c[j]))) AS BIGINT) AS d2
  FROM codes q JOIN codes n ON q.vec_id < 10 AND n.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, d2, rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, neighbor_id) AS rk
  FROM scored
) WHERE rk <= 5
""",
)
def q_ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric SQ8 search: corpus AND queries quantized on the same
    per-dimension 0..255 grid (q_embedding_quantization's ranges),
    distances as integer squared L2 over the codes — FAISS's
    scalar-quantizer index family, the 4x-memory-compression
    alternative to PQ when recall must stay near-exact.

    Because both sides are integer codes, every distance is an exact
    BIGINT — ranking has no FP boundary at all (the only rounding in
    the pipeline is the quantizer's own grid assignment, shared with
    the oracle).

    Scale shape: the trained grid is one 1-row broadcast (two scalar
    aggregates over the corpus — or load a persisted grid and skip the
    pass); encoding is a row-local fold (no explode — codes never
    shuffle to be built); search broadcasts only the 10 quantized
    query rows against the code table, k results per partition fold
    into the final top-k.  At 100 TB the code table is 64 bytes/vector
    vs 256 for float32 — the whole index fits where a quarter of the
    raw vectors would.
    """
    emb = T(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("cast(embedding as array<double>)").alias("e")
    )
    rng = sq8_range_row(emb)
    codes = emb.crossJoin(F.broadcast(rng)).select(
        "vec_id", sq8_codes_col().alias("c")
    )
    q = codes.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("c").alias("qc")
    )
    n = codes.select(F.col("vec_id").alias("neighbor_id"), F.col("c").alias("cc"))
    scored = q.join(n, F.col("neighbor_id") != F.col("query_id")).select(
        "query_id", "neighbor_id", F.expr(_SQ8_D2).alias("d2")
    )
    w = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= 5)


def ann_index_search_sq8(
    spark: SparkSession,
    index: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 1,
    shortlist: int = 20,
) -> DataFrame:
    """IVF-SQ8 search against a catalog index built by the ``ann_index``
    task with ``method: ivfsq8``: route each query to its ``nprobe``
    nearest cells (broadcast centroids), quantize the query on the
    index's frozen per-dimension grid (``{index}_sq8grid``, one
    broadcast row), scan only those cells' ``{index}_sq8codes`` rows
    with the SYMMETRIC integer squared-L2 of q_ann_sq8_topk (every
    approximate distance is an exact BIGINT — no FP boundary in the
    wide stage), shortlist per query, and re-rank the shortlist with
    exact cosine from ``{index}_vectors``.

    Scale: codes are 1 byte/dim (4x under float32) and bucketed by
    cell, so the wide scan reads nprobe/n_cells of a quarter-sized
    table in place; only query rows and the shortlist move.
    """
    q, probes = _probe(spark, index, queries, nprobe)
    qcodes = _sq8_encode(
        q, spark.table(f"{index}_sq8grid"), "qc", [F.col("vec_id").alias("query_id")]
    ).join(probes, "query_id")
    codes = spark.table(f"{index}_sq8codes").select(
        F.col("vec_id").alias("neighbor_id"), "cell", F.col("c").alias("cc")
    )
    scored = _cell_scan(codes, qcodes, _SQ8_D2, "d2")
    return _exact_topk(spark, index, q, _shortlist(scored, "d2", shortlist), k)


# --- Binary (1-bit) quantization + packed Hamming search ---------------

_BQ_WORDS = ((1, 32), (33, 64))  # two 32-bit words per 64-dim vector


def _bq_pack_expr(code_col: str, lo: int, hi: int) -> str:
    """BIGINT word packing bits lo..hi of an SQ8 code array: bit j set
    iff code >= 128 (the grid midpoint), laid out MSB-first so both
    engines agree on the word value."""
    return (
        f"aggregate(sequence({lo}, {hi}), cast(0 as bigint), (acc, j) -> "
        f"acc + case when element_at({code_col}, j) >= 128 "
        f"then shiftleft(cast(1 as bigint), {hi} - j) else cast(0 as bigint) end)"
    )


def _bq_pack_sql(code_col: str, lo: int, hi: int) -> str:
    return (
        f"CAST(list_sum(list_transform(generate_series({lo}, {hi}), j -> "
        f"CASE WHEN {code_col}[j] >= 128 THEN (CAST(1 AS BIGINT) << ({hi} - j)) "
        f"ELSE 0 END)) AS BIGINT)"
    )


def _bq_words(codes: DataFrame, code: str = "c", prefix: str = "w") -> DataFrame:
    """Every column of ``codes`` but ``code``, plus ``{prefix}1`` and
    ``{prefix}2``: the SQ8 code array packed into two BIGINT words of
    sign bits (code >= 128) — the one binary encoder."""
    keep = [c for c in codes.columns if c != code]
    return codes.select(
        *keep,
        *[
            F.expr(_bq_pack_expr(code, lo, hi)).alias(f"{prefix}{i + 1}")
            for i, (lo, hi) in enumerate(_BQ_WORDS)
        ],
    )


def binary_codes_frame(emb: DataFrame, rng: DataFrame | None = None) -> DataFrame:
    """(vec_id, w1, w2): 64 sign bits against the SQ8 grid midpoint,
    packed into two BIGINT words — 16 bytes per vector, a 16x
    compression under float32.  Bits derive from the integer SQ8 codes
    (code >= 128), so the binarisation carries no FP surface of its
    own beyond the shared grid assignment.

    ``rng``, when given, is a pre-trained 1-row grid (sq8_range_row of
    the TRAINING corpus) — callers that binarise a query slice against
    the corpus grid must pass it, or the slice would train its own."""
    if rng is None:
        rng = sq8_range_row(emb)
    return _bq_words(_sq8_encode(emb, rng, keep=["vec_id"]))


_BQ_HAM = (
    "cast(bit_count(qw1 ^ w1) + bit_count(qw2 ^ w2) as int)"
)

_BQ_SHORTLIST = 20
_BQ_K = 5


@register(
    "q_ann_binary_hamming",
    oracle=f"""
WITH {_SQL_EMB}, {_SQL_NORMED},
comp AS (
  SELECT vec_id, i, e[i] AS x FROM emb, (SELECT unnest(generate_series(1, 64)) AS i)
),
dim_range AS (SELECT i, MIN(x) AS lo, MAX(x) AS hi FROM comp GROUP BY i),
rngarr AS (
  SELECT list(lo ORDER BY i) AS lo_a, list(hi ORDER BY i) AS hi_a FROM dim_range
),
codes AS (
  SELECT vec_id,
         list_transform(generate_series(1, 64), j ->
           CASE WHEN r.hi_a[j] = r.lo_a[j] THEN CAST(0 AS BIGINT)
                ELSE CAST(ROUND((e[j] - r.lo_a[j]) / (r.hi_a[j] - r.lo_a[j]) * 255)
                          AS BIGINT) END) AS c
  FROM emb, rngarr r
),
words AS (
  SELECT vec_id, {_bq_pack_sql("c", 1, 32)} AS w1, {_bq_pack_sql("c", 33, 64)} AS w2
  FROM codes
),
ham AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         CAST(bit_count(xor(q.w1, n.w1)) + bit_count(xor(q.w2, n.w2)) AS INT) AS ham
  FROM words q JOIN words n ON q.vec_id < 10 AND n.vec_id <> q.vec_id
),
shortlist AS (
  SELECT query_id, neighbor_id, ham FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ham, neighbor_id) AS rkh
    FROM ham
  ) WHERE rkh <= {_BQ_SHORTLIST}
),
rerank AS (
  SELECT s.query_id, s.neighbor_id, s.ham,
         ROUND(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) AS cos
  FROM shortlist s
  JOIN normed q ON q.vec_id = s.query_id
  JOIN normed c ON c.vec_id = s.neighbor_id
)
SELECT query_id, neighbor_id, ham, cos, rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
  FROM rerank
) WHERE rk <= {_BQ_K}
""",
)
def q_ann_binary_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized ANN: 1 bit per dimension (sign against the SQ8
    grid midpoint) packed into two 64-bit words, Hamming-distance
    shortlist via ``bit_count(xor)``, exact-cosine rerank of the
    shortlist — the cheapest tier of the quantized-index family
    (FAISS IndexBinaryFlat / the binary-quantization mode vector
    stores ship as their coarse pass).

    Determinism: bits come from the INTEGER SQ8 codes (code >= 128),
    word packing and Hamming distances are exact integer arithmetic,
    and the rerank reuses the registry's round-6 cosine — the only FP
    in the whole pipeline is the shared grid assignment and the final
    rerank both engines already agree on.

    Scale shape: the packed table is 16 bytes/vector (16x under
    float32 — 100 TB of raw vectors binarise to ~6 TB, RAM-resident
    on a modest cluster); the wide stage is two XOR+popcount ops per
    pair, the cheapest distance that exists; shortlisting compiles to
    WindowGroupLimit (per-partition partial top-k before the
    query-key exchange) and only the ~{_BQ_SHORTLIST}-row-per-query
    shortlist ever touches the full-precision vectors."""
    emb = T(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("cast(embedding as array<double>)").alias("e")
    )
    # r15 note: the cascade's _as_local head/grid treatment was tried
    # here and measured as a LOSS (9 -> 12 jobs): this query has no
    # duplicated broadcast evaluation to remove — the query words share
    # the corpus `words` frame — so the two collect jobs bought nothing
    words = binary_codes_frame(emb)
    q = words.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("w1").alias("qw1"),
        F.col("w2").alias("qw2"),
    )
    n = words.select(F.col("vec_id").alias("neighbor_id"), "w1", "w2")
    ham = q.join(n, F.col("neighbor_id") != F.col("query_id")).select(
        "query_id", "neighbor_id", F.expr(_BQ_HAM).alias("ham")
    )
    w_h = Window.partitionBy("query_id").orderBy("ham", "neighbor_id")
    shortlist = (
        ham.withColumn("rkh", F.row_number().over(w_h))
        .where(F.col("rkh") <= _BQ_SHORTLIST)
        .select("query_id", "neighbor_id", "ham")
    )
    nf = _normed(spark, sf_dir)
    qn = nf.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"), F.col("nrm").alias("qn")
    )
    cn = nf.select(F.col("vec_id").alias("neighbor_id"), "e", "nrm")
    cos = F.round(
        F.expr("aggregate(zip_with(qe, e, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")
        / (F.col("qn") * F.col("nrm")),
        6,
    )
    rerank = (
        shortlist.join(qn, "query_id")
        .join(cn, "neighbor_id")
        .select("query_id", "neighbor_id", "ham", cos.alias("cos"))
    )
    w_out = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return rerank.withColumn("rk", F.row_number().over(w_out)).where(
        F.col("rk") <= _BQ_K
    )


# --- Batch-hard triplet mining (Hermans et al. 2017) -------------------

_TRIP_ANCHORS = 30


@register(
    "q_ann_triplet_mining",
    oracle=f"""
WITH {_SQL_EMB}, {_SQL_NORMED},
scored AS (
  SELECT a.vec_id AS anchor_id, a.label,
         c.vec_id AS neighbor_id, c.label AS c_label,
         ROUND(list_dot_product(a.e, c.e) / (a.nrm * c.nrm), 6) AS cos
  FROM normed a JOIN normed c
    ON a.vec_id < {_TRIP_ANCHORS} AND c.vec_id <> a.vec_id
),
pos AS (
  SELECT anchor_id, label, neighbor_id AS pos_id, cos AS cos_pos FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY cos, neighbor_id) AS rk
    FROM scored WHERE c_label = label
  ) WHERE rk = 1
),
neg AS (
  SELECT anchor_id, neighbor_id AS neg_id, cos AS cos_neg FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY cos DESC, neighbor_id) AS rk
    FROM scored WHERE c_label <> label
  ) WHERE rk = 1
)
SELECT p.anchor_id, p.label, p.pos_id, p.cos_pos, n.neg_id, n.cos_neg,
       CAST(ROUND((p.cos_pos - n.cos_neg) * 1000000) AS BIGINT) AS margin_micro
FROM pos p JOIN neg n USING (anchor_id)
""",
)
def q_ann_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-hard triplet mining (Hermans et al. 2017, "In Defense of
    the Triplet Loss"): for each anchor, the HARDEST positive (least
    similar same-label vector) and HARDEST negative (most similar
    different-label vector), plus the triplet margin — the mining step
    that turns an embedding corpus into contrastive training triplets.
    Anchors: vec_id < {_TRIP_ANCHORS}; candidate sets are corpus-wide
    (the deterministic corpus-hard variant of the paper's per-batch
    mining).

    Determinism: cosines round to 6dp BEFORE the argmin/argmax ranks
    (the registry's shared convention) with neighbor_id tie-breaks;
    the margin is the difference of two 6dp-rounded values scaled to
    exact integer micro-units.

    Scale shape: one anchor-broadcast scan computes both extremes in a
    single pass (two WindowGroupLimit rank-1 branches over the same
    scored frame — per-partition partial argmin/argmax before the
    anchor-key exchange, never a global sort).  At 100 TB the
    candidate scan drops in for any of the registry's shortlists
    (binary Hamming, SQ8, IVF probes) — mine hard negatives from a
    quantized shortlist, then rerank exact, without changing this
    output contract."""
    nf = _normed(spark, sf_dir)
    a = nf.where(F.col("vec_id") < _TRIP_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("label"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    c = nf.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("c_label"),
        "e",
        "nrm",
    )
    cos = F.round(
        F.expr("aggregate(zip_with(qe, e, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")
        / (F.col("qn") * F.col("nrm")),
        6,
    )
    scored = persist_tracked(
        a.join(c, F.col("neighbor_id") != F.col("anchor_id")).select(
            "anchor_id", "label", "neighbor_id", "c_label", cos.alias("cos")
        )
    )
    w_pos = Window.partitionBy("anchor_id").orderBy("cos", "neighbor_id")
    pos = (
        scored.where(F.col("c_label") == F.col("label"))
        .withColumn("rk", F.row_number().over(w_pos))
        .where(F.col("rk") == 1)
        .select(
            "anchor_id",
            "label",
            F.col("neighbor_id").alias("pos_id"),
            F.col("cos").alias("cos_pos"),
        )
    )
    w_neg = Window.partitionBy("anchor_id").orderBy(F.desc("cos"), "neighbor_id")
    neg = (
        scored.where(F.col("c_label") != F.col("label"))
        .withColumn("rk", F.row_number().over(w_neg))
        .where(F.col("rk") == 1)
        .select(
            "anchor_id",
            F.col("neighbor_id").alias("neg_id"),
            F.col("cos").alias("cos_neg"),
        )
    )
    return pos.join(neg, "anchor_id").select(
        "anchor_id",
        "label",
        "pos_id",
        "cos_pos",
        "neg_id",
        "cos_neg",
        F.expr("cast(round((cos_pos - cos_neg) * 1000000) as bigint)").alias(
            "margin_micro"
        ),
    )


def ann_index_search_binary(
    spark: SparkSession,
    index: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 1,
    shortlist: int = 20,
) -> DataFrame:
    """Binary-Hamming search against a catalog index built by the
    ``ann_index`` task with ``method: ivfbin``: route each query to its
    ``nprobe`` nearest cells (broadcast centroids), binarise the query
    on the index's frozen grid (``{index}_sq8grid`` midpoints, one
    broadcast row), scan only those cells' ``{index}_binwords`` rows
    with the packed XOR+popcount distance of q_ann_binary_hamming,
    shortlist per query, and re-rank the shortlist with exact cosine
    from ``{index}_vectors``.

    Scale: words are 16 bytes/vector (16x under float32) and bucketed
    by cell, so the wide scan reads nprobe/n_cells of a sixteenth-sized
    table in place; only query rows and the shortlist move, and the
    per-pair work is two XOR+popcounts — the cheapest scan of the
    index family (the coarse tier under SQ8 when even 1 byte/dim is
    too much memory)."""
    q, probes = _probe(spark, index, queries, nprobe)
    qcodes = _sq8_encode(
        q, spark.table(f"{index}_sq8grid"), keep=[F.col("vec_id").alias("query_id")]
    )
    qwords = _bq_words(qcodes, prefix="qw").join(probes, "query_id")
    words = spark.table(f"{index}_binwords").select(
        F.col("vec_id").alias("neighbor_id"), "cell", "w1", "w2"
    )
    scored = _cell_scan(words, qwords, _BQ_HAM, "ham")
    return _exact_topk(spark, index, q, _shortlist(scored, "ham", shortlist), k)


@register(
    "q_ann_binary_recall",
    oracle=f"""
WITH {_SQL_EMB}, {_SQL_NORMED},
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ROUND(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) DESC,
                      c.vec_id) AS rk
    FROM normed q JOIN normed c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
  ) WHERE rk <= {_BQ_K}
),
comp AS (
  SELECT vec_id, i, e[i] AS x FROM emb, (SELECT unnest(generate_series(1, 64)) AS i)
),
dim_range AS (SELECT i, MIN(x) AS lo, MAX(x) AS hi FROM comp GROUP BY i),
rngarr AS (
  SELECT list(lo ORDER BY i) AS lo_a, list(hi ORDER BY i) AS hi_a FROM dim_range
),
codes AS (
  SELECT vec_id,
         list_transform(generate_series(1, 64), j ->
           CASE WHEN r.hi_a[j] = r.lo_a[j] THEN CAST(0 AS BIGINT)
                ELSE CAST(ROUND((e[j] - r.lo_a[j]) / (r.hi_a[j] - r.lo_a[j]) * 255)
                          AS BIGINT) END) AS c
  FROM emb, rngarr r
),
words AS (
  SELECT vec_id, {_bq_pack_sql("c", 1, 32)} AS w1, {_bq_pack_sql("c", 33, 64)} AS w2
  FROM codes
),
shortlist AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY bit_count(xor(q.w1, n.w1)) + bit_count(xor(q.w2, n.w2)),
                      n.vec_id) AS rkh
    FROM words q JOIN words n ON q.vec_id < 10 AND n.vec_id <> q.vec_id
  ) WHERE rkh <= {_BQ_SHORTLIST}
)
SELECT e.query_id,
       CAST(SUM(CASE WHEN s.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hit,
       CAST((SUM(CASE WHEN s.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000)
            // {_BQ_K} AS BIGINT) AS recall_ppm
FROM exact e LEFT JOIN shortlist s USING (query_id, neighbor_id)
GROUP BY e.query_id
""",
)
def q_ann_binary_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-measured shortlist recall of the binary tier: for each of
    the 10 standard query vectors, how many of the EXACT cosine top-{_BQ_K}
    survive into the {_BQ_SHORTLIST}-wide Hamming shortlist (the only
    place q_ann_binary_hamming can lose recall — its re-rank is
    exact).  The measurement operators every production ANN deployment
    runs on a sample before trusting a compression tier: recall here
    is a DATA property (how much cosine geometry the 64 sign bits
    preserve on THIS corpus), so the engine reports it per corpus
    instead of assuming a paper number.

    Determinism: both rankings are the registry's round-6 cosine /
    integer Hamming with id tie-breaks; recall is integer counts and
    floor-division ppm.

    Scale shape: the exact arm is the documented O(Q x N) baseline
    over the SAME 10-query broadcast the binary arm uses — at 100 TB
    you run this report on a sampled slice (the sample task's hash
    method composes upstream), not the full corpus, and the binary
    arm's cost model is unchanged from q_ann_binary_hamming."""
    nf = _normed(spark, sf_dir)
    q = nf.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"), F.col("nrm").alias("qn")
    )
    c = nf.select(F.col("vec_id").alias("neighbor_id"), "e", "nrm")
    cos = F.round(
        F.expr("aggregate(zip_with(qe, e, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")
        / (F.col("qn") * F.col("nrm")),
        6,
    )
    w_e = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    exact = (
        q.join(c, F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rk", F.row_number().over(w_e))
        .where(F.col("rk") <= _BQ_K)
        .select("query_id", "neighbor_id")
    )
    emb = T(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("cast(embedding as array<double>)").alias("e")
    )
    words = binary_codes_frame(emb)
    qw = words.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("w1").alias("qw1"),
        F.col("w2").alias("qw2"),
    )
    nw = words.select(F.col("vec_id").alias("neighbor_id"), "w1", "w2")
    w_h = Window.partitionBy("query_id").orderBy("ham", "neighbor_id")
    shortlist = (
        qw.join(nw, F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.expr(_BQ_HAM).alias("ham"))
        .withColumn("rkh", F.row_number().over(w_h))
        .where(F.col("rkh") <= _BQ_SHORTLIST)
        .select("query_id", "neighbor_id", F.lit(1).alias("_in"))
    )
    return (
        exact.join(shortlist, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce("_in", F.lit(0))).cast("bigint").alias("n_hit"),
            F.expr(
                f"cast((sum(coalesce(_in, 0)) * 1000000) div {_BQ_K} as bigint)"
            ).alias("recall_ppm"),
        )
    )


def ann_index_search_cascade(
    spark: SparkSession,
    index: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 1,
    shortlist: int = 20,
    shortlist_binary: int = 50,
) -> DataFrame:
    """Three-tier retrieval cascade against a catalog index built by
    the ``ann_index`` task with ``method: cascade`` — the registered
    q_ann_cascade_topk shape (similarity.py:q_ann_cascade_topk) over a
    FROZEN index's stored tables: route each query to its ``nprobe``
    nearest cells (broadcast centroids), scan those cells'
    ``{index}_binwords`` with packed XOR+popcount and keep
    ``shortlist_binary`` per query (16 bytes/vector touched), re-rank
    them with the symmetric integer SQ8 distance from
    ``{index}_sq8codes`` down to ``shortlist`` (64 bytes), then exact
    cosine from ``{index}_vectors`` for the final top-``k``.

    Scale: the corpus-sized scan is the 16-byte binary tier read in
    place from the bucketed words table; each wider representation is
    touched only for the previous tier's survivors (a per-query
    constant), joined via the broadcast-sized shortlist frame.  Every
    tier breaks ties on neighbor_id; tier-1/2 distances are exact
    integers, so the only FP surface is the final rounded cosine —
    identical determinism contract to the registered query.
    """
    q, probes = _probe(spark, index, queries, nprobe)
    # NOT persisted: the query frame is batch-sized and this function
    # runs inside stream_ann_search's foreachBatch, where a tracked
    # persist per trigger would accumulate for the stream's lifetime
    # (release_persisted only runs at task/app boundaries); recomputing
    # the row-local quantization for the tier-2 join is cheaper
    qcodes = _sq8_encode(
        q, spark.table(f"{index}_sq8grid"), "qc", [F.col("vec_id").alias("query_id")]
    )
    qwords = _bq_words(qcodes, code="qc", prefix="qw").join(probes, "query_id")
    words = spark.table(f"{index}_binwords").select(
        F.col("vec_id").alias("neighbor_id"), "cell", "w1", "w2"
    )
    t1 = _shortlist(
        _cell_scan(words, qwords, _BQ_HAM, "ham"),
        "ham",
        shortlist_binary,
        rk="rk1",
    )
    codes = spark.table(f"{index}_sq8codes").select(
        F.col("vec_id").alias("neighbor_id"), F.col("c").alias("cc")
    )
    t2 = (
        t1.join(qcodes, "query_id")
        .join(codes, "neighbor_id")
        .select("query_id", "neighbor_id", F.expr(_SQ8_D2).alias("d2"))
    )
    return _exact_topk(spark, index, q, _shortlist(t2, "d2", shortlist, rk="rk2"), k)


def ann_catalog_search(
    spark: SparkSession,
    db,
    index: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 1,
    shortlist: int = 20,
    shortlist_binary: int = 50,
) -> DataFrame:
    """Catalog-dispatched search over an ``ann_index``-built index —
    the path comes from the method the index was built with, read from
    the catalog by ``_stored_method`` against the one layout table
    ``_ANN_LAYOUT``, not from caller config (shared by the ann_search
    task and stream_ann_search): cascade -> the three-tier cascade
    (Hamming shortlist_binary -> SQ8 shortlist -> exact k), ivfbin ->
    packed Hamming, ivfsq8 -> symmetric SQ8, ivfpq -> ADC
    (vector/residual via the codebook's enc column), ivf -> the exact
    in-cell scan.  ``queries`` is a (query_id, e: array<double>)
    frame."""
    method = _stored_method(db, index)
    if method == "ivf":
        return ann_index_search(spark, index, queries, k=k, nprobe=nprobe)
    if method == "cascade":
        return ann_index_search_cascade(
            spark,
            index,
            queries,
            k=k,
            nprobe=nprobe,
            shortlist=shortlist,
            shortlist_binary=shortlist_binary,
        )
    search = {
        "ivfpq": ann_index_search_pq,
        "ivfsq8": ann_index_search_sq8,
        "ivfbin": ann_index_search_binary,
    }[method]
    return search(spark, index, queries, k=k, nprobe=nprobe, shortlist=shortlist)


# --- Embedding outlier report (mislabel / noise detection) -------------

_OUT_TOPN = 3


@register(
    "q_embedding_outliers",
    oracle=f"""
WITH {_SQL_EMB}, {_SQL_CENTROIDS},
dist AS (
  SELECT v.label, v.vec_id,
         ROUND(list_aggregate(list_transform(list_zip(v.e, c.ce),
               p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'), 8) AS d2
  FROM emb v JOIN cent_arr c ON c.c_label = v.label
)
SELECT label, vec_id, d2, rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY label ORDER BY d2 DESC, vec_id) AS rk
  FROM dist
) WHERE rk <= {_OUT_TOPN}
""",
)
def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier report — the mislabel/noise screen a training
    pipeline runs over labeled embeddings: each label's centroid
    (decimal-exact means, the registry's k-means arithmetic), each
    vector's squared distance to ITS OWN centroid, and the {_OUT_TOPN}
    most distant vectors per label — the candidates to audit for
    labeling errors or junk content before they anchor a classifier
    or a SemDeDup cell.

    Determinism: centroid means sum in DECIMAL and round to 8dp,
    distances fold left-to-right and round to 8dp before ranking
    (q_kmeans_refine's contract — margins in the FRAGILITY audit
    family), vec_id breaks ties.

    Scale shape: one broadcast of the label-count-sized centroid
    table, one map-side distance projection, and a per-label
    WindowGroupLimit top-{_OUT_TOPN} — partial per-partition before
    the label-key exchange.  The full corpus never sorts; at 100 TB
    this is one scan over the vectors."""
    emb = _normed(spark, sf_dir).select("vec_id", "label", "e")
    cent = _centroid_arrays(emb.select("label", "e"))
    d2 = F.round(
        F.expr(
            "aggregate(zip_with(e, ce, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"
        ),
        8,
    )
    dist = emb.join(
        F.broadcast(cent), emb["label"] == cent["c_label"]
    ).select("label", "vec_id", d2.alias("d2"))
    w = Window.partitionBy("label").orderBy(F.desc("d2"), "vec_id")
    return dist.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= _OUT_TOPN
    )


# ---------------------------------------------------------------------------
# Signed-random-projection dimensionality reduction (Johnson-Lindenstrauss)
# ---------------------------------------------------------------------------

# Deterministic +/-1 sign matrix, 16 output dims x 64 input dims, from
# one seeded-PCG draw (the hyperplane-table discipline above: one table
# generates the Spark literal AND the DuckDB literal, so both engines
# project bit-for-bit).  +/-1 entries (Achlioptas 2003) make each
# output coordinate a signed SUM — no multiplies beyond sign flips at
# production scale — and E[(s . x)^2] = |x|^2, so |y|^2 / 16 estimates
# |x|^2 without any per-entry scaling.
_SRP_OUT_DIM = 16
_SRP_SEED = 20030415


def srp_sign_table(out_dim: int, in_dim: int):
    """The seeded +/-1 sign matrix for a (out_dim x in_dim) projection.
    Each (out_dim, in_dim) shape is ONE fresh draw from the fixed seed
    — internally consistent and reproducible; different shapes are
    different (independent) tables, which is fine because nothing
    persists projected vectors across shape changes (unlike the
    minhash table, where the 128-prefix continuation rule applies)."""
    import numpy as np

    return (
        np.random.default_rng(_SRP_SEED).integers(0, 2, size=(out_dim, in_dim)) * 2
        - 1
    )


def srp_spark_literal(out_dim: int, in_dim: int) -> str:
    return (
        "array(" + ",".join(
            "array(" + ",".join(str(v) for v in row) + ")"
            for row in srp_sign_table(out_dim, in_dim)
        ) + ")"
    )


def srp_project_expr(out_dim: int, in_dim: int, col: str = "e") -> str:
    """Spark SQL expression projecting array<double> ``col`` (len
    in_dim) to ``out_dim`` dims via the seeded sign table — row-local,
    broadcast-free (the literal lives in the plan)."""
    return (
        f"transform({srp_spark_literal(out_dim, in_dim)}, "
        f"s -> aggregate(zip_with({col}, s, (x, sg) -> x * sg), "
        "0D, (acc, v) -> acc + v))"
    )


_SRP_SPARK_LIT = srp_spark_literal(_SRP_OUT_DIM, 64)
_SRP_SQL_LIT = (
    "[" + ",".join(
        "[" + ",".join(str(v) for v in row) + "]"
        for row in srp_sign_table(_SRP_OUT_DIM, 64)
    ) + "]"
)


@register(
    "q_embedding_srp_reduce",
    oracle=f"""
WITH {_SQL_EMB},
proj AS (
  SELECT vec_id, e,
         list_transform({_SRP_SQL_LIT},
           s -> list_aggregate(list_transform(list_zip(e, s), p -> p[1] * p[2]), 'sum')) AS y
  FROM emb
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND(list_aggregate(list_transform(list_zip(a.e, b.e),
               p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'), 8) AS d2_orig,
         ROUND(list_aggregate(list_transform(list_zip(a.y, b.y),
               p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'), 8) AS d2_proj
  FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 1
)
SELECT id_a, id_b, d2_orig, d2_proj,
       ROUND(d2_proj / ({_SRP_OUT_DIM} * d2_orig), 6) AS ratio2
FROM pairs WHERE d2_orig > 0
""",
)
def q_embedding_srp_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed-random-projection dimensionality reduction (64 -> 16)
    with a per-pair distortion audit — the Johnson-Lindenstrauss step
    a 100 TB pipeline runs before ANN indexing to cut vector memory
    and distance compute 4x.  Each output coordinate is a +/-1-signed
    fold of the input (Achlioptas 2003 sparse JL), so the projection
    is row-local and multiplication-free; the audit joins every vector
    to its id-successor and reports squared distance before and after,
    plus the distortion ratio d2_proj / (k * d2_orig) whose
    concentration around 1.0 IS the JL guarantee (self-measured, like
    q_ann_binary_recall — parity alone would hide a degenerate sign
    table).

    Determinism: the sign matrix is one seeded-PCG table inlined into
    both engines' expressions; projections and distances fold
    left-to-right in DOUBLE and round to 8dp (the kmeans/gram
    contract); the ratio divides two identical rounded doubles in one
    IEEE op and rounds once to 6dp.

    Scale shape: the projection is a map-side transform (the 16x64
    sign literal lives in the plan, nothing broadcasts); the audit
    self-join is a slim (id, 16+64 doubles) shuffle on vec_id — at
    100 TB you audit a sampled partition, not the corpus, and the
    projection itself stays shuffle-free."""
    from sayn_spark.functions.dedup import _fan_out

    emb = _fan_out(
        T(spark, sf_dir, "embeddings").select(
            "vec_id", F.expr("cast(embedding as array<double>)").alias("e")
        ),
        spark,
        sf_dir,
        table="embeddings",
    )
    proj = emb.select(
        "vec_id",
        "e",
        F.expr(
            f"transform({_SRP_SPARK_LIT}, "
            "s -> aggregate(zip_with(e, s, (x, sg) -> x * sg), 0D, (acc, v) -> acc + v))"
        ).alias("y"),
    )
    proj = persist_tracked(proj)  # read by both sides of the audit join
    a = proj.select(
        F.col("vec_id").alias("id_a"),
        F.col("e").alias("ea"),
        F.col("y").alias("ya"),
    )
    b = proj.select(
        F.col("vec_id").alias("id_b"),
        F.col("e").alias("eb"),
        F.col("y").alias("yb"),
    )
    d2 = (
        "round(aggregate(zip_with({l}, {r}, (x, z) -> (x - z) * (x - z)), "
        "0D, (acc, v) -> acc + v), 8)"
    )
    pairs = a.join(b, F.col("id_b") == F.col("id_a") + 1).select(
        "id_a",
        "id_b",
        F.expr(d2.format(l="ea", r="eb")).alias("d2_orig"),
        F.expr(d2.format(l="ya", r="yb")).alias("d2_proj"),
    )
    return pairs.where(F.col("d2_orig") > 0).select(
        "id_a",
        "id_b",
        "d2_orig",
        "d2_proj",
        F.round(F.col("d2_proj") / (_SRP_OUT_DIM * F.col("d2_orig")), 6).alias(
            "ratio2"
        ),
    )


_SRP_SHORTLIST = 20
_SRP_K = 5


@register(
    "q_ann_srp_recall",
    oracle=f"""
WITH {_SQL_EMB}, {_SQL_NORMED},
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ROUND(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) DESC,
                      c.vec_id) AS rk
    FROM normed q JOIN normed c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
  ) WHERE rk <= {_SRP_K}
),
unit AS (
  SELECT vec_id, list_transform(e, x -> x / nrm) AS u FROM normed WHERE nrm > 0
),
proj AS (
  SELECT vec_id,
         list_transform({_SRP_SQL_LIT},
           s -> list_aggregate(list_transform(list_zip(u, s), p -> p[1] * p[2]), 'sum')) AS y
  FROM unit
),
shortlist AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ROUND(list_aggregate(list_transform(list_zip(q.y, n.y),
                            p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'), 8),
                      n.vec_id) AS rkd
    FROM proj q JOIN proj n ON q.vec_id < 10 AND n.vec_id <> q.vec_id
  ) WHERE rkd <= {_SRP_SHORTLIST}
)
SELECT e.query_id,
       CAST(SUM(CASE WHEN s.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hit,
       CAST((SUM(CASE WHEN s.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000)
            // {_SRP_K} AS BIGINT) AS recall_ppm
FROM exact e LEFT JOIN shortlist s USING (query_id, neighbor_id)
GROUP BY e.query_id
""",
)
def q_ann_srp_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-measured shortlist recall of the SRP-reduced tier: for each
    of the 10 standard query vectors, how many of the exact cosine
    top-{_SRP_K} survive a {_SRP_SHORTLIST}-wide shortlist ranked by
    squared Euclidean distance in the 16-dim projected space (vectors
    L2-normalised first, so projected distance tracks angular
    distance).  The companion measurement to q_embedding_srp_reduce:
    the distortion audit bounds PAIRWISE error, this reports what that
    error does to actual top-k retrieval on THIS corpus — the number a
    deployment checks before moving its coarse ANN tier to 4x-smaller
    vectors (the q_ann_binary_recall discipline).  Measured here:
    mean recall@{_SRP_SHORTLIST} is 0.38 at sf0.01 and 0.14 at sf0.1
    (vs 0.44 for the 64-bit binary tier) — this corpus's exact top-5
    are tightly bunched in cosine, so JL-16 is a DEDUP-grade
    similarity tier on it, not a fine retrieval tier; that conclusion
    (and where it flips) is exactly what the report exists to surface
    per corpus.

    Determinism: unit vectors divide by an IEEE sqrt, projections and
    distances fold left-to-right and round to 8dp before ranking, ids
    break ties, recall is integer ppm.

    Scale shape: both arms broadcast the same 10-query frame (the
    documented bounded-BNLJ baseline); the projected arm moves 16
    doubles per corpus vector instead of 64 — the 4x scan saving IS
    the tier's value, and the report prices its recall cost."""
    nf = _normed(spark, sf_dir)
    q = nf.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"), F.col("nrm").alias("qn")
    )
    c = nf.select(F.col("vec_id").alias("neighbor_id"), "e", "nrm")
    cos = F.round(
        F.expr("aggregate(zip_with(qe, e, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")
        / (F.col("qn") * F.col("nrm")),
        6,
    )
    w_e = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    exact = (
        q.join(c, F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rk", F.row_number().over(w_e))
        .where(F.col("rk") <= _SRP_K)
        .select("query_id", "neighbor_id")
    )
    unit = nf.where(F.col("nrm") > 0).select(
        "vec_id", F.expr("transform(e, x -> x / nrm)").alias("u")
    )
    proj = persist_tracked(
        unit.select("vec_id", F.expr(srp_project_expr(_SRP_OUT_DIM, 64, "u")).alias("y"))
    )
    qp = proj.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("y").alias("qy")
    )
    np_ = proj.select(F.col("vec_id").alias("neighbor_id"), F.col("y").alias("ny"))
    d2 = F.round(
        F.expr(
            "aggregate(zip_with(qy, ny, (x, z) -> (x - z) * (x - z)), "
            "0D, (acc, v) -> acc + v)"
        ),
        8,
    )
    w_d = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    shortlist = (
        qp.join(np_, F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", d2.alias("d2"))
        .withColumn("rkd", F.row_number().over(w_d))
        .where(F.col("rkd") <= _SRP_SHORTLIST)
        .select("query_id", "neighbor_id", F.lit(1).alias("_in"))
    )
    return (
        exact.join(shortlist, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce("_in", F.lit(0))).cast("bigint").alias("n_hit"),
            F.expr(
                f"cast((sum(coalesce(_in, 0)) * 1000000) div {_SRP_K} as bigint)"
            ).alias("recall_ppm"),
        )
    )


@register(
    "q_ann_nprobe_curve",
    oracle=f"""
WITH {_SQL_EMB}, {_SQL_NORMED}, {_SQL_CENTROIDS},
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ROUND(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) DESC,
                      c.vec_id) AS rk
    FROM normed q JOIN normed c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
  ) WHERE rk <= 5
),
ecell AS (
  SELECT vec_id, c_label AS cell FROM (
    SELECT v.vec_id, c.c_label, ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY ROUND(list_aggregate(list_transform(list_zip(v.e, c.ce),
                            p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'), 8), c.c_label
           ) AS rk
    FROM emb v, cent_arr c
  ) WHERE rk = 1
),
qcell AS (
  SELECT vec_id AS query_id, c_label, rk AS rkc FROM (
    SELECT v.vec_id, c.c_label, ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY ROUND(list_aggregate(list_transform(list_zip(v.e, c.ce),
                            p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'), 8), c.c_label
           ) AS rk
    FROM emb v, cent_arr c WHERE v.vec_id < 10
  )
),
probes AS (SELECT unnest([1, 2, 4]) AS np)
SELECT p.np AS nprobe, e.query_id,
       CAST(SUM(CASE WHEN qc.rkc <= p.np THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       CAST((SUM(CASE WHEN qc.rkc <= p.np THEN 1 ELSE 0 END) * 1000000) // 5 AS BIGINT)
         AS recall_ppm
FROM exact e
JOIN ecell c ON c.vec_id = e.neighbor_id
JOIN qcell qc ON qc.query_id = e.query_id AND qc.c_label = c.cell
CROSS JOIN probes p
GROUP BY p.np, e.query_id
""",
)
def q_ann_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF operating curve, self-measured: recall@5 of an
    nprobe-cell probe set against exact cosine top-5, for nprobe in
    {{1, 2, 4}} over the standard 10 query vectors — the number an ANN
    deployment reads to pick its latency/recall point (every probed
    cell is ~1/k of the corpus scanned; the curve says what each
    increment buys ON THIS CORPUS).  A true top-5 neighbor is
    recalled iff its cell is among the query's nprobe nearest
    centroids — membership is exact, so no second ranking is needed.

    Determinism: cell assignment is the registry's rounded-d2 argmin
    with label tie-breaks (q_kmeans_refine's contract); the exact arm
    is the rounded-cosine ranking; recall is integer ppm.

    Scale shape: both cell-assignment arms broadcast the k-row
    centroid frame; the exact arm is the documented bounded 10-query
    baseline (run on a sample at 100 TB); the curve itself joins
    telemetry-sized frames (50 exact rows x 3 probe widths)."""
    nf = _normed(spark, sf_dir)
    cent = _centroid_arrays(nf.select("label", "e"))
    q = nf.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"), F.col("nrm").alias("qn")
    )
    c = nf.select(F.col("vec_id").alias("neighbor_id"), "e", "nrm")
    cos = F.round(
        F.expr("aggregate(zip_with(qe, e, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")
        / (F.col("qn") * F.col("nrm")),
        6,
    )
    w_e = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    exact = (
        q.join(c, F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rk", F.row_number().over(w_e))
        .where(F.col("rk") <= 5)
        .select("query_id", "neighbor_id")
    )
    ecell = _assign_cells(nf, cent)
    d2 = F.round(
        F.expr(
            "aggregate(zip_with(e, ce, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"
        ),
        8,
    )
    w_q = Window.partitionBy("query_id").orderBy("d2", "c_label")
    qcell = (
        nf.where(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("query_id"), "e")
        .crossJoin(F.broadcast(cent))
        .select("query_id", "c_label", d2.alias("d2"))
        .withColumn("rkc", F.row_number().over(w_q))
        .select("query_id", F.col("c_label").alias("cell"), "rkc")
    )
    probes = spark.range(1).selectExpr("explode(array(1, 2, 4)) AS np")
    return (
        exact.join(ecell.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .join(qcell, ["query_id", "cell"])
        .crossJoin(F.broadcast(probes))
        .groupBy(F.col("np").alias("nprobe"), "query_id")
        .agg(
            F.sum(F.when(F.col("rkc") <= F.col("np"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_hit"),
            F.expr(
                "cast((sum(case when rkc <= np then 1 else 0 end) * 1000000) div 5 "
                "as bigint)"
            ).alias("recall_ppm"),
        )
    )


@register(
    "q_ann_cascade_topk",
    oracle=f"""
WITH {_SQL_EMB}, {_SQL_NORMED},
comp AS (
  SELECT vec_id, i, e[i] AS x FROM emb, (SELECT unnest(generate_series(1, 64)) AS i)
),
dim_range AS (SELECT i, MIN(x) AS lo, MAX(x) AS hi FROM comp GROUP BY i),
rngarr AS (
  SELECT list(lo ORDER BY i) AS lo_a, list(hi ORDER BY i) AS hi_a FROM dim_range
),
codes AS (
  SELECT vec_id,
         list_transform(generate_series(1, 64), j ->
           CASE WHEN r.hi_a[j] = r.lo_a[j] THEN CAST(0 AS BIGINT)
                ELSE CAST(ROUND((e[j] - r.lo_a[j]) / (r.hi_a[j] - r.lo_a[j]) * 255)
                          AS BIGINT) END) AS c
  FROM emb, rngarr r
),
words AS (
  SELECT vec_id, {_bq_pack_sql("c", 1, 32)} AS w1, {_bq_pack_sql("c", 33, 64)} AS w2
  FROM codes
),
t1 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY bit_count(xor(q.w1, n.w1)) + bit_count(xor(q.w2, n.w2)),
                      n.vec_id) AS rk1
    FROM words q JOIN words n ON q.vec_id < 10 AND n.vec_id <> q.vec_id
  ) WHERE rk1 <= 50
),
t2 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT t.query_id, t.neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY t.query_id
             ORDER BY CAST(list_sum(list_transform(generate_series(1, 64),
                      j -> (cq.c[j] - cn.c[j]) * (cq.c[j] - cn.c[j]))) AS BIGINT),
                      t.neighbor_id) AS rk2
    FROM t1 t
    JOIN codes cq ON cq.vec_id = t.query_id
    JOIN codes cn ON cn.vec_id = t.neighbor_id
  ) WHERE rk2 <= 20
)
SELECT query_id, neighbor_id, cos, rk FROM (
  SELECT t.query_id, t.neighbor_id,
         ROUND(list_dot_product(q.e, n.e) / (q.nrm * n.nrm), 6) AS cos,
         ROW_NUMBER() OVER (
           PARTITION BY t.query_id
           ORDER BY ROUND(list_dot_product(q.e, n.e) / (q.nrm * n.nrm), 6) DESC,
                    t.neighbor_id) AS rk
  FROM t2 t
  JOIN normed q ON q.vec_id = t.query_id
  JOIN normed n ON n.vec_id = t.neighbor_id
) WHERE rk <= 5
""",
)
def q_ann_cascade_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-tier retrieval cascade — the production ANN shape: a
    1-bit Hamming scan shortlists 50 (16 bytes/vector touched), the
    symmetric-SQ8 integer distance re-ranks those to 20 (64 bytes),
    and exact cosine re-ranks the survivors to the final top-5 (full
    floats — 20 vectors per query instead of the corpus).  Each tier
    touches 4x the bytes of the one above on ~2.5-60x fewer rows, so
    scan cost concentrates where precision is cheap — the
    q_ann_binary_recall / q_ann_sq8_topk tiers composed end-to-end
    under one oracle.

    Determinism: tier-1/2 distances are exact integers, tier-3 is the
    registry's rounded-cosine ranking; every tier breaks ties on
    neighbor_id.

    Scale shape: the 10-query frame broadcasts through all three
    tiers (the documented bounded-BNLJ baseline); tier boundaries are
    WindowGroupLimit top-k per query; the corpus is scanned once at
    16 bytes/vector and only shortlist rows ever touch wider
    representations.

    Job-chain shape (r15, the ivfpq precedent): the 10 query vectors
    and the 1-row SQ8 grid collect once as LocalRelations, so every
    per-tier query-side attach (binary words, SQ8 codes, exact norms)
    derives from local lineage instead of planning its own
    corpus-scanning broadcast job; the corpus code frame then has one
    consumer and drops its persist."""
    emb = T(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("cast(embedding as array<double>)").alias("e")
    )
    head = _as_local(emb.where(F.col("vec_id") < 10), "query head")
    # the SQ8 grid (and the binary words derived from it) is trained on
    # the CORPUS — collect it once and apply it to corpus and queries
    # alike; training it on the head would change every tier
    rng = _as_local(sq8_range_row(emb), "sq8 range row")
    code_col = sq8_codes_col("e", 64)

    def words_of(frame: DataFrame) -> DataFrame:
        return binary_codes_frame(frame, rng=rng)

    qw = words_of(head).select(
        F.col("vec_id").alias("query_id"),
        F.col("w1").alias("qw1"),
        F.col("w2").alias("qw2"),
    )
    nw = words_of(emb).select(F.col("vec_id").alias("neighbor_id"), "w1", "w2")
    w_h = Window.partitionBy("query_id").orderBy("ham", "neighbor_id")
    t1 = (
        qw.join(nw, F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.expr(_BQ_HAM).alias("ham"))
        .withColumn("rk1", F.row_number().over(w_h))
        .where(F.col("rk1") <= 50)
        .select("query_id", "neighbor_id")
    )
    codes = emb.crossJoin(F.broadcast(rng)).select("vec_id", code_col.alias("c"))
    qcodes = head.crossJoin(F.broadcast(rng)).select(
        F.col("vec_id").alias("query_id"), code_col.alias("qc")
    )
    w_d = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    t2 = (
        t1.join(qcodes, "query_id")
        .join(
            codes.select(
                F.col("vec_id").alias("neighbor_id"), F.col("c").alias("cc")
            ),
            "neighbor_id",
        )
        .select("query_id", "neighbor_id", F.expr(_SQ8_D2).alias("d2"))
        .withColumn("rk2", F.row_number().over(w_d))
        .where(F.col("rk2") <= 20)
        .select("query_id", "neighbor_id")
    )
    nf = _normed(spark, sf_dir)
    qf = head.select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.sqrt(F.expr("aggregate(e, 0D, (acc, x) -> acc + x * x)")).alias("qn"),
    )
    cos = F.round(
        F.expr("aggregate(zip_with(qe, ne, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")
        / (F.col("qn") * F.col("nn")),
        6,
    )
    w_c = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        t2.join(qf, "query_id")
        .join(
            nf.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("e").alias("ne"),
                F.col("nrm").alias("nn"),
            ),
            "neighbor_id",
        )
        .select("query_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rk", F.row_number().over(w_c))
        .where(F.col("rk") <= 5)
    )
