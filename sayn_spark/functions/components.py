"""Connected components over the near-duplicate graph — the final
stage of dedup at scale: LSH candidates -> verified edges -> components
-> keep one canonical doc per component.

``connected_components`` is generic min-label propagation driven from
the driver (bounded iterations, converges in graph-diameter steps; for
billion-edge graphs swap in the alternating large-star/small-star
algorithm — same API).  The iterative loop is the one place this engine
runs a driver-side loop over DataFrames; each iteration is a
distributed join+agg, and the convergence sum rides on its checkpoint.

The oracle computes the same fixpoint with a recursive CTE — this is
the 'iterative algorithm' case the correctness harness usually can't
express in SQL; the transitive closure makes it expressible here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from sayn_spark.functions.dedup import (
    _SQL_SHINGLES,
    _staged_shingles,
)
from sayn_spark.functions.registry import T, register


class ComponentsNotConverged(RuntimeError):
    """An iterative components pass exhausted its budget without
    reaching a fixpoint — the labels in hand may be WRONG (a chain
    longer than the budget keeps distinct labels).  Raised instead of
    returning silently; ``components()`` catches it to fall over to
    star contraction."""


def _checkpoint_observed(df: DataFrame, *metrics) -> tuple[DataFrame, ...]:
    """``df.localCheckpoint()`` plus the values of ``metrics``
    (aggregate columns) over the checkpointed rows, read from the
    checkpoint job itself through ``DataFrame.observe``.

    A separate ``agg(...).collect()`` on the checkpointed frame cost two
    more jobs per call.  The observed metrics are computed in the
    checkpoint's result stage, whose accumulator updates Spark applies
    exactly once per partition, so a retried task cannot double-count."""
    obs = Observation()
    out = df.observe(obs, *metrics).localCheckpoint()
    return (out, *obs.get.values())


def _label_prop(sym: DataFrame, max_iter: int) -> tuple[DataFrame, int, bool]:
    """Min-label propagation over a checkpointed symmetrised+self-looped
    edge frame -> (labels, iterations, converged)."""
    # the initial labelling (label = node) makes the first propagation
    # step exactly min(dst) over in-neighbours — so FUSE init with
    # iteration 1: one groupBy replaces the node-distinct, the label
    # init checkpoint, and a full join iteration.
    # decimal accumulator for the convergence sum: node ids can be
    # xxhash64-derived (full-range BIGINT), and summing those raw
    # overflows long — ARITHMETIC_OVERFLOW under ANSI, or a silent
    # wraparound false-convergence with ANSI off (review r13, same
    # shape as star_components' _summarised)
    _label_sum = F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
    labels, prev_sum = _checkpoint_observed(
        sym.groupBy(F.col("src").alias("node")).agg(F.min("dst").alias("label")),
        _label_sum,
    )
    iterations = 1
    converged = False
    for _ in range(max_iter - 1):
        new, new_sum = _checkpoint_observed(  # truncate lineage per iteration
            sym.join(labels, sym.dst == labels.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("label").alias("label")),
            _label_sum,
        )
        iterations += 1  # count every executed pass, incl. the confirming one
        if new_sum == prev_sum:
            converged = True
            break
        labels, prev_sum = new, new_sum
    return labels, iterations, converged


def _symmetrise(edges: DataFrame, checkpointed: bool = False) -> DataFrame:
    """Checkpoint the raw edge list, then build the symmetrised +
    self-looped frame every propagation iteration joins against.

    The checkpoint matters twice: without materialisation the whole
    upstream edge pipeline (shingle + inverted-index join) would
    re-execute per iteration (measured 5x the query cost at sf0.1), and
    each union arm below would re-run it once per reference.  sym needs
    NO distinct and NO separate node set: duplicate edges are harmless
    under the min aggregate, and self-loops come from two more narrow
    projections of fwd — four map-side unions, zero shuffles.

    ``checkpointed=True`` skips the inner checkpoint when the caller
    already materialised the edge list (components() does, because it
    may hand the same frame to star_components on fall-over) — a
    second localCheckpoint would copy the partitions and add a job
    barrier for nothing."""
    fwd = edges if checkpointed else edges.select("src", "dst").localCheckpoint()
    # the 4-arm union inherits 4x fwd's partition count, and EVERY
    # propagation iteration re-scans the checkpointed sym at that
    # width — profiled at 128 near-empty tasks per iteration on a
    # 32-core box (task overhead, not work).  Coalesce back to the
    # larger of fwd's own width and the cluster width before
    # checkpointing: map-side merge (no shuffle), and at scale fwd's
    # width dominates so per-partition volume stays bounded.
    width = max(
        fwd.rdd.getNumPartitions(),
        fwd.sparkSession.sparkContext.defaultParallelism,
    )
    return (
        fwd.unionByName(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .unionByName(fwd.select("src", F.col("src").alias("dst")))
        .unionByName(fwd.select(F.col("dst").alias("src"), F.col("dst").alias("dst")))
        .coalesce(width)
        .localCheckpoint()
    )


def connected_components(
    edges: DataFrame, max_iter: int = 20, _iterations: list | None = None
) -> DataFrame:
    """(src, dst) undirected edges -> (node, component) with component =
    min node id reachable.  Deterministic.

    Per-iteration cost is exactly ONE join + ONE aggregation: the edge
    set is symmetrised AND given self-loops up front, so the min over
    in-neighbours already includes the node's own label — no second
    "least(old, new)" join is needed.  Convergence is detected without
    any join at all: labels only ever decrease under min-propagation, so
    the global sum of labels strictly decreases until the fixpoint and
    is observed on the checkpoint job itself (no extra job).

    Raises ComponentsNotConverged when max_iter passes don't reach the
    fixpoint — the partial labels would be silently wrong on graphs of
    diameter > max_iter.  Callers that can't bound the diameter should
    use ``components()`` (auto fall-over to star contraction) instead.

    ``_iterations``, if given, receives the executed iteration count
    (test hook — the planted-mutation graphs must converge in
    diameter+1 steps, not drift toward max_iter).
    """
    labels, iterations, converged = _label_prop(_symmetrise(edges), max_iter)
    if not converged:
        raise ComponentsNotConverged(
            f"label propagation did not reach a fixpoint in {max_iter} passes; "
            "the graph's diameter exceeds the budget — use components() "
            "(star-contraction fall-over) or raise max_iter"
        )
    if _iterations is not None:
        _iterations.append(iterations)
    return labels.select("node", F.col("label").alias("component"))


def components(
    edges: DataFrame,
    label_budget: int = 4,
    max_rounds: int = 30,
    _method: list | None = None,
) -> DataFrame:
    """Auto-selecting connected components: run min-label propagation
    with a small iteration budget (near-dup graphs — star-shaped
    clusters of a document and its mutations — converge in 2-3 passes
    at ONE shuffle each), and fall over to large-star/small-star
    contraction (O(log^2 n) rounds on ANY topology, ~4 shuffles each)
    when the budget is exhausted without a fixpoint.

    This bounds the worst case: an unknown-diameter graph (chains of
    pairwise-similar crawl snapshots) costs at most ``label_budget``
    wasted propagation shuffles before the contraction path takes over,
    instead of diameter-many shuffles or a silently-wrong answer.
    ``_method``, if given, receives "label_prop" or "star" (test hook).
    """
    fwd = edges.select("src", "dst").localCheckpoint()
    labels, _, converged = _label_prop(_symmetrise(fwd, checkpointed=True), label_budget)
    if converged:
        if _method is not None:
            _method.append("label_prop")
        return labels.select("node", F.col("label").alias("component"))
    if _method is not None:
        _method.append("star")
    return star_components(fwd, max_rounds=max_rounds)


def star_components(
    edges: DataFrame, max_rounds: int = 30, _rounds: list | None = None
) -> DataFrame:
    """(src, dst) undirected edges -> (node, component), component =
    min node id reachable — same contract as ``connected_components``,
    via the alternating LARGE-STAR / SMALL-STAR algorithm (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14).

    Why a second algorithm: min-label propagation needs GRAPH-DIAMETER
    iterations — fine for near-dup clusters (diameter 2-3), quadratic
    pain on chain-shaped graphs.  Star contraction converges in
    O(log^2 n) rounds on ANY topology (a 256-node path takes ~8 rounds
    vs 255 propagation steps), each round two groupBy/join shuffles
    over the current edge set, whose SIZE SHRINKS as trees flatten into
    stars — the right shape for billion-edge graphs of unknown
    diameter.  ``connected_components`` stays the default for the
    near-dup queries because verified-duplicate graphs have tiny
    diameters and label propagation does one shuffle per round, not
    four.

    Both phases emit only (bigger, smaller) edges:

    - large-star(u): connect every neighbour v > u to
      m(u) = min(neighbours(u) + [u]) — runs on the symmetrised set.
    - small-star(u): key every edge on its LARGER endpoint; connect u
      and its smaller neighbours to their collective minimum.

    The fixpoint is a star forest (every node points at its component
    minimum); a full round that changes nothing is the termination
    signal (checked with a count + order-insensitive xxhash checksum —
    no driver-side edge materialisation).  Nodes only ever seen as
    self-loops (or fully contracted) are re-attached as singleton
    components from the node set captured up front.
    """

    def _summarised(e: DataFrame) -> tuple[DataFrame, tuple]:
        """Checkpoint ``e`` and read its (row count, checksum) summary."""
        e, n, h = _checkpoint_observed(
            e,
            F.count(F.lit(1)).alias("n"),
            # decimal accumulator: summing raw 64-bit hashes overflows
            # BIGINT under ANSI arithmetic
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
        )
        return e, (n, h)

    e, prev = _summarised(
        edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    rounds = 0
    fixpoint = False
    for _ in range(max_rounds):
        rounds += 1
        # large-star: symmetrise, group on u, attach m(u), keep v > u
        sym = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        mins = sym.groupBy("src").agg(
            F.least(F.col("src"), F.min("dst")).alias("m")
        )
        e = (
            sym.join(mins, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .distinct()
            # the small-star phase reads this frame TWICE (mins agg +
            # join); without materialisation the large-star
            # symmetrise/join/distinct recomputes for each reference
            .localCheckpoint()
        )
        # small-star: key on the larger endpoint, connect it and all
        # smaller neighbours to their collective min
        dire = e.select(
            F.greatest("src", "dst").alias("a"), F.least("src", "dst").alias("b")
        )
        mins = dire.groupBy("a").agg(F.min("b").alias("m"))
        e, cur = _summarised(
            dire.join(mins, "a")
            .select(F.col("b").alias("src"), F.col("m").alias("dst"))
            .unionByName(mins.select(F.col("a").alias("src"), F.col("m").alias("dst")))
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
        if cur == prev:
            fixpoint = True
            break
        prev = cur
    if not fixpoint:
        # exhausting max_rounds without a stable edge set means the
        # star forest may not be fully contracted — the components
        # below would be WRONG with no signal.  O(log^2 n) convergence
        # makes this unreachable below ~2^sqrt(30) nodes; hitting it
        # means a bug or an absurdly small max_rounds.
        raise ComponentsNotConverged(
            f"star contraction did not reach a fixpoint in {max_rounds} rounds"
        )
    if _rounds is not None:
        _rounds.append(rounds)
    # star edges are (member, center); centers + contracted singletons
    # re-attach from the captured node set
    members = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    return members.unionByName(
        nodes.join(members, "node", "left_anti").select(
            "node", F.col("node").alias("component")
        )
    )


def _near_dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + two mutated copies -> components of size >= 3."""
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    c1 = d.select((F.col("doc_id") + 100000).alias("doc_id"), F.concat("text", F.lit(" zz")).alias("text"))
    c2 = d.select((F.col("doc_id") + 200000).alias("doc_id"), F.concat("text", F.lit(" zz qq")).alias("text"))
    return d.unionByName(c1).unionByName(c2)


_SQL_CORPUS3 = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 100000, text || ' zz' FROM documents
  UNION ALL SELECT doc_id + 200000, text || ' zz qq' FROM documents
)"""

_SQL_EDGES = f"""
shingled AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM corpus),
sizes AS (SELECT doc_id, len(sh) AS n FROM shingled),
exploded AS (SELECT doc_id, unnest(sh) AS s FROM shingled),
pairs AS (
  SELECT a.doc_id AS src, b.doc_id AS dst, COUNT(*) AS common
  FROM exploded a JOIN exploded b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
edges AS (
  SELECT src, dst FROM pairs
  JOIN sizes sa ON sa.doc_id = src JOIN sizes sb ON sb.doc_id = dst
  WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.5
)"""


@register(
    "q_dedup_components",
    oracle=f"""
WITH RECURSIVE {_SQL_CORPUS3}, {_SQL_EDGES},
sym AS (
  SELECT src, dst FROM edges
  UNION SELECT dst, src FROM edges
  UNION SELECT src, src FROM edges
  UNION SELECT dst, dst FROM edges
),
reach(a, b) AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
),
comp AS (SELECT a AS node, MIN(b) AS component FROM reach GROUP BY a)
SELECT component, COUNT(*) AS cluster_size, MIN(node) AS keep_id
FROM comp GROUP BY component
""",
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: n-gram Jaccard edges (>= 0.5) over documents
    plus two planted mutation generations, then connected components.
    Each cluster keeps its minimum doc_id as canonical — components must
    have size >= 3 (original + both mutations) plus any natural merges.

    Goes through the auto-selecting ``components()``: the planted
    graphs are star-shaped (diameter 2) so label propagation converges
    inside the budget, but a pathological corpus (chained crawl
    snapshots) falls over to star contraction instead of failing.
    """
    from sayn_spark.functions.dedup import _fan_out

    corpus = _fan_out(_near_dup_corpus(spark, sf_dir), spark, sf_dir)
    comp = components(_jaccard_edges(corpus))
    return comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"), F.min("node").alias("keep_id")
    )


@register(
    "q_dedup_components_star",
    oracle=f"""
WITH RECURSIVE {_SQL_CORPUS3}, {_SQL_EDGES},
sym AS (
  SELECT src, dst FROM edges
  UNION SELECT dst, src FROM edges
  UNION SELECT src, src FROM edges
  UNION SELECT dst, dst FROM edges
),
reach(a, b) AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
),
comp AS (SELECT a AS node, MIN(b) AS component FROM reach GROUP BY a)
SELECT component, COUNT(*) AS cluster_size, MIN(node) AS keep_id
FROM comp GROUP BY component
""",
)
def q_dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clusters as q_dedup_components (identical oracle), computed
    with the large-star/small-star contraction instead of label
    propagation — the variant to reach for when the duplicate graph's
    diameter is unknown (chains of pairwise-similar crawl snapshots),
    where propagation's diameter-many rounds lose to contraction's
    O(log^2 n).  Registered separately so BOTH algorithms carry oracle
    evidence; equivalence on adversarial topologies is asserted in
    tests/test_properties.py.
    """
    from sayn_spark.functions.dedup import _fan_out

    corpus = _fan_out(_near_dup_corpus(spark, sf_dir), spark, sf_dir)
    comp = star_components(_jaccard_edges(corpus))
    return comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"), F.min("node").alias("keep_id")
    )


def _jaccard_edges(corpus: DataFrame, threshold: float = 0.5) -> DataFrame:
    """(src, dst) word-3-gram Jaccard >= threshold edges over the
    corpus — the verified near-dup graph (inverted-index equi-join on
    the shingle, exact Jaccard on co-occurring pairs only).

    Two shuffle-volume cuts vs the naive posting join (together 3x
    faster at sf0.1, and the savings grow with data size):

    - postings join on ``xxhash64(shingle)`` instead of the ~30-byte
      shingle string, so both shuffle sides move 8-byte keys.  A hash
      collision could only inflate ``common`` for a pair that co-holds
      two colliding shingles (P ~ n_shingles^2 / 2^64) — the same
      accepted-risk class as the md5 fingerprints the exact-dedup
      family is built on.
    - per-doc set sizes ride along the exploded postings (one extra
      int per row) so Jaccard needs no post-aggregation joins back to
      a sizes table.
    """
    shingled = _staged_shingles(corpus, persist=True)
    exploded = shingled.select(
        "doc_id", F.size("sh").alias("n"), F.explode("sh").alias("s")
    ).select("doc_id", "n", F.xxhash64("s").alias("h"))
    a = exploded.alias("a")
    b = exploded.alias("b")
    pairs = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.first("a.n").alias("na"),
            F.first("b.n").alias("nb"),
        )
    )
    jacc = F.col("common").cast("double") / (F.col("na") + F.col("nb") - F.col("common"))
    return pairs.where(jacc >= threshold).select("src", "dst")


@register(
    "q_dedup_keep_best",
    oracle=f"""
WITH RECURSIVE {_SQL_CORPUS3}, {_SQL_EDGES},
sym AS (
  SELECT src, dst FROM edges
  UNION SELECT dst, src FROM edges
  UNION SELECT src, src FROM edges
  UNION SELECT dst, dst FROM edges
),
reach(a, b) AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
),
comp AS (SELECT a AS node, MIN(b) AS component FROM reach GROUP BY a),
members AS (
  SELECT c.doc_id AS node, COALESCE(cm.component, c.doc_id) AS component
  FROM corpus c LEFT JOIN comp cm ON cm.node = c.doc_id
),
q AS (
  SELECT doc_id,
         ROUND(0.4 * (CAST(len(list_distinct(tokens)) AS DOUBLE) / len(tokens))
             + 0.3 * (1.0 - CAST(len(list_filter(tokens, x -> x IN ('the','a','of','and','is'))) AS DOUBLE) / len(tokens))
             + 0.3 * LEAST(1.0, len(tokens) / 100.0), 6) AS quality
  FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS tokens
        FROM corpus)
),
ranked AS (
  SELECT m.component, m.node, q.quality,
         ROW_NUMBER() OVER (PARTITION BY m.component ORDER BY q.quality DESC, m.node) AS rk
  FROM members m JOIN q ON q.doc_id = m.node
)
SELECT component, COUNT(*) AS cluster_size,
       MAX(CASE WHEN rk = 1 THEN node END) AS keep_id,
       MAX(CASE WHEN rk = 1 THEN quality END) AS keep_quality
FROM ranked GROUP BY component
""",
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection — the last stage of a real dedup
    pipeline: near-dup clusters (Jaccard edges -> connected components,
    singletons included), then keep the HIGHEST-QUALITY member of each
    cluster (deterministic quality score from text.py's formula; ties
    break on doc_id) instead of the naive min-id.

    Scale shape: edges and components as in q_dedup_components; the
    selection adds one broadcast-able membership join and one window
    over (component) — rows are (component, doc_id, quality), never
    documents.  Everything downstream of the shingle join is key-sized.
    """
    from sayn_spark.functions.dedup import _TOKENS, _fan_out
    from sayn_spark.functions.text import STOPWORDS
    from pyspark.sql.window import Window

    corpus = _fan_out(_near_dup_corpus(spark, sf_dir), spark, sf_dir)
    comp = connected_components(_jaccard_edges(corpus))
    members = (
        corpus.select("doc_id")
        .join(comp, corpus["doc_id"] == comp["node"], "left")
        .select(
            "doc_id", F.coalesce("component", F.col("doc_id")).alias("component")
        )
    )
    sw = "('" + "','".join(STOPWORDS) + "')"
    n_tokens = F.expr(f"size({_TOKENS})")
    distinct_ratio = F.expr(f"size(array_distinct({_TOKENS}))").cast("double") / n_tokens
    stop_ratio = F.expr(f"size(filter({_TOKENS}, x -> x in {sw}))").cast("double") / n_tokens
    quality = corpus.select(
        "doc_id",
        F.round(
            0.4 * distinct_ratio
            + 0.3 * (F.lit(1.0) - stop_ratio)
            + 0.3 * F.least(F.lit(1.0), n_tokens / F.lit(100.0)),
            6,
        ).alias("quality"),
    )
    w = Window.partitionBy("component").orderBy(F.desc("quality"), "doc_id")
    ranked = members.join(quality, "doc_id").withColumn("rk", F.row_number().over(w))
    return ranked.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.max(F.when(F.col("rk") == 1, F.col("doc_id"))).alias("keep_id"),
        F.max(F.when(F.col("rk") == 1, F.col("quality"))).alias("keep_quality"),
    )


@register(
    "q_dedup_cluster_profile",
    oracle=f"""
WITH RECURSIVE {_SQL_CORPUS3}, {_SQL_EDGES},
sym AS (
  SELECT src, dst FROM edges
  UNION SELECT dst, src FROM edges
  UNION SELECT src, src FROM edges
  UNION SELECT dst, dst FROM edges
),
reach(a, b) AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
),
comp AS (SELECT a AS node, MIN(b) AS component FROM reach GROUP BY a),
csize AS (SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component),
multi AS (
  SELECT cluster_size, COUNT(*) AS n_clusters,
         CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
         CAST(SUM(cluster_size - 1) AS BIGINT) AS n_dropped
  FROM csize GROUP BY cluster_size
)
SELECT * FROM multi
UNION ALL
SELECT 1, n, n, 0 FROM (
  SELECT (SELECT COUNT(*) FROM corpus) - (SELECT COUNT(*) FROM comp) AS n
) WHERE n > 0
""",
)
def q_dedup_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus duplication profile — the dedup PLANNING number every
    curation run reports before deleting anything: for each near-dup
    cluster size, how many clusters exist, how many documents they
    hold, and how many a keep-one policy would drop.  Size-1 rows are
    the singleton documents (no >= 0.5-Jaccard neighbor), so the
    n_docs column sums to the corpus and `1 - sum(n_dropped)/corpus`
    is the surviving fraction.

    Scale shape: the cluster assignment is the auto-selecting
    ``components()`` (label-prop with star-contraction fall-over); the
    profile on top is two map-side-combinable aggregates over the
    (node, component) frame plus one scalar count for the singleton
    row — output rows are O(distinct cluster sizes), a telemetry-sized
    frame at any corpus scale.
    """
    from sayn_spark.functions.dedup import _fan_out

    corpus = _fan_out(_near_dup_corpus(spark, sf_dir), spark, sf_dir)
    comp = components(_jaccard_edges(corpus))
    csize = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    multi = csize.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("cluster_size").alias("n_docs"),
        F.sum(F.col("cluster_size") - 1).alias("n_dropped"),
    )
    n_corpus = corpus.select(F.count(F.lit(1)).alias("nc"))
    n_nodes = comp.select(F.count(F.lit(1)).alias("nn"))
    singles = (
        n_corpus.crossJoin(n_nodes)
        .select((F.col("nc") - F.col("nn")).alias("n"))
        .where(F.col("n") > 0)
        .select(
            F.lit(1).cast("bigint").alias("cluster_size"),
            F.col("n").alias("n_clusters"),
            F.col("n").alias("n_docs"),
            F.lit(0).cast("bigint").alias("n_dropped"),
        )
    )
    return multi.unionByName(singles)


@register(
    "q_dedup_soft_weights",
    oracle=f"""
WITH RECURSIVE {_SQL_CORPUS3}, {_SQL_EDGES},
sym AS (
  SELECT src, dst FROM edges
  UNION SELECT dst, src FROM edges
  UNION SELECT src, src FROM edges
  UNION SELECT dst, dst FROM edges
),
reach(a, b) AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
),
comp AS (SELECT a AS node, MIN(b) AS component FROM reach GROUP BY a),
csize AS (SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component),
sized AS (SELECT c.node AS doc_id, s.cluster_size FROM comp c JOIN csize s USING (component))
SELECT d.doc_id,
       CAST(COALESCE(s.cluster_size, 1) AS BIGINT) AS cluster_size,
       CAST(1000000 // COALESCE(s.cluster_size, 1) AS BIGINT) AS weight_ppm
FROM corpus d LEFT JOIN sized s ON s.doc_id = d.doc_id
""",
)
def q_dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup — DOWNWEIGHT near-duplicate clusters instead of
    dropping them (the SoftDeDup idea: hard removal throws away the
    signal that duplicated text is often GOOD text; reweighting keeps
    every document but makes each cluster contribute ~one document's
    worth of gradient).  Every doc gets weight 1/cluster_size as
    integer ppm — singletons weigh 1000000, a 4-copy cluster's members
    250000 each — ready to feed a weighted sampler (the sample task's
    method: weighted consumes exactly this shape) or a loss-weighting
    column.

    Determinism: cluster assignment is the auto-selecting
    ``components()`` over >= 0.5-Jaccard edges (the registry's
    recursive-CTE-certified machinery); weights are integer floor
    division — no FP anywhere.

    Scale shape: everything up to the weights is q_dedup_components'
    audited plan (banded edges, budgeted label-prop); the weighting
    itself adds one broadcast-sized (component, size) aggregate and a
    slim left join on doc_id — no new shuffle of document text."""
    from sayn_spark.functions.dedup import _fan_out

    corpus = _fan_out(_near_dup_corpus(spark, sf_dir), spark, sf_dir)
    comp = components(_jaccard_edges(corpus))
    csize = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    sized = comp.join(csize, "component").select(
        F.col("node").alias("doc_id"), "cluster_size"
    )
    return corpus.select("doc_id").join(sized, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_size", F.lit(1)).cast("bigint").alias("cluster_size"),
        F.expr("cast(1000000 div coalesce(cluster_size, 1) as bigint)").alias(
            "weight_ppm"
        ),
    )
