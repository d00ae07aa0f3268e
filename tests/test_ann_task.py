"""Lifecycle tests for the ann_index task (operators/ann.py): the
catalog-built IVF index searched through ann_index_search must equal
the registered q_ivf_search query (same oracle mechanism), refined
centroids must match the DuckDB Lloyd-step replica, and the inverted
file must be bucketed on the cell key.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from sayn_spark.core.compiler import Compiler
from sayn_spark.core.database import SparkDatabase
from sayn_spark.core.objects import DbObjectCompiler
from sayn_spark.functions import REGISTRY
from sayn_spark.functions.similarity import ann_index_search
from sayn_spark.operators import RunArguments, TaskContext
from sayn_spark.operators.ann import AnnIndexTask

SF = "/root/testdata/sf0.001"


@pytest.fixture
def ctx(spark, tmp_path):
    return TaskContext(
        spark=spark,
        db=SparkDatabase(spark),
        compiler=Compiler(parameters={}),
        obj_compiler=DbObjectCompiler(default_db="spark"),
        run_arguments=RunArguments(),
        parameters={},
        connections={},
        project_dir=tmp_path,
    )


def _build(ctx, spark, name, cfg):
    t = AnnIndexTask(name, cfg, ctx)
    t.config()
    t.run()
    return t


@pytest.fixture
def emb_table(ctx, spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet")
    ctx.db.replace_table("ann_src", df)
    yield "ann_src"


def test_ann_index_search_equals_registered_query(ctx, spark, emb_table):
    """nprobe=1 search over the task-built index == q_ivf_search's
    registered (oracle-verified) output: same cells, same cosines,
    same tie-breaks."""
    _build(
        ctx,
        spark,
        "ann_build",
        {"source": "ann_src", "index": "ann_ix", "label_column": "label"},
    )
    queries = (
        spark.table("ann_src")
        .where(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("query_id"),
            F.expr("cast(embedding as array<double>)").alias("e"),
        )
    )
    got = sorted(
        tuple(r)
        for r in ann_index_search(spark, "ann_ix", queries, k=3, nprobe=1)
        .select("query_id", "neighbor_id", "cos", "rk")
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in REGISTRY["q_ivf_search"]
        .fn(spark, SF)
        .select("query_id", "neighbor_id", "cos", "rk")
        .collect()
    )
    assert got == want
    assert len(got) > 0


def test_ann_index_refined_centroids_match_duckdb_lloyd_step(ctx, spark, emb_table):
    """refine_iters=1 must produce exactly the DuckDB replica of one
    Lloyd iteration (assign to seed centroids, recompute means with
    DECIMAL accumulation)."""
    from sayn_spark.functions.similarity import _SQL_CENTROIDS, _SQL_EMB

    _build(
        ctx,
        spark,
        "ann_build_r1",
        {
            "source": "ann_src",
            "index": "ann_r1",
            "label_column": "label",
            "refine_iters": 1,
        },
    )
    got = {
        r.c_label: list(r.ce) for r in spark.table("ann_r1_centroids").collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{SF}/embeddings.parquet')"
    )
    want = {
        row[0]: list(row[1])
        for row in con.execute(
            f"""
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
)
SELECT cell, list(c1 ORDER BY i) FROM cent1 GROUP BY cell
"""
        ).fetchall()
    }
    assert got == want


def test_ann_index_vectors_bucketed_and_rebuild_idempotent(ctx, spark, emb_table):
    cfg = {"source": "ann_src", "index": "ann_b", "label_column": "label"}
    _build(ctx, spark, "ann_b1", cfg)
    desc = {
        r.col_name: r.data_type
        for r in spark.sql("DESCRIBE TABLE EXTENDED ann_b_vectors").collect()
    }
    assert desc.get("Num Buckets") is not None
    assert "cell" in desc.get("Bucket Columns", "")
    first = sorted(
        (r.vec_id, r.cell) for r in spark.table("ann_b_vectors").collect()
    )
    # rebuild: same inputs -> identical index
    _build(ctx, spark, "ann_b2", cfg)
    second = sorted(
        (r.vec_id, r.cell) for r in spark.table("ann_b_vectors").collect()
    )
    assert first == second


def test_ann_index_nprobe_widens_candidates(ctx, spark, emb_table):
    """nprobe=2 can only improve each query's top-k (more cells in
    scope), and hash-seeded indexes (no label column) work too."""
    _build(
        ctx,
        spark,
        "ann_hash",
        {"source": "ann_src", "index": "ann_h", "n_cells": 8},
    )
    queries = (
        spark.table("ann_src")
        .where(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("query_id"),
            F.expr("cast(embedding as array<double>)").alias("e"),
        )
    )
    one = {
        r.query_id: r.cos
        for r in ann_index_search(spark, "ann_h", queries, k=3, nprobe=1)
        .where("rk = 3")
        .collect()
    }
    two = {
        r.query_id: r.cos
        for r in ann_index_search(spark, "ann_h", queries, k=3, nprobe=2)
        .where("rk = 3")
        .collect()
    }
    assert set(one) == set(two)
    for qid, c1 in one.items():
        assert two[qid] >= c1, (qid, two[qid], c1)


def test_ann_index_config_validation(ctx):
    for cfg in (
        {},
        {"source": "t"},  # no index
        {"source": "t", "index": "i", "n_cells": 0},
        {"source": "t", "index": "i", "refine_iters": -1},
    ):
        t = AnnIndexTask("bad", cfg, ctx)
        with pytest.raises(ValueError):
            t.config()


def test_ann_ivfpq_task_search_equals_registered_query(ctx, spark, emb_table):
    """method=ivfpq builds codebook + cell-bucketed codes tables, and
    ann_index_search_pq over them reproduces the registered
    q_ann_ivfpq_topk output exactly (same cells, same ADC shortlist,
    same re-ranked top-5)."""
    from sayn_spark.functions.similarity import ann_index_search_pq

    _build(
        ctx,
        spark,
        "ann_pq",
        {
            "source": "ann_src",
            "index": "ann_pq",
            "label_column": "label",
            "method": "ivfpq",
        },
    )
    # codebook: 8 subspaces x 16 codewords; codes: 8 rows per vector
    assert spark.table("ann_pq_codebook").count() == 8 * 16
    n_vec = spark.table("ann_pq_vectors").count()
    assert spark.table("ann_pq_codes").count() == n_vec * 8
    desc = {
        r.col_name: r.data_type
        for r in spark.sql("DESCRIBE TABLE EXTENDED ann_pq_codes").collect()
    }
    assert "cell" in desc.get("Bucket Columns", "")

    queries = (
        spark.table("ann_src")
        .where(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("query_id"),
            F.expr("cast(embedding as array<double>)").alias("e"),
        )
    )
    got = sorted(
        tuple(r)
        for r in ann_index_search_pq(spark, "ann_pq", queries, k=5, nprobe=1)
        .select("query_id", "neighbor_id", "cos", "rk")
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in REGISTRY["q_ann_ivfpq_topk"]
        .fn(spark, SF)
        .select("query_id", "neighbor_id", "cos", "rk")
        .collect()
    )
    assert got == want
    assert len(got) > 0


def test_ann_index_incremental_insert(ctx, spark, emb_table):
    """mode=incremental inserts new vectors into the existing index
    under FROZEN centroids: vectors/codes append only the new ids,
    existing assignments are untouched, searches see the inserts, and
    reruns are no-ops."""
    from sayn_spark.functions.similarity import ann_index_search

    for t in ("ann_inc_src",):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    full = spark.table("ann_src")
    wave1 = full.where(F.col("vec_id") % 3 != 0)
    ctx.db.replace_table("ann_inc_src", wave1)
    base_cfg = {
        "source": "ann_inc_src",
        "index": "ann_inc",
        "label_column": "label",
        "method": "ivfpq",
    }
    _build(ctx, spark, "ann_inc_full", base_cfg)
    n1 = spark.table("ann_inc_vectors").count()
    assert n1 == wave1.count()
    before = {
        r.vec_id: r.cell for r in spark.table("ann_inc_vectors").collect()
    }
    cent_before = sorted(
        (r.c_label, tuple(r.ce)) for r in spark.table("ann_inc_centroids").collect()
    )

    # grow the source; incremental insert picks up only the new ids
    ctx.db.replace_table("ann_inc_src", full)
    _build(ctx, spark, "ann_inc_add", {**base_cfg, "mode": "incremental"})
    after = {r.vec_id: r.cell for r in spark.table("ann_inc_vectors").collect()}
    assert len(after) == full.count()
    assert all(after[v] == c for v, c in before.items())  # untouched
    assert spark.table("ann_inc_codes").count() == full.count() * 8
    # centroids frozen
    cent_after = sorted(
        (r.c_label, tuple(r.ce)) for r in spark.table("ann_inc_centroids").collect()
    )
    assert cent_after == cent_before

    # a query finds an inserted vector (its own exact copy isn't there,
    # but its cell now contains it)
    new_id = full.where(F.col("vec_id") % 3 == 0).select("vec_id").first().vec_id
    queries = full.where(F.col("vec_id") == new_id).select(
        F.col("vec_id").alias("query_id"),
        F.expr("cast(embedding as array<double>)").alias("e"),
    )
    hits = ann_index_search(spark, "ann_inc", queries, k=3, nprobe=1)
    assert hits.count() == 3

    # rerun with unchanged source: no-op
    _build(ctx, spark, "ann_inc_noop", {**base_cfg, "mode": "incremental"})
    assert spark.table("ann_inc_vectors").count() == full.count()
    assert spark.table("ann_inc_codes").count() == full.count() * 8


def test_ann_index_incremental_validation(ctx):
    t = AnnIndexTask(
        "bad",
        {
            "source": "t",
            "index": "i",
            "mode": "incremental",
            "refine_iters": 1,
        },
        ctx,
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="frozen"):
        t.config()


def test_ann_index_incremental_method_mismatch_guard(ctx, spark, emb_table):
    """Inserting with method=ivf into an ivfpq index would silently
    leave the codes table stale — rejected instead."""
    _build(
        ctx,
        spark,
        "ann_mm",
        {"source": "ann_src", "index": "ann_mm", "label_column": "label", "method": "ivfpq"},
    )
    t = AnnIndexTask(
        "ann_mm_ins",
        {"source": "ann_src", "index": "ann_mm", "label_column": "label", "mode": "incremental"},
        ctx,
    )
    t.config()
    with pytest.raises(ValueError, match="stale"):
        t.run()


def test_ann_index_rejects_string_label_column(ctx, spark, emb_table):
    """A string label would cast to a NULL cell key and every probe
    would silently return empty — the build must fail loudly
    (ADVICE r5)."""
    df = spark.table("ann_src").withColumn(
        "label_s", F.concat(F.lit("grp_"), F.col("label").cast("string"))
    )
    ctx.db.replace_table("ann_src_s", df)
    t = AnnIndexTask(
        "ann_bad_label",
        {"source": "ann_src_s", "index": "ann_bad", "label_column": "label_s"},
        ctx,
    )
    t.config()
    with pytest.raises(ValueError, match="must be integer"):
        t.run()


def test_ann_search_task_matches_library_and_orders_after_build(ctx, spark, emb_table):
    """The ann_search task must write exactly the library call's result
    for both index kinds (catalog-dispatched: codes table -> PQ path),
    and declare the index as a source so the DAG orders it after the
    build."""
    from sayn_spark.functions.similarity import (
        ann_index_search,
        ann_index_search_pq,
    )
    from sayn_spark.operators.ann_search import AnnSearchTask

    # build both index kinds from the shared fixture table
    for index, method in (("as_ivf", "ivf"), ("as_pq", "ivfpq")):
        t = AnnIndexTask(
            f"{index}_build",
            {
                "source": "ann_src",
                "index": index,
                "label_column": "label",
                "method": method,
            },
            ctx,
        )
        t.config()
        t.run()
    ctx.db.replace_table(
        "as_queries",
        spark.table("ann_src").where("vec_id < 10").select("vec_id", "embedding"),
    )
    queries = spark.table("as_queries").select(
        F.col("vec_id").alias("query_id"),
        F.expr("cast(embedding as array<double>)").alias("e"),
    )
    for index, lib in (
        ("as_ivf", lambda: ann_index_search(spark, "as_ivf", queries, k=3, nprobe=2)),
        ("as_pq", lambda: ann_index_search_pq(spark, "as_pq", queries, k=3, nprobe=2, shortlist=10)),
    ):
        st = AnnSearchTask(
            f"{index}_search",
            {
                "index": index,
                "queries": "as_queries",
                "destination": f"{index}_topk",
                "k": 3,
                "nprobe": 2,
                "shortlist": 10,
            },
            ctx,
        )
        st.config()
        # DAG ordering: the index's vectors table is a declared source
        assert any("_vectors" in str(s) for s in st.sources)
        st.run()
        got = sorted(
            (r.query_id, r.neighbor_id, r.cos, r.rk)
            for r in spark.table(f"{index}_topk").collect()
        )
        want = sorted(
            (r.query_id, r.neighbor_id, r.cos, r.rk) for r in lib().collect()
        )
        assert got == want and len(got) > 0
    # config validation
    bad = AnnSearchTask(
        "as_bad",
        {"index": "as_ivf", "queries": "as_queries", "destination": "x", "k": 5, "shortlist": 3},
        ctx,
    )
    with pytest.raises(ValueError, match="shortlist >= k"):
        bad.config()
    missing = AnnSearchTask(
        "as_missing",
        {"index": "nope", "queries": "as_queries", "destination": "x"},
        ctx,
    )
    missing.config()
    with pytest.raises(ValueError, match="run the ann_index build first"):
        missing.run()
    for t in ("as_queries",):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    for ix in ("as_ivf", "as_pq"):
        for sfx in ("_centroids", "_vectors", "_codebook", "_codes", "_topk"):
            spark.sql(f"DROP TABLE IF EXISTS {ix}{sfx}")


def test_ann_sq8_task_builds_and_searches(ctx, spark, emb_table):
    """method=ivfsq8 builds the 1-row grid + cell-bucketed integer
    codes, and with every cell probed and an exhaustive shortlist the
    SQ8 search's exact re-rank equals the plain in-cell exact scan."""
    from sayn_spark.functions.similarity import (
        ann_index_search,
        ann_index_search_sq8,
    )

    _build(
        ctx,
        spark,
        "ann_sq8",
        {
            "source": "ann_src",
            "index": "ann_sq8",
            "label_column": "label",
            "method": "ivfsq8",
        },
    )
    assert spark.table("ann_sq8_sq8grid").count() == 1
    n_vec = spark.table("ann_sq8_vectors").count()
    assert spark.table("ann_sq8_sq8codes").count() == n_vec
    # every code is an integer in [0, 255]
    bad = spark.table("ann_sq8_sq8codes").where(
        F.expr("exists(c, x -> x < 0 or x > 255)")
    )
    assert bad.count() == 0
    desc = {
        r.col_name: r.data_type
        for r in spark.sql("DESCRIBE TABLE EXTENDED ann_sq8_sq8codes").collect()
    }
    assert "cell" in desc.get("Bucket Columns", "")

    n_cells = spark.table("ann_sq8_centroids").count()
    queries = (
        spark.table("ann_src")
        .where(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("query_id"),
            F.expr("cast(embedding as array<double>)").alias("e"),
        )
    )
    got = sorted(
        tuple(r)
        for r in ann_index_search_sq8(
            spark, "ann_sq8", queries, k=5, nprobe=n_cells, shortlist=100000
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in ann_index_search(
            spark, "ann_sq8", queries, k=5, nprobe=n_cells
        ).collect()
    )
    assert got == want and len(got) > 0
    # and at nprobe=1 with a tight shortlist the approximate path still
    # returns k ranked rows per query
    tight = ann_index_search_sq8(spark, "ann_sq8", queries, k=5, nprobe=1,
                                 shortlist=10)
    assert tight.groupBy("query_id").count().where("count != 5").count() == 0


def test_ann_sq8_incremental_insert_and_guards(ctx, spark, emb_table):
    """SQ8 incremental inserts encode with the FROZEN grid (grid and
    centroids untouched), replays are no-ops, and method mismatches
    are rejected before any write."""
    full = spark.table("ann_src")
    wave1 = full.where(F.col("vec_id") % 3 != 0)
    ctx.db.replace_table("ann_sq8i_src", wave1)
    base = {
        "source": "ann_sq8i_src",
        "index": "ann_sq8i",
        "label_column": "label",
        "method": "ivfsq8",
    }
    _build(ctx, spark, "ann_sq8i_full", base)
    grid_before = spark.table("ann_sq8i_sq8grid").collect()
    codes_before = {
        r.vec_id: tuple(r.c) for r in spark.table("ann_sq8i_sq8codes").collect()
    }

    ctx.db.replace_table("ann_sq8i_src", full)
    _build(ctx, spark, "ann_sq8i_add", {**base, "mode": "incremental"})
    assert spark.table("ann_sq8i_sq8grid").collect() == grid_before  # frozen
    codes_after = {
        r.vec_id: tuple(r.c) for r in spark.table("ann_sq8i_sq8codes").collect()
    }
    assert len(codes_after) == full.count()
    assert all(codes_after[v] == c for v, c in codes_before.items())

    # replay: no-op
    _build(ctx, spark, "ann_sq8i_noop", {**base, "mode": "incremental"})
    assert spark.table("ann_sq8i_sq8codes").count() == full.count()

    # method mismatch guards, both directions
    t = AnnIndexTask(
        "ann_sq8i_bad",
        {"source": "ann_sq8i_src", "index": "ann_sq8i", "label_column": "label",
         "mode": "incremental", "method": "ivf"},
        ctx,
    )
    t.config()
    with pytest.raises(ValueError, match="stale"):
        t.run()


def test_ann_binary_task_builds_and_searches(ctx, spark, emb_table):
    """method=ivfbin builds the shared grid + cell-bucketed packed
    words, the words recompute exactly from the codes, and with every
    cell probed and an exhaustive shortlist the binary search's exact
    re-rank equals the plain in-cell exact scan."""
    from sayn_spark.functions.similarity import (
        ann_index_search,
        ann_index_search_binary,
    )

    _build(
        ctx,
        spark,
        "ann_bin",
        {
            "source": "ann_src",
            "index": "ann_bin",
            "label_column": "label",
            "method": "ivfbin",
        },
    )
    assert spark.table("ann_bin_sq8grid").count() == 1
    n_vec = spark.table("ann_bin_vectors").count()
    words = spark.table("ann_bin_binwords")
    assert words.count() == n_vec
    # both words fit their 32-bit lanes
    assert words.where("w1 < 0 or w1 > 4294967295 or w2 < 0 or w2 > 4294967295").count() == 0
    desc = {
        r.col_name: r.data_type
        for r in spark.sql("DESCRIBE TABLE EXTENDED ann_bin_binwords").collect()
    }
    assert "cell" in desc.get("Bucket Columns", "")

    n_cells = spark.table("ann_bin_centroids").count()
    queries = (
        spark.table("ann_src")
        .where(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("query_id"),
            F.expr("cast(embedding as array<double>)").alias("e"),
        )
    )
    got = sorted(
        tuple(r)
        for r in ann_index_search_binary(
            spark, "ann_bin", queries, k=5, nprobe=n_cells, shortlist=100000
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in ann_index_search(
            spark, "ann_bin", queries, k=5, nprobe=n_cells
        ).collect()
    )
    assert got == want and len(got) > 0
    # tight approximate path still returns k ranked rows per query
    tight = ann_index_search_binary(
        spark, "ann_bin", queries, k=5, nprobe=1, shortlist=10
    )
    assert tight.groupBy("query_id").count().where("count != 5").count() == 0


def test_ann_binary_incremental_insert_and_dispatch(ctx, spark, emb_table):
    """Binary incremental inserts pack with the FROZEN grid, replays
    are no-ops, method mismatch is rejected, and the ann_search task
    dispatches to the binary path from the catalog."""
    from sayn_spark.operators.ann_search import AnnSearchTask

    full = spark.table("ann_src")
    wave1 = full.where(F.col("vec_id") % 3 != 0)
    ctx.db.replace_table("ann_bini_src", wave1)
    base = {
        "source": "ann_bini_src",
        "index": "ann_bini",
        "label_column": "label",
        "method": "ivfbin",
    }
    _build(ctx, spark, "ann_bini_full", base)
    grid_before = spark.table("ann_bini_sq8grid").collect()
    words_before = {
        (r.vec_id): (r.w1, r.w2) for r in spark.table("ann_bini_binwords").collect()
    }

    ctx.db.replace_table("ann_bini_src", full)
    _build(ctx, spark, "ann_bini_add", {**base, "mode": "incremental"})
    assert spark.table("ann_bini_sq8grid").collect() == grid_before  # frozen
    words_after = {
        (r.vec_id): (r.w1, r.w2) for r in spark.table("ann_bini_binwords").collect()
    }
    assert len(words_after) == full.count()
    assert all(words_after[v] == w for v, w in words_before.items())

    # replay: no-op
    _build(ctx, spark, "ann_bini_noop", {**base, "mode": "incremental"})
    assert spark.table("ann_bini_binwords").count() == full.count()

    # method mismatch guard
    t = AnnIndexTask(
        "ann_bini_bad",
        {"source": "ann_bini_src", "index": "ann_bini", "label_column": "label",
         "mode": "incremental", "method": "ivfsq8"},
        ctx,
    )
    t.config()
    with pytest.raises(ValueError, match="stale"):
        t.run()

    # catalog dispatch: the search task routes through the binary scan
    ctx.db.replace_table(
        "ann_bini_queries", full.where(F.col("vec_id") < 5)
    )
    st = AnnSearchTask(
        "ann_bini_search",
        {
            "index": "ann_bini",
            "queries": "ann_bini_queries",
            "destination": "ann_bini_topk",
            "k": 3,
            "nprobe": 2,
        },
        ctx,
    )
    st.config()
    st.run()
    topk = spark.table("ann_bini_topk")
    assert {"query_id", "neighbor_id", "cos", "rk"} <= set(topk.columns)
    assert topk.groupBy("query_id").count().where("count > 3").count() == 0
    assert topk.count() > 0


def test_ann_cascade_task_equals_registered_query(ctx, spark, emb_table):
    """method=cascade builds BOTH quantized layers over one frozen
    grid, and with every cell probed the ann_search task's cascade
    path reproduces the registered (driver-verified) q_ann_cascade_topk
    EXACTLY — same shortlist widths, same tie-breaks, same rounded
    cosines — because the frozen grid equals the query's corpus grid
    and full probing makes the tier-1 scan global."""
    from sayn_spark.operators.ann_search import AnnSearchTask

    _build(
        ctx,
        spark,
        "ann_casc",
        {
            "source": "ann_src",
            "index": "ann_casc",
            "label_column": "label",
            "method": "cascade",
        },
    )
    n_vec = spark.table("ann_casc_vectors").count()
    assert spark.table("ann_casc_sq8grid").count() == 1
    assert spark.table("ann_casc_sq8codes").count() == n_vec
    assert spark.table("ann_casc_binwords").count() == n_vec
    # the binary layer is exactly the top bit of the SQ8 layer
    joined = spark.sql(
        """
        SELECT c.vec_id FROM ann_casc_sq8codes c JOIN ann_casc_binwords w
        ON c.vec_id = w.vec_id
        WHERE aggregate(sequence(1, 32), cast(0 as bigint), (acc, j) ->
                acc + case when element_at(c.c, j) >= 128
                then shiftleft(cast(1 as bigint), 32 - j) else cast(0 as bigint) end)
              != w.w1
        """
    )
    assert joined.count() == 0

    n_cells = spark.table("ann_casc_centroids").count()
    ctx.db.replace_table(
        "ann_casc_queries", spark.table("ann_src").where(F.col("vec_id") < 10)
    )
    st = AnnSearchTask(
        "ann_casc_search",
        {
            "index": "ann_casc",
            "queries": "ann_casc_queries",
            "destination": "ann_casc_topk",
            "k": 5,
            "nprobe": int(n_cells),
            "shortlist": 20,
            "shortlist_binary": 50,
        },
        ctx,
    )
    st.config()
    st.run()
    got = sorted(tuple(r) for r in spark.table("ann_casc_topk").collect())
    want = sorted(
        tuple(r) for r in REGISTRY["q_ann_cascade_topk"].fn(spark, SF).collect()
    )
    assert got == want and len(got) == 50  # 10 queries x top-5

    # tight tiers still return k ranked rows per query
    st2 = AnnSearchTask(
        "ann_casc_tight",
        {
            "index": "ann_casc",
            "queries": "ann_casc_queries",
            "destination": "ann_casc_tight_topk",
            "k": 3,
            "nprobe": 1,
            "shortlist": 5,
            "shortlist_binary": 10,
        },
        ctx,
    )
    st2.config()
    st2.run()
    tight = spark.table("ann_casc_tight_topk")
    assert tight.groupBy("query_id").count().where("count != 3").count() == 0

    # config guard: tiers must narrow
    bad = AnnSearchTask(
        "ann_casc_bad",
        {
            "index": "ann_casc",
            "queries": "ann_casc_queries",
            "destination": "x",
            "shortlist": 20,
            "shortlist_binary": 10,
        },
        ctx,
    )
    with pytest.raises(ValueError, match="narrow"):
        bad.config()


def test_ann_cascade_incremental_heals_both_layers(ctx, spark, emb_table):
    """Incremental insert into a cascade index appends BOTH quantized
    layers against the frozen grid (the de-elif'd heal chain), replay
    is a no-op, and the method-mismatch guard names the built method."""
    from sayn_spark.operators.ann import AnnIndexTask

    full = spark.table("ann_src")
    wave1 = full.where(F.col("vec_id") % 3 != 0)
    ctx.db.replace_table("ann_casci_src", wave1)
    base = {
        "source": "ann_casci_src",
        "index": "ann_casci",
        "label_column": "label",
        "method": "cascade",
    }
    _build(ctx, spark, "ann_casci_full", base)
    grid_before = spark.table("ann_casci_sq8grid").collect()

    ctx.db.replace_table("ann_casci_src", full)
    _build(ctx, spark, "ann_casci_add", {**base, "mode": "incremental"})
    n = full.count()
    assert spark.table("ann_casci_sq8grid").collect() == grid_before  # frozen
    assert spark.table("ann_casci_vectors").count() == n
    assert spark.table("ann_casci_sq8codes").count() == n
    assert spark.table("ann_casci_binwords").count() == n

    _build(ctx, spark, "ann_casci_noop", {**base, "mode": "incremental"})
    assert spark.table("ann_casci_sq8codes").count() == n
    assert spark.table("ann_casci_binwords").count() == n

    t = AnnIndexTask(
        "ann_casci_bad",
        {**base, "mode": "incremental", "method": "ivfbin"},
        ctx,
    )
    t.config()
    with pytest.raises(ValueError, match="cascade"):
        t.run()


def test_ann_full_rebuild_drops_other_methods_layers(ctx, spark, emb_table):
    """A full build owns exactly its method's side tables.  Rebuilding a
    cascade index as ivf must drop the stale quantizer layers — the
    catalog dispatch reads the method from the tables that exist, so
    left-behind ones would route every search down the cascade over
    codes of vectors the new index no longer holds."""
    from sayn_spark.functions.similarity import ann_catalog_search

    base = {"source": "ann_rb_src", "index": "ann_rb", "label_column": "label"}
    ctx.db.replace_table("ann_rb_src", spark.table("ann_src"))
    _build(ctx, spark, "ann_rb_casc", {**base, "method": "cascade"})
    ctx.db.replace_table(
        "ann_rb_src", spark.table("ann_src").where(F.col("vec_id") % 2 == 0)
    )
    _build(ctx, spark, "ann_rb_ivf", {**base, "method": "ivf"})
    for stale in ("ann_rb_sq8grid", "ann_rb_sq8codes", "ann_rb_binwords"):
        assert not ctx.db.table_exists(stale), stale
    queries = (
        spark.table("ann_src")
        .where(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("query_id"),
            F.expr("cast(embedding as array<double>)").alias("e"),
        )
    )
    got = sorted(
        tuple(r)
        for r in ann_catalog_search(
            spark, ctx.db, "ann_rb", queries, k=3, nprobe=1,
            shortlist=3, shortlist_binary=3,
        ).collect()
    )
    want = sorted(
        tuple(r) for r in ann_index_search(spark, "ann_rb", queries, k=3, nprobe=1).collect()
    )
    assert got == want and len(got) == 30


@pytest.mark.parametrize("method", ["ivf", "ivfpq", "ivfsq8", "ivfbin", "cascade"])
def test_ann_search_survives_zero_norm_vectors(ctx, spark, method):
    """ANN-layer review r13: a zero-norm vector in the index (exactly
    what the embed task emits for an empty document, by r12 design)
    made every catalog search probing its cell die with DIVIDE_BY_ZERO
    under ANSI.  Since r14 the guard lives at the edges: the index
    writer drops zero-norm vectors (they could never rank under the
    NULL-cos-never-ranks semantics anyway) and the shared search tail
    filters zero-norm QUERIES once up-front — pinned here on every
    search path.  64-d rows: the PQ and binary layouts assume 64
    dims."""
    import math

    from sayn_spark.functions.similarity import _stored_method, ann_catalog_search

    rows = [
        (i, [math.sin(i * 7.3 + j) for j in range(64)], i % 2) for i in range(40)
    ]
    rows.append((99, [0.0] * 64, 1))  # the empty-document embedding
    ctx.db.replace_table(
        "zvt_src",
        spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int"),
    )
    ix = f"zvt_{method}"
    _build(ctx, spark, ix, {"source": "zvt_src", "index": ix,
                            "label_column": "label", "method": method})
    assert _stored_method(ctx.db, ix) == method

    def search(q):
        return ann_catalog_search(
            spark, ctx.db, ix, q, k=3, nprobe=2, shortlist=10, shortlist_binary=20
        ).collect()

    q = spark.createDataFrame(
        [(1, [math.cos(j * 0.7) for j in range(64)])], "query_id long, e array<double>"
    )
    out = search(q)
    assert len(out) == 3
    assert 99 not in {r.neighbor_id for r in out}
    assert all(r.cos is not None for r in out)
    q0 = spark.createDataFrame([(2, [0.0] * 64)], "query_id long, e array<double>")
    assert search(q0) == []
