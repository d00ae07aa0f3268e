"""Warm-session costs: work a session repeats on every pass over the
same queries must be paid once.

- codegen: the session's class cache holds a query's generated classes,
  so a repeated query compiles nothing;
- schema inference: a repeat read of an unchanged parquet file starts
  no Spark job, and a rewritten file is inferred again;
- convergence checks: the components loops read their sums from the
  checkpoint job, with the same iteration counts as a separate agg;
- persist bookkeeping: a task releases only what its own thread
  persisted.
"""

from __future__ import annotations

import os
import shutil
import sys
import threading
import uuid
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM."""
    cm = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def _jobs_in(spark, fn):
    """(fn's result, number of Spark jobs it started)."""
    sc = spark.sparkContext
    group = f"warm-session-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


# -- codegen cache -------------------------------------------------------


def test_session_sizes_codegen_cache(spark):
    from sayn_spark.session import _DEFAULTS

    key = "spark.sql.codegen.cache.maxEntries"
    assert int(_DEFAULTS[key]) > 100  # Spark's default evicts a pass's classes
    assert spark.conf.get(key) == _DEFAULTS[key]


def test_repeated_query_compiles_nothing(spark):
    """q_ann_ivfpq_topk alone generates ~110 classes, more than Spark's
    default cache of 100 holds, so under the default its second run
    recompiled about 100 of them.

    AQE is off for the two runs: it re-plans a stage from whichever
    sibling stages have finished, so a run can now and then pick a plan
    variant it has not compiled before whatever the cache size.  With
    static plans the count is exact."""
    from sayn_spark.functions import REGISTRY, release_persisted

    q = REGISTRY["q_ann_ivfpq_topk"]
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        first = q.fn(spark, SF_SMOKE).collect()
        release_persisted()
        before = _compiles(spark)
        second = q.fn(spark, SF_SMOKE).collect()
        after = _compiles(spark)
    finally:
        release_persisted()
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert after == before
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))


# -- parquet schema cache ------------------------------------------------


def test_repeat_read_of_unchanged_file_starts_no_job(spark, tmp_path):
    from sayn_spark.functions.registry import T

    # copy2 keeps the source mtime; the copy is a new inode, so the
    # first read below cannot hit an entry left by another test
    shutil.copy2(os.path.join(SF_SMOKE, "documents.parquet"), tmp_path)
    first, jobs_first = _jobs_in(spark, lambda: T(spark, str(tmp_path), "documents"))
    second, jobs_second = _jobs_in(spark, lambda: T(spark, str(tmp_path), "documents"))
    assert jobs_first >= 1  # the inference job this cache removes
    assert jobs_second == 0
    assert second.schema == first.schema
    assert second.count() == first.count()


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    from sayn_spark.functions.registry import T

    path = tmp_path / "documents.parquet"
    pq.write_table(pa.table({"doc_id": [1, 2], "text": ["a b", "c d"]}), path)
    assert T(spark, str(tmp_path), "documents").columns == ["doc_id", "text"]
    pq.write_table(
        pa.table({"doc_id": [1, 2, 3], "url": ["u1", "u2", "u3"], "n": [1.0, 2.0, 3.0]}),
        path,
    )
    df = T(spark, str(tmp_path), "documents")
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        ("doc_id", "bigint"),
        ("url", "string"),
        ("n", "double"),
    ]
    assert df.count() == 3


def test_schema_cache_keys_on_parquet_confs(spark, tmp_path):
    """The same file read under a conf that changes inference (binary
    columns as strings) must not reuse the other conf's schema."""
    from sayn_spark.sources.registry import read_parquet

    path = str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x"], type=pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert read_parquet(spark, path).dtypes == [("b", "binary")]
        spark.conf.set(key, "true")
        assert read_parquet(spark, path).dtypes == [("b", "string")]
    finally:
        spark.conf.set(key, old)


def test_directory_dataset_sees_added_files(spark, tmp_path):
    from sayn_spark.sources.registry import read_parquet

    pq.write_table(pa.table({"a": [1]}), tmp_path / "part-0.parquet")
    assert read_parquet(spark, str(tmp_path)).count() == 1
    pq.write_table(pa.table({"a": [2], "b": ["x"]}), tmp_path / "part-1.parquet")
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        df = read_parquet(spark, str(tmp_path))
    finally:
        spark.conf.set("spark.sql.parquet.mergeSchema", "false")
    assert df.columns == ["a", "b"]
    assert df.count() == 2


# -- convergence sums observed on the checkpoint -------------------------


def test_label_prop_iterations_unchanged(spark):
    """Same graphs and counts as tests/test_properties.py pins: a path
    of diameter 4 (+1 confirming pass) and two near-dup stars."""
    from sayn_spark.functions.components import connected_components

    graphs = [
        ([(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (20, 20)], [5]),
        ([(1, 101), (1, 201), (101, 201), (2, 102), (2, 202)], [2]),
    ]
    for pairs, want in graphs:
        iters: list[int] = []
        connected_components(
            spark.createDataFrame(pairs, schema="src long, dst long"), _iterations=iters
        ).collect()
        assert iters == want


def test_star_rounds_unchanged_on_path(spark):
    from sayn_spark.functions.components import star_components

    edges = spark.createDataFrame([(i, i + 1) for i in range(199)], schema="src long, dst long")
    rounds: list[int] = []
    got = {r.node: r.component for r in star_components(edges, _rounds=rounds).collect()}
    assert got == {i: 0 for i in range(200)}
    assert rounds == [9]  # the count the separate summary agg produced


def test_label_prop_runs_no_convergence_jobs(spark):
    """Each propagation pass costs its checkpoint's jobs only: the
    iteration that confirms the fixpoint adds no agg/collect job."""
    from sayn_spark.functions.components import _checkpoint_observed

    df = spark.range(100).select((F.col("id") % 7).alias("k"), F.col("id").alias("v"))
    agg = df.groupBy("k").agg(F.min("v").alias("label"))
    (out, total), jobs = _jobs_in(
        spark,
        lambda: _checkpoint_observed(agg, F.sum("label").alias("s")),
    )
    (_, jobs_plain) = _jobs_in(spark, lambda: agg.localCheckpoint())
    assert total == sum(range(7))
    assert jobs == jobs_plain
    assert out.count() == 7


# -- persist bookkeeping is per thread ------------------------------------


def test_release_frees_only_the_calling_threads_frames(spark):
    from sayn_spark.functions.registry import persist_tracked, release_persisted

    release_persisted(all_threads=True)
    frames = {}
    a_persisted = threading.Event()
    b_persisted = threading.Event()
    released = {}

    def run(name, mine, other, col):
        df = persist_tracked(spark.range(50).withColumn(col, F.col("id") + 1))
        df.count()
        frames[name] = df
        mine.set()
        other.wait(30)
        if name == "a":
            released[name] = release_persisted()

    ta = threading.Thread(target=run, args=("a", a_persisted, b_persisted, "x_a"))
    tb = threading.Thread(target=run, args=("b", b_persisted, a_persisted, "x_b"))
    for t in (ta, tb):
        t.start()
    for t in (ta, tb):
        t.join(60)
        assert not t.is_alive()
    try:
        a_cached, b_cached = frames["a"].is_cached, frames["b"].is_cached
    finally:
        left = release_persisted(all_threads=True)
    assert released["a"] == 1
    assert not a_cached
    assert b_cached
    assert left == 1
    assert not frames["b"].is_cached


def test_persist_bookkeeping_loses_nothing_under_contention(spark):
    """More threads than cores persist and release at once: every
    release returns exactly its own thread's frames."""
    from sayn_spark.functions.registry import persist_tracked, release_persisted

    release_persisted(all_threads=True)
    per_task, n_tasks = 10, 2 * (os.cpu_count() or 2)
    base = spark.range(10)

    def work(i: int) -> int:
        for j in range(per_task):
            persist_tracked(base.withColumn("x", F.lit(i * 1000 + j)))
        return release_persisted()

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(n_tasks) as pool:
            counts = list(pool.map(work, range(n_tasks), timeout=120))
    finally:
        sys.setswitchinterval(old)
    assert counts == [per_task] * n_tasks
    assert release_persisted(all_threads=True) == 0


# -- driver-side guards ---------------------------------------------------


def test_as_local_refuses_frames_over_its_cap(spark):
    from sayn_spark.functions.similarity import _AS_LOCAL_MAX_ROWS, _as_local

    src = spark.range(_AS_LOCAL_MAX_ROWS + 1).select(F.col("id").alias("vec_id"))
    with pytest.raises(ValueError, match=r"_as_local\(query head\): more than 10000 rows"):
        _as_local(src, "query head")
    with pytest.raises(ValueError, match=r"_as_local\(struct<vec_id:bigint>\)"):
        _as_local(src)


def test_containment_band_budget_guard_raises_value_error(spark):
    from sayn_spark.functions.dedup import _containment_candidates

    sigs = spark.createDataFrame([], schema="doc_id long, part int, sig array<long>")
    with pytest.raises(ValueError, match="10-bit band field"):
        _containment_candidates(sigs, {0: 2048})
    with pytest.raises(ValueError, match="contiguous from 0"):
        _containment_candidates(sigs, {0: 4, 2: 4})
