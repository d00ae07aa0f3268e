"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ..., "trials": N}.

Each query is executed with a noop-sink write that forces full
evaluation without driver-side collect of big results.  Every query
runs $SPARK_GRAFT_TRIALS + 1 times (default 5 + 1) and two medians are
reported — single-trial timings on a shared box swing +/-30%, which
made round-over-round regressions unattributable:

- ``queries`` / ``value``: WARM medians (runs 2..N+1, after the first
  run has populated Spark's codegen class cache and the Python-worker
  pool for that query).  This is operator cost — the number that
  should trend with plan changes across rounds.
- ``queries_cold`` / ``value_cold``: medians over runs 1..N, the exact
  metric earlier rounds reported (their run 1 carried first-compile
  overhead too), kept so BENCH_r{N} files stay comparable.

Caching is NOT the difference between the two: every run (including
warm ones) starts with the persisted intermediates released and the
cache cleared, so each measures the full scan-to-sink pipeline.

``sentinel`` / ``sentinel_cold`` / ``sentinel_spread``: a code-free
fixed workload (range aggregate + tiny parquet scan) timed per sweep
with the same trial shape — its round-over-round ratio prices box
drift so query deltas can be sentinel-normalized.  Excluded from the
totals.  Since r14 the sentinel runs TWICE — ``sentinel_pre`` (alias
``sentinel``) before the first query family and ``sentinel_post``
after the last — so mid-sweep drift self-flags in the artifact
(post/pre ratio) instead of needing manual A/Bs.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time


HEADLINE = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_region_revenue",
    "q09_product_profit",
    "q13_customer_distribution",
    "q18_large_orders",
    "q_window_top_customers",
    "q_events_sessionize",
    "q_events_retention",
    "q_incremental_merge",
    "q_dedup_exact",
    "q_dedup_minhash_lsh",
    "q_dedup_ngram_jaccard",
    "q_dedup_passages",
    "q_dedup_passage_rewrite",
    "q_dedup_simhash",
    "q_dedup_embedding_cosine",
    "q_dedup_editdistance",
    "q_dedup_components",
    "q_dedup_containment_gated",
    "q_dedup_containment_wide",
    "q_dedup_semantic",
    "q_record_linkage",
    "q_ann_lsh_topk",
    "q_ann_ivfpq_topk",
    "q_ann_ivfpq_residual_topk",
    "q_text_quality",
    "q_text_unigram_surprisal",
    "q_ngram_novelty",
    "q_perplexity_buckets",
    "q_repetition_top_ngram",
    "q_repetition_dup_lines",
    "q_quality_c4_rules",
    "q_dedup_boilerplate_lines",
    "q_ann_sq8_topk",
    "q_ann_binary_hamming",
    "q_ann_cascade_topk",
    "q_ann_triplet_mining",
    "q_text_bigram_surprisal",
    "q_dsir_selection",
    "q_decontaminate_overlap_frac",
    "q_embedding_srp_reduce",
    "q_dedup_source_matrix",
    "task_dedup_incremental",
    "task_filter_gopher",
    "task_ann_search_sq8",
    "task_ann_cascade",
    "task_dedup_semantic",
]


def _drop_tables(spark, *tables: str) -> None:
    """Drop bench tables from the catalog AND the warehouse: an
    interrupted bench can leave an orphaned managed-table directory
    (catalog entry gone, files present) that blocks saveAsTable with
    LOCATION_ALREADY_EXISTS."""
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir", "").removeprefix("file:")
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        if wh:
            shutil.rmtree(os.path.join(wh, t), ignore_errors=True)


def _run_task(spark, task_cls, name: str, config: dict) -> None:
    """Configure and run one pipeline task on a bare TaskContext."""
    from sayn_spark.core.compiler import Compiler
    from sayn_spark.core.database import SparkDatabase
    from sayn_spark.core.objects import DbObjectCompiler
    from sayn_spark.operators import RunArguments, TaskContext

    ctx = TaskContext(
        spark=spark,
        db=SparkDatabase(spark),
        compiler=Compiler(parameters={}),
        obj_compiler=DbObjectCompiler(default_db="spark"),
        run_arguments=RunArguments(),
        parameters={},
        connections={},
        project_dir=".",
    )
    task = task_cls(name, config, ctx)
    task.config()
    task.run()


def _bench_dedup_task(spark, sf_dir: str) -> None:
    """End-to-end YAML-task-layer benchmark (VERDICT r5 item 6): one
    cold incremental minhash dedup task run — signature build, band
    probe, catalog index/band/matches/destination writes, heal scans,
    anti-join replay guards — so task-layer overhead is tracked
    round-over-round, not just the registered query's plan.  State
    tables are dropped before each run (the cost measured IS the
    fresh-ingest path); the source table is set up once outside the
    timing loop by main()."""
    from sayn_spark.operators.dedup import DedupTask

    _drop_tables(spark, "bench_dd_idx", "bench_dd_idx_bands", "bench_dd_mt", "bench_dd_out")
    _run_task(
        spark,
        DedupTask,
        "bench_dedup",
        {
            "source": "bench_dedup_src",
            "mode": "incremental",
            "method": "minhash",
            "threshold": 0.8,
            "index_table": "bench_dd_idx",
            "matches_table": "bench_dd_mt",
            "destination": "bench_dd_out",
        },
    )


def _bench_filter_task(spark, sf_dir: str) -> None:
    """End-to-end filter-task benchmark (VERDICT r6 item 6 follow-on):
    one full gopher-rules filter run over the documents table — scorer
    expression build, keep/drop gate, destination tmp-swap write — so
    the hottest pipeline stage after dedup has a task-layer number, not
    just its registered query's.  The destination is dropped before
    each run; the source table is set up once by _setup_task_bench."""
    from sayn_spark.operators.filter import FilterTask

    _drop_tables(spark, "bench_filter_out")
    _run_task(
        spark,
        FilterTask,
        "bench_filter",
        {
            "source": "bench_dedup_src",
            "destination": "bench_filter_out",
            "scorer": "gopher",
            "min_words": 10,
        },
    )


def _bench_ann_search_task(spark, sf_dir: str) -> None:
    """End-to-end ann_search benchmark: one catalog-dispatched top-k
    run against the ivfsq8 index built once by _setup_task_bench —
    probe routing, frozen-grid query quantization, the integer
    symmetric scan, exact re-rank, destination tmp-swap write.  The
    destination is dropped before each run."""
    from sayn_spark.operators.ann_search import AnnSearchTask

    _drop_tables(spark, "bench_ann_topk")
    _run_task(
        spark,
        AnnSearchTask,
        "bench_ann_search",
        {
            "index": "bench_ann_ix",
            "queries": "bench_ann_queries",
            "destination": "bench_ann_topk",
            "k": 5,
            "nprobe": 2,
            "shortlist": 20,
        },
    )


def _bench_ann_cascade_task(spark, sf_dir: str) -> None:
    """End-to-end cascade ann_search benchmark (VERDICT r7 item 4):
    one catalog-dispatched run against the method=cascade index built
    once by _setup_task_bench — Hamming tier over the packed words,
    SQ8 re-rank, exact top-k, destination tmp-swap write."""
    from sayn_spark.operators.ann_search import AnnSearchTask

    _drop_tables(spark, "bench_casc_topk")
    _run_task(
        spark,
        AnnSearchTask,
        "bench_ann_cascade",
        {
            "index": "bench_casc_ix",
            "queries": "bench_ann_queries",
            "destination": "bench_casc_topk",
            "k": 5,
            "nprobe": 2,
            "shortlist": 20,
            "shortlist_binary": 50,
        },
    )


def _bench_dedup_semantic_task(spark, sf_dir: str) -> None:
    """End-to-end SemDeDup task benchmark (r9 — the promoted
    method=semantic): one cold run over the embeddings table built by
    _setup_task_bench — label-centroid quantizer, in-cell Gram-matrix
    cosine, per-pair keep=min drop, destination tmp-swap write."""
    from sayn_spark.operators.dedup import DedupTask

    _drop_tables(spark, "bench_semdd_out")
    _run_task(
        spark,
        DedupTask,
        "bench_semdd",
        {
            "source": "bench_ann_src",
            "destination": "bench_semdd_out",
            "method": "semantic",
            "id_column": "vec_id",
        },
    )


TASK_BENCH = {
    "task_dedup_incremental": _bench_dedup_task,
    "task_filter_gopher": _bench_filter_task,
    "task_ann_search_sq8": _bench_ann_search_task,
    "task_ann_cascade": _bench_ann_cascade_task,
    "task_dedup_semantic": _bench_dedup_semantic_task,
}


def drift_flag(pre: float, post: float, threshold: float = 0.25):
    """(ratio, contaminated) for the pre/post sentinel pair — VERDICT
    r14 item 9: a sweep whose post-sentinel drifted more than
    ``threshold`` from its pre-sentinel ran through a box-state change
    and its per-query walls must not be cited as round-over-round
    evidence.  The flag lands in the bench JSON (additions-only; the
    exit status stays 0 so the driver's rc-based bench gate is
    unaffected — contamination is a measurement annotation, not a
    bench failure)."""
    if not pre or pre <= 0:
        return None, False
    ratio = round(post / pre, 3)
    return ratio, bool(abs(ratio - 1.0) > threshold)


def _bench_payload(
    samples: dict[str, list], pre: list, post: list, trials: int, sf_dir: str
) -> tuple[dict, dict]:
    """(full, compact) bench records from raw walls: ``samples`` maps
    each line to its trials + 1 runs, ``pre``/``post`` are the
    sentinel's runs before and after the sweep.  ``full`` is
    BENCH_DETAIL.json; ``compact`` is the one stdout line."""

    def warm(s: list) -> float:
        return round(statistics.median(s[1:]), 3)

    def cold(s: list) -> float:
        return round(statistics.median(s[:trials]), 3)

    def spread(s: list) -> float:
        # warm min..max range: how trustworthy is this query's median on
        # this box?  sub-1.5s queries historically swing +/-20-40%
        return round(max(s[1:]) - min(s[1:]), 3)

    queries = {n: warm(s) for n, s in samples.items()}
    queries_cold = {n: cold(s) for n, s in samples.items()}
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    full = {
        "metric": "headline_queries_total",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "queries_spread": {n: spread(s) for n, s in samples.items()},
        "queries_cold": queries_cold,
        "value_cold": round(sum(queries_cold.values()), 3),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "trials": trials,
        "sentinel": warm(pre),
        "sentinel_cold": cold(pre),
        "sentinel_spread": spread(pre),
        # pre/post twins (sentinel == sentinel_pre, kept for r13 artifact
        # compatibility): post-vs-pre drift flags a contaminated sweep
        "sentinel_pre": warm(pre),
        "sentinel_pre_spread": spread(pre),
        "sentinel_post": warm(post),
        "sentinel_post_spread": spread(post),
    }
    # mid-sweep drift self-flag (VERDICT r14 item 9): post/pre ratio
    # plus a boolean no close-out can silently ignore
    full["sentinel_drift"], full["sentinel_contaminated"] = drift_flag(
        warm(pre), warm(post)
    )
    # stdout carries exactly ONE compact JSON line: the driver keeps only a
    # 2000-char tail of bench output, so the full per-line detail (cold
    # medians, spreads, 3-decimal precision) goes to BENCH_DETAIL.json and
    # stdout stays small enough to survive the capture intact.
    compact = dict(full)
    compact["queries"] = {k: round(v, 2) for k, v in queries.items()}
    del compact["queries_spread"]
    del compact["queries_cold"]
    return full, compact


def _sentinel(spark, sf_dir: str) -> None:
    """Code-free drift sentinel (VERDICT r12 item 2): a fixed trivial
    workload — a 48M-row range aggregate (JVM/codegen/scheduler cost)
    plus one tiny parquet scan (IO-path cost) — that touches NO engine
    code, timed with the same trial discipline as every bench line.
    Its round-over-round ratio prices the BOX, not the code: a +20%
    sweep with a +20% sentinel is drift, not a regression, and
    close-outs can cite sentinel-normalized deltas instead of re-
    litigating drift with hand-run isolated A/Bs every round."""
    spark.range(0, 48_000_000, 1, 32).selectExpr(
        "sum(id * 2 + 1) AS s"
    ).write.format("noop").mode("overwrite").save()
    spark.read.parquet(f"{sf_dir}/nation.parquet").write.format(
        "noop"
    ).mode("overwrite").save()


def _setup_task_bench(spark, sf_dir: str) -> None:
    from sayn_spark.core.database import SparkDatabase
    from sayn_spark.operators.ann import AnnIndexTask

    _drop_tables(
        spark, "bench_dedup_src", "bench_ann_src", "bench_ann_queries",
        "bench_ann_ix_centroids", "bench_ann_ix_vectors", "bench_ann_ix_sq8grid",
        "bench_ann_ix_sq8codes", "bench_casc_ix_centroids", "bench_casc_ix_vectors",
        "bench_casc_ix_sq8grid", "bench_casc_ix_sq8codes", "bench_casc_ix_binwords",
    )
    db = SparkDatabase(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    db.replace_table("bench_dedup_src", docs)
    # one ivfsq8 index + a 50-row query table for task_ann_search_sq8
    # (built once here — the benched cost is the SEARCH task run)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    db.replace_table("bench_ann_src", emb)
    db.replace_table("bench_ann_queries", emb.where("vec_id < 50"))
    _run_task(
        spark,
        AnnIndexTask,
        "bench_ann_build",
        {"source": "bench_ann_src", "index": "bench_ann_ix",
         "label_column": "label", "method": "ivfsq8"},
    )
    # a second, cascade-method index for task_ann_cascade (built once —
    # the benched cost is the three-tier SEARCH run)
    _run_task(
        spark,
        AnnIndexTask,
        "bench_casc_build",
        {"source": "bench_ann_src", "index": "bench_casc_ix",
         "label_column": "label", "method": "cascade"},
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    trials = max(1, int(os.environ.get("SPARK_GRAFT_TRIALS", "5")))
    from sayn_spark.functions import REGISTRY, release_persisted
    from sayn_spark.session import get_spark

    spark = get_spark("sayn-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    names = [n for n in HEADLINE if n in REGISTRY or n in TASK_BENCH]
    extra = [n for n in sys.argv[1:] if n in REGISTRY or n in TASK_BENCH]
    names = extra or names

    if any(n in TASK_BENCH for n in names):
        _setup_task_bench(spark, sf_dir)
    # warm the JVM + parquet footers once so timings measure the queries
    warm_name = next((n for n in names if n in REGISTRY), "q01_pricing_summary")
    REGISTRY[warm_name].fn(spark, sf_dir).count()

    # the drift sentinel runs at sweep START and sweep END (v2, verdict
    # r13 item 3): a post-sentinel that drifted from the pre-sentinel
    # self-flags a sweep contaminated mid-run, without manual A/Bs.
    # Neither is included in value/value_cold totals.
    def _sentinel_samples() -> list:
        out = []
        for _ in range(trials + 1):
            t0 = time.perf_counter()
            _sentinel(spark, sf_dir)
            out.append(time.perf_counter() - t0)
        return out

    pre = _sentinel_samples()
    samples_by_name: dict[str, list] = {}
    for name in names:
        samples = []
        for _ in range(trials + 1):
            t0 = time.perf_counter()
            if name in TASK_BENCH:
                TASK_BENCH[name](spark, sf_dir)
            else:
                df = REGISTRY[name].fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
            # queries persist intermediates; drop them between runs so
            # every run (and every later query) starts uncached
            release_persisted()
            spark.catalog.clearCache()
        samples_by_name[name] = samples

    # post-sweep sentinel: same shape, run after the last query family
    full, compact = _bench_payload(
        samples_by_name, pre, _sentinel_samples(), trials, sf_dir
    )
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"), "w") as f:
        json.dump(full, f, indent=1)
    print(json.dumps(compact, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
