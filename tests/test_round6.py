"""Regression tests for the round-5 verdict/advice findings:

1. ``q_quality_adaptive_filter`` must be boundary-free: the keep
   decision is pure integer arithmetic (micro-units) and every
   reported median is an exact half-integer in micro-units, so the
   oracle hash can never depend on an FP rounding mode again
   (VERDICT r5 item 1 — 8 of 20 sf0.1 medians previously sat exactly
   on the 6dp round-half boundary).
2. ``scorer: repetition`` on the filter task exists and applies the
   SAME column builders as the oracle-verified
   ``q_repetition_signals`` (VERDICT r5 item 2).
3. Hyperplane family cap: requesting planes past the seeded table
   raises instead of silently emitting constant bits (ADVICE r5).
4. Mixture task weights must cover every observed group (ADVICE r5).
5. ANN seed label column must be numeric — a string label would cast
   to NULL and silently empty every probe (ADVICE r5).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


# -- 1. adaptive filter median is integer-exact -------------------------


def test_adaptive_filter_median_is_half_integer_micro(spark):
    from sayn_spark.functions.content_filter import q_quality_adaptive_filter

    rows = q_quality_adaptive_filter(spark, SF_CORRECT).collect()
    assert rows, "adaptive filter returned no sources"
    for r in rows:
        two_micro = r.median_quality * 2_000_000.0
        # thr2 is an exact BIGINT sum of two 6dp micro-unit order
        # statistics; median_quality = thr2/2e6 must round-trip to it
        # exactly — no FP boundary anywhere in the comparison.
        assert two_micro == round(two_micro), (
            f"median for {r.source} is not an exact half-integer in "
            f"micro-units: {r.median_quality!r}"
        )
        assert 0 < r.n_kept <= r.n_docs


def test_adaptive_filter_matches_oracle_exactly(spark):
    """The full driver-style comparison (rows+schema+values) at sf0.01 —
    the cell that was red in CORRECTNESS_r05."""
    from sayn_spark.functions.registry import REGISTRY
    from tests.oracle import compare_query

    e = REGISTRY["q_quality_adaptive_filter"]
    ok, msg = compare_query(
        spark, "q_quality_adaptive_filter", e.fn, e.oracle, SF_CORRECT
    )
    assert ok, msg


# -- 2. filter task: repetition scorer ----------------------------------


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _run_filter(spark, tmp_path, rows, **cfg):
    from sayn_spark.core.compiler import Compiler
    from sayn_spark.core.database import SparkDatabase
    from sayn_spark.core.objects import DbObjectCompiler
    from sayn_spark.operators import RunArguments, TaskContext
    from sayn_spark.operators.filter import FilterTask

    ctx = TaskContext(
        spark=spark,
        db=SparkDatabase(spark),
        compiler=Compiler(parameters={}),
        obj_compiler=DbObjectCompiler(default_db="spark"),
        run_arguments=RunArguments(),
        parameters={},
        connections={},
        project_dir=tmp_path,
    )
    ctx.db.replace_table("r6_filter_src", _mk_docs(spark, rows))
    t = FilterTask(
        "r6_filter",
        {"source": "r6_filter_src", "destination": "r6_filter_out", **cfg},
        ctx,
    )
    t.config()
    t.run()
    return spark.table("r6_filter_out")


def test_filter_task_repetition_scorer(spark, tmp_path):
    from sayn_spark.functions.content_filter import (
        immediate_repeats_col,
        repetition_ratio_col,
        repetition_tokens_col,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),  # low repetition
        (2, "spam spam spam spam spam spam spam spam"),  # degenerate
        (3, "one two three four five six seven eight"),  # zero repetition
        (4, "a"),  # <2 tokens: no signal, kept
        (5, None),  # NULL text: dropped by every scorer
    ]
    out = _run_filter(
        spark,
        tmp_path,
        rows,
        scorer="repetition",
        max_repetition_ratio=0.5,
        with_score=True,
    )
    kept = {r.doc_id for r in out.collect()}
    assert kept == {1, 3, 4}
    assert "repetition_ratio" in out.columns

    # the task decision must agree with the registered query's builders
    d = _mk_docs(spark, rows).where(F.col("text").isNotNull())
    toks = d.select("doc_id", repetition_tokens_col().alias("t"))
    sig = toks.select(
        "doc_id",
        F.coalesce(repetition_ratio_col(), F.lit(0.0)).alias("ratio"),
        F.coalesce(immediate_repeats_col(), F.lit(0)).alias("reps"),
    )
    expect = {r.doc_id for r in sig.collect() if r.ratio <= 0.5}
    assert kept == expect


def test_filter_task_repetition_max_immediate_repeats(spark, tmp_path):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "go go go go stop stop stop stop"),
        (3, "x y x y x y x y x y x y"),  # repetitive but no immediate repeats
    ]
    out = _run_filter(
        spark,
        tmp_path,
        rows,
        scorer="repetition",
        max_immediate_repeats=1,
    )
    assert {r.doc_id for r in out.collect()} == {1, 3}


# -- 3. hyperplane family cap -------------------------------------------


def test_hyperplane_family_cap_raises():
    from sayn_spark.functions.similarity import _PLANE_TABLE_SIZE, bucket_expr

    with pytest.raises(ValueError, match="plane"):
        bucket_expr(first_plane=_PLANE_TABLE_SIZE - 4, n_planes=8)
    # in-range request still works
    assert "array_join" in bucket_expr(first_plane=_PLANE_TABLE_SIZE - 8, n_planes=8)


def test_hyperplane_family_cap_raises_sql():
    from sayn_spark.functions.similarity import _PLANE_TABLE_SIZE, bucket_sql

    with pytest.raises(ValueError, match="plane"):
        bucket_sql(n_planes=_PLANE_TABLE_SIZE + 1)
    with pytest.raises(ValueError, match="plane"):
        bucket_sql(first_plane=-1)


# -- 5. writer opts survive incremental appends (VERDICT r5 item 5) -----


def test_embed_incremental_append_honours_table_properties(spark, tmp_path):
    """embed mode=incremental previously dropped destination_writer_opts
    on the append arm — a bucketed destination either crashed (Spark
    rejects layout-mismatched appends) or, created by the first
    incremental wave, silently lost its layout."""
    from sayn_spark.core.compiler import Compiler
    from sayn_spark.core.database import SparkDatabase
    from sayn_spark.core.objects import DbObjectCompiler
    from sayn_spark.operators import RunArguments, TaskContext
    from sayn_spark.operators.embed import EmbedTask

    ctx = TaskContext(
        spark=spark,
        db=SparkDatabase(spark),
        compiler=Compiler(parameters={}),
        obj_compiler=DbObjectCompiler(default_db="spark"),
        run_arguments=RunArguments(),
        parameters={},
        connections={},
        project_dir=tmp_path,
    )
    for t in ("r6_em_src", "r6_em_out"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "text")
        .limit(40)
    )
    cfg = {
        "source": "r6_em_src",
        "destination": "r6_em_out",
        "dim": 8,
        "mode": "incremental",
        "table_properties": {"bucket_by": ["doc_id"], "buckets": 4},
    }
    wave1 = docs.where(F.col("doc_id") % 2 == 0)
    ctx.db.replace_table("r6_em_src", wave1)
    t = EmbedTask("r6_em", cfg, ctx)
    t.config()
    t.run()
    ddl = spark.sql("SHOW CREATE TABLE r6_em_out").first()[0]
    assert "CLUSTERED BY" in ddl and "4 BUCKETS" in ddl
    # second wave appends INTO the bucketed layout (no layout-mismatch
    # crash, no duplicate rows)
    ctx.db.replace_table("r6_em_src", docs)
    t2 = EmbedTask("r6_em", cfg, ctx)
    t2.config()
    t2.run()
    assert spark.table("r6_em_out").count() == docs.count()
    ddl2 = spark.sql("SHOW CREATE TABLE r6_em_out").first()[0]
    assert "CLUSTERED BY" in ddl2 and "4 BUCKETS" in ddl2
    for t in ("r6_em_src", "r6_em_out"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


# -- 6. mixture weights validation (ADVICE r5) --------------------------


def _mixture_ctx(spark, tmp_path):
    from sayn_spark.core.compiler import Compiler
    from sayn_spark.core.database import SparkDatabase
    from sayn_spark.core.objects import DbObjectCompiler
    from sayn_spark.operators import RunArguments, TaskContext

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


def test_mixture_rejects_uncovered_groups(spark, tmp_path):
    from sayn_spark.operators.mixture import MixtureTask

    ctx = _mixture_ctx(spark, tmp_path)
    rows = [(i, f"tok{i} a b c", "en" if i % 2 else "zh") for i in range(20)]
    ctx.db.replace_table(
        "r6_mix_src",
        spark.createDataFrame(rows, "doc_id bigint, text string, lang string"),
    )
    t = MixtureTask(
        "r6_mix",
        {
            "source": "r6_mix_src",
            "destination": "r6_mix_out",
            "group_column": "lang",
            "weights": {"en": 3},  # zh observed but unlisted
        },
        ctx,
    )
    t.config()
    with pytest.raises(ValueError, match="does not cover"):
        t.run()
    # explicit weight-0 drop is allowed, and en keeps rows
    t2 = MixtureTask(
        "r6_mix2",
        {
            "source": "r6_mix_src",
            "destination": "r6_mix_out",
            "group_column": "lang",
            "token_budget_ratio": 1.0,
            "weights": {"en": 1, "zh": 0},
        },
        ctx,
    )
    t2.config()
    t2.run()
    out = spark.table("r6_mix_out")
    langs = {r.lang for r in out.select("lang").distinct().collect()}
    assert langs == {"en"}
    spark.sql("DROP TABLE IF EXISTS r6_mix_src")
    spark.sql("DROP TABLE IF EXISTS r6_mix_out")


def test_mixture_zero_token_group_keeps_everything(spark, tmp_path):
    from sayn_spark.operators.mixture import MixtureTask

    ctx = _mixture_ctx(spark, tmp_path)
    rows = [(i, "w x y z a b c d e f", "en") for i in range(10)] + [
        (100 + i, "", "empty") for i in range(3)
    ]
    ctx.db.replace_table(
        "r6_mix0_src",
        spark.createDataFrame(rows, "doc_id bigint, text string, lang string"),
    )
    t = MixtureTask(
        "r6_mix0",
        {
            "source": "r6_mix0_src",
            "destination": "r6_mix0_out",
            "group_column": "lang",
            "token_budget_ratio": 1.0,
        },
        ctx,
    )
    t.config()
    t.run()
    out = spark.table("r6_mix0_out")
    # zero-token group costs no budget: all its rows survive
    assert out.where(F.col("lang") == "empty").count() == 3
    spark.sql("DROP TABLE IF EXISTS r6_mix0_src")
    spark.sql("DROP TABLE IF EXISTS r6_mix0_out")


# -- 7. containment gate ratio window (VERDICT r5 item 3 / ADVICE) ------


def _exact_containment_pairs(docs, threshold=0.9):
    """Pure-python exact overlap-coefficient oracle over token lists
    (3-token shingles, same as the engine's tokenizer)."""
    def shingles(toks):
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sets = {i: shingles(t) for i, t in docs.items() if len(t) >= 3}
    out = set()
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            sa, sb = sets[a], sets[b]
            if not sa or not sb:
                continue
            if len(sa & sb) / min(len(sa), len(sb)) >= threshold:
                out.add((a, b))
    return out


def _containment_df(spark, docs):
    return spark.createDataFrame(
        [(i, " ".join(t)) for i, t in docs.items()], schema="doc_id long, text string"
    )


def test_containment_gate_finds_gap3_pair_in_ratio_window(spark):
    """A ratio-7.5 pair spanning partition gap 3 (na=15 shingles in
    part 3, nb=112 in part 6) is INSIDE the documented ratio<8 window
    but was structurally invisible to the r5 gate (probes stopped at
    gap 2).  The g=3 probe arm must surface it."""
    from sayn_spark.functions.dedup import gated_containment_pairs
    from sayn_spark.functions.registry import release_persisted

    big = [f"t{i}" for i in range(114)]  # 112 shingles -> part 6
    snippet = big[40:57]  # 17 tokens -> 15 shingles -> part 3, ratio 7.47
    docs = {1: big, 2: snippet}
    # filler docs from a disjoint vocabulary (parts 4-5: spread stays
    # within the gate's reach, so no coverage warning fires here)
    for i in range(3):
        docs[10 + i] = [f"f{i}_{j}" for j in range(30 + 7 * i)]
    try:
        got = {
            (r.id_a, r.id_b)
            for r in gated_containment_pairs(_containment_df(spark, docs)).collect()
        }
    finally:
        release_persisted()
    want = _exact_containment_pairs(docs)
    assert (1, 2) in want, "test corpus must plant the gap-3 pair"
    assert got == want


def test_containment_gate_wide_mode_finds_ratio_30_pair(spark):
    """The motivating quoted-excerpt case: a 50-shingle snippet inside
    a 1500-shingle page (ratio 30, partition gap 5).  max_ratio=32 runs
    the 512-hash wide gate and must equal the exact oracle; the default
    gate must WARN that such pairs are out of its window — loud, never
    a silent miss."""
    import warnings

    from sayn_spark.functions.dedup import gated_containment_pairs
    from sayn_spark.functions.registry import release_persisted

    big = [f"t{i}" for i in range(1502)]  # 1500 shingles -> part 10
    snippet = big[700:752]  # 52 tokens -> 50 shingles -> part 5, ratio 30
    docs = {1: big, 2: snippet}
    for i in range(3):
        docs[10 + i] = [f"f{i}_{j}" for j in range(60 + 11 * i)]
    df = _containment_df(spark, docs)
    want = _exact_containment_pairs(docs)
    assert (1, 2) in want, "test corpus must plant the ratio-30 pair"
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("error")  # wide gate must NOT warn
            got_wide = {
                (r.id_a, r.id_b)
                for r in gated_containment_pairs(df, max_ratio=32).collect()
            }
        with pytest.warns(UserWarning, match="NOT candidates"):
            got_default = {
                (r.id_a, r.id_b)
                for r in gated_containment_pairs(df).collect()
            }
    finally:
        release_persisted()
    assert got_wide == want
    # the default gate's miss is exactly the out-of-window pair —
    # and it warned about it above
    assert want - got_default <= {(1, 2)}


def test_containment_gate_rejects_unsupported_config(spark):
    from sayn_spark.functions.dedup import gated_containment_pairs

    df = _containment_df(spark, {1: ["a", "b", "c", "d"]})
    with pytest.raises(ValueError, match="max_ratio"):
        gated_containment_pairs(df, max_ratio=16)
    with pytest.raises(ValueError, match="threshold"):
        gated_containment_pairs(df, threshold=0.5)


def test_minhash_wide_table_prefix_stable():
    """The 512-wide extension must be a pure continuation: the first
    128 multipliers — and therefore every stored signature, band
    table, and DuckDB oracle — bit-identical to the r5 table."""
    import numpy as np

    from sayn_spark.functions.dedup import _MH_A, _MH_B, _P

    rng = np.random.default_rng(20160905)
    a128 = rng.integers(1, _P, size=128, dtype=np.int64)
    b128 = rng.integers(0, _P, size=128, dtype=np.int64)
    assert (np.asarray(_MH_A[:128]) == a128).all()
    assert (np.asarray(_MH_B[:128]) == b128).all()
    assert len(_MH_A) == len(_MH_B) == 512
    assert (np.asarray(_MH_A) >= 1).all() and (np.asarray(_MH_A) < _P).all()


# -- 8. trained PQ codebook (VERDICT r5 item 4) -------------------------


def test_trained_pq_codebook_improves_recall(spark, tmp_path):
    """codebook: trained (per-subspace Lloyd from the deterministic
    seeds) must beat the 16-lowest-id stand-in on recall@10 for a
    clustered corpus whose low ids all live in one cluster (the
    stand-in's worst case: every seed codeword comes from the same
    region).  nprobe scans ALL cells so the difference isolates the
    PQ shortlist quality, and two trained builds must be
    bit-identical (determinism contract)."""
    import numpy as np

    from sayn_spark.core.compiler import Compiler
    from sayn_spark.core.database import SparkDatabase
    from sayn_spark.core.objects import DbObjectCompiler
    from sayn_spark.functions.similarity import ann_index_search_pq
    from sayn_spark.operators import RunArguments, TaskContext
    from sayn_spark.operators.ann import AnnIndexTask

    ctx = TaskContext(
        spark=spark,
        db=SparkDatabase(spark),
        compiler=Compiler(parameters={}),
        obj_compiler=DbObjectCompiler(default_db="spark"),
        run_arguments=RunArguments(),
        parameters={},
        connections={},
        project_dir=tmp_path,
    )
    rng = np.random.default_rng(7)
    # 64 clusters x 6 members: more clusters than codewords, low ids
    # all in a few clusters — the stand-in codebook quantizes distant
    # clusters onto shared codewords and its ADC shortlist degrades
    # (measured recall 0.600), while per-subspace Lloyd spreads the 16
    # codewords over the occupied space (measured 0.7375).  Fully
    # seeded/deterministic, so the measured values are exact.
    centers = rng.normal(size=(64, 64))
    rows = []
    vid = 0
    for ci in range(64):
        for _ in range(6):
            v = centers[ci] + 0.3 * rng.normal(size=64)
            rows.append((vid, [float(x) for x in v], ci))
            vid += 1
    ctx.db.replace_table(
        "r6_pq_src",
        spark.createDataFrame(
            rows, "vec_id bigint, embedding array<double>, label int"
        ),
    )
    X = np.array([r[1] for r in rows])
    nrm = np.linalg.norm(X, axis=1)
    cosm = (X @ X.T) / np.outer(nrm, nrm)
    np.fill_diagonal(cosm, -2.0)
    query_ids = list(range(0, 384, 6))  # one query per cluster
    truth = {q: set(np.argsort(-cosm[q])[:10]) for q in query_ids}

    def build_and_search(index, codebook):
        cfg = {
            "source": "r6_pq_src",
            "index": index,
            "label_column": "label",
            "method": "ivfpq",
            "refine_iters": 1,
        }
        if codebook:
            cfg["codebook"] = codebook
        t = AnnIndexTask(f"{index}_build", cfg, ctx)
        t.config()
        t.run()
        queries = spark.createDataFrame(
            [(q, [float(x) for x in X[q]]) for q in query_ids],
            "query_id bigint, e array<double>",
        )
        got = ann_index_search_pq(
            spark, index, queries, k=10, nprobe=64, shortlist=20
        ).collect()
        hits = sum(
            1 for r in got if r.neighbor_id in truth[r.query_id]
        )
        return hits / (10 * len(query_ids))

    recall_seed = build_and_search("r6_pq_seed", None)
    recall_trained = build_and_search("r6_pq_tr", "trained")
    assert recall_trained >= recall_seed + 0.1, (recall_seed, recall_trained)
    assert recall_trained >= 0.7, recall_trained

    # determinism: a second trained build produces the identical codebook
    cb1 = sorted(
        (r.s, r.c, tuple(r.cw)) for r in spark.table("r6_pq_tr_codebook").collect()
    )
    t2 = AnnIndexTask(
        "r6_pq_tr2",
        {
            "source": "r6_pq_src",
            "index": "r6_pq_tr",
            "label_column": "label",
            "method": "ivfpq",
            "refine_iters": 1,
            "codebook": "trained",
        },
        ctx,
    )
    t2.config()
    t2.run()
    cb2 = sorted(
        (r.s, r.c, tuple(r.cw)) for r in spark.table("r6_pq_tr_codebook").collect()
    )
    assert cb1 == cb2
    for t in ("r6_pq_src",):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    for ix in ("r6_pq_seed", "r6_pq_tr"):
        for sfx in ("_centroids", "_vectors", "_codebook", "_codes"):
            spark.sql(f"DROP TABLE IF EXISTS {ix}{sfx}")


def test_ann_task_codebook_config_validation(spark, tmp_path):
    from sayn_spark.core.compiler import Compiler
    from sayn_spark.core.database import SparkDatabase
    from sayn_spark.core.objects import DbObjectCompiler
    from sayn_spark.operators import RunArguments, TaskContext
    from sayn_spark.operators.ann import AnnIndexTask

    ctx = TaskContext(
        spark=spark,
        db=SparkDatabase(spark),
        compiler=Compiler(parameters={}),
        obj_compiler=DbObjectCompiler(default_db="spark"),
        run_arguments=RunArguments(),
        parameters={},
        connections={},
        project_dir=tmp_path,
    )
    with pytest.raises(ValueError, match="ivfpq only"):
        AnnIndexTask(
            "bad_cb",
            {"source": "s", "index": "i", "codebook": "trained"},
            ctx,
        ).config()
    with pytest.raises(ValueError, match="seed|trained"):
        AnnIndexTask(
            "bad_cb2",
            {"source": "s", "index": "i", "method": "ivfpq", "codebook": "kmeanspp"},
            ctx,
        ).config()


def test_containment_band_join_is_shuffle_hash_not_broadcast(spark):
    """The band join must stay a ShuffledHashJoin: the optimizer
    cost-estimates the exploded probe arm from the slim persisted
    signature frame and would otherwise BROADCAST it (measured
    1.7 GiB hashed relation at sf0.1 under the wide gate — an OOM at
    corpus scale)."""
    from sayn_spark.functions.dedup import (
        _LE_GATES,
        _containment_candidates,
        _containment_gate_frames,
    )
    from sayn_spark.functions.registry import release_persisted

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    try:
        _, sigs = _containment_gate_frames(docs, n_hashes=128)
        cand = _containment_candidates(sigs, _LE_GATES[8]["bands"])
        plan = cand._jdf.queryExecution().executedPlan().toString()
        band_join_lines = [
            l for l in plan.splitlines() if "Join [bk" in l
        ]
        assert band_join_lines, "band join not found in plan"
        assert all("ShuffledHashJoin" in l for l in band_join_lines), band_join_lines
        assert not any("BroadcastHashJoin" in l for l in band_join_lines)
    finally:
        release_persisted()


# -- 9. filter task: surprisal scorer -----------------------------------


def test_filter_task_surprisal_matches_registered_query(spark, tmp_path):
    """scorer: surprisal keeps exactly the docs the registered
    (oracle-verified) q_text_unigram_surprisal machinery scores at or
    under the threshold — the task decision carries the query's
    evidence because both run doc_avg_nll_frame verbatim."""
    from sayn_spark.functions.text import doc_avg_nll_frame

    docs = [
        (i, f"common word alpha beta w{i % 3} filler text here") for i in range(1, 21)
    ] + [(99, "zzzqx vrmpl kkjhw unique gibberish tokens xyzzy")]
    out = _run_filter(
        spark,
        tmp_path,
        docs,
        scorer="surprisal",
        max_avg_nll=4.0,
        with_score=True,
    )
    kept = {r.doc_id for r in out.collect()}
    scored = doc_avg_nll_frame(_mk_docs(spark, docs)).collect()
    expect = {r.doc_id for r in scored if r.avg_nll <= 4.0}
    assert kept == expect
    assert 99 not in kept, "the gibberish outlier must score above 4.0 nats"
    assert "avg_nll" in out.columns


def test_filter_task_surprisal_keep_fraction_exact_rank(spark, tmp_path):
    from sayn_spark.functions.text import doc_avg_nll_frame

    docs = [(i, f"tok{i} tok{i} shared base words w{i % 5}") for i in range(1, 31)]
    out = _run_filter(
        spark,
        tmp_path,
        docs,
        scorer="surprisal",
        keep_fraction=0.5,
    )
    kept = {r.doc_id for r in out.collect()}
    assert len(kept) == 15  # exact integer rank cut: floor(0.5 * 30)
    scored = sorted(
        doc_avg_nll_frame(_mk_docs(spark, docs)).collect(),
        key=lambda r: (round(r.avg_nll * 1e6), r.doc_id),
    )
    assert kept == {r.doc_id for r in scored[:15]}


# -- 10. filter task: incremental mode ----------------------------------


def test_filter_task_incremental_appends_only_new_rows(spark, tmp_path):
    """mode=incremental scores only ids absent from the destination and
    appends; reruns with an unchanged source are no-ops, and
    previously-dropped rows stay dropped (row-local scorer gives the
    same answer on re-score)."""
    spark.sql("DROP TABLE IF EXISTS r6_filter_out")  # fresh state
    rows1 = [
        (1, "alpha beta gamma delta"),
        (2, "spam spam spam spam spam"),  # dropped by repetition
        (3, "one two three four five"),
    ]
    out1 = _run_filter(
        spark,
        tmp_path,
        rows1,
        scorer="repetition",
        max_repetition_ratio=0.5,
        mode="incremental",
    )
    assert {r.doc_id for r in out1.collect()} == {1, 3}

    rows2 = rows1 + [
        (4, "fresh new document text here"),
        (5, "dup dup dup dup dup dup"),  # dropped
    ]
    out2 = _run_filter(
        spark,
        tmp_path,
        rows2,
        scorer="repetition",
        max_repetition_ratio=0.5,
        mode="incremental",
    )
    assert {r.doc_id for r in out2.collect()} == {1, 3, 4}
    # no-op rerun: no duplicates
    out3 = _run_filter(
        spark,
        tmp_path,
        rows2,
        scorer="repetition",
        max_repetition_ratio=0.5,
        mode="incremental",
    )
    assert sorted(r.doc_id for r in out3.collect()) == [1, 3, 4]
    spark.sql("DROP TABLE IF EXISTS r6_filter_out")


def test_residual_pq_encoding_improves_recall_and_guards_inserts(spark, tmp_path):
    """encode: residual (quantize e - cell centroid, the FAISS IVFPQ
    default) must beat encode: vector on ADC recall@10 for a clustered
    corpus — residual codewords only need to span within-cell offsets.
    Also pins: codes differ from the vector encoding, searches route
    through the residual LUT transparently (enc column on the
    codebook), incremental inserts with a mismatched encode fail
    loudly, and matched-encode inserts self-heal the codes table."""
    import numpy as np

    from sayn_spark.core.compiler import Compiler
    from sayn_spark.core.database import SparkDatabase
    from sayn_spark.core.objects import DbObjectCompiler
    from sayn_spark.functions.similarity import ann_index_search_pq
    from sayn_spark.operators import RunArguments, TaskContext
    from sayn_spark.operators.ann import AnnIndexTask

    ctx = TaskContext(
        spark=spark,
        db=SparkDatabase(spark),
        compiler=Compiler(parameters={}),
        obj_compiler=DbObjectCompiler(default_db="spark"),
        run_arguments=RunArguments(),
        parameters={},
        connections={},
        project_dir=tmp_path,
    )
    rng = np.random.default_rng(11)
    # 8 far-apart cells x 48 members with small within-cell offsets:
    # vector-encoding codewords must span the whole space (coarse),
    # residual codewords only the +/-0.25 offsets (fine)
    centers = 8.0 * rng.normal(size=(8, 64))
    rows = []
    vid = 0
    for ci in range(8):
        for _ in range(48):
            v = centers[ci] + 0.25 * rng.normal(size=64)
            rows.append((vid, [float(x) for x in v], ci))
            vid += 1
    ctx.db.replace_table(
        "r6_res_src",
        spark.createDataFrame(
            rows, "vec_id bigint, embedding array<double>, label int"
        ),
    )
    X = np.array([r[1] for r in rows])
    nrm = np.linalg.norm(X, axis=1)
    cosm = (X @ X.T) / np.outer(nrm, nrm)
    np.fill_diagonal(cosm, -2.0)
    query_ids = list(range(0, 384, 12))
    truth = {q: set(np.argsort(-cosm[q])[:10]) for q in query_ids}

    def build_and_search(index, encode):
        t = AnnIndexTask(
            f"{index}_build",
            {
                "source": "r6_res_src",
                "index": index,
                "label_column": "label",
                "method": "ivfpq",
                "codebook": "trained",
                "encode": encode,
            },
            ctx,
        )
        t.config()
        t.run()
        queries = spark.createDataFrame(
            [(q, [float(x) for x in X[q]]) for q in query_ids],
            "query_id bigint, e array<double>",
        )
        # 2x shortlist + exact re-rank (the realistic configuration);
        # the ADC ordering still decides which 20 reach the re-rank,
        # so LUT quality is what the recall measures.  Deterministic
        # corpus + deterministic pipeline: measured 0.5406 (vector) vs
        # 0.7625 (residual)
        got = ann_index_search_pq(
            spark, index, queries, k=10, nprobe=1, shortlist=20
        ).collect()
        hits = sum(1 for r in got if r.neighbor_id in truth[r.query_id])
        return hits / (10 * len(query_ids))

    recall_vec = build_and_search("r6_res_v", "vector")
    recall_res = build_and_search("r6_res_r", "residual")
    assert recall_res >= recall_vec + 0.15, (recall_vec, recall_res)
    assert recall_res >= 0.7, recall_res
    # the enc column is persisted and the codes genuinely differ
    assert spark.table("r6_res_r_codebook").select("enc").first()["enc"] == "residual"
    codes_v = {(r.vec_id, r.s): r.c for r in spark.table("r6_res_v_codes").collect()}
    codes_r = {(r.vec_id, r.s): r.c for r in spark.table("r6_res_r_codes").collect()}
    assert codes_v != codes_r

    # mismatched-encode insert fails loudly
    extra = spark.createDataFrame(
        [(9001, [float(x) for x in centers[0] + 0.25 * rng.normal(size=64)], 0)],
        "vec_id bigint, embedding array<double>, label int",
    )
    ctx.db.replace_table("r6_res_src2", spark.table("r6_res_src").unionByName(extra))
    bad = AnnIndexTask(
        "r6_res_bad",
        {
            "source": "r6_res_src2",
            "index": "r6_res_r",
            "label_column": "label",
            "method": "ivfpq",
            "mode": "incremental",
        },
        ctx,
    )
    bad.config()
    with pytest.raises(ValueError, match="encode=residual"):
        bad.run()
    # matched encode inserts and residual-encodes the new vector
    good = AnnIndexTask(
        "r6_res_good",
        {
            "source": "r6_res_src2",
            "index": "r6_res_r",
            "label_column": "label",
            "method": "ivfpq",
            "mode": "incremental",
            "encode": "residual",
        },
        ctx,
    )
    good.config()
    good.run()
    assert spark.table("r6_res_r_vectors").where("vec_id = 9001").count() == 1
    assert spark.table("r6_res_r_codes").where("vec_id = 9001").count() == 8
    # crash repair: simulate a crash between the two appends (vectors
    # written, codes lost) — a replay with NO new source rows must
    # still heal the codes table, residual-encoded
    healed_before = {
        (r.s, r.c) for r in spark.table("r6_res_r_codes").where("vec_id = 9001").collect()
    }
    kept = spark.table("r6_res_r_codes").where("vec_id <> 9001").localCheckpoint()
    ctx.db.create_table(
        "r6_res_r_codes", kept, mode="overwrite", bucket_by=(32, ["cell"])
    )
    good2 = AnnIndexTask(
        "r6_res_good2",
        {
            "source": "r6_res_src2",
            "index": "r6_res_r",
            "label_column": "label",
            "method": "ivfpq",
            "mode": "incremental",
            "encode": "residual",
        },
        ctx,
    )
    good2.config()
    good2.run()
    healed_after = {
        (r.s, r.c) for r in spark.table("r6_res_r_codes").where("vec_id = 9001").collect()
    }
    assert healed_after == healed_before
    spark.sql("DROP TABLE IF EXISTS r6_res_r_codes_tmp")
    for t in ("r6_res_src", "r6_res_src2"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    for ix in ("r6_res_v", "r6_res_r"):
        for sfx in ("_centroids", "_vectors", "_codebook", "_codes"):
            spark.sql(f"DROP TABLE IF EXISTS {ix}{sfx}")
