"""Round-7 additions: approx percentile boundaries for the surprisal
filter (VERDICT r6 item 7) — the scale path that replaces the global
rank window with one percentile_approx scalar aggregate.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _filter_ctx(spark, tmp_path):
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


def _run_surprisal(spark, tmp_path, dest, **cfg):
    from sayn_spark.operators.filter import FilterTask

    ctx = _filter_ctx(spark, tmp_path)
    src = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    ctx.db.replace_table("r7_filter_src", src)
    t = FilterTask(
        "r7_filter",
        {
            "source": "r7_filter_src",
            "destination": dest,
            "scorer": "surprisal",
            **cfg,
        },
        ctx,
    )
    t.config()
    t.run()
    return spark.table(dest)


def test_surprisal_approx_boundaries_match_exact_share(spark, tmp_path):
    """boundaries: approx keeps a share within sketch tolerance of the
    exact rank cut on the real corpus, and every kept doc scores at or
    below every dropped doc (threshold semantics)."""
    exact = _run_surprisal(
        spark, tmp_path, "r7_sur_exact", keep_fraction=0.667, with_score=True
    )
    approx = _run_surprisal(
        spark,
        tmp_path,
        "r7_sur_approx",
        keep_fraction=0.667,
        boundaries="approx",
        with_score=True,
    )
    n = spark.table("r7_filter_src").count()
    n_exact = exact.count()
    n_approx = approx.count()
    assert n_exact == int(0.667 * n) or abs(n_exact - 0.667 * n) < 1
    # GK sketch at accuracy 10000 on a few hundred rows is near-exact;
    # allow tie mass + 2% slack
    assert abs(n_approx - n_exact) <= max(2, 0.02 * n)
    # threshold semantics: max kept nll <= min dropped nll
    kept_ids = {r.doc_id for r in approx.select("doc_id").collect()}
    scored = {
        r.doc_id: r.avg_nll
        for r in approx.unionByName(
            _run_surprisal(
                spark, tmp_path, "r7_sur_all", keep_fraction=1.0, with_score=True
            )
        )
        .dropDuplicates(["doc_id"])
        .collect()
    }
    max_kept = max(scored[d] for d in kept_ids)
    dropped = [v for d, v in scored.items() if d not in kept_ids]
    if dropped:
        assert max_kept <= min(dropped)


def test_surprisal_approx_has_no_global_window(spark, tmp_path):
    """The approx path's keep plan must contain no Window operator and
    no single-partition sort — that is the point of the option."""
    from sayn_spark.functions.text import doc_avg_nll_frame

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    scored = docs.join(
        doc_avg_nll_frame(docs).select("doc_id", "avg_nll"), "doc_id"
    )
    micro = F.expr("cast(round(avg_nll * 1000000) as bigint)")
    thr = scored.agg(F.percentile_approx(micro, 0.667, 10000).alias("_thr"))
    kept = scored.crossJoin(F.broadcast(thr)).where(micro <= F.col("_thr"))
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    # and the task path itself: run it, then re-derive the same plan shape
    approx = _run_surprisal(
        spark, tmp_path, "r7_sur_plan", keep_fraction=0.5, boundaries="approx"
    )
    assert approx.count() > 0


def test_approx_tercile_boundaries_match_exact_shares(spark, tmp_path):
    """The q_perplexity_buckets docstring's 100 TB remedy, made real:
    percentile_approx boundaries at 1/3 and 2/3 of doc surprisal
    reproduce the exact head/middle/tail shares within tolerance."""
    from sayn_spark.functions.text import doc_avg_nll_frame

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    scored = doc_avg_nll_frame(docs).select(
        "doc_id", F.expr("cast(round(avg_nll * 1000000) as bigint)").alias("m")
    )
    n = scored.count()
    b = scored.agg(
        F.percentile_approx("m", [1.0 / 3.0, 2.0 / 3.0], 10000).alias("b")
    ).first()["b"]
    approx_shares = (
        scored.select(
            F.when(F.col("m") <= b[0], "head")
            .when(F.col("m") <= b[1], "middle")
            .otherwise("tail")
            .alias("bucket")
        )
        .groupBy("bucket")
        .count()
        .collect()
    )
    shares = {r.bucket: r["count"] / n for r in approx_shares}
    # exact terciles put 1/3 (+/- rounding) in each bucket; the sketch
    # plus tie mass must stay within 5 percentage points of that
    for bucket in ("head", "middle", "tail"):
        assert abs(shares.get(bucket, 0.0) - 1.0 / 3.0) < 0.05, shares


def test_boundaries_config_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="boundaries must be"):
        _run_surprisal(
            spark, tmp_path, "r7_bad1", keep_fraction=0.5, boundaries="fuzzy"
        )
    with pytest.raises(ValueError, match="applies to"):
        _run_surprisal(
            spark, tmp_path, "r7_bad2", max_avg_nll=4.0, boundaries="approx"
        )


# -- containment gate: spread_check modes (ADVICE r6) --------------------


def _cont_df(spark, docs):
    return spark.createDataFrame(
        [(i, " ".join(t)) for i, t in docs.items()], schema="doc_id long, text string"
    )


def _wide_spread_docs(plant_pair: bool = True):
    # part spread 0..6 > default gate's probe reach (gap 3)
    docs = {1: [f"t{i}" for i in range(66)]}  # 64 shingles -> part 6
    docs[2] = ["a", "b", "c"]  # 1 shingle -> part 0
    docs[3] = [f"m{i}" for i in range(12)]
    if plant_pair:
        # a QUALIFYING out-of-contract pair: 7 tokens -> 5 shingles
        # (part 2), fully contained in doc 1, size ratio 64/5 = 12.8
        docs[4] = docs[1][10:17]
    return docs


def test_containment_spread_strict_raises_on_measured_pair(spark):
    from sayn_spark.functions.dedup import gated_containment_pairs
    from sayn_spark.functions.registry import release_persisted

    try:
        with pytest.raises(ValueError, match="measured 1 qualifying"):
            gated_containment_pairs(
                _cont_df(spark, _wide_spread_docs()), spread_check="strict"
            ).collect()
    finally:
        release_persisted()


def test_containment_spread_measured_zero_runs_silent(spark):
    """Spread exceeds the probe reach but NO qualifying pair exists at
    ratio >= 8 — the measured check must neither warn nor raise
    (VERDICT r8 item 3: the old structural warning asserted a risk the
    measurement disproves)."""
    import warnings

    from sayn_spark.functions.dedup import gated_containment_pairs
    from sayn_spark.functions.registry import release_persisted

    docs = _wide_spread_docs(plant_pair=False)
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            gated_containment_pairs(_cont_df(spark, docs)).collect()
            gated_containment_pairs(
                _cont_df(spark, docs), spread_check="strict"
            ).collect()
    finally:
        release_persisted()


def test_containment_spread_skip_runs_no_probe_and_matches_measure(spark):
    import warnings

    from sayn_spark.functions.dedup import gated_containment_pairs
    from sayn_spark.functions.registry import release_persisted

    docs = _wide_spread_docs()
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("error")  # any warning becomes an error
            skipped = {
                tuple(r)
                for r in gated_containment_pairs(
                    _cont_df(spark, docs), spread_check="skip"
                ).collect()
            }
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            warned = {
                tuple(r)
                for r in gated_containment_pairs(_cont_df(spark, docs)).collect()
            }
            assert any(
                "NOT candidates" in str(x.message)
                and "measured 1 qualifying" in str(x.message)
                for x in w
            )
        assert skipped == warned
    finally:
        release_persisted()


def test_containment_spread_warn_mode_is_structural(spark):
    """Legacy mode "warn" keeps the measurement-free structural check:
    it fires on spread alone (even when no qualifying pair exists) and
    says the count is unmeasured."""
    from sayn_spark.functions.dedup import gated_containment_pairs
    from sayn_spark.functions.registry import release_persisted

    docs = _wide_spread_docs(plant_pair=False)
    try:
        with pytest.warns(UserWarning, match="UNMEASURED"):
            gated_containment_pairs(
                _cont_df(spark, docs), spread_check="warn"
            ).collect()
    finally:
        release_persisted()


def test_containment_auto_ratio_picks_wide_gate(spark):
    """max_ratio='auto' on a gap-6 corpus selects the widest gate and
    therefore RECOVERS the planted ratio-12.8 pair (gap 4 <= the wide
    gate's probe reach 5) that the default gate structurally misses."""
    from sayn_spark.functions.dedup import gated_containment_pairs
    from sayn_spark.functions.registry import release_persisted

    docs = _wide_spread_docs()
    try:
        got = {
            (r.id_a, r.id_b)
            for r in gated_containment_pairs(
                _cont_df(spark, docs), max_ratio="auto"
            ).collect()
        }
        assert (1, 4) in got
        # and on a narrow-spread corpus auto stays on the cheap gate
        narrow = {1: ["a", "b", "c", "d"], 2: ["a", "b", "c", "e"]}
        gated_containment_pairs(_cont_df(spark, narrow), max_ratio="auto").collect()
    finally:
        release_persisted()


def test_containment_spread_check_validation(spark):
    from sayn_spark.functions.dedup import gated_containment_pairs

    with pytest.raises(ValueError, match="spread_check"):
        gated_containment_pairs(
            _cont_df(spark, {1: ["a", "b", "c"]}), spread_check="maybe"
        )


# -- q_source_cap: WindowGroupLimit scale pin ----------------------------


def test_source_cap_uses_window_group_limit(spark):
    """The rank<=cap filter must be rewritten into WindowGroupLimit
    with a PARTIAL stage below the shuffle — each map partition then
    forwards at most cap rows per source, making the cap skew-proof.
    If this pin breaks (expression shape change defeats the rewrite),
    the window would shuffle the full corpus."""
    from sayn_spark.functions import REGISTRY

    df = REGISTRY["q_source_cap"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan
    # both stages: Partial (map-side, below the exchange) and Final
    assert "Partial" in plan and "Final" in plan, plan
    gl_partial = next(
        i for i, l in enumerate(plan.splitlines())
        if "WindowGroupLimit" in l and "Partial" in l
    )
    ex = next(
        i for i, l in enumerate(plan.splitlines()) if "Exchange hashpartitioning" in l
    )
    # root-first printing: the partial limit must sit BELOW the shuffle
    assert gl_partial > ex, plan


def test_source_cap_is_deterministic_and_capped(spark):
    from sayn_spark.functions import REGISTRY

    rows1 = {tuple(r) for r in REGISTRY["q_source_cap"].fn(spark, SF).collect()}
    rows2 = {tuple(r) for r in REGISTRY["q_source_cap"].fn(spark, SF).collect()}
    assert rows1 == rows2
    per_source = {}
    for _, source, rk in rows1:
        per_source[source] = max(per_source.get(source, 0), rk)
    assert all(v <= 10 for v in per_source.values())
    assert len(per_source) == 20  # every source survives, none exceeds cap


# -- mixture task: max_docs_per_group cap --------------------------------


def test_mixture_cap_matches_registered_source_cap(spark, tmp_path):
    """max_docs_per_group keeps, per group, exactly the cap
    lowest-seeded-hash docs among the budget-solve survivors — the
    q_source_cap selection rule applied after the rate stage (the
    budget floor may pre-drop a sliver even at ratio=1.0, so the
    expectation derives from the uncapped run)."""
    import hashlib

    from sayn_spark.operators.mixture import MixtureTask

    ctx = _filter_ctx(spark, tmp_path)
    src = spark.read.parquet(f"{SF}/documents.parquet")
    ctx.db.replace_table("r7_mix_src", src)

    def run(name, dest, **extra):
        t = MixtureTask(
            name,
            {
                "source": "r7_mix_src",
                "destination": dest,
                "group_column": "source",
                "token_budget_ratio": 1.0,
                **extra,
            },
            ctx,
        )
        t.config()
        t.run()
        return spark.table(dest)

    uncapped = run("r7_mix0", "r7_mix_nocap")
    got = {r.doc_id for r in run("r7_mix1", "r7_mix_out", max_docs_per_group=10).collect()}

    def hv(doc_id):
        return int(hashlib.md5(f"cap|{doc_id}".encode()).hexdigest()[:15], 16)

    want = set()
    by_src = {}
    for r in uncapped.select("doc_id", "source").collect():
        by_src.setdefault(r.source, []).append(r.doc_id)
    for ids in by_src.values():
        want.update(sorted(ids, key=lambda d: (hv(d), d))[:10])
    assert got == want
    assert len(got) == 10 * len(by_src)


def test_mixture_cap_validation(spark, tmp_path):
    from sayn_spark.operators.mixture import MixtureTask

    ctx = _filter_ctx(spark, tmp_path)
    t = MixtureTask(
        "r7_mix_bad",
        {
            "source": "x",
            "destination": "y",
            "group_column": "source",
            "max_docs_per_group": 0,
        },
        ctx,
    )
    with pytest.raises(ValueError, match="max_docs_per_group"):
        t.config()


# -- q_dsir_selection ----------------------------------------------------


def test_dsir_topk_avoids_global_sort(spark):
    """The global top-k must compile to TakeOrderedAndProject (partial
    per-partition top-k) — never a full global Sort before the rank."""
    from sayn_spark.functions import REGISTRY
    from sayn_spark.functions.registry import release_persisted

    try:
        df = REGISTRY["q_dsir_selection"].fn(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan, plan
        assert "Exchange rangepartitioning" not in plan, plan
    finally:
        release_persisted()


def test_dsir_selects_target_like_docs(spark):
    """Sanity on the method itself (parity alone would not catch a
    degenerate estimator — both engines mirror the arithmetic): docs
    sharing vocabulary with the 'en' target must outrank docs that
    share none.  Build a corpus where some non-en docs are copies of
    en text (cross-lingual leakage) and the rest are disjoint."""
    from sayn_spark.functions.content_filter import _DSIR_B, dsir_feature_frame
    from pyspark.sql import functions as F

    en_text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, "en", en_text) for i in range(100, 120)]
    rows += [(i, "de", en_text) for i in range(1, 6)]  # leaked en content
    rows += [(i, "de", f"ganz anderes vokabular {i} ohne überlappung") for i in range(50, 70)]
    d = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    docb = dsir_feature_frame(d).join(d.select("doc_id", "lang"), "doc_id")
    tb = docb.where(F.col("lang") == "en").groupBy("b").agg(F.sum("c").alias("ct"))
    rb = docb.where(F.col("lang") != "en").groupBy("b").agg(F.sum("c").alias("cr"))
    tot = tb.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("nt")).crossJoin(
        rb.agg(F.coalesce(F.sum("cr"), F.lit(0)).alias("nr"))
    )
    spine = spark.range(_DSIR_B).select(F.col("id").alias("b"))
    lnr = (
        spine.join(tb, "b", "left")
        .join(rb, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.expr(
                f"cast(round(ln(cast((coalesce(ct, 0) + 1) * (nr + {_DSIR_B}) as double)"
                f" / cast((coalesce(cr, 0) + 1) * (nt + {_DSIR_B}) as double)) * 100000000) as bigint)"
            ).alias("lnr_i8"),
        )
    )
    wts = (
        docb.where(F.col("lang") != "en")
        .join(F.broadcast(lnr), "b")
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.col("lnr_i8")).alias("w"))
        .collect()
    )
    w = {r.doc_id: r.w for r in wts}
    leaked = [w[i] for i in range(1, 6)]
    disjoint = [w[i] for i in range(50, 70)]
    assert min(leaked) > max(disjoint), (min(leaked), max(disjoint))


# -- filter task: dsir scorer --------------------------------------------


def test_filter_dsir_keeps_target_like_docs(spark, tmp_path):
    """scorer: dsir with a planted target table keeps exactly the
    top-keep_fraction docs by the library's importance weights, and
    target-overlapping docs outrank disjoint-vocabulary ones."""
    from pyspark.sql import functions as F

    from sayn_spark.functions.content_filter import (
        dsir_feature_frame,
        dsir_lnr_frame,
        dsir_weight_frame,
    )
    from sayn_spark.operators.filter import FilterTask

    ctx = _filter_ctx(spark, tmp_path)
    en_text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, en_text + f" tail{i % 3}") for i in range(1, 6)]
    rows += [(i, f"vokabular ohne uberlappung {i} nummer wort") for i in range(50, 70)]
    src = spark.createDataFrame(rows, "doc_id long, text string")
    ctx.db.replace_table("r7_dsir_src", src)
    tgt = spark.createDataFrame([(en_text,), (en_text + " more",)], "text string")
    ctx.db.replace_table("r7_dsir_tgt", tgt)

    t = FilterTask(
        "r7_dsir",
        {
            "source": "r7_dsir_src",
            "destination": "r7_dsir_out",
            "scorer": "dsir",
            "target_table": "r7_dsir_tgt",
            "keep_fraction": 0.2,
            "with_score": True,
        },
        ctx,
    )
    t.config()
    t.run()
    kept = {r.doc_id for r in spark.table("r7_dsir_out").collect()}
    # library expectation: top floor(0.2 * 25) = 5 by (w desc, id)
    docb = dsir_feature_frame(src)
    tb = dsir_feature_frame(
        tgt.select(F.lit(0).alias("doc_id"), "text")
    ).groupBy("b").agg(F.sum("c").alias("ct"))
    rb = docb.groupBy("b").agg(F.sum("c").alias("cr"))
    wts = dsir_weight_frame(docb, dsir_lnr_frame(spark, tb, rb)).collect()
    ranked = sorted(wts, key=lambda r: (-r.w_micro8, r.doc_id))
    want = {r.doc_id for r in ranked[:5]}
    assert kept == want
    assert kept == set(range(1, 6))  # the target-overlapping docs
    assert "w_micro8" in spark.table("r7_dsir_out").columns


# -- q_dedup_passage_rewrite ---------------------------------------------


def test_passage_rewrite_semantics(spark):
    """Planted fan-out copies (doc_id+100000) come back empty — their
    lower-id original owns every window — and the globally-first
    document is untouched.  Mid-corpus originals may legitimately lose
    spans too: the synthetic corpus plants its own cross-document
    repeats, exactly what the operator exists to strip."""
    from sayn_spark.functions import REGISTRY
    from sayn_spark.functions.registry import release_persisted

    try:
        rows = {
            r.doc_id: r
            for r in REGISTRY["q_dedup_passage_rewrite"].fn(spark, SF).collect()
        }
    finally:
        release_persisted()
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    windowed = sorted(
        d for d, t in docs.items()
        if len([x for x in t.lower().split(" ") if x]) >= 10
    )
    for doc_id in windowed:
        copy = rows[doc_id + 100000]
        assert copy.n_kept_tokens == 0, doc_id
        assert copy.cleaned_text == "", doc_id
    # the minimal windowed doc_id can have no lower owner: verbatim
    first = rows[windowed[0]]
    toks = [x for x in docs[windowed[0]].lower().split(" ") if x]
    assert first.n_kept_tokens == first.n_tokens
    assert first.cleaned_text == " ".join(toks)
    # and the operator does strip real mid-corpus duplicate spans
    assert any(
        rows[d].n_kept_tokens < rows[d].n_tokens for d in windowed[1:]
    )


def test_passage_rewrite_partial_overlap(spark):
    """A document that QUOTES a 12-token span from a lower-id document
    loses exactly the covered positions, nothing else."""
    from sayn_spark.functions.dedup import _PASSAGE_W
    from sayn_spark.functions import registry as reg_mod
    from pyspark.sql import functions as F

    assert _PASSAGE_W == 10
    a = [f"a{i}" for i in range(30)]
    quote = a[5:17]  # 12 tokens -> windows at starts 6..8 of doc a
    b = [f"b{i}" for i in range(10)] + quote + [f"c{i}" for i in range(10)]
    df = spark.createDataFrame(
        [(1, " ".join(a)), (2, " ".join(b))], "doc_id long, text string"
    )
    # run the library logic directly on a custom corpus (the registered
    # query pins the fan-out corpus; here we pin the span arithmetic)
    toks = df.select("doc_id", F.expr("filter(split(lower(text), ' '), x -> x != '')").alias("toks"))
    wins = toks.where(F.size("toks") >= 10).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 9), "
                "i -> struct(i as s, md5(array_join(slice(toks, i, 10), ' ')) as h))"
            )
        ).alias("w"),
    ).select("doc_id", "w.s", "w.h")
    owner = wins.groupBy("h").agg(F.min("doc_id").alias("fd"))
    removed = (
        wins.join(owner, "h")
        .where(F.col("doc_id") > F.col("fd"))
        .groupBy("doc_id")
        .agg(F.collect_list("s").alias("starts"))
    )
    out = {
        r.doc_id: r
        for r in toks.join(removed, "doc_id", "left")
        .select(
            "doc_id",
            F.expr(
                "case when starts is null then toks else "
                "filter(toks, (x, i) -> not exists(starts, s -> "
                "i + 1 >= s and i + 1 <= s + 9)) end"
            ).alias("kept"),
        )
        .collect()
    }
    assert out[1].kept == a
    # doc 2's duplicated windows: the 12-token quote spans starts
    # 11..13 (1-based) -> covered positions 11..22 -> all 12 quote
    # tokens removed, the b/c frames stay
    want = [f"b{i}" for i in range(10)] + [f"c{i}" for i in range(10)]
    assert out[2].kept == want


# -- dedup task: method passages -----------------------------------------


def test_dedup_task_passages_rewrites_text(spark, tmp_path):
    """method: passages replaces each doc's text with the span-cleaned
    version (library parity) and drops docs left below
    min_kept_tokens."""
    from sayn_spark.functions.dedup import passage_rewrite
    from sayn_spark.functions.registry import release_persisted
    from sayn_spark.operators.dedup import DedupTask

    ctx = _filter_ctx(spark, tmp_path)
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    # plant a full copy so at least one doc rewrites to empty
    planted = docs.unionByName(
        docs.limit(1).selectExpr("doc_id + 900000 as doc_id", "text", "lang")
    )
    ctx.db.replace_table("r7_pw_src", planted)
    t = DedupTask(
        "r7_pw",
        {
            "source": "r7_pw_src",
            "destination": "r7_pw_out",
            "method": "passages",
            "min_kept_tokens": 1,
        },
        ctx,
    )
    t.config()
    t.run()
    got = {r.doc_id: r.text for r in spark.table("r7_pw_out").collect()}
    try:
        want_rows = passage_rewrite(planted.select("doc_id", "text")).collect()
    finally:
        release_persisted()
    want = {
        r.doc_id: r.cleaned_text for r in want_rows if r.n_kept_tokens >= 1
    }
    assert got == want
    copy_id = planted.agg({"doc_id": "max"}).first()[0]
    assert copy_id not in got  # the planted copy rewrote to empty
    assert "lang" in spark.table("r7_pw_out").columns  # carry columns kept


# -- q_dedup_passages_winnowed -------------------------------------------


def test_winnowed_passages_guarantee_and_reduction(spark):
    """Planted exact copies score exactly 10^6 ppm (the winnow
    guarantee: every shared span >= W+w-1 tokens collides), and the
    winnowed fingerprint stream is materially smaller than the full
    window stream (the point of the scale path)."""
    from sayn_spark.functions import REGISTRY
    from sayn_spark.functions.registry import release_persisted

    try:
        rows = {
            r.doc_id: r
            for r in REGISTRY["q_dedup_passages_winnowed"].fn(spark, SF).collect()
        }
    finally:
        release_persisted()
    copies = [r for d, r in rows.items() if d > 100000]
    assert copies and all(r.dup_ppm == 1_000_000 for r in copies)
    total_windows = sum(r.n_windows for r in rows.values())
    total_fps = sum(r.n_fps for r in rows.values())
    # expected density 2/(w+1) = 0.4 at w=4; allow generous slack
    assert total_fps < 0.6 * total_windows, (total_fps, total_windows)


def test_dedup_task_passages_incremental_lifecycle(spark, tmp_path):
    """Two-wave incremental span dedup: wave 2's quotes of wave-1 spans
    are stripped via the fingerprint index, reruns are no-ops, and the
    two-wave result equals a full-mode rewrite of the union (same
    ownership order)."""
    from sayn_spark.operators.dedup import DedupTask

    for t in ("r7_pi_src", "r7_pi_idx", "r7_pi_out", "r7_pif_out"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    ctx = _filter_ctx(spark, tmp_path)
    a = [f"a{i}" for i in range(30)]
    b = [f"b{i}" for i in range(25)]
    wave1 = spark.createDataFrame(
        [(1, " ".join(a)), (2, " ".join(b))], "doc_id long, text string"
    )
    ctx.db.replace_table("r7_pi_src", wave1)

    def run_inc():
        t = DedupTask(
            "r7_pi",
            {
                "source": "r7_pi_src",
                "destination": "r7_pi_out",
                "method": "passages",
                "mode": "incremental",
                "index_table": "r7_pi_idx",
            },
            ctx,
        )
        t.config()
        t.run()

    run_inc()
    out1 = {r.doc_id: r.text for r in spark.table("r7_pi_out").collect()}
    assert out1 == {1: " ".join(a), 2: " ".join(b)}  # no cross-dup yet
    n_idx = spark.table("r7_pi_idx").count()
    assert n_idx == (30 - 9) + (25 - 9)

    run_inc()  # replay with unchanged source: no-op
    assert spark.table("r7_pi_out").count() == 2
    assert spark.table("r7_pi_idx").count() == n_idx

    # wave 2: doc 3 quotes a 12-token span of doc 1; doc 4 is fresh
    quote = a[5:17]
    c = [f"c{i}" for i in range(8)] + quote + [f"d{i}" for i in range(8)]
    fresh = [f"e{i}" for i in range(15)]
    wave2 = wave1.unionByName(
        spark.createDataFrame(
            [(3, " ".join(c)), (4, " ".join(fresh))], "doc_id long, text string"
        )
    )
    ctx.db.replace_table("r7_pi_src", wave2)
    run_inc()
    out2 = {r.doc_id: r.text for r in spark.table("r7_pi_out").collect()}
    assert set(out2) == {1, 2, 3, 4}
    assert out2[1] == " ".join(a) and out2[2] == " ".join(b)
    assert out2[4] == " ".join(fresh)
    # doc 3 lost exactly the quoted span (starts 9..11 cover 9..20)
    assert out2[3] == " ".join(
        [f"c{i}" for i in range(8)] + [f"d{i}" for i in range(8)]
    )

    # equivalence with a full-mode rewrite over the union
    tf = DedupTask(
        "r7_pif",
        {
            "source": "r7_pi_src",
            "destination": "r7_pif_out",
            "method": "passages",
            "min_kept_tokens": 0,
        },
        ctx,
    )
    tf.config()
    tf.run()
    full = {r.doc_id: r.text for r in spark.table("r7_pif_out").collect()}
    assert out2 == full
    for t in ("r7_pi_src", "r7_pi_idx", "r7_pi_out", "r7_pif_out"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_dedup_task_passages_incremental_crash_heal(spark, tmp_path):
    """Crash window: the index append landed but the destination write
    did not.  The replayed batch must ignore its OWN crashed index
    entries (owner in current batch) — otherwise every doc would strip
    itself to empty — and converge to the same result."""
    from pyspark.sql import functions as F

    from sayn_spark.functions.dedup import passage_windows
    from sayn_spark.operators.dedup import DedupTask

    for t in ("r7_ph_src", "r7_ph_idx", "r7_ph_out"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    ctx = _filter_ctx(spark, tmp_path)
    a = [f"x{i}" for i in range(20)]
    src = spark.createDataFrame([(1, " ".join(a))], "doc_id long, text string")
    ctx.db.replace_table("r7_ph_src", src)
    # simulate the crashed first attempt: index written, destination not
    toks = src.select(
        "doc_id", F.expr("filter(split(lower(text), ' '), x -> x != '')").alias("toks")
    )
    idx = passage_windows(toks).groupBy("h").agg(F.min("doc_id").alias("fd"))
    ctx.db.replace_table("r7_ph_idx", idx.select("h", "fd"))
    n_idx = spark.table("r7_ph_idx").count()

    t = DedupTask(
        "r7_ph",
        {
            "source": "r7_ph_src",
            "destination": "r7_ph_out",
            "method": "passages",
            "mode": "incremental",
            "index_table": "r7_ph_idx",
        },
        ctx,
    )
    t.config()
    t.run()
    out = {r.doc_id: r.text for r in spark.table("r7_ph_out").collect()}
    assert out == {1: " ".join(a)}  # NOT stripped by its own crash rows
    assert spark.table("r7_ph_idx").count() == n_idx  # no duplicate hashes
    for t2 in ("r7_ph_src", "r7_ph_idx", "r7_ph_out"):
        spark.sql(f"DROP TABLE IF EXISTS {t2}")


def test_passage_family_joins_never_broadcast(spark):
    """The dup-hash / owner / removed frames are corpus-sized at scale
    but cost-estimate tiny below the explode (the measured
    containment-gate hazard) — every passage-family join must plan as
    ShuffledHashJoin, never a broadcast of a data-sized side."""
    from sayn_spark.functions import REGISTRY
    from sayn_spark.functions.registry import release_persisted

    for name in (
        "q_dedup_passages",
        "q_dedup_passage_rewrite",
        "q_dedup_passages_winnowed",
    ):
        try:
            df = REGISTRY[name].fn(spark, SF)
            plan = df._jdf.queryExecution().executedPlan().toString()
            joins = [l for l in plan.splitlines() if "HashJoin" in l]
            assert joins, (name, plan)
            assert all("ShuffledHashJoin" in l for l in joins), (name, joins)
            assert "BroadcastHashJoin" not in plan, (name, plan)
        finally:
            release_persisted()


# -- filter task: pii card type (Luhn) -----------------------------------


def test_filter_pii_card_luhn(spark, tmp_path):
    """pii_types: [card] counts and redacts only Luhn-VALID candidates;
    the planted invalid number survives both."""
    from sayn_spark.operators.filter import FilterTask

    ctx = _filter_ctx(spark, tmp_path)
    rows = [
        (1, "pay 4532015112830366 now"),            # valid Luhn
        (2, "ref 4532015112830367 code"),           # invalid
        (3, "both 4532015112830366 and 4532015112830367"),
        (4, "no digits at all"),
    ]
    ctx.db.replace_table("r7_card_src", spark.createDataFrame(rows, "doc_id long, text string"))

    def run(dest, **cfg):
        t = FilterTask(
            "r7_card",
            {
                "source": "r7_card_src",
                "destination": dest,
                "scorer": "pii",
                "pii_types": ["card"],
                **cfg,
            },
            ctx,
        )
        t.config()
        t.run()
        return {r.doc_id: r for r in spark.table(dest).collect()}

    dropped = run("r7_card_drop", pii_action="drop", with_score=True)
    assert set(dropped) == {2, 4}  # only checksum-valid cards count
    assert dropped[2].n_pii == 0 and dropped[4].n_pii == 0

    red = run("r7_card_red", pii_action="redact")
    assert red[1].text == "pay [CARD] now"
    assert red[2].text == "ref 4532015112830367 code"  # invalid: untouched
    assert red[3].text == "both [CARD] and 4532015112830367"
    assert red[4].text == "no digits at all"


# -- mixture task: allow_upsample ----------------------------------------


def test_mixture_upsample_matches_registered_query(spark, tmp_path):
    """allow_upsample with alpha=0.5 and a full token budget emits, per
    source, exactly the docs_emitted q_mixture_upsample (oracle-
    verified) computes, with epoch columns 1..n per replicated doc."""
    from sayn_spark.functions import REGISTRY
    from sayn_spark.operators.mixture import MixtureTask

    ctx = _filter_ctx(spark, tmp_path)
    src = spark.read.parquet(f"{SF}/documents.parquet")
    ctx.db.replace_table("r7_up_src", src)
    t = MixtureTask(
        "r7_up",
        {
            "source": "r7_up_src",
            "destination": "r7_up_out",
            "group_column": "source",
            "token_budget_ratio": 1.0,
            "temperature_alpha": 0.5,
            "allow_upsample": True,
        },
        ctx,
    )
    t.config()
    t.run()
    out = spark.table("r7_up_out")
    assert "epoch" in out.columns
    got = {r.source: r.n for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    want = {
        r.source: r.docs_emitted
        for r in REGISTRY["q_mixture_upsample"].fn(spark, SF).collect()
    }
    assert got == want
    # replicated docs carry dense epoch indices 1..n
    reps = (
        out.groupBy("doc_id")
        .agg(F.count("*").alias("n"), F.max("epoch").alias("mx"), F.min("epoch").alias("mn"))
        .where("n > 1")
        .collect()
    )
    assert reps, "full-budget sqrt weights must upsample some group"
    assert all(r.mn == 1 and r.mx == r.n for r in reps)


def test_mixture_upsample_validation(spark, tmp_path):
    from sayn_spark.operators.mixture import MixtureTask

    ctx = _filter_ctx(spark, tmp_path)
    t = MixtureTask(
        "r7_up_bad",
        {
            "source": "x",
            "destination": "y",
            "group_column": "source",
            "allow_upsample": True,
            "max_docs_per_group": 5,
        },
        ctx,
    )
    with pytest.raises(ValueError, match="mutually exclusive"):
        t.config()


# -- C4 cleaning rules (filter task scorer) ----------------------------


def test_filter_c4_rewrites_and_drops(spark, tmp_path):
    """scorer: c4 on newline-split pages: line retention rewrites the
    text (terminal punctuation, >= 5 words, no javascript), page rules
    drop lorem-ipsum / brace pages and pages under min_sentences."""
    from sayn_spark.operators.filter import FilterTask

    ctx = _filter_ctx(spark, tmp_path)
    good = ("one two three four five.\nsix seven eight nine ten!\n"
            "alpha beta gamma delta epsilon?\nno punctuation line here now")
    js = ("one two three four five.\nuses javascript one two three.\n"
          "six seven eight nine ten!\nalpha beta gamma delta epsilon?")
    lorem = good + "\nlorem ipsum dolor sit amet."
    brace = good + "\nvar config = { a: 1 };"
    short = "one two three four five.\nsix seven eight nine ten!"
    rows = [(1, good), (2, js), (3, lorem), (4, brace), (5, short)]
    ctx.db.replace_table(
        "r7_c4_src", spark.createDataFrame(rows, "doc_id long, text string")
    )
    t = FilterTask(
        "r7_c4",
        {"source": "r7_c4_src", "destination": "r7_c4_out", "scorer": "c4",
         "with_score": True},
        ctx,
    )
    t.config()
    t.run()
    out = {r.doc_id: r for r in spark.table("r7_c4_out").collect()}
    # lorem (3), brace (4), and short (5: only 2 sentences) pages drop
    assert set(out) == {1, 2}
    # the unpunctuated line is removed from page 1
    assert out[1].text == ("one two three four five.\nsix seven eight nine ten!\n"
                           "alpha beta gamma delta epsilon?")
    assert out[1].n_kept_lines == 3 and out[1].n_lines == 4
    # the javascript line is removed from page 2 (3 sentences survive)
    assert "javascript" not in out[2].text
    assert out[2].n_kept_lines == 3


def test_filter_c4_min_sentences_and_no_rewrite(spark, tmp_path):
    from sayn_spark.operators.filter import FilterTask

    ctx = _filter_ctx(spark, tmp_path)
    short = "one two three four five.\nsix seven eight nine ten!"
    ctx.db.replace_table(
        "r7_c42_src",
        spark.createDataFrame([(1, short)], "doc_id long, text string"),
    )
    t = FilterTask(
        "r7_c42",
        {"source": "r7_c42_src", "destination": "r7_c42_out", "scorer": "c4",
         "min_sentences": 2, "c4_rewrite": False},
        ctx,
    )
    t.config()
    t.run()
    rows = spark.table("r7_c42_out").collect()
    assert len(rows) == 1 and rows[0].text == short  # untouched, kept


# -- boilerplate line dedup (dedup task method: lines) ------------------


def test_dedup_lines_removes_boilerplate(spark, tmp_path):
    """method: lines removes exactly the lines shared by >= min_line_docs
    documents and keeps unique lines in order."""
    from sayn_spark.operators.dedup import DedupTask

    ctx = _filter_ctx(spark, tmp_path)
    footer = "subscribe to our newsletter."
    rows = [
        (i, f"unique line number {i} alpha.\nsecond unique {i} beta!\n" + footer)
        for i in range(8)
    ] + [(100, "a page with no boilerplate.\nonly unique content here!")]
    ctx.db.replace_table(
        "r7_bl_src", spark.createDataFrame(rows, "doc_id long, text string")
    )
    t = DedupTask(
        "r7_bl",
        {"source": "r7_bl_src", "destination": "r7_bl_out", "method": "lines",
         "min_line_docs": 5},
        ctx,
    )
    t.config()
    t.run()
    out = {r.doc_id: r.text for r in spark.table("r7_bl_out").collect()}
    assert len(out) == 9
    for i in range(8):
        assert out[i] == f"unique line number {i} alpha.\nsecond unique {i} beta!"
    assert out[100] == "a page with no boilerplate.\nonly unique content here!"


def test_dedup_lines_min_kept_and_validation(spark, tmp_path):
    from sayn_spark.operators.dedup import DedupTask

    ctx = _filter_ctx(spark, tmp_path)
    # all-boilerplate pages drop below min_kept_lines
    rows = [(i, "the common footer line.") for i in range(6)]
    ctx.db.replace_table(
        "r7_bl2_src", spark.createDataFrame(rows, "doc_id long, text string")
    )
    t = DedupTask(
        "r7_bl2",
        {"source": "r7_bl2_src", "destination": "r7_bl2_out", "method": "lines",
         "min_line_docs": 5},
        ctx,
    )
    t.config()
    t.run()
    assert spark.table("r7_bl2_out").count() == 0

    bad = DedupTask(
        "r7_bl3",
        {"source": "x", "destination": "y", "method": "lines",
         "mode": "incremental", "index_table": "ix", "matches_table": "m"},
        ctx,
    )
    with pytest.raises(ValueError, match="corpus-relative"):
        bad.config()


# -- duplicate-line repetition gates ------------------------------------


def test_filter_repetition_dup_line_bounds(spark, tmp_path):
    """max_dup_line_ppm / max_dup_char_ppm drop pages whose newline
    lines repeat beyond the bound (q_repetition_dup_lines' signals)."""
    from sayn_spark.operators.filter import FilterTask

    ctx = _filter_ctx(spark, tmp_path)
    clean = "alpha one two.\nbeta three four!\ngamma five six?"
    half_dup = "same line here.\nsame line here.\nunique tail line!"
    all_dup = "only line.\nonly line.\nonly line.\nonly line."
    rows = [(1, clean), (2, half_dup), (3, all_dup), (4, "single line page.")]
    ctx.db.replace_table(
        "r7_dl_src", spark.createDataFrame(rows, "doc_id long, text string")
    )

    def run(dest, **cfg):
        t = FilterTask(
            "r7_dl",
            {"source": "r7_dl_src", "destination": dest,
             "scorer": "repetition", **cfg},
            ctx,
        )
        t.config()
        t.run()
        return {r.doc_id for r in spark.table(dest).collect()}

    # published-style bound: 300000 ppm duplicate lines
    assert run("r7_dl_a", max_dup_line_ppm=300_000) == {1, 4}
    # char bound separately: half_dup has ~1/3 dup chars > 200000 ppm
    assert run("r7_dl_b", max_dup_char_ppm=200_000) == {1, 4}
    # loose bound keeps the 1/3-dup page but not the all-dup one
    assert run("r7_dl_c", max_dup_line_ppm=400_000) == {1, 2, 4}


# -- perceptual-hash image dedup ----------------------------------------


def test_phash_dedup_clusters_image_groups(spark):
    """The dHash banded dedup must recover every within-group pair
    (groups of 5 share a base thumbnail) with zero cross-group false
    positives, and noise must cost only a few bits."""
    from sayn_spark.functions import REGISTRY

    df = REGISTRY["q_multimodal_phash_dedup"].fn(spark, SF)
    rows = df.collect()
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    n_groups = (n_docs + 4) // 5
    assert len(rows) == 10 * n_groups  # C(5,2) per complete group
    assert all(r.src // 5 == r.dst // 5 for r in rows)
    assert max(r.hamming for r in rows) <= 12
    # anchors (pure base image) pair at the group's noise floor
    assert any(r.hamming == 0 or r.hamming <= 2 for r in rows)


def test_srp_distortion_concentrates_around_one(spark):
    """Self-measured JL guarantee for the seeded sign table: the
    distortion ratio d2_proj / (16 * d2_orig) must concentrate around
    1.0 over the consecutive-pair audit — oracle parity alone cannot
    catch a degenerate table (DuckDB would mirror the same degenerate
    folds, the minhash-multiplier lesson)."""
    from sayn_spark.functions.similarity import q_embedding_srp_reduce

    rows = q_embedding_srp_reduce(spark, SF).collect()
    assert len(rows) > 400
    ratios = [r.ratio2 for r in rows]
    mean = sum(ratios) / len(ratios)
    assert 0.85 < mean < 1.15, f"JL mean distortion off: {mean}"
    within = sum(1 for r in ratios if 0.5 <= r <= 2.0)
    # Chi^2_16/16 concentration: ~95% of pairs inside [0.5, 2]
    assert within / len(ratios) > 0.85, f"only {within}/{len(ratios)} in [0.5,2]"


def test_srp_sign_table_is_balanced(spark):
    """Structural check on the seeded +/-1 table: every output dim
    mixes both signs substantially (a stuck row would make that
    coordinate a plain sum — still 'random' to parity, useless to JL),
    and no two rows are excessively correlated."""
    from sayn_spark.functions.similarity import _SRP_OUT_DIM

    import numpy as np

    srp = np.random.default_rng(20030415).integers(0, 2, size=(_SRP_OUT_DIM, 64)) * 2 - 1
    assert srp.shape == (_SRP_OUT_DIM, 64)
    pos = (srp > 0).sum(axis=1)
    assert ((pos >= 20) & (pos <= 44)).all(), f"sign balance off: {pos}"
    gram = srp @ srp.T / 64.0
    off = gram - np.eye(_SRP_OUT_DIM)
    assert abs(off).max() < 0.45, f"row correlation too high: {abs(off).max()}"


def test_minhash_recall_report_is_honest(spark):
    """The self-measured LSH quality report must show a healthy
    estimator on the planted-twin corpus: near-perfect band recall
    (twins sit at J ~0.9, far above the 4x4-band S-curve knee) and
    high precision.  A degenerate permutation table would crater both
    while still passing oracle parity."""
    from sayn_spark.functions.dedup import q_dedup_minhash_recall

    row = q_dedup_minhash_recall(spark, SF).collect()[0]
    assert row.n_true_pairs > 10
    assert row.band_recall_ppm >= 900000, row
    assert row.precision_ppm >= 900000, row
    # the estimate verdict may only lose candidates, never invent them
    assert row.n_est_true <= row.n_candidate_true


def test_srp_retrieval_recall_is_measured_and_bounded(spark):
    """The SRP retrieval report must return one row per query with
    integer-consistent hits (n_hit <= K, recall_ppm = n_hit/K) and a
    nonzero aggregate — the tier finds SOME true neighbors; its
    honestly-low corpus-specific mean is the report's point."""
    from sayn_spark.functions.similarity import _SRP_K, q_ann_srp_recall

    rows = q_ann_srp_recall(spark, SF).collect()
    assert len(rows) == 10
    for r in rows:
        assert 0 <= r.n_hit <= _SRP_K
        assert r.recall_ppm == (r.n_hit * 1000000) // _SRP_K
    assert sum(r.n_hit for r in rows) > 0


def test_zorder_key_interleaves_bits():
    from sayn_spark.functions.scale import _zorder_key_sql

    import duckdb

    def py_morton(a, b, bits=16):
        out = 0
        for i in range(bits):
            out |= ((a >> i) & 1) << (2 * i)
            out |= ((b >> i) & 1) << (2 * i + 1)
        return out

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT a, b, {_zorder_key_sql('a', 'b')} FROM "
        "(SELECT unnest([0, 1, 5, 149, 719, 65535]) AS a, "
        "unnest([0, 1, 3, 700, 149, 65535]) AS b)"
    ).fetchall()
    for a, b, z in rows:
        assert z == py_morton(a, b), (a, b)


def test_zorder_blocks_prune_better_on_the_second_dimension(spark):
    """The layout report must show Z-ordering's point: per-block user
    spans strictly below the time-sorted baseline's (that reduction IS
    the data-skipping win on user-keyed predicates)."""
    from sayn_spark.functions.scale import q_zorder_layout

    # sf0.001 has too few users/blocks to differentiate the layouts;
    # sf0.01 (150 users x 720 hours, ~40 blocks) shows the trade
    rows = {
        r.ordering: r
        for r in q_zorder_layout(spark, "/root/testdata/sf0.01").collect()
    }
    assert rows["zorder"].n_blocks == rows["time"].n_blocks > 0
    assert rows["zorder"].sum_user_span < rows["time"].sum_user_span


def test_nprobe_curve_is_monotone(spark):
    """More probed cells can only add candidates: per query, recall
    must be non-decreasing in nprobe, and the widest probe must find
    something overall."""
    from sayn_spark.functions.similarity import q_ann_nprobe_curve

    rows = q_ann_nprobe_curve(spark, SF).collect()
    assert len(rows) == 30
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, {})[r.nprobe] = r.n_hit
    for qid, curve in by_q.items():
        assert curve[1] <= curve[2] <= curve[4], (qid, curve)
        assert all(0 <= v <= 5 for v in curve.values())
    assert sum(c[4] for c in by_q.values()) > 0


def test_create_table_zorder_by_lays_out_morton_ranges(spark):
    """zorder_by must write a table whose files carry non-overlapping
    Morton-key ranges, each file locally sorted — the min/max-stat
    pruning contract — while storing no helper column."""
    from pyspark.sql import functions as F2

    from sayn_spark.core.database import SparkDatabase
    from sayn_spark.functions.registry import T
    from sayn_spark.functions.scale import zorder_key_expr

    db = SparkDatabase(spark)
    e = T(spark, SF, "events").select(
        "event_id",
        "user_id",
        F2.expr("(unix_timestamp(date_trunc('hour', ts)) - 1704067200) div 3600").alias(
            "hidx"
        ),
    )
    spark.sql("DROP TABLE IF EXISTS zw_out")
    db.create_table("zw_out", e, zorder_by=["user_id", "hidx"])
    out = spark.table("zw_out")
    assert out.count() == e.count()
    assert set(out.columns) == {"event_id", "user_id", "hidx"}
    zk = zorder_key_expr("user_id", "hidx")
    files = out.inputFiles()
    assert len(files) > 1  # range partitioning actually split the write
    ranges = []
    for f in files:
        pdf = (
            spark.read.parquet(f)
            .selectExpr(f"{zk} AS z")
            .toPandas()["z"]
        )
        assert (pdf.diff().dropna() >= 0).all(), f"file {f} not z-sorted"
        ranges.append((pdf.min(), pdf.max()))
    ranges.sort()
    for (lo1, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges: {(lo1, hi1)} vs {(lo2, _)}"
    spark.sql("DROP TABLE IF EXISTS zw_out")


def test_create_table_zorder_by_validation(spark):
    from sayn_spark.core.database import SparkDatabase
    from sayn_spark.functions.registry import T

    db = SparkDatabase(spark)
    e = T(spark, SF, "events").select("event_id", "user_id")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="exactly two"):
        db.create_table("zv_out", e, zorder_by=["user_id"])
    with _pytest.raises(ValueError, match="own physical layout"):
        db.create_table("zv_out", e, zorder_by=["user_id", "event_id"], sort_by=["x"])


def test_fim_transform_is_lossless(spark):
    """PSM reordering must preserve every token: prefix + middle +
    suffix (re-read from the sentinel layout) reassembles the original
    token stream, and ~half the eligible corpus is FIM'd."""
    from sayn_spark.functions.text import q_fim_transform

    rows = q_fim_transform(spark, SF).collect()
    docs = {
        r.doc_id: [t for t in r.text.lower().split(" ") if t]
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    n_fim = 0
    for r in rows:
        orig = docs[r.doc_id]
        if r.mode == "plain":
            assert r.out_text.split(" ") == orig
            continue
        n_fim += 1
        assert r.out_text.startswith("<PRE> ")
        body = r.out_text[len("<PRE> "):]
        pre, rest = body.split(" <SUF> ", 1)
        suf, mid = rest.split(" <MID> ", 1)
        reassembled = [t for t in (pre + " " + mid + " " + suf).split(" ") if t]
        assert reassembled == orig, r.doc_id
        assert 1 <= r.i_split <= r.j_split <= r.n_tokens
    assert 0.35 < n_fim / len(rows) < 0.65
