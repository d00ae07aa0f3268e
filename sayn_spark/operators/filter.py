"""Filter task: content filtering as a YAML-native task — the scoring
heuristics the engine oracle-verifies as queries (functions/text.py,
functions/content_filter.py), applied as a declarative keep/drop stage:

    tasks:
      keep_quality_docs:
        type: filter
        source: documents
        destination: documents_clean
        scorer: quality          # quality | langid | length | entropy |
                                 #   repetition | surprisal | gopher |
                                 #   c4 | pii | dsir  (one SCORERS row each)
        min_score: 0.5
        with_score: true         # add the score column to the output

    tasks:
      keep_english:
        type: filter
        source: documents
        destination: documents_en
        scorer: langid
        languages: [en, zh]

Every scorer is one ``SCORERS`` row: the options it reads (default and
cast), its "needs" rules, whether it is row-local, and its builder.  The
task's config check, its run and the streaming twin
(streaming/streams.py:content_filter_stream) all read that table.
Each builder shares its column builders with the registered,
DuckDB-oracle-verified query, so the decision logic carries external
correctness evidence:

- quality: keep rows with quality_score >= min_score
  (q_text_quality's 0.4*diversity + 0.3*(1-stopword) + 0.3*length mix).
- langid:  keep rows whose predicted language is in ``languages``
  (q_text_langid's marker-count heuristic, CJK -> zh).
- length:  keep rows with min_tokens <= n_tokens <= max_tokens.
- entropy: keep rows whose character Shannon entropy is at least
  min_entropy nats (q_text_char_entropy's zero-exchange row-local
  fold, integer 1e-8 nat units — catches binary junk / base64 blobs /
  keyboard mash that word-level rules miss).
- repetition: keep rows with repetition_ratio <= max_repetition_ratio
  and/or n_immediate_repeats <= max_immediate_repeats
  (q_repetition_signals' shared builders in functions/content_filter.py;
  docs with fewer than 2 tokens have no signal and are kept).  The
  MassiveText n-gram coverage gates stack on via max_top2_ppm /
  max_top3_ppm / max_top4_ppm / max_dup5_ppm (integer ppm; published
  thresholds 200000/180000/160000/150000 — q_repetition_top_ngram's
  shared frame builder), and the duplicate-line gates via
  max_dup_line_ppm / max_dup_char_ppm (q_repetition_dup_lines).
- gopher: the published Gopher rule suite (Rae et al. 2021 App. A) —
  word count in [min_words, max_words], mean word length in integer
  character bounds, symbol/alpha permille ratios, >= min_stop_words
  distinct stop words; every rule an integer cross-multiplication
  (q_quality_gopher_rules' shared builders).
- c4: the published C4 cleaning heuristics (Raffel et al. 2020 §2.2)
  over newline-split pages (q_quality_c4_rules' shared builders):
  lorem-ipsum or curly-brace pages and pages with fewer than
  min_sentences kept lines drop; c4_rewrite (default true) rewrites the
  text to its kept lines (>= min_words_per_line words, terminal
  punctuation, no javascript).
- pii: count matches of the configured pii_types — email/phone
  (q_pii_scan's regexes) and/or card (13-19-digit candidates validated
  with the Luhn checksum, q_pii_luhn — regex-only card counting is
  mostly false positives).
  pii_action: drop (default) removes rows with more than max_pii
  (default 0) matches; redact keeps every row and replaces matches
  with [EMAIL]/[PHONE]/[CARD] in place.
- dsir: Data Selection via Importance Resampling (Xie et al. 2023;
  q_dsir_selection's arithmetic) — hashed-ngram models of
  ``target_table`` (trusted domain text) vs this corpus; keep the
  highest-importance keep_fraction (exact rank or boundaries: approx)
  and/or rows with w_micro8 >= min_weight_micro8.  Corpus-relative:
  full mode only.
- surprisal: the CCNet-style LM-quality filter — keep rows with
  avg_nll <= max_avg_nll and/or the lowest-surprisal
  keep_fraction of the corpus (exact integer rank cut; needs
  id_column, default doc_id).  lm_order 1 (default) shares
  doc_avg_nll_frame with q_text_unigram_surprisal /
  q_perplexity_buckets; lm_order 2 is the Stupid Backoff bigram LM
  (q_text_bigram_surprisal's integer 1e-8 units — max_avg_nll then
  reads in nats).  reference_table trains the LM on a trusted corpus
  instead of the scored one (the CCNet production shape; implicit
  DAG edge) — frozen-LM + max_avg_nll is per-row, so it is the one
  surprisal configuration that supports mode: incremental.  At
  100 TB set boundaries: approx (percentile_approx threshold, one
  scalar aggregate — no global rank window) or prefer max_avg_nll
  (map-side after the vocabulary join).

Every scorer except surprisal/dsir is a row-local JVM column expression
over the text column — the filter is map-side and pushes through to
the scan where possible, and it is incremental- and streaming-safe;
surprisal adds the vocabulary-table join and dsir the broadcast
log-ratio join (both still JVM-side, map-side-combinable aggregates).
The destination is a full rebuild (replace_table); ``mode: incremental``
appends only new-id rows instead (row-local scorers only —
previously-DROPPED rows are re-scored on each run, which is idempotent
by row-locality and cheaper than keeping a drops table for a map-side
predicate).  NULL text never passes any scorer.
"""

from __future__ import annotations

from typing import Callable, NamedTuple, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sayn_spark.functions.content_filter import (
    _CARD_RE,
    _EMAIL_RE,
    _PHONE_RE,
    _SPARK_LUHN_OK,
    c4_clean_text_col,
    c4_keep_col,
    c4_signal_cols,
    dsir_feature_frame,
    dsir_lnr_frame,
    dsir_weight_frame,
    dup_line_signal_cols,
    gopher_pass_col,
    gopher_signal_cols,
    immediate_repeats_col,
    repetition_ratio_col,
    repetition_tokens_col,
    top_ngram_signal_frame,
)
from sayn_spark.functions.text import (
    bigram_lm_frames,
    char_entropy_col,
    doc_avg_nll_frame,
    langid_columns,
    n_tokens_col,
    nll_vocab_frame,
    predicted_lang_col,
    quality_score_col,
    score_against_bigram_lm,
    score_against_vocab,
)
from sayn_spark.operators.base import Task, TaskStatus


def _e8(nats) -> int:
    """Nats as integer 1e-8 units (the entropy and bigram-LM scale)."""
    return int(round(float(nats) * 100000000))


def _keep_share(scored: DataFrame, cond, key, o: dict, descending: bool = False):
    """AND ``cond`` with the keep_fraction cut over ``key`` (lowest
    share first; highest with ``descending``), when keep_fraction is set.

    boundaries: exact (default) is a global integer permille rank cut,
    ties broken by the id column — deterministic, but the row_number
    window is single-partition, so it is the per-dump calibration path.
    approx swaps it for a percentile_approx threshold (one
    map-side-combinable GK-sketch aggregate, no global sort) — the
    100 TB path; the rank error is bounded by 1/approx_accuracy and ties
    at the threshold are all kept."""
    f = o["keep_fraction"]
    if f is None:
        return scored, cond
    if o["boundaries"] == "approx":
        thr = scored.agg(
            F.percentile_approx(
                key, 1.0 - f if descending else f, o["approx_accuracy"]
            ).alias("_thr")
        )
        scored = scored.crossJoin(F.broadcast(thr))
        cut = key >= F.col("_thr") if descending else key <= F.col("_thr")
        return scored, cond & cut
    permille = int(round(f * 1000))
    w = Window.orderBy(key.desc() if descending else key, F.col(o["id_column"]))
    scored = scored.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy())
    )
    return scored, cond & (F.lit(1000) * F.col("_rn") <= F.lit(permille) * F.col("_n"))


# the cut's helper columns, dropped whether or not the cut ran
_CUT_COLUMNS = {"_rn": None, "_n": None, "_thr": None}


def _any_set(o: dict, keys) -> bool:
    return any(o[k] is not None for k in keys)


def _ids_and_text(work: DataFrame, o: dict) -> DataFrame:
    return work.select(F.col(o["id_column"]).alias("doc_id"), "text")


def _by_id(frame: DataFrame, o: dict, *cols: str) -> DataFrame:
    return frame.select(F.col("doc_id").alias(o["id_column"]), *cols)


# -- builders: (work, opts) -> (scored, keep condition or None to keep
# every row, {column: its with_score name, or None to always drop}) ----


def _quality(work, o):
    scored = work.withColumn("_score", quality_score_col())
    return scored, F.col("_score") >= o["min_score"], {"_score": "quality_score"}


# reserved-prefix staging: a source column named c_en or has_cjk must
# neither become ambiguous nor get dropped by the cleanup
_LANGID_STAGING = ("__sayn_has_cjk", "__sayn_c_en", "__sayn_c_es", "__sayn_c_fr", "__sayn_c_de")


def _langid(work, o):
    scored = work.select("*", *langid_columns("__sayn_")).withColumn(
        "_lang", predicted_lang_col("__sayn_")
    )
    cols = {**dict.fromkeys(_LANGID_STAGING), "_lang": "predicted_lang"}
    return scored, F.col("_lang").isin(o["languages"]), cols


def _length(work, o):
    scored = work.withColumn("_n", n_tokens_col())
    cond = F.lit(True)
    if o["min_tokens"] is not None:
        cond = cond & (F.col("_n") >= o["min_tokens"])
    if o["max_tokens"] is not None:
        cond = cond & (F.col("_n") <= o["max_tokens"])
    return scored, cond, {"_n": "n_tokens"}


def _entropy(work, o):
    scored = work.withColumn("_ent", char_entropy_col())
    return scored, F.col("_ent") >= o["min_entropy"], {"_ent": "entropy_e8"}


_NGRAM_BOUNDS = ("max_top2_ppm", "max_top3_ppm", "max_top4_ppm", "max_dup5_ppm")
_LINE_BOUNDS = ("max_dup_line_ppm", "max_dup_char_ppm")


def _with_dup_line_ppm(scored: DataFrame) -> DataFrame:
    """dup_line_ppm / dup_char_ppm over newline-split pages
    (q_repetition_dup_lines' row-local folds); single-line or empty
    docs have zero duplicates and read 0."""
    scored = scored.withColumn("_lines", F.split(F.col("text"), "\n"))
    sig = dup_line_signal_cols("_lines")
    for k, col in sig.items():
        scored = scored.withColumn(f"_dl_{k}", col)
    return (
        scored.withColumn(
            "dup_line_ppm",
            F.coalesce(F.expr("(_dl_n_dup_lines * 1000000) div _dl_n_lines"), F.lit(0)),
        )
        .withColumn(
            "dup_char_ppm",
            F.coalesce(F.expr("(_dl_n_dup_chars * 1000000) div _dl_sum_chars"), F.lit(0)),
        )
        .drop("_lines", *(f"_dl_{k}" for k in sig))
    )


def _repetition(work, o):
    # <2 tokens means nothing can repeat: coalesce the NULL signals to
    # zero so short docs pass (only NULL text drops)
    scored = (
        work.withColumn("_t", repetition_tokens_col())
        .withColumn("_ratio", F.coalesce(repetition_ratio_col("_t"), F.lit(0.0)))
        .withColumn("_reps", F.coalesce(immediate_repeats_col("_t"), F.lit(0)))
        .drop("_t")
    )
    cols = {"_ratio": "repetition_ratio", "_reps": "n_immediate_repeats"}
    cond = F.lit(True)
    if o["max_repetition_ratio"] is not None:
        cond = cond & (F.col("_ratio") <= o["max_repetition_ratio"])
    if o["max_immediate_repeats"] is not None:
        cond = cond & (F.col("_reps") <= o["max_immediate_repeats"])
    if _any_set(o, _NGRAM_BOUNDS):
        # per-doc n-gram coverage signals (each doc scores against its
        # own text, so the scorer stays row-local); unshingleable docs
        # (<2 tokens) have no signal row and pass at 0
        signals = {k: k[len("max_"):] for k in _NGRAM_BOUNDS}
        sig = top_ngram_signal_frame(_ids_and_text(work, o))
        scored = scored.join(_by_id(sig, o, *signals.values()), o["id_column"], "left")
        for k, signal in signals.items():
            cols[signal] = signal
            if o[k] is not None:
                cond = cond & (F.coalesce(F.col(signal), F.lit(0)) <= F.lit(o[k]))
    if _any_set(o, _LINE_BOUNDS):
        scored = _with_dup_line_ppm(scored)
        for k in _LINE_BOUNDS:
            signal = k[len("max_"):]
            cols[signal] = signal
            if o[k] is not None:
                cond = cond & (F.col(signal) <= F.lit(o[k]))
    return scored, cond, cols


_GOPHER_BOUNDS = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3,
    "max_mean_word_len": 10,
    "max_symbol_permille": 100,
    "min_alpha_permille": 800,
    "min_stop_words": 2,
}


def _gopher(work, o):
    sig = gopher_signal_cols("_t")
    scored = work.withColumn("_t", repetition_tokens_col())
    for k, col in sig.items():
        scored = scored.withColumn(k, col)
    # empty token arrays fail the word-count floor by construction
    keep = gopher_pass_col(**{k: o[k] for k in _GOPHER_BOUNDS})
    return scored, keep, {"_t": None, **{k: k for k in sig}}


def _c4(work, o):
    sig = c4_signal_cols("_lines", o["min_words_per_line"])
    scored = work.withColumn("_lines", F.split(F.col("text"), "\n"))
    for k, col in sig.items():
        scored = scored.withColumn(k, col)
    if o["c4_rewrite"]:
        # C4 removes offending lines rather than dropping the page; the
        # page rules read only the signal columns
        scored = scored.withColumn(
            o["text_column"], c4_clean_text_col("_lines", o["min_words_per_line"])
        )
    return scored, c4_keep_col(o["min_sentences"]), {"_lines": None, **{k: k for k in sig}}


def _pii(work, o):
    types = o["pii_types"]
    n_pii = F.lit(0)
    if "email" in types:
        n_pii = n_pii + F.size(F.regexp_extract_all(F.col("text"), F.lit(_EMAIL_RE), 0))
    if "phone" in types:
        n_pii = n_pii + F.size(F.regexp_extract_all(F.col("text"), F.lit(_PHONE_RE), 0))
    if "card" in types:
        # Luhn-VALIDATED candidates only (q_pii_luhn's checksum)
        n_pii = n_pii + F.size(
            F.expr(
                f"filter(transform(regexp_extract_all(text, '{_CARD_RE}', 0), "
                f"c -> {_SPARK_LUHN_OK}), ok -> ok)"
            )
        )
    scored = work.withColumn("_n_pii", n_pii)
    if o["pii_action"] == "drop":
        return scored, F.col("_n_pii") <= o["max_pii"], {"_n_pii": "n_pii"}
    # redact in place (q_pii_scan's replacement) and keep every row;
    # cards redact via a row-local fold so only checksum-VALID
    # candidates are replaced
    text = o["text_column"]
    redacted = F.col("text")
    if "email" in types:
        redacted = F.regexp_replace(redacted, _EMAIL_RE, "[EMAIL]")
    if "phone" in types:
        redacted = F.regexp_replace(redacted, _PHONE_RE, "[PHONE]")
    scored = scored.withColumn(text, redacted)
    if "card" in types:
        scored = scored.withColumn(
            text,
            F.expr(
                f"aggregate(regexp_extract_all({text}, '{_CARD_RE}', 0), {text}, "
                f"(acc, c) -> case when {_SPARK_LUHN_OK} "
                f"then replace(acc, c, '[CARD]') else acc end)"
            ),
        )
    return scored, None, {"_n_pii": "n_pii"}


def _surprisal(work, o):
    side = o.get("side")
    if o["lm_order"] == 2:
        # Stupid Backoff bigram LM; docs with < 2 tokens have no
        # scoreable position and drop at the join (no LM evidence)
        nll_bi, nll_uni = bigram_lm_frames((work if side is None else side).select("text"))
        nll = score_against_bigram_lm(_ids_and_text(work, o), nll_bi, nll_uni)
        score, key = "avg_nll_i8", F.col("avg_nll_i8")
        bound = None if o["max_avg_nll"] is None else key <= _e8(o["max_avg_nll"])
    else:
        if side is None:
            nll = doc_avg_nll_frame(_ids_and_text(work, o))
        else:
            # frozen unigram LM trained on the reference corpus (the
            # streaming twin's nll_vocab_frame, batch-side)
            vocab = nll_vocab_frame(side.select(F.lit(0).alias("doc_id"), "text"))
            nll = score_against_vocab(_ids_and_text(work, o), vocab)
        # the cut ranks boundary-free integer micro-units (the
        # q_perplexity_buckets arithmetic)
        score, key = "avg_nll", F.expr("cast(round(avg_nll * 1000000) as bigint)")
        bound = None if o["max_avg_nll"] is None else F.col("avg_nll") <= o["max_avg_nll"]
    scored = work.join(_by_id(nll, o, score), o["id_column"])
    cond = F.lit(True)
    if bound is not None:
        cond = cond & bound
    scored, cond = _keep_share(scored, cond, key, o)
    return scored, cond, {**_CUT_COLUMNS, score: score}


def _dsir(work, o):
    # both n-gram models are {B}-row aggregates; weights are a
    # broadcast join + combinable sum (q_dsir_selection's plan)
    docb = dsir_feature_frame(_ids_and_text(work, o))
    tgt = dsir_feature_frame(o["side"].select(F.lit(0).alias("doc_id"), "text"))
    tb = tgt.groupBy("b").agg(F.sum("c").alias("ct"))
    rb = docb.groupBy("b").agg(F.sum("c").alias("cr"))
    wts = _by_id(dsir_weight_frame(docb, dsir_lnr_frame(work.sparkSession, tb, rb)), o, "w_micro8")
    # wts is one row per scored doc — data-sized at scale but
    # underestimated below the aggregate: force the shuffle
    scored = work.join(wts.hint("shuffle_hash"), o["id_column"])
    cond = F.lit(True)
    if o["min_weight_micro8"] is not None:
        cond = cond & (F.col("w_micro8") >= o["min_weight_micro8"])
    # keep the TOP share: threshold at the (1-f) quantile
    scored, cond = _keep_share(scored, cond, F.col("w_micro8"), o, descending=True)
    return scored, cond, {**_CUT_COLUMNS, "w_micro8": "w_micro8"}


def _bad_pii_types(o: dict) -> list:
    return sorted(set(o["pii_types"]) - {"email", "phone", "card"})


_KEEP_FRACTION_RANGE = (
    lambda o: o["keep_fraction"] is not None and not 0.0 < o["keep_fraction"] <= 1.0,
    "keep_fraction must be in (0, 1]",
)
# the ranked scorers' keep_fraction cut (_keep_share)
_RANKED = {
    "keep_fraction": (None, float),
    "boundaries": ("exact", None),
    "approx_accuracy": (10000, int),
}


class Scorer(NamedTuple):
    """One filter scorer.  ``options`` maps each option it reads to
    (default, cast); ``needs`` lists (fails(opts), message) rules in
    check order (a message may be a function of the options);
    ``row_local`` scorers may run in ``mode: incremental`` and in the
    stream; ``build`` is (work, opts) -> (scored, keep condition or
    None, {temporary column: its with_score name or None}).
    ``needs_id`` names what needs the id column for a run, ``side`` the
    option holding a secondary text table, ``persists`` marks builders
    whose persisted frames the task releases after its write, and
    ``stream`` maps content_filter_stream's stage keys to options."""

    build: Callable
    options: dict
    needs: tuple = ()
    row_local: bool = True
    needs_id: Callable = lambda o: None
    side: Optional[str] = None
    persists: bool = False
    stream: Optional[dict] = None


SCORERS = {
    "quality": Scorer(
        _quality,
        {"min_score": (None, float)},
        ((lambda o: o["min_score"] is None, "quality needs min_score"),),
        stream={"min_score": "min_score"},
    ),
    "langid": Scorer(
        _langid,
        {"languages": ([], list)},
        ((lambda o: not o["languages"], "langid needs languages"),),
        stream={"languages": "languages"},
    ),
    "length": Scorer(
        _length,
        {"min_tokens": (None, int), "max_tokens": (None, int)},
        (
            (
                lambda o: not _any_set(o, ("min_tokens", "max_tokens")),
                "length needs min_tokens and/or max_tokens",
            ),
        ),
    ),
    "entropy": Scorer(
        _entropy,
        # the character-Shannon floor, read in nats, held in 1e-8 units
        {"min_entropy": (None, _e8)},
        ((lambda o: o["min_entropy"] is None, "entropy needs min_entropy (nats)"),),
        stream={"min_entropy": "min_entropy"},
    ),
    "repetition": Scorer(
        _repetition,
        {
            "max_repetition_ratio": (None, float),
            "max_immediate_repeats": (None, int),
            **dict.fromkeys(_NGRAM_BOUNDS + _LINE_BOUNDS, (None, int)),
        },
        (
            (
                lambda o: not _any_set(
                    o,
                    ("max_repetition_ratio", "max_immediate_repeats")
                    + _NGRAM_BOUNDS
                    + _LINE_BOUNDS,
                ),
                "repetition needs max_repetition_ratio, max_immediate_repeats, "
                "and/or a coverage bound (max_top{2,3,4}_ppm / max_dup5_ppm / "
                "max_dup_line_ppm / max_dup_char_ppm)",
            ),
        ),
        needs_id=lambda o: (
            "n-gram coverage bounds need" if _any_set(o, _NGRAM_BOUNDS) else None
        ),
        # the n-gram gates join a per-doc aggregate, so the stream
        # takes the row-local bounds only
        stream={
            k: k
            for k in ("max_repetition_ratio", "max_immediate_repeats") + _LINE_BOUNDS
        },
    ),
    "surprisal": Scorer(
        _surprisal,
        {
            "lm_order": (1, int),
            "reference_table": (None, None),
            "max_avg_nll": (None, float),
            **_RANKED,
        },
        (
            (lambda o: o["lm_order"] not in (1, 2), "lm_order must be 1 or 2"),
            (
                lambda o: o["max_avg_nll"] is None and o["keep_fraction"] is None,
                "surprisal needs max_avg_nll and/or keep_fraction",
            ),
            _KEEP_FRACTION_RANGE,
        ),
        row_local=False,
        needs_id=lambda o: "surprisal needs",
        side="reference_table",
        persists=True,
    ),
    "gopher": Scorer(
        _gopher,
        {k: (v, int) for k, v in _GOPHER_BOUNDS.items()},
        stream={k: k for k in _GOPHER_BOUNDS},
    ),
    "c4": Scorer(
        _c4,
        {
            "min_sentences": (3, int),
            "min_words_per_line": (5, int),
            "c4_rewrite": (True, bool),
        },
        stream={
            "min_sentences": "min_sentences",
            "min_words_per_line": "min_words_per_line",
            "rewrite": "c4_rewrite",
        },
    ),
    "pii": Scorer(
        _pii,
        {
            "pii_types": (("email", "phone"), tuple),
            "pii_action": ("drop", None),
            "max_pii": (0, int),
        },
        (
            (
                lambda o: _bad_pii_types(o) or not o["pii_types"],
                lambda o: "pii_types must be a non-empty subset of "
                f"email|phone|card (got {_bad_pii_types(o)})",
            ),
            (
                lambda o: o["pii_action"] not in ("drop", "redact"),
                "pii_action must be drop|redact",
            ),
        ),
        stream={"action": "pii_action", "max_pii": "max_pii"},
    ),
    "dsir": Scorer(
        _dsir,
        {"target_table": (None, None), "min_weight_micro8": (None, int), **_RANKED},
        (
            (lambda o: not o["target_table"], "dsir needs target_table"),
            (
                lambda o: o["keep_fraction"] is None and o["min_weight_micro8"] is None,
                "dsir needs keep_fraction and/or min_weight_micro8",
            ),
            _KEEP_FRACTION_RANGE,
        ),
        row_local=False,
        needs_id=lambda o: "dsir needs",
        side="target_table",
    ),
}

# the options every scorer reads
_COMMON = {"text_column": ("text", None), "with_score": (False, bool), "id_column": ("doc_id", None)}


def scorer_options(c: dict) -> dict:
    """Every scorer's options read from ``c`` and cast, absent ones
    defaulted; an option with no default stays None when absent or null."""
    o = {}
    for options in (_COMMON, *(s.options for s in SCORERS.values())):
        for name, (default, cast) in options.items():
            value = c.get(name, default)
            if cast is not None and not (value is None and default is None):
                value = cast(value)
            o[name] = value
    return o


def scorer_failure(scorer: str, o: dict) -> Optional[str]:
    """The message of the first of ``scorer``'s needs rules ``o`` fails."""
    for fails, message in SCORERS[scorer].needs:
        if fails(o):
            return message(o) if callable(message) else message
    return None


def apply_scorer(work: DataFrame, scorer: str, o: dict) -> DataFrame:
    """``work`` (text in a column named ``text``) scored and cut by
    ``scorer``: the rows its keep condition passes, its score columns
    under their public names with ``with_score``, else dropped."""
    scored, keep, cols = SCORERS[scorer].build(work, o)
    out = scored if keep is None else scored.where(keep)
    dropped = [c for c, public in cols.items() if public is None or not o["with_score"]]
    if dropped:
        out = out.drop(*dropped)
    renamed = {c: p for c, p in cols.items() if o["with_score"] and p not in (None, c)}
    return out.withColumnsRenamed(renamed) if renamed else out


def stream_options(scorer: str, stage: dict) -> dict:
    """content_filter_stream's ``stage`` dict for ``scorer`` checked and
    resolved: a key the stage does not read, or a failed needs rule,
    raises ValueError."""
    keys = SCORERS[scorer].stream
    unknown = sorted(set(stage) - set(keys))
    if unknown:
        raise ValueError(
            f"content_filter_stream: {scorer} takes {sorted(keys)}, not {unknown}"
        )
    o = scorer_options({keys[k]: v for k, v in stage.items()})
    failure = scorer_failure(scorer, o)
    if failure:
        raise ValueError(f"content_filter_stream: {failure}")
    return o


class FilterTask(Task):
    kind = "filter"

    def config(self) -> None:
        c = self.config_dict
        self.declare_table("source", "src_value")
        self.declare_table("destination", "dst_value", output=True)
        self.scorer = c.get("scorer", "quality")
        row = SCORERS.get(self.scorer)
        if row is None:
            raise ValueError(
                f"filter task {self.name!r}: scorer must be one of {tuple(SCORERS)}"
            )

        def fail(text: str):
            raise ValueError(f"filter task {self.name!r}: {text}")

        # incremental: score only source rows whose id is not yet in
        # the destination and append — a recurring ingest never
        # re-scores the existing corpus.  Row-local scorers only: a
        # corpus-relative scorer (surprisal trains its vocabulary on
        # the corpus) would give batch-dependent answers.
        self.read_load_mode()
        if self.incremental and not row.row_local:
            # ONE carve-out: surprisal against a FROZEN reference LM
            # with an absolute threshold is per-row (the LM and the cut
            # don't depend on the scored batch), so incremental ingest
            # is sound.  keep_fraction stays corpus-relative even with
            # a frozen LM (it ranks the scored corpus).
            frozen_lm = (
                self.scorer == "surprisal"
                and c.get("reference_table")
                and c.get("keep_fraction") is None
            )
            if not frozen_lm:
                fail(
                    f"{self.scorer} is corpus-relative "
                    "(trained on the batch corpus) — incremental scoring would "
                    "be batch-dependent; use mode: full, a row-local scorer, or "
                    "surprisal with reference_table + max_avg_nll (frozen LM)"
                )
        o = self.opts = scorer_options(c)
        failure = scorer_failure(self.scorer, o)
        if failure:
            fail(failure)
        if "lm_order" not in row.options and (o["reference_table"] or "lm_order" in c):
            fail("lm_order/reference_table apply to scorer: surprisal only")
        if o["boundaries"] not in ("exact", "approx"):
            fail("boundaries must be exact|approx")
        if o["boundaries"] == "approx" and (
            "keep_fraction" not in row.options or o["keep_fraction"] is None
        ):
            fail("boundaries: approx applies to scorer: surprisal|dsir with keep_fraction")
        # the dsir target and surprisal reference corpora are DAG
        # sources too (implicit edges, like decontaminate's eval_table)
        if row.side and o[row.side]:
            self.declare_table(row.side, row.side.replace("_table", "_value"))
        self.status = TaskStatus.READY

    def run(self) -> None:
        spark = self.context.spark
        row, o = SCORERS[self.scorer], self.opts
        text_column, id_column = o["text_column"], o["id_column"]
        df = spark.table(self.src_value)
        self.require_columns(df, [text_column])
        # the shared column builders read a column literally named
        # `text`; alias once, restore after.  If the source ALSO has an
        # unrelated `text` column, stash it first so its data survives.
        clash = text_column != "text" and "text" in df.columns
        work = df
        if clash:
            work = work.withColumnRenamed("text", "__sayn_orig_text__")
        work = work.withColumn("text", F.col(text_column)).where(
            F.col("text").isNotNull()
        )
        need = "incremental needs" if self.incremental else row.needs_id(o)
        if need and id_column not in work.columns:
            raise ValueError(
                f"filter task {self.name!r}: {need} id column "
                f"{id_column!r} in {self.src_value}"
            )
        work = self.new_rows(work, id_column)
        if row.side and o[row.side]:
            table = getattr(self, row.side.replace("_table", "_value"))
            side = spark.table(table)
            if "text" not in side.columns:
                raise ValueError(
                    f"filter task {self.name!r}: {row.side} {table!r} needs a text column"
                )
            o = {**o, "side": side}
        out = apply_scorer(work, self.scorer, o)
        if text_column != "text":
            out = out.drop("text")
            if clash:
                out = out.withColumnRenamed("__sayn_orig_text__", "text")
        self.write_destination(out)
        if row.persists:
            # doc_avg_nll_frame persists the token stream for its two
            # aggregation branches; the write above consumed it
            from sayn_spark.functions.registry import release_persisted

            release_persisted()
