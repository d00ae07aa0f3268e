"""Filter task: content filtering as a YAML-native task — the scoring
heuristics the engine oracle-verifies as queries (functions/text.py),
applied as a declarative keep/drop stage:

    tasks:
      keep_quality_docs:
        type: filter
        source: documents
        destination: documents_clean
        scorer: quality          # quality | langid | length |
                                 #   entropy | repetition |
                                 #   surprisal | gopher
        min_score: 0.5
        with_score: true         # add the score column to the output

    tasks:
      keep_english:
        type: filter
        source: documents
        destination: documents_en
        scorer: langid
        languages: [en, zh]

Scorers (each shares its column builders with the registered,
DuckDB-oracle-verified query, so the decision logic carries external
correctness evidence):

- quality: keep rows with quality_score >= min_score
  (q_text_quality's 0.4*diversity + 0.3*(1-stopword) + 0.3*length mix).
- langid:  keep rows whose predicted language is in ``languages``
  (q_text_langid's marker-count heuristic, CJK -> zh).
- length:  keep rows with min_tokens <= n_tokens <= max_tokens.
- entropy: keep rows whose character Shannon entropy is at least
  min_entropy nats (q_text_char_entropy's zero-exchange row-local
  fold, integer 1e-8 nat units — catches binary junk / base64 blobs /
  keyboard mash that word-level rules miss).  Row-local: incremental-
  and streaming-safe.
- repetition: keep rows with repetition_ratio <= max_repetition_ratio
  and/or n_immediate_repeats <= max_immediate_repeats
  (q_repetition_signals' shared builders in functions/content_filter.py;
  docs with fewer than 2 tokens have no signal and are kept).  The
  MassiveText n-gram coverage gates stack on via max_top2_ppm /
  max_top3_ppm / max_top4_ppm / max_dup5_ppm (integer ppm; published
  thresholds 200000/180000/160000/150000 — q_repetition_top_ngram's
  shared frame builder, so the decision carries its oracle evidence).
- gopher: the published Gopher rule suite (Rae et al. 2021 App. A) —
  word count in [min_words, max_words], mean word length in integer
  character bounds, symbol/alpha permille ratios, >= min_stop_words
  distinct stop words; every rule an integer cross-multiplication
  (q_quality_gopher_rules' shared builders — boundary-free, row-local,
  incremental- and streaming-safe).
- pii: count matches of the configured pii_types — email/phone
  (q_pii_scan's regexes) and/or card (13-19-digit candidates validated
  with the Luhn checksum, q_pii_luhn — regex-only card counting is
  mostly false positives).
  pii_action: drop (default) removes rows with more than max_pii
  (default 0) matches; redact keeps every row and replaces matches
  with [EMAIL]/[PHONE] in place.  Row-local — incremental- and
  streaming-safe.
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

Every scorer except surprisal/dsir is a pure JVM column expression
over the text column — the filter is map-side and pushes through to
the scan where possible; surprisal adds the vocabulary-table join and
dsir the broadcast log-ratio join (both still JVM-side,
map-side-combinable aggregates).  The destination is a full
rebuild (replace_table); ``mode: incremental`` appends only new-id
rows instead (row-local scorers only — previously-DROPPED rows are
re-scored on each run, which is idempotent by row-locality and
cheaper than keeping a drops table for a map-side predicate).  NULL
text never passes any scorer.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sayn_spark.operators.base import Task, TaskStatus

_SCORERS = (
    "quality",
    "langid",
    "length",
    "entropy",
    "repetition",
    "surprisal",
    "gopher",
    "c4",
    "pii",
    "dsir",
)


class FilterTask(Task):
    kind = "filter"

    def config(self) -> None:
        c = self.config_dict
        self.declare_table("source", "src_value")
        self.declare_table("destination", "dst_value", output=True)
        self.scorer = c.get("scorer", "quality")
        if self.scorer not in _SCORERS:
            raise ValueError(
                f"filter task {self.name!r}: scorer must be one of {_SCORERS}"
            )
        # incremental: score only source rows whose id is not yet in
        # the destination and append — a recurring ingest never
        # re-scores the existing corpus.  Row-local scorers only: a
        # corpus-relative scorer (surprisal trains its vocabulary on
        # the corpus) would give batch-dependent answers.
        self.read_load_mode()
        if self.incremental and self.scorer in ("surprisal", "dsir"):
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
                raise ValueError(
                    f"filter task {self.name!r}: {self.scorer} is corpus-relative "
                    "(trained on the batch corpus) — incremental scoring would "
                    "be batch-dependent; use mode: full, a row-local scorer, or "
                    "surprisal with reference_table + max_avg_nll (frozen LM)"
                )
        self.text_column = c.get("text_column", "text")
        self.with_score = bool(c.get("with_score", False))
        self.min_score = c.get("min_score")
        self.languages = list(c.get("languages", []))
        self.min_tokens = c.get("min_tokens")
        self.max_tokens = c.get("max_tokens")
        if self.scorer == "quality" and self.min_score is None:
            raise ValueError(f"filter task {self.name!r}: quality needs min_score")
        if self.scorer == "langid" and not self.languages:
            raise ValueError(f"filter task {self.name!r}: langid needs languages")
        if self.scorer == "length" and self.min_tokens is None and self.max_tokens is None:
            raise ValueError(
                f"filter task {self.name!r}: length needs min_tokens and/or max_tokens"
            )
        # entropy: character-Shannon floor in nats (row-local, so
        # mode: incremental is sound); stored as integer 1e-8 units
        min_ent = c.get("min_entropy")
        if self.scorer == "entropy" and min_ent is None:
            raise ValueError(
                f"filter task {self.name!r}: entropy needs min_entropy (nats)"
            )
        self.min_entropy_e8 = (
            None if min_ent is None else int(round(float(min_ent) * 100000000))
        )
        self.max_repetition_ratio = c.get("max_repetition_ratio")
        self.max_immediate_repeats = c.get("max_immediate_repeats")
        # MassiveText n-gram coverage gates (integer ppm; published
        # thresholds are 200000/180000/160000/150000) — per-doc
        # signals from q_repetition_top_ngram's shared frame builder
        self.ngram_ppm_bounds = {
            k: int(c[k])
            for k in ("max_top2_ppm", "max_top3_ppm", "max_top4_ppm", "max_dup5_ppm")
            if c.get(k) is not None
        }
        # MassiveText duplicate-line gates (Rae et al. 2021 App. A1.1;
        # published bounds: 300000/200000 ppm) — row-local over
        # newline-split pages (q_repetition_dup_lines)
        self.dup_line_bounds = {
            k: int(c[k])
            for k in ("max_dup_line_ppm", "max_dup_char_ppm")
            if c.get(k) is not None
        }
        if (
            self.scorer == "repetition"
            and self.max_repetition_ratio is None
            and self.max_immediate_repeats is None
            and not self.ngram_ppm_bounds
            and not self.dup_line_bounds
        ):
            raise ValueError(
                f"filter task {self.name!r}: repetition needs "
                "max_repetition_ratio, max_immediate_repeats, and/or a "
                "coverage bound (max_top{2,3,4}_ppm / max_dup5_ppm / "
                "max_dup_line_ppm / max_dup_char_ppm)"
            )
        # gopher: published Gopher rule bounds (Rae et al. 2021 App. A)
        # as integers/permille so the gate stays boundary-free; override
        # any subset per-corpus.
        self.gopher_bounds = {
            "min_words": int(c.get("min_words", 50)),
            "max_words": int(c.get("max_words", 100_000)),
            "min_mean_word_len": int(c.get("min_mean_word_len", 3)),
            "max_mean_word_len": int(c.get("max_mean_word_len", 10)),
            "max_symbol_permille": int(c.get("max_symbol_permille", 100)),
            "min_alpha_permille": int(c.get("min_alpha_permille", 800)),
            "min_stop_words": int(c.get("min_stop_words", 2)),
        }
        # c4: the published C4 cleaning heuristics (Raffel et al. 2020
        # §2.2) over newline-split pages — line retention rewrites the
        # text in place (c4_rewrite), page rules drop the row.  All
        # integer/string tests, row-local, incremental-safe.
        self.min_sentences = int(c.get("min_sentences", 3))
        self.min_words_per_line = int(c.get("min_words_per_line", 5))
        self.c4_rewrite = bool(c.get("c4_rewrite", True))
        # pii: drop documents with more than max_pii matches, or keep
        # every row and redact the matches in place
        self.max_pii = int(c.get("max_pii", 0))
        self.pii_action = c.get("pii_action", "drop")
        self.pii_types = tuple(c.get("pii_types", ("email", "phone")))
        bad_types = set(self.pii_types) - {"email", "phone", "card"}
        if self.scorer == "pii" and (bad_types or not self.pii_types):
            raise ValueError(
                f"filter task {self.name!r}: pii_types must be a non-empty "
                f"subset of email|phone|card (got {sorted(bad_types)})"
            )
        if self.scorer == "pii" and self.pii_action not in ("drop", "redact"):
            raise ValueError(
                f"filter task {self.name!r}: pii_action must be drop|redact"
            )
        self.id_column = c.get("id_column", "doc_id")
        self.max_avg_nll = c.get("max_avg_nll")
        self.keep_fraction = c.get("keep_fraction")
        # surprisal options: lm_order 1 (unigram, default) or 2 (Stupid
        # Backoff bigram — q_text_bigram_surprisal's LM); an optional
        # reference_table trains the LM on a trusted corpus instead of
        # the scored one (the CCNet production shape; implicit DAG
        # edge like dsir's target_table).
        self.lm_order = int(c.get("lm_order", 1))
        self.reference_table = c.get("reference_table")
        if self.scorer == "surprisal":
            if self.lm_order not in (1, 2):
                raise ValueError(
                    f"filter task {self.name!r}: lm_order must be 1 or 2"
                )
            if self.max_avg_nll is None and self.keep_fraction is None:
                raise ValueError(
                    f"filter task {self.name!r}: surprisal needs "
                    "max_avg_nll and/or keep_fraction"
                )
            if self.keep_fraction is not None and not (
                0.0 < float(self.keep_fraction) <= 1.0
            ):
                raise ValueError(
                    f"filter task {self.name!r}: keep_fraction must be in (0, 1]"
                )
        elif self.reference_table or "lm_order" in c:
            raise ValueError(
                f"filter task {self.name!r}: lm_order/reference_table apply "
                "to scorer: surprisal only"
            )
        # dsir: importance resampling against a trusted target corpus
        # (q_dsir_selection's arithmetic).  target_table holds target-
        # domain text; keep the highest-weight keep_fraction and/or
        # rows with w_micro8 >= min_weight_micro8.
        self.target_table = c.get("target_table")
        self.min_weight_micro8 = c.get("min_weight_micro8")
        if self.scorer == "dsir":
            if not self.target_table:
                raise ValueError(
                    f"filter task {self.name!r}: dsir needs target_table"
                )
            if self.keep_fraction is None and self.min_weight_micro8 is None:
                raise ValueError(
                    f"filter task {self.name!r}: dsir needs keep_fraction "
                    "and/or min_weight_micro8"
                )
            if self.keep_fraction is not None and not (
                0.0 < float(self.keep_fraction) <= 1.0
            ):
                raise ValueError(
                    f"filter task {self.name!r}: keep_fraction must be in (0, 1]"
                )
        # boundaries: exact (default) keeps the lowest-surprisal share
        # via a global integer rank cut — deterministic, but the
        # row_number window is single-partition, so it is the per-dump
        # calibration path.  approx swaps the rank cut for a
        # percentile_approx threshold (one map-side-combinable scalar
        # aggregate, no global sort) — the 100 TB path the perplexity
        # family documents; share accuracy is bounded by
        # approx_accuracy (default 10000 -> max rank error 1/10000).
        self.boundaries = c.get("boundaries", "exact")
        if self.boundaries not in ("exact", "approx"):
            raise ValueError(
                f"filter task {self.name!r}: boundaries must be exact|approx"
            )
        self.approx_accuracy = int(c.get("approx_accuracy", 10000))
        if self.boundaries == "approx" and (
            self.scorer not in ("surprisal", "dsir") or self.keep_fraction is None
        ):
            raise ValueError(
                f"filter task {self.name!r}: boundaries: approx applies to "
                "scorer: surprisal|dsir with keep_fraction"
            )
        # the dsir target and surprisal reference corpora are DAG
        # sources too (implicit edges, like decontaminate's eval_table)
        if self.scorer == "dsir":
            self.declare_table("target_table", "target_value")
        if self.scorer == "surprisal" and self.reference_table:
            self.declare_table("reference_table", "reference_value")
        self.status = TaskStatus.READY

    def run(self) -> None:
        from sayn_spark.functions.text import (
            langid_columns,
            n_tokens_col,
            predicted_lang_col,
            quality_score_col,
        )

        spark = self.context.spark
        df = spark.table(self.src_value)
        self.require_columns(df, [self.text_column])
        src_cols = df.columns
        # the shared column builders read a column literally named
        # `text`; alias once, restore after.  If the source ALSO has an
        # unrelated `text` column, stash it first so its data survives.
        clash = self.text_column != "text" and "text" in src_cols
        work = df
        if clash:
            work = work.withColumnRenamed("text", "__sayn_orig_text__")
        work = work.withColumn("text", F.col(self.text_column)).where(
            F.col("text").isNotNull()
        )
        if self.incremental and self.id_column not in src_cols:
            raise ValueError(
                f"filter task {self.name!r}: incremental needs id column "
                f"{self.id_column!r} in {self.src_value}"
            )
        work = self.new_rows(work, self.id_column)
        if self.scorer == "quality":
            scored = work.withColumn("_score", quality_score_col())
            kept = scored.where(F.col("_score") >= float(self.min_score))
            out = kept if self.with_score else kept.drop("_score")
            if self.with_score:
                out = out.withColumnRenamed("_score", "quality_score")
        elif self.scorer == "langid":
            # reserved-prefix staging: a source column named c_en or
            # has_cjk must neither become ambiguous nor get dropped by
            # the cleanup below
            scored = work.select("*", *langid_columns("__sayn_")).withColumn(
                "_lang", predicted_lang_col("__sayn_")
            )
            kept = scored.where(F.col("_lang").isin(self.languages))
            out = kept.drop(
                "__sayn_has_cjk", "__sayn_c_en", "__sayn_c_es",
                "__sayn_c_fr", "__sayn_c_de",
            )
            if self.with_score:
                out = out.withColumnRenamed("_lang", "predicted_lang")
            else:
                out = out.drop("_lang")
        elif self.scorer == "surprisal" and self.lm_order == 2:
            from pyspark.sql.window import Window

            from sayn_spark.functions.text import (
                bigram_lm_frames,
                score_against_bigram_lm,
            )

            if self.id_column not in work.columns:
                raise ValueError(
                    f"filter task {self.name!r}: surprisal needs id column "
                    f"{self.id_column!r} in {self.src_value}"
                )
            if self.reference_table:
                ref = spark.table(self.reference_value)
                if "text" not in ref.columns:
                    raise ValueError(
                        f"filter task {self.name!r}: reference_table "
                        f"{self.reference_table!r} needs a text column"
                    )
                train = ref.select("text")
            else:
                train = work.select("text")
            nll_bi, nll_uni = bigram_lm_frames(train)
            sc = score_against_bigram_lm(
                work.select(F.col(self.id_column).alias("doc_id"), "text"),
                nll_bi,
                nll_uni,
            ).select(F.col("doc_id").alias(self.id_column), "avg_nll_i8")
            # docs with < 2 tokens have no scoreable position and drop
            # here (no LM evidence) — the unigram path drops 0-token
            # docs the same way
            scored = work.join(sc, self.id_column)
            cond = F.lit(True)
            if self.max_avg_nll is not None:
                cond = cond & (
                    F.col("avg_nll_i8")
                    <= int(round(float(self.max_avg_nll) * 100000000))
                )
            if self.keep_fraction is not None and self.boundaries == "approx":
                thr = scored.agg(
                    F.percentile_approx(
                        F.col("avg_nll_i8"),
                        float(self.keep_fraction),
                        self.approx_accuracy,
                    ).alias("_thr")
                )
                scored = scored.crossJoin(F.broadcast(thr))
                cond = cond & (F.col("avg_nll_i8") <= F.col("_thr"))
            elif self.keep_fraction is not None:
                # exact permille rank cut — single-partition global
                # window, fine for per-dump calibration corpora; at
                # 100 TB use boundaries: approx above (same note as the
                # surprisal scorer's cut)
                permille = int(round(float(self.keep_fraction) * 1000))
                w = Window.orderBy(F.col("avg_nll_i8"), F.col(self.id_column))
                scored = scored.withColumn("_rn", F.row_number().over(w)).withColumn(
                    "_n", F.count(F.lit(1)).over(Window.partitionBy())
                )
                cond = cond & (
                    F.lit(1000) * F.col("_rn") <= F.lit(permille) * F.col("_n")
                )
            kept = scored.where(cond).drop("_rn", "_n", "_thr")
            out = kept if self.with_score else kept.drop("avg_nll_i8")
        elif self.scorer == "surprisal":
            from pyspark.sql.window import Window

            from sayn_spark.functions.text import (
                doc_avg_nll_frame,
                nll_vocab_frame,
                score_against_vocab,
            )

            if self.id_column not in work.columns:
                raise ValueError(
                    f"filter task {self.name!r}: surprisal needs id column "
                    f"{self.id_column!r} in {self.src_value}"
                )
            if self.reference_table:
                # frozen unigram LM trained on the reference corpus
                # (the streaming twin's nll_vocab_frame, batch-side)
                ref = spark.table(self.reference_value)
                if "text" not in ref.columns:
                    raise ValueError(
                        f"filter task {self.name!r}: reference_table "
                        f"{self.reference_table!r} needs a text column"
                    )
                vocab = nll_vocab_frame(
                    ref.select(F.lit(0).alias("doc_id"), "text")
                )
                nll = score_against_vocab(
                    work.select(F.col(self.id_column).alias("doc_id"), "text"),
                    vocab,
                ).select(F.col("doc_id").alias(self.id_column), "avg_nll")
            else:
                nll = doc_avg_nll_frame(
                    work.select(F.col(self.id_column).alias("doc_id"), "text")
                ).select(F.col("doc_id").alias(self.id_column), "avg_nll")
            scored = work.join(nll, self.id_column)
            cond = F.lit(True)
            if self.max_avg_nll is not None:
                cond = cond & (F.col("avg_nll") <= float(self.max_avg_nll))
            if self.keep_fraction is not None and self.boundaries == "approx":
                # 100 TB path: one percentile_approx scalar aggregate
                # (map-side-combinable GK sketch, no global sort or
                # single-partition window) yields the surprisal
                # threshold; the keep is then a map-side comparison.
                # Rank error is bounded by 1/approx_accuracy; ties at
                # the threshold are all kept (share can exceed
                # keep_fraction by the tie mass + sketch error).
                micro = F.expr("cast(round(avg_nll * 1000000) as bigint)")
                thr = scored.agg(
                    F.percentile_approx(
                        micro, float(self.keep_fraction), self.approx_accuracy
                    ).alias("_thr")
                )
                scored = scored.crossJoin(F.broadcast(thr))
                cond = cond & (micro <= F.col("_thr"))
            elif self.keep_fraction is not None:
                # boundary-free rank cut in integer micro-units (the
                # q_perplexity_buckets arithmetic): keep the lowest-
                # surprisal permille share.  The global row_number is a
                # single-partition window — fine for per-dump
                # calibration corpora; at 100 TB use boundaries: approx
                # above (or derive an absolute max_avg_nll from
                # q_perplexity_buckets).
                permille = int(round(float(self.keep_fraction) * 1000))
                w = Window.orderBy(
                    F.expr("cast(round(avg_nll * 1000000) as bigint)"),
                    F.col(self.id_column),
                )
                scored = scored.withColumn("_rn", F.row_number().over(w)).withColumn(
                    "_n", F.count(F.lit(1)).over(Window.partitionBy())
                )
                cond = cond & (
                    F.lit(1000) * F.col("_rn") <= F.lit(permille) * F.col("_n")
                )
            kept = scored.where(cond).drop("_rn", "_n", "_thr")
            out = kept if self.with_score else kept.drop("avg_nll")
        elif self.scorer == "dsir":
            from pyspark.sql.window import Window

            from sayn_spark.functions.content_filter import (
                dsir_feature_frame,
                dsir_lnr_frame,
                dsir_weight_frame,
            )

            if self.id_column not in work.columns:
                raise ValueError(
                    f"filter task {self.name!r}: dsir needs id column "
                    f"{self.id_column!r} in {self.src_value}"
                )
            target = spark.table(self.target_value)
            if "text" not in target.columns:
                raise ValueError(
                    f"filter task {self.name!r}: target_table "
                    f"{self.target_value!r} needs a text column"
                )
            # both n-gram models are {B}-row aggregates; weights are a
            # broadcast join + combinable sum (q_dsir_selection's plan)
            docb = dsir_feature_frame(
                work.select(F.col(self.id_column).alias("doc_id"), "text")
            )
            tgt = dsir_feature_frame(
                target.select(F.lit(0).alias("doc_id"), "text")
            )
            tb = tgt.groupBy("b").agg(F.sum("c").alias("ct"))
            rb = docb.groupBy("b").agg(F.sum("c").alias("cr"))
            wts = dsir_weight_frame(docb, dsir_lnr_frame(spark, tb, rb)).select(
                F.col("doc_id").alias(self.id_column), "w_micro8"
            )
            # wts is one row per scored doc — data-sized at scale but
            # underestimated below the aggregate: force the shuffle
            scored = work.join(wts.hint("shuffle_hash"), self.id_column)
            cond = F.lit(True)
            if self.min_weight_micro8 is not None:
                cond = cond & (F.col("w_micro8") >= int(self.min_weight_micro8))
            if self.keep_fraction is not None and self.boundaries == "approx":
                # keep the TOP share: threshold at the (1-f) quantile
                thr = scored.agg(
                    F.percentile_approx(
                        "w_micro8",
                        1.0 - float(self.keep_fraction),
                        self.approx_accuracy,
                    ).alias("_thr")
                )
                scored = scored.crossJoin(F.broadcast(thr))
                cond = cond & (F.col("w_micro8") >= F.col("_thr"))
            elif self.keep_fraction is not None:
                permille = int(round(float(self.keep_fraction) * 1000))
                w = Window.orderBy(
                    F.desc("w_micro8"), F.col(self.id_column)
                )
                scored = scored.withColumn("_rn", F.row_number().over(w)).withColumn(
                    "_n", F.count(F.lit(1)).over(Window.partitionBy())
                )
                cond = cond & (
                    F.lit(1000) * F.col("_rn") <= F.lit(permille) * F.col("_n")
                )
            kept = scored.where(cond).drop("_rn", "_n", "_thr")
            out = kept if self.with_score else kept.drop("w_micro8")
        elif self.scorer == "repetition":
            from sayn_spark.functions.content_filter import (
                immediate_repeats_col,
                repetition_ratio_col,
                repetition_tokens_col,
            )

            # <2 tokens means nothing can repeat: coalesce the NULL
            # signals to zero so short docs pass (only NULL text drops)
            scored = (
                work.withColumn("_t", repetition_tokens_col())
                .withColumn(
                    "_ratio", F.coalesce(repetition_ratio_col("_t"), F.lit(0.0))
                )
                .withColumn(
                    "_reps", F.coalesce(immediate_repeats_col("_t"), F.lit(0))
                )
                .drop("_t")
            )
            cond = F.lit(True)
            if self.max_repetition_ratio is not None:
                cond = cond & (F.col("_ratio") <= float(self.max_repetition_ratio))
            if self.max_immediate_repeats is not None:
                cond = cond & (F.col("_reps") <= int(self.max_immediate_repeats))
            ngram_cols = ()
            if self.ngram_ppm_bounds:
                # per-doc n-gram coverage signals (still row-local
                # semantically — each doc scores against its own text —
                # so incremental mode stays valid); unshingleable docs
                # (<2 tokens) have no signal row and their ppm
                # coalesces to 0, i.e. they pass the coverage gates
                from sayn_spark.functions.content_filter import (
                    top_ngram_signal_frame,
                )

                if self.id_column not in work.columns:
                    raise ValueError(
                        f"filter task {self.name!r}: n-gram coverage bounds "
                        f"need id column {self.id_column!r} in {self.src_value}"
                    )
                sig = top_ngram_signal_frame(
                    work.select(F.col(self.id_column).alias("doc_id"), "text")
                ).select(
                    F.col("doc_id").alias(self.id_column),
                    "top2_ppm",
                    "top3_ppm",
                    "top4_ppm",
                    "dup5_ppm",
                )
                scored = scored.join(sig, self.id_column, "left")
                for col, bound in self.ngram_ppm_bounds.items():
                    signal = col[len("max_"):]
                    cond = cond & (
                        F.coalesce(F.col(signal), F.lit(0)) <= F.lit(bound)
                    )
                ngram_cols = ("top2_ppm", "top3_ppm", "top4_ppm", "dup5_ppm")
            line_cols = ()
            if self.dup_line_bounds:
                # MassiveText duplicate-line signals over newline-split
                # pages (q_repetition_dup_lines' row-local folds);
                # single-line or empty docs have zero duplicates and
                # pass — only genuinely repeated lines trip the gate
                from sayn_spark.functions.content_filter import (
                    dup_line_signal_cols,
                )

                scored = scored.withColumn("_lines", F.split(F.col("text"), "\n"))
                for k, col in dup_line_signal_cols("_lines").items():
                    scored = scored.withColumn(f"_dl_{k}", col)
                scored = (
                    scored.withColumn(
                        "dup_line_ppm",
                        F.coalesce(
                            F.expr("(_dl_n_dup_lines * 1000000) div _dl_n_lines"),
                            F.lit(0),
                        ),
                    )
                    .withColumn(
                        "dup_char_ppm",
                        F.coalesce(
                            F.expr("(_dl_n_dup_chars * 1000000) div _dl_sum_chars"),
                            F.lit(0),
                        ),
                    )
                    .drop("_lines", *(f"_dl_{k}" for k in
                                      ("n_lines", "n_dup_lines",
                                       "sum_chars", "n_dup_chars")))
                )
                for col, bound in self.dup_line_bounds.items():
                    cond = cond & (F.col(col[len("max_"):]) <= F.lit(bound))
                line_cols = ("dup_line_ppm", "dup_char_ppm")
            kept = scored.where(cond)
            if self.with_score:
                out = kept.withColumnRenamed(
                    "_ratio", "repetition_ratio"
                ).withColumnRenamed("_reps", "n_immediate_repeats")
            else:
                out = kept.drop("_ratio", "_reps", *ngram_cols, *line_cols)
        elif self.scorer == "pii":
            from sayn_spark.functions.content_filter import (
                _CARD_RE,
                _EMAIL_RE,
                _PHONE_RE,
                _SPARK_LUHN_OK,
            )

            n_pii = F.lit(0)
            if "email" in self.pii_types:
                n_pii = n_pii + F.size(
                    F.regexp_extract_all(F.col("text"), F.lit(_EMAIL_RE), 0)
                )
            if "phone" in self.pii_types:
                n_pii = n_pii + F.size(
                    F.regexp_extract_all(F.col("text"), F.lit(_PHONE_RE), 0)
                )
            if "card" in self.pii_types:
                # Luhn-VALIDATED candidates only (q_pii_luhn's checksum)
                # — regex-only card counting is mostly false positives
                n_pii = n_pii + F.size(
                    F.expr(
                        f"filter(transform(regexp_extract_all(text, '{_CARD_RE}', 0), "
                        f"c -> {_SPARK_LUHN_OK}), ok -> ok)"
                    )
                )
            scored = work.withColumn("_n_pii", n_pii)
            if self.pii_action == "drop":
                kept = scored.where(F.col("_n_pii") <= self.max_pii)
            else:
                # redact in place (q_pii_scan's replacement), keep
                # every row; the original text column gets the
                # redacted value.  Cards redact via a row-local fold
                # so only checksum-VALID candidates are replaced.
                redacted = F.col("text")
                if "email" in self.pii_types:
                    redacted = F.regexp_replace(redacted, _EMAIL_RE, "[EMAIL]")
                if "phone" in self.pii_types:
                    redacted = F.regexp_replace(redacted, _PHONE_RE, "[PHONE]")
                kept = scored.withColumn(self.text_column, redacted)
                if "card" in self.pii_types:
                    kept = kept.withColumn(
                        self.text_column,
                        F.expr(
                            f"aggregate(regexp_extract_all({self.text_column}, "
                            f"'{_CARD_RE}', 0), {self.text_column}, "
                            f"(acc, c) -> case when {_SPARK_LUHN_OK} "
                            f"then replace(acc, c, '[CARD]') else acc end)"
                        ),
                    )
            out = kept if self.with_score else kept.drop("_n_pii")
            if self.with_score:
                out = out.withColumnRenamed("_n_pii", "n_pii")
        elif self.scorer == "gopher":
            from sayn_spark.functions.content_filter import (
                gopher_pass_col,
                gopher_signal_cols,
                repetition_tokens_col,
            )

            sig = gopher_signal_cols("_t")
            scored = work.withColumn("_t", repetition_tokens_col())
            for k, col in sig.items():
                scored = scored.withColumn(k, col)
            # empty token arrays fail the word-count floor by
            # construction (n_words = 0 < min_words)
            kept = scored.where(gopher_pass_col(**self.gopher_bounds)).drop("_t")
            out = kept if self.with_score else kept.drop(*sig)
        elif self.scorer == "entropy":
            from sayn_spark.functions.text import char_entropy_col

            scored = work.withColumn("_ent", char_entropy_col())
            kept = scored.where(F.col("_ent") >= self.min_entropy_e8)
            out = kept if self.with_score else kept.drop("_ent")
            if self.with_score:
                out = out.withColumnRenamed("_ent", "entropy_e8")
        elif self.scorer == "c4":
            from sayn_spark.functions.content_filter import (
                c4_clean_text_col,
                c4_keep_col,
                c4_signal_cols,
            )

            sig = c4_signal_cols("_lines", self.min_words_per_line)
            scored = work.withColumn("_lines", F.split(F.col("text"), "\n"))
            for k, col in sig.items():
                scored = scored.withColumn(k, col)
            kept = scored.where(c4_keep_col(self.min_sentences))
            if self.c4_rewrite:
                # C4 removes offending lines rather than dropping the
                # page; page drops are the where() above
                kept = kept.withColumn(
                    self.text_column,
                    c4_clean_text_col("_lines", self.min_words_per_line),
                )
            kept = kept.drop("_lines")
            out = kept if self.with_score else kept.drop(*sig)
        else:
            scored = work.withColumn("_n", n_tokens_col())
            cond = F.lit(True)
            if self.min_tokens is not None:
                cond = cond & (F.col("_n") >= int(self.min_tokens))
            if self.max_tokens is not None:
                cond = cond & (F.col("_n") <= int(self.max_tokens))
            kept = scored.where(cond)
            out = kept if self.with_score else kept.drop("_n")
            if self.with_score:
                out = out.withColumnRenamed("_n", "n_tokens")
        if self.text_column != "text":
            out = out.drop("text")
            if clash:
                out = out.withColumnRenamed("__sayn_orig_text__", "text")
        self.write_destination(out)
        if self.scorer == "surprisal":
            # doc_avg_nll_frame persists the token stream for its two
            # aggregation branches; the write above consumed it
            # (top_ngram_signal_frame persists nothing — it is a pure
            # per-row fold)
            from sayn_spark.functions.registry import release_persisted

            release_persisted()
