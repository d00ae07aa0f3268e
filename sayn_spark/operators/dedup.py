"""Dedup task: the blessed dedup shapes as a YAML-native task type —
the way autosql wraps a SELECT (ref: tasks/autosql.py:43-69
config-validation pattern), this wraps the functions/dedup.py
operators so a pipeline declares deduplication instead of hand-writing
a python task:

    tasks:
      dedup_corpus:
        type: dedup
        source: documents
        destination: corpus_deduped
        method: minhash          # exact | minhash | jaccard
        threshold: 0.8
        keep: best               # min | best | soft
        score_column: quality

    tasks:
      ingest_dedup:
        type: dedup
        mode: incremental        # maintain a signature index across runs
        source: documents
        index_table: corpus_sig_index
        matches_table: corpus_dup_matches
        destination: corpus_clean   # optional: kept docs append here

Full mode: duplicate pairs by the chosen method -> connected
components (auto-selecting label-prop/star-contraction) -> one
canonical doc per cluster -> destination = source minus the dropped
docs (full rebuild via replace_table, like autosql ``table``).

Incremental mode (methods minhash / simhash / editdistance / phash /
passages): the recurring-crawl shape.  The CURRENT source rows not yet
in the state index form the batch; they are probed against the stored
index (per-document state only — 16 minhash ints, n_bands simhash
ints, 4 dHash band ints, or the text for editdistance), matches land
in ``matches_table`` stamped with a monotonically increasing ingest
id, novel state appends to ``index_table``, and for minhash the band
keys append to a band_sig-BUCKETED ``{index_table}_bands`` catalog
table so the corpus side of every future probe is pre-bucketed and
never recomputed.  Re-running with an unchanged source is a no-op
(batch empties), which makes scheduled reruns safe.  The per-batch
engine is shared with the streaming ingest
(streaming/materialise.py:dedup_ingest_batch) — one code path for both
arrival modes.

Methods:
- exact:   md5(text) hash groups — one shuffle of 16-byte keys.
- minhash: MinHash-LSH candidates, signature-estimated Jaccard >=
           threshold (the q_dedup_minhash_lsh family).
- jaccard: exact word-3-gram Jaccard >= threshold over the inverted
           index (the q_dedup_ngram_jaccard shape; use minhash at
           scale).
- simhash: 64-bit SimHash within Hamming ``max_hamming`` (default 6),
           Manku/Charikar band-combo probing with EXACT recall by
           pigeonhole (q_dedup_simhash's engine); ``n_bands`` (default
           8, must divide 64) is the bucket-selectivity knob.
- containment: overlap coefficient >= threshold (default 0.9) via the
           LSH-Ensemble size-partitioned gate
           (q_dedup_containment_gated's engine) — the quoted-excerpt /
           doc-inside-doc detector Jaccard methods miss.  ``max_ratio``
           (default ``auto``) is the size-ratio recall contract: auto
           measures the corpus' partition spread and picks the
           narrowest covering gate; ``spread_check`` (default
           ``measure``) counts any qualifying pairs beyond the probe
           reach and warns with the number (``strict`` raises,
           ``skip`` trusts the caller).
- editdistance: dual-key-blocked bounded Levenshtein <= ``max_edit``
           (default 8) on candidates sharing their first OR last
           ``block_chars`` characters (q_dedup_editdistance's engine)
           — character-level near-dup that survives whitespace /
           token-boundary changes Jaccard cannot.  ``block_keys``
           (default ``[prefix, suffix]``) selects the key set:
           ``[prefix]`` halves candidate cost but structurally misses
           pairs whose edit falls inside the first ``block_chars``
           characters (q_dedup_editdistance_recall measures the miss
           count of each key set).
- semantic: SemDeDup (Abbas et al., 2023) over an EMBEDDING column —
           coarse-quantize on deterministic ``label_column`` centroids
           (swap trained k-means in production), in-cell BLAS cosine,
           drop at cos >= ``min_cosine`` (default 0.99,
           q_dedup_semantic's engine).  keep=min applies the published
           per-pair rule (drop every vector with a qualifying
           smaller-id neighbor); keep=best/soft treat qualifying pairs
           as edges and go through connected components like the text
           methods.  ``cell_cap`` guards the per-cell executor memory
           bound.
- phash:   image near-dedup (q_multimodal_phash_dedup's engine): the
           BINARY ``payload_column`` is decoded (PNG, BMP, GIF, JPEG —
           baseline SOF0 and progressive SOF2 — via the in-module
           codecs), dHashed to 64 bits, banded for LSH candidates
           (``n_bands``, default 4x16-bit), and verified at Hamming <=
           ``max_hamming`` (default 12); keep min|best|soft apply
           unchanged.  ``recall: measured`` (default) accepts the LSH
           trade (candidate recall is pigeonhole-exact only to
           n_bands - 1; q_multimodal_phash_recall publishes the
           measured number beyond — 0.987 at radius 12 with 4 bands);
           ``recall: guaranteed`` enforces max_hamming <= n_bands - 1
           at config time, so e.g. n_bands=8 makes radius-7 dedup
           exact (q_multimodal_phash_recall_8band is the instrument).
           Payloads past the codecs' documented scope (arithmetic
           coding, video) raise — or are conservatively KEPT under
           ``on_decode_error: skip``.

The per-method options above, their defaults, the generic options
each method rejects and which methods have ``mode: incremental`` are
one table, functions/dedup.py:DEDUP_METHODS (and ``_OPTIONS``), checked
by check_dedup_options — the same check dedup_ingest_batch and its
stream twin run.  A new method or option is a row there.

keep: ``min`` keeps the lowest id per cluster; ``best`` keeps the
highest ``score_column`` (ties -> lowest id) — the keep-best canonical
selection from functions/components.py.  ``soft`` keeps EVERY row and
adds ``weight_ppm`` = 1e6/cluster_size instead (q_dedup_soft_weights'
SoftDeDup rule) — downweight duplicates rather than delete them.
Exception: for ``method: semantic`` ``keep: min`` is PER-PAIR, not
per-cluster — it applies the published SemDeDup rule (drop every
vector with a qualifying smaller-id neighbor; no connected-components
stage), so it keeps strictly more rows than cluster-min would whenever
qualifying pairs chain; semantic keep=best/soft are cluster-relative
like every other method.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sayn_spark.operators.base import Task, TaskStatus


class DedupTask(Task):
    kind = "dedup"

    def config(self) -> None:
        from sayn_spark.functions.dedup import DEDUP_METHODS, check_dedup_options

        c = self.config_dict
        self.declare_table("source", "src_value")
        self.read_load_mode()
        self.method = c.get("method", "minhash")
        if self.method not in DEDUP_METHODS:
            raise ValueError(
                f"dedup task {self.name!r}: method must be one of "
                f"{tuple(DEDUP_METHODS)}"
            )
        self.id_column = c.get("id_column", "doc_id")
        self.text_column = c.get("text_column", "text")
        # containment's band geometry is derived for overlap >= 0.9, so
        # its default is 0.9 (the engine rejects lower); the Jaccard
        # methods default to the classic 0.8
        self.threshold = float(
            c.get("threshold", 0.9 if self.method == "containment" else 0.8)
        )
        if not (0.0 < self.threshold <= 1.0):
            raise ValueError(f"dedup task {self.name!r}: threshold must be in (0, 1]")
        self.keep = c.get("keep", "min")
        if self.keep not in ("min", "best", "soft"):
            raise ValueError(f"dedup task {self.name!r}: keep must be min|best|soft")
        if self.keep == "soft" and self.incremental:
            raise ValueError(
                f"dedup task {self.name!r}: keep=soft is corpus-relative "
                "(cluster sizes) — full mode only"
            )
        if self.incremental:
            # incremental keeps FIRST-ARRIVAL docs (index order) and
            # gates matches by the method's own metric — an explicit
            # keep/score_column/verify would be silently ignored, so
            # reject at config time rather than let the user believe
            # (say) exact-Jaccard verification or keep-best ran
            for opt in ("keep", "score_column", "verify"):
                if c.get(opt) is not None:
                    raise ValueError(
                        f"dedup task {self.name!r}: {opt} applies to "
                        "mode: full only — incremental ingest keeps "
                        "first-arrival documents and its matches are "
                        "gated by the method's own metric "
                        "(threshold / max_hamming / max_edit)"
                    )
        # minhash full mode: what decides a duplicate pair — the
        # signature ESTIMATE (scale default: only signatures move) or
        # the EXACT shingle Jaccard on LSH candidates (shingle arrays
        # move for candidate pairs)
        self.verify = c.get("verify", "estimate")
        if self.verify not in ("estimate", "exact"):
            raise ValueError(f"dedup task {self.name!r}: verify must be estimate|exact")
        # passages: duplicate-SPAN removal (q_dedup_passage_rewrite's
        # engine) — rewrites text instead of dropping whole documents
        self.window_tokens = int(c.get("window_tokens", 10))
        if self.window_tokens < 2:
            raise ValueError(
                f"dedup task {self.name!r}: window_tokens must be >= 2"
            )
        self.min_kept_tokens = int(c.get("min_kept_tokens", 1))
        # lines: CCNet-style boilerplate removal
        # (q_dedup_boilerplate_lines' engine) — a line in >= min_line_docs
        # distinct docs is removed from every page
        self.min_line_docs = int(c.get("min_line_docs", 5))
        if self.min_line_docs < 2:
            raise ValueError(
                f"dedup task {self.name!r}: min_line_docs must be >= 2"
            )
        self.min_kept_lines = int(c.get("min_kept_lines", 1))
        # every method-specific option (n_bands, max_hamming, the
        # editdistance / containment / semantic / phash knobs) and which
        # generic options the method takes: one table, one check
        # (band_table is the ingest's argument: the task derives it)
        self.method_opts = check_dedup_options(
            self.method,
            {**c, "band_table": None},
            self.incremental,
            f"dedup task {self.name!r}: ",
        )
        for name, value in self.method_opts.items():
            setattr(self, name, value)
        self.score_column: Optional[str] = c.get("score_column")
        if self.keep == "best" and not self.score_column:
            raise ValueError(f"dedup task {self.name!r}: keep=best needs score_column")

        self.index_table = self.compile_property(c.get("index_table"))
        self.matches_table = self.compile_property(c.get("matches_table"))
        # incremental STATE tables go through the dev/prod stringify and
        # register as task outputs like any destination — raw names
        # would make dev and prod runs share one physical signature
        # index (a dev test run permanently suppressing prod doc_ids),
        # and a downstream task sourcing matches_table would get no DAG
        # edge (second-pass review r12).  The minhash band table derives
        # from the stringified index name, so it inherits the prefix.
        for attr in ("index_table", "matches_table"):
            raw = getattr(self, attr)
            if raw:
                setattr(self, attr, self.out(raw))
        # full mode requires the destination; incremental non-passages
        # runs may keep only the index and matches tables
        self.dst_value = None
        if not self.incremental or c.get("destination"):
            self.declare_table("destination", "dst_value", output=True)
        if not self.incremental:
            if self.index_table or self.matches_table:
                raise ValueError(
                    f"dedup task {self.name!r}: index/matches tables are "
                    "incremental-mode config"
                )
        else:
            if self.method == "passages":
                if not (self.index_table and self.dst_value):
                    raise ValueError(
                        f"dedup task {self.name!r}: incremental passages "
                        "needs index_table and destination"
                    )
                if self.matches_table:
                    raise ValueError(
                        f"dedup task {self.name!r}: matches_table does not "
                        "apply to method=passages (spans are removed, not "
                        "reported as doc pairs)"
                    )
            elif not (self.index_table and self.matches_table):
                raise ValueError(
                    f"dedup task {self.name!r}: incremental mode needs "
                    "index_table and matches_table"
                )
        self.status = TaskStatus.READY

    # -- helpers ---------------------------------------------------------

    def _docs(self) -> DataFrame:
        df = self.context.spark.table(self.src_value)
        if self.method == "phash":
            need = (self.id_column, self.payload_column)
        elif self.method == "semantic":
            need = (self.id_column, self.embedding_column, self.label_column)
        else:
            need = (self.id_column, self.text_column)
        self.require_columns(df, need)
        return df

    def _standard(self, df: DataFrame) -> DataFrame:
        """(doc_id, text) view of the source for the engine functions,
        width-guarded: a small catalog table scans into 1-2 partitions
        and would run the signature UDF nearly serial."""
        from sayn_spark.functions.dedup import fan_out_table

        out = df.select(
            F.col(self.id_column).alias("doc_id"),
            F.col(self.text_column).alias("text"),
        )
        return fan_out_table(out, self.context.spark, self.src_value)

    def _sf_dir(self) -> str:
        # fan-out sizing hint; absent parameter degrades to no repartition
        return str(self.context.parameters.get("sf_dir", ""))

    def _phash_frame(self, docs: DataFrame, drop_null_payloads: bool) -> DataFrame:
        """(doc_id, payload) fan-out frame for method=phash with the
        integer-id loud-fail BOTH modes need: the band frame casts ids
        to BIGINT, and a non-integral id column would cast to NULL row
        by row — silently dropping every pair (full mode's src<dst
        predicate) or emptying every probe (incremental).  Pre-hash
        string ids upstream.  Full mode drops NULL payloads (no pair
        can involve one); incremental KEEPS them so the ingest indexes
        them as trivially novel and reruns converge."""
        from sayn_spark.functions.dedup import fan_out_table

        id_type = dict(docs.dtypes)[self.id_column]
        if id_type not in ("tinyint", "smallint", "int", "bigint"):
            raise ValueError(
                f"dedup task {self.name!r}: method=phash needs an integer "
                f"id_column ({self.id_column!r} is {id_type}) — pre-hash "
                "string ids (e.g. xxhash64(id)) in an upstream task"
            )
        frame = docs.select(
            F.col(self.id_column).alias("doc_id"),
            F.col(self.payload_column).alias("payload"),
        )
        if drop_null_payloads:
            frame = frame.where(F.col("payload").isNotNull())
        return fan_out_table(frame, self.context.spark, self.src_value)

    def _duplicate_edges(self, docs: DataFrame) -> DataFrame:
        """(src, dst) verified duplicate pairs by the configured method."""
        spark = self.context.spark
        if self.method == "phash":
            from sayn_spark.functions.multimodal import (
                image_dhash_band_frame,
                phash_pairs,
            )
            from sayn_spark.functions.registry import persist_tracked

            imgs = self._phash_frame(docs, drop_null_payloads=True)
            # persist: phash_pairs self-joins this frame, and without a
            # persist each side re-runs the Python decode+dHash stage —
            # the dominant cost at crawl scale (same reason the minhash
            # path persists its signature frame)
            bands = persist_tracked(
                image_dhash_band_frame(
                    imgs, on_error=self.on_decode_error, n_bands=self.n_bands
                )
            )
            return phash_pairs(bands, max_hamming=self.max_hamming).select(
                "src", "dst"
            )
        if self.method == "editdistance":
            from sayn_spark.functions.dedup import editdistance_dup_pairs

            return editdistance_dup_pairs(
                self._standard(docs),
                max_edit=self.max_edit,
                block_chars=self.block_chars,
                block_keys=self.block_keys,
                max_compare_chars=self.max_compare_chars,
            ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        if self.method == "simhash":
            from sayn_spark.functions.dedup import simhash_dup_pairs

            return simhash_dup_pairs(
                self._standard(docs), n_bands=self.n_bands, radius=self.max_hamming
            ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        if self.method == "containment":
            from sayn_spark.functions.dedup import gated_containment_pairs

            return gated_containment_pairs(
                self._standard(docs),
                threshold=self.threshold,
                max_ratio=self.max_ratio,
                spread_check=self.spread_check,
            ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        if self.method == "semantic":
            from sayn_spark.functions.dedup import _semantic_pairs_fn

            return (
                self._semantic_sided(docs)
                .groupBy("cell")
                .applyInPandas(
                    _semantic_pairs_fn(self.min_cosine), schema="id_a long, id_b long"
                )
                .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
            )
        if self.method == "jaccard":
            from sayn_spark.functions.components import _jaccard_edges

            return _jaccard_edges(self._standard(docs), threshold=self.threshold)
        from sayn_spark.functions.dedup import (
            _mh_sig_frame,
            incremental_minhash_matches,
        )
        from sayn_spark.functions.registry import persist_tracked

        sigs = persist_tracked(
            _mh_sig_frame(self._standard(docs), spark, self._sf_dir())
        )
        if self.verify == "exact":
            # LSH candidates at a permissive estimate gate, then the
            # exact shingle-set Jaccard decides — q_dedup_minhash_lsh's
            # shape; the estimate stays the gate so recall costs are
            # still LSH-bounded, only the VERDICT moves to exact sets
            from sayn_spark.functions.dedup import _staged_shingles

            cand = (
                incremental_minhash_matches(sigs, sigs, threshold=0.0)
                .where(F.col("batch_id") > F.col("corpus_id"))
                .select(F.col("batch_id").alias("src"), F.col("corpus_id").alias("dst"))
            )
            sh = _staged_shingles(self._standard(docs), persist=True).where(
                F.size("sh") > 0
            )
            # exact verify on hashed shingle arrays (r14, the
            # _jaccard_edges collision class): longs intersect, ~4x
            # slimmer attach joins
            hashed = F.expr("transform(sh, x -> xxhash64(x))")
            sh_a = sh.select(
                F.col("doc_id").alias("src"), hashed.alias("sh_a"),
                F.size("sh").alias("na"),
            )
            sh_b = sh.select(
                F.col("doc_id").alias("dst"), hashed.alias("sh_b"),
                F.size("sh").alias("nb"),
            )
            common = F.size(F.array_intersect("sh_a", "sh_b"))
            jacc = common.cast("double") / (
                F.col("na") + F.col("nb") - common
            )
            return (
                cand.join(sh_a, "src")
                .join(sh_b, "dst")
                .where(jacc >= self.threshold)
                .select("src", "dst")
            )
        return (
            incremental_minhash_matches(sigs, sigs, self.threshold)
            .where(F.col("batch_id") > F.col("corpus_id"))
            .select(F.col("batch_id").alias("src"), F.col("corpus_id").alias("dst"))
        )

    def _semantic_sided(self, docs: DataFrame) -> DataFrame:
        """(vec_id, cell, e) SemDeDup input: embeddings cast to double,
        coarse-quantized on the deterministic label-centroid quantizer
        (q_dedup_semantic's — swap trained k-means in production
        without changing the plan); centroids broadcast, cell-cap
        guarded."""
        from sayn_spark.functions.dedup import semantic_cells
        from sayn_spark.functions.similarity import _centroid_arrays

        # same loud-failure rule as phash: the pair schema is LONG, so
        # a non-integral id would NULL-cast row by row and silently
        # produce an empty duplicate set
        id_type = dict(docs.dtypes)[self.id_column]
        if id_type not in ("tinyint", "smallint", "int", "bigint"):
            raise ValueError(
                f"dedup task {self.name!r}: method=semantic needs an integer "
                f"id_column ({self.id_column!r} is {id_type}) — pre-hash "
                "string ids (e.g. xxhash64(id)) in an upstream task"
            )
        vectors = docs.select(
            F.col(self.id_column).alias("vec_id"),
            F.col(self.label_column).alias("label"),
            F.expr(f"cast({self.embedding_column} as array<double>)").alias("e"),
        )
        cent = _centroid_arrays(vectors.select("label", "e"))
        cells = semantic_cells(
            vectors.select("vec_id", "e"), cent, cell_cap=self.cell_cap
        )
        return cells.join(vectors.select("vec_id", "e"), "vec_id")

    def _soft_weights(self, docs: DataFrame) -> DataFrame:
        """(id, weight_ppm): 1e6 / near-dup-cluster size — the
        q_dedup_soft_weights rule (SoftDeDup: keep everything, make
        each cluster contribute ~one document's worth)."""
        if self.method == "exact":
            groups = docs.where(F.col(self.text_column).isNotNull()).select(
                F.col(self.id_column).alias("node"),
                F.md5(F.col(self.text_column)).alias("component"),
            )
        else:
            from sayn_spark.functions.components import components

            groups = components(self._duplicate_edges(docs))
        csize = groups.groupBy("component").agg(F.count(F.lit(1)).alias("cs"))
        return groups.join(csize, "component").select(
            F.col("node").alias(self.id_column),
            F.expr("cast(1000000 div cs as bigint)").alias("weight_ppm"),
        )

    def _dropped(self, docs: DataFrame) -> DataFrame:
        """doc ids to drop: cluster members minus each cluster's keeper."""
        if self.method == "semantic" and self.keep == "min":
            # keep=min IS the published SemDeDup per-pair rule (drop
            # every vector with a qualifying smaller-id neighbor) —
            # exactly q_dedup_semantic's engine, no component stage, so
            # the in-cell verdicts never leave their cell.  keep=best/
            # soft are cluster-relative and take the generic edge ->
            # components path below.
            from sayn_spark.functions.dedup import _semantic_dropped_fn

            return (
                self._semantic_sided(docs)
                .groupBy("cell")
                .applyInPandas(
                    _semantic_dropped_fn(self.min_cosine), schema="vec_id long"
                )
                .select(F.col("vec_id").alias(self.id_column))
            )
        if self.method == "exact":
            # hash groups need no component stage: one shuffle, keep the
            # best/min per md5 group.  NULL texts are excluded: md5(NULL)
            # is NULL and would collapse every text-less doc into one
            # "duplicate" cluster — a doc with no content is not a copy
            # of another doc with no content
            groups = docs.where(F.col(self.text_column).isNotNull()).select(
                F.col(self.id_column).alias("node"),
                F.md5(F.col(self.text_column)).alias("component"),
                *(
                    [F.col(self.score_column).alias("score")]
                    if self.keep == "best"
                    else []
                ),
            )
        else:
            from sayn_spark.functions.components import components

            comp = components(self._duplicate_edges(docs))
            groups = comp
            if self.keep == "best":
                groups = comp.join(
                    docs.select(
                        F.col(self.id_column).alias("node"),
                        F.col(self.score_column).alias("score"),
                    ),
                    "node",
                )
        if self.keep == "best":
            rank = F.row_number().over(
                Window.partitionBy("component").orderBy(F.desc("score"), F.asc("node"))
            )
            return (
                groups.withColumn("rn", rank)
                .where(F.col("rn") > 1)
                .select(F.col("node").alias(self.id_column))
            )
        keepers = groups.groupBy("component").agg(F.min("node").alias("keep"))
        return (
            groups.join(keepers, "component")
            .where(F.col("node") != F.col("keep"))
            .select(F.col("node").alias(self.id_column))
        )

    # -- execution -------------------------------------------------------

    def run(self) -> None:
        if self.incremental:
            if self.method == "passages":
                self._run_incremental_passages()
            else:
                self._run_incremental()
            return
        docs = self._docs()
        if self.method == "lines":
            from sayn_spark.functions.content_filter import boilerplate_rewrite

            pages = self._standard(docs).withColumn(
                "lines", F.split(F.col("text"), "\n")
            )
            rewritten = boilerplate_rewrite(
                pages.select("doc_id", "lines"), min_docs=self.min_line_docs
            ).where(F.col("n_kept_lines") >= self.min_kept_lines)
            out = docs.drop(self.text_column).join(
                rewritten.select(
                    F.col("doc_id").alias(self.id_column),
                    F.col("cleaned_text").alias(self.text_column),
                ).hint("shuffle_hash"),
                self.id_column,
            )
            self.write_destination(out)
            return
        if self.method == "passages":
            from sayn_spark.functions.dedup import passage_rewrite

            rewritten = passage_rewrite(
                self._standard(docs), window=self.window_tokens
            ).where(F.col("n_kept_tokens") >= self.min_kept_tokens)
            # rewritten carries full text and is doc-sized — never let
            # the post-aggregate underestimate broadcast it
            out = docs.drop(self.text_column).join(
                rewritten.select(
                    F.col("doc_id").alias(self.id_column),
                    F.col("cleaned_text").alias(self.text_column),
                ).hint("shuffle_hash"),
                self.id_column,
            )
            self.write_destination(out)
            from sayn_spark.functions.registry import release_persisted

            release_persisted()
            return
        if self.keep == "soft":
            # downweight instead of drop: every source row survives
            # with a weight_ppm column (docs outside any cluster — and
            # NULL-text docs under method=exact — weigh 1000000)
            weights = self._soft_weights(docs)
            out = docs.join(weights, self.id_column, "left").withColumn(
                "weight_ppm",
                F.coalesce("weight_ppm", F.lit(1000000)).cast("bigint"),
            )
            self.write_destination(out)
            from sayn_spark.functions.registry import release_persisted

            release_persisted()
            return
        dropped = self._dropped(docs)
        kept = docs.join(dropped, self.id_column, "left_anti")
        self.write_destination(kept)
        from sayn_spark.functions.registry import release_persisted

        release_persisted()

    def _run_incremental(self) -> None:
        from sayn_spark.streaming.materialise import dedup_ingest_batch

        spark = self.context.spark
        db = self.context.db
        docs = self._docs()
        if self.method == "phash":
            # NULL payloads stay in the batch: the ingest indexes them
            # as trivially novel so they converge instead of
            # re-entering every run
            batch = self._phash_frame(docs, drop_null_payloads=False)
        else:
            batch = self._standard(docs)
        # processed = indexed (kept) UNION previously-matched (dropped):
        # both must leave the batch, or every rerun re-probes the
        # already-reported duplicates forever
        if db.table_exists(self.index_table):
            batch = batch.join(
                spark.table(self.index_table).select("doc_id"), "doc_id", "left_anti"
            )
        ingest_id = 0
        if db.table_exists(self.matches_table):
            prev_matches = spark.table(self.matches_table)
            batch = batch.join(
                prev_matches.select(F.col("batch_id").alias("doc_id")).distinct(),
                "doc_id",
                "left_anti",
            )
            prev = prev_matches.agg(F.max("ingest_id").alias("m")).collect()[0]["m"]
            ingest_id = int(prev) + 1 if prev is not None else 0
        batch = batch.localCheckpoint()  # several probe arms read it
        if not batch.isEmpty():
            # the task reads the payload column and checks recall itself
            opts = {
                k: v
                for k, v in self.method_opts.items()
                if k not in ("payload_column", "recall")
            }
            if self.method == "minhash":
                # the pre-bucketed band-key side table is a minhash-only
                # optimisation; simhash derives combo keys from its 8-int
                # signatures map-side, editdistance derives block keys
                # from the indexed text map-side, phash derives (band,
                # key) rows from its 4 stored band ints map-side
                opts["band_table"] = f"{self.index_table}_bands"
            dedup_ingest_batch(
                batch,
                ingest_id,
                self.index_table,
                self.matches_table,
                self._sf_dir(),
                threshold=self.threshold,
                method=self.method,
                **opts,
            )
        if self.dst_value is not None:
            # SELF-HEALING: the destination is defined as "source docs
            # whose signatures made the index" (the non-duplicates),
            # derived from index-minus-destination rather than from
            # this run's batch — a crash after the index append but
            # before this write would otherwise lose the batch's docs
            # forever (the rerun's batch is empty).
            kept_ids = spark.table(self.index_table).select(
                F.col("doc_id").alias(self.id_column)
            )
            novel = docs.join(kept_ids, self.id_column)
            self.write_destination(self.new_rows(novel, self.id_column))

    def _run_incremental_passages(self) -> None:
        """Recurring-crawl span dedup: the fingerprint index maps every
        seen window hash to its first-owner doc; each run rewrites ONLY
        new documents against history + each other and appends them to
        the destination (the processed marker — every batch doc lands,
        empty rewrites included, or reruns would reprocess forever).

        Crash discipline mirrors the minhash ingest: the index append
        is an idempotent anti-join (replay re-appends only missing
        hashes), it happens BEFORE the destination write, and ownership
        checks ignore index entries whose owner is in the CURRENT batch
        — exactly the rows a crashed previous attempt of this batch
        wrote — so a replay neither self-duplicates nor loses spans."""
        from sayn_spark.functions.dedup import (
            _TOKENS,
            passage_windows,
            rewrite_with_removed_starts,
        )
        from sayn_spark.functions.registry import persist_tracked, release_persisted

        spark = self.context.spark
        db = self.context.db
        docs = self._docs()
        batch = self._standard(docs)
        if db.table_exists(self.dst_value):
            batch = batch.join(
                spark.table(self.dst_value).select(
                    F.col(self.id_column).alias("doc_id")
                ),
                "doc_id",
                "left_anti",
            )
        toks = batch.select("doc_id", F.expr(_TOKENS).alias("toks"))
        wins = persist_tracked(passage_windows(toks, self.window_tokens))
        try:
            batch_ids = batch.select("doc_id")
            have_index = db.table_exists(self.index_table)
            owner_b = wins.groupBy("h").agg(F.min("doc_id").alias("bmin"))
            if have_index:
                idx = spark.table(self.index_table)
                idx_eff = idx.join(
                    batch_ids.select(F.col("doc_id").alias("fd")), "fd", "left_anti"
                )
                own = owner_b.join(
                    idx_eff.select("h").withColumn("in_idx", F.lit(1)), "h", "left"
                )
            else:
                own = owner_b.withColumn("in_idx", F.lit(None).cast("int"))
            removed = (
                # own is one row per distinct batch window hash —
                # data-sized; force the shuffled hash join
                wins.join(own.hint("shuffle_hash"), "h")
                .where((F.col("in_idx") == 1) | (F.col("doc_id") > F.col("bmin")))
                .groupBy("doc_id")
                .agg(F.collect_list("s").alias("starts"))
            )
            cleaned = rewrite_with_removed_starts(toks, removed, self.window_tokens)
            # 1) index append (idempotent): hashes this batch owns that
            #    the index does not have yet
            new_idx = owner_b.select("h", F.col("bmin").alias("fd"))
            if have_index:
                new_idx = new_idx.join(
                    spark.table(self.index_table).select("h"), "h", "left_anti"
                )
            db.append_frame(self.index_table, new_idx)
            # 2) destination append: every batch doc, text rewritten
            out = docs.drop(self.text_column).join(
                cleaned.select(
                    F.col("doc_id").alias(self.id_column),
                    F.col("cleaned_text").alias(self.text_column),
                ).hint("shuffle_hash"),
                self.id_column,
            )
            self.write_destination(out)
        finally:
            release_persisted()
