"""Streaming twins: batch pipeline stages run as continuous
Structured Streaming queries that materialise into catalog tables.

Every twin is one ``foreachBatch`` query — Structured Streaming's hook
for sinks that need arbitrary batch logic — started by ``_twin``, which
owns everything the twins share: the checkpoint and the
``availableNow`` trigger, the one empty-batch check, the
``SparkDatabase`` over the batch's session, and refreshing every table
the trigger wrote in the caller's session.  A twin supplies only
``body(batch_df, batch_id, db)``, which returns the tables it wrote.

Writes go through ``SparkDatabase.merge_frame``: stage, then merge on a
delete key with the batch engine's semantics (plans/materialise.py, ref
merge_tables.sql:1-12), or create the table on the first trigger.  The
checkpoint gives exactly-once *input* processing, but foreachBatch is
at-least-once, so every write is idempotent on a replay of the same
``batch_id``: rows merge on their own key, or are stamped with the
trigger id (``ingest_id``) and merge on that, so a replayed trigger
replaces its own rows.
"""

from __future__ import annotations

import inspect

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sayn_spark.core.database import SparkDatabase


def _twin(source: DataFrame, checkpoint: str, body):
    """Start ``source`` as an availableNow foreachBatch query running
    ``body(batch_df, batch_id, db)`` on every non-empty micro-batch;
    ``body`` returns the catalog tables it wrote."""
    # foreachBatch runs in a CLONED session whose relation cache is
    # separate from the caller's; refresh through the source session so
    # readers outside the stream see the post-merge files
    outer_session = source.sparkSession

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        for table in body(batch_df, batch_id, SparkDatabase(batch_df.sparkSession)):
            outer_session.catalog.refreshTable(table)

    return (
        source.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _merge_stamped(db: SparkDatabase, dst_table: str, df: DataFrame, batch_id: int) -> list:
    """Stamp ``df`` with the trigger id and merge it into ``dst_table``
    delete-before-append on that id: a replayed trigger replaces its
    own rows instead of duplicating them."""
    stamped = df.withColumn("ingest_id", F.lit(batch_id).cast("long"))
    db.merge_frame(dst_table, stamped, "ingest_id", f"_stream_{batch_id}")
    return [dst_table]


def stream_merge_into(
    source: DataFrame,
    dst_table: str,
    delete_key: str,
    checkpoint: str,
):
    """Start a stream that merges every micro-batch into ``dst_table``.

    At 100 TB this is the landing-zone -> silver-table pattern: new
    files arrive, each batch anti-joins its keys out of the destination
    and appends — one bounded merge per trigger instead of a nightly
    full rebuild.
    """

    def body(batch_df: DataFrame, batch_id: int, db: SparkDatabase) -> list:
        db.merge_frame(dst_table, batch_df, delete_key, f"_stream_{batch_id}")
        return [dst_table]

    return _twin(source, checkpoint, body)


_BAND_BUCKETS = 32  # bucket count for the persisted band index
_INGEST = "dedup_ingest_batch: "  # the prefix of the ingest's option errors


def _heal_band_table(spark, db: SparkDatabase, index_table: str, band_table: str) -> None:
    """Append band rows for any indexed signature the band table lacks.

    A crash between the signature-index append and the band append
    leaves docs that every future probe would silently skip (the probe
    reads the band table, not the index).  Deriving the missing rows
    from index-minus-band makes the repair independent of which batch
    originally crashed; the anti-join scans only the band table's
    doc_id column.  Must run BEFORE a probe reads the band table — a
    heal that only happens at append time repairs the store one ingest
    too late, after the incomplete index already mis-declared a novel
    doc.
    """
    from sayn_spark.functions.dedup import _mh_band_frame

    missing = (
        spark.table(index_table)
        .where(F.size("sig") > 0)  # empty-sig docs never have band rows
        .join(
            spark.table(band_table).select("doc_id").distinct(),
            "doc_id",
            "left_anti",
        )
    )
    db.append_frame(
        band_table, _mh_band_frame(missing), bucket_by=(_BAND_BUCKETS, ["band_sig"])
    )


def dedup_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_table: str,
    matches_table: str,
    sf_dir: str,
    threshold: float = 0.5,
    band_table: str | None = None,
    method: str = "minhash",
    n_bands: "int | None" = None,
    max_hamming: "int | None" = None,
    max_edit: "int | None" = None,
    block_chars: "int | None" = None,
    block_keys: "tuple | None" = None,
    max_compare_chars: "int | None" = None,
    on_decode_error: "str | None" = None,
) -> None:
    """One trigger of the near-dup ingest — exposed at module level so
    failure-replay (foreachBatch is at-least-once) can be exercised
    directly in tests by calling it twice with the same ``batch_id``.
    ``batch_df`` must be non-empty: its two callers (the streaming
    twin's runner and the dedup task's incremental mode) each check
    that once, so a trigger pays for one empty-batch job, not two.

    ``method`` selects the per-document state and the probe, all three
    sharing the same index/matches lifecycle (none of these methods is
    corpus-relative — a document's state depends only on itself, which
    is exactly what makes incremental ingest sound):

    - ``minhash`` (default): state = 16-int MinHash signature, probe =
      LSH band join + estimated Jaccard >= ``threshold``
      (incremental_minhash_matches); matches carry ``est_jaccard``.
    - ``simhash``: state = ``n_bands``-int SimHash signature, probe =
      Manku/Charikar combo join + Hamming <= ``max_hamming``
      (incremental_simhash_matches, recall exact by pigeonhole);
      matches carry ``hamming``.

    - ``editdistance``: state = the document TEXT (the inherent price
      of a character-level metric), probe = dual-key blocked bounded
      Levenshtein <= ``max_edit`` (incremental_editdistance_matches);
      matches carry ``edit_dist``.
    - ``phash``: the batch carries (doc_id, payload BINARY) instead of
      text; state = the ``n_bands`` (default 4) packed dHash band ints
      decoded from the image payload (image_dhash_band_frame — 8
      bytes/image, the payload never leaves the hashing stage), probe
      = band equi-join + Hamming <= ``max_hamming``
      (incremental_phash_matches); matches carry ``hamming``.
      ``n_bands`` is the pigeonhole knob (8 bands => candidate recall
      exact to Hamming 7; the default 4 is exact to 3 and measured
      0.987 at radius 12) — a stored index pins it, width-guarded
      like simhash below.
      ``on_decode_error`` decides what an undecodable payload does:
      ``fail`` (default) raises — right for curated corpora; ``skip``
      indexes the doc as trivially novel (empty band array, never a
      candidate, conservatively kept) so a crawl's truncated payloads
      converge instead of re-entering every batch.  Image crawls are
      the canonical continuous-ingest workload — this is the method
      that makes ``mode: incremental`` cover them.

    The method options are checked and defaulted by the dedup task's
    table (functions/dedup.py:DEDUP_METHODS): simhash 8 bands at radius
    6, phash 4 at radius 12; an option the method does not take raises.

    Idempotency contract, stated precisely (method-independent):

    - The index probe EXCLUDES index rows whose doc_id is in the batch,
      so a replayed batch whose state already landed cannot self-match.
    - Match rows are stamped with ``ingest_id`` (the micro-batch id)
      and written delete-before-append on that key (merge_tables), so a
      replayed trigger replaces its own rows instead of duplicating
      them.  State derivation is deterministic, so the replacement is
      byte-identical.
    - The index append anti-joins the already-indexed doc_ids, so a
      replayed batch's state rows are not appended twice.

    Within-batch near-dups are caught by a self-probe (batch state vs
    itself, keeping ``batch_id > corpus_id`` so each pair is reported
    once, larger id as the duplicate); only docs that matched neither
    the index nor an earlier in-batch doc append to the index.

    Docs with no usable state (too short to shingle / zero tokens /
    NULL text, per method) are indexed as trivially novel with an
    EMPTY signature (or NULL text), never probed, so the lifecycle
    converges for them too — without this they would re-enter every
    batch forever and never reach an index-derived destination.

    ``band_table`` (minhash only), if given, names a band_sig-bucketed
    catalog table of the corpus band keys (doc_id, band, band_sig) that
    this function maintains alongside the signature index: the probe
    reads it instead of re-deriving band keys from every stored
    signature, so per-ingest work is one pass over the BATCH plus a
    pre-bucketed join — the corpus side never recomputes or reshuffles.
    The batch task layer (operators/dedup.py) passes it; the streaming
    twin may too.  simhash's packed-combo-key analogue is the
    documented scale path (incremental_simhash_matches' docstring).
    """
    from sayn_spark.functions.dedup import (
        _fan_out,
        _mh_band_frame,
        _mh_sig_frame,
        check_dedup_options,
        incremental_editdistance_matches,
        incremental_minhash_matches,
        incremental_simhash_matches,
        simhash_signatures_for,
    )

    o = check_dedup_options(method, dict(
        band_table=band_table, n_bands=n_bands, max_hamming=max_hamming,
        max_edit=max_edit, block_chars=block_chars, block_keys=block_keys,
        max_compare_chars=max_compare_chars, on_decode_error=on_decode_error,
    ), "ingest", _INGEST)
    n_bands, max_hamming = o.get("n_bands"), o.get("max_hamming")
    spark = batch_df.sparkSession
    db = SparkDatabase(spark)
    if method == "minhash":
        state = _mh_sig_frame(
            batch_df.select("doc_id", "text"), spark, sf_dir
        ).localCheckpoint()
        empty_state = ("sig", "cast(array() as array<bigint>)")

        def probe(new, old, old_bands=None):
            return incremental_minhash_matches(new, old, threshold, old_bands)

    elif method == "simhash":
        state = simhash_signatures_for(
            _fan_out(batch_df.select("doc_id", "text"), spark, sf_dir), n_bands
        ).localCheckpoint()
        empty_state = ("sig", "cast(array() as array<int>)")

        def probe(new, old, old_bands=None):
            return incremental_simhash_matches(new, old, n_bands, max_hamming)

    elif method == "phash":
        from sayn_spark.functions.multimodal import (
            image_dhash_band_frame,
            incremental_phash_matches,
        )

        # NULL payloads are excluded from the hashing stage up front so
        # they land on the sigless path below (under on_decode_error:
        # fail, bytes(None) would raise inside the UDF instead)
        state = image_dhash_band_frame(
            batch_df.where(F.col("payload").isNotNull()),
            on_error=o["on_decode_error"],
            n_bands=n_bands,
        ).localCheckpoint()
        empty_state = ("ba", "cast(array() as array<bigint>)")

        def probe(new, old, old_bands=None):
            return incremental_phash_matches(new, old, max_hamming)

    else:
        # empty / whitespace-only text routes to the trivially-novel
        # sigless path (NULL text, never probed), like minhash/simhash
        # treat zero-token docs: otherwise every such doc shares the
        # degenerate 'p:'/'s:' block key and the probe verifies
        # O(n_empty^2) Levenshtein-0 pairs per batch
        ed_cap = o["max_compare_chars"]
        # over-cap docs route sigless too: the probe could never
        # candidate them (_ed_blocked folds their keys to NULL — the
        # O(len^2) threshold-DP freeze, see _ED_MAX_COMPARE), so
        # storing their full text would only bloat the index
        state = (
            batch_df.select("doc_id", "text")
            .where(
                F.col("text").rlike(r"\S")  # NULL rlike is NULL: drops too
                & (F.length("text") <= ed_cap)
            )
            .localCheckpoint()
        )
        empty_state = ("text", "cast(null as string)")

        def probe(new, old, old_bands=None):
            return incremental_editdistance_matches(
                new, old, o["max_edit"], o["block_chars"], o["block_keys"], ed_cap
            )

    # docs with no usable state are trivially novel, recorded in the
    # index with an EMPTY state so reruns converge (the batch anti-join
    # sees them) instead of re-selecting them forever; empty states emit
    # no probe keys, so they never candidate.
    sigless = (
        batch_df.select("doc_id")
        .join(state.select("doc_id"), "doc_id", "left_anti")
        .withColumn(empty_state[0], F.expr(empty_state[1]))
    )
    sigs = state
    batch_ids = sigs.select("doc_id")
    # self-probe: larger id matches smaller, each pair reported once
    matches = probe(sigs, sigs).where(F.col("batch_id") > F.col("corpus_id"))
    index_exists = db.table_exists(index_table)
    if index_exists and n_bands is not None:
        # a signature index written under a different n_bands would
        # break the probe silently: simhash folds every sig_o[b] /
        # packed probe key to NULL (zero matches), phash equi-joins
        # band ordinals that no longer mean the same bit ranges (wrong
        # or zero matches) — either way every duplicate is declared
        # novel, permanently polluting the index.  One sampled
        # non-empty row pins the stored width BEFORE any probe or
        # write (incremental validation must precede writes, or a
        # raise strands a half-ingested batch behind the anti-join).
        state_col = "sig" if method == "simhash" else "ba"
        stored = (
            spark.table(index_table)
            .where(F.size(state_col) > 0)
            .select(F.size(state_col).alias("w"))
            .first()
        )
        if stored is not None and stored["w"] != n_bands:
            raise ValueError(
                f"dedup_ingest_batch: index table {index_table!r} stores "
                f"{stored['w']}-band {method} signatures but n_bands="
                f"{n_bands} was configured — probing would silently match "
                "nothing; rebuild the index or restore the original n_bands"
            )
    if index_exists:
        # replay guard: rows this very batch appended in a failed prior
        # attempt must not self-match
        probe_index = spark.table(index_table).join(batch_ids, "doc_id", "left_anti")
        old_bands = None
        if band_table is not None and db.table_exists(band_table):
            # repair BEFORE the probe reads the band table: a crash in
            # a prior run between the index append and the band append
            # left indexed docs invisible to the candidate join — this
            # probe would mis-declare their near-dups novel
            _heal_band_table(spark, db, index_table, band_table)
            old_bands = spark.table(band_table).join(batch_ids, "doc_id", "left_anti")
        matches = matches.unionByName(probe(sigs, probe_index, old_bands))
    matches = matches.withColumn(
        "ingest_id", F.lit(batch_id).cast("long")
    ).localCheckpoint()
    if not matches.isEmpty():
        # delete-before-append on the trigger id: replay replaces,
        # never duplicates (Delta destinations take the MERGE path)
        db.merge_frame(matches_table, matches, "ingest_id", f"_stream_{batch_id}")
    kept = sigs.join(
        matches.select(F.col("batch_id").alias("doc_id")).distinct(),
        "doc_id",
        "left_anti",
    ).unionByName(sigless)
    if index_exists:
        kept = kept.join(
            spark.table(index_table).select("doc_id"), "doc_id", "left_anti"
        ).localCheckpoint()
        db.create_table(index_table, kept, mode="append")
    else:
        # no checkpoint: the first-creation write does not read the
        # index table it writes (unlike the append path above), and
        # kept's whole lineage is already checkpointed frames — the
        # extra materialisation pass was one full job for nothing
        # (r14; the write is kept's only consumer)
        db.create_table(index_table, kept, mode="overwrite")
    if band_table is not None:
        if db.table_exists(band_table):
            # SELF-HEALING append: derive the rows to add from what the
            # index has that the band table lacks, NOT from this
            # batch's `kept`.  A crash between the index append and
            # this write would otherwise leave the band table
            # permanently missing the batch (the replay recomputes an
            # empty `kept` because the ids are already indexed).
            # (_heal_band_table also runs pre-probe for crash residue
            # from PRIOR runs; this call covers the batch just
            # appended.)
            _heal_band_table(spark, db, index_table, band_table)
        else:
            # first creation (or backfill over a pre-existing signature
            # index): the index table already includes this batch's
            # kept rows, so one derivation covers everything
            db.create_table(
                band_table,
                _mh_band_frame(spark.table(index_table)),
                mode="overwrite",
                bucket_by=(_BAND_BUCKETS, ["band_sig"]),
            )


def stream_dedup_ingest(
    source: DataFrame,
    index_table: str,
    matches_table: str,
    checkpoint: str,
    sf_dir: str,
    band_table: str | None = None,
    method: str = "minhash",
    **method_opts,
):
    """Continuous near-dup ingest: each micro-batch of (doc_id, text)
    — or (doc_id, payload BINARY) for ``method='phash'`` — is probed
    against the persistent state index for ``method``
    (minhash signatures / simhash signatures / document text / dHash
    band ints — see dedup_ingest_batch), matches land in
    ``matches_table`` (stamped with the trigger id, replay-idempotent),
    and only the novel documents' state appends to ``index_table`` —
    the streaming twin of q_dedup_incremental_minhash and of the dedup
    task's ``mode: incremental``.  Per-batch semantics and the full
    idempotency contract: dedup_ingest_batch, which also receives any
    ``method_opts`` (threshold / n_bands / max_hamming / max_edit /
    block_chars / block_keys / on_decode_error).

    State discipline at 100 TB: minhash, simhash, and phash store a
    few ints per corpus document (never shingles, text, or image
    payloads) and each trigger shuffles only the batch's probe keys
    against the stored side; editdistance stores the text itself — the
    inherent price of a character-level verify.  The matches merge rewrites the parquet
    matches table per trigger — fine for a match stream that is a tiny
    fraction of the corpus; point matches_table at a Delta destination
    and the same call becomes a keyed MERGE touching only that
    trigger's files.
    """
    from sayn_spark.functions.dedup import check_dedup_options

    # bind and check before start(): a misspelt option (max_haming=6)
    # or an out-of-range one (n_bands=7) fails here, not inside the
    # first non-empty trigger (and not never, on an empty source)
    inspect.signature(dedup_ingest_batch).bind(
        source, 0, index_table, matches_table, sf_dir,
        band_table=band_table, method=method, **method_opts,
    )
    check_dedup_options(method, {**method_opts, "band_table": band_table}, "ingest", _INGEST)

    def body(batch_df: DataFrame, batch_id: int, db: SparkDatabase) -> list:
        dedup_ingest_batch(
            batch_df, batch_id, index_table, matches_table, sf_dir,
            band_table=band_table, method=method, **method_opts,
        )
        # refresh EVERY table the trigger may have rewritten in the
        # outer session's relation cache — matches_table is
        # rename-swapped per trigger (a stale file listing there is a
        # FileNotFoundException on the outer session's next read, not
        # just stale rows), band_table appends
        return [
            t for t in (index_table, matches_table, band_table)
            if t is not None and db.table_exists(t)
        ]

    return _twin(source, checkpoint, body)


def stream_decontaminate(
    source: DataFrame,
    eval_table: str,
    dst_table: str,
    checkpoint: str,
    ngram: int = 13,
    id_column: str = "doc_id",
    min_overlap_frac: float | None = None,
    method: str = "ngram",
    min_cosine_hundredths: int = 95,
):
    """Streaming twin of the decontaminate task: each micro-batch of
    documents is checked against the STATIC eval table and only clean
    rows land in ``dst_table``.

    Structured Streaming cannot anti-join a stream against a
    stream-derived frame, so the batch task's exact predicate runs per
    trigger inside foreachBatch — the SAME helpers, so stream == batch
    by construction: ``method="ngram"`` uses
    functions/content_filter.py:contaminated_ids_frame (including the
    ``min_overlap_frac`` per-pair containment rule);
    ``method="semantic"`` uses semantic_contaminated_ids
    (q_decontaminate_semantic's engine) at
    ``min_cosine_hundredths``/100 — the reworded/reordered-leak screen
    n-grams are blind to, and a pure broadcast-eval map-side predicate
    (no persisted state, so nothing leaks across triggers — the r8
    foreachBatch lesson).  The static side re-resolves every batch —
    an updated eval table applies from the next trigger with no
    restart.  Writes are idempotent on replay: rows are stamped with
    the trigger id and merged delete-before-append on it.
    """
    from sayn_spark.functions.content_filter import (
        contaminated_ids_frame,
        semantic_contaminated_ids,
    )

    if method not in ("ngram", "semantic"):
        raise ValueError("stream_decontaminate: method must be ngram|semantic")
    if method == "semantic" and min_overlap_frac is not None:
        raise ValueError(
            "stream_decontaminate: min_overlap_frac applies to method=ngram"
        )
    min_ppm = None if min_overlap_frac is None else round(float(min_overlap_frac) * 1_000_000)

    def body(batch_df: DataFrame, batch_id: int, db: SparkDatabase) -> list:
        spark = db.spark
        if method == "semantic":
            contaminated = semantic_contaminated_ids(
                batch_df.select(id_column, "text"),
                spark.table(eval_table),
                id_column=id_column,
                min_cosine_hundredths=min_cosine_hundredths,
            )
        else:
            contaminated = contaminated_ids_frame(
                batch_df,
                spark.table(eval_table),
                ngram,
                id_column=id_column,
                min_overlap_ppm=min_ppm,
            )
        kept = batch_df.join(contaminated, id_column, "left_anti")
        return _merge_stamped(db, dst_table, kept, batch_id)

    return _twin(source, checkpoint, body)


def stream_surprisal_filter(
    source: DataFrame,
    vocab_table: str,
    dst_table: str,
    checkpoint: str,
    max_avg_nll: float,
    id_column: str = "doc_id",
):
    """Streaming twin of the filter task's ``scorer: surprisal`` in its
    production shape: the unigram LM is trained OFFLINE
    (functions/text.py:nll_vocab_frame written to ``vocab_table``) and
    each micro-batch scores against that FROZEN vocabulary — the
    batch task's self-trained variant is corpus-relative and cannot
    stream, which is exactly why its incremental mode is rejected
    (operators/filter.py); freezing the LM is how CCNet-style
    filtering actually runs on a continuous crawl.

    Out-of-vocabulary tokens score the vocabulary's max nll
    (score_against_vocab's contract).  The static side re-resolves
    every trigger, so a retrained vocabulary applies from the next
    batch without a restart.  Writes are replay-idempotent: rows stamp
    the trigger id and merge delete-before-append on it.
    """
    from sayn_spark.functions.text import score_against_vocab

    def body(batch_df: DataFrame, batch_id: int, db: SparkDatabase) -> list:
        work = batch_df.where(F.col("text").isNotNull())
        scored = score_against_vocab(
            work.select(F.col(id_column).alias("doc_id"), "text"),
            db.spark.table(vocab_table),
        )
        keep_ids = scored.where(F.col("avg_nll") <= float(max_avg_nll)).select(
            F.col("doc_id").alias(id_column)
        )
        kept = work.join(keep_ids, id_column, "left_semi")
        return _merge_stamped(db, dst_table, kept, batch_id)

    return _twin(source, checkpoint, body)


def stream_route_media(
    source: DataFrame,
    dst_table: str,
    checkpoint: str,
    id_column: str = "doc_id",
    payload_column: str = "payload",
):
    """Streaming twin of the batch media-routing stage (examples
    route_media_metadata): each micro-batch of opaque BINARY payloads
    runs functions.multimodal.route_media_frame — headers-only
    dispatch across all eight formats the module parses (MP4 box walk
    incl. elst played time, WebP chunk walk, JPEG/PNG/GIF/BMP still
    signatures, WAV header walk, MP3 frame-walk fallback) into typed
    rows (media_type, dims, duration, animation, frame count,
    fps_milli) — and appends to ``dst_table``.  A continuous
    multimodal crawl routes assets as they land instead of re-scanning
    the corpus per run; undecodable payloads persist as
    media_type='unknown' rows (never dropped, never fatal), so a
    restart or replay re-derives the same admission decisions
    downstream.

    Writes are replay-idempotent: rows stamp the trigger id and merge
    delete-before-append on it, the same contract as the other
    foreachBatch twins.  Payloads never shuffle — routing is map-side
    — and only the typed metadata rows are written."""
    from sayn_spark.functions.multimodal import route_media_frame

    def body(batch_df: DataFrame, batch_id: int, db: SparkDatabase) -> list:
        routed = route_media_frame(
            batch_df, id_column=id_column, payload_column=payload_column
        )
        return _merge_stamped(db, dst_table, routed, batch_id)

    return _twin(source, checkpoint, body)


def stream_ann_ingest(
    source: DataFrame,
    index: str,
    checkpoint: str,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
):
    """Continuous vector ingest into a catalog ANN index built by the
    ``ann_index`` task: each micro-batch of (id, vector) rows inserts
    under FROZEN quantizers via the same engine as the task's
    incremental mode (operators/ann.py:ann_insert_batch) — anti-join
    replay safety, bucketed appends, code layers inferred from the
    catalog (the index's method and its ``_ANN_LAYOUT`` entry; PQ's
    vector or residual encoding follows the codebook's enc column),
    and every layer's self-heal runs every trigger, so a crash between
    two appends repairs on the next one.

    State discipline at 100 TB: the index tables grow by appends only;
    each trigger shuffles nothing but the batch's rows (centroids and
    codebook broadcast).  Retrain (full rebuild) stays a batch
    decision — the stream never moves centroids.
    """
    from sayn_spark.functions.similarity import _ANN_LAYOUT, _stored_method
    from sayn_spark.operators.ann import ann_insert_batch

    def body(batch_df: DataFrame, batch_id: int, db: SparkDatabase) -> list:
        vecs = batch_df.select(
            F.col(id_column).alias("vec_id"),
            F.expr(f"cast({vector_column} as array<double>)").alias("e"),
        )
        ann_insert_batch(db.spark, db, index, vecs)
        # every table an insert may append to, per the index's layout:
        # a stale {index}_sq8codes/{index}_binwords in the outer
        # session would silently drop the new vectors from the SQ8 /
        # Hamming shortlist stages of catalog searches
        return [
            f"{index}{suffix}"
            for suffix in ("_vectors", *_ANN_LAYOUT[_stored_method(db, index)])
        ]

    return _twin(source, checkpoint, body)


def stream_chunk(
    source: DataFrame,
    dst_table: str,
    checkpoint: str,
    chunk_tokens: int = 2048,
    stride: int | None = None,
    min_tokens: int = 1,
    id_column: str = "doc_id",
    text_column: str = "text",
):
    """Streaming twin of the chunk task: each micro-batch of documents
    splits into overlapping context windows via the SAME projection the
    batch task runs (operators/chunk.py:chunk_frame — a row-local
    flatMap, so a stream trigger shuffles nothing), and the chunks land
    in ``dst_table``.

    Replay idempotence follows the decontaminate twin's shape: rows are
    stamped with the trigger id and merged delete-before-append on it,
    so a re-delivered batch replaces its own chunks instead of
    duplicating them.
    """
    from sayn_spark.operators.chunk import chunk_frame

    def body(batch_df: DataFrame, batch_id: int, db: SparkDatabase) -> list:
        chunks = chunk_frame(
            batch_df,
            chunk_tokens=chunk_tokens,
            stride=stride,
            min_tokens=min_tokens,
            id_column=id_column,
            text_column=text_column,
        )
        return _merge_stamped(db, dst_table, chunks, batch_id)

    return _twin(source, checkpoint, body)


def stream_ann_search(
    source: DataFrame,
    index: str,
    dst_table: str,
    checkpoint: str,
    k: int = 5,
    nprobe: int = 1,
    shortlist: int = 20,
    shortlist_binary: int = 50,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
):
    """Continuous top-k search of a query-vector stream against a
    FROZEN catalog index — the query half of the vector pipeline
    (stream_ann_ingest is the corpus half): each micro-batch routes
    through the same catalog dispatch as the ann_search task
    (functions/similarity.py:ann_catalog_search — cascade / binary /
    SQ8 / ADC / exact picked by the method the catalog holds) and
    MERGES its results into ``dst_table`` on query_id, so a
    re-submitted query refreshes its rows instead of duplicating them
    and trigger replays are idempotent.

    Scale: the index side is read in place (cell-bucketed, nprobe
    cells per query); each trigger shuffles only the batch's query
    rows and their k-row results — serving-path economics, not a
    batch rebuild per trigger.
    """
    from sayn_spark.functions.similarity import ann_catalog_search

    def body(batch_df: DataFrame, batch_id: int, db: SparkDatabase) -> list:
        queries = batch_df.select(
            F.col(id_column).alias("query_id"),
            F.expr(f"cast({vector_column} as array<double>)").alias("e"),
        )
        out = ann_catalog_search(
            db.spark, db, index, queries,
            k=k, nprobe=nprobe, shortlist=shortlist, shortlist_binary=shortlist_binary,
        )
        db.merge_frame(dst_table, out, "query_id", f"_annq_{batch_id}")
        return [dst_table]

    return _twin(source, checkpoint, body)
