"""Streaming tests: availableNow micro-batch runs over testdata.

The query-shaped streams (sayn_spark/streaming/streams.py and
stateful.py) must equal the equivalent batch queries.  The foreachBatch
twins (sayn_spark/streaming/materialise.py) must leave the tables their
batch tasks leave, and re-running a trigger with the same batch id
(``replay_last_trigger``) must leave those tables unchanged."""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest

from sayn_spark.functions.registry import T
from sayn_spark.streaming import (
    hourly_aggregate_stream,
    read_events_stream,
    sessionize_stream,
    stream_copy,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture
def events_dir(tmp_path):
    # file streams need a directory source
    d = tmp_path / "events_in"
    d.mkdir()
    shutil.copy(f"{SF}/events.parquet", d / "events.parquet")
    return str(d)


def run_to_memory(spark, stream_df, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def replay_last_trigger(checkpoint, start):
    """Re-run the last committed trigger of a foreachBatch stream:
    delete its ``commits/<N>`` marker and restart with ``start()``.
    Spark then re-runs batch N with the same batch id and rows — the
    at-least-once redelivery a crash between a twin's write and the
    commit causes.  Asserts the restart really ran batch N."""
    commits = Path(checkpoint) / "commits"
    last = max(int(p.name) for p in commits.iterdir() if p.name.isdigit())
    for marker in (commits / str(last), commits / f".{last}.crc"):
        marker.unlink(missing_ok=True)
    q = start()
    q.awaitTermination(180)
    assert any(
        p["batchId"] == last and p["numInputRows"] > 0 for p in q.recentProgress
    ), q.recentProgress


def table_rows(spark, table):
    return sorted(tuple(r) for r in spark.table(table).collect())


def test_hourly_stream_matches_batch(spark, events_dir):
    stream = hourly_aggregate_stream(read_events_stream(spark, events_dir))
    got = {
        (r.hour_epoch, r.event_type): (r.n, r.total_value)
        for r in run_to_memory(spark, stream, "hourly_out").collect()
    }
    from sayn_spark.functions.events import q_events_hourly

    want = {
        (r.hour_epoch, r.event_type): (r.n, r.total_value)
        for r in q_events_hourly(spark, SF).collect()
    }
    assert got == want


def test_sessionize_stream_counts(spark, events_dir):
    stream = sessionize_stream(read_events_stream(spark, events_dir))
    out = run_to_memory(spark, stream, "sessions_out")
    # session_window closes at last_event + gap, so window_us >= gap;
    # total events across sessions must equal the input row count
    total = sum(r.n_events for r in out.collect())
    assert total == T(spark, SF, "events").count()
    assert out.where("window_us < 30 * 60 * 1000000").count() == 0


def test_stream_copy_appends_with_audit_column(spark, events_dir, tmp_path):
    dst = str(tmp_path / "dst")
    ckpt = str(tmp_path / "ckpt")
    q = stream_copy(read_events_stream(spark, events_dir), dst, ckpt)
    q.awaitTermination(120)
    out = spark.read.parquet(dst)
    assert out.count() == T(spark, SF, "events").count()
    assert "_sayn_load_ts" in out.columns
    # re-running with the same checkpoint loads nothing new (exactly-once)
    q2 = stream_copy(read_events_stream(spark, events_dir), dst, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(dst).count() == T(spark, SF, "events").count()


def test_stateful_running_totals(spark, events_dir):
    """applyInPandasWithState totals must equal the batch groupBy."""
    from sayn_spark.streaming.stateful import running_user_totals
    from pyspark.sql import functions as F

    stream = running_user_totals(read_events_stream(spark, events_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("totals_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # update mode: last row per user is the final state
    got = {
        r.user_id: (r.n_events, round(r.total_value, 2))
        for r in spark.table("totals_out").collect()
    }
    batch = (
        T(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias("tv"),
        )
    )
    want = {r.user_id: (r.n, round(r.tv, 2)) for r in batch.collect()}
    assert got == want


def test_dedup_stream_drops_duplicate_keys(spark, events_dir, tmp_path):
    from sayn_spark.streaming.stateful import dedup_stream

    # duplicate the source file => every event_id appears twice
    import shutil

    shutil.copy(f"{events_dir}/events.parquet", f"{events_dir}/events_copy.parquet")
    stream = dedup_stream(read_events_stream(spark, events_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n_unique = T(spark, SF, "events").select("event_id").distinct().count()
    assert spark.table("dedup_out").count() == n_unique


def test_stream_merge_into_replaces_keys(spark, tmp_path):
    """foreachBatch incremental materialisation: micro-batches merge on
    the delete key exactly like the batch engine."""
    import pyspark.sql.functions as F

    from sayn_spark.core.database import SparkDatabase
    from sayn_spark.streaming.materialise import stream_merge_into

    db = SparkDatabase(spark)
    db.drop_object("sm_dst")
    src_dir = tmp_path / "sm_src"
    src_dir.mkdir()
    ckpt = str(tmp_path / "sm_ckpt")
    schema = "id long, v string"

    def land(rows, name):
        # file streams list flat files: write to a staging dir, then move
        # the part file into the landing dir
        import glob as g
        import shutil as sh

        staging = tmp_path / f"stage_{name}"
        spark.createDataFrame(rows, schema=schema).coalesce(1).write.parquet(str(staging))
        part = g.glob(str(staging / "part-*.parquet"))[0]
        sh.move(part, str(src_dir / f"{name}.parquet"))

    # batch 1: initial rows
    land([(1, "a"), (2, "b")], "f1")
    stream = spark.readStream.schema(schema).parquet(str(src_dir))
    q = stream_merge_into(stream, "sm_dst", "id", ckpt)
    q.awaitTermination(120)
    assert sorted(tuple(r) for r in spark.table("sm_dst").collect()) == [(1, "a"), (2, "b")]

    # batch 2: update id=2, insert id=3 -> merge must replace and add
    land([(2, "b2"), (3, "c")], "f2")
    stream2 = spark.readStream.schema(schema).parquet(str(src_dir))
    q2 = stream_merge_into(stream2, "sm_dst", "id", ckpt)
    q2.awaitTermination(120)
    assert sorted(tuple(r) for r in spark.table("sm_dst").collect()) == [
        (1, "a"),
        (2, "b2"),
        (3, "c"),
    ]

    # replay batch 2: the merge on the delete key converges
    replay_last_trigger(ckpt, lambda: stream_merge_into(stream2, "sm_dst", "id", ckpt))
    assert table_rows(spark, "sm_dst") == [(1, "a"), (2, "b2"), (3, "c")]


def test_stream_merge_into_finishes_crashed_merge_swap(spark, tmp_path):
    """A crash inside merge_tables' parquet swap — the destination
    dropped, the merged staging table not yet renamed into place —
    must not cost the rows merged so far: the next trigger moves the
    staging table into place and merges its batch, instead of creating
    the destination from the batch alone."""
    from sayn_spark.core.database import SparkDatabase, _tmp_name
    from sayn_spark.streaming.materialise import stream_merge_into

    schema = "id long, v string"
    db = SparkDatabase(spark)
    swap = _tmp_name("smc_dst", "_sayn_merge")
    for t in ("smc_dst", swap):
        db.drop_object(t)
    # the catalog as the crash left it: earlier rows in the swap table
    db.create_table(swap, spark.createDataFrame([(1, "a"), (2, "b")], schema))
    src = tmp_path / "smc_src"
    spark.createDataFrame([(2, "b2"), (3, "c")], schema).coalesce(1).write.parquet(
        str(src / "w1")
    )
    stream = spark.readStream.schema(schema).option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    q = stream_merge_into(stream, "smc_dst", "id", str(tmp_path / "smc_ckpt"))
    q.awaitTermination(120)
    assert table_rows(spark, "smc_dst") == [(1, "a"), (2, "b2"), (3, "c")]
    assert not spark.catalog.tableExists(swap)
    db.drop_object("smc_dst")


def test_attribution_join_stream_matches_batch(spark, events_dir):
    """Stream-stream interval join must equal the batch range join."""
    from pyspark.sql import functions as F

    from sayn_spark.streaming import attribution_join_stream

    stream = attribution_join_stream(read_events_stream(spark, events_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("attr_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.purchase_id, r.click_id) for r in spark.table("attr_out").collect()
    }

    ev = T(spark, SF, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts"), F.col("event_id").alias("cid")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts"), F.col("event_id").alias("pid")
    )
    want = {
        (r.pid, r.cid)
        for r in purchases.join(
            clicks,
            F.expr("pu = cu AND cts <= pts AND cts >= pts - INTERVAL 1 HOUR"),
        ).collect()
    }
    assert got == want and len(got) > 0


def test_dynamic_session_stream_bounds(spark, events_dir):
    """Dynamic-gap sessions: every event in exactly one session, and the
    session count sits between the 60-min-fixed (gaps never shorter)
    and 30-min-fixed (gaps never longer) session counts."""
    from sayn_spark.streaming import dynamic_session_stream

    dyn = run_to_memory(
        spark, dynamic_session_stream(read_events_stream(spark, events_dir)), "dyn_sessions"
    )
    n_events_in = T(spark, SF, "events").count()
    assert sum(r.n_events for r in dyn.collect()) == n_events_in

    fixed30 = run_to_memory(
        spark,
        sessionize_stream(read_events_stream(spark, events_dir), gap="30 minutes"),
        "fixed30_sessions",
    )
    fixed60 = run_to_memory(
        spark,
        sessionize_stream(read_events_stream(spark, events_dir), gap="60 minutes"),
        "fixed60_sessions",
    )
    assert fixed60.count() <= dyn.count() <= fixed30.count()
    # purchase tally is conserved too
    n_purch = T(spark, SF, "events").where("event_type = 'purchase'").count()
    assert sum(r.n_purchases for r in dyn.collect()) == n_purch


def test_ttl_state_eviction_and_restart(spark, tmp_path):
    """TTL stress for applyInPandasWithState: users idle past the
    event-time TTL are EVICTED (one closed=true row, state removed),
    and a returning user restarts from zero — proving the state store
    does not grow with the all-time key count.  Driven as four
    availableNow runs over one checkpoint so the watermark/state
    survive restarts exactly as they would across scheduled jobs."""
    import datetime as dt

    from sayn_spark.streaming.stateful import ttl_user_totals

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def write_wave(name, rows):
        spark.createDataFrame(
            rows, schema="user_id long, value double, ts timestamp"
        ).coalesce(1).write.mode("overwrite").parquet(str(src / name))

    collected = []

    def run_wave():
        stream = spark.readStream.schema(
            "user_id long, value double, ts timestamp"
        ).option("recursiveFileLookup", "true").parquet(str(src))
        q = (
            ttl_user_totals(stream, ttl_minutes=30)
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, _id: collected.extend(df.collect()))
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination(120)

    # wave 1: users 1 and 2 active at t0
    write_wave("w1", [(1, 1.0, t0), (1, 2.0, t0 + dt.timedelta(minutes=1)), (2, 5.0, t0)])
    run_wave()
    # wave 2: unrelated user far in the future -> watermark jumps past
    # the TTL horizon of users 1/2 (eviction fires NEXT batch: timeouts
    # compare against the watermark persisted at the previous batch end)
    write_wave("w2", [(99, 1.0, t0 + dt.timedelta(hours=3))])
    run_wave()
    # wave 3: another future event -> users 1 and 2 time out now
    write_wave("w3", [(99, 1.0, t0 + dt.timedelta(hours=3, minutes=1))])
    run_wave()
    # wave 4: user 1 RETURNS after eviction -> fresh state
    write_wave("w4", [(1, 7.0, t0 + dt.timedelta(hours=3, minutes=2))])
    run_wave()

    closed = {r.user_id: r for r in collected if r.closed}
    assert set(closed) == {1, 2}, f"expected users 1,2 evicted, got {sorted(closed)}"
    assert (closed[1].n_events, closed[1].total_value) == (2, 3.0)
    assert (closed[2].n_events, closed[2].total_value) == (1, 5.0)
    # the post-eviction row for user 1 restarts from zero
    reborn = [r for r in collected if r.user_id == 1 and not r.closed][-1]
    assert (reborn.n_events, reborn.total_value) == (1, 7.0)


def test_stream_dedup_ingest_probes_and_grows_index(spark, tmp_path):
    """Streaming near-dup ingest over the persistent signature index:
    wave 1 seeds the index, wave 2's near-dup of a wave-1 doc is
    caught and only novel signatures append, wave 3's near-dup of a
    wave-2 NOVEL doc is caught by the grown index — the dedup store
    works across restarts with signatures as its only state."""
    from sayn_spark.streaming.materialise import stream_dedup_ingest

    src = tmp_path / "docs_in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    idx, mt = "stream_mh_index", "stream_mh_matches"
    for t in (idx, mt, f"{idx}_bands"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "sleeps near the warm fire and the birds sing in the tall trees"
    )
    novel = (
        "completely different content about distributed query engines "
        "processing enormous datasets with columnar storage vectorized "
        "execution adaptive optimization and shuffle free joins"
    )

    def run_wave(name, rows):
        spark.createDataFrame(rows, schema="doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(src / name))
        stream = spark.readStream.schema("doc_id long, text string").option(
            "recursiveFileLookup", "true"
        ).parquet(str(src))
        q = stream_dedup_ingest(stream, idx, mt, ckpt, SF, band_table=f"{idx}_bands")
        q.awaitTermination(120)

    run_wave("w1", [(1, base)])
    run_wave("w2", [(101, base + " zz"), (102, novel)])
    run_wave("w3", [(201, novel + " qq")])

    matches = {(r.batch_id, r.corpus_id) for r in spark.table(mt).collect()}
    assert matches == {(101, 1), (201, 102)}
    # index holds signatures for exactly the novel docs, nothing else
    assert {r.doc_id for r in spark.table(idx).collect()} == {1, 102}
    assert spark.table(idx).columns == ["doc_id", "sig"]
    # the bucketed band index tracks the signature index: 4 bands/doc
    assert spark.table(f"{idx}_bands").count() == spark.table(idx).count() * 4
    for t in (idx, mt, f"{idx}_bands"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_dedup_ingest_within_batch_and_replay(spark):
    """The two foreachBatch hazards, exercised at the batch level:

    1. WITHIN-batch near-dups are caught by the self-probe (pair
       reported once, larger id as the duplicate) and the duplicate's
       signature never enters the index.
    2. Replaying a trigger (foreachBatch is at-least-once) leaves both
       tables byte-identical: the probe excludes the batch's own ids
       from the index (no est_jaccard=1.0 self-matches), the matches
       write is delete-before-append on the trigger id, and the index
       append anti-joins already-indexed ids.
    """
    from sayn_spark.streaming.materialise import dedup_ingest_batch

    idx, mt = "replay_mh_index", "replay_mh_matches"
    for t in (idx, mt):
        spark.sql(f"DROP TABLE IF EXISTS {t}")

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "sleeps near the warm fire and the birds sing in the tall trees"
    )
    novel = (
        "completely different content about distributed query engines "
        "processing enormous datasets with columnar storage vectorized "
        "execution adaptive optimization and shuffle free joins"
    )

    def batch(rows):
        return spark.createDataFrame(rows, schema="doc_id long, text string")

    # trigger 0: seed corpus with an in-batch near-dup pair
    b0 = batch([(1, base), (2, base + " zz"), (3, novel)])
    dedup_ingest_batch(b0, 0, idx, mt, SF)
    assert {(r.batch_id, r.corpus_id) for r in spark.table(mt).collect()} == {(2, 1)}
    assert {r.doc_id for r in spark.table(idx).collect()} == {1, 3}

    third = (
        "apples oranges pears grapes melons berries plums cherries "
        "peaches apricots figs dates mangos papayas guavas lychees "
        "kiwis bananas pineapples coconuts pomegranates nectarines"
    )
    # trigger 1: an index near-dup AND an in-batch near-dup pair
    b1 = batch([(11, novel + " qq"), (12, third), (13, third + " zz")])
    dedup_ingest_batch(b1, 1, idx, mt, SF)
    expect_t1 = {(11, 3), (13, 12)}
    assert {
        (r.batch_id, r.corpus_id) for r in spark.table(mt).where("ingest_id = 1").collect()
    } == expect_t1
    idx_after = {r.doc_id for r in spark.table(idx).collect()}
    assert idx_after == {1, 3, 12}

    # replay trigger 1 (simulates failure between writes and restart):
    # both tables must be unchanged — no self-matches, no duplicates
    dedup_ingest_batch(b1, 1, idx, mt, SF)
    all_matches = [
        (r.ingest_id, r.batch_id, r.corpus_id) for r in spark.table(mt).collect()
    ]
    assert sorted(all_matches) == sorted(
        [(0, 2, 1)] + [(1, a, b) for a, b in expect_t1]
    )
    idx_rows = spark.table(idx).collect()
    assert {r.doc_id for r in idx_rows} == {1, 3, 12}
    assert len(idx_rows) == 3  # no duplicated signature rows
    for t in (idx, mt):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_content_filter_stream_matches_batch(spark, tmp_path):
    """The streaming content filter must keep exactly the docs the
    batch scorers keep — same quality expression, same langid gate."""
    from sayn_spark.functions.text import (
        langid_columns,
        predicted_lang_col,
        quality_score_col,
    )
    from sayn_spark.streaming import content_filter_stream

    src = tmp_path / "cf_docs"
    src.mkdir()
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    docs.coalesce(1).write.mode("overwrite").parquet(str(src / "w1"))
    stream = spark.readStream.schema("doc_id long, text string").option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    q = (
        content_filter_stream(stream, min_score=0.55, languages=["en", "zh"])
        .writeStream.format("memory")
        .queryName("cf_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.doc_id for r in spark.table("cf_out").collect()}
    batch = (
        docs.where(quality_score_col() >= 0.55)
        .select("*", *langid_columns())
        .where(predicted_lang_col().isin(["en", "zh"]))
    )
    want = {r.doc_id for r in batch.collect()}
    assert got == want
    assert 0 < len(got) < docs.count()


def test_decontaminate_stream_matches_batch(spark, tmp_path):
    """Stream-static decontamination equals the batch task's keep set,
    and an eval-table update applies on the next trigger without
    restarting the stream definition."""
    from pyspark.sql import functions as F

    from sayn_spark.functions.content_filter import ngram_hash_frame
    from sayn_spark.streaming import stream_decontaminate

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    ev = (
        docs.where(F.col("doc_id") % 9 == 0)
        .select(
            F.expr(
                "concat_ws(' ', slice(filter(split(lower(text), ' '), x -> x != ''), 3, 8))"
            ).alias("text")
        )
    )
    spark.sql("DROP TABLE IF EXISTS ds_eval")
    from sayn_spark.core.database import SparkDatabase

    SparkDatabase(spark).replace_table("ds_eval", ev)

    src = tmp_path / "ds_docs"
    src.mkdir()
    docs.coalesce(1).write.mode("overwrite").parquet(str(src / "w1"))
    spark.sql("DROP TABLE IF EXISTS ds_out")
    stream = spark.readStream.schema("doc_id long, text string").option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    ckpt = str(tmp_path / "ds_ckpt")
    q = stream_decontaminate(stream, "ds_eval", "ds_out", ckpt, ngram=8)
    q.awaitTermination(120)
    got = {r.doc_id for r in spark.table("ds_out").collect()}
    before = table_rows(spark, "ds_out")
    replay_last_trigger(
        ckpt, lambda: stream_decontaminate(stream, "ds_eval", "ds_out", ckpt, ngram=8)
    )
    assert table_rows(spark, "ds_out") == before

    ev_h = ngram_hash_frame(spark.table("ds_eval"), "text", 8, None)
    d_h = ngram_hash_frame(docs, "text", 8, "doc_id")
    bad = d_h.join(ev_h, "h", "left_semi").select("doc_id")
    want = {r.doc_id for r in docs.join(bad, "doc_id", "left_anti").collect()}
    assert got == want
    assert 0 < len(got) < docs.count()
    for t in ("ds_eval", "ds_out"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_stream_surprisal_filter_matches_frozen_vocab_batch(spark, tmp_path):
    """stream_surprisal_filter scores micro-batches against the FROZEN
    offline-trained vocabulary and must keep exactly the docs the
    batch score_against_vocab keeps — including OOV handling (a second
    wave introduces unseen tokens that score the vocab's max nll) and
    replay-idempotent trigger-id merges across waves."""
    from pyspark.sql import functions as F

    from sayn_spark.core.database import SparkDatabase
    from sayn_spark.functions.text import nll_vocab_frame, score_against_vocab
    from sayn_spark.streaming import stream_surprisal_filter

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    # train the LM on the even-id half only: odd ids carry OOV mass
    train = docs.where(F.col("doc_id") % 2 == 0)
    spark.sql("DROP TABLE IF EXISTS sv_vocab")
    SparkDatabase(spark).replace_table("sv_vocab", nll_vocab_frame(train))

    src = tmp_path / "sv_docs"
    src.mkdir()
    wave1 = docs.where(F.col("doc_id") < 250)
    wave1.coalesce(1).write.mode("overwrite").parquet(str(src / "w1"))
    spark.sql("DROP TABLE IF EXISTS sv_out")
    stream = spark.readStream.schema("doc_id long, text string").option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    ckpt = str(tmp_path / "sv_ckpt")
    threshold = 3.41  # ~median under the frozen vocab: both keep and drop sets non-empty
    q = stream_surprisal_filter(stream, "sv_vocab", "sv_out", ckpt, threshold)
    q.awaitTermination(120)

    # second wave: the rest of the corpus (some with tokens unseen by
    # the frozen vocab), same checkpoint -> only new files process
    docs.where(F.col("doc_id") >= 250).coalesce(1).write.mode("overwrite").parquet(
        str(src / "w2")
    )
    q2 = stream_surprisal_filter(stream, "sv_vocab", "sv_out", ckpt, threshold)
    q2.awaitTermination(120)
    before = table_rows(spark, "sv_out")
    replay_last_trigger(
        ckpt,
        lambda: stream_surprisal_filter(stream, "sv_vocab", "sv_out", ckpt, threshold),
    )
    assert table_rows(spark, "sv_out") == before

    got = {r.doc_id for r in spark.table("sv_out").collect()}
    scored = score_against_vocab(docs, spark.table("sv_vocab"))
    want = {
        r.doc_id for r in scored.where(F.col("avg_nll") <= threshold).collect()
    }
    assert got == want
    assert 0 < len(got) < docs.count()
    for t in ("sv_vocab", "sv_out"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_content_filter_stream_gopher_matches_batch(spark, tmp_path):
    """The streaming gopher gate must keep exactly the batch rule
    suite's keep set (same shared integer builders, stateless)."""
    from sayn_spark.functions import REGISTRY
    from sayn_spark.streaming import content_filter_stream

    src = tmp_path / "cfg_docs"
    src.mkdir()
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    docs.coalesce(1).write.mode("overwrite").parquet(str(src / "w1"))
    stream = spark.readStream.schema("doc_id long, text string").option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    q = (
        content_filter_stream(stream, min_score=0.0, gopher_bounds={"min_words": 30})
        .writeStream.format("memory")
        .queryName("cfg_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.doc_id for r in spark.table("cfg_out").collect()}
    reg = REGISTRY["q_quality_gopher_rules"].fn(spark, SF).collect()
    want = {
        r.doc_id
        for r in reg
        if 30 <= r.n_words <= 100_000
        and r.pass_mean_word_len and r.pass_symbol_ratio
        and r.pass_alpha_ratio and r.pass_stopwords
    }
    assert got == want
    assert 0 < len(got) < docs.count()
    # gate is stateless: the sink schema carries no helper columns
    assert spark.table("cfg_out").columns == ["doc_id", "text"]


def test_content_filter_stream_pii_redacts_in_flight(spark, tmp_path):
    """The streaming pii stage must redact matches in place (same
    regexes as the batch scorer) without dropping rows."""
    from sayn_spark.streaming import content_filter_stream

    src = tmp_path / "pii_docs"
    src.mkdir()
    docs = spark.createDataFrame(
        [(1, "the the the mail bob@example.com the the the the the a a a"),
         (2, "the the the call +1-555-0000 now the the the the a a a"),
         (3, "the the the clean text here the the the the the a a a")],
        "doc_id long, text string",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(str(src / "w1"))
    stream = spark.readStream.schema("doc_id long, text string").option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    q = (
        content_filter_stream(stream, min_score=0.0, pii={"action": "redact"})
        .writeStream.format("memory")
        .queryName("pii_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r.doc_id: r.text for r in spark.table("pii_out").collect()}
    assert set(rows) == {1, 2, 3}
    assert "[EMAIL]" in rows[1] and "@" not in rows[1]
    assert "[PHONE]" in rows[2] and "555" not in rows[2]
    assert "clean text here" in rows[3]


def test_ann_ingest_stream_matches_batch_insert(spark, tmp_path):
    """Streaming vector ingest must leave the index tables equal to the
    batch incremental insert over the same rows (frozen quantizers,
    residual codes included), and a replayed batch must change
    nothing."""
    from sayn_spark.core.compiler import Compiler
    from sayn_spark.core.database import SparkDatabase
    from sayn_spark.core.objects import DbObjectCompiler
    from sayn_spark.operators import RunArguments, TaskContext
    from sayn_spark.operators.ann import AnnIndexTask
    from sayn_spark.streaming import stream_ann_ingest

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
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    seed = emb.where("vec_id < 40")
    later = emb.where("vec_id >= 40 and vec_id < 56")
    ctx.db.replace_table("sai_seed", seed)
    # one residual-encoded ivfpq index fed by the STREAM, one by the
    # batch incremental task — they must end identical
    for index in ("sai_s", "sai_b"):
        t = AnnIndexTask(
            f"{index}_build",
            {
                "source": "sai_seed",
                "index": index,
                "label_column": "label",
                "method": "ivfpq",
                "codebook": "trained",
                "encode": "residual",
            },
            ctx,
        )
        t.config()
        t.run()
    # batch twin
    ctx.db.replace_table("sai_all", seed.unionByName(later))
    bt = AnnIndexTask(
        "sai_b_ins",
        {
            "source": "sai_all",
            "index": "sai_b",
            "label_column": "label",
            "method": "ivfpq",
            "mode": "incremental",
            "encode": "residual",
        },
        ctx,
    )
    bt.config()
    bt.run()
    # stream twin: two files, two triggers
    src = tmp_path / "sai_vecs"
    src.mkdir()
    later1 = later.where("vec_id < 48")
    later2 = later.where("vec_id >= 48")
    later1.coalesce(1).write.mode("overwrite").parquet(str(src / "w1"))
    stream = spark.readStream.schema(emb.schema).option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    ckpt = str(tmp_path / "sai_ckpt")
    q = stream_ann_ingest(stream, "sai_s", ckpt)
    q.awaitTermination(180)
    later2.coalesce(1).write.mode("overwrite").parquet(str(src / "w2"))
    q = stream_ann_ingest(stream, "sai_s", ckpt)
    q.awaitTermination(180)

    def snap(index):
        vecs = sorted(
            (r.vec_id, r.cell, tuple(r.e), r.nrm)
            for r in spark.table(f"{index}_vectors").collect()
        )
        codes = sorted(
            (r.vec_id, r.cell, r.s, r.c)
            for r in spark.table(f"{index}_codes").collect()
        )
        return vecs, codes

    assert snap("sai_s") == snap("sai_b")
    # replay: a fresh stream over the SAME files with a NEW checkpoint
    # re-delivers every row; the anti-join must make it a no-op
    before = snap("sai_s")
    q = stream_ann_ingest(stream, "sai_s", str(tmp_path / "sai_ckpt2"))
    q.awaitTermination(180)
    assert snap("sai_s") == before
    for t in ("sai_seed", "sai_all"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    for ix in ("sai_s", "sai_b"):
        for sfx in ("_centroids", "_vectors", "_codebook", "_codes"):
            spark.sql(f"DROP TABLE IF EXISTS {ix}{sfx}")


def test_stream_chunk_matches_batch_task(spark, tmp_path):
    """stream_chunk produces, across two waves, exactly the chunks the
    batch chunk task emits over the union — per-row flatMap semantics —
    and a replayed trigger leaves them unchanged (trigger-id merge
    idempotence)."""
    from pyspark.sql import functions as F

    from sayn_spark.core.database import SparkDatabase
    from sayn_spark.operators.chunk import chunk_frame
    from sayn_spark.streaming import stream_chunk

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    w1 = docs.where(F.col("doc_id") % 2 == 0)
    w2 = docs.where(F.col("doc_id") % 2 == 1)

    src = tmp_path / "ck_docs"
    src.mkdir()
    w1.coalesce(1).write.mode("overwrite").parquet(str(src / "w1"))
    spark.sql("DROP TABLE IF EXISTS cks_out")
    ckpt = str(tmp_path / "ck_ckpt")

    def start():
        stream = spark.readStream.schema("doc_id long, text string").option(
            "recursiveFileLookup", "true"
        ).parquet(str(src))
        return stream_chunk(stream, "cks_out", ckpt, chunk_tokens=16, stride=12)

    def run_wave():
        start().awaitTermination(120)

    run_wave()
    n1 = spark.table("cks_out").count()
    assert n1 > 0
    # restart with no new files: no batch runs, no growth
    run_wave()
    assert spark.table("cks_out").count() == n1

    w2.coalesce(1).write.mode("overwrite").parquet(str(src / "w2"))
    run_wave()
    before = table_rows(spark, "cks_out")
    replay_last_trigger(ckpt, start)
    assert table_rows(spark, "cks_out") == before
    got = sorted(
        tuple(r)
        for r in spark.table("cks_out")
        .select("doc_id", "chunk_index", "chunk_start", "n_tokens", "chunk_text")
        .collect()
    )
    want = sorted(
        tuple(r) for r in chunk_frame(docs, chunk_tokens=16, stride=12).collect()
    )
    assert got == want
    spark.sql("DROP TABLE IF EXISTS cks_out")


def test_content_filter_stream_repetition_matches_batch(spark, tmp_path):
    """The streaming repetition stage must keep exactly the batch
    scorer's keep set for the row-local bounds (ratio + dup-line ppm,
    stateless)."""
    from sayn_spark.core.compiler import Compiler
    from sayn_spark.core.database import SparkDatabase
    from sayn_spark.core.objects import DbObjectCompiler
    from sayn_spark.operators import RunArguments, TaskContext
    from sayn_spark.operators.filter import FilterTask
    from sayn_spark.streaming import content_filter_stream

    rows = []
    for i in range(30):
        words = ["w%d" % (j % (2 + i % 9)) for j in range(40)]
        lines = [" ".join(words[k:k + 10]) for k in range(0, 40, 10)]
        if i % 5 == 0:
            lines.append(lines[0])
        rows.append((i, "\n".join(lines)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    src = tmp_path / "rep_docs"
    src.mkdir()
    docs.coalesce(1).write.mode("overwrite").parquet(str(src / "w1"))
    stream = spark.readStream.schema("doc_id long, text string").option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    bounds = {"max_repetition_ratio": 0.85, "max_dup_line_ppm": 150_000}
    q = (
        content_filter_stream(stream, min_score=0.0, repetition=bounds)
        .writeStream.format("memory")
        .queryName("rep_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.doc_id for r in spark.table("rep_out").collect()}

    ctx = TaskContext(
        spark=spark, db=SparkDatabase(spark), compiler=Compiler(parameters={}),
        obj_compiler=DbObjectCompiler(default_db="spark"),
        run_arguments=RunArguments(), parameters={}, connections={},
        project_dir=tmp_path,
    )
    ctx.db.replace_table("rep_src", docs)
    t = FilterTask(
        "rep_batch",
        {"source": "rep_src", "destination": "rep_batch_out",
         "scorer": "repetition", **bounds},
        ctx,
    )
    t.config()
    t.run()
    want = {r.doc_id for r in spark.table("rep_batch_out").collect()}
    assert got == want
    assert 0 < len(got) < len(rows)
    assert spark.table("rep_out").columns == ["doc_id", "text"]


def test_ann_ingest_stream_sq8_matches_batch_insert(spark, tmp_path):
    """Streaming ingest into an ivfsq8 index must equal the batch
    incremental insert (frozen grid, identical integer codes) and
    replay as a no-op — ann_insert_batch's sq8 branch drives both."""
    from sayn_spark.core.compiler import Compiler
    from sayn_spark.core.database import SparkDatabase
    from sayn_spark.core.objects import DbObjectCompiler
    from sayn_spark.operators import RunArguments, TaskContext
    from sayn_spark.operators.ann import AnnIndexTask
    from sayn_spark.streaming import stream_ann_ingest

    ctx = TaskContext(
        spark=spark, db=SparkDatabase(spark), compiler=Compiler(parameters={}),
        obj_compiler=DbObjectCompiler(default_db="spark"),
        run_arguments=RunArguments(), parameters={}, connections={},
        project_dir=tmp_path,
    )
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    seed = emb.where("vec_id < 40")
    later = emb.where("vec_id >= 40 and vec_id < 56")
    ctx.db.replace_table("sq8s_seed", seed)
    for index in ("sq8s_s", "sq8s_b"):
        t = AnnIndexTask(
            f"{index}_build",
            {"source": "sq8s_seed", "index": index, "label_column": "label",
             "method": "ivfsq8"},
            ctx,
        )
        t.config()
        t.run()
    ctx.db.replace_table("sq8s_all", seed.unionByName(later))
    bt = AnnIndexTask(
        "sq8s_b_ins",
        {"source": "sq8s_all", "index": "sq8s_b", "label_column": "label",
         "method": "ivfsq8", "mode": "incremental"},
        ctx,
    )
    bt.config()
    bt.run()
    src = tmp_path / "sq8s_vecs"
    src.mkdir()
    later.coalesce(1).write.mode("overwrite").parquet(str(src / "w1"))
    stream = spark.readStream.schema(emb.schema).option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    q = stream_ann_ingest(stream, "sq8s_s", str(tmp_path / "sq8s_ckpt"))
    q.awaitTermination(180)

    def snap(index):
        vecs = sorted(
            (r.vec_id, r.cell, tuple(r.e))
            for r in spark.table(f"{index}_vectors").collect()
        )
        codes = sorted(
            (r.vec_id, r.cell, tuple(r.c))
            for r in spark.table(f"{index}_sq8codes").collect()
        )
        return vecs, codes

    assert snap("sq8s_s") == snap("sq8s_b")
    # replay with a fresh checkpoint: anti-join makes it a no-op
    before = snap("sq8s_s")
    q = stream_ann_ingest(stream, "sq8s_s", str(tmp_path / "sq8s_ckpt2"))
    q.awaitTermination(180)
    assert snap("sq8s_s") == before
    for t in ("sq8s_seed", "sq8s_all"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    for ix in ("sq8s_s", "sq8s_b"):
        for sfx in ("_centroids", "_vectors", "_sq8grid", "_sq8codes"):
            spark.sql(f"DROP TABLE IF EXISTS {ix}{sfx}")


def test_stream_hash_sample_matches_batch(spark, tmp_path):
    """The streaming hash sample keeps exactly the batch sample task's
    row set (shared predicate), including per-stratum rates."""
    from sayn_spark.operators.sample import hash_sample_predicate
    from sayn_spark.streaming import stream_hash_sample

    src = tmp_path / "hs_docs"
    src.mkdir()
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    docs.coalesce(1).write.mode("overwrite").parquet(str(src / "w1"))
    stream = spark.readStream.schema("doc_id long, lang string, text string").option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    q = (
        stream_hash_sample(
            stream, rate_in=3, seed=9, stratify_by="lang", rates={"en": 1}
        )
        .writeStream.format("memory")
        .queryName("hs_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.doc_id for r in spark.table("hs_out").collect()}
    want = {
        r.doc_id
        for r in docs.where(
            hash_sample_predicate("doc_id", 9, 3, "lang", {"en": 1})
        ).collect()
    }
    assert got == want
    assert 0 < len(got) < docs.count()
    # rate-1 stratum passes through complete
    en = {r.doc_id for r in docs.where("lang = 'en'").collect()}
    assert en <= got


def test_ann_search_stream_matches_batch_and_merges(spark, tmp_path):
    """Streaming query-side search equals the batch catalog dispatch
    per wave, and a re-submitted query MERGES (refreshes) instead of
    duplicating."""
    from pyspark.sql import functions as F

    from sayn_spark.core.compiler import Compiler
    from sayn_spark.core.database import SparkDatabase
    from sayn_spark.core.objects import DbObjectCompiler
    from sayn_spark.functions.similarity import ann_catalog_search
    from sayn_spark.operators import RunArguments, TaskContext
    from sayn_spark.operators.ann import AnnIndexTask
    from sayn_spark.streaming import stream_ann_search

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
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    ctx.db.replace_table("sas_src", emb)
    t = AnnIndexTask(
        "sas_build",
        {"source": "sas_src", "index": "sas_ix", "label_column": "label",
         "method": "ivfbin"},
        ctx,
    )
    t.config()
    t.run()

    src = tmp_path / "sas_queries"
    src.mkdir()
    wave1 = emb.where("vec_id < 6").select("vec_id", "embedding")
    wave1.coalesce(1).write.mode("overwrite").parquet(str(src / "w1"))
    schema = "vec_id long, embedding array<float>"
    ckpt = str(tmp_path / "sas_ckpt")

    def _start():
        stream = spark.readStream.schema(schema).option(
            "recursiveFileLookup", "true"
        ).parquet(str(src))
        return stream_ann_search(
            stream, "sas_ix", "sas_topk", ckpt, k=3, nprobe=2
        )

    def _trigger():
        _start().awaitTermination(120)

    _trigger()
    got1 = {tuple(r) for r in spark.table("sas_topk").collect()}
    batch1 = ann_catalog_search(
        spark,
        ctx.db,
        "sas_ix",
        wave1.select(
            F.col("vec_id").alias("query_id"),
            F.expr("cast(embedding as array<double>)").alias("e"),
        ),
        k=3,
        nprobe=2,
    )
    want1 = {tuple(r) for r in batch1.collect()}
    assert got1 == want1 and got1

    # wave 2: one repeated query + two new ones -> merge, no dupes
    wave2 = emb.where("vec_id = 5 or (vec_id >= 6 and vec_id < 8)").select(
        "vec_id", "embedding"
    )
    wave2.coalesce(1).write.mode("overwrite").parquet(str(src / "w2"))
    _trigger()
    out = spark.table("sas_topk")
    assert out.groupBy("query_id", "neighbor_id").count().where("count > 1").count() == 0
    assert {r.query_id for r in out.select("query_id").distinct().collect()} == set(
        range(8)
    )
    # every query still carries exactly k rows
    assert out.groupBy("query_id").count().where("count != 3").count() == 0
    # replay wave 2: the merge on query_id converges
    before = table_rows(spark, "sas_topk")
    replay_last_trigger(ckpt, _start)
    assert table_rows(spark, "sas_topk") == before


def test_decontaminate_stream_overlap_frac_matches_batch(spark, tmp_path):
    """The streaming twin's min_overlap_frac keep set must equal the
    batch task's per-pair containment keep set (shared predicate:
    contaminated_ids_frame)."""
    from pyspark.sql import functions as F

    from sayn_spark.core.database import SparkDatabase
    from sayn_spark.functions.content_filter import contaminated_ids_frame
    from sayn_spark.streaming import stream_decontaminate

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    ev = (
        docs.where(F.col("doc_id") % 9 == 0)
        .select(
            F.expr(
                "concat_ws(' ', slice(filter(split(lower(text), ' '), x -> x != ''), 3, 12))"
            ).alias("text")
        )
        .unionByName(
            docs.where(F.col("doc_id") % 11 == 0).select(
                F.expr(
                    "concat_ws(' ', concat(slice(filter(split(lower(text), ' '), x -> x != ''), 2, 9),"
                    " array('qz1','qz2','qz3','qz4','qz5')))"
                ).alias("text")
            )
        )
    )
    spark.sql("DROP TABLE IF EXISTS dsf_eval")
    SparkDatabase(spark).replace_table("dsf_eval", ev)

    src = tmp_path / "dsf_docs"
    src.mkdir()
    docs.coalesce(1).write.mode("overwrite").parquet(str(src / "w1"))
    spark.sql("DROP TABLE IF EXISTS dsf_out")
    stream = spark.readStream.schema("doc_id long, text string").option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    q = stream_decontaminate(
        stream,
        "dsf_eval",
        "dsf_out",
        str(tmp_path / "dsf_ckpt"),
        ngram=8,
        min_overlap_frac=0.5,
    )
    q.awaitTermination(120)
    got = {r.doc_id for r in spark.table("dsf_out").collect()}

    bad = contaminated_ids_frame(
        docs, spark.table("dsf_eval"), 8, min_overlap_ppm=500000
    )
    want = {r.doc_id for r in docs.join(bad, "doc_id", "left_anti").collect()}
    assert got == want
    assert 0 < len(got) < docs.count()
    # the frac rule keeps strictly more than the any-gram rule here
    bad_any = contaminated_ids_frame(docs, spark.table("dsf_eval"), 8)
    want_any = {
        r.doc_id for r in docs.join(bad_any, "doc_id", "left_anti").collect()
    }
    assert want_any < got
    for t in ("dsf_eval", "dsf_out"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_content_filter_stream_entropy_matches_batch(spark, tmp_path):
    """The streaming entropy gate must keep exactly the docs the
    registered query scores at/above the floor (same shared fold)."""
    from sayn_spark.functions.text import q_text_char_entropy
    from sayn_spark.streaming import content_filter_stream

    src = tmp_path / "cfe_docs"
    src.mkdir()
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    docs.coalesce(1).write.mode("overwrite").parquet(str(src / "w1"))
    stream = spark.readStream.schema("doc_id long, text string").option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    q = (
        content_filter_stream(stream, min_score=0.0, min_entropy=2.85)
        .writeStream.format("memory")
        .queryName("cfe_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.doc_id for r in spark.table("cfe_out").collect()}
    want = {
        r.doc_id
        for r in q_text_char_entropy(spark, SF).collect()
        if r.entropy_e8 >= 285000000
    }
    assert got == want
    assert 0 < len(got) < docs.count()


@pytest.mark.parametrize(
    "stage, message",
    [
        pytest.param(
            {"repetition": {"max_top2_ppm": 200000}},
            "repetition takes ['max_dup_char_ppm', 'max_dup_line_ppm', "
            "'max_immediate_repeats', 'max_repetition_ratio'], not ['max_top2_ppm']",
            id="repetition-ngram-gate",
        ),
        pytest.param(
            {"pii": {"pii_types": ["card"]}},
            "pii takes ['action', 'max_pii'], not ['pii_types']",
            id="pii-types",
        ),
        pytest.param(
            {"c4": {"c4_rewrite": False}},
            "c4 takes ['min_sentences', 'min_words_per_line', 'rewrite'], "
            "not ['c4_rewrite']",
            id="c4-task-key",
        ),
    ],
)
def test_content_filter_stream_rejects_unread_stage_keys(spark, tmp_path, stage, message):
    """A stage key the stream does not read raises when the stream is
    built, before any query starts — it was dropped without a word, so
    the gate the caller asked for never applied."""
    from sayn_spark.streaming import content_filter_stream

    stream = spark.readStream.schema("doc_id long, text string").parquet(str(tmp_path))
    with pytest.raises(ValueError) as err:
        content_filter_stream(stream, min_score=0.0, **stage)
    assert str(err.value) == f"content_filter_stream: {message}"
    assert spark.streams.active == []


def test_content_filter_stream_c4_matches_batch(spark, tmp_path, ctx):
    """The streaming c4 stage must keep and rewrite exactly as the
    batch scorer (same shared builders, stateless)."""
    from sayn_spark.operators.filter import FilterTask
    from sayn_spark.streaming import content_filter_stream

    pages = []
    for i in range(40):
        lines = [f"w{j} alpha beta gamma delta epsilon." for j in range(i % 5)]
        lines.append("tail line without punct here now")
        if i % 7 == 0:
            lines.append("lorem ipsum dolor sit amet.")
        pages.append((i, "\n".join(lines)))
    docs = spark.createDataFrame(pages, "doc_id long, text string")
    src = tmp_path / "c4_docs"
    src.mkdir()
    docs.coalesce(1).write.mode("overwrite").parquet(str(src / "w1"))
    stream = spark.readStream.schema("doc_id long, text string").option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    q = (
        content_filter_stream(stream, min_score=0.0, c4={"min_sentences": 2})
        .writeStream.format("memory")
        .queryName("c4s_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.doc_id: r.text for r in spark.table("c4s_out").collect()}

    ctx.db.replace_table("r7_c4s_src", docs)
    t = FilterTask(
        "r7_c4s",
        {"source": "r7_c4s_src", "destination": "r7_c4s_out", "scorer": "c4",
         "min_sentences": 2},
        ctx,
    )
    t.config()
    t.run()
    want = {r.doc_id: r.text for r in spark.table("r7_c4s_out").collect()}
    assert got == want
    assert 0 < len(got) < len(pages)
    assert spark.table("c4s_out").columns == ["doc_id", "text"]


def test_decontaminate_semantic_stream_matches_batch(spark, tmp_path):
    """method=semantic streaming twin (VERDICT r8 item 5): micro-batches
    screened by embedding-cosine against the frozen reversed-token eval
    table must keep exactly the batch engine's keep set — the leak
    shape the n-gram twin is structurally blind to — across TWO waves
    (replay-idempotent trigger-id merges), with no cached frames left
    behind (the r8 foreachBatch persist lesson)."""
    from pyspark.sql import functions as F

    from sayn_spark.core.database import SparkDatabase
    from sayn_spark.functions.content_filter import semantic_contaminated_ids
    from sayn_spark.streaming import stream_decontaminate

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    ev = (
        docs.where(F.col("doc_id") % 9 == 0)
        .where(F.expr("size(filter(split(lower(text), ' '), x -> x != ''))") >= 8)
        .select(
            F.expr(
                "concat_ws(' ', reverse(filter(split(lower(text), ' '), x -> x != '')))"
            ).alias("text")
        )
    )
    spark.sql("DROP TABLE IF EXISTS dss_eval")
    SparkDatabase(spark).replace_table("dss_eval", ev)

    src = tmp_path / "dss_docs"
    src.mkdir()
    cached_before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    w1 = docs.where(F.col("doc_id") % 2 == 0)
    w2 = docs.where(F.col("doc_id") % 2 == 1)
    w1.coalesce(1).write.mode("overwrite").parquet(str(src / "w1"))
    spark.sql("DROP TABLE IF EXISTS dss_out")
    ckpt = str(tmp_path / "dss_ckpt")

    def run_wave():
        stream = spark.readStream.schema("doc_id long, text string").option(
            "recursiveFileLookup", "true"
        ).parquet(str(src))
        q = stream_decontaminate(
            stream, "dss_eval", "dss_out", ckpt, method="semantic",
            min_cosine_hundredths=95,
        )
        q.awaitTermination(120)

    run_wave()
    w2.coalesce(1).write.mode("overwrite").parquet(str(src / "w2"))
    run_wave()

    got = {r.doc_id for r in spark.table("dss_out").collect()}
    bad = semantic_contaminated_ids(
        docs, spark.table("dss_eval"), min_cosine_hundredths=95
    )
    want = {r.doc_id for r in docs.join(bad, "doc_id", "left_anti").collect()}
    assert got == want
    # the reversed leaks were actually caught (every >=8-token 9th doc)
    assert 0 < len(got) < docs.count()
    # nothing cached leaked out of the triggers (relative to the shared
    # session's pre-existing cache — other tests may hold frames)
    cached_after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert cached_after <= cached_before
    for t in ("dss_eval", "dss_out"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_stream_decontaminate_method_validation(spark, tmp_path):
    from sayn_spark.streaming import stream_decontaminate

    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(tmp_path)
    )
    with pytest.raises(ValueError, match="method must be"):
        stream_decontaminate(stream, "e", "d", str(tmp_path / "c"), method="cosine")
    with pytest.raises(ValueError, match="min_overlap_frac"):
        stream_decontaminate(
            stream, "e", "d", str(tmp_path / "c2"), method="semantic",
            min_overlap_frac=0.5,
        )


# -- foreachBatch twins moved from the round-filed suites -------------------


@pytest.fixture
def ctx(spark, tmp_path):
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
        parameters={"sf_dir": SF},
        connections={},
        project_dir=tmp_path,
    )


def _drop(spark, *tables):
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _images(n, seed=11, w=16, h=18):
    """n deterministic distinct random images as (doc_id, raw bytes):
    two independent 64-bit dHashes differ ~32 bits on average, so at
    radius 12 distinct images never false-match."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return {
        i: bytes(int(v) for v in rng.integers(0, 256, size=w * h))
        for i in range(n)
    }


def test_stream_ann_ingest_heals_cascade_layers(ctx, spark, tmp_path):
    """Streaming vector ingest into a method=cascade index must leave
    ALL THREE stored representations (vectors, sq8codes, binwords)
    equal to the batch incremental insert over the same rows — the
    de-elif'd heal chain exercised through the streaming twin."""
    from sayn_spark.operators.ann import AnnIndexTask
    from sayn_spark.streaming import stream_ann_ingest

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    seed = emb.where("vec_id < 40")
    later = emb.where("vec_id >= 40 and vec_id < 56")
    ctx.db.replace_table("scasc_seed", seed)
    for index in ("scasc_s", "scasc_b"):
        t = AnnIndexTask(
            f"{index}_build",
            {
                "source": "scasc_seed",
                "index": index,
                "label_column": "label",
                "method": "cascade",
            },
            ctx,
        )
        t.config()
        t.run()
    ctx.db.replace_table("scasc_all", seed.unionByName(later))
    bt = AnnIndexTask(
        "scasc_b_ins",
        {
            "source": "scasc_all",
            "index": "scasc_b",
            "label_column": "label",
            "method": "cascade",
            "mode": "incremental",
        },
        ctx,
    )
    bt.config()
    bt.run()
    src = tmp_path / "scasc_vecs"
    src.mkdir()
    later.coalesce(1).write.mode("overwrite").parquet(str(src / "w1"))
    stream = spark.readStream.schema(emb.schema).option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    q = stream_ann_ingest(stream, "scasc_s", str(tmp_path / "scasc_ckpt"))
    q.awaitTermination(180)

    def snap(index):
        vecs = sorted(
            (r.vec_id, r.cell, tuple(r.e)) for r in spark.table(f"{index}_vectors").collect()
        )
        codes = sorted(
            (r.vec_id, r.cell, tuple(r.c))
            for r in spark.table(f"{index}_sq8codes").collect()
        )
        words = sorted(
            (r.vec_id, r.cell, r.w1, r.w2)
            for r in spark.table(f"{index}_binwords").collect()
        )
        return vecs, codes, words

    assert snap("scasc_s") == snap("scasc_b")
    n = seed.count() + later.count()
    assert spark.table("scasc_s_sq8codes").count() == n
    assert spark.table("scasc_s_binwords").count() == n


def test_stream_dedup_ingest_simhash_dispatch(spark, tmp_path):
    """The streaming twin dispatches per method: a simhash ingest
    stream catches a wave-2 copy of a wave-1 doc against the stored
    signature index and appends only novel signatures."""
    from sayn_spark.streaming.materialise import stream_dedup_ingest

    src = tmp_path / "docs_in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    idx, mt = "stream_sh_idx", "stream_sh_mt"
    _drop(spark, idx, mt)
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "sleeps near the warm fire and the birds sing in the tall trees"
    )
    novel = (
        "completely different content about distributed query engines "
        "processing enormous datasets with columnar storage vectorized "
        "execution adaptive optimization and shuffle free joins"
    )

    def run_wave(name, rows):
        spark.createDataFrame(rows, schema="doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(src / name))
        stream = spark.readStream.schema("doc_id long, text string").option(
            "recursiveFileLookup", "true"
        ).parquet(str(src))
        q = stream_dedup_ingest(
            stream, idx, mt, ckpt, SF, method="simhash", max_hamming=6
        )
        q.awaitTermination(120)

    run_wave("w1", [(1, base)])
    run_wave("w2", [(101, base), (102, novel)])
    matches = {(r.batch_id, r.corpus_id) for r in spark.table(mt).collect()}
    assert matches == {(101, 1)}
    assert {r.doc_id for r in spark.table(idx).collect()} == {1, 102}
    assert spark.table(idx).columns == ["doc_id", "sig"]
    _drop(spark, idx, mt)


def test_stream_dedup_ingest_phash_dispatch(spark, tmp_path):
    """The streaming twin dispatches method=phash: a wave-2 re-encode
    of a wave-1 image is caught against the stored band index and only
    novel band state appends."""
    from sayn_spark.functions.multimodal import bmp_encode, png_encode
    from sayn_spark.streaming.materialise import stream_dedup_ingest

    src = tmp_path / "imgs_in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    idx, mt = "stream_ph_idx", "stream_ph_mt"
    _drop(spark, idx, mt)
    w, h = 16, 18
    raws = _images(2, seed=31)

    def run_wave(name, rows):
        spark.createDataFrame(rows, schema="doc_id long, payload binary").coalesce(
            1
        ).write.mode("overwrite").parquet(str(src / name))
        stream = spark.readStream.schema("doc_id long, payload binary").option(
            "recursiveFileLookup", "true"
        ).parquet(str(src))
        q = stream_dedup_ingest(
            stream, idx, mt, ckpt, SF, method="phash", max_hamming=12
        )
        q.awaitTermination(120)

    run_wave("w1", [(1, bytearray(png_encode(raws[0], w, h)))])
    run_wave(
        "w2",
        [
            (101, bytearray(bmp_encode(raws[0], w, h))),
            (102, bytearray(png_encode(raws[1], w, h))),
        ],
    )
    assert {
        (r.batch_id, r.corpus_id, r.hamming) for r in spark.table(mt).collect()
    } == {(101, 1, 0)}
    assert {r.doc_id for r in spark.table(idx).collect()} == {1, 102}
    assert spark.table(idx).columns == ["doc_id", "ba"]
    _drop(spark, idx, mt)


def test_stream_route_media_lifecycle(spark, tmp_path):
    """Two waves through the streaming twin: typed rows accumulate in
    the destination (per-track duration and fps for MP4, ANMF frame
    count/duration for WebP), and unknown (garbage / NULL) payloads
    persist as 'unknown' rows that survive the next wave — never
    dropped, never fatal."""
    from sayn_spark.functions.multimodal import mp3_build, mp4_build, webp_build
    from sayn_spark.streaming.materialise import stream_route_media

    src = tmp_path / "media_in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    dst = "stream_media_meta"
    _drop(spark, dst)

    def run_wave(name, rows):
        spark.createDataFrame(
            rows, schema="doc_id long, payload binary"
        ).coalesce(1).write.mode("overwrite").parquet(str(src / name))
        stream = spark.readStream.schema("doc_id long, payload binary").option(
            "recursiveFileLookup", "true"
        ).parquet(str(src))
        q = stream_route_media(stream, dst, ckpt)
        q.awaitTermination(120)

    mp4 = mp4_build(640, 360, 10000, video_n_samples=240,
                    video_duration_ms=8000)
    webp = webp_build(200, 100, mode="extended", animated=True,
                      frame_durations=(400, 500, 600))
    run_wave("w1", [
        (1, bytearray(mp4)),
        (2, bytearray(webp)),
        (3, bytearray(b"not-anything-parseable")),
    ])
    got = {r.doc_id: r for r in spark.table(dst).collect()}
    assert set(got) == {1, 2, 3}
    assert (got[1].media_type, got[1].width, got[1].height,
            got[1].duration_ms, got[1].n_frames, got[1].fps_milli) == (
        "video/mp4", 640, 360, 8000, 240, 30000)
    assert (got[2].media_type, got[2].is_animated, got[2].n_frames,
            got[2].duration_ms) == ("image/webp", 1, 3, 1500)
    assert got[3].media_type == "unknown"

    mp3 = mp3_build(80, 128, 44100, 2)  # 80 * 1152 / 44100 s ~ 2089 ms
    from sayn_spark.functions.multimodal import jpeg_encode, wav_encode

    run_wave("w2", [
        (4, bytearray(mp3)),
        (5, None),
        # r13 arms: a still and a PCM clip route typed through the
        # SAME streaming twin (no code of its own — shared frame)
        (6, bytearray(jpeg_encode(bytes(64), 8, 8))),
        (7, bytearray(wav_encode([0] * 24000, 16000))),  # 1500 ms
    ])
    got = {r.doc_id: r for r in spark.table(dst).collect()}
    assert set(got) == {1, 2, 3, 4, 5, 6, 7}
    assert (got[4].media_type, got[4].duration_ms) == ("audio/mpeg", 2089)
    assert got[5].media_type == "unknown"
    assert (got[6].media_type, got[6].width, got[6].height,
            got[6].n_frames) == ("image/jpeg", 8, 8, 1)
    assert (got[7].media_type, got[7].duration_ms) == ("audio/wav", 1500)
    # the wave-1 unknown row survived the restart
    assert got[3].media_type == "unknown"
    # replay wave 2: the trigger-id merge converges
    before = table_rows(spark, dst)
    stream = spark.readStream.schema("doc_id long, payload binary").option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    replay_last_trigger(ckpt, lambda: stream_route_media(stream, dst, ckpt))
    assert table_rows(spark, dst) == before
    _drop(spark, dst)
