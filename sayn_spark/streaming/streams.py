"""Structured Streaming equivalents of the engine's incremental loads.

The reference has NO streaming (SURVEY §2.4): scheduled incremental
batch loads (`incremental_key` + `start_dt`/`end_dt`) are its
substitute.  These streams are the Spark-native upgrade of that
pattern — same logical results as the batch queries in
functions/events.py, but continuous:

- hourly_aggregate_stream  <-> q_events_hourly  (watermark + window agg)
- sessionize_stream        <-> q_events_sessionize (session_window)
- stream_copy              <-> copy task append mode (file stream ->
                               audit column -> append sink)

All run with trigger(availableNow=True) in tests: process everything
pending, then stop — deterministic, and exactly how a scheduled
micro-batch deployment would run at 100 TB (each micro-batch is
checkpointed; reprocessing resumes from the last offset).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sayn_spark.operators.copy import LOAD_TS_COL
from sayn_spark.sources.registry import read_parquet


def read_events_stream(
    spark: SparkSession, path: str, schema: Optional[str] = None
) -> DataFrame:
    """File-source stream over an events directory (parquet).

    At scale this is the landing zone pattern: upstream writers drop
    parquet files; maxFilesPerTrigger bounds each micro-batch.
    """
    reader = spark.readStream.format("parquet").option("maxFilesPerTrigger", 16)
    if schema:
        reader = reader.schema(schema)
    else:
        # streams need an explicit schema; borrow it from a batch read
        reader = reader.schema(read_parquet(spark, path).schema)
    df = reader.load(path)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":  # nanos-as-long testdata
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":  # timestamp[us] testdata (UTC session tz)
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def hourly_aggregate_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour window counts/sums with late-data watermark —
    the streaming twin of q_events_hourly.  State is bounded: windows
    older than the watermark are finalised and evicted."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("hour_epoch"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sessionize_stream(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Gap-based sessions via session_window — the stateful-streaming
    twin of q_events_sessionize (same 30-min inactivity semantics)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("start_us"),
            (F.unix_micros(F.col("w.end")) - F.unix_micros(F.col("w.start"))).alias("window_us"),
            "n_events",
        )
    )


def dynamic_session_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Session windows with a per-event inactivity gap: a purchase holds
    its session open 60 minutes, any other event 30 — the dynamic-gap
    form of session_window (gap is a Column, evaluated per row), which
    is how engagement sessions are usually defined (high-intent events
    extend the session).

    State stays bounded exactly as with a fixed gap: the watermark
    closes any session whose (last event + its gap) has passed, so at
    100 TB/day state is still O(active users x watermark horizon).
    Invariants vs fixed gaps (pinned in tests/test_streaming.py):
    every event lands in exactly one session, and the session count is
    between the 60-minute-fixed and 30-minute-fixed counts.
    """
    gap = F.when(F.col("event_type") == "purchase", F.lit("60 minutes")).otherwise(
        F.lit("30 minutes")
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("event_type") == "purchase").cast("long")).alias("n_purchases"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("start_us"),
            (F.unix_micros(F.col("w.end")) - F.unix_micros(F.col("w.start"))).alias(
                "window_us"
            ),
            "n_events",
            "n_purchases",
        )
    )


def attribution_join_stream(
    events: DataFrame,
    attribution_window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to the
    clicks by the same user in the preceding attribution window.

    Both sides carry watermarks and the join condition bounds event
    time on both sides, so Spark's symmetric hash join keeps only
    ``watermark + window`` of state per side — bounded memory at any
    scale.  This is the streaming twin of a batch range join
    (purchases ⋈ clicks ON same user AND click within [t-window, t]).
    """
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        clicks,
        F.expr(
            f"""
            p_user = c_user
            AND click_ts <= purchase_ts
            AND click_ts >= purchase_ts - INTERVAL {attribution_window}
            """
        ),
        "inner",
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "purchase_ts",
        "purchase_value",
        "click_id",
        "click_ts",
    )


def stream_copy(
    events: DataFrame,
    dst_path: str,
    checkpoint: str,
    add_load_ts: bool = True,
):
    """Streaming append copy: the copy task's ``append`` mode as a
    continuous pipeline (audit column + exactly-once file sink).

    Returns the StreamingQuery (caller awaits/stops).  The checkpoint
    replaces the batch engine's MAX(incremental_key) watermark — offsets
    are tracked per source file, so reruns never double-load (stronger
    than the reference's >= merge which must re-scan the boundary).
    """
    out = events
    if add_load_ts:
        out = out.withColumn(LOAD_TS_COL, F.current_timestamp())
    return (
        out.writeStream.format("parquet")
        .option("path", dst_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def content_filter_stream(
    docs: DataFrame,
    min_score: float = 0.5,
    languages: Optional[list[str]] = None,
    gopher_bounds: Optional[dict] = None,
    c4: Optional[dict] = None,
    repetition: Optional[dict] = None,
    pii: Optional[dict] = None,
    min_entropy: Optional[float] = None,
) -> DataFrame:
    """Streaming twin of the filter task's row-local scorers: each stage
    is the task's own ``SCORERS`` builder (operators/filter.py) with
    ``with_score`` off — the same oracle-verified column expressions,
    stateless map-side predicates, so the stream needs no watermark, no
    state store, and emits in append mode.  Stages run in this order,
    each only when its argument is given:

    - quality: always, ``min_score``;
    - langid: ``languages`` (non-empty);
    - entropy: ``min_entropy`` (nats);
    - gopher: ``gopher_bounds`` — min_words / max_words /
      min_mean_word_len / max_mean_word_len / max_symbol_permille /
      min_alpha_permille / min_stop_words ({} for the published bounds);
    - c4: ``c4`` — min_sentences / min_words_per_line / rewrite (the
      task's c4_rewrite);
    - repetition: ``repetition`` — max_repetition_ratio /
      max_immediate_repeats / max_dup_line_ppm / max_dup_char_ppm (the
      n-gram coverage gates join a per-doc aggregate: batch task only);
    - pii: ``pii`` — action (the task's pii_action, drop|redact) /
      max_pii, over email and phone.

    Defaults are the task's.  A stage key outside its list, or a stage
    the task's config check would reject, raises ValueError here,
    before any query starts.

    The continuous-crawl front door: filter at ingest, BEFORE the
    expensive dedup/embed stages ever see rejected documents.
    """
    from sayn_spark.operators.filter import apply_scorer, stream_options

    stages = [
        ("quality", {"min_score": min_score}),
        ("langid", {"languages": languages} if languages else None),
        ("entropy", None if min_entropy is None else {"min_entropy": min_entropy}),
        ("gopher", gopher_bounds),
        ("c4", c4),
        ("repetition", repetition),
        ("pii", pii),
    ]
    checked = [
        (scorer, stream_options(scorer, stage))
        for scorer, stage in stages
        if stage is not None
    ]
    out = docs.where(F.col("text").isNotNull())
    for scorer, opts in checked:
        out = apply_scorer(out, scorer, opts)
    return out


def stream_hash_sample(
    docs: DataFrame,
    rate_in: int,
    seed: int = 0,
    id_column: str = "doc_id",
    stratify_by: Optional[str] = None,
    rates: Optional[dict] = None,
) -> DataFrame:
    """Streaming twin of the sample task's ``method: hash``: keep the
    rows whose seeded content-hash bucket is 0, with optional
    per-stratum rates — the SAME predicate the batch task applies
    (operators/sample.py:hash_sample_predicate), so a sampled ingest
    stream and a batch re-materialisation of the same data keep
    IDENTICAL row sets.  Stateless map-side filter: no watermark, no
    state store, append mode — put it in front of the expensive
    dedup/embed stages to downsample a continuous crawl at the door."""
    from sayn_spark.operators.sample import hash_sample_predicate

    return docs.where(
        hash_sample_predicate(id_column, seed, rate_in, stratify_by, rates)
    )
