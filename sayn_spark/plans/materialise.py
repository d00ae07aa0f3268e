"""Materialisation plans: the engine's own relational logic.

The reference materialises with generated DDL strings
(`database/__init__.py:747-846`, `database/templates/merge_tables.sql:1-12`):

    DELETE FROM dst WHERE EXISTS (SELECT * FROM src WHERE src.key = dst.key);
    INSERT INTO dst SELECT * FROM src;

Here the same semantics are a DataFrame plan: anti-join out the
replaced keys, union the new batch.  On a cluster the anti join
broadcasts when the incremental batch is small (the common case — a
day's delta vs years of history), so the merge costs one scan of dst
and no wide shuffle.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def merge_dataframes(
    dst: DataFrame, src: DataFrame, delete_key: str | Sequence[str]
) -> DataFrame:
    """Delete-insert merge (ref: merge_tables.sql:1-12).

    Rows in ``dst`` whose ``delete_key`` appears in ``src`` are dropped;
    all of ``src`` is appended.  NULL delete keys in src do not match
    any dst row (SQL EXISTS semantics: NULL = NULL is not true), so dst
    rows with NULL keys survive unless src also carries them — matched
    by the reference's correlated-EXISTS equality.

    No explicit broadcast hint: the common small-delta case broadcasts
    anyway via AQE's runtime size check (the distinct key set is tiny),
    while a huge first-backfill delta — where a forced broadcast would
    OOM executors — falls back to a shuffled anti join.  AQE sees the
    *actual* post-aggregation size, which beats any static guess we
    could make here.
    """
    check_merge_columns(src.columns, dst.columns)
    keys = [delete_key] if isinstance(delete_key, str) else list(delete_key)
    src_keys = src.select(*keys).distinct()
    # a USING join puts its key columns first; the select keeps dst's
    # column order when the delete key is not its leading column
    kept = dst.join(src_keys, on=keys, how="left_anti").select(*dst.columns)
    return kept.unionByName(src.select(*dst.columns))


def check_merge_columns(src_cols: Sequence[str], dst_cols: Sequence[str]) -> None:
    """An incremental merge cannot evolve the destination schema.

    Without this check an extra source column was SILENTLY dropped
    (hazard review r14 second pass, reproduced): a user who adds a
    column to their incremental SQL sees every run succeed while the
    new column never materialises.  The reference's positional
    ``INSERT INTO dst SELECT * FROM src`` errors on any column-count
    mismatch (merge_tables.sql:1-12) — failing loudly here is parity,
    and the message names the remedy (a full load rebuilds dst with
    the new schema).  A missing source column previously surfaced as a
    raw UNRESOLVED_COLUMN AnalysisException; same clean error now.
    """
    src_set, dst_set = set(src_cols), set(dst_cols)
    extra = [c for c in src_cols if c not in dst_set]
    missing = [c for c in dst_cols if c not in src_set]
    if extra or missing:
        parts = []
        if extra:
            parts.append(f"source has column(s) {extra!r} not in the destination")
        if missing:
            parts.append(f"source is missing destination column(s) {missing!r}")
        raise ValueError(
            "incremental merge: " + " and ".join(parts) + "; a merge cannot "
            "change the destination schema — run the task with full load to "
            "rebuild the destination with the new schema"
        )


def nan_safe_max(df: DataFrame, column: str):
    """Watermark MAX that skips NaN on float keys (hazard review r14).

    Spark's MAX ranks NaN above every number, so one NaN row poisons
    the watermark: ``key >= NaN`` matches only NaN and every later
    incremental load silently skips all real data forever (reproduced).
    All-NaN or empty input yields None = full reload.
    """
    col = F.col(column)
    if dict(df.dtypes).get(column) in ("float", "double"):
        col = F.when(F.isnan(col), F.lit(None)).otherwise(col)
    return df.agg(F.max(col).alias("m")).collect()[0]["m"]


def incremental_filter(
    df: DataFrame, incremental_key: str, last_max, include_null: bool = True
) -> DataFrame:
    """Incremental extraction predicate (ref: tasks/copy.py:668-675):
    ``inc_key >= max(dst.inc_key) OR inc_key IS NULL``.

    The NULL arm is part of the reference contract — rows with NULL
    incremental keys are *always* reloaded.  The predicate is a plain
    comparison so it pushes down to parquet/JDBC scans.
    """
    if last_max is None:
        return df
    cond: Column = F.col(incremental_key) >= F.lit(last_max)
    if include_null:
        cond = cond | F.col(incremental_key).isNull()
    return df.where(cond)
