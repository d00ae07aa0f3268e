"""Central registry mapping query name -> (spark impl, duckdb oracle)."""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from sayn_spark.sources.registry import read_parquet


@dataclass
class Query:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # ANSI SQL for DuckDB; None => rows-only check
    doc: str = ""


REGISTRY: dict[str, Query] = {}

# DataFrames persisted by query builders, awaiting release.  Query
# functions return lazily, so they cannot unpersist their own
# intermediates — the terminal action happens in the caller.  Builders
# persist via persist_tracked(); runners (bench, parity sweep, App)
# call release_persisted() after the action so long-lived sessions
# don't accumulate cached partitions across queries.  Each entry
# records the thread that persisted it: App runs tasks on a thread
# pool, and one task's release must not drop a frame a concurrent task
# is still reading (Spark would silently recompute it).
_PERSISTED: list[tuple[int, DataFrame]] = []
_PERSISTED_LOCK = threading.Lock()


def persist_tracked(df: DataFrame, level=None, eager: bool = False) -> DataFrame:
    """persist(MEMORY_AND_DISK) + bookkeeping for release_persisted().

    ``eager=True`` materialises the cache NOW (one count job) before
    returning.  Use it when the frame is expensive AND its first
    consumers run concurrently: Spark builds broadcast relations on
    separate driver threads, and two jobs racing an unpopulated cache
    each recompute the full lineage (block-level put wins once, the
    work happens twice) — profiled at 3-4 full evaluations of the DSIR
    feature frame before this barrier existed.  For frames consumed
    once, or consumed strictly sequentially, keep the default lazy
    persist: the extra pass would only add a job."""
    from pyspark.storagelevel import StorageLevel

    df = df.persist(level or StorageLevel.MEMORY_AND_DISK)
    with _PERSISTED_LOCK:
        _PERSISTED.append((threading.get_ident(), df))
    if eager:
        df.count()
    return df


def release_persisted(all_threads: bool = False) -> int:
    """Unpersist the tracked intermediates this thread persisted (every
    thread's with ``all_threads=True``, for end-of-run cleanup); returns
    the count released."""
    me = threading.get_ident()

    def owned(entry: tuple[int, DataFrame]) -> bool:
        return all_threads or entry[0] == me

    with _PERSISTED_LOCK:
        mine = [df for _, df in filter(owned, _PERSISTED)]
        _PERSISTED[:] = [e for e in _PERSISTED if not owned(e)]
    n = 0
    for df in reversed(mine):
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return n


def register(name: str, oracle: str | None = None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = Query(fn=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (lazy parquet scan; Catalyst prunes/pushes).

    events.parquet has shipped with two physical ``ts`` encodings across
    testdata generations: TIMESTAMP(NANOS) (Spark reads it as int64 ns
    under the legacy conf) and plain timestamp[us] without UTC
    adjustment (Spark 4 reads it as TIMESTAMP_NTZ, which ``unix_micros``
    and streaming time ops reject).  Normalise both to a session-tz
    TIMESTAMP — with the engine's fixed UTC session timezone this is the
    same wall-clock instant DuckDB's ``epoch_us`` sees, and it is a pure
    column expression (no driver materialisation, pushdown unaffected).
    """
    if name == "events":
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
