"""Data-source registry.

The reference resolves named connections to SQLAlchemy engines
(`database/creator.py:21-38`, `core/settings.py:323-340`); here a named
source resolves to a Spark reader: a parquet/csv/json path, a catalog
table, or a JDBC URL.  Reads are distributed and predicate-pushed —
the reference's row-stream copy path (`database/__init__.py:469-489`)
has no equivalent because nothing is ever row-iterated on the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Parquet read confs that change the schema Spark infers from the same
# bytes; each is part of the schema cache key below.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# real path -> (fingerprint, inferred schema); one entry per path, so a
# rewritten file replaces its stale entry instead of accumulating.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _fingerprint(real: str) -> tuple | None:
    """(relative name, st_ino, st_size, st_mtime_ns) of every file at or
    under ``real``; None when the path is not a local file or directory
    (object stores, ``file:`` URIs), which disables the cache for it."""
    try:
        if not os.path.isdir(real):
            st = os.stat(real)
            return (("", st.st_ino, st.st_size, st.st_mtime_ns),)
        out = []
        for root, _dirs, files in os.walk(real):
            for f in files:
                p = os.path.join(root, f)
                st = os.stat(p)
                out.append((os.path.relpath(p, real), st.st_ino, st.st_size, st.st_mtime_ns))
        return tuple(sorted(out))
    except OSError:
        return None


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per
    file version.

    Schema inference is not free: Spark starts one job per read to merge
    parquet footers (``parquet at NativeMethodAccessorImpl.java:0``).
    A session that reads the same unchanged file on every query paid it
    every time.  The inferred ``StructType`` is cached under the real
    path, each file's inode, size and mtime, and the parquet confs that
    change inference; repeat reads pass it to ``spark.read.schema()``
    and start no job.  Rewriting, replacing or adding a file changes
    the key, so the next read infers again."""
    real = os.path.realpath(path)
    stamp = _fingerprint(real)
    if stamp is None:
        return spark.read.parquet(path)
    key = (stamp, tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS))
    hit = _SCHEMAS.get(real)
    if hit is None or hit[0] != key:
        hit = _SCHEMAS[real] = (key, spark.read.parquet(path).schema)
    # every read, the first included, goes through the explicit-schema
    # path: its plans then match across passes and reuse their classes
    return spark.read.schema(hit[1]).parquet(path)


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...] = TESTDATA_TABLES,
    register: bool = True,
) -> dict[str, DataFrame]:
    """Load the driver's parquet tables, optionally registering temp views.

    Column pruning + filter pushdown reach the parquet scan because the
    DataFrames are lazy — downstream .select/.filter get pushed by
    Catalyst into the FileScan (verify via .explain: PushedFilters).
    """
    out: dict[str, DataFrame] = {}
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = read_parquet(spark, path)
        if register:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out


def _require(conf: dict, kind: str, *keys: str) -> None:
    """Clean config error instead of a raw KeyError deep in a writer
    (hazard review r14: a jdbc sink without ``url`` died with
    ``KeyError: 'url'`` and no hint which connection was broken)."""
    missing = [k for k in keys if not conf.get(k)]
    if missing:
        raise ValueError(
            f"{kind} source/sink config is missing required key(s) "
            f"{missing} (got keys {sorted(conf)})"
        )


def _partition_cols(conf: dict) -> list:
    """``partition_by`` as a bare string must mean ONE column: splatting
    the string into partitionBy() partitioned by its CHARACTERS
    (``"date"`` -> cols d, a, t, e — hazard review r14, reproduced as an
    AnalysisException on column ``d``)."""
    cols = conf.get("partition_by")
    if not cols:
        return []
    return [cols] if isinstance(cols, str) else list(cols)


def write_sink(df: DataFrame, conf: dict, mode: str = "overwrite") -> None:
    """Write a DataFrame to a configured sink:

    - {"type": "parquet"|"orc"|"csv"|"json"|"text", "path": ...,
       "partition_by": [...], **options}  (any Spark-core file format;
       avro would need the spark-avro package, which is not baked in)
    - {"type": "table", "name": catalog_table}
    - {"type": "jdbc", "url": ..., "table": ...}

    Partitioned parquet directories are the 100 TB-friendly sink: each
    partition value is a prunable directory, writers are fully parallel.
    """
    kind = conf.get("type") or "parquet"  # None type = unset (empty YAML entry)
    if kind == "table":
        _require(conf, "table", "name")
        writer = df.write.mode(mode)
        # partition_by applies to catalog sinks too — dropping it
        # silently wrote an unpartitioned table (review r12)
        if _partition_cols(conf):
            writer = writer.partitionBy(*_partition_cols(conf))
        writer.saveAsTable(conf["name"])
        return
    if kind == "jdbc":
        _require(conf, "jdbc", "url", "table")
        writer = df.write.format("jdbc").option("url", conf["url"]).option(
            "dbtable", conf["table"]
        )
        # pass EVERY remaining option through (driver, batchsize,
        # isolationLevel, ...) — a whitelist silently dropped options
        # the connection genuinely needs (review r12).  None values are
        # "unset" (an empty YAML entry), not the string "None" (r14).
        for key, v in conf.items():
            if key not in ("type", "url", "table") and v is not None:
                writer = writer.option(key, str(v))
        writer.mode(mode).save()
        return
    _require(conf, kind, "path")
    writer = df.write.format(kind).mode(mode)
    if _partition_cols(conf):
        writer = writer.partitionBy(*_partition_cols(conf))
    # None option values are "unset", not a null into the JVM — an empty
    # YAML entry (``compression:``) used to kill the write with a Spark
    # INTERNAL_ERROR (hazard review r14, reproduced)
    for k, v in conf.items():
        if k not in ("type", "path", "partition_by") and v is not None:
            writer = writer.option(k, v)
    if kind == "csv" and "header" not in conf:
        writer = writer.option("header", "true")
    writer.save(conf["path"])


def read_source(spark: SparkSession, conf: dict) -> DataFrame:
    """Read a configured source. ``conf`` mirrors a sayn connection entry:

    - {"type": "parquet"|"orc"|"csv"|"json"|"text", "path": ..., **options}
    - {"type": "table", "name": catalog_table}
    - {"type": "jdbc", "url": ..., "table"|"query": ..., "partition_column":
       ..., "num_partitions": ..., "lower_bound": ..., "upper_bound": ...}

    JDBC reads are partitioned when bounds are given so a big source
    table is pulled by N executors in parallel instead of one cursor
    (the reference streams one server-side cursor: `tasks/copy.py:426-541`).
    """
    kind = conf.get("type") or "parquet"  # None type = unset (empty YAML entry)
    if kind == "table":
        _require(conf, "table", "name")
        return spark.table(conf["name"])
    if kind == "jdbc":
        _require(conf, "jdbc", "url")
        reader = spark.read.format("jdbc").option("url", conf["url"])
        if conf.get("query") is not None:  # None query = unset, same rule
            reader = reader.option("query", conf["query"])
        else:
            _require(conf, "jdbc", "table")
            reader = reader.option("dbtable", conf["table"])
        renames = {
            "partition_column": "partitionColumn",
            "num_partitions": "numPartitions",
            "lower_bound": "lowerBound",
            "upper_bound": "upperBound",
        }
        # snake_case spark-option aliases map; every OTHER option passes
        # through verbatim (driver, fetchsize, sessionInitStatement, ...)
        # — the old whitelist silently dropped them and a read without
        # its JDBC driver class fails with "No suitable driver".  None
        # values are "unset" (empty YAML entry), not the string "None"
        # (hazard review r14).
        for key, v in conf.items():
            if key in ("type", "url", "query", "table") or v is None:
                continue
            reader = reader.option(renames.get(key, key), str(v))
        return reader.load()
    _require(conf, kind, "path")
    reader = spark.read.format(kind)
    # `schema` is a reader METHOD, not an option: the generic option
    # passthrough silently discarded it (hazard review r14 second
    # pass), so a user-declared schema never applied.  A DDL string
    # ("a long, b string") is what reader.schema accepts directly.
    if conf.get("schema") is not None:
        reader = reader.schema(conf["schema"])
    for k, v in conf.items():
        if k not in ("type", "path", "schema") and v is not None:
            reader = reader.option(k, v)
    if kind == "csv":
        # each default applies independently of the other: an explicit
        # header must not disable schema inference, and an explicit
        # inferSchema must never be overridden (review r12)
        if "header" not in conf:
            reader = reader.option("header", "true")
        if "inferSchema" not in conf:
            reader = reader.option("inferSchema", "true")
    try:
        return reader.load(conf["path"])
    except Exception as exc:
        # an EMPTY landing directory (routine: a copy task scheduled
        # before the first files arrive) surfaced as a cryptic
        # UNABLE_TO_INFER_SCHEMA naming neither the path nor the remedy
        if "UNABLE_TO_INFER_SCHEMA" not in str(exc):
            raise
        raise ValueError(
            f"{kind} source at {conf['path']!r} contains no data files to "
            "infer a schema from (empty landing directory?) — declare an "
            "explicit `schema` on the source to read it as empty, or wait "
            "for files to arrive"
        ) from exc
