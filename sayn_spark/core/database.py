"""SparkDatabase: the single "warehouse" of the engine.

The reference talks to N warehouses over SQLAlchemy with per-dialect
feature flags (`database/__init__.py:101-176`); here there is exactly
one dialect — Spark SQL — so the feature-flag axis collapses
(SURVEY §2.2).  All DDL/DML paths the reference implements as SQL
string templates become catalog operations + DataFrame writes:

- replace_table   -> CREATE TABLE AS via saveAsTable(overwrite) or the
                     tmp+rename swap (kept for parity; ref
                     database/__init__.py:747-787)
- replace_view    -> CREATE OR REPLACE VIEW (ref :789-817)
- merge_tables    -> anti-join+union plan written to a staging table,
                     then swap (ref :678-699 + merge_tables.sql:1-12)
- load_data       -> spark.createDataFrame().write (ref :513-587)
- introspection   -> spark.catalog (ref :190-237)
"""

from __future__ import annotations

from typing import Any, Iterable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sayn_spark.plans.materialise import merge_dataframes


def split_statements(script: str) -> list[str]:
    """Split a multi-statement SQL script on ';' outside quotes/comments
    (the reference ships whole scripts to the warehouse; Spark needs one
    statement per spark.sql call)."""
    stmts: list[str] = []
    buf: list[str] = []
    quote: Optional[str] = None
    i, n = 0, len(script)
    while i < n:
        ch = script[i]
        if quote:
            buf.append(ch)
            if ch == quote:
                # the quote closes only under an EVEN run of preceding
                # backslashes: '\\' (a literal backslash) ends the
                # string, '\'' (an escaped quote) does not — checking
                # one character would leave the scanner in-quote after
                # a literal ending in a backslash and swallow every
                # later ';'
                bs = 0
                j = i - 1
                while j >= 0 and script[j] == "\\":
                    bs += 1
                    j -= 1
                if bs % 2 == 0:
                    quote = None
        elif ch in ("'", '"', "`"):
            quote = ch
            buf.append(ch)
        elif ch == "-" and script[i : i + 2] == "--":
            j = script.find("\n", i)
            j = n if j < 0 else j
            buf.append(script[i:j])
            i = j - 1
        elif ch == "/" and script[i : i + 2] == "/*":
            # Spark SQL supports NESTED bracketed comments (SPARK-28880),
            # so scan with a depth counter — closing at the first '*/'
            # would let a ';' in the tail of an outer comment split the
            # statement mid-comment
            depth = 1
            j = i + 2
            while j < n and depth:
                if script[j : j + 2] == "/*":
                    depth += 1
                    j += 2
                elif script[j : j + 2] == "*/":
                    depth -= 1
                    j += 2
                else:
                    j += 1
            buf.append(script[i:j])
            i = j - 1
        elif ch == ";":
            stmts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
        i += 1
    stmts.append("".join(buf))
    return [s.strip() for s in stmts if s.strip()]


def delta_enabled(spark: SparkSession) -> bool:
    """Capability probe: delta-spark importable AND the session built
    with the Delta SQL extension (MERGE INTO etc. parse only then)."""
    from sayn_spark.session import delta_installed

    if not delta_installed():
        return False
    try:
        ext = spark.conf.get("spark.sql.extensions", "") or ""
    except Exception:
        return False
    return "DeltaSparkSessionExtension" in ext


class SparkDatabase:
    def __init__(
        self, spark: SparkSession, name: str = "spark", use_delta: Optional[bool] = None
    ) -> None:
        self.spark = spark
        self.name = name
        # Delta upgrades (probe once per database object): managed tables
        # written as Delta, merge_tables -> MERGE INTO, replace_table ->
        # single ACID overwrite.  Explicit use_delta overrides the probe.
        self.use_delta = delta_enabled(spark) if use_delta is None else use_delta

    # -- execution (ref: database/__init__.py:441-448) ------------------

    def execute(self, script: str) -> Optional[DataFrame]:
        """Run a (possibly multi-statement) SQL script; returns the last
        statement's DataFrame."""
        result = None
        for stmt in split_statements(script):
            result = self.spark.sql(stmt)
        return result

    def read_data(self, query: str) -> list[dict]:
        """SELECT -> list of dicts (ref: database/__init__.py:450-467).
        Driver-side by design — only for small control-plane reads."""
        return [row.asDict() for row in self.spark.sql(query).collect()]

    def read_data_stream(self, query: str) -> Iterable[dict]:
        """Iterator variant (ref: :469-489) via toLocalIterator."""
        for row in self.spark.sql(query).toLocalIterator():
            yield row.asDict()

    # -- introspection (ref: database/__init__.py:190-237) --------------

    def table_exists(self, name: str) -> bool:
        return self.spark.catalog.tableExists(name)

    def object_type(self, name: str) -> Optional[str]:
        """'table' | 'view' | None (ref maps INFORMATION_SCHEMA types,
        database/__init__.py:231-237)."""
        if not self.spark.catalog.tableExists(name):
            return None
        parts = name.split(".")
        db = ".".join(parts[:-1]) if len(parts) > 1 else None
        for t in self.spark.catalog.listTables(db):
            if t.name == parts[-1]:
                return "view" if t.tableType in ("VIEW", "TEMPORARY") else "table"
        return "table"

    def _ensure_database(self, name: str) -> None:
        parts = name.split(".")
        if len(parts) > 1:
            self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {'.'.join(parts[:-1])}")

    # -- DDL primitives --------------------------------------------------

    def drop_object(self, name: str) -> None:
        """DROP TABLE/VIEW IF EXISTS, whichever it is (ref create_table
        template drops conflicting objects, create_table.sql:1-20)."""
        kind = self.object_type(name)
        if kind == "view":
            self.spark.sql(f"DROP VIEW IF EXISTS {name}")
        elif kind == "table":
            self.spark.sql(f"DROP TABLE IF EXISTS {name}")

    def create_table(
        self,
        name: str,
        df: DataFrame,
        mode: str = "overwrite",
        partition_by: Optional[Sequence[str]] = None,
        bucket_by: Optional[tuple[int, Sequence[str]]] = None,
        sort_by: Optional[Sequence[str]] = None,
        merge_schema: bool = False,
        zorder_by: Optional[Sequence[str]] = None,
        table_format: Optional[str] = None,
    ) -> None:
        """Materialise a DataFrame as a managed table.  partition/bucket/
        sort map the reference's per-warehouse DDL extensions (BigQuery
        partition/cluster `database/bigquery.py:23-77`, Redshift
        dist/sort `database/redshift.py:19-94`) onto Spark's writer.
        ``merge_schema`` lets appends add new columns (the reference's
        CANNOT CHANGE SCHEMA flag inverted: Spark CAN, when asked).

        ``zorder_by`` (exactly two integer columns) lays the table out
        along the Morton curve — Delta's OPTIMIZE ZORDER as a write
        option: rows are range-partitioned and locally sorted by the
        interleaved key (q_zorder_layout measures what that buys), so
        per-file min/max stats prune on EITHER column's predicates.
        The key is computed transiently and never stored.

        ``table_format`` pins the writer format explicitly (used by
        layout-preserving rewrites — see table_layout).  When omitted,
        an APPEND onto an existing table inherits the table's own
        provider: on a delta-enabled session a blind format('delta')
        append onto a pre-existing parquet table is an
        AnalysisException, not an append (second-pass review r12).
        """
        if table_format == "delta" and bucket_by:
            # Delta has no bucketBy: silently writing the session
            # default provider would hand the caller a different table
            # than the one they pinned (advice r12)
            raise ValueError(
                "create_table: Delta does not support bucketBy — drop "
                "bucket_by or pin table_format='parquet'"
            )
        if zorder_by is not None:
            if bucket_by or sort_by:
                raise ValueError(
                    "create_table: zorder_by is its own physical layout — "
                    "combine with partition_by only, not bucket/sort"
                )
            if len(zorder_by) != 2:
                raise ValueError(
                    "create_table: zorder_by takes exactly two integer "
                    "columns (widen zorder_key_expr for more dimensions)"
                )
            from sayn_spark.functions.scale import zorder_key_expr

            a, b = zorder_by
            n_parts = self.spark.sparkContext.defaultParallelism
            df = (
                df.withColumn("__sayn_zkey__", F.expr(zorder_key_expr(a, b)))
                .repartitionByRange(n_parts, "__sayn_zkey__")
                .sortWithinPartitions("__sayn_zkey__")
                .drop("__sayn_zkey__")
            )
        self._ensure_database(name)
        if mode == "overwrite":
            # saveAsTable(overwrite) can't replace a VIEW; clear it first
            if self.object_type(name) == "view":
                self.drop_object(name)
        if mode == "append" and merge_schema and self.table_exists(name):
            # evolve the catalog schema: ADD COLUMNS for new fields, then
            # realign the batch to the widened schema (missing -> NULL)
            existing_names = {f.name for f in self.spark.table(name).schema.fields}
            new_fields = [f for f in df.schema.fields if f.name not in existing_names]
            if new_fields:
                cols_ddl = ", ".join(
                    f"{f.name} {f.dataType.simpleString()}" for f in new_fields
                )
                self.spark.sql(f"ALTER TABLE {name} ADD COLUMNS ({cols_ddl})")
            target = self.spark.table(name).schema
            df = df.select(
                *[
                    (F.col(f.name) if f.name in df.columns else F.lit(None))
                    .cast(f.dataType)
                    .alias(f.name)
                    for f in target.fields
                ]
            )
        fmt = table_format
        if mode == "append" and self.table_exists(name):
            # an append must MATCH the table's existing physical spec —
            # Spark rejects a mismatched partition/bucket spec outright
            # and a blind format('delta') onto a parquet table is an
            # AnalysisException — so unspecified aspects inherit the
            # table's own layout instead of the session defaults
            layout = self.table_layout(name)
            fmt = fmt or layout["table_format"]
            partition_by = partition_by or layout["partition_by"]
            if bucket_by is None and layout["bucket_by"] is not None:
                bucket_by = layout["bucket_by"]
                sort_by = sort_by or layout["sort_by"]
        writer = df.write.mode(mode)
        if fmt and not (fmt == "delta" and bucket_by):
            writer = writer.format(fmt)
        elif fmt is None and self.use_delta and not bucket_by:
            # Delta doesn't support bucketBy; bucketed tables stay on the
            # session default (parquet) — everything else goes ACID
            writer = writer.format("delta")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if bucket_by:
            n, cols = bucket_by
            writer = writer.bucketBy(n, *cols)
            if sort_by:
                writer = writer.sortBy(*sort_by)
        writer.saveAsTable(name)

    def move_table(self, src: str, dst: str) -> None:
        """DROP dst; RENAME src->dst (ref: database/__init__.py:701-743).

        refreshTable afterwards: sessions that read dst before the swap
        hold a cached file listing pointing at dropped files (observed
        as FAILED_READ_FILE on the next read without it).

        PARTITIONED tables need one more step: ALTER TABLE RENAME moves
        the base directory but leaves every PARTITION's catalog location
        pointing at the OLD path, so the renamed table reads ZERO rows
        (verified empirically — silent data loss, not an error).  MSCK
        SYNC PARTITIONS drops the dead-location entries and re-discovers
        them under the new base; metadata-only, cost = one directory
        listing.  DELTA tables are exempt (advice r12): their
        partitions live in the delta log, not the metastore, so the
        rename alone is complete — and MSCK REPAIR on a Delta table is
        an AnalysisException, not a no-op.
        """
        self.drop_object(dst)
        self.spark.sql(f"ALTER TABLE {src} RENAME TO {dst}")
        if any(
            c.isPartition for c in self.spark.catalog.listColumns(dst)
        ) and self._table_provider(dst) != "delta":
            self.spark.sql(f"MSCK REPAIR TABLE {dst} SYNC PARTITIONS")
        self.spark.catalog.refreshTable(dst)

    def replace_table(
        self,
        name: str,
        df: DataFrame,
        tmp_swap: bool = False,
        tmp_name: Optional[str] = None,
        **writer_opts: Any,
    ) -> None:
        """Full rebuild (ref: database/__init__.py:747-787).

        Spark's overwrite is job-atomic, so the reference's mandatory
        tmp+swap is optional here (kept for parity / strict atomicity
        with concurrent readers of the same session catalog).  On a
        Delta catalog the direct path is a transactional REPLACE —
        readers of the previous version are never broken, so tmp_swap
        adds nothing there.
        """
        if tmp_swap:
            tmp = tmp_name or _tmp_name(name)
            self.drop_object(tmp)
            self.create_table(tmp, df, mode="overwrite", **writer_opts)
            self.move_table(tmp, name)
        else:
            self.create_table(name, df, mode="overwrite", **writer_opts)

    def replace_view(self, name: str, select: str) -> None:
        """ref: database/__init__.py:789-817 + create_view.sql:1-18."""
        if self.object_type(name) == "table":
            self.drop_object(name)
        self._ensure_database(name)
        self.spark.sql(f"CREATE OR REPLACE VIEW {name} AS {select}")

    def _table_provider(self, name: str) -> Optional[str]:
        """'delta' | 'parquet' | ... from DESCRIBE EXTENDED."""
        try:
            rows = self.spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
        except Exception:
            return None
        for r in rows:
            if r.col_name == "Provider":
                return (r.data_type or "").strip().lower()
        return None

    def table_layout(self, name: str) -> dict:
        """The physical layout of an existing catalog table, in
        create_table's own vocabulary: ``{"table_format", "partition_by",
        "bucket_by", "sort_by"}`` (absent aspects are None).  Any rewrite
        that replaces a table wholesale (merge_tables' parquet fallback,
        compact_table) MUST re-apply this — a staging table written with
        session defaults silently drops the destination's partitioning
        and can flip its provider, degrading every downstream scan's
        partition pruning (second-pass review r12)."""
        layout: dict = {
            "table_format": self._table_provider(name),
            "partition_by": None,
            "bucket_by": None,
            "sort_by": None,
        }
        parts = [c.name for c in self.spark.catalog.listColumns(name) if c.isPartition]
        if parts:
            layout["partition_by"] = parts

        def cols_of(v: str) -> list:
            return [c.strip(" `") for c in v.strip("[]").split(",") if c.strip(" `")]

        try:
            rows = {
                r.col_name: (r.data_type or "")
                for r in self.spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
            }
        except Exception:
            return layout
        if rows.get("Num Buckets") and rows.get("Bucket Columns"):
            layout["bucket_by"] = (
                int(rows["Num Buckets"]), cols_of(rows["Bucket Columns"])
            )
            sort_cols = cols_of(rows.get("Sort Columns", ""))
            if sort_cols:
                layout["sort_by"] = sort_cols
        return layout

    def merge_tables(self, src_name: str, dst_name: str, delete_key: str | Sequence[str]) -> None:
        """Incremental merge: delete-on-key + insert-all + drop staging
        (ref: database/__init__.py:678-699, merge_tables.sql:1-12).

        Delta destination: the reference template's two statements run
        natively and ACID — MERGE INTO ... WHEN MATCHED THEN DELETE on
        the distinct src keys (plain ``=`` so NULL src keys match
        nothing, the reference's EXISTS semantics), then INSERT all of
        src.  No table rewrite: Delta touches only the files holding
        matched keys.

        Parquet fallback: anti-join+union written to a staging table,
        then swapped in via rename (a table can't be overwritten from a
        plan that reads it).
        """
        from sayn_spark.plans.materialise import check_merge_columns

        # schema-drift gate for BOTH branches: the Delta INSERT below
        # lists dst's columns by name, which would silently ignore an
        # extra src column (and raw-error on a missing one) — same
        # hazard merge_dataframes had (review r14 second pass)
        check_merge_columns(
            self.spark.table(src_name).columns, self.spark.table(dst_name).columns
        )
        if self.use_delta and self._table_provider(dst_name) == "delta":
            keys = [delete_key] if isinstance(delete_key, str) else list(delete_key)
            on = " AND ".join(f"d.{k} = s.{k}" for k in keys)
            key_list = ", ".join(keys)
            self.spark.sql(
                f"MERGE INTO {dst_name} AS d "
                f"USING (SELECT DISTINCT {key_list} FROM {src_name}) AS s "
                f"ON {on} WHEN MATCHED THEN DELETE"
            )
            cols = ", ".join(self.spark.table(dst_name).columns)
            self.spark.sql(
                f"INSERT INTO {dst_name} ({cols}) SELECT {cols} FROM {src_name}"
            )
            self.drop_object(src_name)
            return
        src = self.spark.table(src_name)
        dst = self.spark.table(dst_name)
        merged = merge_dataframes(dst, src, delete_key)
        staging = _tmp_name(dst_name, "_sayn_merge")
        self.drop_object(staging)
        # the swap replaces dst wholesale: the staging write must carry
        # dst's OWN physical layout (partitioning/bucketing/provider) or
        # every merge silently strips it — partition pruning regresses
        # for all downstream scans and a parquet dst would flip to the
        # session default format
        self.create_table(staging, merged, mode="overwrite", **self.table_layout(dst_name))
        self.move_table(staging, dst_name)
        self.drop_object(src_name)

    def merge_frame(
        self,
        name: str,
        df: DataFrame,
        delete_key: str | Sequence[str],
        staging_suffix: str = "",
        **writer_opts: Any,
    ) -> None:
        """Incremental write of a frame (ref: tasks/autosql.py:349-358):
        create ``name`` from ``df`` when it is missing, otherwise stage
        ``df`` as ``_tmp_name(name, staging_suffix)`` and merge_tables
        it on ``delete_key``.  ``writer_opts`` go to create_table.

        A crash inside merge_tables' parquet swap — after move_table
        dropped the destination, before the rename — leaves no
        destination and a complete ``_sayn_merge`` table (Spark's CTAS
        writes the data before the catalog entry, so a staging table
        that exists is whole).  Creating the destination from ``df``
        alone would lose every earlier row, and the next merge would
        drop the orphan; so the create branch finishes that swap first
        and then merges.
        """
        if not self.table_exists(name):
            swap = _tmp_name(name, "_sayn_merge")
            if not self.table_exists(swap):
                self.create_table(name, df, mode="overwrite", **writer_opts)
                return
            self.move_table(swap, name)
        staging = _tmp_name(name, staging_suffix)
        self.drop_object(staging)
        self.create_table(staging, df, mode="overwrite", **writer_opts)
        self.merge_tables(staging, name, delete_key)

    def append_frame(self, name: str, df: DataFrame, **writer_opts: Any) -> None:
        """The append twin of merge_frame, for writers whose frame holds
        only rows ``name`` lacks (an anti-join on the destination made
        it): create ``name`` from ``df`` when it is missing, otherwise
        append ``df`` when it has rows, so a run with nothing new writes
        nothing.  ``writer_opts`` go to create_table."""
        if not self.table_exists(name):
            self.create_table(name, df, mode="overwrite", **writer_opts)
        elif not df.isEmpty():
            self.create_table(name, df, mode="append", **writer_opts)

    # -- data loading (ref: database/__init__.py:513-587) ---------------

    def load_data(
        self,
        table: str,
        data: Sequence[dict],
        schema: Optional[Any] = None,
        replace: bool = False,
    ) -> int:
        """Python rows -> table.  The reference batches INSERTs of
        max_batch_rows=50000 (`database/__init__.py:129`); Spark's
        distributed write makes batching moot — one createDataFrame,
        one write.

        Degenerate inputs (hazard review r14 second pass): zero rows
        without a schema is a no-op returning 0 — the reference's
        batched INSERT loop simply never executes (database/
        __init__.py:513-587), while createDataFrame raised a raw
        CANNOT_INFER_EMPTY_SCHEMA (an empty incremental extract is
        routine, not an error).  Zero rows WITH a schema still creates/
        replaces the (empty) table.  An all-None column without a
        schema raised a raw CANNOT_DETERMINE_TYPE naming nothing; the
        error now names the undeterminable columns and the remedy.
        """
        data = list(data)
        if not data and schema is None:
            return 0
        try:
            df = self.spark.createDataFrame(data, schema=schema)
        except Exception as exc:
            if "CANNOT_DETERMINE_TYPE" not in str(exc):
                raise
            try:
                rows = [dict(r) if isinstance(r, dict) else r.asDict() for r in data]
                all_none = sorted(
                    {k for r in rows for k, v in r.items() if v is None}
                    - {k for r in rows for k, v in r.items() if v is not None}
                )
            except Exception:
                all_none = []
            raise ValueError(
                f"load_data into {table!r}: column(s) {all_none!r} are None in "
                "every record, so their types cannot be inferred — pass an "
                "explicit schema"
            ) from exc
        mode = "overwrite" if replace or not self.table_exists(table) else "append"
        self.create_table(table, df, mode=mode)
        return len(data)

    def get_max_value(self, table: str, column: str):
        """MAX(inc_key) for incremental loads (ref: tasks/copy.py:634-637).

        Float keys skip NaN: Spark's MAX ranks NaN above every number,
        so ONE NaN row would poison the watermark — ``key >= NaN``
        matches only NaN, and every later incremental load silently
        skips all real data forever (hazard review r14, reproduced).
        A NaN-free max keeps a sane watermark; all-NaN (or empty)
        yields None = full reload.
        """
        if not self.table_exists(table):
            return None
        from sayn_spark.plans.materialise import nan_safe_max

        return nan_safe_max(self.spark.table(table), column)


def _tmp_name(name: str, suffix: str = "") -> str:
    """tmp table next to the destination (ref sayn_tmp_ prefix,
    tasks/autosql.py:184-210)."""
    parts = name.split(".")
    parts[-1] = f"sayn_tmp_{parts[-1]}{suffix}"
    return ".".join(parts)
