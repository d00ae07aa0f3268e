"""Task base + lifecycle (ref: tasks/task.py:31-127, statuses :13-28).

Lifecycle: config -> setup -> run | compile | test.  Tasks register
``src``/``out`` objects during config; the app turns producers of
sources into implicit DAG parents (ref: core/app.py:419-432).
"""

from __future__ import annotations

import enum
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession

from sayn_spark.core.compiler import Compiler
from sayn_spark.core.database import SparkDatabase
from sayn_spark.core.objects import DbObject, DbObjectCompiler


class TaskStatus(enum.Enum):
    NOT_CONFIGURED = "not_configured"
    READY = "ready"
    EXECUTING = "executing"
    SUCCESS = "success"
    FAILED = "failed"
    SKIPPED = "skipped"


# the ONE home of the concurrent-task default — the CLI option, its
# wrapper, and the executor fallback all read this (dedup, r13)
DEFAULT_JOBS = 8


@dataclass
class RunArguments:
    """ref: core/app.py:53-95."""

    command: str = "run"  # run | compile | test
    full_load: bool = False
    start_dt: Optional[Any] = None
    end_dt: Optional[Any] = None
    with_tests: bool = False
    fail_fast: bool = False
    # read unselected upstream sources from their prod names
    # (ref: core/app.py:503-511, tasks/task_wrapper.py:324-331)
    upstream_prod: bool = False
    include: list[str] = field(default_factory=list)
    exclude: list[str] = field(default_factory=list)
    # concurrent tasks per DAG level (the reference is fixed at 1,
    # core/app.py:619; >1 submits independent Spark jobs in parallel)
    jobs: int = DEFAULT_JOBS


@dataclass
class TaskContext:
    spark: SparkSession
    db: SparkDatabase
    compiler: Compiler
    obj_compiler: DbObjectCompiler
    run_arguments: RunArguments
    parameters: dict[str, Any]
    connections: dict[str, Any]
    project_dir: Path


class _NullTracker:
    """Absorbs tracker calls when no EventTracker is attached."""

    def __getattr__(self, name: str):
        return lambda *a, **k: None


_NULL_TRACKER = _NullTracker()


class Task:
    """One DAG node.  Subclasses implement setup/run/compile/test."""

    # the task type as config errors name it ("dedup task 'x' needs source")
    kind = "task"
    # set by read_load_mode; write_destination appends when True
    incremental = False

    def __init__(self, name: str, config: dict, context: TaskContext) -> None:
        self.name = name
        self.group: Optional[str] = config.get("group")
        self.tags: list[str] = list(config.get("tags", []))
        self.parents: list[str] = list(config.get("parents", []))
        self.on_fail: str = config.get("on_fail", "skip")  # ref task_wrapper.py:269-300
        self.task_parameters: dict[str, Any] = dict(config.get("parameters", {}))
        self.config_dict = config
        self.context = context
        self.status = TaskStatus.NOT_CONFIGURED
        self.error: Optional[str] = None
        # per-task event tracker, set by App right before execution; the
        # default no-op keeps tasks constructed outside App working
        self.tracker = _NULL_TRACKER
        self.sources: set[DbObject] = set()
        self.outputs: set[DbObject] = set()
        # in-file config() overrides (ref: tasks/sql.py:279-347)
        self._config_overrides: dict[str, Any] = {}
        # attribute -> compiled name of every declare_table source
        self._declared_sources: dict[str, str] = {}

    # -- src/out/config macros (ref: tasks/task_wrapper.py:438-457) -----

    def src(self, obj: str, connection: Optional[str] = None, level: Optional[str] = None) -> str:
        o = self.context.obj_compiler.from_string(obj, connection=connection, level=level)
        self.sources.add(o)
        return self.context.obj_compiler.src_value(o)

    def out(self, obj: str, connection: Optional[str] = None, level: Optional[str] = None) -> str:
        o = self.context.obj_compiler.from_string(obj, connection=connection, level=level)
        self.outputs.add(o)
        return self.context.obj_compiler.out_value(o)

    def declare_table(
        self, key: str, attr: str, output: bool = False, needs: Optional[str] = None
    ) -> str:
        """The pipeline tasks' src()/out(): Jinja-compile the table that
        the required config key ``key`` names, register it as a source
        (an output when ``output``), and set ``self.<attr>`` to its
        physical name, which is also returned.  setup() resolves every
        declared source again.  A missing key raises "<kind> task 'x'
        needs <needs or key>"."""
        value = self.compile_property(self.config_dict.get(key))
        if not value:
            raise ValueError(f"{self.kind} task {self.name!r} needs {needs or key}")
        if output:
            name = self.out(value)
        else:
            name = self.src(value)
            self._declared_sources[attr] = value
        setattr(self, attr, name)
        return name

    def read_load_mode(self, key: str = "mode") -> None:
        """Read the ``full|incremental`` config key (default full) into
        ``self.incremental``."""
        mode = self.config_dict.get(key, "full")
        if mode not in ("full", "incremental"):
            raise ValueError(
                f"{self.kind} task {self.name!r}: {key} must be full|incremental"
            )
        self.incremental = mode == "incremental"

    def config_macro(self, **kwargs: Any) -> str:
        """{{ config(...) }} mutates the task during first compile and
        renders as '' (ref: tasks/sql.py:279-347)."""
        self._config_overrides.update(kwargs)
        return ""

    @property
    def task_compiler(self) -> Compiler:
        return self.context.compiler.task_compiler(
            self.name,
            group=self.group,
            src=self.src,
            out=self.out,
            config=self.config_macro,
            task_parameters=self.task_parameters,
        )

    def destination_writer_opts(self, table_properties: Optional[dict] = None) -> dict:
        """Catalog-layout passthrough shared by ALL task types — the
        sql task passes its override-merged ``table_properties`` dict,
        the pipeline tasks default to the raw config key:

            table_properties:
              partition: [lang]        # or a single string
              bucket_by: [doc_id]
              buckets: 16
              sort_by: [doc_id]
              zorder_by: [user_id, hour]  # Morton layout (2 int cols)
        """
        tp = (
            table_properties
            if table_properties is not None
            else self.config_dict.get("table_properties") or {}
        )
        opts: dict[str, Any] = {}
        if tp.get("partition"):
            p = tp["partition"]
            opts["partition_by"] = [p] if isinstance(p, str) else list(p)
        if tp.get("bucket_by"):
            opts["bucket_by"] = (int(tp.get("buckets", 8)), list(tp["bucket_by"]))
            if tp.get("sort_by"):
                opts["sort_by"] = list(tp["sort_by"])
        if tp.get("zorder_by"):
            opts["zorder_by"] = list(tp["zorder_by"])
        return opts

    def compile_property(self, value: Any) -> Any:
        """Jinja-compile string task properties (ref: task_wrapper.py:175-196)."""
        if isinstance(value, str):
            return self.task_compiler.compile(value)
        if isinstance(value, dict):
            return {k: self.compile_property(v) for k, v in value.items()}
        if isinstance(value, list):
            return [self.compile_property(v) for v in value]
        return value

    # -- lifecycle ------------------------------------------------------

    def config(self) -> None:
        self.status = TaskStatus.READY

    def setup(self) -> None:
        """Resolve every declare_table source again: config() runs
        BEFORE the app computes ``sources_from_prod`` (core/app.py
        does that per-execution from the selected tasks), so a
        config-time name freezes the dev name and --upstream-prod
        would be a silent no-op for every non-SQL task (the sql task
        gets the same effect via its setup-time Jinja recompile)."""
        for attr, value in self._declared_sources.items():
            setattr(self, attr, self.src(value))

    def run(self) -> None:
        pass

    def compile(self) -> None:
        pass

    def test(self) -> None:
        pass

    # -- helpers --------------------------------------------------------

    def require_columns(self, df: DataFrame, cols, table: Optional[str] = None) -> None:
        """Raise on the first of ``cols`` (None entries skipped) that
        ``df`` lacks, naming ``table`` (default: the source)."""
        for col in cols:
            if col and col not in df.columns:
                raise ValueError(
                    f"{self.kind} task {self.name!r}: column {col!r} not in "
                    f"{table or self.src_value}"
                )

    def new_rows(self, df: DataFrame, id_column: str) -> DataFrame:
        """The rows of ``df`` an incremental task still has to process:
        those whose ``id_column`` the destination lacks.  The anti-join
        reads only the destination's id column and goes before the
        task's work, so rows already written are never recomputed.
        Full tasks, and the first incremental run, get ``df`` back."""
        if not (self.incremental and self.context.db.table_exists(self.dst_value)):
            return df
        seen = self.context.spark.table(self.dst_value).select(id_column)
        return df.join(seen, id_column, "left_anti")

    def write_destination(self, out: DataFrame) -> None:
        """Full tasks replace the destination; incremental tasks append
        ``out`` (built from new_rows) through SparkDatabase.append_frame."""
        opts = self.destination_writer_opts()
        if self.incremental:
            self.context.db.append_frame(self.dst_value, out, **opts)
        else:
            self.context.db.replace_table(self.dst_value, out, **opts)

    def write_compilation_output(self, content: str, suffix: str = "sql") -> Path:
        """compile/<group>/<task>.sql (ref: tasks/task.py:321-338)."""
        folder = self.context.project_dir / "compile" / (self.group or "default")
        folder.mkdir(parents=True, exist_ok=True)
        path = folder / f"{self.name}.{suffix}"
        path.write_text(content)
        return path
