"""SQL task: script / table / view / incremental materialisations
(ref: tasks/sql.py:52-69,377-441 + tasks/autosql.py:43-372).

The user file is a Jinja-templated SELECT (or full script for
``materialisation: script``).  Materialisation becomes:

- script      -> spark.sql per statement
- table       -> spark.sql(select) -> saveAsTable overwrite
                 (tmp+rename swap optional, ref database/__init__.py:747-787)
- view        -> CREATE OR REPLACE VIEW
- incremental -> tmp table from select, then delete-key merge
                 (ref tasks/autosql.py:349-358, merge_tables.sql:1-12)
"""

from __future__ import annotations

from pathlib import Path
from typing import Any, Optional

from sayn_spark.operators.base import Task, TaskStatus
from sayn_spark.plans.quality import standard_tests_plan

_MATERIALISATIONS = ("script", "table", "view", "incremental")


class SqlTask(Task):
    def config(self) -> None:
        c = self.config_dict
        self.file_name = c.get("file_name")
        if not self.file_name:
            raise ValueError(f"sql task {self.name!r} needs file_name")
        # task properties are Jinja too (ref: task_wrapper.py:175-196)
        self.file_name = self.compile_property(self.file_name)
        self.materialisation = c.get("materialisation", "script")
        self.delete_key: Optional[str] = c.get("delete_key")
        self.columns: list[dict] = list(c.get("columns", []))
        self.post_hook: list[dict] = list(c.get("post_hook", []))
        self.table_properties: dict[str, Any] = dict(c.get("table_properties", {}))
        self.destination_cfg = c.get("destination")

        sql_path = self.context.project_dir / "sql" / self.file_name
        if not sql_path.exists():
            sql_path = self.context.project_dir / self.file_name
        self.raw_sql = Path(sql_path).read_text()

        # first compile registers src/out and applies {{ config(...) }}
        self.compiled = self.task_compiler.compile(self.raw_sql)
        if self._config_overrides:
            ov = self._config_overrides
            self.materialisation = ov.get("materialisation", self.materialisation)
            self.delete_key = ov.get("delete_key", self.delete_key)
            self.columns = ov.get("columns", self.columns)
            self.post_hook = ov.get("post_hook", self.post_hook)
            self.table_properties = ov.get("table_properties", self.table_properties)
            self.destination_cfg = ov.get("destination", self.destination_cfg)
            self.tags = ov.get("tags", self.tags)
            self.parents = list(ov.get("parents", self.parents))
            self.on_fail = ov.get("on_fail", self.on_fail)

        # strict column-spec validation at config time
        # (ref: database/__init__.py:20-98 pydantic DDL models)
        from sayn_spark.core.ddl import validate_columns

        self.columns = validate_columns(self.columns, self.name)

        if self.materialisation not in _MATERIALISATIONS:
            raise ValueError(
                f"task {self.name!r}: invalid materialisation {self.materialisation!r}"
            )
        if self.materialisation == "incremental" and not self.delete_key:
            # ref: tasks/autosql.py:60-69
            raise ValueError(f"task {self.name!r}: incremental requires delete_key")
        if self.materialisation != "incremental" and self.delete_key:
            raise ValueError(f"task {self.name!r}: delete_key requires incremental")

        if self.materialisation != "script":
            dest = self.destination_cfg
            if dest is None:
                dest_str = self.name
            elif isinstance(dest, str):
                dest_str = self.compile_property(dest)
            else:
                dest = self.compile_property(dest)
                parts = [dest.get("database") or dest.get("db"), dest.get("schema"), dest["table"]]
                dest_str = ".".join(p for p in parts if p)
            self.destination = self.context.obj_compiler.from_string(dest_str)
            self.outputs.add(self.destination)
            self.dst_value = self.context.obj_compiler.out_value(self.destination)
        else:
            self.destination = None
            self.dst_value = None
        self.status = TaskStatus.READY

    def setup(self) -> None:
        """Recompile the SELECT at setup time (ref: tasks/sql.py:349-351
        "recompile regardless"): by now the app has computed
        ``sources_from_prod``, so ``src()`` values resolve to prod names
        for upstream-prod runs."""
        self.compiled = self.task_compiler.compile(self.raw_sql)

    # -- execution -------------------------------------------------------

    def _select_df(self):
        """The task's SELECT with the declared-column projection applied
        (rename via dst_name, cast via type) — reference parity for DDL
        columns on autosql (database/__init__.py:75-98); the extra
        select is folded into the plan by Catalyst, so declared columns
        double as column pruning."""
        from sayn_spark.core.ddl import transform_columns

        return transform_columns(
            self.context.spark.sql(self.compiled), self.columns, self.name
        )

    def _view_sql(self) -> str:
        """Views keep the SQL-string path (CREATE OR REPLACE VIEW), so
        the in-place rename/cast wraps the SELECT textually; the output
        column list comes from analyzing the SELECT (no execution)."""
        if not any(c.get("type") or c.get("dst_name") for c in self.columns):
            return self.compiled
        from sayn_spark.core.ddl import _check_declared_exist

        analyzed = self.context.spark.sql(self.compiled)
        _check_declared_exist(analyzed, self.columns, self.name)
        by_name = {c["name"]: c for c in self.columns}
        parts = []
        for name in analyzed.columns:
            c = by_name.get(name)
            expr = f"`{name}`"
            if c and c.get("type"):
                expr = f"CAST({expr} AS {c['type']})"
            parts.append(f"{expr} AS `{(c or {}).get('dst_name') or name}`")
        return f"SELECT {', '.join(parts)} FROM (\n{self.compiled}\n)"

    def _writer_opts(self) -> dict:
        # the shared base parser, fed the OVERRIDE-MERGED properties —
        # a local re-implementation used to silently drop zorder_by
        return self.destination_writer_opts(self.table_properties)

    def run(self) -> None:
        db = self.context.db
        if self.materialisation == "script":
            db.execute(self.compiled)
        elif self.materialisation == "view":
            db.replace_view(self.dst_value, self._view_sql())
        elif self.materialisation == "table":
            db.replace_table(
                self.dst_value,
                self._select_df(),
                tmp_swap=bool(self.table_properties.get("tmp_swap")),
                **self._writer_opts(),
            )
        elif self.materialisation == "incremental":
            if self.context.run_arguments.full_load:
                # full-rebuild fallback (ref: tasks/autosql.py:326-347)
                db.replace_table(self.dst_value, self._select_df(), **self._writer_opts())
            else:
                db.merge_frame(
                    self.dst_value, self._select_df(), self.delete_key, **self._writer_opts()
                )
        for hook in self.post_hook:
            # ref: database/__init__.py:299-318
            db.execute(self.task_compiler.compile(hook["sql"]))

    def compile(self) -> None:
        self.write_compilation_output(self.compiled)

    def test(self) -> None:
        """Standard column tests against the materialised destination
        (ref: database/__init__.py:239-288)."""
        if not self.columns or self.dst_value is None:
            return
        from sayn_spark.core.ddl import tests_spec

        plan = standard_tests_plan(
            self.context.spark.table(self.dst_value), tests_spec(self.columns)
        )
        if plan is None:
            return
        failures = plan.limit(5).collect()  # LIMIT 5 cap: ref tasks/test.py:95-97
        if failures:
            raise AssertionError(
                f"standard tests failed for {self.name}: "
                + "; ".join(str(r.asDict()) for r in failures)
            )


class AutoSqlTask(SqlTask):
    """`autosql` alias: a SELECT-only file with table as the default
    materialisation (ref: tasks/autosql.py)."""

    def config(self) -> None:
        self.config_dict.setdefault("materialisation", "table")
        super().config()
