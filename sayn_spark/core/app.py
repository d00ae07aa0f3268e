"""App: config -> task graph -> setup -> run/compile/test
(ref: core/app.py:126-654).

Improvement over the reference's single-threaded loop
(`core/app.py:619`): independent DAG levels execute on a thread pool
over the shared SparkSession (Spark's scheduler is thread-safe), so
independent branches submit Spark jobs concurrently.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path
from typing import Any, Optional

from pyspark.sql import SparkSession

from sayn_spark.core.compiler import Compiler
from sayn_spark.core.database import SparkDatabase
from sayn_spark.core.objects import DbObjectCompiler
from sayn_spark.core.settings import (
    Project,
    Settings,
    apply_env_overrides,
    load_project,
    load_settings,
    load_task_groups,
)
from sayn_spark.operators import TASK_TYPES, RunArguments, Task, TaskContext, TaskStatus
from sayn_spark.operators.base import DEFAULT_JOBS
from sayn_spark.plans.dag import ready_sets, topological_sort, validate_dag
from sayn_spark.plans.task_query import get_query
from sayn_spark.plans.dag import query_dag


def _merge_preset(config: dict, presets: dict[str, dict], seen: tuple = ()) -> dict:
    """Preset inheritance, cycle-checked (ref: core/project.py:101-205)."""
    preset_name = config.get("preset")
    if not preset_name:
        return config
    if preset_name in seen:
        raise ValueError(f"preset cycle: {' -> '.join(seen + (preset_name,))}")
    if preset_name not in presets:
        raise ValueError(f"unknown preset {preset_name!r}")
    base = _merge_preset(dict(presets[preset_name]), presets, seen + (preset_name,))
    merged = {**base, **{k: v for k, v in config.items() if k != "preset"}}
    return merged


class App:
    def __init__(
        self,
        project_dir: str | Path,
        spark: Optional[SparkSession] = None,
        profile: Optional[str] = None,
        run_arguments: Optional[RunArguments] = None,
        parameters: Optional[dict[str, Any]] = None,
        tracker=None,
    ) -> None:
        self.project_dir = Path(project_dir)
        self.run_arguments = run_arguments or RunArguments()
        if tracker is None:
            # default logging mirrors the reference (cli.py:82-106):
            # console lines + a JSON-lines debug log under logs/
            from sayn_spark.logs import ConsoleLogger, EventTracker, FileLogger

            tracker = EventTracker(
                loggers=[
                    ConsoleLogger(),
                    FileLogger(self.project_dir / "logs" / "sayn_spark.log"),
                ],
                project_name=self.project_dir.name,
            )
        self.tracker = tracker
        self.project: Project = load_project(self.project_dir)
        self.settings: Settings = load_settings(self.project_dir)
        prof = apply_env_overrides(self.settings.profile(profile))

        # parameter precedence: project < profile < explicit
        # (ref: core/settings.py:286-320)
        self.parameters = {
            **self.project.parameters,
            **prof.parameters,
            **(parameters or {}),
        }
        # prod = project defaults (ref: utils/compiler.py:31-45)
        self.compiler = Compiler(
            parameters=self.parameters,
            prod_parameters=self.project.parameters,
            full_load=self.run_arguments.full_load,
            start_dt=self.run_arguments.start_dt,
            end_dt=self.run_arguments.end_dt,
        )
        # prod rules = DEFAULT profile's stringify (dev profiles layer
        # their own on top; ref: database/objects.py:69-96) — resolved
        # via prod_profile(), which ignores SAYN_PROFILE: profile(None)
        # honours the env var, so under SAYN_PROFILE=dev the "prod"
        # rules would silently become the dev profile's
        prod_prof = self.settings.prod_profile()
        self.obj_compiler = DbObjectCompiler(
            default_db=self.project.default_db,
            connections=[self.project.default_db, *self.settings.credentials.keys()],
            stringify=prof.stringify,
            prod_stringify=prod_prof.stringify,
            from_prod=prof.from_prod,
        )
        if spark is None:
            from sayn_spark.session import get_spark

            # standalone (CLI) runs persist the catalog across processes
            spark = get_spark(
                app_name=f"sayn-spark:{self.project_dir.name}", hive_metastore=True
            )
        self.spark = spark
        self.db = SparkDatabase(spark, name=self.project.default_db)
        self.connections: dict[str, Any] = {
            name: {"type": cred.type, **cred.options}
            for name, cred in self.settings.credentials.items()
        }
        self.tasks: dict[str, Task] = {}
        self._configure_tasks()

    # -- task graph construction (ref: core/app.py:347-446) -------------

    def _task_configs(self) -> dict[str, dict]:
        out: dict[str, dict] = {}
        groups = load_task_groups(self.project_dir)
        for group, tasks in groups.items():
            for name, cfg in tasks.items():
                if name in out:
                    # silent overwrite would drop the earlier definition
                    # from the DAG (ref raises duplicate_task:
                    # core/project.py:232,270,311)
                    raise ValueError(
                        f"duplicate task name '{name}': defined in group "
                        f"'{out[name]['group']}' and again in '{group}'"
                    )
                cfg = dict(cfg or {})
                cfg["group"] = group
                out[name] = _merge_preset(cfg, self.project.presets)
        # autogroups: one sql task per file (ref: core/project.py:281-328)
        for group, cfg in self.project.autogroups.items():
            pattern = cfg.get("file_name", f"{group}/*.sql")
            folder = self.project_dir / "sql"
            base = folder if folder.is_dir() else self.project_dir
            for f in sorted(base.glob(pattern)):
                if f.stem in out:
                    raise ValueError(
                        f"duplicate task name '{f.stem}': autogroup '{group}' "
                        f"file {f.name} collides with a task in group "
                        f"'{out[f.stem]['group']}'"
                    )
                tcfg = {k: v for k, v in cfg.items() if k != "file_name"}
                tcfg["file_name"] = str(f.relative_to(base))
                tcfg["group"] = group
                out[f.stem] = _merge_preset(tcfg, self.project.presets)
        # decorated python tasks registered by the project's python module
        for name, spec in self._load_python_module().items():
            if name in out:
                # same duplicate-task class as the YAML/autogroup paths
                # above — a setdefault here silently dropped the
                # decorated task
                raise ValueError(
                    f"duplicate task name '{name}': @task in the python "
                    f"module collides with a task in group "
                    f"'{out[name]['group']}'"
                )
            out[name] = {
                "type": "python_decorator", "group": "python", "_decorated": spec
            }
        return out

    def _load_python_module(self) -> dict:
        """Execute python/*.py so @task registrations run, scoped to THIS
        project — one shared, cached loader with the `class: python.*`
        task form (operators.python.load_project_python_file), which
        handles the project-unique module naming, registry
        capture/restore, and sys.path scoping."""
        pydir = self.project_dir / "python"
        if not pydir.is_dir():
            return {}
        from sayn_spark.operators.python import load_project_python_file

        out: dict = {}
        for f in sorted(pydir.glob("*.py")):
            if f.stem == "__init__":
                continue
            _, regs = load_project_python_file(self.project_dir, f)
            out.update(regs)
        return out

    def _configure_tasks(self) -> None:
        context = TaskContext(
            spark=self.spark,
            db=self.db,
            compiler=self.compiler,
            obj_compiler=self.obj_compiler,
            run_arguments=self.run_arguments,
            parameters=self.parameters,
            connections=self.connections,
            project_dir=self.project_dir,
        )
        for name, cfg in self._task_configs().items():
            ttype = cfg.get("type", "dummy")
            if ttype not in TASK_TYPES:
                raise ValueError(f"task {name!r}: unknown type {ttype!r}")
            self.tasks[name] = TASK_TYPES[ttype](name, cfg, context)
        for t in self.tasks.values():
            t.config()

        # implicit edges: producer of a src object becomes a parent
        # (ref: core/app.py:419-432, tasks/task_wrapper.py:409-436)
        producers: dict = {}
        for task in self.tasks.values():
            for obj in task.outputs:
                other = producers.get(obj)
                if other is not None and other != task.name:
                    # the dict silently last-writer-won (hazard review
                    # r14 second pass, reproduced): two tasks declaring
                    # one output ran CONCURRENTLY in the thread pool,
                    # their staging swaps interleaved into a table
                    # holding rows from BOTH "full rebuilds", and every
                    # implicit src edge bound to whichever producer
                    # happened to come later in dict order
                    raise ValueError(
                        f"tasks {other!r} and {task.name!r} both declare "
                        f"output '{obj.key}': concurrent writers to one table "
                        "are nondeterministic — merge them into one task "
                        "or give them distinct destinations"
                    )
                producers[obj] = task.name
        for t in self.tasks.values():
            for obj in t.sources:
                producer = producers.get(obj)
                if producer and producer != t.name and producer not in t.parents:
                    t.parents.append(producer)

        self.dag = {name: list(t.parents) for name, t in self.tasks.items()}
        validate_dag(self.dag)

    # -- selection (ref: utils/task_query.py + utils/dag.py:103-142) ----

    def select_tasks(self) -> list[str]:
        meta = {n: {"group": t.group, "tags": t.tags} for n, t in self.tasks.items()}
        include, exclude = get_query(
            meta, self.run_arguments.include, self.run_arguments.exclude
        )
        selected = query_dag(self.dag, include, exclude)
        return [n for n in topological_sort(self.dag) if n in selected]

    # -- execution (ref: core/app.py:611-654) ----------------------------

    def close(self) -> None:
        """Release run resources: the default FileLogger's handle (a
        fresh App otherwise leaks one fd per construction — schedulers
        and notebooks build many) and any cached query intermediates."""
        from sayn_spark.functions.registry import release_persisted

        release_persisted(all_threads=True)
        close = getattr(self.tracker, "close", None)
        if close is not None:
            close()

    def __enter__(self) -> "App":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def run(self, parallel: bool = True) -> dict[str, TaskStatus]:
        return self._execute("run", parallel=parallel)

    def compile(self) -> dict[str, TaskStatus]:
        return self._execute("compile", parallel=False)

    def test(self) -> dict[str, TaskStatus]:
        return self._execute("test", parallel=True)

    def _execute(self, command: str, parallel: bool = True) -> dict[str, TaskStatus]:
        selected = set(self.select_tasks())
        sub_dag = {n: [p for p in self.dag[n] if p in selected] for n in selected}

        # upstream-prod: sources of selected tasks that no selected task
        # produces are read from their prod names; affected tasks pick
        # this up via the setup-time recompile (ref: core/app.py:503-511)
        if self.run_arguments.upstream_prod:
            exec_sources = {o for n in selected for o in self.tasks[n].sources}
            exec_outputs = {o for n in selected for o in self.tasks[n].outputs}
            self.obj_compiler.sources_from_prod = exec_sources - exec_outputs
        else:
            self.obj_compiler.sources_from_prod = set()
        failed: set[str] = set()
        skipped: set[str] = set()
        interrupted = False

        levels = ready_sets(sub_dag)
        order = topological_sort(sub_dag)
        self.tracker.set_tasks(order)
        self.tracker.start_stage(command, total_tasks=len(order))

        def run_one(name: str) -> None:
            nonlocal interrupted
            task = self.tasks[name]
            tracker = self.tracker.get_task_tracker(name)
            task.tracker = tracker  # python tasks log through this
            # skip propagation (ref: tasks/task_wrapper.py:269-300)
            bad_parents = [
                p
                for p in self.dag[name]
                if p in selected
                and (p in skipped or (p in failed and self.tasks[p].on_fail != "no_skip"))
            ]
            if interrupted or bad_parents:
                task.status = TaskStatus.SKIPPED
                skipped.add(name)
                tracker.skip_task(
                    reason="interrupted" if interrupted else f"parents: {bad_parents}"
                )
                return
            task.status = TaskStatus.EXECUTING
            tracker.start_task()
            t0 = time.perf_counter()
            try:
                tracker.start_step("setup")
                task.setup()
                tracker.start_step(command)
                getattr(task, command)()
                if command == "run" and self.run_arguments.with_tests:
                    tracker.start_step("test")
                    task.test()  # ref: tasks/task_wrapper.py:383-394
                task.status = TaskStatus.SUCCESS
                tracker.finish_task("success", time.perf_counter() - t0)
            except SystemExit as e:
                # a user python task calling sys.exit() raises a
                # BaseException that `except Exception` let ESCAPE the
                # wrapper (hazard review r14 second pass, reproduced):
                # the whole run died with the tracker mid-stage, no run
                # summary, and — worst — a clean-looking exit code with
                # zero failure accounting.  Ported scripts call
                # sys.exit() routinely; it is a task failure, not a
                # scheduler abort.  (KeyboardInterrupt stays
                # propagating: a genuine ^C should stop the run.)
                msg = f"task called sys.exit({e.code})"
                task.status = TaskStatus.FAILED
                task.error = msg
                failed.add(name)
                tracker.finish_task("failed", time.perf_counter() - t0, error=msg)
                if self.run_arguments.fail_fast:
                    interrupted = True
            except Exception as e:  # noqa: BLE001 — task errors are data
                task.status = TaskStatus.FAILED
                task.error = str(e)
                failed.add(name)
                tracker.finish_task(
                    "failed", time.perf_counter() - t0, error=str(e)
                )
                if self.run_arguments.fail_fast:
                    interrupted = True

        n_jobs = max(1, getattr(self.run_arguments, "jobs", DEFAULT_JOBS))
        if parallel and n_jobs > 1 and len(sub_dag) > 1:
            with ThreadPoolExecutor(max_workers=n_jobs) as pool:
                for level in levels:
                    list(pool.map(run_one, [n for n in order if n in set(level)]))
        else:
            for name in order:
                run_one(name)
        statuses = {n: self.tasks[n].status for n in sub_dag}
        # query builders persist intermediates they cannot release
        # themselves (they return lazily); drop them once the stage's
        # actions are done so repeated App runs in one session don't
        # accumulate cached partitions
        from sayn_spark.functions.registry import release_persisted

        release_persisted(all_threads=True)
        n_ok = sum(s == TaskStatus.SUCCESS for s in statuses.values())
        self.tracker.finish_current_stage(
            summary=f"{n_ok} ok, {len(failed)} failed, {len(skipped)} skipped "
        )
        return statuses
