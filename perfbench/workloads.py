"""The benchmark workloads.

Each workload generates its inputs, runs one timed *unit* at a time (a
pass over the query lines, or one DAG run), checks the units' outputs
untimed, and turns the traced units into per-layer metrics.  Set-up runs
one warm-up unit before the timed ones, unless the workload is ``cold``:
then its timed region is exactly its first unit.
"""

from __future__ import annotations

import functools
import json
import random
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

from datagen import write_corpus, write_warehouse
from probes import Tracer, spark_window

HERE = Path(__file__).resolve().parent
FINGERPRINTS = HERE / "fingerprints.json"


@dataclass
class Unit:
    """One timed unit: wall-clock window plus what it produced."""

    start: float = 0.0  # epoch seconds, for Spark job attribution
    end: float = 0.0
    wall_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    records: list = field(default_factory=list)


@contextmanager
def unit_clock(unit: Unit):
    unit.start, t0 = time.time(), time.perf_counter()
    try:
        yield unit
    finally:
        unit.wall_s = time.perf_counter() - t0
        unit.end = time.time()


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


# -- near_dup and olap ----------------------------------------------------


@dataclass
class LineRun:
    name: str
    start: float
    build_end: float = 0.0
    end: float = 0.0
    columns: list = field(default_factory=list)
    rows: list | None = None
    error: str | None = None
    df: object = None  # kept in traced runs to read planning phases later


class QueryLines:
    """Read-only registry lines, each built and collected to the driver.

    A unit is one pass over the lines, in an order drawn from the seed.
    These workloads model a long-lived analytic session, so the timed
    passes run warm."""

    name = ""
    lines: tuple[str, ...] = ()
    seed_use = "generates the inputs and orders the lines within each pass"
    cold = False

    def __init__(self, data_dir: Path, project_dir: Path, seed: int, jobs: int) -> None:
        self.data_dir = str(data_dir)
        self.seed = seed
        self.rng = random.Random(seed)  # orders the lines within each pass
        self.expected: dict[str, tuple] = {}
        self.spark = None

    def write_inputs(self) -> None:
        raise NotImplementedError

    def make_inputs(self) -> None:
        """Write the inputs and compute each line's DuckDB oracle answer."""
        from sayn_spark.functions import REGISTRY
        from tests.oracle import _norm_rows, duckdb_con

        self.write_inputs()
        con = duckdb_con(self.data_dir)
        try:
            for line in self.lines:
                cur = con.execute(REGISTRY[line].oracle)
                cols = [d[0] for d in cur.description]
                self.expected[line] = _norm_rows(cols, cur.fetchall())
        finally:
            con.close()

    def prepare(self, spark) -> dict:
        self.spark = spark
        return {}

    def run_unit(self, tracer: Tracer | None) -> Unit:
        from sayn_spark.functions import REGISTRY, release_persisted

        unit = Unit()
        order = self.rng.sample(self.lines, len(self.lines))
        with unit_clock(unit), _maybe_span(tracer, "pass", "workload"):
            for line in order:
                rec = LineRun(line, time.time())
                unit.records.append(rec)
                unit.attempted += 1
                with _maybe_span(tracer, line, "line"):
                    try:
                        with _maybe_span(tracer, "build", "functions"):
                            df = REGISTRY[line].fn(self.spark, self.data_dir)
                        rec.build_end = time.time()
                        with _maybe_span(tracer, "exec", "functions"):
                            rec.rows = df.collect()
                        rec.columns = df.columns
                        if tracer is not None:
                            rec.df = df
                    except Exception as e:  # noqa: BLE001 - a failed line is a result
                        rec.error = f"{type(e).__name__}: {e}"
                        unit.failed += 1
                    finally:
                        release_persisted()
                        rec.end = time.time()
        return unit

    def check(self, units: list[Unit]) -> list[str]:
        """Compare every collected result with its oracle (untimed)."""
        from tests.oracle import _norm_rows

        problems = []
        for unit in units:
            for rec in unit.records:
                if rec.error is not None:
                    problems.append(f"{rec.name}: {rec.error}")
                    continue
                got = _norm_rows(rec.columns, [[r[c] for c in rec.columns] for r in rec.rows])
                if got != self.expected[rec.name]:
                    problems.append(f"{rec.name}: result differs from the DuckDB oracle")
                    unit.failed += 1
                rec.rows = None  # free the driver copy
        return problems

    def layer_metrics(self, units: list[Unit], jobs, stages, tracer: Tracer) -> dict:
        n = len(units)
        out: dict[str, float] = {"functions.build_s": 0.0, "functions.build_jobs": 0.0, "functions.exec_s": 0.0}
        planning_ms = 0.0
        for line in self.lines:
            for k in ("wall_s", "jobs", "executor_cpu_s", "shuffle_write_mb"):
                out[f"functions.{line}.{k}"] = 0.0
        for unit in units:
            for rec in unit.records:
                build = spark_window(jobs, stages, rec.start, rec.build_end or rec.end)
                whole = spark_window(jobs, stages, rec.start, rec.end)
                out["functions.build_s"] += (rec.build_end or rec.end) - rec.start
                out["functions.build_jobs"] += build.jobs
                if rec.build_end:
                    out["functions.exec_s"] += rec.end - rec.build_end
                out[f"functions.{rec.name}.wall_s"] += rec.end - rec.start
                out[f"functions.{rec.name}.jobs"] += whole.jobs
                out[f"functions.{rec.name}.executor_cpu_s"] += whole.executor_cpu_s
                out[f"functions.{rec.name}.shuffle_write_mb"] += whole.shuffle_write_mb
                if rec.df is not None:
                    planning_ms += _planning_ms(rec.df)
                    rec.df = None
        out = {k: v / n for k, v in out.items()}
        out["spark.planning_s"] = planning_ms / 1e3 / n
        return out


class NearDup(QueryLines):
    """Dedup and ANN lines on a generated document and vector corpus."""

    name = "near_dup"
    lines = (
        "q_dedup_minhash_lsh",
        "q_dedup_simhash",
        "q_dedup_containment_wide",
        "q_dedup_components",
        "q_ann_ivfpq_topk",
        "q_ann_cascade_topk",
    )
    n_docs = 500
    n_vecs = 500
    # shorter than the test corpus's 10-99 words: the exhaustive DuckDB
    # oracles (all-pairs shingle joins) cost O(words^2) per document
    words = (5, 25)

    def write_inputs(self) -> None:
        write_corpus(self.data_dir, self.seed, self.n_docs, self.n_vecs, self.words)


class Olap(QueryLines):
    """Relational and event lines on a generated star schema: short plans
    with broadcast joins and no Python workers."""

    name = "olap"
    lines = (
        "q01_pricing_summary",
        "q03_shipping_priority",
        "q05_region_revenue",
        "q09_product_profit",
        "q13_customer_distribution",
        "q18_large_orders",
        "q_window_top_customers",
        "q_events_sessionize",
        "q_events_retention",
        "q_incremental_merge",
        "q_record_linkage",
    )
    scale = 0.01  # the test data's sf0.01 sizes: about 60,000 line items

    def write_inputs(self) -> None:
        write_warehouse(self.data_dir, self.seed, self.scale)


def _planning_ms(df) -> float:
    """Analysis + optimization + planning time of the query's execution,
    from QueryExecution.tracker() phases."""
    phases = df._jdf.queryExecution().tracker().phases().values().toSeq()
    return float(sum(phases.apply(i).durationMs() for i in range(phases.size())))


@contextmanager
def _maybe_span(tracer: Tracer | None, name: str, kind: str):
    if tracer is None:
        yield None
    else:
        with tracer.span(name, kind) as s:
            yield s


# -- corpus_pipeline --------------------------------------------------------


class SpanLogger:
    """EventTracker logger turning task and step events into spans.

    The tracker reports a task's events on the thread that runs the task,
    so database calls the task makes nest under its current step span."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.task_spans: dict[str, object] = {}
        self.step_spans: dict[str, object] = {}
        self.events: list[dict] = []

    def report_event(self, **e) -> None:
        kind, task = e.get("event"), e.get("task")
        if kind in ("finish_task", "skip_task", "finish_step"):
            self.events.append(e)
        if kind == "start_task":
            self.task_spans[task] = self.tracer.open(task, "task")
        elif kind == "start_step":
            self.step_spans[task] = self.tracer.open(e.get("step"), "step", task=task)
        elif kind == "finish_step" and task in self.step_spans:
            self.tracer.close(self.step_spans.pop(task))
        elif kind == "finish_task" and task in self.task_spans:
            self.tracer.close(self.task_spans.pop(task))


DB_CALLS = {
    "create_table": "write",
    "move_table": "swap",
    "object_type": "introspect",
    "table_exists": "introspect",
    "table_layout": "introspect",
}


@contextmanager
def traced_database(tracer: Tracer | None):
    """Wrap the SparkDatabase catalog calls in spans for the block (a
    no-op without a tracer)."""
    from sayn_spark.core.database import SparkDatabase

    if tracer is None:
        yield
        return
    originals = {m: getattr(SparkDatabase, m) for m in DB_CALLS}

    def wrap(meth, orig):
        @functools.wraps(orig)
        def wrapper(self, *args, **kwargs):
            with tracer.span(meth, "db"):
                return orig(self, *args, **kwargs)

        return wrapper

    for meth, orig in originals.items():
        setattr(SparkDatabase, meth, wrap(meth, orig))
    try:
        yield
    finally:
        for meth, orig in originals.items():
            setattr(SparkDatabase, meth, orig)


def _critical_path(dag: dict[str, list[str]], dur: dict[str, float]) -> float:
    finish: dict[str, float] = {}

    def f(n: str) -> float:
        if n not in finish:
            finish[n] = dur.get(n, 0.0) + max((f(p) for p in dag.get(n, []) if p in dur), default=0.0)
        return finish[n]

    return max((f(n) for n in dur), default=0.0)


class CorpusPipeline:
    """One `sayn run` of the example corpus DAG through App.run, with tests."""

    name = "corpus_pipeline"
    seed_use = "unused: the inputs are fixed so the outputs can be pinned, and the DAG fixes the order"
    project = "examples/corpus_pipeline"
    # Every task type of the example, on the tasks with the smallest
    # footprint: the simhash, containment, IVF-PQ and semantic dedup
    # tasks repeat near_dup's operators and would triple the run.
    tasks = (
        "ingest_documents",
        "make_eval_snippets",
        "make_doc_thumbnails",
        "doc_quality",
        "documents_pii_redacted",
        "test_pii_redaction",
        "documents_gopher_filtered",
        "documents_quality_filtered",
        "corpus_span_deduped",
        "embed_documents",
        "doc_vector_index",
        "doc_nearest_neighbors",
        "decontaminate_corpus",
        "corpus_downsampled",
        "corpus_mixture",
        "corpus_packed",
        "corpus_chunks",
        "corpus_epoch0",
        "test_epoch_permutation",
    )
    # each `sayn run` is a fresh process, so the timed run is the first
    # one, on a cold JVM and an empty warehouse.  (Timing warm reruns
    # would add a ~25 s warm-up to every run of the benchmark.)
    cold = True
    data_seed = 0  # the DAG's inputs are fixed so its outputs can be pinned
    n_docs = 500
    n_vecs = 500
    config_repeats = 5

    def __init__(self, data_dir: Path, project_dir: Path, seed: int, jobs: int) -> None:
        self.data_dir = str(data_dir)
        self.project_dir = project_dir
        self.jobs = jobs
        self.spark = None

    def make_inputs(self) -> None:
        write_corpus(self.data_dir, self.data_seed, self.n_docs, self.n_vecs)
        src = HERE.parent / self.project
        shutil.copytree(src, self.project_dir, ignore=shutil.ignore_patterns("logs", "compile"))

    def _app(self, loggers: list):
        from sayn_spark.core.app import App
        from sayn_spark.logs import EventTracker
        from sayn_spark.operators.base import RunArguments

        return App(
            self.project_dir,
            spark=self.spark,
            run_arguments=RunArguments(with_tests=True, jobs=self.jobs, include=list(self.tasks)),
            parameters={"sf_dir": self.data_dir},
            tracker=EventTracker(loggers=loggers, project_name="corpus_pipeline"),
        )

    def prepare(self, spark) -> dict:
        """Project load timings; the median App construction is the
        core.app layer's config time."""
        self.spark = spark
        times = []
        for _ in range(self.config_repeats):
            t0 = time.perf_counter()
            app = self._app([])
            times.append(time.perf_counter() - t0)
            app.close()
        return {"core.app.config_s": statistics.median(times)}

    def run_unit(self, tracer: Tracer | None) -> Unit:
        from sayn_spark.operators.base import TaskStatus

        unit = Unit()
        logger = SpanLogger(tracer) if tracer is not None else None
        with unit_clock(unit), _maybe_span(tracer, "dag_run", "workload"):
            app = self._app([logger] if logger else [])
            t0 = time.perf_counter()
            statuses = app.run()
            run_wall = time.perf_counter() - t0
            app.close()
        unit.attempted = len(statuses)
        unit.failed = sum(s != TaskStatus.SUCCESS for s in statuses.values())
        unit.records = [
            {
                "run_wall_s": run_wall,
                "statuses": {k: s.name for k, s in statuses.items()},
                "dag": {k: list(app.dag[k]) for k in statuses},
                "types": {k: _task_type(app.tasks[k]) for k in statuses},
                "events": logger.events if logger else [],
            }
        ]
        return unit

    def fingerprints(self) -> dict[str, list]:
        """Row count and an order-insensitive hash sum of every table, in
        one query."""
        tables = sorted(
            t.name for t in self.spark.catalog.listTables() if not t.isTemporary and t.tableType != "VIEW"
        )
        if not tables:
            return {}
        rows = self.spark.sql(
            " UNION ALL ".join(
                f"SELECT '{t}' AS t, count(*) AS n, CAST(sum(CAST(xxhash64(*) AS DECIMAL(38, 0))) AS STRING) AS h FROM {t}"
                for t in tables
            )
        ).collect()
        return {r.t: [int(r.n), r.h] for r in sorted(rows, key=lambda r: r.t)}

    def check(self, units: list[Unit]) -> list[str]:
        """Every task (with its tests) succeeded, and the last run left
        exactly the recorded tables, each matching its fingerprint."""
        problems = [
            f"task {k}: {s}"
            for unit in units
            for k, s in unit.records[0]["statuses"].items()
            if s != "SUCCESS"
        ]
        expected = json.loads(FINGERPRINTS.read_text()) if FINGERPRINTS.exists() else {}
        got = self.fingerprints()
        wrong = [] if expected else [f"no recorded fingerprints in {FINGERPRINTS.name}"]
        for table in sorted(set(expected) | set(got)):
            if got.get(table) != expected.get(table):
                wrong.append(f"table {table}: fingerprint {got.get(table)} != recorded {expected.get(table)}")
        if wrong:  # a missing, extra or changed table fails the run that left it
            units[-1].failed = min(units[-1].attempted, units[-1].failed + 1)
        return problems + wrong

    def layer_metrics(self, units: list[Unit], jobs, stages, tracer: Tracer) -> dict:
        out: dict[str, float] = {}
        per_unit = []
        for unit in units:
            rec = unit.records[0]
            dur = {e["task"]: e["duration"] for e in rec["events"] if e["event"] == "finish_task"}
            m = {
                "core.app.tasks_ok": sum(s == "SUCCESS" for s in rec["statuses"].values()),
                "core.app.tasks_failed": sum(s == "FAILED" for s in rec["statuses"].values()),
                "core.app.tasks_skipped": sum(s == "SKIPPED" for s in rec["statuses"].values()),
                "core.app.task_s_sum": sum(dur.values()),
                "core.app.critical_path_s": _critical_path(rec["dag"], dur),
                "core.app.test_step_s": sum(
                    e["duration"] for e in rec["events"] if e["event"] == "finish_step" and e.get("step") == "test"
                ),
            }
            m["core.app.concurrency"] = m["core.app.task_s_sum"] / rec["run_wall_s"]
            m["core.app.barrier_wait_s"] = rec["run_wall_s"] - m["core.app.critical_path_s"]
            for task, d in dur.items():
                key = f"operators.{rec['types'][task]}_s"
                m[key] = m.get(key, 0.0) + d
            per_unit.append(m)
        for key in {k for m in per_unit for k in m}:
            out[key] = _mean(m.get(key, 0.0) for m in per_unit)
        db = [s for s in tracer.spans if s.kind == "db" and s.end is not None]
        for count, secs, kind in (
            ("writes", "write_s", "write"),
            ("swaps", "swap_s", "swap"),
            ("introspect_calls", "introspect_s", "introspect"),
        ):
            picked = [s for s in db if DB_CALLS[s.name] == kind]
            out[f"core.database.{count}"] = len(picked) / len(units)
            out[f"core.database.{secs}"] = sum(s.end - s.start for s in picked) / len(units)
        return out


def _task_type(task) -> str:
    from sayn_spark.operators import TASK_TYPES

    for name, cls in TASK_TYPES.items():
        if type(task) is cls:
            return name
    return type(task).__name__


WORKLOADS = {w.name: w for w in (NearDup, Olap, CorpusPipeline)}
