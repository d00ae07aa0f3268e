"""Benchmark entry point: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload near_dup --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run generates its inputs from the
seed, starts Spark on ``local[nproc]`` and sets up the workload.
``near_dup`` and ``olap`` run one warm-up pass over their query lines,
then timed passes back to back until ``--seconds`` have passed;
``corpus_pipeline`` times its one cold DAG run.  Outputs are checked
untimed after the timed region.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones listed in ``BENCHMARK.json``; with
``--trace 1`` the timed loop runs with spans and catalog-call wrappers
on, and the run reports the per-layer metrics instead.  The line before
it records the environment and the unbounded end-to-end metrics
(``wall_s``, ``peak_rss_mb``, ``failed_frac``).  Names and units come
from ``BENCHMARK.json``; ``metrics.json`` adds each metric's layer and
the end-to-end metric it should move.  See ``README.md`` for the
workloads and checks.

Everything the run writes stays under ``.perfbench/`` in the repository
root: a scratch directory removed at exit, and a JSON artifact per run
in ``.perfbench/artifacts/`` with the environment, both metric sets,
span self times and the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# metrics printed with the end-to-end ones but not bounded, with their units
REPORTED = json.loads((HERE / "metrics.json").read_text())["reported"]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("near_dup", "olap", "corpus_pipeline"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--record-fingerprints",
        action="store_true",
        help="corpus_pipeline: store the output-table fingerprints of this run as the reference",
    )
    return p.parse_args(argv)


def start_spark(work: Path, nproc: int):
    from sayn_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        extra_conf={
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.local.dir": str(work / "spark-local"),
            # the status store must retain every job of the run
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, tree) -> None:
    """Stop Spark, close the JVM and wait for it and its workers to end."""
    pids = tree.descendants()
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(Path(f"/proc/{p}").exists() for p in pids):
        time.sleep(0.1)
    for p in pids:
        if Path(f"/proc/{p}").exists():
            os.kill(p, 9)


def run_unit(workload, tracer):
    """One unit; with a tracer, record its spans and its catalog calls."""
    from workloads import traced_database

    with traced_database(tracer):
        return workload.run_unit(tracer)


def timed_loop(workload, tracer, seconds: float, tree):
    """Run units back to back until ``seconds`` have passed, at least one;
    a cold workload runs exactly one.  With a tracer, every unit is
    traced.  Also returns the per-unit CPU by process kind, the peak RSS
    and the host's steal time over the loop."""
    from probes import cpu_delta, steal_s

    units = []
    tree.reset_peak_rss()
    cpu0, steal0 = tree.cpu_snapshot(), steal_s()
    t0 = time.perf_counter()
    while True:
        units.append(run_unit(workload, tracer))
        if workload.cold or time.perf_counter() - t0 >= seconds:
            break
    cpu = cpu_delta(cpu0, tree.cpu_snapshot())
    return units, {k: v / len(units) for k, v in cpu.items()}, tree.peak_rss_mb(), steal_s() - steal0


def run(args, work: Path) -> dict:
    from probes import ProcTree, Tracer, read_status_store
    from workloads import WORKLOADS

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    nproc = len(os.sched_getaffinity(0))
    tree = ProcTree()
    workload = WORKLOADS[args.workload](work / "data", work / "project", args.seed, nproc)

    t0 = time.perf_counter()
    workload.make_inputs()  # inputs and oracle answers: not part of set-up
    input_s = time.perf_counter() - t0

    t_setup = time.perf_counter()
    spark = start_spark(work, nproc)
    session_s = time.perf_counter() - t_setup
    spark_version = spark.version
    try:
        # set-up = one session start + one project load (the median of
        # the workload's repeated App constructions) + the warm-up unit
        prepared = workload.prepare(spark)
        warm_s = 0.0 if workload.cold else workload.run_unit(None).wall_s
        setup_s = session_s + prepared.get("core.app.config_s", 0.0) + warm_s
        tracer = Tracer() if args.trace else None
        units, cpu, peak, steal = timed_loop(workload, tracer, args.seconds, tree)
        if args.record_fingerprints:
            (HERE / "fingerprints.json").write_text(json.dumps(workload.fingerprints(), indent=1) + "\n")
        problems = workload.check(units)
        walls = [u.wall_s for u in units]
        end_to_end = {"setup_s": setup_s, "cpu_s": sum(cpu.values())}
        per_layer, spans, overhead, extra = {}, {}, None, []
        if tracer is not None:
            # tracing overhead: an untraced unit against the traced ones.
            # A cold unit is not comparable, so a traced warm unit follows.
            extra = [run_unit(workload, None)]
            traced = units
            if workload.cold:
                extra.append(run_unit(workload, Tracer()))
                traced = extra[1:]
            problems += workload.check(extra)
            overhead = statistics.mean(u.wall_s for u in traced) - extra[0].wall_s
            jobs, stages = read_status_store(spark)
            per_layer = layer_metrics(workload, units, cpu, jobs, stages, tracer)
            per_layer.update({"session.start_s": session_s, "proc.peak_rss_mb": peak, **prepared})
            spans = {"summary": tracer.summary(), "self_s": tracer.self_times(), "spans": [vars(s) for s in tracer.spans]}
    finally:
        stop_spark(spark, tree)

    all_units = units + extra
    attempted = sum(u.attempted for u in all_units)
    failed = sum(u.failed for u in all_units)
    env = {
        "workload": args.workload,
        "seed": args.seed,
        "seed_use": workload.seed_use,
        "nproc": nproc,
        "master": f"local[{nproc}]",
        "jobs": nproc,
        "spark": spark_version,
        "python": platform.python_version(),
        "input_s": input_s,
        "session_s": session_s,
        "warm_up_s": warm_s,
        "steal_s": steal,
        "units": len(units),
    }
    # printed with the end-to-end metrics but not bounded: see metrics.json
    reported = {
        "wall_s": statistics.median(walls),
        "peak_rss_mb": peak,
        "failed_frac": failed / attempted if attempted else 1.0,
    }
    artifact = {
        "env": env,
        "end_to_end": end_to_end,
        "reported": reported,
        "unit_walls_s": walls,
        "cpu_per_unit_s": cpu,
        "per_layer": per_layer,
        "tracing_overhead_s": overhead,
        "problems": problems,
        "spans": spans,
    }
    out_dir = ROOT / ".perfbench" / "artifacts"
    out_dir.mkdir(parents=True, exist_ok=True)
    (out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(artifact, indent=1, default=str)
    )
    reported_units = {name: m["unit"] for name, m in REPORTED.items()}
    print(json.dumps({"env": env, "reported": with_units(reported, reported_units), "problems": problems[:20]}))
    listed = bench["per_layer"] if args.trace else bench["end_to_end"]
    return {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": with_units(per_layer if args.trace else end_to_end, {m["name"]: m["unit"] for m in listed}),
    }


def with_units(values: dict, units: dict[str, str]) -> dict:
    """``{name: {"value", "unit"}}`` for each named metric; a metric the
    workload does not produce reads 0."""
    return {name: {"value": float(values.get(name, 0.0)), "unit": unit} for name, unit in units.items()}


def layer_metrics(workload, units, cpu, jobs, stages, tracer) -> dict:
    """Per-unit means of the Spark and driver layers over the traced
    units, the per-unit CPU of each process kind, and the workload's own
    layers."""
    from probes import SparkWindow, spark_window

    n = len(units)
    total = SparkWindow()
    gap = 0.0
    for u in units:
        w = spark_window(jobs, stages, u.start, u.end)
        total.add(w)
        gap += u.wall_s - w.job_busy_s
    out = {f"spark.{k}": v / n for k, v in vars(total).items()}
    out["driver.gap_s"] = gap / n
    out["proc.jvm_cpu_s"] = cpu.get("jvm", 0.0)
    out["proc.jvm_non_executor_cpu_s"] = out["proc.jvm_cpu_s"] - out["spark.executor_cpu_s"]
    out["proc.pyworker_cpu_s"] = cpu.get("pyworker", 0.0)
    out["proc.driver_py_cpu_s"] = cpu.get("driver_py", 0.0)
    out.update(workload.layer_metrics(units, jobs, stages, tracer))
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "sayn_spark" / "__init__.py").is_file():
        print(f"perfbench: no sayn_spark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    # the engine and the DuckDB oracle helpers import from the checkout;
    # Spark's Python workers inherit PYTHONPATH, so any cwd works
    sys.path[:0] = [str(ROOT), str(HERE)]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    # the engine's environment overrides would change what is measured
    for var in ("SAYN_SPARK_EXTRA_CONF", "SAYN_SPARK_HIVE"):
        os.environ.pop(var, None)
    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    work.mkdir(parents=True)
    (work / "tmp").mkdir()
    os.environ["TMPDIR"] = str(work / "tmp")
    # every JVM the run starts (Spark's launcher and the driver) keeps its
    # temp files in the run directory and writes no hsperfdata to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
