"""SparkSession factory tuned for the engine.

The reference (sayn) holds one SQLAlchemy engine per connection
(`database/__init__.py:101-142`); here there is exactly one "warehouse":
a SparkSession + its catalog.  Conf choices are scale-first:

- AQE on (runtime coalesce, skew-join splitting) so the same plan works
  at sf0.001 and at 100 TB without hand-tuning partition counts.
- shuffle.partitions sized from env (local test default 32; a real
  cluster would set this to 2-3x total cores, and AQE coalesces down).
- Arrow on: every pandas_udf / applyInPandas hop is Arrow-batched.
- UTC session timezone: deterministic timestamp semantics vs the oracle.
- A codegen class cache that holds a session's working set, so warm
  queries compile once.  The conf is static: it cannot self-apply on a
  session this module did not create, so the vanilla session the
  ``__spark_entry__.py`` contract receives keeps Spark's default of 100.
"""

from __future__ import annotations

import importlib.util
import os

from pyspark.sql import SparkSession


def delta_installed() -> bool:
    """True when the delta-spark package is importable.  The engine is
    Delta-ready behind this capability probe: when the package is
    present, ``get_spark`` wires the Delta SQL extension + catalog and
    ``SparkDatabase`` upgrades merge_tables to MERGE INTO and
    replace_table to an ACID overwrite; when absent (this sandbox),
    every plan falls back to the parquet/rename implementations."""
    return importlib.util.find_spec("delta") is not None

_DEFAULTS = {
    # local-mode driver hosts all executor threads: the JVM default (1g)
    # OOMs iterative queries (localCheckpoint) beyond sf0.01.  4g clears
    # every registry query at sf0.1; 16g was measured ~20% slower on
    # bench (GC ergonomics scale with heap).  Only effective when this
    # process creates the JVM — spark-submit owns it on a real cluster.
    "spark.driver.memory": "4g",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.filterPushdown": "true",
    # testdata events.parquet uses TIMESTAMP(NANOS); read as long + convert
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.shuffle.partitions": "32",
    # Spark's LRU of compiled codegen classes (static, JVM-global;
    # default 100).  A warm pass over the near-dup lines cycles ~300
    # distinct classes, so at 100 every class was evicted before reuse
    # and each pass recompiled ~300 of them.  Sized from a measured
    # count: one cold parity_sweep.py session (all registry queries,
    # sf0.01) compiled 2657 classes with an unbounded cache; rounded up.
    "spark.sql.codegen.cache.maxEntries": "3000",
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "false",
    "spark.driver.extraJavaOptions": "-Djava.net.preferIPv4Stack=true",
}


def get_spark(
    app_name: str = "sayn-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
    hive_metastore: bool = False,
) -> SparkSession:
    """Build (or reuse) the engine session.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (driver runs us on
    local[32]); on a real cluster ``master`` comes from spark-submit and
    this function only applies the conf.

    ``hive_metastore=True`` persists catalog metadata (derby in cwd) so
    tables survive across CLI invocations — required for incremental
    materialisations to find their previous state in a new process (the
    engine's equivalent of the reference's always-persistent warehouse).
    The default in-memory catalog is right for tests and driver runs.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    ncpu = master[master.find("[") + 1 : -1] if "[" in master else ""
    if ncpu.isdigit():
        conf["spark.sql.shuffle.partitions"] = ncpu
    if delta_installed():
        conf.setdefault(
            "spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension"
        )
        conf.setdefault(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
    # SAYN_SPARK_EXTRA_CONF="k=v;k=v" — environment-level conf override
    # (below extra_conf), so deployments and perf A/Bs can re-tune
    # scale-dependent settings without editing code; the local defaults
    # above stay the bench contract.
    env_conf = os.environ.get("SAYN_SPARK_EXTRA_CONF", "")
    env_applied: dict[str, str] = {}
    for item in env_conf.split(";"):
        if "=" in item:
            k, _, v = item.partition("=")
            if k.strip():
                conf[k.strip()] = v.strip()
                env_applied[k.strip()] = v.strip()
    if env_applied:
        # bench/parity artifacts must record the environment delta: a
        # silent env override could skew recorded A/B numbers with no
        # trace.  stderr, never stdout (bench stdout is one JSON line).
        import sys

        print(
            "sayn_spark.session: SAYN_SPARK_EXTRA_CONF overrides "
            + ", ".join(f"{k}={v}" for k, v in sorted(env_applied.items())),
            file=sys.stderr,
        )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    if hive_metastore or os.environ.get("SAYN_SPARK_HIVE") == "1":
        builder = builder.enableHiveSupport()
    return builder.getOrCreate()
