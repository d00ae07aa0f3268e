"""Per-stage profiler for registry queries (optimization round tooling).

Runs each named query once warm + once measured with the noop sink in a
UI-enabled local session, then attributes stages to the query via job
groups and prints, per query, the top stages by executor run time with
their shuffle read/write bytes and task counts.  This is the guide §1
"empirical" loop without a browser: the same numbers the Stages tab
shows, scraped from the UI REST API.

Usage: python profile_query.py q_dedup_simhash [more...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request


def _api(base: str, path: str):
    with urllib.request.urlopen(base + path) as r:
        return json.load(r)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:]
    if not names:
        raise SystemExit("usage: profile_query.py <query> [query...]")

    from sayn_spark.functions import REGISTRY, release_persisted
    from sayn_spark.session import get_spark

    spark = get_spark("sayn-spark-profile", extra_conf={"spark.ui.enabled": "true"})
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    base = f"{ui}/api/v1/applications/{app_id}"

    for name in names:
        fn = REGISTRY[name].fn
        # warm: codegen cache + python worker pool
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        release_persisted()
        spark.catalog.clearCache()

        spark.sparkContext.setJobGroup(name, name)
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        spark.sparkContext.setJobGroup(None, None)
        release_persisted()
        spark.catalog.clearCache()

        jobs = [j for j in _api(base, "/jobs") if j.get("jobGroup") == name]
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        rows = []
        for sid in stage_ids:
            try:
                for att in _api(base, f"/stages/{sid}"):
                    rows.append(att)
            except Exception:
                pass
        rows.sort(key=lambda s: -s.get("executorRunTime", 0))
        total_run = sum(s.get("executorRunTime", 0) for s in rows)
        total_gc = sum(s.get("jvmGcTime", 0) for s in rows)
        print(f"\n=== {name}: wall {wall:.2f}s, {len(jobs)} jobs, "
              f"{len(rows)} stages, executor-time sum {total_run/1000:.1f}s, "
              f"gc {total_gc/1000:.1f}s ===")
        for s in rows[:14]:
            print(
                f"  stage {s['stageId']:>4} run {s.get('executorRunTime', 0)/1000:7.2f}s "
                f"gc {s.get('jvmGcTime', 0)/1000:5.2f}s "
                f"tasks {s.get('numCompleteTasks', 0):>3} "
                f"in {s.get('inputBytes', 0)/1e6:7.1f}MB "
                f"sh_r {s.get('shuffleReadBytes', 0)/1e6:7.1f}MB "
                f"sh_w {s.get('shuffleWriteBytes', 0)/1e6:7.1f}MB  "
                f"{(s.get('name') or '')[:70]}"
            )
    spark.stop()


if __name__ == "__main__":
    main()
