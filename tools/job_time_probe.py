#!/usr/bin/env python
"""Per-job WALL-TIME decomposition for a registry query (round 13).

query_job_probe.py (round 12) counts jobs/stages/tasks; this probe adds
WHERE THE TIME WENT: per-job submit→complete duration AND the driver-side
gaps between consecutive jobs (planning, py4j round-trips, meta IO,
checkpoint bookkeeping) — the structure `.explain` can't show and job
counts alone only hint at. Uses the Spark event log (JSON lines), so it
needs its own session; run it alone on a quiet host.

Usage: SPARK_GRAFT_SF_DIR=... python tools/job_time_probe.py q1 [q2 ...]
"""

from __future__ import annotations

import glob
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    evdir = tempfile.mkdtemp(prefix="mls_evlog_")

    from pyspark.sql import SparkSession

    from meilisync_spark.session import _default_driver_mem, tune

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = (
        SparkSession.builder.appName("job-time-probe")
        .master(f"local[{cpus}]")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "67108864")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", _default_driver_mem())
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.dir", evdir)
        .getOrCreate()
    )
    tune(spark)
    spark.sparkContext.setLogLevel("WARN")

    from meilisync_spark import queries as Q

    sc = spark.sparkContext
    spans = {}
    for name in names:
        fn = Q.REGISTRY[name].fn
        # untimed warmup (JIT/codegen), fresh frame
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        sc._jvm.System.gc()
        sc.setJobDescription(f"PROBE:{name}")
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        t1 = time.time()
        sc.setJobDescription(None)
        spans[name] = (t0 * 1000, t1 * 1000, t1 - t0)
        spark.catalog.clearCache()

    # flush the event log, then parse it (Spark 4 writes a rolling
    # eventlog_v2_<appid>/ DIRECTORY of events_* part files; older
    # builds write a single <appid> file — handle both)
    app_id = sc.applicationId
    spark.stop()
    logs = glob.glob(os.path.join(evdir, f"*{app_id}*"))
    if logs and os.path.isdir(logs[0]):
        logs = sorted(glob.glob(os.path.join(logs[0], "events_*")))
    jobs = []
    lines = []
    for lf in logs:
        with open(lf) as fh:
            lines.extend(fh)
    for line in lines:
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        if ev.get("Event") == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs.append({
                "id": ev["Job ID"],
                "t0": ev["Submission Time"],
                "desc": props.get("spark.job.description", ""),
                "site": ev.get("Stage Infos", [{}])[0].get("Stage Name", "")[:70]
                if ev.get("Stage Infos") else "",
            })
        elif ev.get("Event") == "SparkListenerJobEnd":
            for j in jobs:
                if j["id"] == ev["Job ID"]:
                    j["t1"] = ev["Completion Time"]

    for name in names:
        a, b, wall = spans[name]
        mine = sorted(
            (j for j in jobs if a <= j["t0"] <= b and j.get("desc") == f"PROBE:{name}"),
            key=lambda j: j["t0"],
        )
        total_job = sum((j.get("t1", j["t0"]) - j["t0"]) for j in mine) / 1000
        print(json.dumps({"query": name, "wall_s": round(wall, 3),
                          "n_jobs": len(mine),
                          "sum_job_s": round(total_job, 3)}))
        prev_end = a
        for j in mine:
            gap = (j["t0"] - prev_end) / 1000
            dur = (j.get("t1", j["t0"]) - j["t0"]) / 1000
            prev_end = j.get("t1", j["t0"])
            print(f"   gap {gap*1000:6.0f}ms | job {j['id']:>4} {dur*1000:7.0f}ms  {j['site']}")
        print(f"   tail gap {(b - prev_end):6.0f}ms")


if __name__ == "__main__":
    main()
