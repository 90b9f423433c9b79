#!/usr/bin/env python
"""Profile one (or more) registry queries with the Spark event log.

Runs each named query once at $SPARK_GRAFT_SF_DIR (default sf0.1) after
a best-effort warmup at sf0.001, with spark.eventLog enabled, then
parses the event log and prints a per-job breakdown: job wall, sum of
task time, task count, and the DRIVER GAP (wall time between jobs —
pure driver/Python overhead, invisible in stage metrics).

Usage: python tools/profile_query.py q1 [q2 ...] [--no-warm]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

EVDIR = "/tmp/spark-events-profile"


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    warm = "--no-warm" not in sys.argv
    shutil.rmtree(EVDIR, ignore_errors=True)
    os.makedirs(EVDIR)

    from file_db_spark import frames
    from file_db_spark import operators as ops
    from file_db_spark.session import get_spark

    spark = get_spark(
        app_name="profile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": EVDIR,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warm_dir = "/root/testdata/sf0.001"
    # session + catalog warmup (mirrors bench.py)
    ops.ALL_QUERIES["a5_distinct"](spark, sf_dir).count()
    from file_db_spark.operators.filedb_catalog import _listing

    _listing(spark, sf_dir).count()

    results = {}
    for name in names:
        fn = ops.ALL_QUERIES[name]
        if warm:
            try:
                fn(spark, warm_dir).count()
            except Exception:
                pass
        frames.clear(sf_dir)
        spark.sparkContext.setJobDescription(f"PROFILE:{name}")
        w0 = time.time() * 1000
        t0 = time.perf_counter()
        fn(spark, sf_dir).count()
        results[name] = (time.perf_counter() - t0, w0, time.time() * 1000)
        spark.sparkContext.setJobDescription(None)

    # force event log flush
    app_id = spark.sparkContext.applicationId
    spark.stop()
    time.sleep(1.0)

    print("WALLS:", {k: round(v[0], 2) for k, v in results.items()})
    path = None
    for f in os.listdir(EVDIR):
        if f.startswith(app_id):
            path = os.path.join(EVDIR, f)
    jobs = []  # (job_id, desc, t_start, t_end, n_tasks, task_ms)
    stage_tasks: dict[int, list] = {}
    stage_of_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                desc = ev.get("Properties", {}).get(
                    "spark.job.description", ""
                ) or ev.get("Properties", {}).get("callSite.short", "")
                for sid in ev.get("Stage IDs", []):
                    stage_of_job[sid] = jid
                jobs.append(
                    {
                        "id": jid,
                        "desc": desc,
                        "t0": ev["Submission Time"],
                        "t1": None,
                        "tasks": 0,
                        "task_ms": 0,
                    }
                )
            elif e == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                for j in jobs:
                    if j["id"] == jid:
                        j["t1"] = ev["Completion Time"]
            elif e == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                jid = stage_of_job.get(sid)
                info = ev.get("Task Info", {})
                dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                for j in jobs:
                    if j["id"] == jid:
                        j["tasks"] += 1
                        j["task_ms"] += dur

    for name, (wall, w0, w1) in results.items():
        # jobs submitted inside the query's wall-clock window (covers
        # suite members running on pool threads, where the thread-local
        # job description is absent)
        sel = [j for j in jobs if j["t1"] and w0 <= j["t0"] <= w1]
        if not sel:
            print(f"== {name}: wall {wall:.2f}s — no tagged jobs found")
            continue
        sel.sort(key=lambda j: j["t0"])
        tot_job = sum(j["t1"] - j["t0"] for j in sel) / 1000
        span = (sel[-1]["t1"] - sel[0]["t0"]) / 1000
        gaps = (
            sum(
                max(0, sel[i + 1]["t0"] - sel[i]["t1"])
                for i in range(len(sel) - 1)
            )
            / 1000
        )
        ntasks = sum(j["tasks"] for j in sel)
        print(
            f"== {name}: wall {wall:.2f}s | jobs {len(sel)} "
            f"(sum {tot_job:.2f}s, span {span:.2f}s, inter-job gaps "
            f"{gaps:.2f}s) | tasks {ntasks} "
            f"(task-time {sum(j['task_ms'] for j in sel) / 1000:.2f}s)"
        )
        big = sorted(sel, key=lambda j: j["t0"] - j["t1"])[:15]
        for j in big:
            print(
                f"   job {j['id']:>4} {(j['t1'] - j['t0']) / 1000:7.2f}s "
                f"tasks={j['tasks']:<4} task_ms={j['task_ms']:<8} "
                f"{j['desc'][:90]}"
            )


if __name__ == "__main__":
    main()
