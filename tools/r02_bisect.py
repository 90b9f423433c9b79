#!/usr/bin/env python
"""Bisect the r02-shared headline regression (VERDICT r10 #1).

Times the fixed 14-query r02 set three ways inside ONE session:
  front:   right after minimal warmup (what tools/time_queries.py sees)
  back:    after simulating the full 87-query bench (warmup at sf0.001
           + one timed pass at sf0.1) — the state the real bench's
           interleaved r02 queries run under
  after_gc: back, re-timed after System.gc() + clearCache() — tells us
           whether the inflation is reclaimable JVM state (checkpoint
           RDD blocks, listener queues) or something stickier

Also dumps RDD storage-block counts/bytes at each phase.
Usage: python tools/r02_bisect.py [--skip-full]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def storage_info(spark):
    try:
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        n = len(infos)
        mem = sum(i.memSize() for i in infos)
        disk = sum(i.diskSize() for i in infos)
        return {"rdds": n, "mem_mb": round(mem / 1e6, 1), "disk_mb": round(disk / 1e6, 1)}
    except Exception as exc:  # pragma: no cover
        return {"err": repr(exc)}


def time_set(spark, ops, names, sf_dir):
    from file_db_spark import frames

    out = {}
    for name in names:
        fn = ops.ALL_QUERIES[name]
        dt = None
        for _ in range(2):
            frames.clear(sf_dir)
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            run = time.perf_counter() - t0
            dt = run if dt is None else min(dt, run)
        out[name] = round(dt, 3)
    return out


def main() -> None:
    from file_db_spark import frames
    from file_db_spark import operators as ops
    from file_db_spark.session import get_spark
    import bench

    spark = get_spark(app_name="r02_bisect")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warm_dir = "/root/testdata/sf0.001"
    ops.ALL_QUERIES["a5_distinct"](spark, sf_dir).count()
    from file_db_spark.operators.filedb_catalog import _listing

    _listing(spark, sf_dir).count()
    ops.similarity.v16_ensure_index(spark, sf_dir)

    report = {}
    # warm the 14 plans only
    for name in bench.R02_SHARED:
        try:
            ops.ALL_QUERIES[name](spark, warm_dir).count()
        except Exception:
            pass
    report["front"] = time_set(spark, ops, bench.R02_SHARED, sf_dir)
    report["front_total"] = round(sum(report["front"].values()), 3)
    report["front_storage"] = storage_info(spark)
    print("FRONT", json.dumps(report["front_total"]), report["front_storage"], flush=True)

    if "--skip-full" not in sys.argv:
        # simulate the rest of the bench: full warmup + one timed pass
        for name in bench.HEADLINE:
            fn = ops.ALL_QUERIES.get(name)
            if fn is None:
                continue
            try:
                fn(spark, warm_dir).count()
            except Exception:
                pass
        for name in bench.HEADLINE:
            fn = ops.ALL_QUERIES.get(name)
            if fn is None:
                continue
            frames.clear(sf_dir)
            fn(spark, sf_dir).count()
        report["back_storage_pre"] = storage_info(spark)
        report["back"] = time_set(spark, ops, bench.R02_SHARED, sf_dir)
        report["back_total"] = round(sum(report["back"].values()), 3)
        report["back_storage"] = storage_info(spark)
        print("BACK", report["back_total"], report["back_storage"], flush=True)

        # System.gc() lets ContextCleaner reap checkpoint RDDs whose
        # references are gone; live fixture persists (still referenced
        # from the fixture caches) survive, so the re-timing is fair.
        spark.sparkContext._jvm.System.gc()
        time.sleep(2)
        spark.sparkContext._jvm.System.gc()
        report["gc_storage"] = storage_info(spark)
        report["after_gc"] = time_set(spark, ops, bench.R02_SHARED, sf_dir)
        report["after_gc_total"] = round(sum(report["after_gc"].values()), 3)
        print("AFTER_GC", report["after_gc_total"], report["gc_storage"], flush=True)

    with open("/tmp/r02_bisect.json", "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    print("RESULT " + json.dumps({k: v for k, v in report.items() if not isinstance(v, dict)}))


if __name__ == "__main__":
    main()
