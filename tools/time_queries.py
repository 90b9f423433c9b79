#!/usr/bin/env python
"""Time individual registry queries with the bench methodology (warm
the plan at sf0.001, then min of two timed runs at $SPARK_GRAFT_SF_DIR,
derived caches cleared between runs). For iterating on one query
without paying for the full bench.

Usage: python tools/time_queries.py q1 [q2 ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    names = sys.argv[1:]
    from file_db_spark import frames
    from file_db_spark import operators as ops
    from file_db_spark.session import get_spark

    spark = get_spark(app_name="time_queries")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warm_dir = "/root/testdata/sf0.001"
    ops.ALL_QUERIES["a5_distinct"](spark, sf_dir).count()
    from file_db_spark.operators.filedb_catalog import _listing

    _listing(spark, sf_dir).count()
    out = {}
    for name in names:
        fn = ops.ALL_QUERIES[name]
        try:
            fn(spark, warm_dir).count()
        except Exception:
            pass
        dt = None
        for _ in range(2):
            frames.clear(sf_dir)
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            run = time.perf_counter() - t0
            dt = run if dt is None else min(dt, run)
        out[name] = round(dt, 3)
        print(f"TIMED {name}: {out[name]}s", flush=True)
    print("RESULT " + json.dumps(out))


if __name__ == "__main__":
    main()
