#!/usr/bin/env python
"""Capture .explain('formatted') output for registry queries into
plans/<tag>/<query>_<suffix>.txt (the judge-facing before/after plan
evidence for optimization rounds).

Usage: python tools/capture_plans.py <tag> <suffix> [query ...]
       (no query args = the bench HEADLINE list)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    outdir = os.path.join(REPO, "plans", tag)
    os.makedirs(outdir, exist_ok=True)

    from file_db_spark import frames
    from file_db_spark import operators as ops
    from file_db_spark.session import get_spark

    if not names:
        import bench

        names = list(bench.HEADLINE)
    spark = get_spark(app_name="capture_plans")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    # VERDICT r10 #5: a localCheckpoint'd frame explains as a single
    # `Scan ExistingRDD` leaf, so for every checkpoint-family query the
    # captured before/after plans were degenerate. For capture only,
    # swap localCheckpoint for an equivalent persist+materialize: the
    # query still BUILDS identically (eager materialization preserved,
    # observe() metrics still ride the count), but the explain output
    # keeps the full operator tree under InMemoryTableScan. Disable
    # with SPARK_GRAFT_CAPTURE_REAL_CKPT=1 to capture execution-shape
    # plans instead.
    if os.environ.get("SPARK_GRAFT_CAPTURE_REAL_CKPT", "") in ("", "0"):

        def _persisting_ckpt(self, eager: bool = True, storageLevel=None):
            out = self.persist()
            if eager:
                out.count()
            return out

        # patch the CLASSIC subclass too: runtime frames are
        # pyspark.sql.classic.dataframe.DataFrame, whose own
        # localCheckpoint shadows a base-class patch
        from pyspark.sql import DataFrame

        DataFrame.localCheckpoint = _persisting_ckpt
        try:
            from pyspark.sql.classic.dataframe import DataFrame as _ClassicDF

            _ClassicDF.localCheckpoint = _persisting_ckpt
        except ImportError:
            pass
    for name in names:
        fn = ops.ALL_QUERIES.get(name)
        if fn is None:
            print(f"SKIP {name}: not registered")
            continue
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        try:
            frames.clear(sf_dir)
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # capture the failure instead of dying
            plan = f"ERROR building {name}: {exc!r}\n"
        # iterative queries' persist-form plans repeat every round's
        # subtree inside each InMemoryTableScan — cap the file at a
        # reviewable size (the top of the tree carries the evidence)
        cap = int(os.environ.get("SPARK_GRAFT_PLAN_MAX_BYTES", "300000"))
        if len(plan) > cap:
            plan = (
                plan[:cap]
                + f"\n... [truncated by capture_plans: full plan {len(plan)} bytes]\n"
            )
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
