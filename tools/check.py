#!/usr/bin/env python
"""Local stand-in for the driver's correctness gate: run every
queries() entry at sf0.01, run the matching oracle_sql() in DuckDB on
the same parquet, and compare row-count + (order-insensitive,
name-sorted-columns) value hash. --strict also reports every RDD an
entry left persisted after its result is released and the session's
derived caches are cleared (`LEAK <name>: <n> RDDs`, counted as a
failure).

Usage: python tools/check.py [--graded] [--vanilla] [--strict] [query ...]

With no query args, checks the FULL registry (operators.ALL_QUERIES —
suites AND their member originals). --graded restricts to the 50-entry
driver-graded window (__spark_entry__.queries()). --vanilla builds a
bare SparkSession with NONE of session.py's configs, mirroring the
driver's environment — this is the mode that would have caught the
r02 nanosAsLong portability failure (all confs the engine needs must
come from catalog.ensure_confs at runtime).
"""

from __future__ import annotations

import os
import sys
import traceback

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01")

from __spark_entry__ import oracle_sql, queries  # noqa: E402

from file_db_spark import frames  # noqa: E402
from file_db_spark.catalog import TABLES  # noqa: E402
from file_db_spark.session import get_spark  # noqa: E402


#: --strict compares float columns BIT-EXACTLY (no round-6 smoothing).
#: The driver's hash may be stricter than ours; a query that passes
#: only thanks to rounding has an order-sensitive float somewhere —
#: strict mode surfaces those locally.
STRICT = False


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            if not STRICT:
                df[c] = df[c].round(6)
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype("int64")
        else:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def value_hash(df: pd.DataFrame) -> str:
    import hashlib

    h = hashlib.sha256()
    h.update(pd.util.hash_pandas_object(canon(df), index=False).values.tobytes())
    return h.hexdigest()[:16]


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _leaks(spark, df, before: set) -> int:
    """RDD ids persisted while `df` was built and run that stay
    registered once `df` is released and the derived caches cleared
    (ids, not counts: the ContextCleaner may drop older RDDs at any
    moment)."""
    frames.release(df)
    frames.clear(SF_DIR)
    return len(_persisted(spark) - before)


def _fresh_main(names: list[str], vanilla: bool) -> None:
    """Strictest driver mirror: each query runs in its OWN subprocess
    (fresh JVM, fresh session) so no query can lean on another's
    session state, caches, or registered views."""
    import subprocess

    n_pass = n_fail = 0
    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), name]
        if vanilla:
            cmd.append("--vanilla")
        res = subprocess.run(cmd, capture_output=True, text=True)
        ok = res.returncode == 0
        n_pass += ok
        n_fail += not ok
        print(f"{'PASS' if ok else 'FAIL'}  {name} (fresh proc)")
        if not ok:
            print("\n".join(res.stdout.splitlines()[-8:]))
    print(f"\n{n_pass} pass, {n_fail} fail (fresh-process mode)")
    sys.exit(1 if n_fail else 0)


def main() -> None:
    args = sys.argv[1:]
    graded_only = "--graded" in args
    vanilla = "--vanilla" in args
    global STRICT
    STRICT = "--strict" in args
    only = {a for a in args if not a.startswith("--")}
    if "--fresh" in args:
        from file_db_spark import operators as _ops

        names = sorted(only) if only else (
            list(_ops.GRADED) if graded_only else list(_ops.ALL_QUERIES)
        )
        _fresh_main(names, vanilla)
        return
    if vanilla:
        # The driver supplies its own session with none of our configs;
        # everything the engine needs must be applied at runtime by
        # catalog.ensure_confs. (Stop any session.py-configured session
        # a prior import may have started in this process.)
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[32]")
            .appName("check-vanilla")
            .config("spark.driver.memory", "8g")
            .getOrCreate()
        )
    else:
        spark = get_spark(app_name="check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    if graded_only:
        qs, oracles = queries(), oracle_sql()
    else:
        from file_db_spark import operators as _ops

        qs, oracles = _ops.ALL_QUERIES, _ops.ALL_ORACLES
    if STRICT:
        # the pinned fixture tables outlive every entry: warm them
        # before any baseline is taken
        from file_db_spark.filedb import fixtures

        for warm in (fixtures.fixture_directory, fixtures.fixture_file, fixtures.fixture_hash):
            warm(spark, SF_DIR)
    n_pass = n_fail = n_rowsonly = n_leak = 0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        before = _persisted(spark)
        try:
            df = fn(spark, SF_DIR)
            sdf = df.toPandas()
        except Exception:
            print(f"FAIL  {name}: spark query crashed")
            traceback.print_exc(limit=3)
            n_fail += 1
            continue
        leaked = _leaks(spark, df, before) if STRICT else 0
        if leaked:
            print(f"LEAK {name}: {leaked} RDDs")
            n_leak += 1
        sql = oracles.get(name)
        if sql is None:
            print(f"rows  {name}: {len(sdf)} rows (rows-only, no oracle)")
            n_rowsonly += 1
            continue
        try:
            odf = con.execute(sql).fetchdf()
        except Exception as exc:
            print(f"FAIL  {name}: oracle crashed: {exc}")
            n_fail += 1
            continue
        if len(sdf) != len(odf):
            print(f"FAIL  {name}: rowcount spark={len(sdf)} oracle={len(odf)}")
            n_fail += 1
            continue
        if sorted(sdf.columns) != sorted(odf.columns):
            print(
                f"FAIL  {name}: columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
            )
            n_fail += 1
            continue
        hs, ho = value_hash(sdf), value_hash(odf)
        if hs != ho:
            print(f"FAIL  {name}: value hash mismatch ({len(sdf)} rows)")
            cs, co = canon(sdf), canon(odf)
            diff = ~(cs == co).all(axis=1)
            if diff.any():
                i = diff.idxmax()
                print("  first differing row:")
                print("  spark :", cs.loc[i].to_dict())
                print("  oracle:", co.loc[i].to_dict())
            n_fail += 1
            continue
        print(f"PASS  {name}: {len(sdf)} rows")
        n_pass += 1
    print(f"\n{n_pass} pass, {n_rowsonly} rows-only, {n_fail} fail, {n_leak} leak")
    sys.exit(1 if n_fail or n_leak else 0)


if __name__ == "__main__":
    main()
