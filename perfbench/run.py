#!/usr/bin/env python3
"""End-to-end benchmark for file_db_spark.

    python3 perfbench/run.py --workload catalog|analytics --seed N --seconds S --trace 0|1

One process per run, one client, closed loop, `local[<nproc>]`. The
run builds its inputs from the seed, drives the program through its
public API, checks every answer against an oracle, and prints one JSON
line last: `{"correct", "attempted", "failed", "metrics"}`.

- `catalog`: timed = a cold ingest of a seeded file tree (`add_root`,
  then `crawl_once` / `hash_once` until both return 0), then a seeded
  deck of catalog lookups: one untimed round of every op type, then
  `3 × --seconds / 10` timed rounds.
- `analytics`: seeded tables; set-up runs every registry entry once,
  checked against its DuckDB oracle; timed = `--seconds / 10` passes
  (at least one) over the entries.

`--trace 0` prints the end-to-end metrics (`setup_s`, `work_s`,
`query_geomean_s`, `store_mb`); `--trace 1` wraps each layer's public
functions in this process only and prints per-layer metrics instead,
writing every span to `.perfbench_out/` in the checkout. See
perfbench/README.md.

Everything the run writes (tree, tables, catalog, Spark local dirs,
temp files) lives under `.perfbench_work/` in the checkout and is
removed at exit.
"""

from __future__ import annotations

import argparse
import compileall
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext
from datetime import datetime, timezone

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: files in the catalog workload's tree, all directly under its root: a
#: second BFS level would add a ~15 s crawl wave per run, which the
#: benchmark's time budget cannot carry (see README.md)
TREE_FILES = 2000
#: one crawl wave claims every due directory, one hash wave every file
CRAWL_LIMIT = 100_000
HASH_LIMIT = 1_000_000
#: lookup deck: this many timed rounds of every op type per 10 s of
#: --seconds, after one untimed round; the median of three samples per
#: op type drops one outlier
ROUNDS_PER_10S = 3
#: registry entries the analytics workload times, in this order, with
#: the short names of their per-layer metrics: the functions.text MinHash
#: and LSH kernels, eager per-round jobs, a Catalyst-only control
ANALYTICS_ENTRIES = {
    "x4_minhash_lsh": "x4",
    "x19_pagerank": "x19",
    "a10_local_supplier_volume": "a10",
}


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except FileNotFoundError:
                pass  # a concurrent commit moved it
    return total


class Run:
    """State of one benchmark run: session, tracer, tallies."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.tracer = None
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.detail: dict = {}

    # -- bookkeeping --------------------------------------------------------
    def span(self, name: str, layer: str = "bench"):
        return self.tracer.span(name, layer) if self.tracer else nullcontext()

    def check(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: wrong answer: {what}", file=sys.stderr)

    def attempt(self, what: str, fn, *args):
        """`fn(*args)`, with an exception counted as a failed op;
        returns its result, or None after an exception."""
        try:
            return fn(*args)
        except Exception:
            traceback.print_exc()
            self.check(f"{what} raised", False)
            return None

    def mark(self, phase: str) -> None:
        self.detail.setdefault("phases", []).append([phase, time.perf_counter() - T_PROCESS])

    def quiesce(self) -> None:
        """Python and JVM GC between phases, outside every timing, so
        the session's periodic GC finds little to do mid-phase."""
        gc.collect()
        self.spark._jvm.java.lang.System.gc()

    # -- set-up -------------------------------------------------------------
    def start_session(self) -> None:
        if self.args.trace:
            from perfbench.trace import Tracer

            self.tracer = Tracer()
            _instrument_py4j(self.tracer)
        from file_db_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        with self.span("get_spark", "session"):
            self.spark = get_spark(
                app_name="perfbench",
                extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"},
            )
        if self.tracer:
            sc = self.spark.sparkContext._jsc.sc()
            self.tracer.job_counter = lambda: sc.dagScheduler().numTotalJobs()
            _instrument_layers(self.tracer)
        self.mark("session")

    def stop_session(self) -> None:
        if self.tracer:
            self.tracer.restore()
        if self.spark is None:
            return
        gw = self.spark.sparkContext._gateway
        proc = getattr(gw, "proc", None)
        self.spark.stop()
        if proc is not None:
            # the JVM exits when its stdin closes; wait so no process
            # outlives the run
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def new_engine(self, name: str):
        from file_db_spark.filedb.engine import Engine

        eng = Engine(self.spark, os.path.join(self.work, name))
        eng.install()
        eng.enable_dir_stats_mv()
        eng.enable_dup_stats_mv()
        return eng

    # -- the write path -----------------------------------------------------
    def ingest(self, eng, man, now: datetime) -> None:
        """add_root, then crawl and hash waves until both return 0."""
        with self.span("ingest"):
            eng.add_root(man.root, now=now)
            while True:
                crawled = eng.crawl_once(now=now, limit=CRAWL_LIMIT)
                hashed = eng.hash_once(now=now, limit=HASH_LIMIT)
                self.detail.setdefault("waves", []).append([crawled, hashed])
                if crawled == 0 and hashed == 0:
                    break

    def check_catalog(self, eng, man) -> None:
        """Catalog vs the file system (dir_path, name, size), every
        digest vs hashlib, duplicate_report vs the generator's groups."""
        from pyspark.sql import functions as F

        from perfbench.treegen import walk_files

        with self.span("build", "views"):
            listing = eng.listing().where(F.col("type") == "file")
            report = eng.duplicate_report()
        with self.span("exec", "views"):
            rows = listing.select("dir_path", "name", "size", "md5_hash", "sha1_hash").collect()
            groups = _groups(report)
        listed = {(r[0], r[1], r[2]) for r in rows}
        self.check("catalog listing == os.walk", listed == walk_files(man.root))
        want = {(e.dir_path, e.name): (e.md5, e.sha1) for e in man.files}
        self.check(
            "catalog digests == hashlib",
            len(rows) == len(want) and all(want.get((r[0], r[1])) == (r[3], r[4]) for r in rows),
        )
        self.check("duplicate_report groups", groups == man.duplicate_groups())

    # -- the read path ------------------------------------------------------
    def lookup(self, eng, man, op: str, arg: str) -> tuple[float, bool]:
        """Run one op (build the frame, then materialize it); return
        (latency s, answer matches the oracle). The oracle runs after
        the clock stops."""
        from pyspark.sql import functions as F

        from file_db_spark.filedb import search

        t0 = time.perf_counter()
        with self.span(f"op:{op}"):
            with self.span("build", "views"):
                if op == "dup_of_file":
                    df = eng.search_duplicate_file(arg).select("full_path")
                elif op == "path_exists":
                    df = eng.listing()
                elif op == "name_glob":
                    df = search.search_file(eng.listing(), arg).select("full_path")
                elif op == "subtree":
                    df = eng.subtree(arg)[0].select("dir_path")
                elif op == "dir_stats":
                    df = eng.dir_stats().where(F.col("dir_id") == _dir_id(arg))
                else:
                    df = eng.duplicate_report()
            with self.span("exec", "views"):
                if op == "path_exists":
                    got = search.file_path_exists(df, arg)
                elif op == "dir_stats":
                    got = [tuple(r)[1:] for r in df.collect()]
                elif op == "dup_report":
                    got = _groups(df)
                else:
                    got = {r[0] for r in df.collect()}
        dt = time.perf_counter() - t0
        if op == "dup_of_file":
            want = man.duplicates_of(arg)
        elif op == "path_exists":
            want = man.path_exists(arg)
        elif op == "name_glob":
            want = man.name_glob(arg)
        elif op == "subtree":
            want = man.subtree(arg)
        elif op == "dir_stats":
            want = [man.dir_stats(arg)]
        else:
            want = man.duplicate_groups()
        return dt, got == want


def _groups(dup_report) -> set[frozenset[str]]:
    groups: dict = {}
    for r in dup_report.select("full_path", "sha1_hash", "size").collect():
        groups.setdefault((r[1], r[2]), set()).add(r[0])
    return {frozenset(g) for g in groups.values()}


def _dir_id(dir_path: str) -> int:
    from pyspark.sql import types as T

    from file_db_spark.filedb.store import portable_xxhash64

    return portable_xxhash64(dir_path, T.StringType())


def _utcnow() -> datetime:
    return datetime.now(tz=timezone.utc).replace(tzinfo=None)


# -- workloads ------------------------------------------------------------------


def workload_catalog(run: Run) -> dict:
    from perfbench.treegen import OP_TYPES, build_tree, op_deck

    run.start_session()
    man = build_tree(os.path.join(run.work, "tree"), "catalog", run.args.seed, TREE_FILES)
    run.detail["tree_mb"] = man.total_bytes / 1e6
    run.detail["tree_files"] = len(man.files)
    run.mark("tree")
    eng = run.new_engine("catalog")
    run.mark("bootstrap")
    run.quiesce()
    setup_s = time.perf_counter() - T_PROCESS
    t0 = time.perf_counter()
    run.attempt("ingest", run.ingest, eng, man, _utcnow())
    work_s = time.perf_counter() - t0
    run.detail["ingest_files_per_s"] = len(man.files) / work_s
    run.attempt("catalog check", run.check_catalog, eng, man)
    store_mb = _dir_bytes(eng.store.root) / 1e6
    run.quiesce()
    run.mark("ingest")

    rounds = max(1, run.args.seconds * ROUNDS_PER_10S // 10)
    lat: dict[str, list[float]] = {}
    # the first round warms each op type's plans and kernels, untimed
    for i, (op, arg) in enumerate(op_deck(man, run.args.seed, 1 + rounds)):
        got = run.attempt(f"{op}({arg!r})", run.lookup, eng, man, op, arg)
        if got is not None:
            dt, ok = got
            run.check(f"{op}({arg!r})", ok)
            if i >= len(OP_TYPES):
                lat.setdefault(op, []).append(dt)
    p50 = {op: statistics.median(v) for op, v in sorted(lat.items())}
    run.detail["op_p50_s"] = p50
    run.detail["op_latencies_s"] = lat
    return {
        "setup_s": setup_s,
        "work_s": work_s,
        "query_geomean_s": statistics.geometric_mean(p50.values()),
        "store_mb": store_mb,
    }


def _oracle_pass(run: Run, ops, sf: str, names: list[str]) -> dict[str, int]:
    """One pass over the entries, each answer checked against its DuckDB
    oracle (value hash as in tools/check.py); returns the verified row
    counts."""
    import duckdb

    from tools.check import value_hash

    con = duckdb.connect()
    for t in names:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    verified = {}
    for e in ANALYTICS_ENTRIES:
        _clear_caches(ops, sf)
        got = run.attempt(e, lambda: ops.ALL_QUERIES[e](run.spark, sf).toPandas())
        if got is None:
            continue
        want = con.execute(ops.ALL_ORACLES[e]).fetchdf()
        run.check(
            f"{e} vs its DuckDB oracle",
            len(got) == len(want)
            and sorted(got.columns) == sorted(want.columns)
            and value_hash(got) == value_hash(want),
        )
        verified[e] = len(got)
    con.close()
    return verified


def _clear_caches(ops, sf: str) -> None:
    ops.dedup.clear_cache(sf)
    ops.textops.clear_cache(sf)


def workload_analytics(run: Run) -> dict:
    from file_db_spark import operators as ops
    from perfbench.tablegen import write_tables

    run.start_session()
    sf = os.path.join(run.work, "tables")
    names = write_tables(sf, run.args.seed)
    store_mb = _dir_bytes(sf) / 1e6
    run.mark("tables")
    # the untimed pass compiles the kernels, warms the JIT and takes the
    # first-run corpus spread; it is also the oracle check. The next pass
    # still runs ~30% slower than a third would (the JIT is still
    # compiling), but a second warm-up pass costs ~14 s a run, which the
    # time budget cannot carry (README.md, measured spread)
    verified = _oracle_pass(run, ops, sf, names)
    run.mark("oracle pass")
    run.quiesce()
    setup_s = time.perf_counter() - T_PROCESS
    walls: dict[str, list[float]] = {e: [] for e in ANALYTICS_ENTRIES}
    passes = [
        _entry_pass(run, ops, sf, verified, walls)
        for _ in range(max(1, run.args.seconds // 10))
    ]
    p50 = {e: statistics.median(w) for e, w in walls.items() if w}
    run.detail["entry_p50_s"] = p50
    run.detail["pass_s"] = passes
    return {
        "setup_s": setup_s,
        "work_s": statistics.median(passes),
        "query_geomean_s": statistics.geometric_mean(p50.values()),
        "store_mb": store_mb,
    }


def _entry_pass(run: Run, ops, sf: str, verified: dict, walls: dict) -> float:
    """One pass over the entries, each row count checked against the
    verified one; appends each entry's wall to `walls` and returns the
    pass's wall."""
    pass_s = 0.0
    for e in ANALYTICS_ENTRIES:
        _clear_caches(ops, sf)
        t0 = time.perf_counter()
        n = run.attempt(e, _run_entry, run, ops, e, sf)
        dt = time.perf_counter() - t0
        pass_s += dt
        if n is not None:
            walls[e].append(dt)
            run.check(f"{e} row count", n == verified.get(e))
    run.quiesce()
    return pass_s


def _run_entry(run: Run, ops, e: str, sf: str) -> int:
    """`fn(spark, sf)` (build), then `.count()` (exec)."""
    with run.span(e):
        with run.span("build", "operators"):
            df = ops.ALL_QUERIES[e](run.spark, sf)
        with run.span("exec", "operators"):
            return df.count()


WORKLOADS = {"catalog": workload_catalog, "analytics": workload_analytics}
END_TO_END = {"setup_s": "s", "work_s": "s", "query_geomean_s": "s", "store_mb": "MB"}


# -- tracing ------------------------------------------------------------------


def _instrument_py4j(tracer) -> None:
    from py4j import clientserver, java_gateway

    tracer.instrument_py4j(clientserver.ClientServerConnection, java_gateway.GatewayConnection)


def _instrument_layers(tracer) -> None:
    """Wrap each layer's public functions (see README.md, per-layer
    metrics). Call sites inside the program resolve these names through
    their module at call time, so patching the module attribute (or the
    class attribute for methods) traces every call."""
    from pyspark.sql.classic.dataframe import DataFrame

    from file_db_spark.filedb import engine, merge, scan, scheduler, search, store, views

    for m in ("crawl_once", "hash_once", "run_until_idle", "add_root"):
        tracer.patch(engine.Engine, m, "engine", on_call=_record_result)
    # jobs the engine forces itself (its claim collect, its checkpoints,
    # where the hashing runs): a span only when called straight from an
    # engine method
    for m in ("collect", "count", "localCheckpoint"):
        tracer.patch(DataFrame, m, "engine.exec", under="engine")
    for f in ("get_dirs_to_crawl", "get_files_to_hash"):
        tracer.patch(scheduler, f, "scheduler")
    tracer.patch(scan, "scan_dirs", "scan", on_call=_record_frontier)
    tracer.patch(scan, "listing_to_catalog_rows", "scan")
    # engine binds hash_files by name at import
    tracer.patch(engine, "hash_files", "hashing")
    for f in (
        "merge_directories", "merge_files", "mark_dirs_crawled",
        "upsert_hashes_into", "delete_files", "delete_directories",
    ):
        tracer.patch(merge, f, "merge")
    for m in ("read_pruned", "read_bucketed_pruned", "read_prefix"):
        tracer.patch(store.TableStore, m, "store.probe", on_call=_record_probe)
    # the plain current-generation read: no skip report
    tracer.patch(store.TableStore, "read", "store.probe")
    for m in ("apply_changes", "append", "delete_rows", "merge"):
        tracer.patch(store.TableStore, m, "store.commit", on_call=_record_commit)
    for m in ("refresh_mview", "compact", "analyze"):
        tracer.patch(store.TableStore, m, "store.mv", on_call=_record_commit)
    tracer.patch(views, "vw_ll", "views")
    for f in ("search_file", "search_duplicate_file", "duplicate_groups", "file_path_exists"):
        tracer.patch(search, f, "views")


def _record_result(span, args, kwargs, run):
    out = run()
    if isinstance(out, int):
        span.attrs["n"] = out
    return out


def _record_frontier(span, args, kwargs, run):
    frontier = args[1] if len(args) > 1 else kwargs.get("dir_paths", [])
    span.attrs["dirs"] = len(frontier)
    return run()


def _record_probe(span, args, kwargs, run):
    out = run()
    rep = out[1] or {}
    span.attrs["total"] = int(rep.get("total", 0))
    span.attrs["skipped"] = int(rep.get("zone_skipped", 0)) + int(rep.get("bloom_skipped", 0))
    return out


def _record_commit(span, args, kwargs, run):
    table_store = args[0]
    name = args[1] if len(args) > 1 else kwargs.get("name", kwargs.get("view"))
    path = os.path.join(table_store.root, name)
    before = _dir_bytes(path)
    out = run()
    span.attrs["table"] = name
    span.attrs["bytes"] = max(0, _dir_bytes(path) - before)
    if isinstance(out, dict):
        span.attrs["rows"] = sum(int(out.get(k) or 0) for k in ("inserted", "updated", "deleted"))
    return out


def _jvm_gc_s(run: Run) -> float:
    beans = run.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def catalog_layer_metrics(spans, detail: dict) -> dict[str, float]:
    """The filedb layers' metrics from a run's spans (all 0 when the run
    called no filedb function)."""
    from perfbench.trace import covered, self_counts, self_times

    st, sj, sp = self_times(spans), self_counts(spans, "jobs"), self_counts(spans, "py4j")
    by_id = {s.id: s for s in spans}

    def under(s, layer):
        while s.parent is not None:
            s = by_id[s.parent]
            if s.layer == layer:
                return True
        return False

    def layer(name, fn=None):
        return [s for s in spans if s.layer == name and (fn is None or fn(s))]

    def self_s(ss):
        return sum(st[s.id] for s in ss)

    def jobs(ss):
        return sum(sj[s.id] for s in ss)

    def py4j(ss):
        return sum(sp[s.id] for s in ss)

    eng, forced = layer("engine"), layer("engine.exec")
    waves = layer("engine", lambda s: s.name in ("crawl_once", "hash_once"))
    hashed = sum(s.attrs.get("n", 0) for s in waves if s.name == "hash_once")
    probe, mv = layer("store.probe"), layer("store.mv")
    # an MV refresh writes its view through TableStore.merge: that write
    # is the MV layer's, not a catalog commit
    commit = layer("store.commit", lambda s: not under(s, "store.mv"))
    views = layer("views")
    listed = sum(s.attrs.get("dirs", 0) for s in layer("scan"))
    kids: dict = {}
    for s in spans:
        kids.setdefault(s.parent, []).append((s.start, s.end))
    coverage = [covered(kids.get(w.id, []), w.start, w.end) / w.duration for w in waves]
    probe_total = sum(s.attrs.get("total", 0) for s in probe)
    rows_changed = sum(
        s.attrs.get("rows", 0) for s in commit if s.attrs.get("table") in ("file", "directory")
    )
    return {
        "engine_self_s": self_s(eng),
        "engine_exec_s": sum(s.duration for s in forced),
        "engine_jobs": jobs(eng) + jobs(forced),
        "engine_py4j_per_wave": sum(s.py4j for s in waves) / max(1, len(waves)),
        "wave_span_coverage": min(coverage, default=0.0),
        "scheduler_self_s": self_s(layer("scheduler")),
        "scan_self_s": self_s(layer("scan")),
        "scan_dirs_listed": listed,
        "hashing_self_s": self_s(layer("hashing")),
        "hashing_files": hashed,
        "hashing_mb": detail.get("tree_mb", 0) * hashed / max(1, detail.get("tree_files", 0)),
        "merge_self_s": self_s(layer("merge")),
        "merge_py4j": py4j(layer("merge")),
        "store_probe_self_s": self_s(probe),
        "store_probe_skip_ratio": (
            sum(s.attrs.get("skipped", 0) for s in probe) / max(1, probe_total)
        ),
        "store_commit_self_s": self_s(commit),
        "store_commit_jobs": jobs(commit),
        "store_commit_rows": sum(s.attrs.get("rows", 0) for s in commit),
        "store_commit_mb_written": sum(s.attrs.get("bytes", 0) for s in commit) / 1e6,
        "store_rows_changed_per_row_listed": rows_changed / max(1, listed + hashed),
        "store_mv_self_s": self_s(mv),
        # inclusive: a refresh's jobs run in the store.merge it calls
        "store_mv_jobs": sum(s.jobs for s in mv),
        "store_mv_mb_written": sum(s.attrs.get("bytes", 0) for s in mv) / 1e6,
        "views_build_s": sum(s.duration for s in views if s.name == "build"),
        "views_exec_s": sum(s.duration for s in views if s.name == "exec"),
        "views_jobs": jobs(views),
        "views_py4j": py4j(views),
    }


def analytics_layer_metrics(spans) -> dict[str, float]:
    """Per entry: build (the `fn(spark, sf)` call) and exec (`.count()`)
    seconds, py4j round trips and Spark jobs, medians over the timed
    passes (all 0 when the run timed no entry). Jobs in build are eager
    ones (checkpoints, collect-driven loops)."""
    kids: dict[int, dict] = {}
    for s in spans:
        if s.layer == "operators":
            kids.setdefault(s.parent, {})[s.name] = s
    out = {}
    for e, short in ANALYTICS_ENTRIES.items():
        rows = [
            (kids[s.id]["build"], kids[s.id]["exec"])
            for s in spans
            if s.layer == "bench" and s.name == e and len(kids.get(s.id, {})) == 2
        ]
        for field, get in (
            ("build_s", lambda b, x: b.duration),
            ("exec_s", lambda b, x: x.duration),
            ("build_py4j", lambda b, x: b.py4j),
            ("build_jobs", lambda b, x: b.jobs),
            ("exec_jobs", lambda b, x: x.jobs),
        ):
            out[f"{short}_{field}"] = statistics.median(get(b, x) for b, x in rows) if rows else 0
    return out


def layer_metrics(run: Run, end_to_end: dict) -> dict[str, float]:
    """Every per-layer metric of BENCHMARK.json from the run's spans; a
    layer the workload does not call reports 0."""
    spans = run.tracer.spans
    return {
        "session_start_s": sum(s.duration for s in spans if s.layer == "session"),
        **catalog_layer_metrics(spans, run.detail),
        **analytics_layer_metrics(spans),
        "jvm_gc_s": _jvm_gc_s(run),
        "py4j_calls": run.tracer.py4j_calls,
        "spark_jobs": run.tracer.job_counter(),
        "traced_work_s": end_to_end["work_s"],
        "traced_query_geomean_s": end_to_end["query_geomean_s"],
    }


PER_LAYER_UNITS = {
    "session_start_s": "s", "engine_self_s": "s", "engine_exec_s": "s", "engine_jobs": "count",
    "engine_py4j_per_wave": "count", "wave_span_coverage": "ratio", "scheduler_self_s": "s",
    "scan_self_s": "s", "scan_dirs_listed": "count", "hashing_self_s": "s",
    "hashing_files": "count", "hashing_mb": "MB", "merge_self_s": "s", "merge_py4j": "count",
    "store_probe_self_s": "s", "store_probe_skip_ratio": "ratio", "store_commit_self_s": "s",
    "store_commit_jobs": "count", "store_commit_rows": "count", "store_commit_mb_written": "MB",
    "store_rows_changed_per_row_listed": "ratio", "store_mv_self_s": "s", "store_mv_jobs": "count",
    "store_mv_mb_written": "MB", "views_build_s": "s", "views_exec_s": "s", "views_jobs": "count",
    "views_py4j": "count",
    **{
        f"{short}_{field}": unit
        for short in ANALYTICS_ENTRIES.values()
        for field, unit in (
            ("build_s", "s"), ("exec_s", "s"), ("build_py4j", "count"),
            ("build_jobs", "count"), ("exec_jobs", "count"),
        )
    },
    "jvm_gc_s": "s", "py4j_calls": "count", "spark_jobs": "count",
    "traced_work_s": "s", "traced_query_geomean_s": "s",
}


def _write_spans(run: Run) -> str:
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"spans-{run.args.workload}-{run.args.seed}.json")
    with open(path, "w") as fh:
        json.dump(
            [
                {"id": s.id, "name": s.name, "layer": s.layer, "parent": s.parent,
                 "start": s.start, "end": s.end, "jobs": s.jobs, "py4j": s.py4j, **s.attrs}
                for s in sorted(run.tracer.spans, key=lambda s: s.start)
            ],
            fh,
        )
    return path


# -- entry point ----------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "file_db_spark", "__init__.py")):
        return _fail(f"no file_db_spark package next to {HERE}; run from a full checkout")
    sys.path.insert(0, ROOT)
    # executor Python workers import the program inside timed waves: write
    # its bytecode during set-up, so the first run in a checkout does not
    # pay for compiling it inside a timing
    compileall.compile_dir(os.path.join(ROOT, "file_db_spark"), quiet=1)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # executor Python workers import the program's mapInPandas functions
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    # a SIGTERM still runs the clean-up below: stop the JVM, delete `work`
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    run = Run(args, work)
    try:
        metrics = WORKLOADS[args.workload](run)
        if run.tracer:
            run.detail["spans_file"] = _write_spans(run)
            values, units = layer_metrics(run, metrics), PER_LAYER_UNITS
        else:
            values, units = metrics, END_TO_END
    finally:
        run.stop_session()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there
    if set(values) != set(units):
        return _fail(f"missing metrics: {sorted(set(units) - set(values))}")
    print(json.dumps({"detail": run.detail}, default=str))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": max(1, run.attempted),
                "failed": run.failed,
                "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
