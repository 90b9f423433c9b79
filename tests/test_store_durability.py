"""One durable publish path for every store write.

- No rename in the package bypasses `store.publish`.
- Crash sweep: for each write path, failing its k-th publish (every k)
  leaves a fresh store, after `recover_multi()`, reading all-old or
  all-new, and a second `recover_multi()` finds nothing to do.
- Durability: every publish fsyncs its source and then the target's
  parent, and every file a generation can read is fsynced before the
  `_CATALOG.json` publish that names it.
"""

from __future__ import annotations

import ast
import json
import os
import re
import shutil
from datetime import datetime
from decimal import Decimal
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from faults import InjectedCrash, crash_at, record_publishes
from file_db_spark.filedb import schemas
from file_db_spark.filedb.store import TableStore

PKG = Path(__file__).resolve().parents[1] / "file_db_spark"

_T = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("v", T.LongType()),
    ]
)
_MV_SRC = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("grp", T.StringType()),
        T.StructField("val", T.LongType()),
    ]
)
_NOW = datetime(2024, 7, 1)


def test_every_rename_goes_through_publish():
    store_py = PKG / "filedb" / "store.py"
    fn = next(
        n
        for n in ast.walk(ast.parse(store_py.read_text()))
        if isinstance(n, ast.FunctionDef) and n.name == "publish"
    )
    pat = re.compile(r"\b(os\.replace|os\.rename|shutil\.move)\(")
    stray = [
        f"{path.relative_to(PKG)}:{i}: {line.strip()}"
        for path in sorted(PKG.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if pat.search(line)
        and not (path == store_py and fn.lineno <= i <= fn.end_lineno)
    ]
    assert stray == []


# -- write paths -------------------------------------------------------------
# Each case: (schemas, bucketed, setup, op, state). `setup` builds the
# OLD state, `op` is the write under test, `state` is what a reader sees.


def _rows(spark, lo, hi, mul=10):
    return spark.createDataFrame(
        [(i, f"n{i}", i * mul) for i in range(lo, hi)], _T
    )


def _read(table):
    def state(st):
        return sorted(map(tuple, st.read(table).collect()))

    return state


def _both(st):
    return _read("a")(st), _read("b")(st)


def _replace_t(st):
    st.replace("t", _rows(st.spark, 0, 20))


def _merge_src(spark):
    return spark.createDataFrame(
        [(1, "n1", 999, False), (3, "n3", 30, True), (100, "new", 1, False)],
        "id long, name string, v long, _del boolean",
    )


def _merge(st):
    st.merge(
        "t", _merge_src(st.spark), ["id"],
        when_matched_update="all", when_not_matched_insert="all",
        when_matched_delete="s._del", changed_only=["name", "v"],
    )


def _file_rows(spark, ids, size):
    return spark.createDataFrame(
        [
            (i, f"f{i}.txt", i % 4, Decimal(size), _NOW, _NOW, _NOW, _NOW, _NOW)
            for i in ids
        ],
        schemas.FILE,
    )


def _merge_bucketed(st):
    src = _file_rows(st.spark, [2, 5], "9.0").unionByName(
        _file_rows(st.spark, [70], "1.0")
    )
    st.merge(
        "file", src.withColumn("_del", F.col("id") == 5), ["id"],
        when_matched_update="all", when_not_matched_insert="all",
        when_matched_delete="s._del", changed_only=["size"],
    )


def _apply_changes(st):
    spark = st.spark
    st.apply_changes(
        "t", ["id"],
        inserts=_rows(spark, 50, 53),
        updates=_rows(spark, 4, 6, mul=7),
        deletes=spark.createDataFrame([(7,), (8,)], "id long"),
    )


def _mv_setup(st):
    spark = st.spark
    st.replace(
        "src",
        spark.createDataFrame([(i, f"g{i % 3}", i) for i in range(12)], _MV_SRC),
    )
    st.create_mview(
        "mv", "src", group_by=["grp"], count_col="n", sums={"total": "val"},
        key_cols=["id"], compare_cols=["grp", "val"],
    )
    st.replace(
        "src",
        spark.createDataFrame(
            [(i, f"g{i % 3}", i * 2) for i in range(3, 15)], _MV_SRC
        ),
    )


def _cursor_setup(st):
    _replace_t(st)
    st.create_consumer("t", "c")
    st.replace("t", _rows(st.spark, 5, 25))


def _compact_setup(st):
    _replace_t(st)
    for lo in (20, 25, 30):
        st.append("t", _rows(st.spark, lo, lo + 5))


_CASES = {
    "replace": (
        {"t": _T}, False, _replace_t,
        lambda st: st.replace("t", _rows(st.spark, 10, 30)),
        _read("t"),
    ),
    "append": (
        {"t": _T}, False, _replace_t,
        lambda st: st.append(
            "t", _rows(st.spark, 20, 30), zone_cols=["id"], rows_hint=10
        ),
        _read("t"),
    ),
    "merge": ({"t": _T}, False, _replace_t, _merge, _read("t")),
    "merge_bucketed": (
        {"file": schemas.FILE}, True,
        lambda st: st.replace("file", _file_rows(st.spark, range(64), "1.0")),
        _merge_bucketed,
        lambda st: sorted(
            (r["id"], float(r["size"]))
            for r in st.read("file").select("id", "size").collect()
        ),
    ),
    "apply_changes": ({"t": _T}, False, _replace_t, _apply_changes, _read("t")),
    "delete_rows": (
        {"t": _T}, False, _replace_t,
        lambda st: st.delete_rows(
            "t", st.spark.createDataFrame([(2,), (9,)], "id long"), ["id"]
        ),
        _read("t"),
    ),
    "replace_where": (
        {"t": _T}, False, _replace_t,
        lambda st: st.replace_where(
            "t", _rows(st.spark, 0, 5, mul=3), "id < 5"
        ),
        _read("t"),
    ),
    "commit_multi": (
        {"a": _T, "b": _T}, False,
        lambda st: (
            st.replace("a", _rows(st.spark, 0, 5)),
            st.replace("b", _rows(st.spark, 0, 5)),
        ),
        lambda st: st.commit_multi(
            {"a": _rows(st.spark, 10, 15), "b": _rows(st.spark, 20, 25)}
        ),
        _both,
    ),
    "advance_cursor": (
        {"t": _T}, False, _cursor_setup,
        lambda st: st.advance_cursor("t", "c"),
        lambda st: sorted(
            map(tuple, st.changes_since("t", "c", ["id"], ["name", "v"]).collect())
        ),
    ),
    "refresh_mview": (
        {"src": _MV_SRC}, False, _mv_setup,
        lambda st: st.refresh_mview("mv"),
        _read("mv"),
    ),
    "rebucket": (
        {"file": schemas.FILE}, True,
        lambda st: st.replace("file", _file_rows(st.spark, range(64), "1.0")),
        lambda st: st.rebucket("file", 16),
        lambda st: (
            _read("file")(st), st._gen_buckets("file", st._current("file"))
        ),
    ),
    "rename_column": (
        {"t": _T}, False, _replace_t,
        lambda st: st.rename_column("t", "name", "label"),
        lambda st: (st.read("t").columns, _read("t")(st)),
    ),
    "drop_column": (
        {"t": _T}, False, _replace_t,
        lambda st: st.drop_column("t", "name"),
        _read("t"),
    ),
    "compact": (
        {"t": _T}, False, _compact_setup,
        lambda st: st.compact("t", max_segments=1, zone_cols=["id"]),
        lambda st: (_read("t")(st), st.segment_count("t")),
    ),
}


@pytest.mark.parametrize("case", sorted(_CASES))
def test_crash_at_every_publish_reads_old_or_new(spark, tmp_path, case):
    tables, bucketed, setup, op, state = _CASES[case]

    def store(root):
        return TableStore(spark, str(root), dict(tables), bucketing=bucketed)

    base = tmp_path / "base"
    setup(store(base))
    old = state(store(base))

    clean = tmp_path / "clean"
    shutil.copytree(base, clean)
    st = store(clean)
    publishes = record_publishes(st)
    op(st)
    new = state(store(clean))
    assert new != old and publishes, (case, publishes)

    for k in range(1, len(publishes) + 1):
        root = tmp_path / f"k{k}"
        shutil.copytree(base, root)
        st = store(root)
        crash_at(st, k)
        with pytest.raises(InjectedCrash):
            op(st)
        fresh = store(root)
        fresh.recover_multi()
        got = state(fresh)
        assert got in (old, new), (case, k, publishes[k - 1][1], got)
        assert fresh.recover_multi() == {}, (case, k)
        if case == "commit_multi":
            assert os.listdir(root / "_txn_multi") == [], (case, k)


def test_refresh_mview_crash_after_merge_applies_the_delta_once(spark, tmp_path):
    """A refresh that dies after its MERGE commit — at the spec publish
    or at the cursor publish — must not re-apply that delta: the next
    refresh, from a fresh store, matches a recompute, also when the
    source moved on in between."""

    def store(root):
        return TableStore(spark, str(root), {"src": _MV_SRC}, bucketing=False)

    base = tmp_path / "base"
    _mv_setup(store(base))
    clean = tmp_path / "clean"
    shutil.copytree(base, clean)
    st = store(clean)
    publishes = record_publishes(st)
    st.refresh_mview("mv")
    after_merge = [
        dst for _, dst in publishes[
            max(i for i, (_, dst) in enumerate(publishes) if "_CATALOG" in dst) + 1:
        ]
    ]
    assert any("_mv-mv.json" in d for d in after_merge), publishes
    assert any("_CURSOR-__mv_mv" in d for d in after_merge), publishes

    for target in ("_mv-mv.json", "_CURSOR-__mv_mv"):
        root = tmp_path / target.strip("_-.")
        shutil.copytree(base, root)
        st = store(root)
        # the last publish to `target` is the one after the MERGE commit
        crash_at(st, sum(target in d for _, d in publishes), dst_contains=target)
        with pytest.raises(InjectedCrash):
            st.refresh_mview("mv")
        fresh = store(root)
        fresh.replace(
            "src",
            spark.createDataFrame(
                [(i, f"g{i % 3}", i * 3) for i in range(5, 20)], _MV_SRC
            ),
        )
        fresh.refresh_mview("mv")
        want = sorted(
            map(
                tuple,
                fresh.read("src")
                .groupBy("grp")
                .agg(F.count("*").alias("n"), F.sum("val").alias("total"))
                .collect(),
            )
        )
        assert _read("mv")(fresh) == want, target


# -- durability -----------------------------------------------------------------


def _files_under(dirs) -> set[str]:
    return {
        os.path.join(d, f)
        for d in dirs
        if os.path.isdir(d)
        for f in os.listdir(d)
        if os.path.isfile(os.path.join(d, f))
    }


@pytest.mark.parametrize("case", ["merge", "merge_bucketed", "commit_multi"])
def test_publish_and_catalog_swap_are_durable(spark, tmp_path, monkeypatch, case):
    """Replays a case's setup and write with every os.fsync (by inode)
    and os.replace recorded in one timeline with the store's publishes."""
    tables, bucketed, setup, op, _ = _CASES[case]
    st = TableStore(spark, str(tmp_path / "d"), dict(tables), bucketing=bucketed)
    events: list[tuple] = []
    real_fsync, real_replace, real_publish = os.fsync, os.replace, st._publish

    def ino(path):
        s = os.stat(path)
        return s.st_dev, s.st_ino

    def fsync(fd):
        s = os.fstat(fd)
        events.append(("fsync", (s.st_dev, s.st_ino)))
        real_fsync(fd)

    def replace(src, dst):
        events.append(("replace", dst))
        real_replace(src, dst)

    def publish(src, dst):
        paths = [src] + sorted(_files_under([src])) if os.path.isdir(src) else [src]
        source, parent = {ino(p) for p in paths}, ino(os.path.dirname(os.path.abspath(dst)))
        if os.path.basename(dst) == "_CATALOG.json":
            check_catalog_swap(src, dst)
        start = len(events)
        real_publish(src, dst)
        window = events[start:]
        at = window.index(("replace", dst))
        assert source <= {e[1] for e in window[:at]}, (dst, "source unsynced at its rename")
        assert ("fsync", parent) in window[at + 1:], (dst, "parent unsynced after the rename")
        events.append(("publish", dst))

    def check_catalog_swap(src, dst):
        last = max(
            (i for i, e in enumerate(events) if e == ("publish", dst)), default=-1
        )
        synced = {e[1] for e in events if e[0] == "fsync"}
        since = {e[1] for e in events[last + 1:] if e[0] == "fsync"}
        with open(src) as fh:
            new = json.load(fh)["tables"]
        try:
            with open(dst) as fh:
                old = json.load(fh)["tables"]
        except FileNotFoundError:
            old = {}

        def readable(name, gen):
            gen_dir = os.path.join(st._dir(name), gen)
            return {os.path.normpath(p) for p in [gen_dir] + (st._manifest(gen_dir) or [])}

        for name, gen in new.items():
            if old.get(name) == gen:
                continue
            dirs = readable(name, gen) - (readable(name, old[name]) if name in old else set())
            for p in sorted(_files_under(dirs)) + sorted(dirs):
                assert ino(p) in synced, (gen, p, "unsynced when the pointer names it")
            assert ino(st._dir(name)) in since, (gen, "table dir unsynced")

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    st._publish = publish
    setup(st)
    op(st)
    assert sum(e == ("publish", st._catalog_path()) for e in events) >= 2
