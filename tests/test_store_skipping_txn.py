"""Manifest-level data skipping (zone maps + bloom digests) and the
multi-table atomic commit protocol — the two store features a point
lookup and a cross-table pipeline lean on at 100 TB: skipped reads
must equal full-scan-and-filter exactly (including under scoped
filters and deletion vectors), and crash recovery must leave no torn
state in either direction."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from faults import InjectedCrash, crash_at
from file_db_spark.filedb.store import TableStore

_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("v", T.LongType()),
    ]
)


def _rows(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"n{i}", i * 10) for i in range(lo, hi)], _SCHEMA
    )


def _store(spark, tmp_path, tag="cat"):
    return TableStore(spark, str(tmp_path / tag), {"t": _SCHEMA}, bucketing=False)


def _skip_store(spark, tmp_path):
    """Four appends on disjoint id ranges, stats on id (zone) and
    name (bloom)."""
    st = _store(spark, tmp_path)
    for lo in (0, 100, 200, 300):
        st.append(
            "t", _rows(spark, lo, lo + 100), zone_cols=["id"], bloom_cols=["name"]
        )
    return st


def test_zone_skip_prunes_and_matches_full_scan(spark, tmp_path):
    st = _skip_store(spark, tmp_path)
    df, rep = st.read_point("t", "id", 250)
    assert rep == {"total": 4, "zone_skipped": 3, "bloom_skipped": 0, "scanned": 1}
    assert [tuple(r) for r in df.collect()] == [(250, "n250", 2500)]


def test_bloom_skip_prunes_and_matches_full_scan(spark, tmp_path):
    st = _skip_store(spark, tmp_path)
    df, rep = st.read_point("t", "name", "n42")
    # zone maps were not recorded for name -> pruning is bloom-only
    assert rep["total"] == 4 and rep["zone_skipped"] == 0
    assert rep["scanned"] == 1 and rep["bloom_skipped"] == 3
    assert [tuple(r) for r in df.collect()] == [(42, "n42", 420)]


def test_absent_value_skips_everything(spark, tmp_path):
    st = _skip_store(spark, tmp_path)
    df, rep = st.read_point("t", "id", 999)  # above every zone max
    assert rep["zone_skipped"] == 4 and rep["scanned"] == 0
    assert df.count() == 0
    df2, rep2 = st.read_point("t", "name", "no_such_name")
    assert df2.count() == 0
    assert rep2["scanned"] + rep2["bloom_skipped"] == 4  # fp possible, rows exact


def test_skipped_read_still_applies_filters_and_vectors(spark, tmp_path):
    st = _skip_store(spark, tmp_path)
    st.delete_where("t", "id % 2 = 1")  # scoped filter over all segments
    st.delete_rows("t", spark.createDataFrame([(250,)], "id long"), ["id"])
    got, rep = st.read_point("t", "id", 250)
    assert rep["scanned"] == 1  # pruning still works on the covered segment
    assert got.count() == 0  # ... but the deletion vector still applies
    got2, _ = st.read_point("t", "id", 251)
    assert got2.count() == 0  # the scoped filter still applies
    got3, _ = st.read_point("t", "id", 252)
    assert [tuple(r) for r in got3.collect()] == [(252, "n252", 2520)]


def test_stats_on_segment_without_stats_are_scanned(spark, tmp_path):
    st = _store(spark, tmp_path)
    st.append("t", _rows(spark, 0, 10))  # no stats recorded
    st.append("t", _rows(spark, 100, 110), zone_cols=["id"])
    _, rep = st.read_point("t", "id", 5)
    # the stats-less segment can never be pruned; the stats one can
    assert rep == {"total": 2, "zone_skipped": 1, "bloom_skipped": 0, "scanned": 1}


def test_point_lookup_probe_hash_runs_zero_jobs(spark, tmp_path):
    """read_point hashes its probe literal on the driver
    (portable_xxhash64): a fully-skipped lookup must launch NO Spark
    job — metadata in, empty lazy frame out."""
    st = _skip_store(spark, tmp_path)
    sc = spark.sparkContext
    sc.setJobGroup("probe_zero_jobs", "read_point must not run jobs")
    try:
        df, rep = st.read_point("t", "id", 999)       # zone-skips all
        df2, rep2 = st.read_point("t", "name", "zz")  # bloom path, no match
    finally:
        sc.setJobGroup(None, None)
    assert rep["scanned"] == 0
    assert sc.statusTracker().getJobIdsForGroup("probe_zero_jobs") == []
    # the frames are still correct when later executed (outside group)
    assert df.count() == 0 and df2.count() == 0


def test_portable_probe_hash_matches_jvm(spark):
    """portable_xxhash64 == Spark's xxhash64() for every type the
    driver-side kernel claims (incl. >=32-byte strings, which take
    the accumulator path, and multi-byte UTF-8)."""
    from file_db_spark.filedb.store import portable_xxhash64

    cases = [
        (12345, T.LongType()), (-7, T.LongType()), (0, T.LongType()),
        (12345, T.IntegerType()), (-1, T.ShortType()),
        ("", T.StringType()), ("n42", T.StringType()),
        ("a" * 31, T.StringType()), ("b" * 32, T.StringType()),
        ("c" * 67, T.StringType()), ("日本語テキスト", T.StringType()),
        (3.14159, T.DoubleType()), (-0.0, T.DoubleType()),
        (1.5, T.FloatType()), (True, T.BooleanType()),
    ]
    row = spark.range(1).select(
        *[
            F.xxhash64(F.lit(v).cast(dt)).alias(f"h{i}")
            for i, (v, dt) in enumerate(cases)
        ]
    ).first()
    for i, (v, dt) in enumerate(cases):
        assert portable_xxhash64(v, dt) == row[f"h{i}"], (v, dt)
    # types the kernel does not cover fall back (memoized JVM job)
    assert portable_xxhash64(1, T.DecimalType(18, 6)) is None


def test_bloom_positions_jvm_matches_python(spark, tmp_path):
    """The distributive digest build expands bit positions JVM-side;
    they must equal _bloom_positions exactly, else probe-time checks
    read the wrong bits."""
    from file_db_spark.filedb.store import _bloom_positions

    m, k = 4096, 4
    hs = [0, -1, 42, 2**63 - 1, -(2**63), 123456789123456789]
    got = (
        spark.createDataFrame([(h,) for h in hs], "h long")
        .selectExpr(
            "h",
            f"transform(sequence(0, {k - 1}), i -> "
            f"pmod((h & 4294967295) + i * (shiftrightunsigned(h, 32) | 1), {m})) AS p",
        )
        .collect()
    )
    for r in got:
        assert [int(x) for x in r["p"]] == _bloom_positions(r["h"], m, k)


def test_bloom_digest_caps_at_max_keys(spark, tmp_path):
    """Above _BLOOM_MAX_KEYS distinct values no digest is recorded
    (zone-map-only) — the manifest entry and the driver-side bitmap
    stay bounded no matter how large the append."""
    st = _store(spark, tmp_path)
    orig = TableStore._BLOOM_MAX_KEYS
    TableStore._BLOOM_MAX_KEYS = 50
    try:
        st.append("t", _rows(spark, 0, 100), bloom_cols=["name"])   # over cap
        st.append("t", _rows(spark, 100, 130), bloom_cols=["name"])  # under
    finally:
        TableStore._BLOOM_MAX_KEYS = orig
    doc = st._doc(st._current("t"))
    segs = doc["segments"]
    assert "bloom" not in (segs[0].get("stats") or {}).get("name", {})
    assert "bloom" in segs[1]["stats"]["name"]
    # the capped segment is always scanned; the digested one prunes
    _, rep = st.read_point("t", "name", "n5")
    assert rep["scanned"] == 1 and rep["bloom_skipped"] == 1


def _journal_count(st):
    jd = os.path.join(st.root, "_txn_multi")
    return (
        sum(1 for j in os.listdir(jd) if j.endswith(".json"))
        if os.path.isdir(jd)
        else 0
    )


_TWO = {
    "a": _SCHEMA,
    "b": _SCHEMA,
}


def test_commit_multi_happy_path_is_atomic_and_clean(spark, tmp_path):
    st = TableStore(spark, str(tmp_path / "cat"), dict(_TWO), bucketing=False)
    st.replace("a", _rows(spark, 0, 5))
    st.replace("b", _rows(spark, 0, 5))
    st.commit_multi({"a": _rows(spark, 10, 15), "b": _rows(spark, 20, 25)})
    assert {r["id"] for r in st.read("a").collect()} == set(range(10, 15))
    assert {r["id"] for r in st.read("b").collect()} == set(range(20, 25))
    assert _journal_count(st) == 0
    assert st.recover_multi() == {}  # nothing pending


def test_crash_after_journal_rolls_forward(spark, tmp_path):
    st = TableStore(spark, str(tmp_path / "cat"), dict(_TWO), bucketing=False)
    st.replace("a", _rows(spark, 0, 5))
    st.replace("b", _rows(spark, 0, 5))
    crash_at(st, 3)  # journal, then 'a' published; crash at 'b'
    with pytest.raises(InjectedCrash):
        st.commit_multi({"a": _rows(spark, 10, 15), "b": _rows(spark, 20, 25)})
    # publish order is sorted: 'a' renamed, 'b' stranded, journal kept —
    # but the catalog pointer never swapped, so a reader sees BOTH
    # tables OLD (no torn visibility, unlike the pre-pointer protocol)
    assert {r["id"] for r in st.read("a").collect()} == set(range(0, 5))
    assert {r["id"] for r in st.read("b").collect()} == set(range(0, 5))
    assert _journal_count(st) == 1
    out = st.recover_multi()
    assert list(out.values()) == ["rolled-forward"]
    assert {r["id"] for r in st.read("a").collect()} == set(range(10, 15))
    assert {r["id"] for r in st.read("b").collect()} == set(range(20, 25))
    assert _journal_count(st) == 0
    assert st.recover_multi() == {}  # idempotent


def test_reader_between_renames_sees_all_old_then_all_new(spark, tmp_path):
    """The root-catalog-pointer contract: with every staged dir
    RENAMED but the pointer not yet swapped (a crash at the catalog
    swap, publish len(writes) + 2), a reader resolves every table at its OLD
    generation; after recovery, every table at its NEW one. No
    interleaving can observe a mixed catalog."""
    st = TableStore(spark, str(tmp_path / "cat"), dict(_TWO), bucketing=False)
    st.replace("a", _rows(spark, 0, 5))
    st.replace("b", _rows(spark, 0, 5))
    v0 = st.catalog_version()
    crash_at(st, 4)  # journal + 2 renames published; crash at the swap
    with pytest.raises(InjectedCrash):
        st.commit_multi({"a": _rows(spark, 10, 15), "b": _rows(spark, 20, 25)})
    # both new generations physically exist as gen- dirs ...
    assert len(st.generations("a")) == 2 and len(st.generations("b")) == 2
    # ... yet the visibility point (the pointer) has not moved
    assert st.catalog_version() == v0
    assert {r["id"] for r in st.read("a").collect()} == set(range(0, 5))
    assert {r["id"] for r in st.read("b").collect()} == set(range(0, 5))
    # and TIME TRAVEL agrees: the renamed-but-unswapped generation is
    # not history — read_at(0) serves the pointed generation, and
    # back=1 is out of range (only one swap ever happened per table)
    assert {r["id"] for r in st.read_at("a", back=0).collect()} == set(range(0, 5))
    with pytest.raises(IndexError):
        st.read_at("a", back=1)
    out = st.recover_multi()
    assert list(out.values()) == ["rolled-forward"]
    assert st.catalog_version() == v0 + 1  # ONE swap covered both tables
    assert {r["id"] for r in st.read("a").collect()} == set(range(10, 15))
    assert {r["id"] for r in st.read("b").collect()} == set(range(20, 25))


def test_recovery_never_regresses_a_later_commit(spark, tmp_path):
    """Monotonic pointer swap: if a table moved FORWARD after a
    crashed txn published its rename, replaying the txn's catalog
    swap must not drag the table back to the txn's generation."""
    st = TableStore(spark, str(tmp_path / "cat"), dict(_TWO), bucketing=False)
    st.replace("a", _rows(spark, 0, 5))
    st.replace("b", _rows(spark, 0, 5))
    crash_at(st, 4)  # journal + 2 renames published; crash at the swap
    with pytest.raises(InjectedCrash):
        st.commit_multi({"a": _rows(spark, 10, 15), "b": _rows(spark, 20, 25)})
    st.replace("a", _rows(spark, 50, 55))  # later commit wins
    out = st.recover_multi()
    assert list(out.values()) == ["rolled-forward"]
    assert {r["id"] for r in st.read("a").collect()} == set(range(50, 55))
    assert {r["id"] for r in st.read("b").collect()} == set(range(20, 25))


def test_crash_at_journal_rolls_back(spark, tmp_path):
    st = TableStore(spark, str(tmp_path / "cat"), dict(_TWO), bucketing=False)
    st.replace("a", _rows(spark, 0, 5))
    st.replace("b", _rows(spark, 0, 5))
    crash_at(st, 1)  # the journal publish
    with pytest.raises(InjectedCrash):
        st.commit_multi({"a": _rows(spark, 10, 15), "b": _rows(spark, 20, 25)})
    staged = [
        e
        for t in ("a", "b")
        for e in os.listdir(os.path.join(st.root, t))
        if e.startswith("staged-")
    ]
    assert len(staged) == 2 and _journal_count(st) == 0
    out = st.recover_multi()
    assert list(out.values()) == ["rolled-back"]
    assert {r["id"] for r in st.read("a").collect()} == set(range(0, 5))
    assert {r["id"] for r in st.read("b").collect()} == set(range(0, 5))
    staged2 = [
        e
        for t in ("a", "b")
        for e in os.listdir(os.path.join(st.root, t))
        if e.startswith("staged-")
    ]
    assert staged2 == []


def test_recovery_survives_instance_lifetime(spark, tmp_path):
    """The journal is on disk: a NEW TableStore over the same root
    (fresh process after the crash) completes the txn."""
    st = TableStore(spark, str(tmp_path / "cat"), dict(_TWO), bucketing=False)
    st.replace("a", _rows(spark, 0, 5))
    st.replace("b", _rows(spark, 0, 5))
    crash_at(st, 2)  # journal kept, crash before ANY rename
    with pytest.raises(InjectedCrash):
        st.commit_multi({"a": _rows(spark, 10, 15), "b": _rows(spark, 20, 25)})
    st2 = TableStore(spark, str(tmp_path / "cat"), dict(_TWO), bucketing=False)
    out = st2.recover_multi()
    assert list(out.values()) == ["rolled-forward"]
    assert {r["id"] for r in st2.read("a").collect()} == set(range(10, 15))
    assert {r["id"] for r in st2.read("b").collect()} == set(range(20, 25))


def test_commit_multi_refuses_bucketed_tables(spark, tmp_path):
    from file_db_spark.filedb import schemas

    st = TableStore(
        spark, str(tmp_path / "cat"), {"file": schemas.FILE}, bucketing=True
    )
    with pytest.raises(ValueError, match="bucketed"):
        st.commit_multi({"file": spark.createDataFrame([], schemas.FILE)})


def test_vacuum_ignores_staged_and_journal(spark, tmp_path):
    """vacuum() must never reclaim a staged dir (it may be about to
    roll forward) nor trip over the journal directory."""
    st = TableStore(spark, str(tmp_path / "cat"), dict(_TWO), bucketing=False)
    st.replace("a", _rows(spark, 0, 5))
    st.replace("b", _rows(spark, 0, 5))
    crash_at(st, 2)
    with pytest.raises(InjectedCrash):
        st.commit_multi({"a": _rows(spark, 10, 15), "b": _rows(spark, 20, 25)})
    st.vacuum(retain=1)
    out = st.recover_multi()
    assert list(out.values()) == ["rolled-forward"]
    assert {r["id"] for r in st.read("a").collect()} == set(range(10, 15))
    assert {r["id"] for r in st.read("b").collect()} == set(range(20, 25))


def test_cdc_cursor_contract(spark, tmp_path):
    """changes_since: per-consumer isolation, empty re-pull after
    advance, net multi-commit deltas, and the vacuumed-cursor error
    (retention must cover consumer lag)."""
    st = _store(spark, tmp_path)
    st.replace("t", _rows(spark, 0, 10))
    st.create_consumer("t", "fast")
    st.create_consumer("t", "slow")
    kc, cc = ["id"], ["name", "v"]

    st.replace("t", _rows(spark, 5, 15))  # drop 0-4, add 10-14
    d1 = st.changes_since("t", "fast", kc, cc)
    ops = {(r["op"], r["id"]) for r in d1.collect()}
    assert ops == {("D", i) for i in range(5)} | {("I", i) for i in range(10, 15)}
    st.advance_cursor("t", "fast")
    assert st.changes_since("t", "fast", kc, cc).count() == 0  # idempotent re-pull

    st.replace("t", _rows(spark, 0, 10))  # invert the wave
    # fast sees only the second commit (re-insert 0-4, drop 10-14);
    # slow sees the NET of both commits = nothing changed
    ops2 = {
        (r["op"], r["id"])
        for r in st.changes_since("t", "fast", kc, cc).collect()
    }
    assert ops2 == {("I", i) for i in range(5)} | {("D", i) for i in range(10, 15)}
    assert st.changes_since("t", "slow", kc, cc).count() == 0

    with pytest.raises(ValueError, match="unknown consumer"):
        st.changes_since("t", "nobody", kc, cc)

    st.vacuum(retain=1)  # reclaims the slow consumer's cursor generation
    with pytest.raises(ValueError, match="vacuumed"):
        st.changes_since("t", "slow", kc, cc)
    st.create_consumer("t", "slow")  # re-seed as the error instructs
    assert st.changes_since("t", "slow", kc, cc).count() == 0


def test_read_as_of_timestamp(spark, tmp_path):
    """TIMESTAMP AS OF resolves to the newest generation committed at
    or before the asked time, across plain and manifest generations,
    and refuses a time before the first retained write."""
    import time

    st = _store(spark, tmp_path)
    st.replace("t", _rows(spark, 0, 5))
    t1 = time.time()
    time.sleep(0.01)
    st.replace("t", _rows(spark, 10, 15))
    time.sleep(0.01)
    st.append("t", _rows(spark, 20, 25))  # manifest generation
    ids = lambda df: {r["id"] for r in df.collect()}
    assert ids(st.read_as_of("t", t1)) == set(range(0, 5))
    assert ids(st.read_as_of("t", time.time())) == set(range(10, 15)) | set(
        range(20, 25)
    )
    import datetime

    assert ids(st.read_as_of("t", datetime.datetime.now())) == ids(st.read("t"))
    with pytest.raises(ValueError, match="no generation at or before"):
        st.read_as_of("t", t1 - 3600)


def test_catalog_pointer_is_cross_instance(spark, tmp_path):
    """The pointer lives on disk: a SECOND TableStore over the same
    root resolves current/history through it — including seeing a
    crashed commit's orphan as invisible — and its own recover_multi
    completes the txn for both instances."""
    st = TableStore(spark, str(tmp_path / "cat"), dict(_TWO), bucketing=False)
    st.replace("a", _rows(spark, 0, 5))
    st.replace("b", _rows(spark, 0, 5))
    crash_at(st, 4)  # journal + 2 renames published; crash at the swap
    with pytest.raises(InjectedCrash):
        st.commit_multi({"a": _rows(spark, 10, 15), "b": _rows(spark, 20, 25)})
    st2 = TableStore(spark, str(tmp_path / "cat"), dict(_TWO), bucketing=False)
    assert {r["id"] for r in st2.read("a").collect()} == set(range(0, 5))
    st2.recover_multi()
    # BOTH instances now see the committed state
    for inst in (st, st2):
        assert {r["id"] for r in inst.read("a").collect()} == set(range(10, 15))
        assert {r["id"] for r in inst.read("b").collect()} == set(range(20, 25))


def test_snapshot_pins_multi_table_reads(spark, tmp_path):
    from file_db_spark.filedb.store import TableStore
    from pyspark.sql import types as T

    sch = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]
    )
    store = TableStore(
        spark, str(tmp_path / "snaproot"), {"a": sch, "b": sch}, bucketing=False
    )
    store.replace("a", spark.createDataFrame([(1, 10)], sch))
    store.replace("b", spark.createDataFrame([(1, 100)], sch))
    snap = store.snapshot()
    # writers advance both tables after the pin
    store.replace("a", spark.createDataFrame([(1, 11)], sch))
    store.replace("b", spark.createDataFrame([(1, 101)], sch))
    assert [r["v"] for r in snap.read("a").collect()] == [10]
    assert [r["v"] for r in snap.read("b").collect()] == [100]
    assert [r["v"] for r in store.read("a").collect()] == [11]
    # a fresh snapshot sees the new commit point, and versions advance
    snap2 = store.snapshot()
    assert snap2.version > snap.version
    assert [r["v"] for r in snap2.read("b").collect()] == [101]


def test_snapshot_vacuumed_pin_raises(spark, tmp_path):
    import pytest as _pytest

    from file_db_spark.filedb.store import TableStore
    from pyspark.sql import types as T

    sch = T.StructType([T.StructField("id", T.LongType())])
    store = TableStore(
        spark, str(tmp_path / "snapvac"), {"a": sch}, bucketing=False
    )
    store.replace("a", spark.createDataFrame([(1,)], sch))
    snap = store.snapshot()
    store.replace("a", spark.createDataFrame([(2,)], sch))
    store.vacuum(retain=1)
    with _pytest.raises(ValueError, match="vacuumed"):
        snap.read("a")


def test_snapshot_unborn_table_is_empty(spark, tmp_path):
    from file_db_spark.filedb.store import TableStore
    from pyspark.sql import types as T

    sch = T.StructType([T.StructField("id", T.LongType())])
    store = TableStore(
        spark, str(tmp_path / "snapnew"), {"a": sch, "b": sch}, bucketing=False
    )
    store.replace("a", spark.createDataFrame([(1,)], sch))
    snap = store.snapshot()
    store.replace("b", spark.createDataFrame([(9,)], sch))
    assert snap.read("b").count() == 0
    assert store.read("b").count() == 1


def test_optimize_noop_on_clean_table(spark, tmp_path):
    from pyspark.sql import types as T

    from file_db_spark.filedb.store import TableStore

    sch = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]
    )
    store = TableStore(
        spark, str(tmp_path / "optroot"), {"a": sch}, bucketing=False
    )
    store.replace("a", spark.createDataFrame([(1, 10), (2, 20)], sch))
    rep = store.optimize(retain=1)
    t = rep["tables"]["a"]
    assert t["compacted"] is False and t["analyzed"] is False
    assert t["segments_before"] == t["segments_after"] == 1
    assert rep["generations_reclaimed"] == 0
    assert store.read("a").count() == 2


# ---------------------------------------------------------------------------
# Prefix/subtree skipping (VERDICT r7 #7): startswith(prefix) scans
# only the segments whose zone range on the path column can intersect
# [prefix, prefix+) — P5 at catalog scale.
# ---------------------------------------------------------------------------

_PSCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("v", T.LongType()),
    ]
)


def _prefix_store(spark, tmp_path):
    st = TableStore(spark, str(tmp_path / "p"), {"t": _PSCHEMA}, bucketing=False)
    for root in ("/a", "/b", "/c"):
        rows = spark.createDataFrame(
            [(f"{root}/d{i}", i) for i in range(20)], _PSCHEMA
        )
        st.append("t", rows, zone_cols=["path"])
    return st


def test_read_prefix_prunes_disjoint_subtrees(spark, tmp_path):
    st = _prefix_store(spark, tmp_path)
    df, rep = st.read_prefix("t", "path", "/b/")
    assert rep == {"total": 3, "zone_skipped": 2, "scanned": 1}
    assert df.count() == 20
    assert all(r["path"].startswith("/b/") for r in df.collect())
    # a root-wide prefix scans everything; a miss scans nothing
    _, rep_all = st.read_prefix("t", "path", "/")
    assert rep_all == {"total": 3, "zone_skipped": 0, "scanned": 3}
    miss, rep_miss = st.read_prefix("t", "path", "/zzz")
    assert rep_miss["scanned"] == 0 and miss.count() == 0


def test_read_prefix_boundary_and_equality(spark, tmp_path):
    st = TableStore(spark, str(tmp_path / "pb"), {"t": _PSCHEMA}, bucketing=False)
    st.append(
        "t",
        spark.createDataFrame([("/b", 1), ("/b/x", 2)], _PSCHEMA),
        zone_cols=["path"],
    )
    st.append(
        "t",
        spark.createDataFrame([("/b0", 3)], _PSCHEMA),  # '/b0' > '/b/' range
        zone_cols=["path"],
    )
    df, rep = st.read_prefix("t", "path", "/b/")
    # '/b0' sorts after every '/b/'-prefixed string -> segment skipped
    assert rep["zone_skipped"] == 1 and rep["scanned"] == 1
    assert [r["path"] for r in df.collect()] == ["/b/x"]
    # exact-equality prefix: a segment whose max IS the prefix survives
    df2, rep2 = st.read_prefix("t", "path", "/b")
    assert df2.count() == 3  # '/b', '/b/x', '/b0' all start with '/b'
    assert rep2["scanned"] == 2


def test_read_prefix_respects_dvs_and_scoped_filters(spark, tmp_path):
    st = _prefix_store(spark, tmp_path)
    st.delete_rows(
        "t",
        spark.createDataFrame([("/b/d3",), ("/b/d4",)], "path string"),
        ["path"],
    )
    df, rep = st.read_prefix("t", "path", "/b/")
    assert df.count() == 18  # deletion vector still applies post-prune
    assert rep["scanned"] == 1


def test_engine_subtree_opens_only_matching_segments(spark, tmp_path):
    """Engine integration: crawl two roots in separate waves; a
    subtree query over root 1 prunes the waves that only touched
    root 2 (dir_path zone maps recorded by the MERGE upsert segments),
    and returns exactly root 1's directories."""
    from file_db_spark.filedb.engine import Engine

    r1 = tmp_path / "tree1"
    r2 = tmp_path / "tree2"
    for root, names in ((r1, "abc"), (r2, "xyz")):
        for n in names:
            (root / n).mkdir(parents=True)
            (root / n / f"{n}.txt").write_text(n)
    eng = Engine(spark, str(tmp_path / "cat2"))
    eng.install()
    eng.add_root(str(r1))
    while eng.crawl_once(limit=100):
        pass
    eng.add_root(str(r2))
    while eng.crawl_once(limit=100):
        pass
    rows, rep = eng.subtree(str(r1))
    got = {r["dir_path"] for r in rows.collect()}
    assert got == {str(r1)} | {str(r1 / n) for n in "abc"}
    # the root-2-only waves' upsert segments are zone-pruned
    assert rep["zone_skipped"] >= 1, rep
    assert rep["scanned"] < rep["total"]
