"""Streaming semantics tests (SURVEY §2.10): each streaming builder,
drained with trigger(availableNow) over the static events table, must
agree with its batch counterpart; the continuous crawl stream must
crawl a mutating tree without restarts."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from file_db_spark.operators import events as batch_events
from file_db_spark.streaming import events_stream as es


def test_tumbling_matches_batch(spark, sf_dir):
    src = es.events_source(spark, sf_dir)
    got = es.run_to_memory(es.tumbling_counts(src), "t_tumbling", output_mode="complete")
    want = batch_events.QUERIES["e1_tumbling_window"](spark, sf_dir)
    assert got.count() == want.count()
    diff = got.exceptAll(want)
    assert diff.count() == 0


def test_sliding_matches_batch(spark, sf_dir):
    src = es.events_source(spark, sf_dir)
    got = es.run_to_memory(es.sliding_purchases(src), "t_sliding", output_mode="complete")
    want = batch_events.QUERIES["e5_sliding_window"](spark, sf_dir)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_stateful_dedup_one_row_per_key(spark, sf_dir):
    src = es.events_source(spark, sf_dir)
    got = es.run_to_memory(es.stateful_dedup(src), "t_dedup")
    # exactly one event per (user_id, event_type) key present in input
    keys_in = (
        es.run_to_memory(es.events_source(spark, sf_dir), "t_raw")
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    assert got.count() == keys_in
    assert got.groupBy("user_id", "event_type").count().where("count > 1").count() == 0


def test_session_counts_total_preserved(spark, sf_dir):
    src = es.events_source(spark, sf_dir)
    got = es.run_to_memory(es.session_counts(src), "t_sessions", output_mode="complete")
    total_events = spark.table("t_raw").count() if spark.catalog.tableExists("t_raw") else None
    if total_events is None:
        total_events = es.run_to_memory(
            es.events_source(spark, sf_dir), "t_raw2"
        ).count()
    # every event lands in exactly one session
    assert got.agg(F.sum("n_events")).collect()[0][0] == total_events
    # sessions per user >= 1 and session bounds are ordered
    bad = got.where(F.col("session_end") < F.col("session_start"))
    assert bad.count() == 0


def test_continuous_crawl_stream(spark, tmp_path):
    from file_db_spark.filedb.engine import Engine
    from file_db_spark.streaming.crawl_stream import continuous_crawl

    tree = tmp_path / "stream_tree"
    tree.mkdir()
    (tree / "one.txt").write_text("first")

    eng = Engine(spark, str(tmp_path / "cat"))
    eng.install()
    eng.add_root(str(tree))
    q = continuous_crawl(
        spark, eng, interval="1 seconds",
        checkpoint=str(tmp_path / "ckpt"),
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if eng.store.read("hash").count() >= 1:
                break
            time.sleep(1)
        assert eng.store.read("file").count() == 1
        # mutate while the stream runs; force the root due again
        (tree / "two.txt").write_text("second")
        control = eng.store.read("directory_control").withColumn(
            "next_crawl", F.expr("timestamp'2000-01-01 00:00:00'")
        )
        eng.store.replace("directory_control", control)
        deadline = time.time() + 60
        while time.time() < deadline:
            if eng.store.read("file").count() == 2:
                break
            time.sleep(1)
        assert eng.store.read("file").count() == 2
    finally:
        q.stop()


def test_user_spend_monitor_matches_batch(spark, sf_dir):
    from file_db_spark.catalog import load_table

    src = es.events_source(spark, sf_dir)
    got = es.run_to_memory(
        es.user_spend_monitor(src, threshold=500.0), "t_spend", output_mode="update"
    )
    # update mode over a drained static source: the last emit per user
    # carries the final running state == the batch aggregate.
    want = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum(F.coalesce(F.col("value"), F.lit(0.0))).alias("total_spend"),
        )
    )
    g = {r["user_id"]: r for r in got.collect()}
    w = {r["user_id"]: r for r in want.collect()}
    assert set(g) == set(w)
    for uid, wr in w.items():
        gr = g[uid]
        assert gr["n_purchases"] == wr["n_purchases"]
        assert abs(gr["total_spend"] - wr["total_spend"]) < 1e-6
        assert gr["alert_level"] == int(gr["total_spend"] // 500.0)


def test_stream_stream_join_matches_batch(spark, sf_dir):
    from file_db_spark.catalog import load_table

    got = es.run_to_memory(
        es.purchase_click_join(
            es.events_source(spark, sf_dir), es.events_source(spark, sf_dir)
        ),
        "t_ssjoin",
        output_mode="append",
    )
    e = load_table(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    c = e.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )
    want = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 5 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).select("purchase_id", "user_id", "click_id")
    g = {(r.purchase_id, r.click_id) for r in got.collect()}
    w = {(r.purchase_id, r.click_id) for r in want.collect()}
    assert g == w


def test_s11_hll_maintenance_equals_batch(spark, sf_dir):
    """The MAX-merged streaming register store must serve exactly the
    batch e13 DAU columns — idempotent merge makes the result
    independent of micro-batch slicing."""
    from file_db_spark.operators.events import e13_hll_active_users
    from file_db_spark.operators.streaming_queries import (
        s11_stream_hll_maintenance,
    )

    batch = {
        r["day"]: (r["dau_exact"], r["dau_register_sum"], r["dau_hll"])
        for r in e13_hll_active_users(spark, sf_dir).collect()
    }
    stream = s11_stream_hll_maintenance(spark, sf_dir).collect()
    assert {r["day"] for r in stream} == set(batch)
    for r in stream:
        assert (
            r["dau_exact"],
            r["dau_register_sum"],
            r["dau_hll"],
        ) == batch[r["day"]]


def test_s13_late_rows_actually_dropped(spark, sf_dir):
    """The multi-batch replay drops 2-batch-late rows: at least one
    emitted window undercounts the batch aggregate, none overcounts,
    and no window is emitted twice (the one-batch filter lag makes
    duplicate emission impossible)."""
    from pyspark.sql import functions as F

    from file_db_spark.catalog import load_table
    from file_db_spark.operators.streaming_queries import s13_stream_late_data

    res = s13_stream_late_data(spark, sf_dir)
    assert (
        res.groupBy("window_start", "event_type").count().filter("count > 1").count()
        == 0
    )
    e = load_table(spark, sf_dir, "events")
    full = e.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"), "event_type"
    ).agg(F.count("*").alias("n_full"))
    j = res.join(full, ["window_start", "event_type"]).persist()
    assert j.filter("n_events > n_full").count() == 0
    assert j.filter("n_events < n_full").count() > 0


def test_s14_recovery_matches_single_run_except_restart_boundary(spark, sf_dir):
    """Exactly-once across restart: no duplicated windows, same window
    set as the uninterrupted s13 run, and per-window counts differ only
    downward (the restored watermark drops the lag-protected boundary
    rows — strictly more conservative, never more permissive)."""
    from file_db_spark.operators.streaming_queries import (
        s13_stream_late_data,
        s14_stream_checkpoint_recovery,
    )

    r14 = s14_stream_checkpoint_recovery(spark, sf_dir)
    assert (
        r14.groupBy("window_start", "event_type").count().filter("count > 1").count()
        == 0
    )
    r13 = s13_stream_late_data(spark, sf_dir)
    j = r13.selectExpr(
        "window_start", "event_type", "n_events AS n13"
    ).join(
        r14.selectExpr("window_start", "event_type", "n_events AS n14"),
        ["window_start", "event_type"],
        "full",
    ).persist()
    assert j.filter("n13 IS NULL OR n14 IS NULL").count() == 0
    assert j.filter("n14 > n13").count() == 0


def test_s15_stream_scd2_equals_batch_g18(spark, sf_dir):
    """The streamed SCD2 path (foreachBatch merge per wave) must
    reproduce the batch path (two direct merge_scd2 calls) exactly —
    the shared oracle proves it vs SQL; this pins Spark-vs-Spark."""
    from file_db_spark.operators.merge_queries import g18_scd2_merge
    from file_db_spark.operators.streaming_queries import s15_stream_scd2

    cols = ["id", "valid_from"]
    batch = {tuple(r[c] for c in cols): r.asDict() for r in g18_scd2_merge(spark, sf_dir).collect()}
    stream = {tuple(r[c] for c in cols): r.asDict() for r in s15_stream_scd2(spark, sf_dir).collect()}
    assert batch == stream


def test_s18_outer_join_flushes(spark, sf_dir):
    """The LEFT OUTER stream-stream join must emit every unmatched
    purchase NULL-extended (eviction-driven outer emission), equal to
    the batch left join — including the LAST purchase by event time,
    the row a pre-drain sentinel-filter regression would silently
    drop (the filter pushes below the join and kills the watermark
    advance; see s18's docstring)."""
    from pyspark.sql import functions as F

    from file_db_spark.catalog import load_table
    from file_db_spark.operators.streaming_queries import s18_stream_outer_join

    got = s18_stream_outer_join(spark, sf_dir)
    e = load_table(spark, sf_dir, "events")
    p = e.where("event_type = 'purchase'").selectExpr(
        "event_id AS purchase_id", "user_id", "ts AS p_ts"
    )
    c = e.where("event_type = 'click'").selectExpr(
        "event_id AS click_id", "user_id AS c_user", "ts AS c_ts"
    )
    batch = p.join(
        c,
        F.expr("user_id = c_user AND c_ts > p_ts - INTERVAL 5 MINUTES AND c_ts <= p_ts"),
        "left",
    ).select("purchase_id", "user_id", "click_id")
    key = ["purchase_id", "user_id", "click_id"]
    gs = {tuple(-1 if v is None else v for v in r) for r in got.select(*key).collect()}
    bs = {tuple(-1 if v is None else v for v in r) for r in batch.collect()}
    assert gs == bs
    # outer rows exist, and the latest purchase flushed
    assert got.where(F.col("click_id").isNull()).count() > 0
    last = p.orderBy(F.desc("p_ts")).select("purchase_id").first()[0]
    assert got.where(F.col("purchase_id") == last).count() >= 1


def test_s19_cdc_apply_at_least_once(spark, tmp_path):
    """The CDC-source contract: the cursor advances ONLY after the
    downstream apply commits. A crash between apply and advance loses
    nothing — the re-pull returns the very same delta; a clean apply
    then drains it and the next pull is empty."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from faults import InjectedCrash, crash_at
    from file_db_spark.filedb.store import TableStore
    from file_db_spark.streaming.cdc_source import apply_cdc_batch

    from decimal import Decimal
    from datetime import datetime

    dim_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("dir_id", T.LongType()),
            T.StructField("size", T.DecimalType(18, 6)),
            T.StructField("mtime", T.TimestampType()),
        ]
    )
    stats_schema = T.StructType(
        [
            T.StructField("dir_id", T.LongType()),
            T.StructField("n_files", T.LongType()),
            T.StructField("total_size", T.DecimalType(28, 6)),
        ]
    )
    t0 = datetime(2024, 6, 1)
    rows = [
        (1, "a", 10, Decimal("1.0"), t0),
        (2, "b", 10, Decimal("2.0"), t0),
        (3, "c", 20, Decimal("3.0"), t0),
    ]
    st = TableStore(
        spark, str(tmp_path / "cdc"),
        {"dim": dim_schema, "dir_stats": stats_schema}, bucketing=False,
    )
    st.replace("dim", spark.createDataFrame(rows, dim_schema))
    st.create_consumer("dim", "ivm")
    st.replace(
        "dir_stats",
        st.read("dim").groupBy("dir_id").agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("size").cast("decimal(28,6)").alias("total_size"),
        ),
    )
    # wave: drop id 3 (dir 20 empties), bump id 1's size, insert id 4
    wave = [
        (1, "a", 10, Decimal("1.5"), t0),
        (2, "b", 10, Decimal("2.0"), t0),
        (4, "d", 30, Decimal("4.0"), t0),
    ]
    st.replace("dim", spark.createDataFrame(wave, dim_schema))

    kc, cc = ["id"], ["name", "dir_id", "size", "mtime"]
    pull = lambda: st.changes_since("dim", "ivm", kc, cc)
    before = {(r["op"], r["id"]) for r in pull().collect()}
    assert before == {("U", 1), ("D", 3), ("I", 4)}

    # crash after the apply committed, at the cursor advance
    crash_at(st, 1, dst_contains="_CURSOR-ivm")
    with pytest.raises(InjectedCrash):
        apply_cdc_batch(st, "dim", "ivm", "dir_stats")
    # the apply committed ...
    got = {
        r["dir_id"]: (r["n_files"], float(r["total_size"]))
        for r in st.read("dir_stats").collect()
    }
    assert got == {10: (2, 3.5), 30: (1, 4.0)}  # dir 20 deleted at zero
    # ... but the cursor did NOT move: the same delta is re-pullable
    assert {(r["op"], r["id"]) for r in pull().collect()} == before

    # clean run drains it (the documented duplication window: this
    # re-applies the same delta — at-least-once, not exactly-once)
    m = apply_cdc_batch(st, "dim", "ivm", "dir_stats")
    assert m["delta_rows"] == len(before)
    assert pull().count() == 0  # cursor advanced; next pull empty
