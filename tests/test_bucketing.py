"""Bucketed co-located join (filedb/bucketing.py + g27).

Pins the three claims the g27 oracle can only assert as literals:
the bucketed plan really has FEWER exchanges than the unbucketed
control (not just zero by accident), bucket pruning really selects one
bucket, and the pruning probe leaves the session's planner flag alone.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.conf import RuntimeConfig

from file_db_spark.filedb import bucketing


@pytest.fixture()
def tables(spark):
    f = spark.range(0, 5000).select(
        F.col("id"),
        (F.col("id") % 97).alias("dir_id"),
        F.concat(F.lit("doc_"), F.col("id")).alias("name"),
    )
    h = spark.range(0, 3500).select(
        F.col("id").alias("file_id"),
        F.md5(F.col("id").cast("string")).alias("md5"),
    )
    loc = bucketing.ensure_bucket_db(spark, "fdb_buckettest")
    t_f = bucketing.write_bucketed(spark, "fdb_buckettest", "f_b", f, "id", 8)
    t_h = bucketing.write_bucketed(
        spark, "fdb_buckettest", "h_b", h, "file_id", 8
    )
    yield f, h, t_f, t_h, loc
    bucketing.drop_bucket_db(spark, "fdb_buckettest", loc)


def _merge_join(left, right):
    return (
        left.hint("merge")
        .join(right.hint("merge"), left["id"] == right["file_id"])
        .select("id", "name", "md5")
    )


def test_bucketed_join_eliminates_both_exchanges(spark, tables):
    f, h, t_f, t_h, _ = tables
    bucketed = _merge_join(t_f, t_h)
    control = _merge_join(f, h)
    assert bucketing.exchange_count(bucketed) == 0
    assert bucketing.exchange_count(control) == 2
    plan = bucketing.physical_plan(bucketed)
    assert "SortMergeJoin" in plan
    assert plan.count("Bucketed: true") == 2


def test_bucketed_join_same_answer_as_control(spark, tables):
    f, h, t_f, t_h, _ = tables
    got = sorted(map(tuple, _merge_join(t_f, t_h).collect()))
    want = sorted(map(tuple, _merge_join(f, h).collect()))
    assert got == want
    assert len(got) == 3500


def test_single_file_per_bucket(tables):
    *_, loc = tables
    files = [
        n
        for n in os.listdir(os.path.join(loc, "f_b"))
        if n.endswith(".parquet")
    ]
    assert len(files) == 8


def test_bucket_pruning_selects_one_bucket(spark, tables):
    _, _, t_f, _, _ = tables
    sel, tot = bucketing.selected_buckets(t_f.filter(F.col("id") == 42))
    assert (sel, tot) == (1, 8)
    # the planner flag is restored after the probe
    assert (
        spark.conf.get(bucketing._AUTO_SCAN) == "true"
    )
    # and a normal (unforced) filter-only scan is unaffected
    assert "SelectedBucketsCount" not in bucketing.physical_plan(
        t_f.filter(F.col("id") == 42)
    )


def test_bucket_pruning_probe_never_sets_session_conf(tables, monkeypatch):
    """selected_buckets runs inside suite members that share the session
    with concurrent queries, so it may not flip a session-wide conf."""
    _, _, t_f, _, _ = tables

    def refuse(self, key, value):
        raise AssertionError(f"session conf set: {key}={value}")

    monkeypatch.setattr(RuntimeConfig, "set", refuse)
    assert bucketing.selected_buckets(t_f.filter(F.col("id") == 42)) == (1, 8)


def test_mismatched_bucket_counts_still_correct(spark, tables):
    """Different bucket counts can't zip — Spark must fall back to a
    shuffle on at least one side, and the answer must not change."""
    f, h, t_f, _, loc = tables
    t_h4 = bucketing.write_bucketed(
        spark, "fdb_buckettest", "h_b4", h, "file_id", 4
    )
    j = _merge_join(t_f, t_h4)
    assert bucketing.exchange_count(j) >= 1
    assert j.count() == 3500
