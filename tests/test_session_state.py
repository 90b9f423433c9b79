"""Session-scoped state: the confs every session gets, the derived-table
caches keyed on the session, and the release of what a registry entry
persists."""

from __future__ import annotations

import gc

import pytest
from pyspark.sql import functions as F

from file_db_spark import catalog
from file_db_spark.filedb import fixtures
from file_db_spark.operators import dedup, textops

COALESCE_CACHED = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


def _persisted_width(session, modulus: int) -> int:
    """Partitions a persisted small groupBy aggregate reads back at."""
    df = (
        session.range(0, 1000 + modulus)
        .groupBy((F.col("id") % modulus).alias("k"))
        .agg(F.count("*").alias("n"))
        .persist()
    )
    try:
        assert df.count() == modulus
        return df.rdd.getNumPartitions()
    finally:
        df.unpersist()


def test_get_spark_session_coalesces_persisted_frames(spark):
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert width > 1
    assert _persisted_width(spark, 3) < width


def test_ensure_confs_coalesces_persisted_frames_on_a_bare_session(spark):
    """A session that never went through session.get_spark (the grading
    driver's) gets cached-plan coalescing from catalog.ensure_confs."""
    bare = spark.newSession()
    bare.conf.unset(COALESCE_CACHED)  # Spark's default: cached plans pinned
    width = int(bare.conf.get("spark.sql.shuffle.partitions"))
    assert _persisted_width(bare, 5) == width
    catalog.ensure_confs(bare)
    assert bare.conf.get(COALESCE_CACHED) == "true"
    assert _persisted_width(bare, 7) < width


@pytest.mark.parametrize(
    "name",
    ["x3_ngram_jaccard", "x4_minhash_lsh", "x7_dup_components", "x19_pagerank"],
)
def test_clear_cache_releases_what_an_entry_persisted(spark, sf_dir, name):
    # compare RDD ids, not counts: the ContextCleaner may drop older
    # session RDDs at any moment
    jsc = spark.sparkContext._jsc
    dedup.clear_cache(sf_dir)
    before = set(jsc.getPersistentRDDs().keySet())
    assert dedup.QUERIES[name](spark, sf_dir).count() > 0
    persisted = set(jsc.getPersistentRDDs().keySet()) - before
    assert persisted
    dedup.clear_cache(sf_dir)
    assert not persisted & set(jsc.getPersistentRDDs().keySet())


class _Session:
    """Weak-referenceable stand-in for a SparkSession key."""


class _Frame:
    def __init__(self, tag: str) -> None:
        self.tag = tag

    def localCheckpoint(self, eager: bool = True) -> "_Frame":
        return self

    def unpersist(self) -> None:
        pass


def test_caches_never_serve_a_dead_sessions_entry_to_a_recycled_id():
    old = _Session()
    old_id = id(old)
    dedup._cached(old, "sf", "t", lambda: _Frame("old"))
    fixtures._cached(old, "sf", "t", lambda: _Frame("old"))
    textops._BPE_CACHE[old] = {"sf": (_Frame("old"), _Frame("old"))}
    del old
    gc.collect()
    # CPython hands a freed object's address to a later allocation of
    # the same size; keep allocating until a new session sits there
    pool = [_Session() for _ in range(10_000)]
    new = next((s for s in pool if id(s) == old_id), None)
    if new is None:
        pytest.skip("the interpreter did not reuse the dead session's id")
    assert dedup._cached(new, "sf", "t", lambda: _Frame("new")).tag == "new"
    assert fixtures._cached(new, "sf", "t", lambda: _Frame("new")).tag == "new"
    assert new not in textops._BPE_CACHE
    dedup.clear_cache("sf")
