"""Session-scoped state: the confs every session gets, the frame registry
keyed on the session, and the release of what a registry entry, an
engine wave or a store write persists."""

from __future__ import annotations

import gc
import re
from datetime import datetime
from decimal import Decimal
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from file_db_spark import catalog, frames
from file_db_spark import operators as ops
from file_db_spark.filedb import fixtures, schemas
from file_db_spark.filedb.engine import Engine
from file_db_spark.filedb.store import TableStore

PKG = Path(__file__).resolve().parents[1] / "file_db_spark"

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


def _persisted(spark) -> set:
    # RDD ids, not counts: the ContextCleaner may drop older session
    # RDDs at any moment
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_only_frames_releases_or_keys_on_a_session():
    pat = re.compile(r"\bunpersist\(|\bWeakKeyDictionary\(")
    stray = [
        f"{path.relative_to(PKG)}:{i}: {line.strip()}"
        for path in sorted(PKG.rglob("*.py"))
        if path.name != "frames.py"
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if pat.search(line)
    ]
    assert stray == []


@pytest.mark.parametrize(
    "name",
    [
        "x3_ngram_jaccard",
        "x4_minhash_lsh",
        "x7_dup_components",
        "x19_pagerank",
        "x36_collapsed_provenance_graph",
        "d30_bpe_train",
        "d32_bpe_encode",
        "d46_pretrain_pipeline",
        "v15_mmr_rerank",
        "v16_ivf_pq_residual",
        "v19_retrieval_cascade",
        "g14_stats_merge",
    ],
)
def test_clear_cache_releases_what_an_entry_persisted(spark, sf_dir, name):
    # the pinned fixture tables outlive every entry: warm them first
    for warm in (fixtures.fixture_directory, fixtures.fixture_file, fixtures.fixture_hash):
        warm(spark, sf_dir)
    frames.clear(sf_dir)
    before = _persisted(spark)
    result = ops.ALL_QUERIES[name](spark, sf_dir)
    assert result.count() > 0
    persisted = _persisted(spark) - before
    assert persisted
    frames.release(result)
    frames.clear(sf_dir)
    assert not persisted & _persisted(spark)


def test_engine_waves_release_what_they_persist(spark, tmp_path):
    tree = tmp_path / "tree"
    (tree / "sub" / "nested").mkdir(parents=True)
    (tree / "a.txt").write_text("alpha")
    (tree / "sub" / "b.bin").write_bytes(b"same")
    (tree / "sub" / "nested" / "c.bin").write_bytes(b"same")
    eng = Engine(spark, str(tmp_path / "catalog"))
    eng.install()
    eng.add_root(str(tree))
    before = _persisted(spark)
    eng.run_until_idle()
    assert eng.store.read("hash").count() == 3
    # a removal wave: the archive and victim checkpoints
    (tree / "sub" / "nested" / "c.bin").unlink()
    (tree / "sub" / "nested").rmdir()
    control = eng.store.read("directory_control").withColumn(
        "next_crawl", F.expr("timestamp'2000-01-01 00:00:00'")
    )
    eng.store.replace("directory_control", control)
    eng.run_until_idle()
    assert eng.store.read("file").count() == 2
    assert not (_persisted(spark) - before)


_KV = T.StructType([T.StructField("id", T.LongType()), T.StructField("v", T.LongType())])
_NOW = datetime(2024, 7, 1)


def _kv(spark, rows):
    return spark.createDataFrame(rows, _KV)


def _file_rows(spark, ids, size):
    return spark.createDataFrame(
        [
            (i, f"f{i}.txt", i % 4, Decimal(size), _NOW, _NOW, _NOW, _NOW, _NOW)
            for i in ids
        ],
        schemas.FILE,
    )


def _upsert(st, name, src, changed):
    return st.merge(
        name, src, ["id"], when_matched_update="all",
        when_not_matched_insert="all", changed_only=changed,
    )


_STORE_WRITES = {
    "merge": (
        {"t": _KV}, False,
        lambda st: st.replace("t", _kv(st.spark, [(i, i) for i in range(10)])),
        lambda st: _upsert(st, "t", _kv(st.spark, [(1, 9), (20, 2)]), ["v"]),
    ),
    "merge_bucketed": (
        {"file": schemas.FILE}, True,
        lambda st: st.replace("file", _file_rows(st.spark, range(16), "1.0")),
        lambda st: _upsert(
            st, "file", _file_rows(st.spark, [2, 40], "9.0"), ["size"]
        ),
    ),
    "merge_scd2": (
        {"dim": T.StructType(list(_KV.fields) + [
            T.StructField("valid_from", T.LongType()),
            T.StructField("op", T.StringType()),
        ])}, False,
        lambda st: st.merge_scd2("dim", _kv(st.spark, [(1, 1), (2, 2)]), ["id"], ["v"], 1),
        lambda st: st.merge_scd2("dim", _kv(st.spark, [(1, 5), (3, 3)]), ["id"], ["v"], 2),
    ),
    "write_with_expectations": (
        {"t": _KV}, False,
        lambda st: None,
        lambda st: st.write_with_expectations(
            "t", _kv(st.spark, [(1, 1), (2, -1)]), {"nonneg": "v >= 0"}
        ),
    ),
}


@pytest.mark.parametrize("case", sorted(_STORE_WRITES))
def test_store_writes_release_what_they_persist(spark, tmp_path, case):
    tables, bucketed, setup, write = _STORE_WRITES[case]
    st = TableStore(spark, str(tmp_path / "cat"), dict(tables), bucketing=bucketed)
    setup(st)
    before = _persisted(spark)
    write(st)
    assert not (_persisted(spark) - before)


class _Session:
    """Weak-referenceable stand-in for a SparkSession key."""


class _Frame:
    def __init__(self, tag: str) -> None:
        self.tag = tag

    def localCheckpoint(self, eager: bool = True) -> "_Frame":
        return self


def test_caches_never_serve_a_dead_sessions_entry_to_a_recycled_id():
    old = _Session()
    old_id = id(old)
    frames.cached(old, "sf", "t", lambda: _Frame("old"))
    fixtures._cached(old, "sf", "f", lambda: _Frame("old"))
    del old
    gc.collect()
    # CPython hands a freed object's address to a later allocation of
    # the same size; keep allocating until a new session sits there
    pool = [_Session() for _ in range(10_000)]
    new = next((s for s in pool if id(s) == old_id), None)
    if new is None:
        pytest.skip("the interpreter did not reuse the dead session's id")
    assert frames.cached(new, "sf", "t", lambda: _Frame("new")).tag == "new"
    assert fixtures._cached(new, "sf", "f", lambda: _Frame("new")).tag == "new"
    frames.clear("sf")
