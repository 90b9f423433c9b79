"""The lifetime of every materialized frame, in one per-session registry.

A frame that a query persists or checkpoints has exactly one owner:

- its builder, which frees it with `release` once its last consumer has
  run (an eagerly materialized result, a loop's previous round);
- `cached`: a derived result that several registry entries read in one
  session (fixture tables, x3 pairs, x7 labels, the trained BPE chain);
- `hold`: a frame that a lazily returned result still reads when it
  executes, so its builder cannot release it.

`clear(sf_dir)` releases what `cached` and `hold` registered for that
data set; timed runs call it between entries so each one measures the
real pipeline, and no persisted frame outlives its consumers. Entries
cached with `pinned=True` (the fixture tables, the corpus-spread state)
live as long as their session.

The registry is weakly keyed on the session itself, never on a
reusable `id()`: a new session at a dead one's address cannot read the
dead session's checkpoints. One lock guards it — suite members and the
x36 generator fan-out reach it from pool threads.
"""

from __future__ import annotations

import threading
import weakref
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

__all__ = ["cached", "hold", "release", "clear"]

_LOCK = threading.Lock()

#: per session: (sf_dir, name) -> [pinned, value]; the frames `hold`
#: registered sit under (sf_dir, None) as an unpinned list
_REGISTRY: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def cached(
    spark: SparkSession, sf_dir: str, name: str, build: Callable[[], Any],
    pinned: bool = False,
) -> Any:
    """The session's `name` result for `sf_dir`, built by `build()` on
    first use. `build` runs outside the lock (it may read other cached
    results); when two threads race, the first to finish wins and the
    other's frames are released."""
    with _LOCK:
        hit = _REGISTRY.get(spark, {}).get((sf_dir, name))
    if hit is not None:
        return hit[1]
    value = build()
    with _LOCK:
        entry = _REGISTRY.setdefault(spark, {}).setdefault(
            (sf_dir, name), [pinned, value]
        )
    if entry[1] is not value:
        _release_all([value])
    return entry[1]


def hold(df: DataFrame, sf_dir: str) -> DataFrame:
    """Register `df` for release by `clear(sf_dir)`; returns `df`."""
    with _LOCK:
        entries = _REGISTRY.setdefault(df.sparkSession, {})
        entries.setdefault((sf_dir, None), [False, []])[1].append(df)
    return df


def release(*dfs: DataFrame) -> None:
    """Free each frame's materialized blocks once nothing reads it: a
    persisted frame through `unpersist`, a `localCheckpoint` through its
    RDD (`DataFrame.unpersist` cannot reach a checkpoint's blocks).
    Releasing a checkpoint that a pending plan still reads fails that
    plan ("Checkpoint block ... not found"); releasing a persisted frame
    early only costs a recompute."""
    for df in dfs:
        # a persisted frame may itself be RDD-backed (a foreachBatch
        # micro-batch): its cache entry, not its source RDD, is the one
        # to free
        if df.is_cached:
            df.unpersist()
            continue
        plan = df._jdf.queryExecution().logical()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)


def clear(sf_dir: str | None = None) -> None:
    """Release every unpinned `cached` result and `hold` frame of
    `sf_dir` (of every data set when None), in every session."""
    with _LOCK:
        dropped = [
            entries.pop(key)[1]
            for entries in list(_REGISTRY.values())
            for key in [
                k for k, (pinned, _) in entries.items()
                if not pinned and (sf_dir is None or k[0] == sf_dir)
            ]
        ]
    _release_all(dropped)


def _release_all(values: list) -> None:
    for v in values:
        for df in v if isinstance(v, (list, tuple)) else [v]:
            try:
                release(df)
            except Exception:
                pass  # a frame of a stopped session has nothing left to free
