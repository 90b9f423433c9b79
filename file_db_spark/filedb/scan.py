"""S1 filesystem scan source (SURVEY.md §2.1): distributed directory
listing — the Spark expression of the reference's one-dir crawl step
(FileDbDAL/DirectoryCrawl.py:62-85; stat mapping FileDbDAL/File.py:25-41,
FileDbDAL/Directory.py:19-26).

Shape: the input is a DataFrame (or list) of directory paths — the
crawl frontier. `mapInPandas` fans the frontier out across executors;
each task `os.scandir`s its directories and emits one row per entry.
At cluster scale the frontier is repartitioned so each executor scans a
disjoint slice of the tree; a full-tree crawl is the breadth-first loop
`frontier -> scan -> subdirs -> next frontier` (see crawl_tree).

Replicated semantics:
- size is MB = bytes/1e6 (File.py:35);
- names that cannot encode to UTF-8 are dropped (F15,
  DirectoryCrawl.py:87-115);
- ctime is Windows-only in the reference (File.py:29-31) — captured
  here from st_ctime on every OS, documented divergence: on POSIX this
  is inode-change time;
- unreadable/vanished dirs yield a row with error set (the reference
  marks dir_missing, DirectoryCrawl.py:536).
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Iterator, Sequence
from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import frames
from ..functions.paths import strip_trailing_slashes, strip_trailing_slashes_col
from ..localframe import local_df

__all__ = [
    "SCAN_SCHEMA",
    "scan_dirs",
    "crawl_tree",
    "listing_to_catalog_rows",
    "child_path",
    "child_path_col",
]

SCAN_SCHEMA = T.StructType(
    [
        T.StructField("dir_path", T.StringType()),
        T.StructField("entry_type", T.StringType()),  # 'file' | 'dir'
        T.StructField("name", T.StringType()),
        T.StructField("size_mb", T.DoubleType()),
        T.StructField("ctime", T.TimestampType()),
        T.StructField("mtime", T.TimestampType()),
        T.StructField("atime", T.TimestampType()),
        T.StructField("error", T.StringType()),
    ]
)


def _ts(epoch: float) -> datetime:
    # naive UTC to match the catalog's timestamp convention
    return datetime.fromtimestamp(epoch, tz=timezone.utc).replace(tzinfo=None)


def _scan_one(dir_path: str) -> Iterator[dict]:
    try:
        entries = list(os.scandir(dir_path))
    except OSError as exc:
        yield {
            "dir_path": dir_path, "entry_type": "dir", "name": None,
            "size_mb": None, "ctime": None, "mtime": None, "atime": None,
            "error": f"{type(exc).__name__}: {exc}",
        }
        return
    for e in entries:
        try:
            e.name.encode("utf8")  # F15: drop unencodable names
        except UnicodeEncodeError:
            continue
        try:
            st = e.stat(follow_symlinks=False)
            is_dir = e.is_dir(follow_symlinks=False)
        except OSError:
            continue  # vanished between scandir and stat
        yield {
            "dir_path": dir_path,
            "entry_type": "dir" if is_dir else "file",
            "name": e.name,
            "size_mb": None if is_dir else st.st_size / 1e6,
            "ctime": _ts(st.st_ctime),
            "mtime": _ts(st.st_mtime),
            "atime": _ts(st.st_atime),
            "error": None,
        }


def scan_dirs(
    spark: SparkSession, dirs: DataFrame | Sequence[str], partitions: int | None = None
) -> DataFrame:
    """Scan a frontier of directories in parallel. `dirs` is a DataFrame
    with a dir_path column or a list of paths. Output: SCAN_SCHEMA rows.

    The scandir work runs inside mapInPandas (Arrow-batched, executor-
    side); nothing but the frontier paths passes through the driver."""
    import pandas as pd

    if not isinstance(dirs, DataFrame):
        dirs = local_df(spark, [(p,) for p in dirs], "dir_path string")
    dirs = dirs.select("dir_path").distinct()
    if partitions:
        dirs = dirs.repartition(partitions)

    def scan_batches(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [r for p in pdf["dir_path"] for r in _scan_one(p)]
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in SCAN_SCHEMA.fields],
            )

    return dirs.mapInPandas(scan_batches, SCAN_SCHEMA)


def crawl_tree(
    spark: SparkSession,
    roots: Sequence[str],
    max_depth: int = 64,
    partitions: int | None = None,
) -> DataFrame:
    """Breadth-first full-tree crawl: repeatedly scan the frontier and
    feed discovered subdirs back in. Each level is one distributed scan
    job; the union of levels is the full listing.

    The frontier stays a DataFrame end-to-end: each level's subdir
    paths are derived column-side from the persisted listing and fed
    straight back into scan_dirs — the driver sees only a 0/1-row
    emptiness probe per level, never the paths. At catalog scale a
    single level can be millions of directories; keeping the work queue
    executor-side bounds driver memory at O(levels), not O(frontier)
    (the reference's crawl queue, Server/__init__.py:228-261, is the
    claimed-batch equivalent — engine.crawl_once drives THAT bounded
    path through directory_control; this is the bootstrap full walk).

    Each level is scandir'd exactly once: the per-level subdir count
    fully materializes that level's cache, and the final union is
    persisted + materialized FROM the level caches, after which every
    per-level cache is released (ADVICE r4: a long-lived crawl driver
    must not accumulate O(levels) cached DataFrames). The caller owns
    the single returned cache handle — `frames.release` it when done."""
    all_levels: list[DataFrame] = []
    frontier = local_df(spark, 
        [(p,) for p in dict.fromkeys(roots)], "dir_path string"
    )
    depth = 0
    while depth < max_depth:
        listing = scan_dirs(spark, frontier, partitions=partitions).persist()
        all_levels.append(listing)
        next_frontier = listing.where(
            (F.col("entry_type") == "dir") & F.col("error").isNull()
        ).select(child_path_col("dir_path", "name").alias("dir_path"))
        # full count (not limit-1): materializes the whole level cache
        # so deeper levels and the final union never re-scandir, and
        # doubles as the emptiness probe — still only a long at the
        # driver, never the paths
        if next_frontier.count() == 0:
            break
        frontier = next_frontier  # lazy view over the cached listing
        depth += 1
    if not all_levels:
        return local_df(spark, [], SCAN_SCHEMA)
    out = all_levels[0]
    for df in all_levels[1:]:
        out = out.unionByName(df)
    out = out.persist()
    out.count()  # copy level caches into the one result cache
    frames.release(*all_levels)
    return out


def child_path(dir_path: str, name: str, sep: str = os.sep) -> str:
    """Canonical child path: ONE rule shared by crawl_tree's frontier
    and listing_to_catalog_rows' identity keys, so the deterministic
    xxhash64 ids line up across waves even for trailing-separator
    roots ('/' -> '/name', 'C:\\' -> 'C:\\name', never '//name')."""
    return strip_trailing_slashes(dir_path) + sep + name


def child_path_col(dir_col: Column | str, name_col: Column | str) -> Column:
    """Column twin of child_path (strip_trailing_slashes_col matches the
    python strip exactly, incl. the drive-root colon guard)."""
    d = F.col(dir_col) if isinstance(dir_col, str) else dir_col
    n = F.col(name_col) if isinstance(name_col, str) else name_col
    return F.concat(strip_trailing_slashes_col(d), F.lit(os.sep), n)


def _canon_dir_col(col: str) -> Column:
    """Canonical form of a scanned dir_path (normal frontier paths are
    already canonical; this also fixes hand-fed trailing-slash roots).
    Empty-after-strip roots ('/') keep their original spelling, same as
    engine.add_root."""
    stripped = strip_trailing_slashes_col(col)
    return F.when(stripped == "", F.col(col)).otherwise(stripped)


def listing_to_catalog_rows(listing: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Shape a scan listing into staged `directory` and `file` rows with
    deterministic ids (xxhash64 of the identity key — stable across
    re-crawls, SURVEY §7 'upsert identity'). Identity paths go through
    child_path/_canon_dir_col, the same rule crawl_tree uses for its
    frontier. Returns (staged_dirs, staged_files)."""
    ok = listing.where(F.col("error").isNull() & F.col("name").isNotNull())
    staged_dirs = ok.where(F.col("entry_type") == "dir").select(
        F.xxhash64(child_path_col("dir_path", "name")).alias("id"),
        child_path_col("dir_path", "name").alias("dir_path"),
        "ctime",
        "mtime",
    )
    staged_files = ok.where(F.col("entry_type") == "file").select(
        F.xxhash64(_canon_dir_col("dir_path"), F.col("name")).alias("id"),
        F.col("name"),
        F.xxhash64(_canon_dir_col("dir_path")).alias("dir_id"),
        F.col("dir_path"),
        F.col("size_mb").cast("decimal(18,6)").alias("size"),
        "ctime",
        "mtime",
        "atime",
    )
    return staged_dirs, staged_files
