"""Parquet-backed table store for the catalog (SURVEY.md §1.3).

Each table lives under `<root>/<name>/` as parquet. Writes go to a
fresh generation directory and swap in atomically (write-new-then-
rename), so a reader never sees a half-written table and the input of a
merge is never clobbered mid-plan. On a cluster this role is played by
Delta/Iceberg MERGE + snapshot isolation; the generation-swap is the
dependency-free single-box analog with the same read-after-write
semantics. The reference's counterpart is Postgres heap tables with
staging tiers (FileDbDAL/__init__.py:40-48).
"""

from __future__ import annotations

import base64
import hashlib
import json
import logging
import os
import shutil
import threading
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from .. import frames
from ..localframe import local_df

_LOG = logging.getLogger(__name__)

__all__ = [
    "TableStore",
    "Snapshot",
    "CommitConflict",
    "diff_generations",
    "scd2_snapshot",
    "scd2_history",
]


class CommitConflict(Exception):
    """A replace_if() lost the optimistic-concurrency race: the base
    generation the writer read was superseded before it committed."""


try:  # POSIX; on platforms without fcntl the lock degrades to thread-only
    import fcntl as _fcntl
except ImportError:  # pragma: no cover
    _fcntl = None


class _TableLock:
    """Re-entrant per-(root, table) commit lock covering BOTH scopes a
    single-box store can race in: threads of this process (an RLock)
    and OTHER OS PROCESSES writing the same root (an exclusive
    fcntl.flock on `<root>/_locks/<table>.lock`, taken while the
    outermost re-entrant hold is active). Every manifest-mutating
    method serializes its read-base + commit sequence through this —
    two engine processes appending to one table both land, no lost
    segment (pinned in tests/test_store_multiprocess.py). Re-entrant
    so composed writes (merge_scd2 -> append, compact -> replace,
    table commit -> catalog swap) nest without deadlock; lock ORDER is
    consistent everywhere (sorted table locks, catalog last), so
    cross-process writers cannot deadlock either. On a cluster this
    role is played by the lakehouse log's atomic append; flock is the
    dependency-free single-box analog."""

    def __init__(self, root: str, name: str):
        safe = "".join(
            ch if ch.isalnum() or ch in "._-" else "_" for ch in name
        )
        self._path = os.path.join(root, "_locks", f"{safe}.lock")
        self._rlock = threading.RLock()
        self._depth = 0  # mutated only while _rlock is held
        self._fh = None

    def acquire(self) -> None:
        self._rlock.acquire()
        self._depth += 1
        if self._depth == 1 and _fcntl is not None:
            try:
                os.makedirs(os.path.dirname(self._path), exist_ok=True)
                self._fh = open(self._path, "a")
                _fcntl.flock(self._fh, _fcntl.LOCK_EX)
            except BaseException:
                # unwind fully: a failed flock must not leave the
                # RLock held (deadlocking siblings) or let a retry
                # enter at depth 2 with no OS lock at all
                if self._fh is not None:
                    self._fh.close()
                    self._fh = None
                self._depth -= 1
                self._rlock.release()
                raise

    def release(self) -> None:
        self._depth -= 1
        if self._depth == 0 and self._fh is not None:
            _fcntl.flock(self._fh, _fcntl.LOCK_UN)
            self._fh.close()
            self._fh = None
        self._rlock.release()

    def __enter__(self) -> "_TableLock":
        self.acquire()
        return self

    def __exit__(self, *exc) -> None:
        self.release()


_COMMIT_LOCKS: dict[tuple[str, str], _TableLock] = {}
_COMMIT_LOCKS_GUARD = threading.Lock()


def _commit_lock(root: str, name: str) -> _TableLock:
    key = (os.path.abspath(root), name)
    with _COMMIT_LOCKS_GUARD:
        if key not in _COMMIT_LOCKS:
            _COMMIT_LOCKS[key] = _TableLock(os.path.abspath(root), name)
        return _COMMIT_LOCKS[key]


# -- durable publish ----------------------------------------------------------
# Every file or directory the package makes visible by a rename goes
# through publish(). A rename alone is atomic but not durable: after a
# power loss the new name can point at unwritten blocks, or be lost.


def _fsync(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def sync_tree(path: str) -> None:
    """fsync a file, or every file under a directory and then the
    directory itself (so the entries naming those files are durable)."""
    if os.path.isdir(path):
        with os.scandir(path) as it:
            for entry in it:
                if entry.is_dir(follow_symlinks=False):
                    sync_tree(entry.path)
                elif entry.is_file(follow_symlinks=False):
                    _fsync(entry.path)
    _fsync(path)


def publish(src: str, dst: str) -> None:
    """Atomically and durably make `src` (a file or a directory) visible
    as `dst`: fsync `src`, `os.replace` it over `dst`, fsync `dst`'s
    parent. A crash leaves either the old `dst` or the complete new one.
    A directory `dst` must not exist yet or be empty."""
    sync_tree(src)
    os.replace(src, dst)
    _fsync(os.path.dirname(os.path.abspath(dst)))


def publish_bytes(dst: str, data: str | bytes, publish=publish) -> None:
    """Write `data` to `dst + ".tmp"` and `publish` it over `dst`."""
    tmp = dst + ".tmp"
    with open(tmp, "wb") as fh:
        fh.write(data.encode() if isinstance(data, str) else data)
    publish(tmp, dst)


def _read_json(path: str):
    """A published JSON file's content; None if it was never published."""
    try:
        with open(path) as fh:
            return json.load(fh)
    except (FileNotFoundError, json.JSONDecodeError):
        return None


def _seg_id(entry: dict) -> str:
    """Stable identity of a manifest segment entry (its basename —
    what DV `over` lists and data-skipping prune sets key on)."""
    return os.path.basename(entry["path"].rstrip("/"))


def _bloom_positions(h: int, m: int, k: int) -> list[int]:
    """k bit positions for one 64-bit hash by double hashing
    (h1 + i*h2 mod m, h2 forced odd); m is a power of two."""
    h &= (1 << 64) - 1
    h1, h2 = h & 0xFFFFFFFF, (h >> 32) | 1
    return [(h1 + i * h2) % m for i in range(k)]


# ---------------------------------------------------------------------------
# Portable xxHash64 (seed 42) — bit-identical to Spark's xxhash64()
# expression for integral, string, and double columns, so a point
# lookup can hash its probe literal ON THE DRIVER with zero Spark
# jobs (read_point's whole purpose is index-grade latency; a 1-row
# spark.range job in front of it defeated that). The algorithm is the
# public XXH64 spec; parity with the JVM expression is pinned in
# tests/test_store_skipping_txn.py.
# ---------------------------------------------------------------------------
_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh64_bytes(data: bytes, seed: int = 42) -> int:
    """Signed-64 XXH64 of a byte string (little-endian words — the
    layout Spark's hashUnsafeBytes reads on every supported platform)."""
    import struct

    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XXP1 + _XXP2) & _M64
        v2 = (seed + _XXP2) & _M64
        v3 = seed & _M64
        v4 = (seed - _XXP1) & _M64
        while i <= n - 32:
            for j, v in enumerate((v1, v2, v3, v4)):
                (w,) = struct.unpack_from("<Q", data, i + 8 * j)
                v = (v + w * _XXP2) & _M64
                v = (_rotl64(v, 31) * _XXP1) & _M64
                if j == 0:
                    v1 = v
                elif j == 1:
                    v2 = v
                elif j == 2:
                    v3 = v
                else:
                    v4 = v
            i += 32
        h = (
            _rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12) + _rotl64(v4, 18)
        ) & _M64
        for v in (v1, v2, v3, v4):
            h ^= (_rotl64((v * _XXP2) & _M64, 31) * _XXP1) & _M64
            h = ((h * _XXP1) + _XXP4) & _M64
    else:
        h = (seed + _XXP5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        (w,) = struct.unpack_from("<Q", data, i)
        h ^= (_rotl64((w * _XXP2) & _M64, 31) * _XXP1) & _M64
        h = ((_rotl64(h, 27) * _XXP1) + _XXP4) & _M64
        i += 8
    if i + 4 <= n:
        (w,) = struct.unpack_from("<I", data, i)
        h ^= (w * _XXP1) & _M64
        h = ((_rotl64(h, 23) * _XXP2) + _XXP3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _XXP5) & _M64
        h = (_rotl64(h, 11) * _XXP1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _XXP2) & _M64
    h ^= h >> 29
    h = (h * _XXP3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def portable_xxhash64(value, dtype: T.DataType) -> int | None:
    """Spark `xxhash64(CAST(value AS dtype))` computed in Python, or
    None when the type needs the JVM (decimal/timestamp/binary probes
    fall back to a memoized 1-row job). Integral types hash their
    widened-to-long little-endian bytes; strings their UTF-8 bytes;
    doubles their IEEE bits with -0.0 normalized — exactly the public
    XxHash64 expression semantics."""
    import struct

    if value is None:
        return None
    if isinstance(dtype, T.LongType):
        return _xxh64_bytes(struct.pack("<q", int(value)))
    if isinstance(dtype, (T.IntegerType, T.ShortType, T.ByteType)):
        return _xxh64_bytes(struct.pack("<i", int(value)))
    if isinstance(dtype, T.StringType):
        return _xxh64_bytes(str(value).encode("utf-8"))
    if isinstance(dtype, T.DoubleType):
        d = float(value) + 0.0  # normalize -0.0
        return _xxh64_bytes(struct.pack("<d", d))
    if isinstance(dtype, T.FloatType):
        f = float(value) + 0.0
        return _xxh64_bytes(struct.pack("<f", f))
    if isinstance(dtype, T.BooleanType):
        return _xxh64_bytes(struct.pack("<i", 1 if value else 0))
    return None


#: Sort-on-write keys per table: parquet row-group min/max stats then
#: prune point lookups on these columns (the reference's B-tree indexes
#: on sha1_hash / (dir_id,name) / dir_path, FileDbDAL/Hash.py:94-103,
#: File.py:203-229 — columnar skipping is the Spark-native equivalent;
#: Z-order on a real lakehouse).
SORT_KEYS: dict[str, list[str]] = {
    "hash": ["sha1_hash"],
    "file": ["dir_id", "name"],
    "directory": ["dir_path"],
    "hash_control": ["file_size"],
}

#: Bucket-on-write specs: (num_buckets, keys). `file` and `hash` share
#: a bucket count and are bucketed on their JOIN keys, so the hot
#: catalog joins — merge_files' staged⋈existing upsert probe on
#: file.id and vw_ll's file⟕hash on file_id — read co-located buckets
#: and plan with NO Exchange on the stored side (pinned in
#: tests/test_store_bucketing.py). This is the Spark-native analog of
#: the reference's PK B-trees as *physical layout*; at 100 TB the
#: bucket count scales with cluster width and the same specs move to
#: Delta/Iceberg table properties.
BUCKET_SPECS: dict[str, tuple[int, list[str]]] = {
    "file": (8, ["id"]),
    "hash": (8, ["file_id"]),
}

#: Per-DATA-FILE skipping stats recorded on bucketed commits: for each
#: bucketed table, the non-key columns whose per-file zone maps + bloom
#: digests let a wave read a key-pruned SUBSET of the generation's data
#: files (read_bucketed_pruned). `file` records dir_id: its id is
#: xxhash64(dir_path, name), so every row a crawl wave can match or
#: vanish carries a dir_id in the wave's frontier — the digest turns
#: the M2 classification probe from O(table) into O(files holding
#: frontier dirs) (the manifest analog of the reference probing its
#: (dir_id, name) B-tree per staged row, FileDbDAL/File.py:203-229).
BUCKET_FILE_STATS: dict[str, list[str]] = {
    "file": ["dir_id"],
}


def _num(v) -> bool:
    """True for a plain number (bool excluded — it would compare as
    0/1 against real numerics and lie)."""
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _stats_probe(v):
    """Normalize a probe/hull value to the representation zone maps
    store in the manifest JSON: datetimes/dates become ISO strings
    (fixed-field ISO order == chronological order, so lexicographic
    comparison against the recorded min/max is sound)."""
    import datetime

    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat(sep=" ") if isinstance(v, datetime.datetime) else v.isoformat()
    return v


def _zone_comparable(a, b) -> bool:
    """Can `a < b` be trusted between a hull value and a recorded
    zone bound? Only for same-kind primitives (both strings or both
    numbers) — anything else (Decimal, bytes, mixed) refuses to
    prune rather than risk an unsound skip."""
    if isinstance(a, str) and isinstance(b, str):
        return True
    return _num(a) and _num(b)


class TableStore:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        schemas: dict[str, T.StructType],
        bucketing: bool = True,
    ):
        self.spark = spark
        self.root = root
        self.schemas = schemas
        self.bucketing = bucketing
        #: stable identifier prefix for this store's catalog entries
        self._ident = hashlib.md5(os.path.abspath(root).encode()).hexdigest()[:8]
        #: per-(column-type, value) memo for probe hashes whose type the
        #: portable kernel can't cover (decimal/timestamp) — those pay
        #: ONE 1-row job ever, not one per lookup
        self._probe_hash_memo: dict = {}
        #: target-pruning decision of the LAST merge()/apply_changes()
        #: on this instance: {mode: full|segments|buckets, total,
        #: scanned, pruned} — the observability a 100 TB MERGE is
        #: judged by (g32 pins scanned == hull-overlapping segments)
        self.last_merge_report: dict | None = None
        os.makedirs(root, exist_ok=True)
        self._load_disk_schemas()

    #: every rename this store makes goes through this attribute; a test
    #: crashes any file-system step by wrapping it on its own instance
    _publish = staticmethod(publish)

    def _publish_bytes(self, dst: str, data: str | bytes) -> None:
        publish_bytes(dst, data, self._publish)

    # -- root catalog pointer -------------------------------------------------
    # ONE root-level file maps every table -> its current generation and
    # is swapped by a single atomic rename. This is the store's
    # VISIBILITY commit point (the Iceberg root-metadata-pointer /
    # Delta _last_checkpoint analog): commit_multi publishes all its
    # generations invisibly and then swaps the pointer ONCE, so a
    # reader interleaved between publishes sees all-old or all-new,
    # never mixed — the torn-read window the pre-pointer protocol
    # documented is closed (pinned in tests/test_store_skipping_txn.py).

    def _catalog_path(self) -> str:
        return os.path.join(self.root, "_CATALOG.json")

    def _read_catalog(self) -> dict:
        """{"version": int, "tables": {name: gen_basename}} — empty at
        version 0 for a root that predates its first commit."""
        return _read_json(self._catalog_path()) or {"version": 0, "tables": {}}

    def catalog_version(self) -> int:
        return self._read_catalog()["version"]

    def _catalog_swap(self, updates: dict[str, str]) -> int:
        """Atomically advance the catalog pointer for `updates`
        (table -> gen basename). MONOTONIC per table: an entry only
        moves to a strictly newer generation (gen names carry commit
        nanos), so a crash-recovery replay can re-swap idempotently
        without regressing past commits that landed after the crash.
        Returns the (possibly unchanged) catalog version."""

        def _ns(gen: str) -> int:
            try:
                return int(gen.split("-", 1)[1])
            except (IndexError, ValueError):
                return -1

        with _commit_lock(self.root, "//catalog"):
            cat = self._read_catalog()
            changed = False
            for name, gen in updates.items():
                old = cat["tables"].get(name)
                if old is None or _ns(gen) > _ns(old):
                    self._sync_generation(name, gen, old)
                    cat["tables"][name] = gen
                    changed = True
            if changed:
                cat["version"] += 1
                self._publish_bytes(self._catalog_path(), json.dumps(cat))
                # append the applied swaps to the pointer LOG — the
                # record time travel resolves through (a generation
                # that was never pointed, e.g. a crashed commit's
                # orphan, must never be served as history)
                applied = {
                    n: g for n, g in updates.items() if cat["tables"].get(n) == g
                }
                with open(self._catalog_log_path(), "a") as fh:
                    fh.write(
                        json.dumps(
                            {
                                "v": cat["version"],
                                "ns": time.time_ns(),
                                "t": applied,
                            }
                        )
                        + "\n"
                    )
                    fh.flush()
                    os.fsync(fh.fileno())
            return cat["version"]

    def _sync_generation(self, name: str, gen: str, old: str | None) -> None:
        """Before the catalog pointer names `gen`, fsync every file it
        can read that `old` (the generation it replaces) could not, then
        the gen dir, the segment / DV dirs its manifest adds and the
        table dir. Spark writes data dirs in place, not through
        publish(); by inode, hardlinked base files are not synced again."""

        def readable(g: str | None) -> set[str]:
            if g is None:
                return set()
            gen_dir = os.path.join(self._dir(name), g)
            return {gen_dir, *(self._manifest(gen_dir) or [])}

        def files(dirs: set[str]) -> dict[int, str]:
            return {
                e.inode(): e.path
                for p in dirs
                if os.path.isdir(p)
                for e in os.scandir(p)
                if e.is_file(follow_symlinks=False)
            }

        old_dirs, new_dirs = readable(old), readable(gen)
        synced = files(old_dirs)
        for ino, path in files(new_dirs).items():
            if ino not in synced:
                _fsync(path)
        for p in sorted(new_dirs - old_dirs) + [self._dir(name)]:
            _fsync(p)

    def _catalog_log_path(self) -> str:
        return os.path.join(self.root, "_CATALOG_LOG.jsonl")

    def _history(self, name: str) -> list[tuple[int, str]]:
        """(swap_ns, gen_basename) pairs for every generation of
        `name` that was ever POINTED, oldest first, restricted to
        generations still on disk (vacuum drops history exactly as it
        does for the directory listing). Empty for a table that
        predates the pointer log — callers fall back to the listing."""
        out: list[tuple[int, str]] = []
        try:
            with open(self._catalog_log_path()) as fh:
                for line in fh:
                    try:
                        rec = json.loads(line)
                    except json.JSONDecodeError:
                        continue  # torn trailing line after a crash
                    gen = rec.get("t", {}).get(name)
                    if gen is not None and os.path.isdir(
                        os.path.join(self._dir(name), gen)
                    ):
                        out.append((int(rec["ns"]), gen))
        except FileNotFoundError:
            pass
        return out

    def _persist_schema(self, name: str) -> None:
        """Write the table's schema to `<root>/<name>/_SCHEMA.json` so
        tables registered at runtime (clone targets, quarantines)
        survive instance lifetime: a TableStore re-created over the
        same root picks them up in _load_disk_schemas(), can read
        them, and — critically — its vacuum() sees their manifests'
        segment references."""
        d = self._dir(name)
        os.makedirs(d, exist_ok=True)
        self._publish_bytes(
            os.path.join(d, "_SCHEMA.json"),
            json.dumps(self.schemas[name].jsonValue()),
        )

    def _load_disk_schemas(self) -> None:
        """Adopt tables persisted by a previous instance over this
        root. Declared schemas passed to __init__ take precedence —
        EXCEPT for tables with a column-mapping log, whose persisted
        schema reflects renames/drops a stale declaration cannot know
        about (the epoch map only decodes correctly against the
        post-rename declared names)."""
        for entry in sorted(os.listdir(self.root)):
            p = os.path.join(self.root, entry, "_SCHEMA.json")
            if not os.path.exists(p):
                continue
            if entry not in self.schemas or self._colmap(entry) is not None:
                with open(p) as fh:
                    self.schemas[entry] = T.StructType.fromJson(json.load(fh))

    def _disk_tables(self) -> set[str]:
        """Every table present on disk under root — registered or not —
        so vacuum()'s cross-table reference scan also protects clones
        created by ANOTHER live instance after this one initialized."""
        names = set(self.schemas)
        if os.path.isdir(self.root):
            for entry in os.listdir(self.root):
                d = os.path.join(self.root, entry)
                if not os.path.isdir(d):
                    continue
                try:
                    children = os.listdir(d)
                except OSError:
                    continue
                if any(
                    c.startswith(("gen-", "seg-", "dv-")) or c == "_SCHEMA.json"
                    for c in children
                ):
                    names.add(entry)
        return names

    # -- bucket layout resolution ----------------------------------------------
    #: marker file inside every bucketed generation recording ITS bucket
    #: count — what lets rebucket() evolve the table-level target count
    #: without ever misreading an older generation's file names
    _NBUCKETS_FILE = "_NBUCKETS"

    def _bucket_spec(self, name: str) -> tuple[int, list[str]] | None:
        """Effective TARGET bucket layout for `name`: the per-table
        override written by rebucket() (`_BUCKETSPEC.json`) wins over
        the installed default (BUCKET_SPECS); None for unbucketed
        tables. This is what NEW generations are written with; an
        existing generation's actual count comes from _gen_buckets."""
        if name not in BUCKET_SPECS:
            return None
        nb, keys = BUCKET_SPECS[name]
        try:
            with open(os.path.join(self._dir(name), "_BUCKETSPEC.json")) as fh:
                o = json.load(fh)
            return int(o["n"]), list(o.get("keys", keys))
        except (FileNotFoundError, json.JSONDecodeError, KeyError, OSError,
                TypeError, ValueError):
            return nb, keys

    def _is_bucketed(self, name: str) -> bool:
        return self.bucketing and name in BUCKET_SPECS

    def _gen_buckets(self, name: str, gen_dir: str) -> int:
        """Bucket count a GENERATION was actually written with (its
        `_NBUCKETS` stamp; the installed default for generations that
        predate the stamp). A merge commit must extend the base with
        SAME-count delta files — bucket ids parse from file names, so
        mixing counts in one directory would silently mis-bucket."""
        try:
            with open(os.path.join(gen_dir, self._NBUCKETS_FILE)) as fh:
                return int(fh.read().strip())
        except (FileNotFoundError, OSError, ValueError):
            return BUCKET_SPECS[name][0]

    def _stamp_nbuckets(self, gen_dir: str, n: int) -> None:
        self._publish_bytes(
            os.path.join(gen_dir, self._NBUCKETS_FILE), str(int(n))
        )

    # -- per-data-file skipping stats (bucketed generations) -------------------
    # A bucketed generation's data files carry a `_FILESTATS.json`
    # sidecar ({file_basename: {col: {min, max, nulls, bloom?}}}) for
    # the BUCKET_FILE_STATS columns — the per-file half of the
    # manifest zone/bloom story (Delta per-file stats / Iceberg
    # column metrics at file granularity). Delta commits stat their
    # O(changes) stage files; hardlinked base files inherit the prior
    # generation's entries verbatim (the bytes are the same inode).
    # read_bucketed_pruned() consults the sidecar to scan only the
    # files that can hold some probe key — pure metadata, no data
    # file opened for the rest.

    _FILESTATS_FILE = "_FILESTATS.json"
    #: per-file blooms use a smaller bits/key than segment blooms (16
    #: vs 32, fp ~2e-3/key — a false positive just scans one extra
    #: file) and a higher distinct-key cap: a freshly compacted wide
    #: file holds many distinct dir_ids, and losing its digest means
    #: it is scanned on EVERY wave
    _FILE_BLOOM_BITS_PER_KEY = 16
    _FILE_BLOOM_MAX_KEYS = 65536
    #: probes with more keys than this fall back to a full read
    #: (bounds the driver-side zone/bloom evaluation)
    _FILE_PRUNE_MAX_KEYS = 100_000

    def _file_stat_cols(self, name: str) -> list[str]:
        """BUCKET_FILE_STATS columns actually present in the table's
        DECLARED schema — a caller may register a same-named table
        with a different shape (fixtures, clones), and stats silently
        narrow to the columns that exist."""
        declared = set(self.schemas[name].fieldNames())
        return [
            c for c in (BUCKET_FILE_STATS.get(name) or []) if c in declared
        ]

    def _filestats_path(self, gen_dir: str) -> str:
        return os.path.join(gen_dir, self._FILESTATS_FILE)

    def _filestats(self, gen_dir: str) -> dict | None:
        try:
            with open(self._filestats_path(gen_dir)) as fh:
                return json.load(fh)
        except (FileNotFoundError, json.JSONDecodeError, OSError):
            return None

    def _write_filestats(self, gen_dir: str, stats: dict) -> None:
        self._publish_bytes(self._filestats_path(gen_dir), json.dumps(stats))

    def _per_file_stats(
        self, name: str, data_dir: str, cols: list[str]
    ) -> dict:
        """Zone maps + bloom digests PER DATA FILE of `data_dir` for
        `cols`: one grouped aggregate pass (min/max/nulls/distinct per
        file) plus, per column, one distributive bit-position
        aggregation (each value's xxhash64 expands to its k positions
        JVM-side; only distinct positions per file reach the driver).
        All files of one pass share a digest width m sized from the
        largest per-file key count (bounded by _FILE_BLOOM_MAX_KEYS —
        files beyond the cap record zone-only stats). Cost is O(rows
        in data_dir): O(changes) when statting a delta stage, O(table)
        only inside an already-O(table) clean rewrite."""
        k = self._BLOOM_K
        df = (
            self.spark.read.schema(self._bucket_phys_schema(name))
            .parquet(data_dir)
            .withColumn(
                "__f", F.element_at(F.split(F.input_file_name(), "/"), -1)
            )
        )
        aggs: list = []
        for c in cols:
            aggs += [
                F.min(c).alias(f"mn__{c}"),
                F.max(c).alias(f"mx__{c}"),
                (F.count(F.lit(1)) - F.count(c)).alias(f"nl__{c}"),
                F.count_distinct(F.xxhash64(c)).alias(f"nd__{c}"),
            ]
        zone_rows = df.groupBy("__f").agg(*aggs).collect()
        out: dict[str, dict] = {}
        bloom_m: dict[str, int] = {}
        for c in cols:
            eligible = [
                int(r[f"nd__{c}"])
                for r in zone_rows
                if 0 < int(r[f"nd__{c}"]) <= self._FILE_BLOOM_MAX_KEYS
            ]
            if eligible:
                nbits = max(
                    64, max(eligible) * self._FILE_BLOOM_BITS_PER_KEY
                )
                bloom_m[c] = 1 << (nbits - 1).bit_length()
        for r in zone_rows:
            ent: dict = {}
            for c in cols:
                mn, mx = _stats_probe(r[f"mn__{c}"]), _stats_probe(r[f"mx__{c}"])
                for v in (mn, mx):
                    if v is not None and not isinstance(v, (int, float, str)):
                        raise TypeError(
                            f"per-file stats on {c!r}: unsupported type "
                            f"{type(v).__name__}"
                        )
                ent[c] = {
                    "min": mn,
                    "max": mx,
                    "nulls": int(r[f"nl__{c}"]),
                }
            out[r["__f"]] = ent
        def _bloom_for(c: str, m: int) -> tuple[str, int, list]:
            # only ELIGIBLE files (0 < nd <= cap) ever record a digest,
            # so drop over-cap files' rows BEFORE the explode: a clean
            # rewrite's big files would otherwise pay k position
            # expansions per row just to be discarded at the driver
            eligible_files = [
                r["__f"]
                for r in zone_rows
                if 0 < int(r[f"nd__{c}"]) <= self._FILE_BLOOM_MAX_KEYS
            ]
            if not eligible_files:
                return c, m, []
            pos_expr = (
                f"transform(sequence(0, {k - 1}), i -> "
                f"pmod((xxhash64({c}) & 4294967295) + "
                f"i * (shiftrightunsigned(xxhash64({c}), 32) | 1), {m}))"
            )
            return c, m, (
                df.where(F.col(c).isNotNull() & F.col("__f").isin(eligible_files))
                .select("__f", F.explode(F.expr(pos_expr)).alias("p"))
                .groupBy("__f")
                .agg(F.collect_set("p").alias("ps"))
                .collect()
            )

        # per-column digest jobs are independent — overlap them from a
        # small thread pool (guide §2.6) so the stats pass costs
        # zone + max(col) instead of zone + sum(cols)
        if len(bloom_m) > 1:
            from concurrent.futures import ThreadPoolExecutor

            # capped: one concurrent Spark job per digest column is
            # oversubscription past a few (ADVICE r10)
            with ThreadPoolExecutor(max_workers=min(len(bloom_m), 4)) as pool:
                results = list(pool.map(lambda cm: _bloom_for(*cm), bloom_m.items()))
        else:
            results = [_bloom_for(c, m) for c, m in bloom_m.items()]
        for c, m, pos_rows in results:
            for r in pos_rows:
                bmp = bytearray(m // 8)
                for p in r["ps"]:
                    bmp[p >> 3] |= 1 << (p & 7)
                out[r["__f"]][c]["bloom"] = {
                    "m": m,
                    "k": k,
                    "bits": base64.b64encode(bytes(bmp)).decode(),
                }
        return out

    def read_bucketed_pruned(
        self, name: str, col: str, keys: list, include_nulls: bool = False
    ) -> tuple[DataFrame, dict[str, int]]:
        """Key-pruned SUPERSET read of a bucketed table: scan only the
        data files whose recorded per-file stats (zone range by value
        order, bloom digest by membership) can hold SOME key in
        `keys` on `col` — pure metadata, no other file is opened.
        Deletion vectors still apply, so the result is exactly what a
        full read restricted to those files would return; NO row
        filter is applied (callers compose their own predicates — the
        read_pruned contract at file granularity). Files without a
        recorded entry are always scanned, so the read is sound across
        commits that predate the sidecar. Falls back to the full
        read() when the table isn't bucketed, has no sidecar, or the
        probe exceeds _FILE_PRUNE_MAX_KEYS. Returns (df, {mode, total,
        zone_skipped, bloom_skipped, scanned})."""
        full_report = {
            "mode": "full",
            "total": 0,
            "zone_skipped": 0,
            "bloom_skipped": 0,
            "scanned": 0,
        }
        cur = self._current(name)
        if cur is None:
            return (
                local_df(self.spark, [], self.schemas[name]),
                full_report,
            )
        stats = (
            self._filestats(cur)
            if self._is_bucketed(name)
            and self._doc(cur) is None
            and col in self.schemas[name].fieldNames()
            else None
        )
        vals = [v for v in keys if v is not None]
        want_nulls = include_nulls or len(vals) < len(keys)
        if stats is None or len(vals) > self._FILE_PRUNE_MAX_KEYS:
            full_report["total"] = full_report["scanned"] = 1
            return self.read(name), full_report
        import bisect

        coltype = self.schemas[name][col].dataType
        probes = sorted({_stats_probe(v) for v in vals})
        comparable = probes and all(
            isinstance(p, (int, float, str)) and not isinstance(p, bool)
            for p in probes
        )
        hashes: list[int] | None = None  # computed on first bloom probe
        report = {
            "mode": "files",
            "total": 0,
            "zone_skipped": 0,
            "bloom_skipped": 0,
            "scanned": 0,
        }
        kept: list[str] = []
        for fn in sorted(os.listdir(cur)):
            if fn.startswith(("_", ".")):
                continue
            p = os.path.join(cur, fn)
            if not os.path.isfile(p):
                continue
            report["total"] += 1
            st = (stats.get(fn) or {}).get(col)
            if st is None:
                kept.append(p)
                report["scanned"] += 1
                continue
            if want_nulls and int(st.get("nulls", 0)) > 0:
                kept.append(p)
                report["scanned"] += 1
                continue
            zmin, zmax = st.get("min"), st.get("max")
            if zmin is None and zmax is None:
                # all-NULL (or empty) file: no non-null key can match
                report["zone_skipped"] += 1
                continue
            if comparable and _zone_comparable(probes[0], zmin):
                lo = bisect.bisect_left(probes, zmin)
                hi = bisect.bisect_right(probes, zmax)
                cand = probes[lo:hi]
            else:
                cand = probes  # not cleanly comparable: can't zone-prune
            if not cand:
                report["zone_skipped"] += 1
                continue
            bloom = st.get("bloom")
            if bloom is not None:
                if hashes is None:
                    by_probe = {
                        _stats_probe(v): self._probe_hash(v, coltype)
                        for v in vals
                    }
                    hashes = by_probe
                bmp = base64.b64decode(bloom["bits"])
                hit = any(
                    all(
                        bmp[q >> 3] & (1 << (q & 7))
                        for q in _bloom_positions(
                            hashes[c], bloom["m"], bloom["k"]
                        )
                    )
                    for c in cand
                )
                if not hit:
                    report["bloom_skipped"] += 1
                    continue
            kept.append(p)
            report["scanned"] += 1
        phys_schema = self._bucket_phys_schema(name)
        phys = (
            self.spark.read.schema(phys_schema).parquet(*kept)
            if kept
            else local_df(self.spark, [], phys_schema)
        )
        return self._apply_bucket_dvs(name, cur, phys), report

    # -- bucketed merge-on-read commits ---------------------------------------
    # A bucketed table's MERGE used to fall back to a full rewrite (the
    # O(table)-per-crawl-wave cost VERDICT r7 named the last scale
    # killer). It now commits O(changes): the U/I delta is written as a
    # bucket-ALIGNED set of files (same bucket function, same count —
    # one file per touched bucket) into a new generation directory that
    # HARDLINKS the prior generation's data files (O(#files) metadata,
    # zero data bytes), plus one deletion vector over the touched keys.
    # Rows carry a hidden `__commit_ns` column so a DV written at
    # commit T masks exactly the OLDER versions of its keys
    # (`__commit_ns < T`) — the file-scoped-DV contract expressed as a
    # commit-scoped predicate, which is what lets the whole generation
    # keep reading through ONE session-catalog bucketed table (bucket
    # ids parse from the file names, so the co-located zero-Exchange
    # join layout survives every MOR commit; pinned in
    # tests/test_store_bucketing.py). DVs apply as ONE broadcast
    # anti-join (they are O(changes) small), which preserves the
    # scan's hash-partitioning. compact() folds the debt back into a
    # clean snapshot on the maintenance edge. On a real lakehouse this
    # whole mechanism is Delta/Iceberg MERGE with deletion vectors over
    # a bucketed/clustered layout; hardlinks are the single-box analog
    # of manifest entries pointing at immutable data files.

    #: hidden physical column stamping every bucketed row with its
    #: commit's nanos (never visible through read())
    _COMMIT_COL = "__commit_ns"

    def _bucket_meta_path(self, gen_dir: str) -> str:
        return os.path.join(gen_dir, "_BUCKETDV.json")

    def _bucket_meta(self, gen_dir: str) -> dict | None:
        """Merge-on-read metadata of a bucketed generation:
        ``{"waves": n, "dvs": [{"path": rel-to-table-dir, "ns": int,
        "keys": [col...]}]}`` — None for a clean (replace-written)
        generation. Lives INSIDE the generation dir (underscore file,
        invisible to parquet scans) so time travel reads each
        generation with exactly its own deletion state."""
        return _read_json(self._bucket_meta_path(gen_dir))

    def _bucket_phys_schema(self, name: str) -> T.StructType:
        return T.StructType(
            list(self.schemas[name].fields)
            + [T.StructField(self._COMMIT_COL, T.LongType(), True)]
        )

    def _apply_bucket_dvs(
        self, name: str, gen_dir: str, df: DataFrame
    ) -> DataFrame:
        """Apply a bucketed generation's deletion vectors to its scan
        and strip the hidden commit column. DVs union into ONE small
        (key, dv_ns) table applied as a single BROADCAST anti-join —
        masks a row iff some LATER vector covers its key — which
        preserves the scan's bucket hash-partitioning (no Exchange on
        the probe side). Rows from pre-__commit_ns files (legacy
        generations' hardlinked files) null-fill the column and count
        as commit 0, i.e. older than every vector."""
        meta = self._bucket_meta(gen_dir)
        if meta and meta["dvs"]:
            import functools
            import operator as _op

            table_dir = os.path.dirname(gen_dir)
            by_keys: dict[tuple, list[dict]] = {}
            for e in meta["dvs"]:
                by_keys.setdefault(tuple(e["keys"]), []).append(e)
            # one union + one broadcast anti-join per distinct key set
            # (a table merged on one key — the normal case — pays ONE)
            for keys, entries in by_keys.items():
                dv = None
                for e in entries:
                    part = (
                        self.spark.read.parquet(
                            os.path.join(table_dir, e["path"])
                        )
                        .select(*keys)
                        .withColumn("__dv_ns", F.lit(int(e["ns"])))
                    )
                    dv = part if dv is None else dv.unionByName(part)
                commit = (
                    F.coalesce(df[self._COMMIT_COL], F.lit(0))
                    if self._COMMIT_COL in df.columns
                    else F.lit(0)
                )
                cond = functools.reduce(
                    _op.and_, [df[k].eqNullSafe(dv[k]) for k in keys]
                ) & (commit < dv["__dv_ns"])
                df = df.join(F.broadcast(dv), cond, "left_anti")
        return df.drop(self._COMMIT_COL)

    def _read_buckets_for(
        self,
        name: str,
        gen_dir: str,
        nb: int,
        bkeys: list[str],
        source: DataFrame,
    ) -> tuple[DataFrame | None, dict]:
        """Bucket-pruned target read for a MERGE wave: hash the source
        keys with Spark's own bucket function (pmod(murmur3, nb) — the
        exact rule the bucketed writer named the files with; parity
        pinned in tests) and scan ONLY the files of the touched
        buckets. Only engages when the wave touches at most half the
        buckets — reading a file subset forfeits the catalog scan's
        bucket metadata (the join re-shuffles the subset), which is a
        win exactly when the subset is small. Returns (df, report);
        (None, full-report) when pruning shouldn't or can't engage."""
        import re as _re

        full = {"mode": "full", "total": nb, "scanned": nb, "pruned": 0}
        cap = max(1, nb // 2)
        # early-exit probe: we only need to know whether the wave
        # touches MORE than cap buckets — limit(cap+1) keeps the probe
        # one cheap partial-aggregate job even on a large source (the
        # common all-buckets wave pays the minimum to learn it)
        tb = {
            r["b"]
            for r in source.select(
                F.pmod(F.hash(*[F.col(k) for k in bkeys]), F.lit(nb)).alias(
                    "b"
                )
            )
            .distinct()
            .limit(cap + 1)
            .collect()
        }
        if len(tb) > cap:
            return None, full
        pat = _re.compile(r"_(\d{5,})\.")
        sel: list[str] = []
        for fn in sorted(os.listdir(gen_dir)):
            if fn.startswith(("_", ".")):
                continue
            p = os.path.join(gen_dir, fn)
            if not os.path.isfile(p):
                continue
            m = pat.search(fn)
            if m is None:
                return None, full  # unparseable name: refuse to prune
            if int(m.group(1)) in tb:
                sel.append(p)
        phys_schema = self._bucket_phys_schema(name)
        phys = (
            self.spark.read.schema(phys_schema).parquet(*sel)
            if sel
            else local_df(self.spark, [], phys_schema)
        )
        return (
            self._apply_bucket_dvs(name, gen_dir, phys),
            {
                "mode": "buckets",
                "total": nb,
                "scanned": len(tb),
                "pruned": nb - len(tb),
            },
        )

    def _register_bucketed_gen(self, name: str, gen_dir: str) -> None:
        """Register a generation directory of bucket-aligned files as
        an EXTERNAL session-catalog bucketed table (bucket ids parse
        from the file names Spark's own bucketed writer produced) —
        what lets an incrementally-merged generation keep planning
        co-located zero-Exchange joins without any data rewrite.
        Registers with the GENERATION's own bucket count, so history
        written before a rebucket() still plans correctly."""
        nb = self._gen_buckets(name, gen_dir)
        _, keys = BUCKET_SPECS[name]
        tbl = self._table_name(name, gen_dir)
        ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in self._bucket_phys_schema(name).fields
        )
        self.spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        self.spark.sql(
            f"CREATE TABLE {tbl} ({ddl}) USING PARQUET "
            f"CLUSTERED BY ({', '.join(keys)}) "
            f"SORTED BY ({', '.join(keys)}) INTO {nb} BUCKETS "
            f"LOCATION '{gen_dir}'"
        )

    @staticmethod
    def _link_data_files(src_dir: str, dst_dir: str) -> int:
        """Hardlink every data file of `src_dir` into `dst_dir`
        (O(#files) metadata, zero data bytes — segments are immutable,
        so generations share them by link count; the manifest-reuse
        analog). Returns the number of files linked."""
        n = 0
        for fn in sorted(os.listdir(src_dir)):
            if fn.startswith(("_", ".")):
                continue  # _SUCCESS / _BUCKETDV / hidden
            s = os.path.join(src_dir, fn)
            if not os.path.isfile(s):
                continue
            dst = os.path.join(dst_dir, fn)
            if os.path.exists(dst):
                raise FileExistsError(
                    f"bucketed commit: data file name collision {fn!r}"
                )
            try:
                os.link(s, dst)
            except OSError:
                shutil.copy2(s, dst)  # cross-device fallback
            n += 1
        return n

    def _merge_bucketed_commit(
        self,
        name: str,
        cur: str,
        classified: DataFrame,
        on: list[str],
        metrics: dict[str, int],
    ) -> None:
        """O(changes) MERGE commit for a bucketed table (see the
        section comment above): bucket-aligned delta files + one DV +
        hardlinked base, published as a new generation + catalog swap.
        Caller holds the table's commit lock. Delta files are written
        at the BASE generation's bucket count (file names carry bucket
        ids, so one directory must be single-count); a rebucket()'s new
        target count takes effect at the next clean rewrite."""
        nb = self._gen_buckets(name, cur)
        _, keys = BUCKET_SPECS[name]
        cols = [f.name for f in self.schemas[name].fields]
        d = self._dir(name)
        ns = time.time_ns()
        gen = os.path.join(d, f"gen-{ns}")
        os.makedirs(gen, exist_ok=True)
        self._stamp_nbuckets(gen, nb)
        stage = None
        if metrics["updated"] or metrics["inserted"]:
            # Spark's own bucketed writer guarantees hash compatibility
            # with the base layout; repartition on the bucket keys makes
            # each task own one bucket -> at most nb delta files
            delta = (
                classified.where(F.col("__op").isin("U", "I"))
                .select(*cols)
                .withColumn(self._COMMIT_COL, F.lit(ns))
            )
            stage = os.path.join(d, f"stage-{ns}")
            tmp_tbl = f"{self._table_name(name, gen)}_stage"
            writer = (
                delta.repartition(nb, *[F.col(k) for k in keys])
                .write.mode("overwrite")
                .format("parquet")
                .option("path", stage)
            )
            # parquet-level bloom filters on the sidecar columns: the
            # row-group twin of the _FILESTATS digests — a pushed
            # In/EqualTo predicate (the engine's frontier row filter)
            # prunes row groups even in files whose distinct-key count
            # exceeded the sidecar digest cap
            for c in self._file_stat_cols(name):
                writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
            writer.bucketBy(nb, *keys).sortBy(*keys).saveAsTable(tmp_tbl)
            self.spark.sql(f"DROP TABLE IF EXISTS {tmp_tbl}")  # external
        prior = self._bucket_meta(cur) or {"waves": 0, "dvs": []}
        dvs = list(prior["dvs"])
        if metrics["updated"] or metrics["deleted"]:
            dv = f"dv-{ns}"
            dv_df = (
                classified.where(F.col("__op").isin("U", "D"))
                .select(*[F.col(f"__k_{k}").alias(k) for k in on])
                .distinct()
            )
            self._write_dir(
                dv_df, os.path.join(d, dv), metrics["updated"] + metrics["deleted"]
            )
            dvs.append({"path": dv, "ns": ns, "keys": list(on)})
        # per-file skipping stats: hardlinked base files inherit the
        # prior sidecar's entries (same bytes); the delta stage pays
        # one O(changes) stats pass before linking in
        fcols = self._file_stat_cols(name)
        fstats = dict(self._filestats(cur) or {}) if fcols else {}
        if fcols and stage is not None:
            fstats.update(self._per_file_stats(name, stage, fcols))
        self._link_data_files(cur, gen)
        if stage is not None:
            self._link_data_files(stage, gen)
            shutil.rmtree(stage, ignore_errors=True)
        if fcols:
            self._write_filestats(gen, fstats)
        self._publish_bytes(
            self._bucket_meta_path(gen),
            json.dumps({"waves": int(prior["waves"]) + 1, "dvs": dvs}),
        )
        self._register_bucketed_gen(name, gen)
        self._catalog_swap({name: os.path.basename(gen)})

    def _base_doc(self, name: str) -> dict:
        """The current generation expressed as manifest entries
        (relative to the table dir — the SAME dir any new generation
        lives in, so entries carry over verbatim); a plain snapshot
        generation becomes a single base segment."""
        cur = self._current(name)
        if cur is None:
            return {"segments": [], "deletes": []}
        doc = self._doc(cur)
        if doc is None:
            return {
                "segments": [{"path": os.path.relpath(cur, self._dir(name))}],
                "deletes": [],
            }
        return doc

    def _commit_manifest(self, name: str, doc: dict) -> None:
        """Atomically commit a new manifest generation (write-tmp-then-
        rename), then advance the catalog pointer — the swap is the
        visibility commit point; a crash in between leaves an orphan
        generation no pointer-resolved reader ever sees."""
        d = self._dir(name)
        os.makedirs(d, exist_ok=True)
        gen = os.path.join(d, f"gen-{time.time_ns()}")
        os.makedirs(gen, exist_ok=True)
        self._publish_bytes(os.path.join(gen, "_MANIFEST"), json.dumps(doc))
        self._catalog_swap({name: os.path.basename(gen)})

    #: rows at or below which a segment/DV write may go through the
    #: driver-side Arrow writer instead of a Spark write job. A Spark
    #: write of a KB-sized delta pays a fixed ~0.5-0.7 s of committer
    #: machinery (job + task launch, temp dir, per-file rename,
    #: _SUCCESS) that dwarfs the bytes; collecting the same rows as ONE
    #: Arrow batch and writing one parquet file driver-side keeps the
    #: commit O(changes) with a far smaller constant. The threshold is
    #: a row-count the caller must KNOW (merge/apply_changes metrics) —
    #: unhinted writes always take the Spark path, so an O(table)
    #: rewrite can never land on the driver.
    _ARROW_WRITE_MAX_ROWS = 65536

    def _write_dir(
        self, df: DataFrame, path: str, rows_hint: int | None
    ) -> None:
        """Write `df` as the data directory `path`. When `rows_hint`
        (an upper bound on the row count) is at most
        _ARROW_WRITE_MAX_ROWS, skip the Spark job: one collect as an
        Arrow table, one parquet file written driver-side into a temp
        dir and published, so a failure leaves no trace. Any conversion
        surprise falls back to the Spark writer — behavior can never
        diverge, only speed. Readers are unaffected: every segment/DV
        read passes an explicit schema, and Arrow writes the same
        physical parquet types Spark does (int32/int64, decimal128,
        timestamp-micros UTC)."""
        if rows_hint is not None and 0 <= rows_hint <= self._ARROW_WRITE_MAX_ROWS:
            tmp = path + ".arrowtmp"
            try:
                import pyarrow.parquet as pq

                tbl = df.toArrow()
                os.makedirs(tmp, exist_ok=True)
                pq.write_table(tbl, os.path.join(tmp, "part-00000.parquet"))
                with open(os.path.join(tmp, "_SUCCESS"), "w"):
                    pass
                self._publish(tmp, path)
                return
            except Exception as exc:
                _LOG.warning(
                    "arrow small-write fell back to Spark for %s: %r", path, exc
                )
                shutil.rmtree(tmp, ignore_errors=True)
        df.write.mode("overwrite").parquet(path)

    def _write_segment(
        self,
        name: str,
        df: DataFrame,
        prefix: str,
        rows_hint: int | None = None,
    ) -> str:
        """Write rows as one immutable segment dir; returns its relpath.
        `rows_hint` is an upper bound on the row count when the caller
        knows it (merge metrics) — small hinted writes take the
        driver-side Arrow path."""
        d = self._dir(name)
        os.makedirs(d, exist_ok=True)
        cols = [f.name for f in self.schemas[name].fields]
        out = df.select(*cols)
        if name in SORT_KEYS:
            out = out.sortWithinPartitions(*SORT_KEYS[name])
        seg = f"{prefix}-{time.time_ns()}"
        path = os.path.join(d, seg)
        self._write_dir(out, path, rows_hint)
        self._stamp_epoch(name, path)
        return seg

    # -- column mapping (rename/drop without rewrite) --------------------------
    # Stable-identity schema evolution for non-bucketed tables: a
    # rename or drop is METADATA-ONLY. `_COLMAP.json` records an event
    # log (rename/drop/add) with a monotonically increasing EPOCH, and
    # every data directory written since the first event carries an
    # `_EPOCH` stamp (an underscore file inside the parquet dir —
    # invisible to scans). Reading a segment resolves each CURRENT
    # logical column to its physical name AT THAT SEGMENT'S EPOCH by
    # walking the event log backwards — the name-based equivalent of
    # Delta column mapping / Iceberg field ids (events compose, and a
    # column re-added after a drop can never capture an old physical
    # column's bytes, because the old segment's read schema simply
    # excludes it). Time travel, CDC diffs, and manifests mixing
    # pre-/post-rename segments all present CURRENT logical names
    # (Delta column-mapping semantics). Renames/drops require zero
    # merge-on-read debt (compact first): scoped filter strings and
    # DV key lists are written in the names current at THEIR commit,
    # and the zero-debt gate keeps every live reference current.

    def _colmap_path(self, name: str) -> str:
        return os.path.join(self._dir(name), "_COLMAP.json")

    def _colmap(self, name: str) -> dict | None:
        return _read_json(self._colmap_path(name))

    def _colmap_append(self, name: str, events: list[dict]) -> None:
        cm = self._colmap(name) or {"epoch": 0, "events": []}
        cm["epoch"] += 1
        for ev in events:
            cm["events"].append({**ev, "epoch": cm["epoch"]})
        os.makedirs(self._dir(name), exist_ok=True)
        self._publish_bytes(self._colmap_path(name), json.dumps(cm))

    def _stamp_epoch(self, name: str, data_dir: str) -> None:
        """Record the table's current schema epoch inside a freshly
        written data dir (no-op for epoch-0 tables — absent stamp
        means epoch 0)."""
        cm = self._colmap(name)
        if cm and cm["epoch"] > 0:
            self._publish_bytes(
                os.path.join(data_dir, "_EPOCH"), str(cm["epoch"])
            )

    @staticmethod
    def _data_epoch(data_dir: str) -> int:
        try:
            with open(os.path.join(data_dir, "_EPOCH")) as fh:
                return int(fh.read())
        except (FileNotFoundError, ValueError):
            return 0

    @staticmethod
    def _names_at_epoch(
        fields: list, events: list[dict], epoch: int
    ) -> dict[str, str | None]:
        """current logical name -> physical name at `epoch` (None if
        the field did not exist yet). Events are walked newest-first;
        only events AFTER `epoch` separate then from now."""
        out: dict[str, str | None] = {}
        newer = [e for e in events if e["epoch"] > epoch]
        for f in fields:
            nm: str | None = f.name
            for ev in reversed(newer):
                if ev["op"] == "rename" and ev["to"] == nm:
                    nm = ev["from"]
                elif ev["op"] == "add" and ev["name"] == nm:
                    nm = None  # born after this epoch
                    break
            out[f.name] = nm
        return out

    def _map_segment_df(
        self, name: str, data_dir: str, colmap: dict
    ) -> DataFrame:
        """Read one data dir under column mapping: per-epoch physical
        schema, aliased to current logical names, absent-at-epoch
        fields null-filled."""
        fields = list(self.schemas[name].fields)
        epoch = self._data_epoch(data_dir)
        if epoch >= colmap["epoch"]:
            return self.spark.read.schema(self.schemas[name]).parquet(data_dir)
        mapping = self._names_at_epoch(fields, colmap["events"], epoch)
        phys = T.StructType(
            [
                T.StructField(mapping[f.name], f.dataType, True)
                for f in fields
                if mapping[f.name] is not None
            ]
        )
        df = self.spark.read.schema(phys).parquet(data_dir)
        cols = []
        for f in fields:
            if mapping[f.name] is None:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            else:
                cols.append(F.col(mapping[f.name]).alias(f.name))
        return df.select(*cols)

    def _guard_colmap_change(self, name: str, cols: list[str]) -> None:
        if self.bucketing and name in BUCKET_SPECS:
            raise ValueError(
                f"column mapping on bucketed table {name!r} requires a "
                "rewrite (bucket DDL names are physical); use replace()"
            )
        for c in cols:
            if c in SORT_KEYS.get(name, []):
                raise ValueError(
                    f"{name!r}: {c!r} is a sort-on-write key; rename the "
                    "SORT_KEYS policy first"
                )
        debt = self.mor_debt(name)
        if debt["filters"] or debt["deletes"]:
            raise ValueError(
                f"{name!r}: rename/drop requires zero merge-on-read debt "
                "(scoped filters / deletion vectors reference column "
                "names as-of their commit) — run compact() first"
            )
        # registered materialized views name source columns in their
        # spec JSON — a rename/drop they can't see would break every
        # subsequent refresh (the spec would select vanished columns)
        for view in self.list_mviews():
            spec = self.mview_spec(view)
            if spec.get("src") != name:
                continue
            referenced = (
                set(spec.get("group_by", []))
                | set(spec.get("sums", {}).values())
                | set(spec.get("mins", {}).values())
                | set(spec.get("maxs", {}).values())
                | set(spec.get("key_cols", []))
                | set(spec.get("compare_cols", []))
            )
            hit = sorted(set(cols) & referenced)
            if hit:
                raise ValueError(
                    f"{name!r}: {hit} referenced by materialized view "
                    f"{view!r} — drop or re-create the view first"
                )

    def rename_column(self, name: str, old: str, new: str) -> None:
        """METADATA-ONLY column rename (the Delta column-mapping /
        Iceberg rename analog): no generation or segment is rewritten,
        at any table size. Every read — current, time travel, CDC —
        presents the NEW name uniformly; segments written before the
        rename resolve through the epoch map. A rename alone is
        invisible to diff_generations (same values, same keys)."""
        schema = self.schemas[name]
        if old not in schema.fieldNames():
            raise ValueError(f"rename_column({name!r}): no column {old!r}")
        if new in schema.fieldNames():
            raise ValueError(
                f"rename_column({name!r}): {new!r} already exists"
            )
        with _commit_lock(self.root, name):
            self._guard_colmap_change(name, [old])
            # colmap event FIRST, schema second: a crash in between
            # leaves an event the old declared schema resolves through
            # harmlessly (epoch mapping finds no current field to
            # translate), whereas schema-first would read old segments
            # under the new name with NO mapping — silent null-fill
            self._colmap_append(
                name, [{"op": "rename", "from": old, "to": new}]
            )
            self.schemas[name] = T.StructType(
                [
                    T.StructField(
                        new if f.name == old else f.name, f.dataType, f.nullable
                    )
                    for f in schema.fields
                ]
            )
            # persist unconditionally: a fresh instance must see the
            # post-rename names even if its caller declared stale ones
            self._persist_schema(name)

    def drop_column(self, name: str, col: str) -> None:
        """METADATA-ONLY column drop: the declared schema shrinks; old
        segments' bytes for the column are simply never read again. A
        column added later under the SAME name is a NEW field — old
        segments null-fill it and can never leak the dropped bytes
        (the add event fences the epochs)."""
        schema = self.schemas[name]
        if col not in schema.fieldNames():
            raise ValueError(f"drop_column({name!r}): no column {col!r}")
        if len(schema.fields) == 1:
            raise ValueError(f"drop_column({name!r}): cannot drop last column")
        with _commit_lock(self.root, name):
            self._guard_colmap_change(name, [col])
            self._colmap_append(name, [{"op": "drop", "name": col}])
            self.schemas[name] = T.StructType(
                [f for f in schema.fields if f.name != col]
            )
            self._persist_schema(name)

    def _table_name(self, name: str, gen_dir: str) -> str:
        gen = os.path.basename(gen_dir).replace("gen-", "")
        return f"fdb_{self._ident}_{name}_{gen}"

    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _current(self, name: str) -> str | None:
        """Current generation, resolved through the root catalog
        pointer (the visibility commit point). Fallback to the newest
        on-disk generation covers tables that predate the pointer or
        whose generation landed without a swap (a crashed single-table
        commit — its orphan becomes visible only via this legacy path,
        and only when the catalog has never tracked the table)."""
        d = self._dir(name)
        ent = self._read_catalog()["tables"].get(name)
        if ent is not None and os.path.isdir(os.path.join(d, ent)):
            return os.path.join(d, ent)
        gens = (
            sorted(g for g in os.listdir(d) if g.startswith("gen-"))
            if os.path.isdir(d)
            else []
        )
        return os.path.join(d, gens[-1]) if gens else None

    def _doc(self, gen_dir: str) -> dict | None:
        """Parsed, normalized manifest if `gen_dir` is a manifest
        generation, else None (plain snapshot generation). Normal form:
        ``{"segments": [{"path": rel, "filter": sql?}],
           "deletes":  [{"path": rel, "keys": [col...],
                         "over": [segment-basename...]}]}``
        — v1 manifests (bare relpath strings, no deletes) normalize
        transparently."""
        mf = os.path.join(gen_dir, "_MANIFEST")
        if not os.path.exists(mf):
            return None
        with open(mf) as fh:
            raw = json.load(fh)
        segs = [
            {"path": e} if isinstance(e, str) else dict(e)
            for e in raw["segments"]
        ]
        return {"segments": segs, "deletes": list(raw.get("deletes", []))}

    def _manifest(self, gen_dir: str) -> list[str] | None:
        """ALL file paths (absolute) a manifest generation references —
        data segments AND deletion-vector files — else None. Bucketed
        MOR generations reference their deletion vectors through
        _BUCKETDV.json (their data files live inside the gen dir
        itself, protected by generation retention). This is the
        reference set vacuum() must protect."""
        doc = self._doc(gen_dir)
        if doc is None:
            meta = self._bucket_meta(gen_dir)
            if meta is not None:
                table_dir = os.path.dirname(gen_dir)
                return [
                    os.path.join(table_dir, e["path"]) for e in meta["dvs"]
                ]
            return None
        table_dir = os.path.dirname(gen_dir)
        return [
            os.path.join(table_dir, e["path"])
            for e in doc["segments"] + doc["deletes"]
        ]

    def _read_gen(
        self, name: str, gen_dir: str, keep: set[str] | None = None
    ) -> DataFrame:
        """Materialize a generation: per-segment scoped filters (the
        replace_where/delete_where predicate tombstones) apply inside
        each segment's scan; deletion vectors anti-join ONLY the
        segments they were committed over (file-scoped, like Delta
        DVs / Iceberg position deletes), so rows appended AFTER a
        delete are never swallowed by an older vector. `keep`
        restricts the scan to the named segment basenames — the hook
        data-skipping (read_point) prunes through; the scoped filters
        and vectors of the surviving segments still apply."""
        doc = self._doc(gen_dir)
        colmap = self._colmap(name)

        def _read_data(data_dir: str) -> DataFrame:
            if colmap is not None:
                return self._map_segment_df(name, data_dir, colmap)
            return self.spark.read.schema(self.schemas[name]).parquet(
                data_dir
            )

        if doc is None:
            # bucketed MOR generation read OUTSIDE the session catalog
            # (fresh session / time travel / CDC diff): plain path read
            # with the physical schema, deletion vectors still applied
            # — value-identical to the catalog read, just re-shuffles
            # on join
            if self._bucket_meta(gen_dir) is not None:
                phys = self.spark.read.schema(
                    self._bucket_phys_schema(name)
                ).parquet(gen_dir)
                return self._apply_bucket_dvs(name, gen_dir, phys)
            return _read_data(gen_dir)
        table_dir = os.path.dirname(gen_dir)
        dvs = [
            {
                # explicit key schema: vectors only ever hold the
                # table's key columns, so the scan needs no footer
                # round-trip for schema inference
                "df": self.spark.read.schema(
                    T.StructType(
                        [self.schemas[name][k] for k in d["keys"]]
                    )
                )
                .parquet(os.path.join(table_dir, d["path"]))
                .select(*d["keys"]),
                "keys": d["keys"],
                "over": set(d["over"]),
            }
            for d in doc["deletes"]
        ]
        parts: list[DataFrame] = []
        for e in doc["segments"]:
            if keep is not None and _seg_id(e) not in keep:
                continue
            # column mapping resolves to CURRENT logical names BEFORE
            # scoped filters and deletion vectors apply (their
            # references are kept current by the zero-debt rename gate)
            df = _read_data(os.path.join(table_dir, e["path"]))
            if e.get("filter"):
                df = df.where(F.expr(e["filter"]))
            seg_id = os.path.basename(e["path"].rstrip("/"))
            for dv in dvs:
                if seg_id in dv["over"]:
                    # NULL-SAFE anti-join: a NULL key names a real row
                    # group (merge() deletes rows whose key is NULL —
                    # e.g. the orphan-file rollup group); a plain
                    # USING-join would let those escape the vector
                    cond = None
                    for k in dv["keys"]:
                        eq = df[k].eqNullSafe(dv["df"][k])
                        cond = eq if cond is None else cond & eq
                    df = df.join(dv["df"], cond, "left_anti")
            parts.append(df)
        if not parts:
            return local_df(self.spark, [], self.schemas[name])
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def snapshot(self) -> "Snapshot":
        """A consistent multi-table read view pinned at the current
        catalog version: every `snap.read()` resolves through the SAME
        pointer map, so a report joining N tables sees exactly one
        commit point even while writers keep advancing the catalog —
        the reader half of commit_multi's all-old-or-all-new contract
        (BEGIN ... in snapshot isolation, the Iceberg
        snapshot-id-pinned scan analog). Retention contract: vacuum
        must not reclaim generations a live snapshot still pins —
        the same rule CDC cursors already impose; a reclaimed pin
        raises rather than serving a partial table."""
        return Snapshot(self)

    def read(self, name: str) -> DataFrame:
        """Current generation of the table; empty (declared schema) if
        the table has never been written. Bucketed tables read through
        the session catalog (bucket metadata lives there — that's what
        lets the planner skip the Exchange); a session that didn't
        write the generation falls back to the plain path read, which
        is value-identical but re-shuffles on join."""
        cur = self._current(name)
        if cur is None:
            return local_df(self.spark, [], self.schemas[name])
        if self.bucketing and name in BUCKET_SPECS:
            tbl = self._table_name(name, cur)
            try:
                if self.spark.catalog.tableExists(tbl):
                    return self._apply_bucket_dvs(
                        name, cur, self.spark.table(tbl)
                    )
            except Exception:
                pass
        return self._read_gen(name, cur)

    def replace(self, name: str, df: DataFrame) -> None:
        """Write a new generation; superseded generations stay on disk
        until vacuum(). Lazy DataFrames handed out before the swap (a
        merge result executed later, a listing() a caller still holds)
        keep reading their snapshot — the single-box analog of snapshot
        isolation; Delta/Iceberg time travel + VACUUM play this role on
        a cluster. Generations are a few KB of parquet here; vacuum()
        is the explicit retention knob."""
        with _commit_lock(self.root, name):
            if self.bucketing and name in BUCKET_SPECS:
                n, keys = self._bucket_spec(name)
                gen = self._write_bucketed_gen(name, df, n, keys)
            else:
                d = self._dir(name)
                os.makedirs(d, exist_ok=True)
                gen = os.path.join(d, f"gen-{time.time_ns()}")
                cols = [f.name for f in self.schemas[name].fields]
                out = df.select(*cols)
                if name in SORT_KEYS:
                    out = out.sortWithinPartitions(*SORT_KEYS[name])
                out.write.mode("overwrite").parquet(gen)
                self._stamp_epoch(name, gen)
            self._catalog_swap({name: os.path.basename(gen)})

    def _write_bucketed_gen(
        self, name: str, df: DataFrame, n: int, keys: list[str]
    ) -> str:
        """Write a full clean bucketed generation (data + _NBUCKETS
        stamp + session-catalog registration + per-file stats) WITHOUT
        swapping the catalog pointer — the staging half of replace()
        and of the lock-free rebucket() rewrite. The generation is
        invisible to every pointer-resolved reader until a caller
        swaps it in."""
        d = self._dir(name)
        os.makedirs(d, exist_ok=True)
        gen = os.path.join(d, f"gen-{time.time_ns()}")
        cols = [f.name for f in self.schemas[name].fields]
        writer = (
            df.select(*cols)
            .withColumn(
                self._COMMIT_COL,
                F.lit(int(os.path.basename(gen)[len("gen-"):])),
            )
            .write.mode("overwrite")
            .format("parquet")
            .option("path", gen)
        )
        # see _merge_bucketed_commit: row-group bloom filters on the
        # sidecar columns for pushed-predicate pruning inside wide files
        for c in self._file_stat_cols(name):
            writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
        writer.bucketBy(n, *keys).sortBy(*keys).saveAsTable(
            self._table_name(name, gen)
        )
        self._stamp_nbuckets(gen, n)
        fcols = self._file_stat_cols(name)
        if fcols:
            # per-file skipping stats for the clean snapshot (one
            # extra pass inside an already-O(table) rewrite) — without
            # them every post-compact wave would scan the whole
            # rewritten base again
            self._write_filestats(gen, self._per_file_stats(name, gen, fcols))
        return gen

    def vacuum(self, retain: int = 1, respect_consumers: bool = False) -> None:
        """Drop all but the newest `retain` generations of every table,
        plus any segment directory no retained manifest references.
        A retained MANIFEST generation may reference an older plain
        generation as its base — those stay until every manifest
        referencing them is vacuumed. CROSS-TABLE aware: a shallow
        clone()'s manifest references the source table's segments, so
        references are collected over ALL tables first — vacuuming the
        source never reclaims data a retained clone still reads. The
        scan covers every table ON DISK under root (not just this
        instance's schema dict), so clones/quarantines created by a
        previous or concurrent instance are protected too. Call
        only when no lazy plans over older snapshots are alive.

        `respect_consumers=True` additionally retains every generation
        a registered CDC cursor still pins (`_CURSOR-*` files — MV
        consumers included), so retention need not be hand-sized to
        the slowest consumer's lag: the lagging pull stays serviceable
        and the space is reclaimed by the next vacuum after the cursor
        advances. Default False preserves the strict contract the g25
        retention tests pin (a vacuumed cursor RAISES with a re-seed
        instruction — the operator chose retention over laggards).

        Holds EVERY table's commit lock (sorted order — same global
        order all writers use, catalog last) for the whole pass: the
        sweep deletes unreferenced stage-/dv- dirs, and an in-flight
        cross-process MERGE's not-yet-published commit state would
        otherwise be reclaimed from under it."""
        locks = [
            _commit_lock(self.root, n) for n in sorted(self._disk_tables())
        ]
        for lk in locks:
            lk.acquire()
        try:
            return self._vacuum_locked(retain, respect_consumers)
        finally:
            for lk in reversed(locks):
                lk.release()

    def _vacuum_locked(self, retain: int, respect_consumers: bool) -> None:
        keep_by_table: dict[str, set[str]] = {}
        referenced: set[str] = set()
        cat_tables = self._read_catalog()["tables"]
        for name in self._disk_tables():
            d = self._dir(name)
            if not os.path.isdir(d):
                continue
            gens = sorted(g for g in os.listdir(d) if g.startswith("gen-"))
            keep_by_table[name] = set(gens[max(0, len(gens) - retain):])
            # the catalog-pointed generation is ALWAYS retained — it is
            # what read() resolves, even when a crashed commit left
            # newer orphan gen dirs above it in the listing
            if name in cat_tables:
                keep_by_table[name].add(cat_tables[name])
            if respect_consumers:
                for entry in os.listdir(d):
                    if not entry.startswith("_CURSOR-"):
                        continue
                    try:
                        with open(os.path.join(d, entry)) as fh:
                            pinned = fh.read().strip()
                    except OSError:
                        continue
                    if pinned:
                        keep_by_table[name].add(pinned)
            for g in keep_by_table[name]:
                segs = self._manifest(os.path.join(d, g))
                for s in segs or []:
                    referenced.add(os.path.normpath(os.path.abspath(s)))
        for name, keep in keep_by_table.items():
            d = self._dir(name)
            for entry in sorted(os.listdir(d)):
                if entry in keep:
                    continue
                # stage-: a crashed bucketed-merge's staging dir (its
                # committed files were hardlinked into the generation,
                # so removing the orphan never loses data)
                if not entry.startswith(("gen-", "seg-", "dv-", "stage-")):
                    continue
                gen_dir = os.path.join(d, entry)
                if os.path.normpath(os.path.abspath(gen_dir)) in referenced:
                    continue
                if name in BUCKET_SPECS and entry.startswith("gen-"):
                    try:
                        self.spark.sql(
                            f"DROP TABLE IF EXISTS {self._table_name(name, gen_dir)}"
                        )
                    except Exception:
                        pass
                shutil.rmtree(gen_dir, ignore_errors=True)

    def append(
        self,
        name: str,
        df: DataFrame,
        zone_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        rows_hint: int | None = None,
    ) -> None:
        """Append rows (archive/removal-queue semantics): O(delta), not
        O(table) — the new rows are written once as an immutable
        segment (`seg-<ns>/`), and the next generation is a tiny
        `_MANIFEST` listing the prior generation's segments plus the
        new one. Readers of older generations keep their snapshot
        (segments are never rewritten), so this is exactly the
        Delta/Iceberg APPEND-commit shape: data files + a log entry.
        Under continuous crawl the archives accrue many small
        segments; `compact()` folds them back into one snapshot
        (the OPTIMIZE analog) on the engine's idle path. Appends to a
        bucketed table would break the bucket layout and are refused —
        bucketed entity tables go through replace()/MERGE.

        `zone_cols` / `bloom_cols` record per-segment data-skipping
        statistics in the manifest entry (zone maps = min/max; bloom
        digests = packed bitmaps over the column's value hashes — the
        Delta file-stats / Iceberg metrics + Parquet-bloom analog at
        the manifest level, where pruning needs no file open at all).
        Stats cost one extra O(delta) aggregate over the segment just
        written — read back from disk so they describe exactly the
        bytes a future scan sees."""
        if self.bucketing and name in BUCKET_SPECS:
            raise ValueError(f"append() on bucketed table {name!r}; use replace()")
        with _commit_lock(self.root, name):
            seg = self._write_segment(name, df, "seg", rows_hint=rows_hint)
            entry: dict = {"path": seg}
            if zone_cols or bloom_cols:
                written = self.spark.read.schema(self.schemas[name]).parquet(
                    os.path.join(self._dir(name), seg)
                )
                entry["stats"] = self._segment_stats(
                    written, zone_cols or [], bloom_cols or []
                )
            base = self._base_doc(name)
            self._commit_manifest(
                name,
                {
                    "segments": base["segments"] + [entry],
                    "deletes": base["deletes"],
                },
            )

    #: bloom shape: k fixed at 4 probes; m = next power of two >= 32
    #: bits per distinct value (false-positive rate ~2e-4 per segment)
    _BLOOM_K = 4
    _BLOOM_BITS_PER_KEY = 32
    #: segments with more distinct keys than this record NO bloom
    #: digest (zone-map-only): beyond it the base64 digest outgrows a
    #: manifest entry's budget (~44 KB at the cap) and pruning should
    #: come from value clustering instead. The cap also bounds the
    #: driver-side bitmap assembly — nothing here is O(segment rows)
    #: on the driver.
    _BLOOM_MAX_KEYS = 8192

    def _segment_stats(
        self, df: DataFrame, zone_cols: list[str], bloom_cols: list[str]
    ) -> dict:
        """Per-segment skipping statistics: zone maps (min/max/null
        count) for `zone_cols` and bloom digests for `bloom_cols`,
        computed in one aggregate pass plus (per bloom column) one
        DISTRIBUTIVE bit-position aggregation: each row's xxhash64
        expands to its k double-hashed positions (h1 + i*h2 mod m)
        JVM-side, and only the distinct positions — at most m, capped
        — reach the driver. A high-cardinality append can never OOM
        the driver the way collecting every distinct hash could;
        above _BLOOM_MAX_KEYS distinct keys the digest is skipped
        entirely (zone-map-only stats)."""
        aggs: list = []
        for c in zone_cols:
            aggs += [
                F.min(c).alias(f"zmin__{c}"),
                F.max(c).alias(f"zmax__{c}"),
                (F.count(F.lit(1)) - F.count(c)).alias(f"znull__{c}"),
            ]
        for c in bloom_cols:
            aggs.append(F.count_distinct(F.xxhash64(c)).alias(f"bn__{c}"))
        row = df.agg(*aggs).first()
        stats: dict = {}
        import datetime as _dt

        for c in zone_cols:
            mn, mx = row[f"zmin__{c}"], row[f"zmax__{c}"]
            is_ts = isinstance(mn, (_dt.datetime, _dt.date)) or isinstance(
                mx, (_dt.datetime, _dt.date)
            )
            if is_ts:
                # timestamps/dates persist as ISO strings (a tagged
                # representation whose lexicographic order matches
                # chronological order), so next_crawl-style schedule
                # columns can drive manifest pruning too
                mn, mx = _stats_probe(mn), _stats_probe(mx)
            for v in (mn, mx):
                if v is not None and not isinstance(v, (int, float, str)):
                    raise TypeError(
                        f"zone stats on {c!r}: unsupported type {type(v).__name__}"
                    )
            stats[c] = {
                "min": mn,
                "max": mx,
                "nulls": int(row[f"znull__{c}"]),
            }
            if is_ts:
                stats[c]["t"] = "ts"
        for c in bloom_cols:
            n_keys = int(row[f"bn__{c}"])
            if n_keys > self._BLOOM_MAX_KEYS:
                continue  # zone-map-only; digest would blow the budget
            nbits = max(64, n_keys * self._BLOOM_BITS_PER_KEY)
            m = 1 << (nbits - 1).bit_length()
            k = self._BLOOM_K
            # JVM-side replica of _bloom_positions: h1 = low 32 bits,
            # h2 = high 32 bits forced odd (parity pinned in pytest)
            pos_expr = (
                f"transform(sequence(0, {k - 1}), i -> "
                f"pmod((xxhash64({c}) & 4294967295) + "
                f"i * (shiftrightunsigned(xxhash64({c}), 32) | 1), {m}))"
            )
            positions = (
                df.select(F.explode(F.expr(pos_expr)).alias("p"))
                .agg(F.collect_set("p"))
                .first()[0]
            )
            bmp = bytearray(m // 8)
            for p in positions:
                bmp[p >> 3] |= 1 << (p & 7)
            stats.setdefault(c, {})["bloom"] = {
                "m": m,
                "k": k,
                "bits": base64.b64encode(bytes(bmp)).decode(),
            }
        return stats

    def _probe_hash(self, value, coltype: T.DataType) -> int:
        """xxhash64 of the probe literal exactly as the stats pass
        hashed the column. Integral/string/double/float/boolean types
        hash ON THE DRIVER (portable_xxhash64 — zero Spark jobs, the
        point of an index-grade lookup); anything else pays one
        memoized 1-row job per distinct (type, value)."""
        h = portable_xxhash64(value, coltype)
        if h is not None:
            return h
        key = (coltype.simpleString(), value)
        if key not in self._probe_hash_memo:
            self._probe_hash_memo[key] = (
                self.spark.range(1)
                .select(F.xxhash64(F.lit(value).cast(coltype)))
                .first()[0]
            )
        return self._probe_hash_memo[key]

    def read_point(
        self, name: str, col: str, value
    ) -> tuple[DataFrame, dict[str, int]]:
        """Point lookup with manifest-level data skipping: consult each
        segment's recorded zone map and bloom digest for `col` and
        scan ONLY the segments that might contain `value` — segments
        are pruned from pure metadata, no data file is opened (the
        Delta data-skipping / Iceberg metrics-pruning read path).
        Scoped filters and deletion vectors of surviving segments
        still apply, so a skipped read returns exactly what a full
        scan + filter would. Returns (rows, report) where report
        counts {total, zone_skipped, bloom_skipped, scanned} — the
        observability a 100 TB point lookup is judged by: a lookup
        that scans 1 of 10,000 daily segments is index-grade without
        any index structure, just honest manifest stats."""
        cur = self._current(name)
        if cur is None:
            return (
                local_df(self.spark, [], self.schemas[name]),
                {"total": 0, "zone_skipped": 0, "bloom_skipped": 0, "scanned": 0},
            )
        doc = self._doc(cur)
        pred = F.col(col).eqNullSafe(F.lit(value))
        if doc is None:
            return self._read_gen(name, cur).where(pred), {
                "total": 1,
                "zone_skipped": 0,
                "bloom_skipped": 0,
                "scanned": 1,
            }
        coltype = self.schemas[name][col].dataType
        probe_hash: int | None = None
        report = {
            "total": len(doc["segments"]),
            "zone_skipped": 0,
            "bloom_skipped": 0,
            "scanned": 0,
        }
        keep: set[str] = set()
        for e in doc["segments"]:
            st = (e.get("stats") or {}).get(col)
            if st is not None and value is not None:
                zmin, zmax = st.get("min"), st.get("max")
                probe = _stats_probe(value) if st.get("t") == "ts" else value
                if (
                    zmin is not None
                    and _zone_comparable(probe, zmin)
                    and (probe < zmin or probe > zmax)
                ):
                    report["zone_skipped"] += 1
                    continue
                bloom = st.get("bloom")
                if bloom is not None:
                    if probe_hash is None:
                        probe_hash = self._probe_hash(value, coltype)
                    bmp = base64.b64decode(bloom["bits"])
                    if not all(
                        bmp[p >> 3] & (1 << (p & 7))
                        for p in _bloom_positions(
                            probe_hash, bloom["m"], bloom["k"]
                        )
                    ):
                        report["bloom_skipped"] += 1
                        continue
            keep.add(_seg_id(e))
            report["scanned"] += 1
        return self._read_gen(name, cur, keep=keep).where(pred), report

    @staticmethod
    def _prefix_upper(prefix: str) -> str | None:
        """Smallest string greater than every string with this prefix
        (last char incremented, max-codepoint tail dropped); None when
        no upper bound exists. Python code-point order == Spark's
        UTF8 binary order (UTF-8 preserves code-point order), so the
        bound composes with Spark-written zone maps."""
        p = prefix
        while p:
            c = ord(p[-1])
            if c < 0x10FFFF:
                return p[:-1] + chr(c + 1)
            p = p[:-1]
        return None

    def read_prefix(
        self, name: str, col: str, prefix: str
    ) -> tuple[DataFrame, dict[str, int]]:
        """Subtree/prefix scan with manifest-level data skipping (P5 at
        catalog scale): rows where `col` STARTS WITH `prefix`, scanning
        only the segments whose [min, max] zone range on `col` can
        intersect [prefix, prefix⁺) — pure metadata, no data file
        opened for the rest. Because segments are sorted on the path
        column at write (SORT_KEYS) and crawl waves have subtree
        locality, a subtree query over a continuously-crawled catalog
        opens O(matching segments), not O(history) — the engine-store
        analog of g11's z-order range clustering, and the reference's
        `dir_path` B-tree range scan (FileDbDAL/Directory.py). Scoped
        filters and deletion vectors of surviving segments still
        apply. Returns (rows, report) like read_point."""
        cur = self._current(name)
        pred = F.col(col).startswith(prefix)
        if cur is None:
            return (
                local_df(self.spark, [], self.schemas[name]),
                {"total": 0, "zone_skipped": 0, "scanned": 0},
            )
        doc = self._doc(cur)
        if doc is None:
            return self._read_gen(name, cur).where(pred), {
                "total": 1,
                "zone_skipped": 0,
                "scanned": 1,
            }
        upper = self._prefix_upper(prefix)
        report = {
            "total": len(doc["segments"]),
            "zone_skipped": 0,
            "scanned": 0,
        }
        keep: set[str] = set()
        for e in doc["segments"]:
            st = (e.get("stats") or {}).get(col)
            if st is not None:
                zmin, zmax = st.get("min"), st.get("max")
                # the segment's value range can only miss [prefix,
                # upper) when stats are present; all-NULL segments
                # (zmin None) can never satisfy startswith
                if zmin is None:
                    if int(st.get("nulls", 0)) > 0 and zmax is None:
                        report["zone_skipped"] += 1
                        continue
                elif zmax < prefix or (upper is not None and zmin >= upper):
                    report["zone_skipped"] += 1
                    continue
            keep.add(_seg_id(e))
            report["scanned"] += 1
        return self._read_gen(name, cur, keep=keep).where(pred), report

    # -- zone-hull pruning (shared by read_pruned / merge / apply_changes) ----

    @staticmethod
    def _zone_overlaps(st: dict, lo, hi, want_nulls: bool = False) -> bool:
        """Can a segment with zone stats `st` contain a row whose value
        lies in the CLOSED interval [lo, hi] (None = unbounded), or —
        when `want_nulls` — a NULL? Errs on the side of True (scan)
        whenever the recorded bounds and the probe aren't cleanly
        comparable, so pruning is always sound."""
        if want_nulls and int(st.get("nulls", 0)) > 0:
            return True
        zmin, zmax = st.get("min"), st.get("max")
        if zmin is None and zmax is None:
            # all-NULL (or empty) segment: no non-null value to match
            return False
        lo = _stats_probe(lo) if lo is not None else None
        hi = _stats_probe(hi) if hi is not None else None
        if lo is not None:
            if not _zone_comparable(lo, zmax):
                return True
            if zmax < lo:
                return False
        if hi is not None:
            if not _zone_comparable(hi, zmin):
                return True
            if zmin > hi:
                return False
        return True

    def _source_hull(self, source: DataFrame, on: list[str]) -> dict:
        """min/max/has-null per key column of a merge source — ONE
        small aggregate over the wave (O(source), the only job target
        pruning costs)."""
        aggs: list = []
        for k in on:
            aggs += [
                F.min(k).alias(f"mn__{k}"),
                F.max(k).alias(f"mx__{k}"),
                (F.count(F.lit(1)) - F.count(k)).alias(f"nl__{k}"),
            ]
        row = source.agg(*aggs).first()
        return {
            k: (row[f"mn__{k}"], row[f"mx__{k}"], int(row[f"nl__{k}"]) > 0)
            for k in on
        }

    @classmethod
    def _hull_touches(cls, entry: dict, on: list[str], hull: dict) -> bool:
        """Can this manifest segment contain a row whose key tuple
        equals SOME source key? False only when a recorded zone range
        is provably disjoint from the source hull on at least one key
        column (an equi-match needs EVERY column to agree, so one
        disjoint column kills the whole segment)."""
        stats = entry.get("stats") or {}
        for k in on:
            st = stats.get(k)
            if st is None:
                continue  # no recorded range -> can't prune on k
            mn, mx, has_null = hull[k]
            if mn is None and mx is None:
                # source carries no non-null value for k: only
                # null-keyed target rows can match
                if has_null and int(st.get("nulls", 0)) > 0:
                    continue
                return False
            if cls._zone_overlaps(st, mn, mx, want_nulls=has_null):
                continue
            return False
        return True

    #: a merge wave with at most this many distinct keys also probes
    #: each candidate segment's BLOOM digest (point-wave merges against
    #: interleaved key ranges prune where min/max can't); past the cap
    #: the hull decision stands alone — no unbounded driver collect
    _MERGE_BLOOM_PROBE_KEYS = 64

    def _bloom_prune_targets(
        self,
        name: str,
        source: DataFrame,
        on: list[str],
        touched: list[dict],
    ) -> tuple[list[dict], int]:
        """Second-stage MERGE target pruning for SMALL waves: when the
        source key set is tiny, probe each hull-surviving segment's
        bloom digests with every source key tuple — a segment whose
        digests reject ALL of them provably holds no match and drops
        from both the classification join and the DV scope. Zone
        ranges prune by VALUE ORDER; blooms prune by MEMBERSHIP, which
        is what a scattered point-wave needs (read_point's logic,
        vectorized over the wave). COMPOSITE keys probe per-column
        digests with AND semantics: an equi-match needs every column
        to agree, so a tuple survives a segment only if each recorded
        digest admits its column's value (a NULL component or a column
        without a digest can't refute — it passes). Costs one bounded
        collect, attempted only when some candidate actually recorded
        a digest on some key column. Returns (kept_segments,
        n_bloom_pruned)."""
        if not touched:
            return touched, 0
        if not any(
            ((e.get("stats") or {}).get(k) or {}).get("bloom")
            for e in touched
            for k in on
        ):
            return touched, 0
        cap = self._MERGE_BLOOM_PROBE_KEYS
        rows = source.select(*on).distinct().limit(cap + 1).collect()
        if not rows or len(rows) > cap:
            return touched, 0
        hmemo: dict[tuple, int] = {}

        def _h(col: str, v) -> int:
            key = (col, v)
            if key not in hmemo:
                hmemo[key] = self._probe_hash(
                    v, self.schemas[name][col].dataType
                )
            return hmemo[key]

        kept: list[dict] = []
        pruned = 0
        for e in touched:
            stats = e.get("stats") or {}
            blooms: dict[str, tuple[bytes, int, int]] = {}
            for k in on:
                b = (stats.get(k) or {}).get("bloom")
                if b:
                    blooms[k] = (base64.b64decode(b["bits"]), b["m"], b["k"])
            if not blooms:
                kept.append(e)
                continue
            hit = False
            for r in rows:
                admits = True
                for k, (bmp, m, kk) in blooms.items():
                    v = r[k]
                    if v is None:
                        continue  # digests don't cover NULLs: pass
                    if not all(
                        bmp[p >> 3] & (1 << (p & 7))
                        for p in _bloom_positions(_h(k, v), m, kk)
                    ):
                        admits = False
                        break
                if admits:
                    hit = True
                    break
            if not hit:
                pruned += 1
                continue
            kept.append(e)
        return kept, pruned

    def read_pruned(
        self,
        name: str,
        col: str,
        intervals: list[tuple],
        include_nulls: bool = False,
    ) -> tuple[DataFrame, dict[str, int]]:
        """Zone-pruned SUPERSET read: skip every segment that provably
        contains NO row whose `col` falls inside any closed [lo, hi]
        interval (a None bound is unbounded; `include_nulls` keeps
        segments holding NULLs). NO row filter is applied — callers
        compose their own predicates on top, so the result is a
        superset of the matching rows at a fraction of the scan. This
        is the primitive behind the engine's due-claim scan
        (next_crawl <= now reads only segments whose schedule range
        reaches the past) and the crawl wave's frontier-subtree read;
        read_prefix is the single-interval string specialization with
        an exact row filter. Returns (df, {total, zone_skipped,
        scanned})."""
        cur = self._current(name)
        if cur is None:
            return (
                local_df(self.spark, [], self.schemas[name]),
                {"total": 0, "zone_skipped": 0, "scanned": 0},
            )
        doc = self._doc(cur)
        if doc is None:
            return self._read_gen(name, cur), {
                "total": 1,
                "zone_skipped": 0,
                "scanned": 1,
            }
        report = {
            "total": len(doc["segments"]),
            "zone_skipped": 0,
            "scanned": 0,
        }
        keep: set[str] = set()
        for e in doc["segments"]:
            st = (e.get("stats") or {}).get(col)
            if st is not None and not any(
                self._zone_overlaps(st, lo, hi, want_nulls=include_nulls)
                for (lo, hi) in intervals
            ):
                report["zone_skipped"] += 1
                continue
            keep.add(_seg_id(e))
            report["scanned"] += 1
        return self._read_gen(name, cur, keep=keep), report

    def write_with_expectations(
        self, name: str, df: DataFrame, expectations: dict[str, str]
    ) -> dict[str, int]:
        """Gated write (DLT expectations analog): rows meeting every
        expectation replace the table; violating rows are APPENDED to
        `<name>__quarantine` (same schema + `violated`) so failures
        accumulate across waves for triage instead of vanishing.
        Returns per-expectation failure counts plus `_accepted` /
        `_quarantined` totals — the numbers a pipeline health
        dashboard alerts on. The split is one codegen projection
        (see apply_expectations); metrics come from one aggregate
        over the quarantined side, not a per-expectation rescan."""
        accepted, quarantined = apply_expectations(df, expectations)
        qname = f"{name}__quarantine"
        if qname not in self.schemas:
            self.schemas[qname] = T.StructType(
                list(self.schemas[name].fields)
                + [T.StructField("violated", T.StringType(), True)]
            )
            self._persist_schema(qname)
        quarantined = quarantined.localCheckpoint(eager=True)
        self.replace(name, accepted)
        self.append(qname, quarantined)
        agg = [F.count("*").alias("_quarantined")] + [
            F.sum(
                F.array_contains(F.split("violated", ","), nm).cast("bigint")
            ).alias(nm)
            for nm in sorted(expectations)
        ]
        row = quarantined.agg(*agg).collect()[0].asDict()
        frames.release(quarantined)
        metrics = {nm: int(row[nm] or 0) for nm in sorted(expectations)}
        metrics["_quarantined"] = int(row["_quarantined"] or 0)
        metrics["_accepted"] = self.read(name).count()
        return metrics

    def replace_if(
        self, name: str, df: DataFrame, expected_gen: str | None
    ) -> str:
        """Optimistic-concurrency commit (the Delta/Iceberg
        log-append-with-version-check analog): replace the table ONLY
        if its current generation is still `expected_gen` (None = the
        table must not exist yet). A writer whose base snapshot was
        superseded gets CommitConflict and must REBASE — re-read the
        new current, re-apply its logical change, retry — which is
        exactly what prevents the lost update a blind replace()
        commits. Returns the new current generation dir.

        Single-box approximation: the per-(root, table) commit lock —
        a thread RLock PLUS an exclusive flock on the table's lock
        file — serializes the check+replace across threads AND OS
        processes sharing the root, so no two racers can both pass the
        _current() check: exactly one wins, the other gets
        CommitConflict (a real lakehouse serializes this via the
        atomic log append; flock is the single-box analog).
        Generation swaps remain atomic (write-new-then-rename), so
        readers never see a torn table either way."""
        with _commit_lock(self.root, name):
            cur = self._current(name)
            if cur != expected_gen:
                raise CommitConflict(
                    f"{name}: expected generation "
                    f"{expected_gen and os.path.basename(expected_gen)}, "
                    f"found {cur and os.path.basename(cur)} — rebase and retry"
                )
            self.replace(name, df)
            new = self._current(name)
            assert new is not None
            return new

    def analyze(
        self, name: str, skew_cols: tuple | list = (), top_k: int = 5
    ) -> dict:
        """ANALYZE the table and persist planner statistics as
        `_STATS-<name>.json` next to its generations: row count, an
        estimated serialized width (type widths + measured average
        string lengths), total size estimate, and — for each
        `skew_cols` entry — the a7-style hot-key profile (top-k values
        + the hottest key's share). Consulting the stats later is a
        METADATA read (planner.py makes no Spark job to decide a join
        strategy); computing them is one aggregate pass plus one
        group-count per skew column, the standard ANALYZE cost a
        cluster pays on its maintenance edge. Stats are stamped with
        the analyzed generation; like any CBO the planner tolerates
        mild staleness — re-analyze on the same cadence as compact()."""
        df = self.read(name)
        schema = self.schemas[name]
        str_cols = [
            f.name for f in schema.fields if isinstance(f.dataType, T.StringType)
        ]
        aggs = [F.count(F.lit(1)).alias("__n")] + [
            F.avg(F.length(c)).alias(f"len__{c}") for c in str_cols
        ]
        row = df.agg(*aggs).first()
        n = int(row["__n"])
        width = 0
        for f in schema.fields:
            dt = f.dataType
            if isinstance(dt, T.StringType):
                width += int(row[f"len__{f.name}"] or 0) + 20
            elif isinstance(dt, (T.ByteType, T.BooleanType)):
                width += 1
            elif isinstance(dt, (T.IntegerType, T.ShortType, T.FloatType)):
                width += 4
            elif isinstance(dt, T.DecimalType):
                width += 16
            else:  # long/double/timestamp/date and conservative default
                width += 8
        skew: dict = {}
        for c in skew_cols:
            top = (
                df.groupBy(c)
                .agg(F.count(F.lit(1)).alias("__c"))
                .orderBy(F.desc("__c"))
                .limit(top_k)
                .collect()
            )
            skew[c] = {
                "top": [
                    {
                        "value": None if r[c] is None else str(r[c]),
                        "count": int(r["__c"]),
                    }
                    for r in top
                ],
                "max_share": (int(top[0]["__c"]) / n) if top and n else 0.0,
            }
        cur = self._current(name)
        doc = {
            "n_rows": n,
            "row_bytes": width,
            "bytes_est": n * width,
            "skew": skew,
            "generation": os.path.basename(cur) if cur else None,
        }
        d = self._dir(name)
        os.makedirs(d, exist_ok=True)
        self._publish_bytes(
            os.path.join(d, f"_STATS-{name}.json"), json.dumps(doc)
        )
        return doc

    def table_stats(self, name: str) -> dict | None:
        """Persisted ANALYZE stats for the table, or None if never
        analyzed. O(1) metadata — safe to call per planning decision."""
        return _read_json(os.path.join(self._dir(name), f"_STATS-{name}.json"))

    def txn_version(self, app_id: str) -> int:
        """Last micro-batch id committed under `app_id` (-1 if none) —
        the Delta `txnAppId`/`txnVersion` idempotent-foreachBatch
        analog. foreachBatch is at-least-once: a crashed-and-replayed
        micro-batch re-enters the sink, and a non-idempotent apply
        (an additive merge, a quarantine append) would double its
        effect. Sinks guard with `if batch_id <= store.txn_version(app):
        return`, then set_txn_version(app, batch_id) after applying."""
        p = os.path.join(self.root, f"_txn-{app_id}")
        try:
            with open(p) as fh:
                return int(fh.read())
        except (FileNotFoundError, ValueError):
            return -1

    def set_txn_version(self, app_id: str, version: int) -> None:
        """Record `version` as applied for `app_id` (atomic replace).
        Written AFTER the batch's table writes: a crash in between
        replays the batch, which is the at-least-once contract — the
        marker narrows duplication to that crash window instead of
        every routine replay."""
        self._publish_bytes(
            os.path.join(self.root, f"_txn-{app_id}"), str(int(version))
        )

    def clone(self, name: str, target: str) -> None:
        """Zero-copy shallow CLONE (the Delta `CREATE TABLE ... SHALLOW
        CLONE` / Iceberg snapshot-branch analog): the target's first
        generation is ONE manifest whose segment list points at the
        source's current data — no data file is read or copied, O(1)
        metadata at ANY table size. Segments are immutable, so
        subsequent replace()/append() on either table diverge
        independently; vacuum() collects references across all tables,
        so source retention never reclaims data a live clone reads.
        At 100 TB this is how you fork a table for an experiment or
        pin a training-data snapshot without paying for a copy."""
        self.schemas.setdefault(target, self.schemas[name])
        self._persist_schema(target)
        src_dir = self._dir(name)
        tdir = self._dir(target)
        with _commit_lock(self.root, target):
            return self._clone_locked(name, src_dir, tdir, target)

    def _clone_locked(
        self, name: str, src_dir: str, tdir: str, target: str
    ) -> None:
        # the clone shares the source's segments, so it must share the
        # epoch map that decodes them; its own renames diverge from here
        if self._colmap(name) is not None:
            os.makedirs(tdir, exist_ok=True)
            shutil.copyfile(
                self._colmap_path(name), self._colmap_path(target)
            )
        base = self._base_doc(name)

        def rerel(rel: str) -> str:
            return os.path.relpath(os.path.join(src_dir, rel), tdir)

        # scoped filters and DV "over" lists (segment basenames, which
        # re-relativizing never changes) carry over verbatim
        self._commit_manifest(
            target,
            {
                "segments": [
                    {**e, "path": rerel(e["path"])} for e in base["segments"]
                ],
                "deletes": [
                    {**dv, "path": rerel(dv["path"])} for dv in base["deletes"]
                ],
            },
        )

    def merge_scd2(
        self,
        name: str,
        incoming: DataFrame,
        key_cols: list[str],
        compare_cols: list[str],
        version: int,
    ) -> None:
        """SCD type-2 dimension maintenance (the MERGE-INTO-with-
        history analog), write-side O(delta): diff the incoming wave
        against the current snapshot (scd2_snapshot over the log),
        then APPEND only the changes — new/changed keys as 'U' rows
        stamped `valid_from=version`, vanished keys as 'D' tombstones.
        Unchanged keys write NOTHING; no existing row is ever
        rewritten (validity intervals are derived at read time by
        scd2_history). At 100 TB this is the only sustainable SCD2
        write path: per-wave cost scales with the change rate, never
        with dimension size, and the append is one immutable segment
        plus a manifest entry."""
        with _commit_lock(self.root, name):
            return self._merge_scd2_locked(
                name, incoming, key_cols, compare_cols, version
            )

    def _merge_scd2_locked(
        self,
        name: str,
        incoming: DataFrame,
        key_cols: list[str],
        compare_cols: list[str],
        version: int,
    ) -> None:
        log_cols = [f.name for f in self.schemas[name].fields]
        cur = scd2_snapshot(self.read(name), key_cols)
        diff = diff_generations(cur, incoming, key_cols, compare_cols)
        changed_keys = diff.where(F.col("op").isin("I", "U")).select(*key_cols)
        ver = F.lit(version).cast("bigint")
        upserts = (
            incoming.join(changed_keys, key_cols, "left_semi")
            .withColumn("valid_from", ver)
            .withColumn("op", F.lit("U"))
        )
        deletes = diff.where(F.col("op") == "D").select(
            *key_cols,
            *[
                F.lit(None).cast(self.schemas[name][c].dataType).alias(c)
                for c in log_cols
                if c not in key_cols and c not in ("valid_from", "op")
            ],
            ver.alias("valid_from"),
            F.lit("D").alias("op"),
        )
        # the SCD2 delta is O(changed keys); materialize it ONCE with
        # its row count riding the same action (observed metric), so
        # the append can take the small-write Arrow path and the write
        # plans over a leaf instead of re-walking the diff join
        obs = Observation()
        out = (
            upserts.select(*log_cols)
            .unionByName(deletes.select(*log_cols))
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        self.append(name, out, rows_hint=int(obs.get.get("n", 0)))
        frames.release(out)

    def evolve(self, name: str, new_schema: T.StructType) -> None:
        """Additive schema evolution (the Delta/Iceberg ADD COLUMN
        analog): METADATA-ONLY — no generation or segment is ever
        rewritten. Existing fields must keep their name, type, and
        position; new fields must be nullable and appended at the end.
        Every generation — past ones included — is subsequently read
        with the widened schema: the explicit-schema parquet read
        null-fills columns absent from old files, so time travel,
        manifests mixing pre- and post-evolution segments, compact(),
        and diff_generations all see one uniform schema. At 100 TB
        this is the only viable evolution path: rewriting history to
        add a column is O(table); changing the declared schema is O(1).

        Bucketed tables: the session-catalog entries of existing
        generations carry the old schema, so they are dropped — reads
        fall back to the path read (value-identical, re-shuffles on
        join) until the next replace() re-registers the bucket layout
        under the widened schema."""
        old = self.schemas[name]
        head = new_schema.fields[: len(old.fields)]
        if [(f.name, f.dataType) for f in head] != [
            (f.name, f.dataType) for f in old.fields
        ]:
            raise ValueError(
                f"evolve({name!r}): existing fields must keep name, type "
                "and position (drops/renames/type changes need a rewrite)"
            )
        added = new_schema.fields[len(old.fields):]
        for f in added:
            if not f.nullable:
                raise ValueError(
                    f"evolve({name!r}): new field {f.name!r} must be "
                    "nullable (old files cannot supply values for it)"
                )
        self.schemas[name] = new_schema
        if added and self._colmap(name) is not None:
            # epoch-fence the additions: a column re-added under a
            # previously-dropped name must NOT capture old segments'
            # bytes — their read schema excludes it and null-fills
            self._colmap_append(
                name, [{"op": "add", "name": f.name} for f in added]
            )
        if os.path.exists(os.path.join(self._dir(name), "_SCHEMA.json")):
            self._persist_schema(name)  # keep the on-disk registry current
        if self.bucketing and name in BUCKET_SPECS:
            for gen_dir in self.generations(name):
                try:
                    self.spark.sql(
                        f"DROP TABLE IF EXISTS {self._table_name(name, gen_dir)}"
                    )
                except Exception:
                    pass

    def segment_count(self, name: str) -> int:
        """Data segments the current generation reads (1 for a plain
        snapshot; 0 for a never-written table; deletion vectors are
        merge-on-read debt, not segments — see mor_debt)."""
        cur = self._current(name)
        if cur is None:
            return 0
        doc = self._doc(cur)
        return 1 if doc is None else len(doc["segments"])

    def mor_debt(self, name: str) -> dict[str, int]:
        """Merge-on-read debt of the current generation: how many
        scoped filters (predicate tombstones) and deletion vectors the
        read path must apply. For a bucketed MOR generation, `deletes`
        counts its deletion vectors and `waves` the merge commits
        accumulated since the last clean snapshot (each wave adds up
        to nb delta files — open-cost debt even when insert-only).
        The compaction trigger a 100 TB table watches alongside
        segment_count — compact() folds all of it back into one clean
        snapshot."""
        cur = self._current(name)
        doc = self._doc(cur) if cur is not None else None
        if doc is None:
            meta = self._bucket_meta(cur) if cur is not None else None
            if meta is not None:
                return {
                    "filters": 0,
                    "deletes": len(meta["dvs"]),
                    "waves": int(meta["waves"]),
                }
            return {"filters": 0, "deletes": 0}
        return {
            "filters": sum(1 for e in doc["segments"] if e.get("filter")),
            "deletes": len(doc["deletes"]),
        }

    def replace_where(self, name: str, df: DataFrame, predicate: str) -> None:
        """Predicate-scoped overwrite (the Delta `replaceWhere` /
        dynamic-partition-overwrite analog): rows matching `predicate`
        are replaced by `df`; everything else is untouched — WITHOUT
        rewriting it. The commit is one new segment holding df plus a
        metadata-only NOT(predicate) scoped filter on every existing
        segment, so cost is O(new rows), never O(table). `df` rows
        violating the predicate are refused (they would silently
        escape the next replace_where over the same predicate).

        At 100 TB this is the backfill primitive: rewrite one day /
        one source partition of a table by writing just that slice.
        Read-side debt (the scoped filters) is pure codegen inside
        each segment scan — no join — and compact() folds it away."""
        if self.bucketing and name in BUCKET_SPECS:
            raise ValueError(
                f"replace_where() on bucketed table {name!r}; use replace()"
            )
        if (
            df.where(~F.coalesce(F.expr(predicate), F.lit(False)))
            .limit(1)
            .count()
            > 0
        ):
            raise ValueError(
                f"replace_where({name!r}): df has rows violating {predicate!r}"
            )
        with _commit_lock(self.root, name):
            seg = self._write_segment(name, df, "seg")
            base = self._base_doc(name)
            # rows where the predicate is NULL do NOT match -> keep them
            notp = f"NOT COALESCE(({predicate}), FALSE)"
            segs = [
                {
                    **e,
                    "filter": f"({e['filter']}) AND {notp}"
                    if e.get("filter")
                    else notp,
                }
                for e in base["segments"]
            ]
            self._commit_manifest(
                name,
                {"segments": segs + [{"path": seg}], "deletes": base["deletes"]},
            )

    def delete_where(self, name: str, predicate: str) -> None:
        """METADATA-ONLY predicate delete: compose NOT(predicate) onto
        every existing segment's scoped filter — no data file is read
        or written, O(1) at any table size (the Iceberg metadata-
        delete analog; the GDPR-style 'drop everything matching this
        predicate' primitive). Rows appended later are unaffected:
        the filter is scoped to the segments that existed now."""
        if self.bucketing and name in BUCKET_SPECS:
            raise ValueError(
                f"delete_where() on bucketed table {name!r}; use replace()"
            )
        with _commit_lock(self.root, name):
            base = self._base_doc(name)
            notp = f"NOT COALESCE(({predicate}), FALSE)"
            segs = [
                {
                    **e,
                    "filter": f"({e['filter']}) AND {notp}"
                    if e.get("filter")
                    else notp,
                }
                for e in base["segments"]
            ]
            self._commit_manifest(
                name, {"segments": segs, "deletes": base["deletes"]}
            )

    def delete_rows(
        self, name: str, keys: DataFrame, key_cols: list[str]
    ) -> None:
        """Row-level merge-on-read delete (the Delta deletion-vector /
        Iceberg equality-delete analog): the keys to drop are written
        ONCE as a small `dv-` file and the commit records which
        segments it applies over (by basename — FILE-SCOPED, so a row
        with the same key appended in a later segment is NOT
        swallowed). Write cost is O(deleted keys); the read path
        anti-joins each covered segment against the vector until
        compact() folds the debt into a clean snapshot.

        This is how row-level deletes stay sustainable at 100 TB:
        deleting a million rows from a billion-row table writes
        megabytes, not the table."""
        if self.bucketing and name in BUCKET_SPECS:
            raise ValueError(
                f"delete_rows() on bucketed table {name!r}; use replace()"
            )
        with _commit_lock(self.root, name):
            base = self._base_doc(name)
            if not base["segments"]:
                return  # nothing to delete from
            d = self._dir(name)
            os.makedirs(d, exist_ok=True)
            dv = f"dv-{time.time_ns()}"
            keys.select(*key_cols).distinct().write.mode("overwrite").parquet(
                os.path.join(d, dv)
            )
            over = [
                os.path.basename(e["path"].rstrip("/")) for e in base["segments"]
            ]
            self._commit_manifest(
                name,
                {
                    "segments": base["segments"],
                    "deletes": base["deletes"]
                    + [{"path": dv, "keys": list(key_cols), "over": over}],
                },
            )

    def rebucket(self, name: str, n_buckets: int) -> None:
        """Migrate a bucketed table to a new bucket count — the
        OPTIMIZE-variant layout evolution a count pinned at install
        time needs to survive 100x growth (a 100 TB `file` table wants
        thousands of buckets, not 8; each bucket should fit one
        executor's sort budget). ONE clean rewrite into the new count
        (same cost as a compact), after which every MERGE wave writes
        bucket-aligned deltas at the new count and co-located joins
        keep planning with zero Exchange at the new width. Generations
        written BEFORE the migration keep their own count (each carries
        an `_NBUCKETS` stamp), so time travel, CDC diffs, and crashes
        around the migration all stay correct — a merge landing
        mid-rewrite still extends the old-count base at the old count.
        The rewrite STAGES WITHOUT the table lock and publishes with an
        optimistic check-and-swap (spec flip + pointer swap together,
        under the lock, only if the rewritten base is still current;
        otherwise rebase and retry) — at thousands of buckets the
        rewrite takes minutes, and holding the flock for it would
        stall every concurrent wave. A crash leaves at worst an orphan
        staged generation that vacuum reclaims."""
        if name not in BUCKET_SPECS:
            raise ValueError(f"rebucket(): {name!r} is not a bucketed table")
        if not self.bucketing:
            raise ValueError("rebucket(): store was built with bucketing=False")
        if int(n_buckets) < 1:
            raise ValueError(f"rebucket(): bad bucket count {n_buckets!r}")
        d = self._dir(name)
        os.makedirs(d, exist_ok=True)
        _, keys = BUCKET_SPECS[name]

        def _flip_spec() -> None:
            self._publish_bytes(
                os.path.join(d, "_BUCKETSPEC.json"),
                json.dumps({"n": int(n_buckets), "keys": keys}),
            )

        if self._current(name) is None:
            with _commit_lock(self.root, name):
                _flip_spec()
            return
        # STAGE OUTSIDE THE LOCK (VERDICT r9 #5): the O(table) rewrite
        # runs against a pinned base generation with no flock held, so
        # concurrent waves keep committing at the old count (their
        # generations carry their own _NBUCKETS stamp — always
        # correct). The lock is taken only for the optimistic swap: if
        # the base is still current, flip the spec and publish the
        # staged generation; if a wave landed mid-rewrite, drop the
        # stale staging and REBASE on the new current (the replace_if
        # idiom) — neither the wave nor the migration is ever lost.
        for _ in range(3):
            base = self._current(name)
            staged = self._write_bucketed_gen(
                name, self._read_gen(name, base), int(n_buckets), keys
            )
            with _commit_lock(self.root, name):
                if self._current(name) == base:
                    _flip_spec()
                    self._catalog_swap({name: os.path.basename(staged)})
                    return
            try:
                self.spark.sql(
                    f"DROP TABLE IF EXISTS {self._table_name(name, staged)}"
                )
            except Exception:
                pass
            shutil.rmtree(staged, ignore_errors=True)
        # pathologically contended table: serialize the last attempt
        with _commit_lock(self.root, name):
            _flip_spec()
            self.replace(name, self.read(name))

    def compact(
        self,
        name: str,
        max_segments: int = 8,
        max_mor_debt: int | None = None,
        zone_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
    ) -> bool:
        """Fold an append-chain back into one snapshot generation when
        the current manifest references more than `max_segments`
        segments, or — if `max_mor_debt` is given — when the scoped
        filters + deletion vectors the read path must apply exceed it
        (the OPTIMIZE/rewrite half of the append and merge-on-read
        stories — bounded-frequency O(table) instead of O(table) per
        write). Returns True if a compaction ran. History note: the
        compacted snapshot is a NEW generation; older generations
        still time-travel until vacuum().

        `zone_cols`/`bloom_cols` (non-bucketed tables): write the
        compacted snapshot as ONE manifest segment WITH data-skipping
        stats instead of a bare generation, so compaction doesn't
        erase the pruning surface read_prefix/read_pruned/merge built
        up over the folded waves (the engine's idle-edge compacts
        keep dir_path/next_crawl ranges live this way)."""
        with _commit_lock(self.root, name):
            debt = self.mor_debt(name)
            over_debt = max_mor_debt is not None and (
                debt["filters"] + debt["deletes"] + debt.get("waves", 0)
                > max_mor_debt
            )
            if self.segment_count(name) <= max_segments and not over_debt:
                return False
            if (zone_cols or bloom_cols) and not self._is_bucketed(name):
                seg = self._write_segment(name, self.read(name), "seg")
                written = self.spark.read.schema(self.schemas[name]).parquet(
                    os.path.join(self._dir(name), seg)
                )
                entry = {
                    "path": seg,
                    "stats": self._segment_stats(
                        written, zone_cols or [], bloom_cols or []
                    ),
                }
                self._commit_manifest(
                    name, {"segments": [entry], "deletes": []}
                )
            else:
                self.replace(name, self.read(name))
            return True

    def optimize(
        self,
        *,
        max_segments: int = 8,
        max_mor_debt: int = 0,
        retain: int = 2,
        respect_consumers: bool = True,
        analyze_tables: list[str] | tuple = (),
    ) -> dict:
        """ONE maintenance pass — the nightly OPTIMIZE command a 100 TB
        deployment schedules instead of hand-running the pieces: per
        table, fold append-chains and merge-on-read debt back into a
        clean snapshot (compact) when over thresholds; re-ANALYZE
        every compacted table (its stats generation just changed) plus
        any explicitly requested ones; then ONE consumer-aware vacuum
        over the whole root. Data-invariant by construction — every
        step changes layout, statistics, or history depth, never a row
        (g29 pins table contents across the pass). Returns a
        per-table report plus the reclaimed generation count, the
        record an operator's maintenance log keeps."""
        tables: dict[str, dict] = {}
        for name in sorted(self._disk_tables()):
            debt = self.mor_debt(name)
            entry = {
                "segments_before": self.segment_count(name),
                "debt_filters": debt["filters"],
                "debt_deletes": debt["deletes"],
            }
            entry["compacted"] = self.compact(
                name, max_segments=max_segments, max_mor_debt=max_mor_debt
            )
            entry["segments_after"] = self.segment_count(name)
            entry["analyzed"] = False
            if entry["compacted"] or name in analyze_tables:
                self.analyze(name)
                entry["analyzed"] = True
            tables[name] = entry
        # count immediately before the vacuum step: compact() just
        # created one new generation per compacted table, and counting
        # those in gens_before would report a net history-depth delta
        # instead of the generations the vacuum actually deleted
        gens_pre_vacuum = sum(
            len(self.generations(n)) for n in self._disk_tables()
        )
        self.vacuum(retain=retain, respect_consumers=respect_consumers)
        gens_after = sum(
            len(self.generations(n)) for n in self._disk_tables()
        )
        return {
            "tables": tables,
            "generations_reclaimed": gens_pre_vacuum - gens_after,
        }

    def merge(
        self,
        name: str,
        source: DataFrame,
        on: list[str],
        when_matched_update: dict | str | None = "all",
        when_not_matched_insert: dict | str | None = "all",
        when_matched_delete=None,
        changed_only: list[str] | None = None,
        zone_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        source_duplicates: str = "allow",
    ) -> dict[str, int]:
        """General MERGE INTO (the Delta/Iceberg `MERGE` analog),
        unifying the engine's bespoke upserts (merge.py M1/M2) with
        the store's merge-on-read machinery:

        - `on`: equi-join key columns (an update clause may never
          assign them). `source` must be key-distinct — like Delta,
          multiple source matches for one target row are the caller's
          bug (the engine dedups staged waves first).
        - `when_matched_update`: 'all' (every non-key column takes the
          source value), a dict {col: Column|SQL-expr over aliases
          `t`/`s`}, or None (no update clause).
        - `when_matched_delete`: optional Column/SQL condition over
          `t`/`s`; evaluated BEFORE the update clause (Delta clause
          order).
        - `when_not_matched_insert`: 'all' / dict / None, as update.
        - `changed_only`: O5 change suppression — a matched row is
          updated only if one of these columns differs null-safely
          between source and target, so a re-crawl wave that touched
          nothing writes nothing.
        - `zone_cols` / `bloom_cols`: record data-skipping statistics
          on the upsert segment (append()'s contract) so point and
          prefix reads can prune the wave's segment at manifest level.
        - `source_duplicates`: 'allow' trusts the caller's
          key-distinct contract (no extra job); 'error' raises when
          the source carries multiple rows for one key (the silent
          row-multiplication a Delta MERGE rejects at runtime);
          'dedupe' drops the extras instead.

        TARGET PRUNING (the Delta/Iceberg MERGE file-skipping analog):
        before the join, the source's per-key min/max/null hull (one
        O(source) aggregate) is intersected with every base segment's
        recorded zone maps — segments provably disjoint from the wave
        are neither READ nor listed in the new deletion vector's
        `over` scope, so merge COMPUTE tracks the touched segments,
        not the table. Bucketed tables prune by BUCKET instead: only
        the files of buckets the source keys hash into are scanned
        (when the wave touches at most half the buckets — past that,
        keeping the catalog scan's co-located layout wins). The
        decision is recorded in `self.last_merge_report`
        ({mode, total, scanned, pruned}).

        COMMIT SHAPE: for a non-bucketed table with an existing base
        the merge commits O(changes) — ONE manifest generation adding
        a deletion vector over the updated+deleted keys and ONE
        segment holding updated+inserted rows; the base segments are
        never rewritten (exactly the merge-on-read MERGE a 100 TB
        table needs: deleting/updating a million rows writes
        megabytes). Bucketed tables ALSO commit O(changes): the delta
        is written bucket-ALIGNED (same hash function, one file per
        touched bucket), the base files carry over by hardlink, and a
        commit-scoped deletion vector masks superseded row versions —
        the zero-Exchange co-located join layout survives every MOR
        commit instead of being repurchased with a full rewrite per
        wave (_merge_bucketed_commit). Returns metrics
        {'inserted', 'updated', 'deleted'}.
        """
        import functools
        import operator as _op

        from pyspark.sql import Column

        cols = [f.name for f in self.schemas[name].fields]
        data_cols = [c for c in cols if c not in on]
        for clause in (when_matched_update, when_not_matched_insert):
            if isinstance(clause, dict) and set(clause) & set(on):
                raise ValueError(
                    f"merge({name!r}): clause assigns key column(s) "
                    f"{sorted(set(clause) & set(on))}"
                )

        def _c(v) -> Column:
            return F.expr(v) if isinstance(v, str) else v

        with _commit_lock(self.root, name):
            if source_duplicates != "allow":
                dup = (
                    source.groupBy(*on)
                    .agg(F.count(F.lit(1)).alias("__n"))
                    .where(F.col("__n") > 1)
                    .limit(1)
                    .collect()
                )
                if dup:
                    key = {k: dup[0][k] for k in on}
                    if source_duplicates == "dedupe":
                        source = source.dropDuplicates(on)
                    else:
                        raise ValueError(
                            f"merge({name!r}): source carries multiple rows "
                            f"for key {key} — a MERGE source must be "
                            "key-distinct (dedupe the wave, or pass "
                            "source_duplicates='dedupe')"
                        )
            cur = self._current(name)
            bucketed = self._is_bucketed(name)
            t_raw: DataFrame | None = None
            dv_scope: list[str] | None = None
            report = {"mode": "full", "total": 0, "scanned": 0, "pruned": 0}
            if not bucketed and cur is not None:
                doc0 = self._doc(cur)
                if (
                    doc0
                    and doc0["segments"]
                    and any(
                        (e.get("stats") or {}).get(k)
                        for e in doc0["segments"]
                        for k in on
                    )
                ):
                    hull = self._source_hull(source, on)
                    touched = [
                        e
                        for e in doc0["segments"]
                        if self._hull_touches(e, on, hull)
                    ]
                    touched, bloom_pruned = self._bloom_prune_targets(
                        name, source, on, touched
                    )
                    report = {
                        "mode": "segments",
                        "total": len(doc0["segments"]),
                        "scanned": len(touched),
                        "pruned": len(doc0["segments"]) - len(touched),
                        "bloom_pruned": bloom_pruned,
                    }
                    t_raw = self._read_gen(
                        name, cur, keep={_seg_id(e) for e in touched}
                    )
                    dv_scope = [_seg_id(e) for e in touched]
            elif bucketed and cur is not None and self._doc(cur) is None:
                nb = self._gen_buckets(name, cur)
                _, bkeys = BUCKET_SPECS[name]
                if set(bkeys) <= set(on):
                    t_raw, report = self._read_buckets_for(
                        name, cur, nb, bkeys, source
                    )
            self.last_merge_report = report
            # explicit presence markers, NOT key-nullability: the keys
            # join null-safely, so a NULL key is a legitimate match
            # (e.g. the catalog's orphan-file group) and must not be
            # misread as "row absent"
            t_base = t_raw if t_raw is not None else self.read(name)
            t = t_base.withColumn("__tp", F.lit(True)).alias("t")
            s = source.withColumn("__sp", F.lit(True)).alias("s")
            cond = functools.reduce(
                _op.and_,
                [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in on],
            )
            j = t.join(s, cond, "full_outer")
            tp = F.col("t.__tp").isNotNull()
            sp = F.col("s.__sp").isNotNull()

            if changed_only:
                changed = functools.reduce(
                    _op.or_,
                    [
                        ~F.col(f"t.{c}").eqNullSafe(F.col(f"s.{c}"))
                        for c in changed_only
                    ],
                )
            else:
                changed = F.lit(True)

            op = F.lit(None).cast("string")
            branches = []
            if when_matched_delete is not None:
                branches.append((tp & sp & _c(when_matched_delete), "D"))
            if when_matched_update is not None:
                branches.append((tp & sp & changed, "U"))
            if when_not_matched_insert is not None:
                branches.append((~tp & sp, "I"))
            for bcond, tag in reversed(branches):
                op = F.when(bcond, F.lit(tag)).otherwise(op)

            def _val(clause, c: str, default: Column) -> Column:
                if clause == "all":
                    return F.col(f"s.{c}") if c in data_cols else default
                if isinstance(clause, dict) and c in clause:
                    return _c(clause[c])
                return default

            newvals = []
            for c in cols:
                tcol = F.col(f"t.{c}")
                scol = F.col(f"s.{c}") if c in on else tcol
                null = F.lit(None).cast(self.schemas[name][c].dataType)
                ins_default = scol if c in on else null
                v = (
                    F.when(
                        F.col("__op") == "U",
                        _val(when_matched_update, c, tcol),
                    )
                    .when(
                        F.col("__op") == "I",
                        _val(when_not_matched_insert, c, ins_default),
                    )
                    .otherwise(tcol)
                )
                newvals.append(v.alias(c))
            key_out = [
                F.coalesce(F.col(f"t.{k}"), F.col(f"s.{k}")).alias(f"__k_{k}")
                for k in on
            ]
            # Eager localCheckpoint, not persist: the classified set is
            # read 3-4 times (metrics count, DV write, segment write,
            # bucketed commit) and its lineage drags the FULL merge
            # graph — target read (manifest + DV anti-joins) ⋈ source
            # (often a CDC diff's own full-outer join). A persist leaves
            # that tree in every downstream plan (re-analyzed and
            # AQE-re-walked per action); the checkpoint truncates the
            # plan to an RDD leaf.
            # merge metrics ride the checkpoint materialization as
            # observed metrics — the per-op counts arrive with the one
            # action that computes the classified set, instead of a
            # second groupBy job over it
            obs = Observation()
            classified = (
                j.withColumn("__op", op)
                .select("__op", *key_out, *newvals)
                .observe(
                    obs,
                    F.count(F.when(F.col("__op") == "I", 1)).alias("I"),
                    F.count(F.when(F.col("__op") == "U", 1)).alias("U"),
                    F.count(F.when(F.col("__op") == "D", 1)).alias("D"),
                )
                .localCheckpoint(eager=True)
            )
            try:
                counts = obs.get
                metrics = {
                    "inserted": int(counts.get("I", 0)),
                    "updated": int(counts.get("U", 0)),
                    "deleted": int(counts.get("D", 0)),
                }
                n_changes = sum(metrics.values())
                if bucketed:
                    if cur is None:
                        # first write: full replace registers the layout
                        self.replace(
                            name,
                            classified.where(
                                F.col("__op").isNull() | (F.col("__op") != "D")
                            ).select(*cols),
                        )
                        return metrics
                    if n_changes == 0:
                        return metrics  # nothing differs: write NOTHING
                    # O(changes) bucket-aligned MOR commit — never a
                    # table rewrite (see _merge_bucketed_commit)
                    self._merge_bucketed_commit(
                        name, cur, classified, on, metrics
                    )
                    return metrics
                base = self._base_doc(name)
                if not base["segments"]:
                    self.replace(
                        name,
                        classified.where(
                            F.col("__op").isNull() | (F.col("__op") != "D")
                        ).select(*cols),
                    )
                    return metrics
                if n_changes == 0:
                    return metrics  # nothing differs: write NOTHING
                d = self._dir(name)
                doc = {
                    "segments": list(base["segments"]),
                    "deletes": list(base["deletes"]),
                }
                if metrics["updated"] or metrics["deleted"]:
                    dv = f"dv-{time.time_ns()}"
                    dv_df = (
                        classified.where(F.col("__op").isin("U", "D"))
                        .select(
                            *[F.col(f"__k_{k}").alias(k) for k in on]
                        )
                        .distinct()
                    )
                    self._write_dir(
                        dv_df,
                        os.path.join(d, dv),
                        metrics["updated"] + metrics["deleted"],
                    )
                    doc["deletes"] = doc["deletes"] + [
                        {
                            "path": dv,
                            "keys": list(on),
                            # scope the vector to the segments the hull
                            # actually touched: pruned segments can't
                            # contain the U/D keys, so they never pay
                            # the anti-join on read either
                            "over": (
                                dv_scope
                                if dv_scope is not None
                                else [_seg_id(e) for e in base["segments"]]
                            ),
                        }
                    ]
                if metrics["updated"] or metrics["inserted"]:
                    seg = self._write_segment(
                        name,
                        classified.where(F.col("__op").isin("U", "I")).select(
                            *cols
                        ),
                        "seg",
                        rows_hint=metrics["updated"] + metrics["inserted"],
                    )
                    entry: dict = {"path": seg}
                    if zone_cols or bloom_cols:
                        # data-skipping stats on the upsert segment
                        # (one O(delta) aggregate over the bytes just
                        # written — same contract as append())
                        written = self.spark.read.schema(
                            self.schemas[name]
                        ).parquet(os.path.join(d, seg))
                        entry["stats"] = self._segment_stats(
                            written, zone_cols or [], bloom_cols or []
                        )
                    doc["segments"] = doc["segments"] + [entry]
                self._commit_manifest(name, doc)
                return metrics
            finally:
                frames.release(classified)

    def apply_changes(
        self,
        name: str,
        on: list[str],
        inserts: DataFrame | None = None,
        updates: DataFrame | None = None,
        deletes: DataFrame | None = None,
        zone_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
    ) -> dict[str, int]:
        """Commit a PRE-CLASSIFIED change set O(changes) — the write
        half of MERGE without its join, for callers that already know
        which rows are new, changed, or gone. The engine's crawl wave
        computes exactly that diff while deriving removal queues and
        hash schedules; re-deriving it through merge() cost a second
        full-table join per wave (VERDICT r8 #2) — this primitive
        makes the wave's COMPUTE O(changes) end to end.

        TRUSTS the caller (the replaceWhere-style contract):
        `inserts` rows must be key-absent from the target, `updates`
        rows key-present (FULL replacement rows), `deletes` frames
        carry the key columns; all three key-distinct and mutually
        disjoint — a violated contract multiplies or loses rows
        exactly as it would under Delta's MERGE with a non-distinct
        source. Commit shape is identical to merge()'s: non-bucketed
        tables get ONE deletion vector over the updated+deleted keys
        (zone-scoped to the hull-overlapping segments) plus ONE
        upsert segment; bucketed tables get the bucket-aligned MOR
        commit (_merge_bucketed_commit). Returns
        {'inserted','updated','deleted'}."""
        cols = [f.name for f in self.schemas[name].fields]
        with _commit_lock(self.root, name):
            n_ins = inserts.count() if inserts is not None else 0
            n_upd = updates.count() if updates is not None else 0
            n_del = deletes.count() if deletes is not None else 0
            metrics = {
                "inserted": int(n_ins),
                "updated": int(n_upd),
                "deleted": int(n_del),
            }
            self.last_merge_report = {
                "mode": "changes",
                "total": 0,
                "scanned": 0,
                "pruned": 0,
            }
            if n_ins + n_upd + n_del == 0:
                return metrics  # nothing differs: write NOTHING
            empty = local_df(self.spark, [], self.schemas[name])
            ins = inserts.select(*cols) if n_ins else None
            upd = updates.select(*cols) if n_upd else None
            iu = (
                ins
                if upd is None
                else (upd if ins is None else ins.unionByName(upd))
            )
            cur = self._current(name)
            if self._is_bucketed(name):
                if cur is None:
                    self.replace(name, iu if iu is not None else empty)
                    return metrics

                def _tag(df: DataFrame, op: str) -> DataFrame:
                    return df.select(
                        F.lit(op).alias("__op"),
                        *[F.col(k).alias(f"__k_{k}") for k in on],
                        *cols,
                    )

                parts: list[DataFrame] = []
                if ins is not None:
                    parts.append(_tag(ins, "I"))
                if upd is not None:
                    parts.append(_tag(upd, "U"))
                if n_del:
                    nulls = [
                        F.lit(None)
                        .cast(self.schemas[name][c].dataType)
                        .alias(c)
                        for c in cols
                    ]
                    parts.append(
                        deletes.select(
                            F.lit("D").alias("__op"),
                            *[F.col(k).alias(f"__k_{k}") for k in on],
                            *nulls,
                        )
                    )
                classified = parts[0]
                for p in parts[1:]:
                    classified = classified.unionByName(p)
                self._merge_bucketed_commit(name, cur, classified, on, metrics)
                return metrics
            base = self._base_doc(name)
            if not base["segments"]:
                self.replace(name, iu if iu is not None else empty)
                return metrics
            d = self._dir(name)
            doc = {
                "segments": list(base["segments"]),
                "deletes": list(base["deletes"]),
            }
            dv_keys = upd.select(*on) if n_upd else None
            if n_del:
                dk = deletes.select(*on)
                dv_keys = dk if dv_keys is None else dv_keys.unionByName(dk)
            if dv_keys is not None:
                over = [_seg_id(e) for e in base["segments"]]
                if any(
                    (e.get("stats") or {}).get(k)
                    for e in base["segments"]
                    for k in on
                ):
                    hull = self._source_hull(dv_keys, on)
                    touched = [
                        e
                        for e in base["segments"]
                        if self._hull_touches(e, on, hull)
                    ]
                    over = [_seg_id(e) for e in touched]
                    self.last_merge_report = {
                        "mode": "segments",
                        "total": len(base["segments"]),
                        "scanned": len(touched),
                        "pruned": len(base["segments"]) - len(touched),
                    }
                dv = f"dv-{time.time_ns()}"
                self._write_dir(
                    dv_keys.distinct(), os.path.join(d, dv), n_upd + n_del
                )
                doc["deletes"] = doc["deletes"] + [
                    {"path": dv, "keys": list(on), "over": over}
                ]
            if iu is not None:
                seg = self._write_segment(
                    name, iu, "seg", rows_hint=n_ins + n_upd
                )
                entry: dict = {"path": seg}
                if zone_cols or bloom_cols:
                    written = self.spark.read.schema(
                        self.schemas[name]
                    ).parquet(os.path.join(d, seg))
                    entry["stats"] = self._segment_stats(
                        written, zone_cols or [], bloom_cols or []
                    )
                doc["segments"] = doc["segments"] + [entry]
            self._commit_manifest(name, doc)
            return metrics

    def commit_multi(self, writes: dict[str, DataFrame]) -> str:
        """Multi-table ATOMIC commit (the cross-table transaction most
        single-table lakehouses lack): replace several tables so that
        after crash recovery either ALL new generations are visible or
        NONE are. Protocol — stage, journal, publish:

        1. STAGE: each table's new generation is fully written to an
           invisible `staged-<txn>` directory (readers resolve only
           catalog-pointed `gen-` dirs, so staging is never visible;
           vacuum ignores `staged-` too).
        2. JOURNAL: one write-ahead intent file
           (`<root>/_txn_multi/<txn>.json`, atomic tmp-then-rename)
           records every staged dir AND the `gen-` name each will
           publish to. THIS IS THE DURABILITY COMMIT POINT.
        3. PUBLISH: each staged dir renames to its journaled target
           (O(1) per table), then the root catalog pointer swaps ONCE
           for all tables — THE VISIBILITY COMMIT POINT. A reader
           interleaved anywhere before the swap resolves every table
           at its old generation; after, every table at its new one —
           never mixed (the torn-read window the pre-pointer protocol
           documented is closed). The journal is removed last.

        A crash before the journal leaves orphan staged dirs —
        recover_multi() rolls them BACK (deletes; no reader ever saw
        them). A crash after the journal leaves a committed intent —
        recover_multi() rolls it FORWARD: remaining renames replay
        idempotently against the journaled targets (a missing staged
        dir whose target was never published is CORRUPTION and
        raises, not a silent no-op), then the catalog swap replays
        (monotonic — it never regresses a table a later commit moved
        past). recover_multi() must only run at startup with no
        in-flight commit_multi writers, like any WAL recovery.

        Every step is one `self._publish`: the journal is publish 1,
        the renames follow in sorted table name, and the catalog swap
        is publish len(writes) + 2 — so a test injects a crash at any
        step by failing the k-th publish on its store instance
        (tests/faults.py). Returns the txn id. Bucketed
        tables are refused (their generations publish through the
        session catalog, not a rename)."""
        for name in writes:
            if self.bucketing and name in BUCKET_SPECS:
                raise ValueError(
                    f"commit_multi() on bucketed table {name!r}; use replace()"
                )
        locks = [_commit_lock(self.root, n) for n in sorted(writes)]
        for lk in locks:
            lk.acquire()
        try:
            txn = f"txn-{time.time_ns()}"
            staged: dict[str, str] = {}
            for name in sorted(writes):
                d = self._dir(name)
                os.makedirs(d, exist_ok=True)
                sdir = os.path.join(d, f"staged-{txn}")
                cols = [f.name for f in self.schemas[name].fields]
                out = writes[name].select(*cols)
                if name in SORT_KEYS:
                    out = out.sortWithinPartitions(*SORT_KEYS[name])
                out.write.mode("overwrite").parquet(sdir)
                self._stamp_epoch(name, sdir)  # travels with the rename
                staged[name] = os.path.basename(sdir)
            targets = {
                name: f"gen-{time.time_ns()}" for name in sorted(writes)
            }
            jdir = os.path.join(self.root, "_txn_multi")
            os.makedirs(jdir, exist_ok=True)
            self._publish_bytes(  # DURABILITY COMMIT POINT
                os.path.join(jdir, f"{txn}.json"),
                json.dumps({"staged": staged, "targets": targets}),
            )
            self._publish_txn(txn, staged, targets)
            return txn
        finally:
            for lk in reversed(locks):
                lk.release()

    def _publish_txn(
        self,
        txn: str,
        staged: dict[str, str],
        targets: dict[str, str],
    ) -> None:
        """Publish a journaled txn: rename each staged dir to its
        journaled target (idempotent on replay: target already there
        -> skip; staged AND target both missing -> corruption, raise),
        swap the catalog pointer once for all tables (visibility
        commit), then retire the journal."""
        for name in sorted(staged):
            src = os.path.join(self._dir(name), staged[name])
            dst = os.path.join(self._dir(name), targets[name])
            if os.path.isdir(dst):
                continue  # published before a crash; replay skips
            if not os.path.isdir(src):
                raise RuntimeError(
                    f"{txn}: staged dir {staged[name]} for {name!r} is "
                    f"missing and target {targets[name]} was never "
                    "published — journal names the expected generation, "
                    "so this is corruption (or recovery ran concurrently "
                    "with a live writer), not a safe no-op"
                )
            self._publish(src, dst)
        self._catalog_swap(dict(targets))  # VISIBILITY COMMIT POINT
        jpath = os.path.join(self.root, "_txn_multi", f"{txn}.json")
        if os.path.exists(jpath):
            os.remove(jpath)

    def recover_multi(self) -> dict[str, str]:
        """Crash recovery for commit_multi: every journaled txn rolls
        FORWARD (its durability commit point passed — replay renames +
        catalog swap), every orphan staged dir (no journal) rolls BACK
        (its txn never committed — delete, no reader ever resolved
        it). Idempotent; call on store STARTUP ONLY, with no active
        writers (a concurrent in-flight commit_multi's staged dirs
        would be indistinguishable from orphans).
        Returns {txn: 'rolled-forward' | 'rolled-back'}."""
        outcomes: dict[str, str] = {}
        jdir = os.path.join(self.root, "_txn_multi")
        journaled: set[str] = set()
        if os.path.isdir(jdir):
            for j in sorted(os.listdir(jdir)):
                if j.endswith(".json.tmp"):
                    # a crash at the journal publish: never committed
                    os.remove(os.path.join(jdir, j))
                if not j.endswith(".json"):
                    continue
                txn = j[: -len(".json")]
                journaled.add(txn)
                with open(os.path.join(jdir, j)) as fh:
                    doc = json.load(fh)
                self._publish_txn(txn, doc["staged"], doc["targets"])
                outcomes[txn] = "rolled-forward"
        for name in self._disk_tables():
            d = self._dir(name)
            if not os.path.isdir(d):
                continue
            for entry in sorted(os.listdir(d)):
                if not entry.startswith("staged-"):
                    continue
                txn = entry[len("staged-"):]
                if txn in journaled:
                    continue  # published above
                shutil.rmtree(os.path.join(d, entry), ignore_errors=True)
                outcomes[txn] = "rolled-back"
        return outcomes

    def _cursor_path(self, name: str, consumer: str) -> str:
        return os.path.join(self._dir(name), f"_CURSOR-{consumer}")

    def _write_cursor(self, name: str, consumer: str, gen: str) -> None:
        """Atomically pin `consumer`'s cursor to generation basename
        `gen`. Callers that diffed a SPECIFIC generation must pass that
        exact generation — re-resolving _current() here would skip any
        source commit that landed between the pull and the advance."""
        self._publish_bytes(self._cursor_path(name, consumer), gen)

    def create_consumer(self, name: str, consumer: str) -> None:
        """Register a CDC consumer at the table's CURRENT generation:
        its first changes_since() returns everything committed after
        this point (the Delta CDF `startingVersion` / Kafka
        consumer-group seek analog). O(1) metadata."""
        cur = self._current(name)
        if cur is None:
            raise ValueError(
                f"create_consumer({name!r}): table has no generation yet"
            )
        self._write_cursor(name, consumer, os.path.basename(cur))

    def changes_since(
        self,
        name: str,
        consumer: str,
        key_cols: list[str],
        compare_cols: list[str],
        to_gen: str | None = None,
    ) -> DataFrame:
        """The I/D/U change feed between `consumer`'s cursor and the
        current generation — incremental CDC CONSUMPTION (g6's
        diff_generations turned into a subscription): each downstream
        job pulls exactly the changes it has not yet applied, however
        many commits happened in between (multi-commit deltas collapse
        into one net diff — an insert+delete between pulls cancels
        out, which is what a net-state consumer wants). The pull does
        NOT move the cursor; call advance_cursor() after the
        downstream apply commits — the standard at-least-once cursor
        contract (a crashed consumer re-pulls the same delta).

        Retention contract: the cursor generation must survive until
        the consumer advances past it — vacuum(retain=N) must cover
        the slowest consumer's lag, exactly Delta CDF's
        retention-vs-reader rule. A vacuumed cursor raises with a
        re-seed instruction rather than returning a wrong (partial)
        diff.

        Scale: one full-outer equi-join between two snapshots per
        pull, O(changed keys) output — never a log replay, never a
        full-table handoff to the consumer.

        `to_gen` pins the diff's upper bound to a specific generation
        basename instead of whatever is current at call time — the
        consumer then advances its cursor to EXACTLY that generation
        (via _write_cursor), so a source commit racing the pull can
        never be skipped (it lands after `to_gen` and the next pull
        picks it up)."""
        if to_gen is not None:
            cur = os.path.join(self._dir(name), to_gen)
            if not os.path.isdir(cur):
                raise ValueError(
                    f"changes_since({name!r}): pinned generation "
                    f"{to_gen} not on disk"
                )
        else:
            cur = self._current(name)
        if cur is None:
            raise ValueError(f"changes_since({name!r}): table never written")
        try:
            with open(self._cursor_path(name, consumer)) as fh:
                cursor = fh.read().strip()
        except FileNotFoundError:
            raise ValueError(
                f"changes_since({name!r}): unknown consumer {consumer!r}; "
                "create_consumer() first"
            ) from None
        new = self._read_gen(name, cur)
        if os.path.basename(cur) == cursor:
            empty = new.limit(0)
            return diff_generations(empty, empty, key_cols, compare_cols)
        old_dir = os.path.join(self._dir(name), cursor)
        if not os.path.isdir(old_dir):
            raise ValueError(
                f"changes_since({name!r}): cursor generation {cursor} was "
                f"vacuumed — retention must cover consumer lag; re-seed "
                f"with create_consumer()"
            )
        return diff_generations(
            self._read_gen(name, old_dir), new, key_cols, compare_cols
        )

    def advance_cursor(self, name: str, consumer: str) -> None:
        """Move `consumer`'s cursor to the current generation (atomic
        replace). Call AFTER the downstream apply is durable."""
        self.create_consumer(name, consumer)

    # -- materialized views -------------------------------------------
    #
    # A registered MV is a normal store table (it gets time travel,
    # CDC, stats and data skipping for free) whose contents are a
    # group-by aggregate over a source table, maintained INCREMENTALLY
    # from the source's CDC subscription (changes_since + a dedicated
    # __mv_<view> consumer) applied through the general MERGE — the
    # Delta Live Tables / Materialize-style refresh loop built from
    # the store's own primitives. COUNT(*) and SUM0 (SUM with NULLs
    # counted as 0) are fully self-maintainable — base + delta
    # arithmetic is closed. MIN/MAX are maintained with the classic
    # delete-aware split: inserts fold incrementally (least/greatest
    # against the group's current extreme); a refresh RECOMPUTES only
    # the groups whose current extreme was retracted (a delete or
    # update-away of the value sitting at the min/max), reading the
    # pinned source generation semi-joined to exactly those group
    # keys. Refresh stays O(changed groups) in the common case and
    # O(retracted-extreme groups) worst case — never the whole view —
    # and everything still commits as ONE MERGE, bracketed by the
    # spec's intent and applied markers (see refresh_mview).

    def _mv_spec_path(self, view: str) -> str:
        return os.path.join(self.root, f"_mv-{view}.json")

    def _mv_write_spec(self, view: str, spec: dict) -> None:
        self._publish_bytes(self._mv_spec_path(view), json.dumps(spec))

    def mview_spec(self, view: str) -> dict:
        with open(self._mv_spec_path(view)) as fh:
            return json.load(fh)

    def list_mviews(self) -> list[str]:
        """Every materialized view registered over this root (spec
        files `_mv-<view>.json`), sorted. O(1) metadata — the
        enumeration a maintenance loop uses to refresh ALL standing
        views instead of a hardcoded one."""
        if not os.path.isdir(self.root):
            return []
        return sorted(
            f[len("_mv-"):-len(".json")]
            for f in os.listdir(self.root)
            if f.startswith("_mv-") and f.endswith(".json")
        )

    def _mv_compute(self, df: DataFrame, spec: dict) -> DataFrame:
        aggs = [F.count(F.lit(1)).cast("bigint").alias(spec["count_col"])]
        for out, src_col in spec["sums"].items():
            s = F.sum(F.col(src_col))
            zero = F.lit(0).cast(df.schema[src_col].dataType)
            aggs.append(F.coalesce(s, zero).alias(out))
        for out, src_col in spec.get("mins", {}).items():
            aggs.append(F.min(F.col(src_col)).alias(out))
        for out, src_col in spec.get("maxs", {}).items():
            aggs.append(F.max(F.col(src_col)).alias(out))
        return df.groupBy(*spec["group_by"]).agg(*aggs)

    def create_mview(
        self,
        view: str,
        src: str,
        *,
        group_by: list[str],
        count_col: str,
        sums: dict[str, str],
        key_cols: list[str],
        compare_cols: list[str],
        mins: dict[str, str] | None = None,
        maxs: dict[str, str] | None = None,
    ) -> None:
        """Register + seed a materialized view: `view` = SELECT
        group_by, COUNT(*) AS count_col, SUM0(src_col) AS out...,
        MIN(src_col) AS out..., MAX(src_col) AS out... FROM `src`
        GROUP BY group_by. The seed is one full recompute; the
        consumer cursor is pinned at the seeded generation so the
        first refresh applies exactly the commits after it. Group,
        sum, and min/max columns must be visible to the change feed
        (key_cols or compare_cols) — a group move or value change the
        diff can't see would silently corrupt the view. MIN/MAX
        refresh incrementally on inserts and fall back to a per-group
        recompute ONLY where the current extreme was retracted (see
        the section comment)."""
        mins = dict(mins or {})
        maxs = dict(maxs or {})
        feed_cols = set(key_cols) | set(compare_cols)
        missing = (
            set(group_by)
            | set(sums.values())
            | set(mins.values())
            | set(maxs.values())
        ) - feed_cols
        if missing:
            raise ValueError(
                f"create_mview({view!r}): {sorted(missing)} not covered "
                "by key_cols/compare_cols — the change feed could not "
                "maintain them"
            )
        overlap = set(sums) & set(mins) | set(sums) & set(maxs) | set(mins) & set(maxs)
        if overlap or count_col in (set(sums) | set(mins) | set(maxs)):
            raise ValueError(
                f"create_mview({view!r}): output column names must be "
                "distinct across count/sums/mins/maxs"
            )
        spec = {
            "src": src,
            "group_by": list(group_by),
            "count_col": count_col,
            "sums": dict(sums),
            "mins": mins,
            "maxs": maxs,
            "key_cols": list(key_cols),
            "compare_cols": list(compare_cols),
        }
        with _commit_lock(self.root, f"//mv-{view}"):
            cur = self._current(src)
            if cur is None:
                raise ValueError(
                    f"create_mview({view!r}): source {src!r} has no "
                    "generation yet"
                )
            # pin the seeded generation: seed, cursor, and the applied
            # marker all name the SAME generation, so a source commit
            # racing the seed is applied by the first refresh instead
            # of being skipped
            seed = self._mv_compute(self._read_gen(src, cur), spec)
            self.schemas.setdefault(view, seed.schema)
            # a store reopened over this root must read and refresh it
            self._persist_schema(view)
            self.replace(view, seed)
            self._write_cursor(src, f"__mv_{view}", os.path.basename(cur))
            spec["applied"] = os.path.basename(cur)
            self._mv_write_spec(view, spec)

    def refresh_mview(self, view: str) -> dict:
        """Incrementally refresh `view` from its source's CDC feed.
        Returns merge metrics plus 'status': 'applied', 'noop' (source
        unchanged), 'reseeded', or 'replayed' (a prior refresh
        committed but crashed before advancing the cursor — the cursor
        is rolled forward WITHOUT re-applying). Before its MERGE a
        refresh publishes an intent in the spec (`pending` = the
        diffed source generation, `pending_view` = the view's
        generation); a refresh that finds an intent rolls it forward
        if the view's generation has moved and redoes it otherwise, so
        a crash at any step applies each delta exactly once. The whole
        pull->merge->mark->advance sequence holds the view's commit
        lock: two same-process refreshers would otherwise both pull
        the same delta and double-apply it."""
        with _commit_lock(self.root, f"//mv-{view}"):
            return self._refresh_mview_locked(view)

    def _mv_extend_extremes(
        self, view: str, src: str, cur: str, spec: dict, net: DataFrame
    ) -> DataFrame:
        """Delete-aware MIN/MAX maintenance: tag each touched group
        with `__rec` — TRUE iff a retracted value sits at (or beyond)
        the group's CURRENT extreme, so the incremental fold can no
        longer prove the extreme — and attach absolute re-aggregates
        (`__abs_<col>`) computed from the PINNED source generation
        semi-joined to exactly those group keys. Cost: one join of the
        (small) net against the MV's extreme columns, plus one source
        scan filtered to the retracted-extreme groups — O(changed
        groups) decision, O(recomputed groups) fallback, never a view
        recompute."""
        import functools
        import operator as _op

        group_by = spec["group_by"]
        mins = spec.get("mins", {})
        maxs = spec.get("maxs", {})
        extremes = {**mins, **maxs}
        cur_mv = self.read(view).select(
            *group_by,
            *[F.col(out).alias(f"__cur_{out}") for out in extremes],
        )

        def keyeq(a: DataFrame, b: DataFrame):
            return functools.reduce(
                _op.and_, [a[g].eqNullSafe(b[g]) for g in group_by]
            )

        j = net.join(cur_mv, keyeq(net, cur_mv), "left").select(
            net["*"], *[cur_mv[f"__cur_{out}"] for out in extremes]
        )
        rec = F.lit(False)
        for out in extremes:
            threatened = (
                F.col(f"__retr_{out}") <= F.col(f"__cur_{out}")
                if out in mins
                else F.col(f"__retr_{out}") >= F.col(f"__cur_{out}")
            )
            rec = rec | (
                F.col(f"__retr_{out}").isNotNull()
                & F.col(f"__cur_{out}").isNotNull()
                & threatened
            )
        tagged = j.withColumn("__rec", rec).drop(
            *[f"__cur_{out}" for out in extremes]
        )
        rec_keys = tagged.where(F.col("__rec")).select(*group_by)
        pinned = self._read_gen(src, os.path.join(self._dir(src), cur))
        absolutes = self._mv_compute(
            pinned.join(rec_keys, keyeq(pinned, rec_keys), "left_semi"), spec
        )
        agg_cols = (
            [spec["count_col"]] + list(spec["sums"]) + list(extremes)
        )
        absolutes = absolutes.select(
            *group_by,
            *[F.col(c).alias(f"__abs_{c}") for c in agg_cols],
        )
        return tagged.join(
            absolutes, keyeq(tagged, absolutes), "left"
        ).select(tagged["*"], *[absolutes[f"__abs_{c}"] for c in agg_cols])

    def _refresh_mview_locked(self, view: str) -> dict:
        spec = self.mview_spec(view)
        src, cons = spec["src"], f"__mv_{view}"
        pending = spec.pop("pending", None)
        if pending is not None:
            # a refresh died after publishing its intent: its MERGE
            # committed iff the view's generation moved past the one
            # the intent recorded (only refreshes write a view, under
            # this lock) — mark it applied; otherwise nothing of it is
            # visible and this refresh redoes it
            if os.path.basename(self._current(view)) != spec.pop("pending_view"):
                spec["applied"] = pending
            self._mv_write_spec(view, spec)
        # read _current(src) ONCE and pin the whole refresh to it: the
        # pull diffs cursor..cur and the cursor advances to exactly
        # cur — a source commit landing mid-refresh (the //mv lock
        # serializes refreshers, not source writers) stays ahead of the
        # cursor and is applied by the NEXT refresh instead of being
        # silently skipped
        cur = os.path.basename(self._current(src))
        zero = {"inserted": 0, "updated": 0, "deleted": 0}
        try:
            with open(self._cursor_path(src, cons)) as fh:
                cursor = fh.read().strip()
        except FileNotFoundError:
            cursor = None
        # the spec is published before the cursor: a cursor behind the
        # applied generation is a refresh that committed and died
        # before advancing it — roll it forward WITHOUT re-applying. A
        # lost cursor with the applied generation current re-pins the
        # same way (the cursor-vacuumed analog of the reseed self-heal,
        # without the needless recompute); with commits pending it
        # falls to the reseed below.
        replayed = cursor != spec["applied"] and (
            cursor is not None or spec["applied"] == cur
        )
        if replayed:
            self._write_cursor(src, cons, spec["applied"])
        if spec["applied"] == cur:
            return {**zero, "status": "replayed" if replayed else "noop"}
        try:
            delta = self.changes_since(
                src, cons, spec["key_cols"], spec["compare_cols"], to_gen=cur
            )
        except ValueError as e:
            if "vacuumed" not in str(e) and "unknown consumer" not in str(e):
                raise
            # self-heal: vacuum outran this consumer (retention
            # breach) or the cursor file itself was lost — fall back
            # to ONE full recompute OF THE PINNED GENERATION, re-pin
            # the cursor at that same generation, and resume
            # incremental from here (recomputing whatever is current
            # instead would race a mid-reseed source commit: the
            # recompute could include it while applied/cursor say it
            # is still pending, double-applying it next refresh)
            pinned = self._read_gen(src, os.path.join(self._dir(src), cur))
            self.replace(view, self._mv_compute(pinned, spec))
            spec["applied"] = cur
            self._mv_write_spec(view, spec)
            self._write_cursor(src, cons, cur)
            return {**zero, "status": "reseeded"}
        group_by = spec["group_by"]
        cnt = spec["count_col"]
        compare = set(spec["compare_cols"])
        mins = spec.get("mins", {})
        maxs = spec.get("maxs", {})
        extremes = {**mins, **maxs}

        def side(prefix: str, ops: list[str], sign: int) -> DataFrame:
            # the change feed prefixes COMPARE columns (old_/new_) but
            # exposes KEY columns bare (a key never changes across an
            # update — it IS the join identity), so every source-column
            # reference resolves through the same rule
            def ref(sc: str):
                return F.col(f"{prefix}{sc}") if sc in compare else F.col(sc)

            gcols = [ref(g).alias(g) for g in group_by]
            vals = [
                (F.lit(sign) * ref(sc)).alias(f"__d_{out}")
                for out, sc in spec["sums"].items()
            ]
            # min/max carry the raw value + the row's sign: the insert
            # side folds via least/greatest; the retraction side only
            # decides WHICH groups need a recompute
            evals = [
                ref(sc).alias(f"__v_{out}") for out, sc in extremes.items()
            ]
            return delta.where(F.col("op").isin(*ops)).select(
                *gcols, F.lit(sign).cast("bigint").alias("__dn"), *vals, *evals
            )

        contrib = side("old_", ["D", "U"], -1).unionByName(
            side("new_", ["I", "U"], 1)
        )
        mv_schema = self.schemas[view]
        dn_sum = F.sum("__dn").cast("bigint").alias("__dn")
        d_sums = []
        nonzero = F.col("__dn") != 0
        for out in spec["sums"]:
            zt = mv_schema[out].dataType
            d_sums.append(
                F.coalesce(F.sum(F.col(f"__d_{out}")), F.lit(0).cast(zt))
                .cast(zt)
                .alias(f"__d_{out}")
            )
            nonzero = nonzero | (F.col(f"__d_{out}") != 0)
        e_aggs = []
        ins_row = F.col("__dn") == 1
        for out in extremes:
            fold = F.min if out in mins else F.max
            e_aggs.append(
                fold(F.when(ins_row, F.col(f"__v_{out}"))).alias(f"__ins_{out}")
            )
            e_aggs.append(
                fold(F.when(~ins_row, F.col(f"__v_{out}"))).alias(
                    f"__retr_{out}"
                )
            )
            # a value change invisible to count/sum deltas still
            # touches the extremes — keep the group in the net
            nonzero = (
                nonzero
                | F.col(f"__ins_{out}").isNotNull()
                | F.col(f"__retr_{out}").isNotNull()
            )
        net = (
            contrib.groupBy(*group_by).agg(dn_sum, *d_sums, *e_aggs)
        ).where(nonzero)

        if extremes:
            net = self._mv_extend_extremes(view, src, cur, spec, net)

        upd = {cnt: f"CAST(t.{cnt} + s.__dn AS BIGINT)"}
        ins = {cnt: "CAST(s.__dn AS BIGINT)"}
        delete_cond = f"(t.{cnt} + s.__dn) = 0"
        for out in spec["sums"]:
            ddl = mv_schema[out].dataType.simpleString()
            upd[out] = (
                f"CAST(COALESCE(t.{out}, 0) + COALESCE(s.__d_{out}, 0) "
                f"AS {ddl})"
            )
            ins[out] = f"CAST(COALESCE(s.__d_{out}, 0) AS {ddl})"
        if extremes:
            # recomputed groups take ABSOLUTE values for every
            # aggregate (count/sum absolutes equal the delta result by
            # construction — one consistent row either way); fast-path
            # groups fold inserts with least/greatest
            upd[cnt] = (
                f"CAST(CASE WHEN s.__rec THEN s.__abs_{cnt} "
                f"ELSE t.{cnt} + s.__dn END AS BIGINT)"
            )
            for out in spec["sums"]:
                ddl = mv_schema[out].dataType.simpleString()
                upd[out] = (
                    f"CAST(CASE WHEN s.__rec THEN COALESCE(s.__abs_{out}, 0) "
                    f"ELSE COALESCE(t.{out}, 0) + COALESCE(s.__d_{out}, 0) "
                    f"END AS {ddl})"
                )
            for out in extremes:
                ddl = mv_schema[out].dataType.simpleString()
                fold = "least" if out in mins else "greatest"
                upd[out] = (
                    f"CAST(CASE WHEN s.__rec THEN s.__abs_{out} "
                    f"ELSE {fold}(t.{out}, s.__ins_{out}) END AS {ddl})"
                )
                ins[out] = f"CAST(s.__ins_{out} AS {ddl})"
            # a recomputed group that emptied has no absolute row left
            delete_cond = (
                f"(s.__rec AND s.__abs_{cnt} IS NULL) OR "
                f"((NOT s.__rec) AND (t.{cnt} + s.__dn) = 0)"
            )
        # intent before the MERGE: a crash between its commit and the
        # spec publish below must not re-apply the delta next refresh
        self._mv_write_spec(
            view,
            {
                **spec,
                "pending": cur,
                "pending_view": os.path.basename(self._current(view)),
            },
        )
        metrics = self.merge(
            view,
            net,
            on=group_by,
            when_matched_update=upd,
            when_not_matched_insert=ins,
            when_matched_delete=delete_cond,
        )
        spec["applied"] = cur
        self._mv_write_spec(view, spec)
        # advance to EXACTLY the generation that was diffed — not to
        # _current(src), which a racing source commit may have moved
        # past a delta this refresh never applied
        self._write_cursor(src, cons, cur)
        return {**metrics, "status": "applied"}

    def generations(self, name: str) -> list[str]:
        """Generation directories of a table, oldest first."""
        d = self._dir(name)
        return (
            sorted(
                os.path.join(d, g)
                for g in os.listdir(d)
                if g.startswith("gen-")
            )
            if os.path.isdir(d)
            else []
        )

    def read_at(self, name: str, back: int = 0) -> DataFrame:
        """Time travel: read the generation `back` swaps before the
        current one (back=0 is the current table). The single-box
        analog of Delta/Iceberg `VERSION AS OF`; raises IndexError if
        that much history was never written or was vacuumed. History
        resolves through the catalog pointer LOG when the table has
        one: only generations that were actually pointed count — a
        crashed commit's orphan generation is not history, it is a
        write that never happened. Pre-pointer tables fall back to
        the directory listing."""
        hist = [g for _, g in self._history(name)]
        if not hist:
            hist = [os.path.basename(g) for g in self.generations(name)]
        if back >= len(hist):
            raise IndexError(
                f"table {name!r} has {len(hist)} generation(s); "
                f"cannot travel back {back}"
            )
        return self._read_gen(
            name, os.path.join(self._dir(name), hist[len(hist) - 1 - back])
        )

    def read_as_of(self, name: str, ts) -> DataFrame:
        """Time travel by wall clock (the Delta/Iceberg `TIMESTAMP AS
        OF` analog): read the newest generation VISIBLE at or before
        `ts` (a datetime or epoch seconds). Resolution walks the
        catalog pointer log — O(# swaps) metadata, no data file is
        opened, and the timestamps are the moments the generations
        actually became readable (the swap), so a crashed commit's
        orphan can never resolve and a just-published-but-unswapped
        generation does not time-travel early. Pre-pointer tables
        fall back to the generation-name nanos in the directory
        listing. Raises if `ts` predates the first retained
        generation (older history was never written or was vacuumed —
        same contract as read_at)."""
        import datetime as _dt

        if isinstance(ts, _dt.datetime):
            epoch_ns = int(ts.timestamp() * 1_000_000_000)
        else:
            epoch_ns = int(float(ts) * 1_000_000_000)
        hist = self._history(name)
        if not hist:
            hist = [
                (int(os.path.basename(g)[len("gen-"):]), os.path.basename(g))
                for g in self.generations(name)
            ]
        eligible = [g for ns, g in hist if ns <= epoch_ns]
        if not eligible:
            raise ValueError(
                f"table {name!r} has no generation at or before {ts} "
                "(predates first write, or vacuumed)"
            )
        return self._read_gen(name, os.path.join(self._dir(name), eligible[-1]))


def apply_expectations(
    df: DataFrame, expectations: dict[str, str]
) -> tuple[DataFrame, DataFrame]:
    """Split rows by declared data-quality expectations (the Delta
    Live Tables `expect_or_drop` analog): each expectation is a SQL
    boolean over the row; a row failing ANY expectation is routed to
    the quarantine side with a `violated` column naming every failed
    expectation (sorted, comma-joined — deterministic). NULL
    predicate results count as failures (an expectation that cannot
    be evaluated is not met).

    Scale: one projection pass — every expectation is a codegen
    Column expr, the violation list an array_compact over literals;
    no shuffle, no UDF, no second scan."""
    checks = [
        F.when(F.coalesce(F.expr(sql).cast("boolean"), F.lit(False)), None)
        .otherwise(F.lit(nm))
        for nm, sql in sorted(expectations.items())
    ]
    tagged = df.withColumn(
        "violated", F.array_join(F.array_compact(F.array(*checks)), ",")
    )
    accepted = tagged.where(F.col("violated") == "").drop("violated")
    quarantined = tagged.where(F.col("violated") != "")
    return accepted, quarantined


def scd2_snapshot(log: DataFrame, key_cols: list[str]) -> DataFrame:
    """Latest live version per key from an append-only SCD2 change log
    (columns: key + attributes + `valid_from` + `op`): one row_number
    window keyed by the dimension key; a trailing 'D' tombstone drops
    the key entirely. This is the merge-on-read 'current dimension'
    view — no log rewrite ever happens to serve it."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*key_cols).orderBy(F.col("valid_from").desc())
    return (
        log.withColumn("_rn", F.row_number().over(w))
        .where((F.col("_rn") == 1) & (F.col("op") == "U"))
        .drop("_rn", "op", "valid_from")
    )


def scd2_history(log: DataFrame, key_cols: list[str]) -> DataFrame:
    """Reconstruct SCD type-2 validity intervals from the append-only
    change log at read time: `valid_to` = the next version's
    `valid_from` (one lead window per key), `is_current` = an open
    interval on a live ('U') row. 'D' tombstones close the prior
    version's interval and emit no row of their own.

    Scale: the log is written O(delta) per wave (see
    TableStore.merge_scd2); this read-side window shuffles on the
    dimension key only. Periodic compaction (materialize this view,
    replace the log's closed prefix) bounds read amplification — the
    classic merge-on-read/compaction split."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*key_cols).orderBy("valid_from")
    return (
        log.withColumn("valid_to", F.lead("valid_from").over(w))
        .where(F.col("op") == "U")
        .withColumn("is_current", F.col("valid_to").isNull())
        .drop("op")
    )


class Snapshot:
    """Pinned multi-table read view — see TableStore.snapshot()."""

    def __init__(self, store: TableStore):
        cat = store._read_catalog()
        self.version: int = cat["version"]
        self._pins: dict[str, str] = dict(cat["tables"])
        self._store = store

    def read(self, name: str) -> DataFrame:
        ent = self._pins.get(name)
        if ent is None:
            # table never tracked by the pointer at pin time: empty
            # view (it did not exist at this snapshot's commit point)
            return local_df(self._store.spark, 
                [], self._store.schemas[name]
            )
        gen_dir = os.path.join(self._store._dir(name), ent)
        if not os.path.isdir(gen_dir):
            raise ValueError(
                f"snapshot v{self.version}: pinned generation {ent} of "
                f"{name!r} was vacuumed — retention must cover live "
                "snapshots (vacuum(retain=N) over the snapshot's age)"
            )
        return self._store._read_gen(name, gen_dir)


def diff_generations(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Change-data-feed between two table snapshots: one full outer
    join on the key, null-safe column compares, op tags 'I'/'D'/'U'
    (unchanged rows are dropped). The Delta CDF / Iceberg
    changelog-scan analog, and the engine's J8 snapshot-diff idiom
    generalized to arbitrary tables.

    Scale: a single equi-join shuffle on the key (co-located if both
    generations are bucketed on it — see BUCKET_SPECS); compares are
    null-safe Column exprs, no window, no collect."""
    o = old.select(
        *[F.col(c).alias(f"o_{c}") for c in key_cols],
        *[F.col(c).alias(f"ov_{c}") for c in compare_cols],
    )
    n = new.select(
        *[F.col(c).alias(f"n_{c}") for c in key_cols],
        *[F.col(c).alias(f"nv_{c}") for c in compare_cols],
    )
    cond = None
    for c in key_cols:
        eq = F.col(f"o_{c}") == F.col(f"n_{c}")
        cond = eq if cond is None else cond & eq
    joined = o.join(n, cond, "full_outer")
    old_present = F.col(f"o_{key_cols[0]}").isNotNull()
    new_present = F.col(f"n_{key_cols[0]}").isNotNull()
    changed = None
    for c in compare_cols:
        ne = ~F.col(f"ov_{c}").eqNullSafe(F.col(f"nv_{c}"))
        changed = ne if changed is None else changed | ne
    op = (
        F.when(~old_present, F.lit("I"))
        .when(~new_present, F.lit("D"))
        .when(changed, F.lit("U"))
    )
    return (
        joined.withColumn("op", op)
        .where(F.col("op").isNotNull())
        .select(
            "op",
            *[
                F.coalesce(F.col(f"n_{c}"), F.col(f"o_{c}")).alias(c)
                for c in key_cols
            ],
            *[F.col(f"ov_{c}").alias(f"old_{c}") for c in compare_cols],
            *[F.col(f"nv_{c}").alias(f"new_{c}") for c in compare_cols],
        )
    )
