"""Seeded file trees and the oracles the benchmark checks answers with.

A tree is one root directory holding ``n_files`` files directly (every
BFS level of a deeper tree would add a fixed-cost crawl wave to a run).
Contents come from ``random.Random(f"{stream}:{seed}")`` only, so one
(stream, seed) pair always yields the same names, bytes and mtimes:

- sizes mix 0.5-4 KiB (half the files) and 4-64 KiB, plus ~2% empty
  files (which all share one digest, so they form one duplicate group);
- ~25% of the non-empty files copy the bytes of an earlier file;
- every file's mtime is pinned to a seed-derived instant.

The ``Manifest`` records (dir, name, bytes, md5, sha1) per file, computed
with ``hashlib`` while writing, and answers every lookup the benchmark
times. It never reads the catalog.
"""

from __future__ import annotations

import fnmatch
import hashlib
import os
import random
from dataclasses import dataclass, field
from decimal import Decimal

#: mtimes land in [MTIME_BASE, MTIME_BASE + 30 days)
MTIME_BASE = 1_600_000_000
DUP_SHARE = 0.25
EMPTY_SHARE = 0.02
_EXTS = ("txt", "bin", "jpg", "csv", "log", "dat")


@dataclass(frozen=True)
class Entry:
    dir_path: str
    name: str
    nbytes: int
    md5: str
    sha1: str

    @property
    def full_path(self) -> str:
        return os.path.join(self.dir_path, self.name)

    @property
    def catalog_path(self) -> str:
        """The catalog's `full_path`: the reference always joins with a
        backslash (functions.paths.path_join_col)."""
        return f"{self.dir_path}\\{self.name}"

    @property
    def size_mb(self) -> Decimal:
        """The catalog's `size` column: bytes / 1e6 at 6 decimals."""
        return (Decimal(self.nbytes) / Decimal(1_000_000)).quantize(Decimal("0.000001"))


@dataclass
class Manifest:
    root: str
    files: list[Entry] = field(default_factory=list)

    @property
    def total_bytes(self) -> int:
        return sum(e.nbytes for e in self.files)

    def by_path(self) -> dict[str, Entry]:
        return {e.full_path: e for e in self.files}

    # -- oracles ----------------------------------------------------------
    def duplicate_groups(self) -> set[frozenset[str]]:
        """Files sharing (sha1, size) in groups of >= 2: what
        `Engine.duplicate_report()` must return."""
        groups: dict[tuple[str, int], set[str]] = {}
        for e in self.files:
            groups.setdefault((e.sha1, e.nbytes), set()).add(e.catalog_path)
        return {frozenset(g) for g in groups.values() if len(g) >= 2}

    def duplicates_of(self, full_path: str) -> set[str]:
        """`search_duplicate_file` semantics: every other file with the
        needle's (sha1, size) or the needle's name, in catalog form."""
        n = self.by_path()[full_path]
        return {
            e.catalog_path
            for e in self.files
            if e.full_path != full_path
            and ((e.sha1 == n.sha1 and e.nbytes == n.nbytes) or e.name == n.name)
        }

    def path_exists(self, full_path: str) -> bool:
        return full_path in self.by_path()

    def name_glob(self, pattern: str) -> set[str]:
        return {e.catalog_path for e in self.files if fnmatch.fnmatchcase(e.name, pattern)}

    def subtree(self, prefix: str) -> set[str]:
        """`Engine.subtree` is a string-prefix scan over dir_path; the
        only directory is the root."""
        return {self.root} if self.root.startswith(prefix) else set()

    def dir_stats(self, dir_path: str) -> tuple[int, Decimal, Decimal, Decimal]:
        """(n_files, total_size, min_size, max_size) of one directory."""
        sizes = [e.size_mb for e in self.files if e.dir_path == dir_path]
        if not sizes:
            return 0, Decimal(0), None, None
        return len(sizes), sum(sizes, Decimal(0)), min(sizes), max(sizes)


def _file_bytes(rng: random.Random) -> bytes:
    if rng.random() < EMPTY_SHARE:
        return b""
    if rng.random() < 0.5:
        n = rng.randint(512, 4 * 1024)
    else:
        n = rng.randint(4 * 1024, 64 * 1024)
    return rng.randbytes(n)


def build_tree(root: str, stream: str, seed: int, n_files: int) -> Manifest:
    """Write the tree for (stream, seed) under `root` (which must not
    exist yet) and return its manifest."""
    rng = random.Random(f"{stream}:{seed}")
    os.makedirs(root)
    man = Manifest(root=root)
    originals: list[bytes] = []
    for k in range(n_files):
        if originals and rng.random() < DUP_SHARE:
            data = rng.choice(originals)
        else:
            data = _file_bytes(rng)
            if data:
                originals.append(data)
        name = f"f{k:05d}_{rng.randrange(16**4):04x}.{rng.choice(_EXTS)}"
        path = os.path.join(root, name)
        with open(path, "wb") as fh:
            fh.write(data)
        mtime = MTIME_BASE + rng.randrange(30 * 86400)
        os.utime(path, (mtime, mtime))
        man.files.append(
            Entry(root, name, len(data), hashlib.md5(data).hexdigest(), hashlib.sha1(data).hexdigest())
        )
    return man


def tree_digest(root: str) -> str:
    """sha1 over every (relative path, mtime, bytes) under `root`, in
    sorted order: equal digests mean byte-identical trees."""
    h = hashlib.sha1()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            h.update(str(int(os.stat(p).st_mtime)).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def walk_files(root: str) -> set[tuple[str, str, Decimal]]:
    """(dir_path, name, size) for every file under `root`, from the
    file system itself: the catalog must list exactly this set."""
    out = set()
    for dirpath, _, filenames in os.walk(root):
        for name in filenames:
            nbytes = os.stat(os.path.join(dirpath, name)).st_size
            size = (Decimal(nbytes) / Decimal(1_000_000)).quantize(Decimal("0.000001"))
            out.add((dirpath, name, size))
    return out


# -- lookup op deck -----------------------------------------------------------

#: the lookup op types: four point lookups, one name scan and one full
#: duplicate report
OP_TYPES = ("dup_of_file", "path_exists", "name_glob", "subtree", "dir_stats", "dup_report")


def op_deck(man: Manifest, seed: int, rounds: int) -> list[tuple[str, str]]:
    """`rounds` rounds of (op type, argument) pairs, each round one op of
    every type in an order shuffled with `seed`; the k-th op of a type
    always falls in round k, so it meets the same warm-up in every
    deck. Within each op type, dup_of_file needles alternate between
    files with and without a duplicate, and path_exists probes between
    hits and misses, starting with the former."""
    rng = random.Random(f"ops:{seed}")
    types = []
    for _ in range(rounds):
        one = list(OP_TYPES)
        rng.shuffle(one)
        types += one
    copies: dict[tuple[str, int], int] = {}
    for e in man.files:
        copies[(e.sha1, e.nbytes)] = copies.get((e.sha1, e.nbytes), 0) + 1
    dup_paths = [e.full_path for e in man.files if copies[(e.sha1, e.nbytes)] > 1]
    unique_paths = [e.full_path for e in man.files if copies[(e.sha1, e.nbytes)] == 1]
    all_paths = [e.full_path for e in man.files]
    deck = []
    seen: dict[str, int] = {}
    for t in types:
        # alternate within each op type, so every deck holds the same
        # number of duplicate needles and of missing paths
        odd = seen.get(t, 0) % 2 == 1
        seen[t] = seen.get(t, 0) + 1
        if t == "dup_of_file":
            arg = rng.choice((unique_paths if odd else dup_paths) or all_paths)
        elif t == "path_exists":
            arg = rng.choice(all_paths)
            if odd:
                arg = arg + ".missing"
        elif t == "name_glob":
            # names are f<5-digit index>_...: a 3-digit prefix hits 100
            arg = f"f{rng.randrange(max(1, len(all_paths) // 100)):03d}*"
        elif t == "subtree":
            arg = man.root[:-1]
        elif t == "dir_stats":
            arg = man.root
        else:
            arg = ""
        deck.append((t, arg))
    return deck
