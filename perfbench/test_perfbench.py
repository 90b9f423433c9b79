"""The benchmark's own tests: determinism of its inputs, its answer
checkers, its span arithmetic and its wrappers. None starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys
import types

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run as bench  # noqa: E402
from perfbench.trace import Span, Tracer, covered, self_counts, self_times  # noqa: E402
from perfbench.tablegen import make_tables, write_tables  # noqa: E402
from perfbench.treegen import build_tree, op_deck, tree_digest  # noqa: E402


def _tree(tmp_path, name, seed, n_files=60):
    return build_tree(str(tmp_path / name), "t", seed, n_files)


# -- inputs ----------------------------------------------------------------------


def _relative(man, deck):
    return [(t, arg.replace(man.root, "<root>")) for t, arg in deck]


def test_same_seed_same_tree_and_ops(tmp_path):
    a, b = _tree(tmp_path, "a", 7), _tree(tmp_path, "b", 7)
    assert tree_digest(a.root) == tree_digest(b.root)
    assert _relative(a, op_deck(a, 7, 4)) == _relative(b, op_deck(b, 7, 4))


def test_different_seed_different_tree_and_ops(tmp_path):
    a, b = _tree(tmp_path, "a", 7), _tree(tmp_path, "b", 8)
    assert tree_digest(a.root) != tree_digest(b.root)
    assert _relative(a, op_deck(a, 7, 4)) != _relative(b, op_deck(b, 8, 4))


def test_tree_has_duplicates_and_empty_files(tmp_path):
    man = _tree(tmp_path, "a", 3, n_files=400)
    assert man.duplicate_groups()
    assert any(e.nbytes == 0 for e in man.files)
    assert {e.dir_path for e in man.files} == {man.root}


def test_same_seed_same_tables(tmp_path):
    a, b, c = make_tables(7), make_tables(7), make_tables(8)
    assert set(a) == {"documents", "region", "nation", "customer", "supplier", "orders", "lineitem"}
    assert all(a[t].equals(b[t]) for t in a)
    assert not all(a[t].equals(c[t]) for t in ("documents", "orders", "lineitem"))
    assert write_tables(str(tmp_path / "t"), 7) == sorted(a)
    assert os.path.isfile(tmp_path / "t" / "documents.parquet")


def test_tables_hold_near_duplicates():
    docs = make_tables(3)["documents"].column("text").to_pylist()
    shingles = [{tuple(d.split()[i : i + 5]) for i in range(len(d.split()) - 4)} for d in docs]
    close = sum(
        1
        for i, a in enumerate(shingles)
        for b in shingles[:i]
        if a and b and len(a & b) / len(a | b) >= 0.5
    )
    assert close >= 20


def test_deck_holds_one_op_of_each_type_per_round(tmp_path):
    man = _tree(tmp_path, "a", 1)
    from perfbench.treegen import OP_TYPES

    deck = op_deck(man, 5, 3)
    n = len(OP_TYPES)
    rounds = [[t for t, _ in deck[i : i + n]] for i in range(0, len(deck), n)]
    assert len(rounds) == 3 and all(sorted(r) == sorted(OP_TYPES) for r in rounds)
    assert len({tuple(r) for r in rounds}) > 1


# -- the checker -----------------------------------------------------------------


class _Frame:
    """The two DataFrame calls the lookup path uses, over Python rows."""

    def __init__(self, rows, cols):
        self.rows, self.cols = rows, cols

    def select(self, *cols):
        idx = [self.cols.index(c) for c in cols]
        return _Frame([tuple(r[i] for i in idx) for r in self.rows], list(cols))

    def collect(self):
        return self.rows


class _Engine:
    """Answers from the manifest itself, with an optional wrong row."""

    def __init__(self, man, drop_one=False):
        self.man, self.drop_one = man, drop_one

    def _paths(self, paths):
        paths = sorted(paths)
        return paths[1:] if self.drop_one else paths

    def search_duplicate_file(self, path):
        return _Frame([(p,) for p in self._paths(self.man.duplicates_of(path))], ["full_path"])

    def subtree(self, prefix):
        return _Frame([(d,) for d in self._paths(self.man.subtree(prefix))], ["dir_path"]), {}

    def duplicate_report(self):
        by_path = {e.catalog_path: e for e in self.man.files}
        keep = self._paths(p for g in self.man.duplicate_groups() for p in g)
        rows = [(p, by_path[p].sha1, by_path[p].size_mb) for p in keep]
        return _Frame(rows, ["full_path", "sha1_hash", "size"])


def _ops(man):
    dup = next(p for g in man.duplicate_groups() for p in g)
    needle = next(e.full_path for e in man.files if e.catalog_path == dup)
    return [("dup_of_file", needle), ("subtree", man.root[:-1]), ("dup_report", "")]


def test_checker_accepts_right_answers(tmp_path):
    man = _tree(tmp_path, "a", 2, n_files=200)
    run = bench.Run(types.SimpleNamespace(trace=0), str(tmp_path))
    for op, arg in _ops(man):
        _, ok = run.lookup(_Engine(man), man, op, arg)
        run.check(op, ok)
    assert (run.attempted, run.failed) == (3, 0)


def test_checker_flags_an_injected_wrong_answer(tmp_path):
    man = _tree(tmp_path, "a", 2, n_files=200)
    run = bench.Run(types.SimpleNamespace(trace=0), str(tmp_path))
    for op, arg in _ops(man):
        _, ok = run.lookup(_Engine(man, drop_one=True), man, op, arg)
        assert not ok, op
        run.check(op, ok)
    assert (run.attempted, run.failed) == (3, 3)


# -- span arithmetic ---------------------------------------------------------------


def _span(i, parent, start, end, jobs=0, py4j=0):
    return Span(i, f"s{i}", "x", parent, start, end, jobs, py4j)


def test_self_time_subtracts_children():
    spans = [
        _span(1, None, 0.0, 10.0, jobs=9, py4j=100),
        _span(2, 1, 1.0, 4.0, jobs=4, py4j=30),
        _span(3, 2, 2.0, 3.0, jobs=1, py4j=10),
        _span(4, 1, 6.0, 7.5, jobs=2, py4j=20),
    ]
    st = self_times(spans)
    assert st == {1: 10.0 - 3.0 - 1.5, 2: 3.0 - 1.0, 3: 1.0, 4: 1.5}
    assert self_counts(spans, "jobs") == {1: 3, 2: 3, 3: 1, 4: 2}
    assert self_counts(spans, "py4j") == {1: 50, 2: 20, 3: 10, 4: 20}
    assert abs(sum(st.values()) - 10.0) < 1e-9


def test_layer_metrics_split_mv_writes_and_wave_coverage():
    def span(i, parent, layer, name, start, end, jobs=0, **attrs):
        return Span(i, name, layer, parent, start, end, jobs, 0, attrs)

    spans = [
        span(1, None, "engine", "hash_once", 0.0, 10.0, jobs=9, n=5),
        span(2, 1, "engine.exec", "localCheckpoint", 1.0, 6.0, jobs=4),
        span(3, 1, "store.commit", "apply_changes", 6.0, 7.0, jobs=1, table="file", rows=5,
             bytes=1_000_000),
        span(4, 1, "store.mv", "refresh_mview", 7.0, 9.0, jobs=3, table="v", bytes=500_000),
        span(5, 4, "store.commit", "merge", 7.5, 8.5, jobs=2, table="v", rows=7, bytes=500_000),
    ]
    m = bench.catalog_layer_metrics(spans, {"tree_mb": 2.0, "tree_files": 10})
    # the MV's own merge is not a catalog commit
    assert (m["store_commit_rows"], m["store_commit_jobs"]) == (5, 1)
    assert m["store_commit_mb_written"] == 1.0
    assert (m["store_mv_jobs"], m["store_mv_mb_written"], m["store_mv_self_s"]) == (3, 0.5, 1.0)
    # 8 of the wave's 10 s are covered by its child spans
    assert m["wave_span_coverage"] == 0.8
    assert (m["engine_self_s"], m["engine_exec_s"], m["engine_jobs"]) == (2.0, 5.0, 5)
    assert (m["hashing_files"], m["hashing_mb"]) == (5, 1.0)
    empty = bench.catalog_layer_metrics([], {})
    assert set(empty) == set(m) and not any(empty.values())


def test_overlapping_children_count_once():
    # two pool-thread children of one span overlap in [3, 4]
    spans = [_span(1, None, 0.0, 10.0), _span(2, 1, 2.0, 4.0), _span(3, 1, 3.0, 6.0)]
    assert self_times(spans)[1] == 10.0 - 4.0
    assert covered([(2.0, 4.0), (3.0, 6.0), (9.0, 12.0)], 0.0, 10.0) == 5.0


# -- wrappers ------------------------------------------------------------------------


def test_wrapped_functions_return_identical_results():
    from file_db_spark.filedb import scan

    class Store:
        def apply_changes(self, name, rows):
            return {"inserted": rows, "updated": 0, "deleted": 0}

    mod = types.SimpleNamespace(f=lambda a, b=1: (a, b, [a] * b))
    inputs = [("/a/b", "c.txt"), ("/", "x"), ("C:\\", "y")]
    plain = ([scan.child_path(*a) for a in inputs], mod.f(3, b=2), Store().apply_changes("t", 5))
    originals = (scan.child_path, mod.f, Store.apply_changes)

    tracer = Tracer()
    tracer.patch(scan, "child_path", "scan")
    tracer.patch(mod, "f", "x")
    tracer.patch(Store, "apply_changes", "store.commit", on_call=bench._record_result)
    try:
        traced = (
            [scan.child_path(*a) for a in inputs], mod.f(3, b=2), Store().apply_changes("t", 5)
        )
    finally:
        tracer.restore()
    assert traced == plain
    assert [s.name for s in tracer.spans] == ["child_path"] * 3 + ["f", "apply_changes"]
    assert (scan.child_path, mod.f, Store.apply_changes) == originals


def test_under_traces_only_calls_from_that_layer():
    mod = types.SimpleNamespace(leaf=lambda x: x + 1)
    tracer = Tracer()
    tracer.patch(mod, "leaf", "engine.exec", under="engine")
    try:
        assert mod.leaf(1) == 2
        with tracer.span("hash_once", "engine"):
            assert mod.leaf(2) == 3
            with tracer.span("apply_changes", "store.commit"):
                assert mod.leaf(3) == 4
    finally:
        tracer.restore()
    leaves = [s for s in tracer.spans if s.name == "leaf"]
    assert len(leaves) == 1 and leaves[0].layer == "engine.exec"


def test_py4j_counter_skips_the_tracers_own_calls():
    class Conn:
        def send_command(self, cmd):
            return cmd.upper()

    conn = Conn()
    tracer = Tracer(job_counter=lambda: conn.send_command("jobs") and 0)
    tracer.instrument_py4j(Conn)
    try:
        with tracer.span("outer", "x") as s:
            assert conn.send_command("a") == "A"
            conn.send_command("b")
    finally:
        tracer.restore()
    assert s.py4j == 2 and tracer.py4j_calls == 2
    conn.send_command("c")
    assert tracer.py4j_calls == 2


def test_metric_names_match_benchmark_json():
    import json

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench.PER_LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} == set(bench.WORKLOADS)
