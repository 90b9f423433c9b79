"""Scale-shape pins for the iterative dedup operators.

x7's convergence loop must not accumulate lineage: every round's label
table is localCheckpoint()ed, so the FINAL result's plan is a scan of
checkpointed blocks, not a 20-deep nest of union/groupBy rounds. A
regression here is invisible to the value oracle (same numbers, plan
grows per round) — this is the test that catches it.
"""

from __future__ import annotations

from file_db_spark.operators import dedup


def _plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_x7_lineage_truncated(spark, sf_dir):
    df = dedup.x7_dup_components(spark, sf_dir)
    plan = _plan_of(df)
    # the returned plan reads the checkpointed label RDD, so none of the
    # per-round operators may survive into it
    assert "Scan ExistingRDD" in plan
    assert "Union" not in plan
    assert "HashAggregate" not in plan
    # shallow: project over the checkpoint scan, nothing else
    assert len(plan.splitlines()) <= 6


def test_x7_matches_x10_keepers(spark, sf_dir):
    labels = {
        r["doc_id"]: r["component_id"]
        for r in dedup.x7_dup_components(spark, sf_dir).collect()
    }
    surv = dedup.x10_dedup_survivors(spark, sf_dir).collect()
    assert labels  # fixture corpus has near-dup families at every SF
    for r in surv:
        want = labels.get(r["doc_id"], r["doc_id"])
        assert r["keeper_id"] == want
        assert r["is_duplicate"] == (want != r["doc_id"])
    # every component label is its own minimum (min-label fixpoint)
    for v, lab in labels.items():
        assert lab <= v
        assert labels.get(lab, lab) == lab


def test_x15_bloom_one_sided(spark):
    # the Bloom screen may over-flag (false positives) but must NEVER
    # miss a truly contaminated gram: n_bloom_hits >= n_true per doc,
    # and every x9-exact doc appears in the x15 result
    from file_db_spark.operators import dedup

    sf_dir = "/root/testdata/sf0.01"
    bloom = {r["doc_id"]: r for r in dedup.x15_bloom_contamination(spark, sf_dir).collect()}
    exact = {r["doc_id"]: r["n_overlap"] for r in dedup.x9_contamination(spark, sf_dir).collect()}
    assert all(r["n_bloom_hits"] >= r["n_true"] for r in bloom.values())
    for doc, n in exact.items():
        assert doc in bloom and bloom[doc]["n_true"] == n


def test_x16_star_equals_x7_propagation(spark, sf_dir):
    # both algorithms must resolve the same components on the real
    # near-dup graph (also pinned cross-engine by the shared oracle)
    a = {
        (r["doc_id"], r["component_id"])
        for r in dedup.x7_dup_components(spark, sf_dir).collect()
    }
    b = {
        (r["doc_id"], r["component_id"])
        for r in dedup.x16_components_star(spark, sf_dir).collect()
    }
    assert a == b and a


def test_star_contraction_diameter_proof(spark):
    # a 1000-vertex path has diameter 999: min-label propagation needs
    # one round per hop, star contraction must finish in O(log^2 n) —
    # assert a hard logarithmic-scale bound and exact labels
    from pyspark.sql import functions as F

    n = 1000
    e = spark.range(n - 1).select(F.col("id").alias("a"), (F.col("id") + 1).alias("b"))
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    stats = {}
    labels = dedup._star_contraction_components(
        sym, "path-proof", lambda f: f, stats=stats
    )
    got = labels.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("lab") == 0, 1).otherwise(0)).alias("zeros"),
    ).collect()[0]
    assert (got["n"], got["zeros"]) == (n, n)
    assert stats["rounds"] <= 16, stats  # 2*log2(1000) + slack; diameter is 999


def test_x17_triangle_count_clique_math(spark, sf_dir):
    # every vertex of a k-clique sits in C(k-1, 2) triangles; verify on
    # the fixture graph against a brute-force closure of the x3 pairs
    from itertools import combinations

    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in dedup.x3_ngram_jaccard(spark, sf_dir).collect()
    ]
    edge_set = set(pairs)
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    for v, nbrs in adj.items():
        t = sum(
            1
            for p, q in combinations(sorted(nbrs), 2)
            if (min(p, q), max(p, q)) in edge_set
        )
        if t:
            want[v] = t
    got = {
        r["doc_id"]: r["n_triangles"]
        for r in dedup.x17_triangle_count(spark, sf_dir).collect()
    }
    assert got == want and got  # fixture corpus has at least one triangle


def test_x18_equals_filtered_x3(spark, sf_dir):
    # the incremental result must equal the FULL x3 pair table
    # restricted to pairs touching the new batch — same caps, same
    # jaccard values, correct pair_type tags
    from pyspark.sql import functions as F
    from file_db_spark.operators.textops import _HEX_BUCKET

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    new_ids = {
        r["doc_id"]
        for r in d.select("doc_id")
        .where(F.expr(_HEX_BUCKET) >= dedup.INCR_NEW_BUCKET)
        .collect()
    }
    full = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.x3_ngram_jaccard(spark, sf_dir).collect()
        if r["doc_a"] in new_ids or r["doc_b"] in new_ids
    }
    incr = dedup.x18_incremental_neardup(spark, sf_dir).collect()
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in incr}
    assert got == full and got
    for r in incr:
        want = "new-new" if (r["doc_a"] in new_ids and r["doc_b"] in new_ids) else "new-base"
        assert r["pair_type"] == want


def test_x19_pagerank_invariants(spark, sf_dir):
    rows = dedup.x19_pagerank(spark, sf_dir).collect()
    assert rows  # the fixture corpus has a non-empty near-dup graph
    n = len(rows)
    total = sum(r["pr_scaled"] for r in rows)
    base = dedup.PR_SCALE // n
    # rank mass is conserved up to floor-division truncation: each of
    # the 3 rounds loses < 1 unit per (edge-contribution + vertex)
    assert total <= dedup.PR_SCALE
    assert total >= dedup.PR_SCALE - dedup.PR_ROUNDS * (dedup.PR_SCALE // 100 + 4 * n)
    # every rank at least the teleport floor, and within a component
    # higher-degree vertices can only be out-ranked by bounded amounts:
    # check the global extremes are sane
    floor = (base * 15) // 100
    assert all(r["pr_scaled"] >= floor for r in rows)
    by_rank = sorted(rows, key=lambda r: -r["pr_scaled"])
    # the top-ranked vertex has at least median degree (centrality
    # tracks connectivity on the near-dup graph)
    degrees = sorted(r["degree"] for r in rows)
    assert by_rank[0]["degree"] >= degrees[len(degrees) // 2]


def test_x22_substring_dedup_vs_bruteforce(spark, sf_dir):
    """x22's duplicated-span accounting must equal an independent pure-
    Python recomputation (same normalization, rolling L-gram counts,
    interval union) — catches off-by-one errors in the interval merge
    that the DuckDB oracle (structurally similar SQL) could share."""
    import hashlib
    import re
    from collections import Counter

    import duckdb

    L = dedup.SUBSTR_L
    docs = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    toks = {}
    for doc_id, text in docs:
        norm = re.sub(r"\s+", " ", re.sub(r"[^a-z0-9 ]", " ", text.lower())).strip()
        toks[doc_id] = [t for t in norm.split(" ") if t]
    counts: Counter = Counter()
    for w in toks.values():
        for i in range(len(w) - L + 1):
            counts[" ".join(w[i : i + L])] += 1
    expected = {}
    for doc_id, w in toks.items():
        if not w:
            continue
        covered = set()
        for i in range(len(w) - L + 1):
            if counts[" ".join(w[i : i + L])] >= 2:
                covered.update(range(i, i + L))
        # merged islands = runs of consecutive covered positions
        n_spans = sum(1 for p in covered if p - 1 not in covered)
        clean = " ".join(t for i, t in enumerate(w) if i not in covered)
        expected[doc_id] = (
            len(w),
            n_spans,
            len(covered),
            hashlib.md5(clean.encode()).hexdigest(),
        )

    rows = dedup.x22_substring_dedup(spark, sf_dir).collect()
    assert {r["doc_id"] for r in rows} == set(expected)
    for r in rows:
        n_tokens, n_spans, removed, digest = expected[r["doc_id"]]
        assert r["n_tokens"] == n_tokens
        assert r["n_spans"] == n_spans
        assert r["removed_tokens"] == removed
        assert r["kept_tokens"] == n_tokens - removed
        assert r["clean_digest"] == digest
        assert r["kept_tokens"] + r["removed_tokens"] == r["n_tokens"]
        if r["n_spans"]:
            assert r["max_span_len"] >= L
        else:
            assert r["max_span_len"] == 0 and r["removed_tokens"] == 0
    assert any(r["n_spans"] > 0 for r in rows)  # fixture corpus has dups


def test_x24_incremental_equals_x22_on_batch(spark, sf_dir):
    """For a NEW-batch doc, 'gram in corpus-key artifact OR repeated
    within the batch' is exactly 'corpus-wide count >= 2' (the doc
    itself supplies one occurrence), so x24's delta-only cleaning must
    reproduce x22's corpus-wide result row-for-row on the batch."""
    full = {
        r["doc_id"]: r
        for r in dedup.x22_substring_dedup(spark, sf_dir).collect()
        if r["doc_id"] % 10 == 0
    }
    inc = dedup.x24_substring_incremental(spark, sf_dir).collect()
    assert {r["doc_id"] for r in inc} == set(full)
    for r in inc:
        f = full[r["doc_id"]]
        for c in ("n_tokens", "n_spans", "removed_tokens", "kept_tokens",
                  "clean_digest"):
            assert r[c] == f[c], (r["doc_id"], c)
        # provenance covers every hit position at least once
        if r["n_spans"]:
            assert r["n_corpus_hits"] + r["n_batch_hits"] > 0


def test_x25_confusion_consistency(spark, sf_dir):
    """The confusion summary must agree with the labeled pairs, and
    tp+fn must equal the exact ground truth's pair count (x20) while
    tp+fp equals the detector's (x4)."""
    rows = dedup.x25_dedup_eval(spark, sf_dir).collect()
    pairs = [r for r in rows if r["part"] == "pair"]
    s = next(r for r in rows if r["part"] == "summary")
    by = {"tp": 0, "fp": 0, "fn": 0}
    for r in pairs:
        by[r["status"]] += 1
        if r["status"] == "tp":
            assert r["exact_jaccard"] is not None and r["est_jaccard"] is not None
        elif r["status"] == "fp":
            assert r["exact_jaccard"] is None
        else:
            assert r["est_jaccard"] is None
    assert (s["tp"], s["fp"], s["fn"]) == (by["tp"], by["fp"], by["fn"])
    n_truth = dedup.x20_prefix_ssjoin(spark, sf_dir).count()
    n_pred = dedup.x4_minhash_lsh(spark, sf_dir).count()
    assert s["tp"] + s["fn"] == n_truth
    assert s["tp"] + s["fp"] == n_pred


def test_x27_fused_graph_subsumes_x7(spark, sf_dir):
    """The fused graph's edge set contains x7's (x3-only) edges, so any
    two docs x7 puts in one family share a fused component; provenance
    flags are consistent with n_sources."""
    from file_db_spark.operators.dedup import (
        x7_dup_components,
        x27_fused_dedup_graph,
    )

    fused = {
        r["doc_id"]: r for r in x27_fused_dedup_graph(spark, sf_dir).collect()
    }
    for r in fused.values():
        flags = [r["in_x3"], r["in_x4"], r["in_x5"], r["in_x11"]]
        assert all(f in (0, 1) for f in flags)
        assert sum(flags) == r["n_sources"] >= 1
    x7 = {}
    for r in x7_dup_components(spark, sf_dir).collect():
        x7.setdefault(r["component_id"], []).append(r["doc_id"])
    for members in x7.values():
        comps = {fused[d]["component_id"] for d in members}
        assert len(comps) == 1  # x7 family stays together in the fusion


def test_x30_collapse_expansion_identity(spark, sf_dir):
    """Collapse-first invariants: every doc appears exactly once; exact
    copies share (rep, component); rep = its group's min doc_id;
    component_id = min doc_id over the fused component; every rep-level
    x4 pair lands in one component; group sizes sum to the corpus."""
    from file_db_spark.catalog import load_table
    from pyspark.sql import functions as F

    rows = dedup.x30_collapsed_dedup_graph(spark, sf_dir).collect()
    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()
    assert len(rows) == n_docs
    by_doc = {r["doc_id"]: r for r in rows}
    assert len(by_doc) == n_docs

    # exact groups: same md5(text) -> same rep/component; rep = min id
    groups: dict = {}
    for r in d.select("doc_id", F.md5("text").alias("k")).collect():
        groups.setdefault(r["k"], []).append(r["doc_id"])
    for ids in groups.values():
        reps = {by_doc[i]["rep_id"] for i in ids}
        comps = {by_doc[i]["component_id"] for i in ids}
        assert reps == {min(ids)}
        assert len(comps) == 1
        for i in ids:
            assert by_doc[i]["group_size"] == len(ids)
            assert by_doc[i]["is_rep"] == (1 if i == min(ids) else 0)

    # component_id is the min doc_id of its member set
    comp_members: dict = {}
    for r in rows:
        comp_members.setdefault(r["component_id"], []).append(r["doc_id"])
    for cid, members in comp_members.items():
        assert cid == min(members)

    # rep-level near-dup pairs fuse into one component
    rep_docs = d.join(
        spark.createDataFrame(
            [(by_doc[i]["rep_id"],) for i in by_doc if by_doc[i]["is_rep"] == 1],
            "doc_id bigint",
        ),
        "doc_id",
    ).select("doc_id", "text")
    for p in dedup._x4_pairs_from(rep_docs, lambda f: f).collect():
        assert (
            by_doc[p["doc_a"]]["component_id"] == by_doc[p["doc_b"]]["component_id"]
        )


def test_x31_shard_merge_equals_global_x30(spark, sf_dir):
    """x31's contract: shard-local collapse + rep-level reconciliation
    must reproduce the global collapse-first pipeline bit-exactly —
    the associativity that lets a 100 TB corpus dedup shard-by-shard
    and merge rep tables instead of re-scanning text."""
    cols = ["doc_id", "rep_id", "component_id", "group_size", "is_rep"]
    g = sorted(map(tuple, dedup.x30_collapsed_dedup_graph(spark, sf_dir).select(*cols).collect()))
    s = sorted(map(tuple, dedup.x31_cross_shard_dedup(spark, sf_dir).select(*cols).collect()))
    assert g == s


def test_x32_cut_sizes_and_ranks(spark, sf_dir):
    """x32's pruning policy is exact integer arithmetic: per cell the
    ranks are 1..n, drop_prototype is exactly floor(n*20/100) rows (the
    top of the affinity order), drop_outlier exactly floor(n*10/100)
    (the bottom), and cos is monotone non-increasing along the rank."""
    from collections import defaultdict

    from file_db_spark.operators.similarity import x32_prototype_pruning

    cells = defaultdict(list)
    for r in x32_prototype_pruning(spark, sf_dir).collect():
        cells[r["cell"]].append(r)
    assert cells
    for rows in cells.values():
        rows.sort(key=lambda r: r["proto_rank"])
        n = rows[0]["cell_n"]
        assert [r["proto_rank"] for r in rows] == list(range(1, n + 1))
        proto = [r for r in rows if r["action"] == "drop_prototype"]
        outlier = [r for r in rows if r["action"] == "drop_outlier"]
        assert len(proto) == n * 20 // 100
        assert len(outlier) == n * 10 // 100
        assert all(r["proto_rank"] <= len(proto) for r in proto)
        assert all(r["proto_rank"] > n - len(outlier) for r in outlier)
        cos = [r["cos_to_centroid"] for r in rows]
        assert cos == sorted(cos, reverse=True)


def test_x27_density_guard_trips_before_pair_enumeration(spark, tmp_path):
    """VERDICT r7 #4: x27's pair-level contract is quadratic in
    exact-duplicate clique size, so a duplication-dense corpus must be
    REFUSED up front with a pointer to the collapse-first x36 — not
    ground through k^2 pair enumeration."""
    import pandas as pd
    import pytest

    rows = [
        {
            "doc_id": i,
            "text": "the exact same document text, repeated verbatim",
            "lang": "en",
            "source": "web",
            "n_chars": 48,
        }
        for i in range(40)
    ] + [
        {
            "doc_id": 100 + i,
            "text": f"a unique document number {i} with its own words",
            "lang": "en",
            "source": "web",
            "n_chars": 48,
        }
        for i in range(5)
    ]
    pd.DataFrame(rows).to_parquet(tmp_path / "documents.parquet")
    with pytest.raises(ValueError, match="x36_collapsed_provenance_graph"):
        dedup.x27_fused_dedup_graph(spark, str(tmp_path))


def test_x27_guard_passes_bounded_cliques(spark, tmp_path):
    """Cliques at or under the threshold pass the guard (the audit-
    scale contract x27 keeps serving)."""
    import pandas as pd

    rows = [
        {
            "doc_id": k * 100 + i,
            "text": f"family {k} shared text body for the clique",
            "lang": "en",
            "source": "web",
            "n_chars": 42,
        }
        for k in range(6)
        for i in range(dedup.X27_MAX_EXACT_CLIQUE)
    ]
    pd.DataFrame(rows).to_parquet(tmp_path / "documents.parquet")
    dedup._x27_density_guard(
        spark.read.parquet(str(tmp_path / "documents.parquet"))
    )
