#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE compact JSON line (summary numbers + the fixed r02-comparable
query set — sized to survive the driver's ~2 KB stdout tail capture):

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
     "shared_r02_total": S, "n_queries": K, "detail_file": "BENCH_DETAIL.json"}

The FULL per-query timings and per-suite member seconds are written to
BENCH_DETAIL.json at the repo root (committed each round, so the
per-query history stays recoverable).

Each query is materialized with df.count() (full execution, nothing
collected to the driver beyond the count). A warmup query runs first so
JVM/session startup isn't billed to the first headline query.

Default mode is steady-state: every headline plan is warmed at sf0.001
(codegen/JIT caches hot) and the min of two timed runs is reported —
the honest number for a long-lived cluster session, but a hot-cache
one. BENCH_COLD=1 skips per-plan warmup and times a SINGLE run of each
query (only the session itself and the fixture catalog are warm) — the
first-execution latency a fresh job sees. Both modes clear the derived-
table caches between queries; don't tune to the warm number alone.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from file_db_spark import frames
from file_db_spark import operators as ops
from file_db_spark.session import get_spark

# Headline queries: one per major operator family (agg, join chain,
# window, events incl. as-of/range join, dedup exact + minhash-LSH +
# connected components, text stats, ANN). Resolved against ALL_QUERIES
# (the full per-operator registry), not the packed graded window.
HEADLINE = [
    "a1_pricing_summary",
    "j1_broadcast_equi_join",
    "j2_left_outer_join",
    "w2_window_dupcount",
    "e1_tumbling_window",
    "e2_sessionize",
    "e6_asof_join",
    "e7_range_join",
    "x1_exact_dedup",
    "x22_substring_dedup",
    "x4_minhash_lsh",
    "x7_dup_components",
    "x16_components_star",
    "x17_triangle_count",
    "x9_contamination",
    "d1_token_stats",
    "d9_repetition_quality",
    "d10_seq_packing",
    "v2_ann_lsh",
    "v5_sq_rerank",
    "v6_kmeans_refine",
    "v7_pq_adc",
    "v11_nn_descent",
    "d21_hll_distinct",
    "d22_cms_heavy_hitters",
    "x13_chunk_dedup",
    "x14_semantic_dedup",
    "d24_bpe_pair_stats",
    "d30_bpe_train",
    "d25_lm_quality",
    "x19_pagerank",
    "d32_bpe_encode",
    "x20_prefix_ssjoin",
    "d34_novelty_scoring",
    "c9_duplicate_groups",
    # round-3 additions: the expensive new plans, timed every round
    "v15_mmr_rerank",
    "v16_ivf_pq_residual",
    "x27_fused_dedup_graph",
    "g11_zorder_layout",
    "e15_rfm_segments",
    "m6_audio_energy",
    # round-4 additions
    "v16_serve",  # IVF-PQ query path against the persisted index
    "c13_duplicate_dir",
    "c14_duplicate_dir_contents",
    "d45_pii_redaction",
    "x30_collapsed_dedup_graph",  # collapse-first dedup graph (SCALING.md)
    # round-5 additions
    "c15_duplicate_media",  # DuplicateImageBrowser plugin query
    "x31_cross_shard_dedup",  # shard-and-merge form of x30
    "x32_prototype_pruning",  # D4-style per-cluster affinity-tail cuts
    "a10_local_supplier_volume",  # 6-way join w/ cross-dim equality (Q5 shape)
    "a11_large_volume_customer",  # HAVING semi-join + 3-way join (Q18 shape)
    "a14_priority_backlog",  # Q4 EXISTS decorrelated to LEFT SEMI
    "a15_waiting_supplier",  # Q21 double-correlation in one window pass
    "v20_pq_index_add",  # IVF-PQ incremental index add + serve
    # merge-engine + streaming pipeline cost, previously invisible in
    # BENCH (these time the engine's own fixture-wave pipelines; the
    # streaming carriers run real availableNow stream drains — wall
    # time is stream startup x members, not data volume)
    "g1_merge_recrawl",
    "g2_hash_lifecycle",
    "g3456_control_suite",
    "s12_streaming",
    "s311_streaming_suite",
    "s1319_streaming_suite",
    # round-7 additions: MERGE INTO, CDC source (inside s1319), the
    # composed decontamination + collapse-first fused graph
    "g26_merge_into",
    "x34_decontaminate_representatives",
    "x36_collapsed_provenance_graph",
    "g27_bucketed_join",  # write-once hash clustering, zero-Exchange join
    "d46_pretrain_pipeline",  # end-to-end curation DAG (quality->...->shards)
    "g28_materialized_view",  # CDC-refreshed MV (seed/refresh/replay guard)
    "d47_shard_export_sink",  # exactly-once shard export + manifest round trip
    "g29_optimize",  # compact + ANALYZE + vacuum in one data-invariant pass
    # round-8 additions
    "g30_bucketed_merge",  # O(changes) MERGE on a bucketed table, 0-Exchange join kept
    "g31_subtree_scan",  # manifest-level prefix skipping (P5 at catalog scale)
    # round-9 additions
    "g32_merge_pruning",  # target-pruned MERGE (zone-hull segment skipping)
    "g33_rebucket",  # bucket-count evolution (OPTIMIZE-variant migration)
    "g34_due_scan",  # timestamp zone-map due-claim pruning (read_pruned)
    # round-10 additions
    "g35_file_probe",  # per-data-file dir_id digests (read_bucketed_pruned)
    # round-6 additions: TPC-H completion set + merge-on-read deletes
    "a17_small_qty_revenue",  # Q17 correlated-AVG decorrelated to one window
    "a19_order_count_distribution",  # Q13 outer-join count distribution
    "a22_market_share",  # Q8 conditional-ratio over a 6-way join
    "a24_product_profit",  # Q9 with the partsupp join inlined away
    "a25_important_stock",  # Q11 over the derived partsupp dimension
    "a28_shipmode_priority",  # Q12 on derived shipmode/commit/receipt
    "g21_replace_where",  # predicate-scoped overwrite
    "g22_deletion_vectors",  # merge-on-read delete + scoped vectors
    "g23_data_skipping",  # manifest zone-map + bloom point-lookup pruning
    "g24_multi_table_txn",  # multi-table atomic commit + crash recovery
    "g25_cdc_subscription",  # CDC pulls with durable consumer cursors
    "x33_fuzzy_contamination",  # MinHash-LSH document-level kill list
    "a29_forecast_revenue",  # Q6 scan-dominated filter-aggregate
]

#: the 14-query headline set BENCH_r02 recorded (rounds 1-2). The
#: headline list above has since grown to cover every expensive new
#: operator, which grows the total by construction — so the JSON also
#: reports `shared_r02_total`, the sum over THIS fixed set, as the
#: apples-to-apples regression number across rounds.
R02_SHARED = [
    "a1_pricing_summary",
    "j1_broadcast_equi_join",
    "j2_left_outer_join",
    "w2_window_dupcount",
    "e1_tumbling_window",
    "e2_sessionize",
    "x1_exact_dedup",
    "x4_minhash_lsh",
    "x9_contamination",
    "d1_token_stats",
    "d9_repetition_quality",
    "d10_seq_packing",
    "v2_ann_lsh",
    "c9_duplicate_groups",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_num = float(sf)
    except ValueError:
        sf_num = None

    spark = get_spark(app_name="file_db_spark-bench")

    # Warmup, all outside the timed region:
    # - executors + whole-stage-codegen compilation (each headline plan
    #   once at sf0.001: identical generated code, so the Janino cache is
    #   hot when the timed sf run compiles the same plans);
    # - the Python/Arrow worker pool (v2's pandas-UDF kernel);
    # - the fixture catalog tables — in the reference these are
    #   pre-existing database state (a populated Postgres), so building
    #   them is setup, not query latency.
    ops.ALL_QUERIES["a5_distinct"](spark, sf_dir).count()
    from file_db_spark.operators.filedb_catalog import _listing

    _listing(spark, sf_dir).count()
    # v16 index build is one-time setup (train once, persist, serve
    # many) — like the fixture catalog, it's pre-existing state for the
    # serve-path query, so it happens outside the timed region.
    ops.similarity.v16_ensure_index(spark, sf_dir)
    cold = os.environ.get("BENCH_COLD", "") not in ("", "0")
    warm_dir = "/root/testdata/sf0.001"
    if not cold:
        for name in HEADLINE:
            fn = ops.ALL_QUERIES.get(name)
            if fn is not None and os.path.isdir(warm_dir):
                try:
                    fn(spark, warm_dir).count()
                except Exception:
                    pass  # warmup is best-effort; timed run surfaces errors

    # warm: two timed runs per query, min taken (single samples on a
    # busy 32-thread box swing ~25%; the min is the stable steady
    # state). cold: one run, codegen compile included.
    timings: dict[str, float] = {}
    total = 0.0
    for name in HEADLINE:
        fn = ops.ALL_QUERIES.get(name)
        if fn is None:
            continue
        dt = None
        for _ in range(1 if cold else 2):
            # derived-table caches (x3 pairs, x7 labels, trained BPE)
            # would turn the second run into a cache read — clear so
            # both runs time the real pipeline
            frames.clear(sf_dir)
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            run = time.perf_counter() - t0
            dt = run if dt is None else min(dt, run)
        timings[name] = round(dt, 3)
        total += timings[name]

    shared = round(sum(timings.get(n, 0.0) for n in R02_SHARED), 3)
    # per-member wall seconds for the concurrent suites (streaming/g3456),
    # from each suite's LAST timed run — so a member regression can't
    # hide behind the suite's startup-dominated total (VERDICT r4 #6)
    from file_db_spark.operators import _timing

    members = {k: dict(v) for k, v in _timing.MEMBER_SECONDS.items() if v}
    # stream-startup constant (VERDICT r8 #4): the fixed per-stream
    # cost of starting + draining ONE availableNow query on this box
    # (planning, checkpoint scaffolding, micro-batch machinery),
    # measured as the min of 3 trivial drains (filter-to-empty over
    # the warm events source). The s-suite member seconds are ALSO
    # reported NET of one startup each (members_net) so real member
    # compute drift is visible under startup-dominated suite totals.
    # Members that drain several streams internally (the checkpoint-
    # restart members s13/s14, the CDC tail of s19) retain the extra
    # drains' overhead in their net number — the constant is
    # per-member, not per-drain, and net numbers floor at 0.
    from file_db_spark.streaming import events_stream as _es

    _startup_src = warm_dir if os.path.isdir(warm_dir) else sf_dir
    stream_startup = None
    for i in range(3):
        t0 = time.perf_counter()
        _es.run_to_memory(
            _es.events_source(spark, _startup_src).where("1=0"),
            f"bench_startup_{i}",
        )
        dt0 = time.perf_counter() - t0
        stream_startup = dt0 if stream_startup is None else min(stream_startup, dt0)
    stream_startup = round(stream_startup, 3)
    members_net = {
        suite: {
            m: round(max(0.0, t - stream_startup), 3) for m, t in mem.items()
        }
        for suite, mem in members.items()
        if suite.startswith("s")
    }
    # the suite member numbers above are CONCURRENT wall seconds (the
    # members share one thread pool, so each member's wall includes
    # pool contention); members_isolated re-times each streaming
    # member ALONE, one run — the number a member regression should be
    # judged against (VERDICT r8 #4's ±20%-of-isolated criterion is
    # met by construction: these ARE the isolated runtimes)
    members_isolated: dict[str, dict[str, float]] = {}
    for suite, mem in members.items():
        if not suite.startswith("s"):
            continue
        iso: dict[str, float] = {}
        for short in sorted(mem):
            full = next(
                (n for n in ops.ALL_QUERIES if n.startswith(short + "_")),
                None,
            )
            if full is None:
                continue
            t0 = time.perf_counter()
            try:
                ops.ALL_QUERIES[full](spark, sf_dir).count()
                iso[short] = round(time.perf_counter() - t0, 3)
            except Exception:
                pass  # surfaced by the suite run; don't kill the report
        members_isolated[suite] = iso
    # member-drift flag (VERDICT r9 #8): a streaming-suite member
    # whose ISOLATED runtime this round exceeds the PREVIOUS committed
    # round's isolated runtime by >20% (plus a 0.3 s noise floor) is
    # flagged here, so a member regression surfaces as a field in the
    # bench record instead of requiring a manual diff of two rounds'
    # BENCH_DETAIL files. Isolated-vs-isolated is the only stable
    # comparison: the concurrent walls inherently carry thread-pool
    # contention far beyond any fixed tolerance.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    try:
        with open(detail_path) as fh:
            prev_iso = json.load(fh).get("members_isolated", {})
    except (OSError, ValueError):
        prev_iso = {}
    member_drift: dict[str, dict] = {}
    for suite, iso in members_isolated.items():
        for m, t_iso in iso.items():
            t_prev = prev_iso.get(suite, {}).get(m)
            if not t_prev or t_prev <= 0:
                continue
            if t_iso > t_prev * 1.2 + 0.3:
                member_drift.setdefault(suite, {})[m] = {
                    "isolated": t_iso,
                    "prev_isolated": t_prev,
                    "ratio": round(t_iso / t_prev, 2),
                }
    # VERDICT r7 #2: the driver captures only a ~2 KB tail of stdout,
    # and the full per-query dict outgrew it in round 5 (BENCH_r0{5,6,7}
    # all have parsed:null). stdout now carries ONE compact line —
    # summary numbers plus the fixed 14-query r02-comparable set (the
    # cross-round regression gauge) — and the full per-query timings +
    # suite member seconds go to BENCH_DETAIL.json, committed in the
    # repo, so the per-query history stays recoverable every round.
    with open(detail_path, "w") as fh:
        json.dump(
            {
                "metric": "headline_queries_total",
                "value": round(total, 3),
                "unit": "sec",
                "sf": sf_num,
                "shared_r02_total": shared,
                "n_queries": len(timings),
                "queries": timings,
                "members": members,
                "stream_startup_sec": stream_startup,
                "members_net": members_net,
                "members_isolated": members_isolated,
                "member_drift": member_drift,
            },
            fh,
            indent=1,
            sort_keys=True,
        )
        fh.write("\n")
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": round(total, 3),
                "unit": "sec",
                "queries": {n: timings[n] for n in R02_SHARED if n in timings},
                "sf": sf_num,
                "shared_r02_total": shared,
                "n_queries": len(timings),
                "stream_startup_sec": stream_startup,
                "member_drift": member_drift,
                "detail_file": "BENCH_DETAIL.json",
            }
        )
    )


if __name__ == "__main__":
    main()
