#!/usr/bin/env python
"""Scale probe: does each expensive headline plan stay ~linear when the
data grows 10x? (The question a 100 TB deployment actually asks — a
hidden superlinear stage that sf0.1 can't see shows up as exponent > 1.)

Synthesizes an sf1.0-equivalent dataset by unioning 10 id-shifted
copies of the sf0.1 tables that the probed queries scan (documents /
embeddings / events; the TPC-H tables are copied through unchanged),
then times each probed query at sf0.1 and sf1.0 and reports the
scaling exponent log10(t_sf1 / t_sf01).

Id offsets preserve the generators' modular structure so the scaled
data stresses the same code paths (bigger dup groups, denser LSH
buckets, 10x users in the same time range — deliberately HARDER skew
than independent sampling would produce):
- documents: doc_id + k*133200 (133200 = lcm(200, 720, 37) — keeps
  dup_key=doc_id%200 groups, hash-subset %10/%20 strata, %37 names);
- embeddings: vec_id + k*1000000 (%8 coarse cells preserved; queries
  stay vec_id < 5, so the query set is fixed while the corpus is 10x);
- events: event_id + k*100000, user_id + k*1500, same ts range.

Usage: python tools/scale_probe.py [query ...]   (default: the probe set)
Writes one JSON line per query plus a summary; SCALING.md records the
committed results and the per-query verdicts.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC = "/root/testdata/sf0.1"
#: copy multiplier — 10 = sf1.0 (the standard probe); PROBE_COPIES=100
#: synthesizes sf10 for a two-decade exponent on the scale-critical
#: entries (still <100 MB of parquet; the box handles it easily)
COPIES = int(os.environ.get("PROBE_COPIES", "10"))
# the per-decade exponent divides by log10(COPIES): 1 would divide by
# zero (and label the probe dir 'sf0.1', colliding with SRC); <10 gives
# sub-decade noise-dominated exponents — refuse early with a clear error
if COPIES < 10:
    raise SystemExit(
        f"PROBE_COPIES must be >= 10 (one decade of growth); got {COPIES}"
    )
DST = os.path.join(REPO, ".scale_probe", f"sf{COPIES / 10:.1f}")

#: the most expensive headline plans of BENCH_r03, i.e. the ones whose
#: asymptotics matter most (all scan documents/embeddings/events)
PROBE_SET = [
    "v16_ivf_pq_residual",
    # x27_fused_dedup_graph is NOT probed: the probe data's 10x
    # exact-dup cliques now trip its duplication-density guard by
    # design (VERDICT r7 #4) — x36_collapsed_provenance_graph is the
    # deployable form and carries the provenance probe
    "x36_collapsed_provenance_graph",
    "v15_mmr_rerank",
    "v11_nn_descent",
    "x19_pagerank",
    "x20_prefix_ssjoin",
    "x16_components_star",
    "v7_pq_adc",
    "d32_bpe_encode",
    "x4_minhash_lsh",
    # round-5 coverage extension (VERDICT r4 #5): the merge-engine
    # waves, the streaming suites, and the catalog-domain duplicate
    # queries — their fixture pipelines all derive from documents, so
    # the 10x corpus stresses them too
    "x30_collapsed_dedup_graph",
    "g1_merge_recrawl",
    "g2_hash_lifecycle",
    "g3456_control_suite",
    "s12_streaming",
    "s311_streaming_suite",
    "s1319_streaming_suite",
    "c13_duplicate_dir",
    "c14_duplicate_dir_contents",
    "c15_duplicate_media",
    # round-5 additions: the shard-and-merge dedup form must track
    # x30's flat profile, and the x32 pruning pass rides the v6 Lloyd
    # loop + one per-cell rank window
    "x31_cross_shard_dedup",
    "x32_prototype_pruning",
    # round-5 relational additions: orders+lineitem now scale by
    # order-key shift (stable dims), so the join/agg plans are
    # probeable — a1's single-shuffle agg, the Q3/Q5/Q18 join chains,
    # the decorrelated window-min, and the as-of join
    "a1_pricing_summary",
    "a9_shipping_priority",
    "a10_local_supplier_volume",
    "a11_large_volume_customer",
    "a13_decorrelated_min",
]

_DOC_OFF = 133200  # lcm(200, 720, 37)
_VEC_OFF = 1000000
_EVT_OFF = 100000
_USR_OFF = 1500
#: relational facts (orders+lineitem) scale by order-key shift while
#: customer/supplier/part stay fixed — facts grow 10x against stable
#: dims, FKs intact (the realistic fact-vs-dim growth asymmetry), and
#: per-order lineitem groups keep their size so HAVING/group
#: selectivities are preserved
_ORD_OFF = 150000


def synthesize() -> None:
    import duckdb

    os.makedirs(DST, exist_ok=True)
    con = duckdb.connect()
    jobs = {
        "documents": f"""
            SELECT doc_id + k * {_DOC_OFF} AS doc_id, text, lang, source, n_chars
            FROM '{SRC}/documents.parquet', range({COPIES}) t(k)
        """,
        "embeddings": f"""
            SELECT vec_id + k * {_VEC_OFF} AS vec_id, embedding, label
            FROM '{SRC}/embeddings.parquet', range({COPIES}) t(k)
            WHERE k = 0 OR vec_id >= 5  -- query vectors stay unique
        """,
        "events": f"""
            SELECT event_id + k * {_EVT_OFF} AS event_id, ts,
                   user_id + k * {_USR_OFF} AS user_id, event_type, value, props
            FROM '{SRC}/events.parquet', range({COPIES}) t(k)
        """,
        "orders": f"""
            SELECT o_orderkey + k * {_ORD_OFF} AS o_orderkey, o_custkey,
                   o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
            FROM '{SRC}/orders.parquet', range({COPIES}) t(k)
        """,
        "lineitem": f"""
            SELECT l_orderkey + k * {_ORD_OFF} AS l_orderkey, l_partkey,
                   l_suppkey, l_linenumber, l_quantity, l_extendedprice,
                   l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate
            FROM '{SRC}/lineitem.parquet', range({COPIES}) t(k)
        """,
    }
    for name, q in jobs.items():
        out = os.path.join(DST, f"{name}.parquet")
        if not os.path.exists(out):
            con.execute(f"COPY ({q}) TO '{out}' (FORMAT PARQUET)")
    for name in (
        "region", "nation", "customer", "supplier", "part"
    ):
        out = os.path.join(DST, f"{name}.parquet")
        if not os.path.exists(out):
            shutil.copyfile(os.path.join(SRC, f"{name}.parquet"), out)


def main() -> None:
    names = sys.argv[1:] or PROBE_SET
    synthesize()

    from file_db_spark import frames
    from file_db_spark import operators as ops
    from file_db_spark.session import get_spark

    spark = get_spark(app_name="file_db_spark-scale-probe")
    results = {}
    for name in names:
        fn = ops.ALL_QUERIES[name]
        times = {}
        big = f"sf{COPIES / 10:.1f}"
        for sf_name, sf_dir, n_runs in (("sf0.1", SRC, 2), (big, DST, 1)):
            dt = None
            for _ in range(n_runs):
                frames.clear(sf_dir)
                t0 = time.perf_counter()
                fn(spark, sf_dir).count()
                run = time.perf_counter() - t0
                dt = run if dt is None else min(dt, run)
            times[sf_name] = round(dt, 3)
        import math

        # exponent normalized per decade of growth (10 copies = 1
        # decade, 100 copies = 2 decades)
        exp = math.log10(times[big] / times["sf0.1"]) / math.log10(COPIES)
        results[name] = {
            "sf0.1_sec": times["sf0.1"],
            f"{big}_sec": times[big],
            "exponent": round(exp, 3),
        }
        print(json.dumps({"query": name, **results[name]}), flush=True)
    print(json.dumps({"metric": "scale_probe", "copies": COPIES, "queries": results}))


if __name__ == "__main__":
    main()
