"""Exactly-once training-shard export sink.

d18 decides the shard layout (salted-hash shard + in-shard position);
this module WRITES it: one parquet file per shard under a staged
directory, published by an atomic manifest swap, with a content
fingerprint making re-runs idempotent — the exactly-once handoff a
trainer's data loader consumes (and the missing last step between the
d46 pipeline's selection and an actual training run).

Protocol (the store's stage/publish discipline applied to an export):

1. fingerprint the input: (row count, shard count, modular sum of
   xxhash64 over ALL exported columns, modular sum of xxhash64(id)) —
   one aggregate, order-independent, and sensitive to every payload
   value, the shard assignment, the in-shard order keys, and the
   shard count, so no layout or content change can no-op as a stale
   'already exported';
2. if the published _MANIFEST.json carries the same fingerprint, the
   export already happened → NO-OP (a retried orchestrator step costs
   one aggregate, writes nothing);
3. otherwise stage `data-<fingerprint>/shard=<k>/` — `repartition(n,
   shard)` puts every shard in exactly one task, so each shard
   directory holds exactly ONE file, sorted by in-shard position
   (`sortWithinPartitions` — the sort a sequential reader wants,
   costing nothing extra since the write scans the partition anyway);
4. publish by atomically replacing _MANIFEST.json (fingerprint, shard
   row counts, data dir). A crash before publish leaves an orphaned
   staging dir and the OLD manifest — the re-run restages over it and
   publishes; readers never see a partial export.

Scale: one repartition exchange on the shard key (the only shuffle),
one aggregate for the fingerprint, one for the manifest counts. Shard
count is the parallelism knob — at 100 TB raise n_shards to O(10k) so
each file stays ~10 GB.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, functions as F

from .store import publish_bytes, sync_tree

__all__ = ["export_shards", "read_export", "export_manifest"]


def _manifest_path(root: str) -> str:
    return os.path.join(root, "_MANIFEST.json")


def export_manifest(root: str) -> dict | None:
    try:
        with open(_manifest_path(root)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def _fingerprint(
    df: DataFrame, id_col: str, n_shards: int, layout: str
) -> str:
    """Content fingerprint over the FULL exported rows: row count,
    shard count, a layout tag (which columns shard and order the
    export — same rows re-exported under a different sort key must
    rewrite), and the modular SUM of xxhash64 over every column
    (sorted column order). Sum — not XOR — so duplicate rows do not
    cancel ({A,B,B} != {A}); summed as two 32-bit halves in bigint, so
    no int64 overflow under ANSI mode for any realistic row count
    (safe to ~2^31 rows; shard counts beyond that raise n_shards).
    Any change to payload values, shard assignment (shard_col is a df
    column), in-shard order keys, the shard count, or the layout
    parameters produces a different fingerprint and forces a rewrite —
    a stale export can never be served as 'already done'."""
    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
    hid = F.xxhash64(F.col(id_col))
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias("row_lo"),
        F.sum(F.shiftrightunsigned(h, 32)).alias("row_hi"),
        F.sum(hid.bitwiseAND(F.lit(0xFFFFFFFF))).alias("id_lo"),
        F.sum(F.shiftrightunsigned(hid, 32)).alias("id_hi"),
    ]
    row = df.agg(*aggs).first()
    m = (1 << 64) - 1

    def _fold(lo_key: str, hi_key: str) -> int:
        lo = int(row[lo_key] or 0)
        hi = int(row[hi_key] or 0)
        return (lo + (hi << 32)) & m

    import hashlib

    tag = hashlib.md5(layout.encode()).hexdigest()[:8]
    return (
        f"{row['n']}-{int(n_shards)}-{tag}-"
        f"{_fold('row_lo', 'row_hi'):016x}-{_fold('id_lo', 'id_hi'):016x}"
    )


def export_shards(
    df: DataFrame,
    root: str,
    n_shards: int,
    shard_col: str = "shard",
    order_col: str | None = None,
    id_col: str = "doc_id",
) -> dict:
    """Export `df` (already carrying its shard assignment in
    `shard_col`, 0..n_shards-1 — d18's layout) as one sorted parquet
    file per shard under `root`, exactly once. Returns the manifest
    dict plus 'status': 'written' or 'noop'."""
    os.makedirs(root, exist_ok=True)
    fp = _fingerprint(
        df, id_col, n_shards, f"shard={shard_col};order={order_col}"
    )
    published = export_manifest(root)
    if published is not None and published["fingerprint"] == fp:
        return {**published, "status": "noop"}
    data_dir = f"data-{fp}"
    staging = os.path.join(root, data_dir)
    shutil.rmtree(staging, ignore_errors=True)
    writer = df.repartition(n_shards, F.col(shard_col))
    if order_col is not None:
        writer = writer.sortWithinPartitions(shard_col, order_col)
    writer.write.mode("overwrite").partitionBy(shard_col).parquet(staging)
    counts = {
        int(r[shard_col]): r["n"]
        for r in df.groupBy(shard_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    manifest = {
        "fingerprint": fp,
        "data_dir": data_dir,
        "n_shards": n_shards,
        "shards": {str(k): counts[k] for k in sorted(counts)},
    }
    # the manifest may only name data whose bytes are durable
    sync_tree(staging)
    publish_bytes(_manifest_path(root), json.dumps(manifest))
    if published is not None and published["data_dir"] != data_dir:
        shutil.rmtree(
            os.path.join(root, published["data_dir"]), ignore_errors=True
        )
    return {**manifest, "status": "written"}


def read_export(spark, root: str) -> DataFrame:
    """Read the published export THROUGH the manifest (never the
    directory listing — a concurrent re-export stages unseen dirs)."""
    m = export_manifest(root)
    if m is None:
        raise FileNotFoundError(f"no published export under {root}")
    return spark.read.parquet(os.path.join(root, m["data_dir"]))
