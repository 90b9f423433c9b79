"""Streaming CDC source over the table store's subscription cursors —
the Delta-CDF-as-stream analog, closing the lakehouse→streaming loop.

The reference emulates continuous refresh with 5-second polling loops
that re-run full queries (/root/reference/Server/__init__.py:48-56,
297-325). The Spark-native shape is a foreachBatch-driven
incremental-apply pipeline: each micro-batch PULLS the consumer's
outstanding change feed (`TableStore.changes_since` — the net I/D/U
delta however many commits landed since the cursor), converts it to
per-group aggregate CONTRIBUTIONS, MERGEs them into a downstream
table, and only then advances the cursor. The downstream table is
therefore maintained FROM the subscription — an incrementally
maintained view whose per-batch cost is O(changed keys), never a
recompute — and the at-least-once contract holds by construction:

- the cursor advances ONLY after the downstream merge commits, so a
  crash mid-apply re-pulls the same delta (nothing lost);
- the sink guards with the txn-version marker, so a replayed
  micro-batch (foreachBatch's at-least-once re-entry) no-ops
  (nothing doubled outside the crash window).

Scale: one full-outer snapshot diff per pull (co-located when
bucketed) + one aggregate over the delta + one MERGE commit that
writes only touched groups. A 100 TB upstream with a 0.1% daily
change rate streams megabytes per batch into its rollups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import frames

__all__ = ["dir_stat_contributions", "apply_cdc_batch"]


def dir_stat_contributions(delta: DataFrame) -> DataFrame:
    """Per-directory aggregate contributions of one I/D/U change feed
    over the file dimension (changes_since output with key `id`,
    compare cols incl. `dir_id`/`size`): the OLD side of a D/U row
    contributes (-1 file, -old_size) to its old directory, the NEW
    side of an I/U row (+1, +new_size) to its new one — so an update
    that moves a file between directories adjusts both, and an
    in-place size change nets to (0, Δsize). Two filtered projections
    + one groupBy, all codegen; output is O(touched directories).
    NULL is a legitimate directory key (the catalog's orphan-file
    group) — applicability comes from `op`, never from null-testing
    the key, and the downstream merge joins null-safely."""
    old_side = delta.where(F.col("op").isin("D", "U")).select(
        F.col("old_dir_id").alias("dir_id"),
        F.lit(-1).cast("long").alias("dn"),
        (-F.col("old_size")).alias("ds"),
    )
    new_side = delta.where(F.col("op").isin("I", "U")).select(
        F.col("new_dir_id").alias("dir_id"),
        F.lit(1).cast("long").alias("dn"),
        F.col("new_size").alias("ds"),
    )
    return old_side.unionByName(new_side).groupBy("dir_id").agg(
        F.sum("dn").alias("dn"),
        F.sum("ds").cast("decimal(28,6)").alias("ds"),
    )


def apply_cdc_batch(store, source: str, consumer: str, target: str) -> dict:
    """One incremental-apply step: pull the consumer's outstanding
    delta, MERGE its contributions into `target` (update = add
    deltas; insert = first sighting; delete = group count reaches
    zero), then advance the cursor. A crash between the committed apply
    and the cursor advance (the store's last publish) is the window the
    at-least-once contract is about (pinned in tests/test_streaming.py).
    Returns the merge metrics plus the number of delta rows consumed."""
    delta = store.changes_since(
        source, consumer, ["id"], ["name", "dir_id", "size", "mtime"]
    ).persist()
    try:
        n_delta = delta.count()
        contribs = dir_stat_contributions(delta).localCheckpoint(eager=True)
    finally:
        frames.release(delta)
    metrics = {"inserted": 0, "updated": 0, "deleted": 0}
    if n_delta:
        metrics = store.merge(
            target,
            contribs,
            ["dir_id"],
            when_matched_update={
                "n_files": F.expr("t.n_files + s.dn"),
                "total_size": F.expr(
                    "CAST(t.total_size + s.ds AS DECIMAL(28,6))"
                ),
            },
            when_not_matched_insert={
                "n_files": F.col("s.dn"),
                "total_size": F.expr("CAST(s.ds AS DECIMAL(28,6))"),
            },
            when_matched_delete="t.n_files + s.dn = 0",
        )
    frames.release(contribs)
    store.advance_cursor(source, consumer)
    return {**metrics, "delta_rows": n_delta}
