"""Streaming operators surfaced in the driver-graded registry.

Both entries carry full DuckDB value-hash oracles: trigger(availableNow)
over a static source is exactly one micro-batch, so the drained result
IS its batch aggregate (see ORACLES below). Stream-vs-batch equality is
additionally pinned in tests/test_streaming.py.

Each entry drains the stream into a uniquely-named memory sink and
returns the result as a batch DataFrame, so the driver can count/hash
it like any other query.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

from .. import frames
from ..filedb.store import publish, publish_bytes
from ..streaming import events_stream as es
from ..localframe import local_df

QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def _drain(stream_df: DataFrame, prefix: str, output_mode: str) -> DataFrame:
    return es.run_to_memory(
        stream_df, f"{prefix}_{uuid.uuid4().hex[:8]}", output_mode=output_mode
    )


def _swap_in(df: DataFrame, data_dir: str, batch_id: int) -> None:
    """A foreachBatch sink's generation swap: write `df` next to
    `data_dir`, then publish it in its place. A crash mid-write leaves
    the old dir intact, but the old dir is removed BEFORE the publish,
    so a crash between the two leaves no data dir at all."""
    import os
    import shutil

    tmp = data_dir + f".gen{batch_id}"
    df.write.mode("overwrite").parquet(tmp)
    if os.path.isdir(data_dir):
        shutil.rmtree(data_dir)
    publish(tmp, data_dir)


def s1_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming e1: watermarked 1-hour tumbling windows drained with
    availableNow (complete mode, so the final open window is emitted;
    equals e1_tumbling_window — pinned in tests)."""
    src = es.events_source(spark, sf_dir)
    return _drain(es.tumbling_counts(src), "s1", "complete")


def s2_stream_spend_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    running purchase totals + threshold alert level; final emit per
    user equals the batch aggregate — pinned in tests."""
    src = es.events_source(spark, sf_dir)
    return _drain(es.user_spend_monitor(src), "s2", "update")


def s3_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming e5: 1-hour windows sliding every 30 minutes over
    purchases, drained in complete mode (each event contributes to
    exactly 2 epoch-aligned windows)."""
    src = es.events_source(spark, sf_dir)
    return _drain(es.sliding_purchases(src), "s3", "complete")


def s4_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming e4: watermark-bounded keyed dedup
    (dropDuplicates on (user_id, event_type)), drained and projected to
    the key set. The projection is what makes the result deterministic:
    WHICH first event survives depends on arrival order inside the
    micro-batch, but the surviving KEY SET is exactly the distinct
    keys."""
    src = es.events_source(spark, sf_dir)
    return _drain(es.stateful_dedup(src), "s4", "append").select(
        "user_id", "event_type"
    )


def s5_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming e2: native session windows (30-minute gap) per user,
    drained in complete mode — state-merged sessionization."""
    src = es.events_source(spark, sf_dir)
    return _drain(es.session_counts(src), "s5", "complete")


QUERIES["s1_stream_tumbling"] = s1_stream_tumbling
QUERIES["s2_stream_spend_monitor"] = s2_stream_spend_monitor
QUERIES["s3_stream_sliding"] = s3_stream_sliding
QUERIES["s4_stream_dedup"] = s4_stream_dedup
QUERIES["s5_stream_sessions"] = s5_stream_sessions

# The drained streams ARE deterministic batch results (availableNow over
# a static source = exactly one micro-batch): s1 in complete mode equals
# the batch tumbling aggregation, s2's single final emit per user equals
# the batch per-user rollup — so both get full value-hash oracles, not
# just rows-only checks. (Stream-vs-batch equality is ALSO pinned in
# tests/test_streaming.py; this makes the driver's gate see it too.)
ORACLES["s1_stream_tumbling"] = """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """
# spend accumulates in exact integer cents on both sides (see
# events_stream.user_spend_monitor): float sums are order-sensitive
# and the alert threshold is a hard integer boundary
ORACLES["s2_stream_spend_monitor"] = """
    WITH c AS (
      SELECT user_id,
             CAST(ROUND(COALESCE(value, 0) * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id, COUNT(*) AS n_purchases,
           CAST(SUM(cents) AS DOUBLE) / 100.0 AS total_spend,
           CAST(SUM(cents) // 50000 AS BIGINT) AS alert_level
    FROM c GROUP BY user_id
    """
# Sliding windows are epoch-aligned with slide 30 min: each event falls
# in exactly windowDuration/slide = 2 windows (its 30-min floor and the
# one 30 min earlier).
ORACLES["s3_stream_sliding"] = """
    WITH ev AS (
      SELECT date_trunc('hour', ts)
             + CASE WHEN EXTRACT(minute FROM ts) >= 30
                    THEN INTERVAL '30 minutes' ELSE INTERVAL '0 minutes' END AS floor30,
             value
      FROM events WHERE event_type = 'purchase'
    ), wins AS (
      SELECT floor30 - INTERVAL '30 minutes' * k AS window_start, value
      FROM ev, unnest([0, 1]) AS t(k)
    )
    SELECT CAST(window_start AS TIMESTAMP) AS window_start,
           COUNT(*) AS n_purchases,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM wins GROUP BY 1
    """
ORACLES["s4_stream_dedup"] = """
    SELECT DISTINCT user_id, event_type FROM events
    """
# session_window merges [ts, ts+gap) intervals: a gap of EXACTLY 30
# minutes starts a new session (closed-open windows don't overlap) —
# note >= in the break condition, vs > in the batch e2 oracle whose
# lag/cumsum convention differs on exact-boundary ties.
ORACLES["s5_stream_sessions"] = """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  OR epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts))
                     >= 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_no
      FROM flagged
    )
    SELECT CAST(MIN(ts) AS TIMESTAMP) AS session_start,
           CAST(MAX(ts) + INTERVAL '30 minutes' AS TIMESTAMP) AS session_end,
           user_id, COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, session_no
    """


# ---------------------------------------------------------------------------
# s6: streaming near-dup admission — incoming docs minhash-banded
# in-stream and probed against the existing corpus's capped LSH bucket
# table (stream-static equi-join). The production shape for
# incremental dedup: the base signature table is the materialized
# artifact, each arriving micro-batch only computes ITS OWN signatures
# and joins. Split: doc_id % 10 == 0 streams in, the rest is corpus.
# ---------------------------------------------------------------------------
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions.windows import bounded_rank_window
from ..functions.text import (
    normalize_text,
    portable_lsh_bands,
    portable_minhash_from_hashes,
    portable_shingle_hashes,
    tokens,
    word_shingles_from_tokens,
)
from . import dedup as _dedup


def _doc_sigs(df: DataFrame) -> DataFrame:
    """documents -> (doc_id, sig): the SAME portable minhash pipeline
    x4 uses (Column exprs only, so it runs unchanged on a stream)."""
    return (
        df.select("doc_id", tokens(normalize_text("text")).alias("toks"))
        .select("doc_id", word_shingles_from_tokens(F.col("toks"), 5).alias("shingles"))
        .select("doc_id", portable_shingle_hashes(F.col("shingles")).alias("h"))
        .select("doc_id", portable_minhash_from_hashes(F.col("h"), num_perm=32).alias("sig"))
    )


def s6_stream_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming fuzzy-dedup admission: new docs (doc_id%10==0) arrive
    as a file stream, minhash-band in-flight, and stream-static-join
    the corpus's capped bucket table; candidates are verified by
    signature agreement (est Jaccard >= 0.5). Append mode, drained via
    availableNow — the drained result is the deterministic batch
    equivalent (the oracle).

    Scale: the static side is slim (doc_id, band, key) with the
    MAX_LSH_BUCKET cap applied BEFORE the join (sigs rejoin after pair
    dedup); per micro-batch work is the batch's own signatures plus a
    bucket-key equi-join probe — no recomputation of corpus state."""
    base = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 10 != 0)
    base_sig = _doc_sigs(base).persist()
    w = Window.partitionBy("band", "key")
    base_capped = (
        base_sig.select(
            F.col("doc_id").alias("dup_of"),
            F.explode(portable_lsh_bands(F.col("sig"), bands=8, rows=4)).alias("b"),
        )
        .select("dup_of", F.col("b.band").alias("band"), F.col("b.key").alias("key"))
        .withColumn("bucket_n", F.count("*").over(w))
        .filter(F.col("bucket_n") <= _dedup.MAX_LSH_BUCKET)
        .drop("bucket_n")
    )
    src = es.documents_source(spark, sf_dir).where(F.col("doc_id") % 10 == 0)
    new_banded = (
        _doc_sigs(src)
        .select(
            F.col("doc_id").alias("new_doc_id"),
            F.col("sig").alias("new_sig"),
            F.explode(portable_lsh_bands(F.col("sig"), bands=8, rows=4)).alias("b"),
        )
        .select("new_doc_id", "new_sig", F.col("b.band").alias("band"), F.col("b.key").alias("key"))
    )
    cand = (
        new_banded.join(base_capped, ["band", "key"])
        .select("new_doc_id", "new_sig", "dup_of")
        .dropDuplicates(["new_doc_id", "dup_of"])
    )
    paired = cand.join(
        base_sig.select(F.col("doc_id").alias("dup_of"), F.col("sig").alias("base_sig")),
        "dup_of",
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("new_sig", "base_sig", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        ).cast("double")
        / 32.0
    )
    out = paired.select("new_doc_id", "dup_of", est.alias("est_jaccard")).where(
        est >= 0.5
    )
    out = _drain(out, "s6", "append")  # the memory sink holds the result
    frames.release(base_sig)
    return out


QUERIES["s6_stream_neardup"] = s6_stream_neardup

ORACLES["s6_stream_neardup"] = f"""
    WITH {_dedup._x4_shingle_ctes(5)}, mins AS (
      SELECT doc_id,
             {_dedup._X4_MINS}
      FROM hashed GROUP BY doc_id
    ), sigs AS (
      SELECT doc_id, {_dedup._X4_SIG} AS sig FROM mins
    ), banded AS (
      {_dedup._X4_BANDS}
    ), base_capped AS (
      SELECT doc_id, band, key FROM banded WHERE doc_id % 10 <> 0
      QUALIFY COUNT(*) OVER (PARTITION BY band, key) <= {_dedup.MAX_LSH_BUCKET}
    ), cand AS (
      SELECT DISTINCT n.doc_id AS new_doc_id, b.doc_id AS dup_of
      FROM (SELECT doc_id, band, key FROM banded WHERE doc_id % 10 = 0) n
      JOIN base_capped b ON n.band = b.band AND n.key = b.key
    )
    SELECT c.new_doc_id, c.dup_of,
           CAST(len(list_filter(range(1, 33), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 32.0 AS est_jaccard
    FROM cand c
    JOIN sigs sa ON sa.doc_id = c.new_doc_id
    JOIN sigs sb ON sb.doc_id = c.dup_of
    WHERE CAST(len(list_filter(range(1, 33), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 32.0 >= 0.5
    """


# ---------------------------------------------------------------------------
# s7: incremental rollup maintenance via foreachBatch MERGE — the
# streaming counterpart of e8's hypertable cascade and the Structured-
# Streaming analog of the reference's continuous staging->merge loop
# (Server/__init__.py queue timers -> FileDbDAL/DirectoryCrawl.py
# process_staged_*).


def s7_stream_rollup_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate maintenance: the stream's update-mode
    hourly aggregation is MERGED into a persistent hourly store by
    foreachBatch (delete-matching-keys + append — update mode re-emits
    the full new total per changed key, so upsert = replace), and the
    daily rollup is then served FROM the maintained hourly partials,
    never from raw events — O(changed hours) per refresh at 100 TB.

    The store is a scratch parquet table rewritten per batch by
    _swap_in (which is not crash-safe); availableNow drains the
    static source so the final store equals the batch hourly aggregate,
    which is why the e8-style daily oracle hash-matches exactly
    (decimal partials are exact under re-aggregation)."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    store_root = tempfile.mkdtemp(prefix="s7_rollup_")
    data_dir = os.path.join(store_root, "hourly")
    ckpt_dir = os.path.join(store_root, "_ckpt")

    src = es.events_source(spark, sf_dir)
    hourly = (
        src.withWatermark("ts", "10 minutes")
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).alias("sum_value"),
        )
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.persist()
        try:
            if os.path.isdir(data_dir):
                existing = spark.read.parquet(data_dir)
                keys = b.select("hour", "event_type")
                kept = existing.join(keys, ["hour", "event_type"], "left_anti")
                merged = kept.unionByName(b)
            else:
                merged = b
            _swap_in(merged, data_dir, batch_id)
        finally:
            frames.release(b)

    with es.stream_shuffle(spark):
        q = (
            hourly.writeStream.outputMode("update")
            .foreachBatch(upsert)
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    stored = spark.read.parquet(data_dir)
    out = (
        stored.groupBy(F.date_trunc("day", "hour").alias("day"), "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").cast("double").alias("total_value"),
        )
    )
    # materialize off the scratch store, then remove it — repeated
    # harness invocations must not accumulate /tmp state
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(store_root, ignore_errors=True)
    return out


QUERIES["s7_stream_rollup_upsert"] = s7_stream_rollup_upsert

# The maintained hourly store after an availableNow drain equals the
# batch hourly aggregate, so the daily-from-partials result equals the
# e8 daily rollup computed straight off raw events.
ORACLES["s7_stream_rollup_upsert"] = """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """


# ---------------------------------------------------------------------------
# s8: stream-stream watermarked interval join — the standing-query form
# of e7's range join. Two independent file streams over the same events
# source (purchases and clicks), joined on user within a 5-minute
# event-time interval; both watermarks bound the join state store.
# ---------------------------------------------------------------------------


def s8_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: (purchase, click) pairs where the
    click happened in the 5 minutes before the purchase by the same
    user. Inner stream-stream joins emit eagerly on match, so the
    availableNow drain over the static source IS the batch interval
    join (the oracle). State at scale is bounded by the watermark +
    interval horizon, evicted as event time advances — the streaming
    replacement for re-running the batch range join."""
    purchases_src = es.events_source(spark, sf_dir)
    clicks_src = es.events_source(spark, sf_dir)
    return _drain(
        es.purchase_click_join(purchases_src, clicks_src), "s8", "append"
    )


QUERIES["s8_stream_stream_join"] = s8_stream_stream_join

ORACLES["s8_stream_stream_join"] = """
    SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts > p.ts - INTERVAL 5 MINUTE AND c.ts <= p.ts
    """


# ---------------------------------------------------------------------------
# s9: streaming count-min-sketch maintenance — the O(1)-state frequency
# structure (d22) kept current by the stream instead of recomputed by
# batch. Cells merge by + across micro-batches; heavy-hitter estimates
# are then served from the MAINTAINED sketch only.
# ---------------------------------------------------------------------------

_S9_TOPK = 20


def s9_stream_cms_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch maintains the 4x512 portable CMS (same md5
    universal-hash family as d22) over per-user event activity: each
    micro-batch computes its partial cell counts map-side and MERGES
    them into a generation-swapped parquet cell store by summing — the
    defining mergeability of the sketch, exercised by the stream. After
    the availableNow drain, the top-K most-active users (exact
    candidates, d22's probe pattern) are estimated back OUT of the
    maintained cells (min over the 4 rows; cms_est >= true_count
    one-sided).

    Scale: state is 2048 cells regardless of stream volume — this is
    the streaming frequency structure that replaces a full user-count
    table when only heavy hitters are needed; the drained store equals
    the batch sketch exactly (integer cell sums, order-independent),
    which is what the oracle verifies."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ..functions.text import CMS_PERMS, PORTABLE_PRIME, portable_base_hash
    from ..catalog import load_table
    from .textops import _CMS_W

    store_root = tempfile.mkdtemp(prefix="s9_cms_")
    data_dir = os.path.join(store_root, "cells")
    ckpt_dir = os.path.join(store_root, "_ckpt")

    def batch_cells(df: DataFrame) -> DataFrame:
        hashed = df.select(
            portable_base_hash(F.col("user_id").cast("string")).alias("b")
        )
        rc = hashed.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("r"),
                            (
                                (F.col("b") * F.lit(a) + F.lit(bb))
                                % PORTABLE_PRIME
                                % _CMS_W
                            ).alias("c"),
                        )
                        for i, (a, bb) in enumerate(CMS_PERMS)
                    ]
                )
            ).alias("rc")
        )
        return rc.groupBy(F.col("rc.r").alias("r"), F.col("rc.c").alias("c")).agg(
            F.count("*").cast("bigint").alias("cnt")
        )

    def merge_cells(batch_df: DataFrame, batch_id: int) -> None:
        # the cell-sum merge is additive, so an at-least-once
        # foreachBatch replay would double-count the batch — no-op
        # replays via a last-applied marker (the idempotent-sink
        # pattern; s15/s16 use TableStore.txn_version for the same)
        marker = os.path.join(store_root, "_txn")
        try:
            with open(marker) as fh:
                last = int(fh.read())
        except (FileNotFoundError, ValueError):
            last = -1
        if batch_id <= last:
            return
        part = batch_cells(batch_df)
        if os.path.isdir(data_dir):
            existing = spark.read.parquet(data_dir)
            merged = (
                existing.unionByName(part)
                .groupBy("r", "c")
                .agg(F.sum("cnt").cast("bigint").alias("cnt"))
            )
        else:
            merged = part
        _swap_in(merged, data_dir, batch_id)
        publish_bytes(marker, str(batch_id))

    src = es.events_source(spark, sf_dir)
    with es.stream_shuffle(spark):
        q = (
            src.writeStream.outputMode("append")
            .foreachBatch(merge_cells)
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    cells = spark.read.parquet(data_dir)
    e = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    exact = e.groupBy("user_id").agg(F.count("*").cast("bigint").alias("true_count"))
    order = [F.col("true_count").desc(), F.col("user_id").asc()]
    top = (
        exact.orderBy(*order)
        .limit(_S9_TOPK)
        .withColumn("rank", F.row_number().over(bounded_rank_window("user_id", *order)).cast("bigint"))
    )
    probe = top.withColumn(
        "b", portable_base_hash(F.col("user_id").cast("string"))
    ).select(
        "user_id",
        "true_count",
        "rank",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("r"),
                        (
                            (F.col("b") * F.lit(a) + F.lit(bb))
                            % PORTABLE_PRIME
                            % _CMS_W
                        ).alias("c"),
                    )
                    for i, (a, bb) in enumerate(CMS_PERMS)
                ]
            )
        ).alias("rc"),
    )
    out = (
        probe.join(
            F.broadcast(cells),
            (F.col("rc.r") == F.col("r")) & (F.col("rc.c") == F.col("c")),
        )
        .groupBy("user_id", "true_count", "rank")
        .agg(F.min("cnt").alias("cms_est"))
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            "true_count",
            "cms_est",
            "rank",
        )
    )
    # materialize off the scratch cell store, then remove it
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(store_root, ignore_errors=True)
    return out


QUERIES["s9_stream_cms_maintenance"] = s9_stream_cms_maintenance


# The drained cell store equals the batch CMS (integer cell sums merge
# by + across micro-batches), so the heavy-hitter estimates equal the
# batch sketch probe exactly.
ORACLES["s9_stream_cms_maintenance"] = """
    WITH u AS (
      SELECT CAST(user_id AS VARCHAR) AS term FROM events
    ), vocab AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS true_count FROM u GROUP BY term
    ), h AS (
      SELECT term, true_count, (CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) % 2147483647) AS b FROM vocab
    ), params(r, a, bb) AS (VALUES (0, 732788889, 895360125), (1, 1409029903, 1972018528), (2, 1388854099, 852674222), (3, 326685493, 1927511008)),
    cells AS (
      SELECT p.r AS r, ((h.b * p.a + p.bb) % 2147483647) % 512 AS c,
             CAST(SUM(true_count) AS BIGINT) AS cnt
      FROM h CROSS JOIN params p GROUP BY 1, 2
    ), top AS (
      SELECT term, true_count, b,
             CAST(ROW_NUMBER() OVER (ORDER BY true_count DESC, CAST(term AS BIGINT) ASC) AS BIGINT) AS rank
      FROM h QUALIFY rank <= 20
    )
    SELECT CAST(t.term AS BIGINT) AS user_id, t.true_count,
           CAST(MIN(c2.cnt) AS BIGINT) AS cms_est, t.rank
    FROM top t
    CROSS JOIN params p
    JOIN cells c2 ON c2.r = p.r AND c2.c = ((t.b * p.a + p.bb) % 2147483647) % 512
    GROUP BY t.term, t.true_count, t.rank
"""


# ---------------------------------------------------------------------------
# s10: streaming training-data ADMISSION GATE — the full ingest decision
# (quality classifier + exact-dedup probe) made in-stream per arriving
# document, composing d33's hashed linear classifier with a stream-
# static content-hash join against the existing corpus. This is the
# front door of a continuously-fed training corpus: everything the
# batch manifest (d31) decides after the fact, decided at arrival time.
# ---------------------------------------------------------------------------


def s10_stream_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming admission gate: new docs (doc_id%10==0, the s6 split)
    arrive as a file stream; per document the micro-batch computes the
    d33 hashed-classifier quality score (per-row array fold — zero
    state, rides the stream scan) and probes the corpus content-hash
    set for exact duplicates (stream-static left join on the hash key);
    admitted = quality-keep AND not-duplicate. Append mode, drained via
    availableNow; the drained result equals the batch decision (the
    oracle).

    Scale: classifier inference is map-only Column work (no Python, no
    shuffle); the dedup probe joins on a well-distributed md5 key
    against the corpus's DISTINCT hash table — the slim persisted
    artifact, not the corpus itself. Per-batch work is O(batch), state
    is zero (the hash table is storage, not stream state)."""
    from ..functions.text import (
        CLS_BUCKETS,
        CLS_PERMS,
        PORTABLE_PRIME,
        portable_base_hash,
    )

    a, b = CLS_PERMS[0]
    half = PORTABLE_PRIME // 2

    def weight(t):
        return (
            (portable_base_hash(t) % CLS_BUCKETS + 1) * F.lit(a) + F.lit(b)
        ) % PORTABLE_PRIME - half

    base = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 != 0)
        .select(F.md5(normalize_text("text")).alias("ch"))
        .distinct()
        .withColumn("dup_hit", F.lit(1))
    )
    src = es.documents_source(spark, sf_dir).where(F.col("doc_id") % 10 == 0)
    feats = (
        src.select(
            "doc_id",
            tokens(normalize_text("text")).alias("toks"),
            F.md5(normalize_text("text")).alias("ch"),
        )
        .filter(F.size("toks") > 0)
        .select(
            "doc_id",
            "ch",
            F.size("toks").cast("bigint").alias("n_toks"),
            F.aggregate(
                "toks", F.lit(0).cast("bigint"), lambda acc, t: acc + weight(t)
            ).alias("score_scaled"),
        )
    )
    out = (
        feats.join(base, "ch", "left")
        .select(
            "doc_id",
            "n_toks",
            "score_scaled",
            (F.col("score_scaled") > 0).cast("bigint").alias("quality_keep"),
            F.coalesce(F.col("dup_hit"), F.lit(0)).cast("bigint").alias("is_dup"),
            (
                (F.col("score_scaled") > 0) & F.col("dup_hit").isNull()
            ).cast("bigint").alias("admitted"),
        )
    )
    return _drain(out, "s10", "append")


QUERIES["s10_stream_admission"] = s10_stream_admission


def _s10_oracle() -> str:
    from ..functions.text import CLS_BUCKETS, CLS_PERMS, DUCKDB_BASE_HASH, PORTABLE_PRIME

    a, b = CLS_PERMS[0]
    half = PORTABLE_PRIME // 2
    weight = (
        f"((({DUCKDB_BASE_HASH.format(s='t')}) % {CLS_BUCKETS} + 1) * {a} + {b})"
        f" % {PORTABLE_PRIME} - {half}"
    )
    return rf"""
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), '\s+', ' ', 'g')) AS ntext
      FROM documents
    ), base AS (
      SELECT DISTINCT md5(ntext) AS ch FROM norm WHERE doc_id % 10 <> 0
    ), feats AS (
      SELECT doc_id, md5(ntext) AS ch,
             list_filter(regexp_split_to_array(ntext, ' '), t -> t <> '') AS toks
      FROM norm WHERE doc_id % 10 = 0
    ), scored AS (
      SELECT f.doc_id,
             CAST(len(toks) AS BIGINT) AS n_toks,
             CAST(list_sum(list_transform(toks, t -> {weight})) AS BIGINT) AS score_scaled,
             (f.ch IN (SELECT ch FROM base)) AS isdup
      FROM feats f WHERE len(toks) > 0
    )
    SELECT doc_id, n_toks, score_scaled,
           CAST(score_scaled > 0 AS BIGINT) AS quality_keep,
           CAST(isdup AS BIGINT) AS is_dup,
           CAST(score_scaled > 0 AND NOT isdup AS BIGINT) AS admitted
    FROM scored
    """


ORACLES["s10_stream_admission"] = _s10_oracle()


# ---------------------------------------------------------------------------
# s11: streaming HYPERLOGLOG register maintenance — e13's daily DAU
# sketch kept current by the stream. Unlike s9's CMS (+-merge, counts
# every occurrence), HLL registers merge by MAX, which is IDEMPOTENT:
# reprocessed or duplicated events cannot inflate the estimate, so the
# maintained store equals the batch sketch under any micro-batch
# slicing, replay, or at-least-once delivery — the property that makes
# HLL the distinct-count structure for streams.
# ---------------------------------------------------------------------------


def s11_stream_hll_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch maintains per-day 256-register HLL tables over
    user_id (e13's DAU machinery): each micro-batch computes its
    partial (day, bucket, rho-max) registers map-side and MAX-merges
    them into a generation-swapped parquet register store. After the
    availableNow drain, DAU is estimated from the MAINTAINED registers
    only, with the exact per-day distinct count joined in for error —
    and equals e13's batch DAU column-for-column (the oracle), because
    MAX-merge is insensitive to how events were sliced into batches.

    Scale: state is 256 rows per day regardless of event volume; no
    per-batch distinct is needed (duplicate users in or across batches
    are absorbed by MAX — the idempotence s9's count-merge lacks);
    any window (WAU/MAU) is served by further MAX-merges of the same
    store (e13's register fan-out), never by rescanning events."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ..catalog import load_table
    from ..functions.text import portable_hash60
    from .events import _E13_M, _E13_RHO_MAX, _e13_estimate

    store_root = tempfile.mkdtemp(prefix="s11_hll_")
    data_dir = os.path.join(store_root, "registers")
    ckpt_dir = os.path.join(store_root, "_ckpt")

    def batch_registers(df: DataFrame) -> DataFrame:
        day = F.floor(
            F.col("ts").cast("timestamp").cast("long") / 86400
        ).cast("bigint")
        hashed = df.select(
            day.alias("day"),
            portable_hash60(F.col("user_id").cast("string")).alias("h"),
        )
        staged = hashed.select(
            "day",
            (F.col("h") % _E13_M).alias("bucket"),
            F.expr(f"h div {_E13_M}").alias("w"),
        )
        rho = F.when(F.col("w") == 0, F.lit(_E13_RHO_MAX)).otherwise(
            F.least(
                F.round(F.log2(F.expr("w & -w"))).cast("int") + F.lit(1),
                F.lit(_E13_RHO_MAX),
            )
        )
        return (
            staged.select("day", "bucket", rho.alias("m_j"))
            .groupBy("day", "bucket")
            .agg(F.max("m_j").alias("m_j"))
        )

    def merge_registers(batch_df: DataFrame, batch_id: int) -> None:
        part = batch_registers(batch_df)
        if os.path.isdir(data_dir):
            existing = spark.read.parquet(data_dir)
            merged = (
                existing.unionByName(part)
                .groupBy("day", "bucket")
                .agg(F.max("m_j").alias("m_j"))
            )
        else:
            merged = part
        _swap_in(merged, data_dir, batch_id)

    src = es.events_source(spark, sf_dir)
    with es.stream_shuffle(spark):
        q = (
            src.writeStream.outputMode("append")
            .foreachBatch(merge_registers)
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    from .events import _E13_EMPTY

    regd = spark.read.parquet(data_dir)
    per = regd.groupBy("day").agg(
        F.count("*").alias("hit"),
        (
            F.sum(F.expr(f"CAST(power(2, {_E13_RHO_MAX} - m_j) AS BIGINT)"))
            + (F.lit(_E13_M) - F.count("*")) * F.lit(_E13_EMPTY)
        ).alias("register_sum"),
    )
    e = load_table(spark, sf_dir, "events")
    day = F.floor(F.col("ts").cast("timestamp").cast("long") / 86400).cast("bigint")
    exact = (
        e.select(day.alias("day"), "user_id")
        .distinct()
        .groupBy("day")
        .agg(F.count("*").cast("bigint").alias("n_exact"))
    )
    out = _e13_estimate(per.join(exact, "day")).select(
        "day",
        F.col("n_exact").alias("dau_exact"),
        F.col("register_sum").cast("bigint").alias("dau_register_sum"),
        F.col("est").alias("dau_hll"),
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(store_root, ignore_errors=True)
    return out


QUERIES["s11_stream_hll_maintenance"] = s11_stream_hll_maintenance

# The MAX-merged register store equals the batch registers however the
# stream was sliced, so the served DAU equals e13's batch DAU exactly.
ORACLES["s11_stream_hll_maintenance"] = """
    WITH du AS (
      SELECT DISTINCT CAST(epoch_us(ts) // 1000000 // 86400 AS BIGINT) AS day,
             user_id
      FROM events
    ), hashed AS (
      SELECT day,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      FROM du
    ), staged AS (
      SELECT day, h % 256 AS bucket, h // 256 AS w FROM hashed
    ), regd AS (
      SELECT day, bucket,
             MAX(CASE WHEN w = 0 THEN 44
                      ELSE least(CAST(round(log2(w & (-w))) AS INT) + 1, 44) END) AS m_j
      FROM staged GROUP BY day, bucket
    ), per AS (
      SELECT day, COUNT(*) AS hit,
             SUM(CAST(power(2, 44 - m_j) AS BIGINT))
               + (256 - COUNT(*)) * CAST(power(2, 44) AS BIGINT) AS register_sum
      FROM regd GROUP BY day
    ), exact AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS n_exact FROM du GROUP BY day
    ), together AS (
      SELECT e.day, e.n_exact, p.register_sum, p.hit
      FROM exact e JOIN per p ON p.day = e.day
    )
    SELECT day, n_exact AS dau_exact,
           CAST(register_sum AS BIGINT) AS dau_register_sum,
           round(CASE WHEN (256 - hit) > 0
                      AND (8.281119189271282e+17 / CAST(register_sum AS DOUBLE)) <= 640.0
                 THEN 256.0 * ln(256.0 / CAST(256 - hit AS DOUBLE))
                 ELSE 8.281119189271282e+17 / CAST(register_sum AS DOUBLE) END, 2) AS dau_hll
    FROM together
    """


# ---------------------------------------------------------------------------
# s13: LATE-DATA semantics under a real multi-batch stream — the only
# registry entry that exercises watermark PROGRESSION (s1-s12 drain a
# static source in one availableNow micro-batch, where nothing can be
# late). Events are staged as four time-ordered batch files with
# deterministic 2-batch-late stragglers; the stream replays them one
# file per trigger, so the watermark advances batch by batch, the
# stragglers get DROPPED by the late filter, and append mode emits
# exactly the closed windows.
# ---------------------------------------------------------------------------

#: stream replay batches
S13_BATCHES = 4
#: every 17th event arrives two batches late (one-batch-late rows are
#: never dropped: Spark's late filter runs one watermark behind
#: eviction, see the oracle note)
S13_LATE_EVERY = 17
S13_DELAY = "10 minutes"


def _replay_batches(spark: SparkSession, sf_dir: str):
    """Events with the deterministic replay-batch assignment (time
    quartile + 2-batch-late stragglers) — shared by s13/s14."""
    from pyspark.sql import functions as F

    from ..catalog import load_table

    e = load_table(spark, sf_dir, "events")
    ext = e.agg(
        F.min(F.unix_micros("ts")).alias("t0"), F.max(F.unix_micros("ts")).alias("t1")
    )
    nb = S13_BATCHES
    return (
        e.crossJoin(F.broadcast(ext))
        .withColumn(
            "b",
            F.least(
                F.lit(nb - 1),
                F.expr(
                    f"CAST((unix_micros(ts) - t0) * {nb} div (t1 - t0 + 1) AS INT)"
                )
                + F.lit(2) * (F.col("event_id") % S13_LATE_EVERY == 0).cast("int"),
            ),
        )
        .select("event_id", "ts", "user_id", "event_type", "value", "b")
    )


def _arrive(df: DataFrame, sdir: str, name: str, i: int) -> None:
    """Land `df` in the stream dir `sdir` as ONE parquet file `name`,
    published whole (a FileStreamSource never lists a partial file),
    with mtime 1_000_000 + 100*i: strictly increasing mtimes pin the
    replay order."""
    import glob
    import os

    tmp = os.path.join(os.path.dirname(sdir), f"w{i}")
    df.repartition(1).write.parquet(tmp)
    dst = os.path.join(sdir, name)
    publish(glob.glob(os.path.join(tmp, "part-*.parquet"))[0], dst)
    os.utime(dst, (1_000_000 + i * 100, 1_000_000 + i * 100))


def _replay_agg(stream):
    """The watermarked hourly aggregation both replay entries run."""
    from pyspark.sql import functions as F

    return (
        stream.withWatermark("ts", S13_DELAY)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )



def s13_stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling aggregation over a four-batch replay with
    2-batch-late stragglers: the drained append-mode result contains
    only windows the final watermark closed, computed WITHOUT the
    dropped late rows. The DuckDB oracle simulates Spark's documented
    micro-batch semantics exactly (verified empirically on this Spark
    build, result-identical at sf0.01/sf0.001):

    - watermark reported at batch N = max event time over batches < N,
      minus the delay;
    - the LATE FILTER in batch N uses the PREVIOUS batch's watermark
      (one-batch lag — which is why 1-batch-late rows are never
      dropped and no window is ever emitted twice);
    - a row is dropped iff its window end <= that filter watermark;
    - final emitted set = windows of kept rows whose end <= the final
      watermark (availableNow runs a closing no-data batch).

    Scale: the replay staging is one range-partitioned write; the
    stream itself is the production shape — file source with
    maxFilesPerTrigger backpressure, watermark-bounded state, append
    sink. State never exceeds the open-window horizon."""
    import os
    import shutil
    import tempfile
    import uuid

    b = _replay_batches(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="fdb_s13_")
    sdir = os.path.join(root, "stream")
    os.makedirs(sdir)
    for i in range(S13_BATCHES):
        _arrive(b.where(F.col("b") == i).drop("b"), sdir, f"b{i}.parquet", i)
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(sdir)
    )
    agg = _replay_agg(stream)
    name = f"s13_{uuid.uuid4().hex[:8]}"
    with es.stream_shuffle(spark):
        q = (
            agg.writeStream.outputMode("append")
            .trigger(availableNow=True)
            .format("memory")
            .queryName(name)
            .start()
        )
        q.awaitTermination()
    out = spark.table(name).localCheckpoint(eager=True)
    shutil.rmtree(root, ignore_errors=True)
    return out


QUERIES["s13_stream_late_data"] = s13_stream_late_data

ORACLES["s13_stream_late_data"] = f"""
    WITH ext AS (SELECT MIN(epoch_us(ts)) AS t0, MAX(epoch_us(ts)) AS t1 FROM events),
    assigned AS (
      SELECT e.*, least({S13_BATCHES - 1},
               CAST((epoch_us(ts) - t0) * {S13_BATCHES} // (t1 - t0 + 1) AS INT)
               + CASE WHEN event_id % {S13_LATE_EVERY} = 0 THEN 2 ELSE 0 END) AS b
      FROM events e, ext
    ),
    bmax AS (SELECT b, MAX(ts) AS mx FROM assigned GROUP BY b),
    wmk AS (
      SELECT b, COALESCE(MAX(mx) OVER (ORDER BY b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 TIMESTAMP '1970-01-01') - INTERVAL 10 MINUTE AS w
      FROM bmax
    ),
    filt AS (
      SELECT b, COALESCE(LAG(w) OVER (ORDER BY b), TIMESTAMP '1970-01-01') AS fw
      FROM wmk
    ),
    final_wm AS (SELECT MAX(mx) - INTERVAL 10 MINUTE AS fw FROM bmax),
    kept AS (
      SELECT a.* FROM assigned a JOIN filt ON filt.b = a.b
      WHERE date_trunc('hour', a.ts) + INTERVAL 1 HOUR > filt.fw
    )
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM kept
    GROUP BY 1, 2
    HAVING date_trunc('hour', MIN(ts)) + INTERVAL 1 HOUR <= (SELECT fw FROM final_wm)
    """


# ---------------------------------------------------------------------------
# s14: CHECKPOINTED RESTART — exactly-once across stop/resume. The s13
# replay split across two separate streaming queries sharing one
# checkpoint + one transactional file sink: run 1 drains batches 0-1
# and stops; run 2 (a NEW query) restores source offsets AND the event-
# time watermark from the checkpoint, drains batches 2-3, and the sink
# log guarantees no emitted window is duplicated or lost.
# ---------------------------------------------------------------------------


def s14_stream_checkpoint_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stop/resume the s13 replay mid-stream on a shared checkpoint and
    parquet file sink (the production exactly-once pair), then read the
    sink back through its transaction log. Deterministic end state,
    mirrored by the oracle with ONE semantic difference from s13's
    single run: the first batch after restart filters with the
    RESTORED watermark directly (no one-batch lag — the lag is an
    in-memory artifact the checkpoint does not preserve), so boundary
    rows whose window closed between the two pre-restart batches are
    additionally dropped. Verified result-identical on this Spark
    build at sf0.01 and sf0.001.

    Scale: this is THE fault-tolerance contract a 1000-executor
    streaming job runs on — offsets+watermark in the checkpoint,
    idempotent sink commits via the _spark_metadata log; a restart
    re-emits nothing and loses nothing."""
    import os
    import shutil
    import tempfile

    b = _replay_batches(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="fdb_s14_")
    sdir = os.path.join(root, "stream")
    os.makedirs(sdir)
    ckpt = os.path.join(root, "ckpt")
    sink = os.path.join(root, "sink")

    def run_once() -> None:
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, event_type string, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(sdir)
        )
        with es.stream_shuffle(spark):
            q = (
                _replay_agg(stream)
                .writeStream.outputMode("append")
                .trigger(availableNow=True)
                .option("checkpointLocation", ckpt)
                .format("parquet")
                .option("path", sink)
                .start()
            )
            q.awaitTermination()

    half = S13_BATCHES // 2
    for i in range(half):
        _arrive(b.where(F.col("b") == i).drop("b"), sdir, f"b{i}.parquet", i)
    run_once()  # run 1: batches 0..half-1, then stop
    for i in range(half, S13_BATCHES):
        _arrive(b.where(F.col("b") == i).drop("b"), sdir, f"b{i}.parquet", i)
    run_once()  # run 2: restored offsets + watermark, batches half..
    out = spark.read.parquet(sink).localCheckpoint(eager=True)
    shutil.rmtree(root, ignore_errors=True)
    return out


QUERIES["s14_stream_checkpoint_recovery"] = s14_stream_checkpoint_recovery

ORACLES["s14_stream_checkpoint_recovery"] = f"""
    WITH ext AS (SELECT MIN(epoch_us(ts)) AS t0, MAX(epoch_us(ts)) AS t1 FROM events),
    assigned AS (
      SELECT e.*, least({S13_BATCHES - 1},
               CAST((epoch_us(ts) - t0) * {S13_BATCHES} // (t1 - t0 + 1) AS INT)
               + CASE WHEN event_id % {S13_LATE_EVERY} = 0 THEN 2 ELSE 0 END) AS b
      FROM events e, ext
    ),
    bmax AS (SELECT b, MAX(ts) AS mx FROM assigned GROUP BY b),
    -- run 1 = batches 0..{S13_BATCHES // 2 - 1} (filter watermark still
    -- epoch: the one-batch lag keeps it there); run 2 restarts from the
    -- checkpoint, so its FIRST batch filters with the restored
    -- watermark (max over run-1 batches, no lag) and later batches
    -- lag one behind as usual (same value here)
    filt AS (
      SELECT b, CASE WHEN b < {S13_BATCHES // 2} THEN TIMESTAMP '1970-01-01'
                     ELSE (SELECT MAX(mx) FROM bmax
                           WHERE b < {S13_BATCHES // 2}) - INTERVAL 10 MINUTE
                END AS fw
      FROM bmax
    ),
    final_wm AS (SELECT MAX(mx) - INTERVAL 10 MINUTE AS fw FROM bmax),
    kept AS (
      SELECT a.* FROM assigned a JOIN filt ON filt.b = a.b
      WHERE date_trunc('hour', a.ts) + INTERVAL 1 HOUR > filt.fw
    )
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM kept
    GROUP BY 1, 2
    HAVING date_trunc('hour', MIN(ts)) + INTERVAL 1 HOUR <= (SELECT fw FROM final_wm)
    """


def s15_stream_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD type-2 maintenance — the streaming lakehouse
    bridge: dimension-update waves arrive as a file stream (one wave
    per micro-batch, replay order pinned by mtime exactly like s13)
    and foreachBatch MERGEs each into the REAL table store via
    `store.merge_scd2` — per batch, ONLY the changed keys append ('U'
    versions + 'D' tombstones). After the availableNow drain,
    `scd2_history` reconstructs the validity intervals; the oracle is
    g18's batch SQL contract SHARED VERBATIM, so a green row is the
    stream-fed == batch-fed proof (the x31/x30 shared-oracle pattern).

    Scale: this is the production shape for continuously-maintained
    dimensions at 100 TB — file-source backpressure
    (maxFilesPerTrigger), O(change rate) appends per batch, no
    dimension rewrite ever, history derived at read time."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ..filedb import fixtures, schemas
    from ..filedb.store import TableStore, scd2_history
    from .merge_queries import _ep, _g6_wave

    base = {f.name: f for f in schemas.FILE.fields}
    log_schema = T.StructType(
        [base[c] for c in ("id", "name", "dir_id", "size", "mtime")]
        + [
            T.StructField("valid_from", T.LongType(), True),
            T.StructField("op", T.StringType(), True),
        ]
    )
    f1 = fixtures.fixture_file(spark, sf_dir)
    waves = [f1, _g6_wave(spark, f1)]

    root = tempfile.mkdtemp(prefix="fdb_s15_")
    sdir = os.path.join(root, "stream")
    os.makedirs(sdir)
    dim_cols = ["id", "name", "dir_id", "size", "mtime"]
    for i, w in enumerate(waves):
        arrival = w.select(*dim_cols, F.lit(i + 1).cast("int").alias("wave"))
        _arrive(arrival, sdir, f"wave{i}.parquet", i)

    store = TableStore(
        spark, os.path.join(root, "cat"), {"dim": log_schema}, bucketing=False
    )
    tracked = ["name", "dir_id", "size", "mtime"]

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch is at-least-once: a replayed micro-batch would
        # re-append the same 'U'/'D' change rows, corrupting the SCD2
        # log — the txn-version marker no-ops replays (Delta's
        # txnAppId/txnVersion idempotent-sink pattern)
        if batch_id <= store.txn_version("s15_scd2"):
            return
        if batch_df.isEmpty():
            return
        b = batch_df.persist()
        try:
            # maxFilesPerTrigger=1 makes each micro-batch exactly one
            # wave file, so the wave tag is constant within the batch
            ver = int(b.select(F.max("wave")).first()[0])
            store.merge_scd2("dim", b.drop("wave"), ["id"], tracked, ver)
        finally:
            frames.release(b)
        store.set_txn_version("s15_scd2", batch_id)

    stream = (
        spark.readStream.schema(
            "id long, name string, dir_id long, size decimal(18,6), "
            "mtime timestamp, wave int"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(sdir)
    )
    with es.stream_shuffle(spark):
        q = (
            stream.writeStream.foreachBatch(merge)
            .option("checkpointLocation", os.path.join(root, "_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    out = (
        scd2_history(store.read("dim"), ["id"])
        .select(
            F.col("id").cast("bigint").alias("id"),
            "name",
            F.col("dir_id").cast("bigint").alias("dir_id"),
            F.col("size").cast("double").alias("size"),
            _ep(F.col("mtime")).alias("mtime_ep"),
            F.col("valid_from").cast("bigint").alias("valid_from"),
            F.col("valid_to").cast("bigint").alias("valid_to"),
            "is_current",
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(root, ignore_errors=True)
    return out


QUERIES["s15_stream_scd2"] = s15_stream_scd2


def _s15_oracle() -> str:
    from .merge_queries import _G18_ORACLE

    return _G18_ORACLE


# g18's batch SQL contract, shared verbatim (the x31/x30 pattern):
# resolved lazily at registration end to keep module import acyclic
ORACLES["s15_stream_scd2"] = _s15_oracle()


def _s16_oracle() -> str:
    from .merge_queries import _G6_WAVE_CTE

    from ..filedb import fixtures

    tag = """(
  SELECT id,
         concat_ws(',',
           CASE WHEN COALESCE(dir_id IS NOT NULL, FALSE)
                THEN NULL ELSE 'has_dir' END,
           CASE WHEN COALESCE(size <= 1000, FALSE)
                THEN NULL ELSE 'size_cap' END
         ) AS violated
  FROM {src}
)"""
    return f"""
WITH {fixtures.FIXTURE_CTES},
{_G6_WAVE_CTE},
t1 AS {tag.format(src='fx_file')},
t2 AS {tag.format(src='f2')}
SELECT 'q' AS part, CAST(id AS BIGINT) AS id, violated AS s1,
       CAST(NULL AS BIGINT) AS n1
FROM t1 WHERE violated <> ''
UNION ALL
SELECT 'q', CAST(id AS BIGINT), violated, NULL
FROM t2 WHERE violated <> ''
UNION ALL
SELECT 'metric', NULL, k, n FROM (
  SELECT 'has_dir' AS k,
         SUM(CASE WHEN list_contains(string_split(violated, ','), 'has_dir')
                  THEN 1 ELSE 0 END) AS n
  FROM t2
  UNION ALL
  SELECT 'size_cap',
         SUM(CASE WHEN list_contains(string_split(violated, ','), 'size_cap')
                  THEN 1 ELSE 0 END)
  FROM t2
  UNION ALL
  SELECT '_accepted', SUM(CASE WHEN violated = '' THEN 1 ELSE 0 END) FROM t2
  UNION ALL
  SELECT '_quarantined', SUM(CASE WHEN violated <> '' THEN 1 ELSE 0 END)
  FROM t2
) m
"""


def s16_stream_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed write-path data-quality gating: TWO dimension waves
    arrive as a file stream (one per micro-batch, mtime-pinned order)
    and foreachBatch routes each through the REAL
    `store.write_with_expectations` — accepted rows replace the
    table, violations append to the quarantine with their
    violated-expectation list, per-expectation metrics come back per
    batch. The 'q' rows are read BACK from the quarantine after the
    drain (both waves' violations ACCUMULATED — the append semantics
    a triage queue needs), the 'metric' rows are the FINAL wave's
    returned metrics; the oracle recomputes both from the fixture and
    the g6 wave in SQL, NULL-predicate-fails convention included.

    Scale: per micro-batch cost is g17's — one codegen projection
    split + an O(violations) quarantine append; the stream adds only
    the file-source backpressure envelope. This is the continuous
    ingestion quality gate a 100 TB pipeline runs in front of every
    table."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ..filedb import fixtures, schemas
    from ..filedb.store import TableStore
    from .merge_queries import _G17_EXPECTATIONS, _g6_wave

    f1 = fixtures.fixture_file(spark, sf_dir)
    waves = [f1, _g6_wave(spark, f1)]
    root = tempfile.mkdtemp(prefix="fdb_s16_")
    sdir = os.path.join(root, "stream")
    os.makedirs(sdir)
    cols = [f.name for f in schemas.FILE.fields]
    for i, w in enumerate(waves):
        arrival = w.select(*cols).withColumn("wave", F.lit(i + 1).cast("int"))
        _arrive(arrival, sdir, f"wave{i}.parquet", i)

    store = TableStore(
        spark, os.path.join(root, "cat"), {"file": schemas.FILE}, bucketing=False
    )
    last_metrics: dict = {}

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        # at-least-once foreachBatch: a replayed batch would re-append
        # its violations to the quarantine (append is not idempotent);
        # the txn-version marker no-ops replays
        if batch_id <= store.txn_version("s16_gate"):
            return
        if batch_df.isEmpty():
            return
        b = batch_df.persist()
        try:
            ver = int(b.select(F.max("wave")).first()[0])
            m = store.write_with_expectations(
                "file", b.drop("wave"), _G17_EXPECTATIONS
            )
            last_metrics.clear()
            last_metrics.update(m)
            last_metrics["_wave"] = ver
        finally:
            frames.release(b)
        store.set_txn_version("s16_gate", batch_id)

    import pyspark.sql.types as T

    stream_schema = T.StructType(
        list(schemas.FILE.fields) + [T.StructField("wave", T.IntegerType(), True)]
    )
    with es.stream_shuffle(spark):
        q = (
            spark.readStream.schema(stream_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(sdir)
            .writeStream.foreachBatch(gate)
            .option("checkpointLocation", os.path.join(root, "_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    assert last_metrics.get("_wave") == len(waves)

    qrows = store.read("file__quarantine").select(
        F.lit("q").alias("part"),
        F.col("id").cast("bigint").alias("id"),
        F.col("violated").alias("s1"),
        F.lit(None).cast("bigint").alias("n1"),
    )
    mrows = local_df(spark, 
        [(k, int(last_metrics[k])) for k in sorted(_G17_EXPECTATIONS)]
        + [
            ("_accepted", int(last_metrics["_accepted"])),
            ("_quarantined", int(last_metrics["_quarantined"])),
        ],
        "s1 string, n1 long",
    ).select(
        F.lit("metric").alias("part"),
        F.lit(None).cast("bigint").alias("id"),
        "s1",
        "n1",
    )
    out = qrows.unionByName(mrows).localCheckpoint(eager=True)
    shutil.rmtree(root, ignore_errors=True)
    return out


QUERIES["s16_stream_expectations"] = s16_stream_expectations
ORACLES["s16_stream_expectations"] = _s16_oracle()


def _s17_oracle() -> str:
    from ..filedb import fixtures
    from .merge_queries import _G6_WAVE_CTE, _G22_SURVIVORS, _ep_sql

    return f"""
WITH {fixtures.FIXTURE_CTES},
{_G6_WAVE_CTE}
SELECT 'mor' AS part, CAST(id AS BIGINT) AS id, name,
       CAST(dir_id AS BIGINT) AS dir_id, CAST(size AS DOUBLE) AS size,
       {_ep_sql('mtime')} AS mtime_ep
FROM ({_G22_SURVIVORS}) a
UNION ALL
SELECT 'meta', 2, CAST(NULL AS VARCHAR), 1, CAST(1 AS DOUBLE),
       CAST(NULL AS BIGINT)
"""


def s17_stream_row_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed merge-on-read deletes — CDC waves drive the table
    store's delete path through foreachBatch: wave 1 applies a
    metadata-only predicate delete (id%%10==7) plus a file-scoped
    deletion vector for its key rows (id%%7==0); wave 2 APPENDS rows
    carrying the very ids wave 1 deleted. Because the vector is
    scoped to the segments that existed at delete time, the re-
    ingested rows all survive — the streaming proof of the g22
    contract, whose survivors algebra the oracle SHARES VERBATIM
    (the s15/g18 shared-oracle pattern). Both batches are guarded by
    the txn-version marker, so an at-least-once replay can neither
    double-apply the vector nor re-append the wave. The meta row pins
    the physical story: 2 segments, 1 scoped filter, 1 vector —
    nothing rewritten.

    Scale: this is continuous GDPR/compliance deletion at 100 TB —
    each micro-batch writes O(deleted keys) + O(new rows), the read
    path pays a per-covered-segment anti-join until the bounded-
    frequency compaction, and ingestion never stalls behind a table
    rewrite."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ..filedb import fixtures, schemas
    from ..filedb.store import TableStore
    from .merge_queries import _ep, _g6_wave

    base = {f.name: f for f in schemas.FILE.fields}
    dim_schema = T.StructType(
        [base[c] for c in ("id", "name", "dir_id", "size", "mtime")]
    )
    cols = [f.name for f in dim_schema.fields]
    f1 = fixtures.fixture_file(spark, sf_dir)
    waves = [
        f1.where(F.col("id") % 7 == 0),  # wave 1: the delete keys
        _g6_wave(spark, f1).where(F.col("id") % 7 == 0),  # wave 2: re-ingest
    ]
    root = tempfile.mkdtemp(prefix="fdb_s17_")
    sdir = os.path.join(root, "stream")
    os.makedirs(sdir)
    for i, w in enumerate(waves):
        arrival = w.select(*cols).withColumn("wave", F.lit(i + 1).cast("int"))
        _arrive(arrival, sdir, f"wave{i}.parquet", i)

    store = TableStore(
        spark, os.path.join(root, "cat"), {"dim": dim_schema}, bucketing=False
    )
    store.replace("dim", f1.select(*cols))

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        # delete_rows/append are not replay-idempotent — the
        # txn-version marker no-ops at-least-once replays
        if batch_id <= store.txn_version("s17_rowdel"):
            return
        if batch_df.isEmpty():
            return
        b = batch_df.persist()
        try:
            wave = int(b.select(F.max("wave")).first()[0])
            if wave == 1:
                store.delete_where("dim", "id % 10 = 7")
                store.delete_rows("dim", b.select("id"), ["id"])
            else:
                store.append("dim", b.drop("wave"))
        finally:
            frames.release(b)
        store.set_txn_version("s17_rowdel", batch_id)

    stream_schema = T.StructType(
        list(dim_schema.fields) + [T.StructField("wave", T.IntegerType(), True)]
    )
    with es.stream_shuffle(spark):
        q = (
            spark.readStream.schema(stream_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(sdir)
            .writeStream.foreachBatch(apply)
            .option("checkpointLocation", os.path.join(root, "_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    mor = store.read("dim").select(
        F.lit("mor").alias("part"),
        F.col("id").cast("bigint").alias("id"),
        "name",
        F.col("dir_id").cast("bigint").alias("dir_id"),
        F.col("size").cast("double").alias("size"),
        _ep(F.col("mtime")).alias("mtime_ep"),
    )
    debt = store.mor_debt("dim")
    meta = local_df(spark, 
        [(store.segment_count("dim"), debt["filters"], debt["deletes"])],
        "s long, f long, d long",
    ).select(
        F.lit("meta").alias("part"),
        F.col("s").cast("bigint").alias("id"),
        F.lit(None).cast("string").alias("name"),
        F.col("f").cast("bigint").alias("dir_id"),
        F.col("d").cast("double").alias("size"),
        F.lit(None).cast("bigint").alias("mtime_ep"),
    )
    out = mor.unionByName(meta).localCheckpoint(eager=True)
    shutil.rmtree(root, ignore_errors=True)
    return out


QUERIES["s17_stream_row_deletes"] = s17_stream_row_deletes
ORACLES["s17_stream_row_deletes"] = _s17_oracle()


# ---------------------------------------------------------------------------
# s18: stream-stream LEFT OUTER interval join — the semantics s8's
# inner form cannot show: unmatched purchases emit NULL-extended ONLY
# after the watermark proves no qualifying click can still arrive. A
# far-future sentinel wave advances both sides' watermarks past every
# real event, so the drained result is deterministically the full
# batch left join.
# ---------------------------------------------------------------------------
def s18_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join: purchases against
    same-user clicks in the preceding 5 minutes, keeping purchases
    with NO such click (the attribution-pipeline signal). Outer rows
    cannot emit eagerly — Spark holds each unmatched purchase in the
    join state until the watermark passes its match horizon, then
    emits it NULL-extended. The staged source carries the real events
    plus one sentinel click/purchase pair a day past the corpus
    (user -1): batch 0 ingests everything and emits the eager inner
    matches; ingesting the sentinels advances BOTH sides' watermarks
    past every real horizon, and a watermark advance is exactly what
    makes availableNow run one more batch — which evicts and emits
    every remaining unmatched purchase. The sentinel rows are removed
    from the DRAINED result, deliberately not from the streaming
    plan: a pre-drain `user_id != -1` filter would be pushed below
    the join into both source legs (constraint propagation carries it
    to c_user through the equi-join), silently killing the sentinels
    before the watermark node — the watermark then never advances and
    the last unmatched purchase never flushes. (Found the hard way;
    pinned by tests/test_streaming.py::test_s18_outer_join_flushes.)
    The oracle is the plain batch LEFT JOIN — a green row certifies
    eviction-driven outer emission end-to-end.

    Scale: this is s8's bounded-state story plus the outer contract:
    state per user stays O(watermark + interval horizon), and the
    sentinel trick is exactly how a production pipeline flushes a
    quiescent source (heartbeat events advancing event time)."""
    import datetime
    import os
    import shutil
    import tempfile

    from ..catalog import load_table

    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    e = load_table(spark, sf_dir, "events").select(*cols)
    mx = e.agg(F.max("ts")).first()[0]
    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )
    sent_ts = mx + datetime.timedelta(days=1)
    sentinels = local_df(spark, 
        [(-2, sent_ts, -1, "click", 0.0), (-3, sent_ts, -1, "purchase", 0.0)],
        schema,
    )

    root = tempfile.mkdtemp(prefix="fdb_s18_")
    sdir = os.path.join(root, "stream")
    os.makedirs(sdir)
    _arrive(e.unionByName(sentinels), sdir, "b0.parquet", 0)

    def src() -> DataFrame:
        return spark.readStream.schema(schema).parquet(sdir)

    joined = es.purchase_click_join(src(), src(), how="leftOuter")
    out = (
        _drain(joined, "s18", "append")
        .where(F.col("user_id") != -1)  # post-drain: see the docstring
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(root, ignore_errors=True)
    return out


QUERIES["s18_stream_outer_join"] = s18_stream_outer_join

ORACLES["s18_stream_outer_join"] = """
    SELECT p.event_id AS purchase_id, p.user_id,
           c.event_id AS click_id
    FROM events p LEFT JOIN events c
      ON p.user_id = c.user_id
     AND c.event_type = 'click'
     AND c.ts > p.ts - INTERVAL 5 MINUTE AND c.ts <= p.ts
    WHERE p.event_type = 'purchase'
    """


# ---------------------------------------------------------------------------
# s19: STREAMING CDC SOURCE — the g25 subscription cursors driving a
# foreachBatch incremental-apply loop that maintains a downstream
# aggregate table FROM the change feed (Delta-CDF-as-stream; the
# continuous version of the reference's 5-second polling loops,
# Server/__init__.py:48-56). Oracle = the batch recompute of the
# maintained view at each pinned point (the s15/g18 shared-oracle
# pattern).
# ---------------------------------------------------------------------------
def _s19_oracle() -> str:
    from ..filedb import fixtures
    from .merge_queries import _G6_WAVE_CTE, _G25_F3_CTE

    return f"""
WITH {fixtures.FIXTURE_CTES},
{_G6_WAVE_CTE},
{_G25_F3_CTE}
SELECT 'mid' AS part, CAST(dir_id AS BIGINT) AS dir_id,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(size) AS DOUBLE) AS total_size
FROM f2 GROUP BY dir_id
UNION ALL
SELECT 'fin', CAST(dir_id AS BIGINT), CAST(COUNT(*) AS BIGINT),
       CAST(SUM(size) AS DOUBLE)
FROM f3 GROUP BY dir_id
UNION ALL
SELECT 'meta', 2, 0, CAST(3 AS DOUBLE)
"""


def s19_stream_cdc_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC source: a downstream per-directory rollup
    (n_files, total_size) is MAINTAINED from the table store's CDC
    subscription instead of recomputed. The downstream registers a
    consumer at generation 1 and seeds itself with the initial full
    load; each micro-batch then (1) lands the upstream commit (the
    writer that ran between polls), (2) pulls `changes_since` — the
    net I/D/U delta for exactly this consumer's lag, (3) converts it
    to per-directory contributions (old side −1/−size, new side
    +1/+size, so cross-directory moves adjust both ends), (4) MERGEs
    them into the rollup (groups reaching zero files are deleted),
    and (5) only then advances the cursor — the at-least-once
    contract: a crash mid-apply re-pulls the same delta (pinned in
    tests/test_streaming.py), a replayed batch no-ops on the
    txn-version guard. 'mid'/'fin' pin the maintained table against
    the batch recompute over f2/f3 — incremental decimal arithmetic
    is EXACT, so the match is bit-for-bit; 'meta' pins 2 applied
    batches, 0 outstanding delta rows after the final advance, and 3
    upstream generations (retention covered the cursor).

    Scale: per batch this reads O(changed keys) from the feed,
    aggregates O(touched directories), and commits a MERGE that
    writes only those groups — a 100 TB upstream with a 0.1% change
    rate maintains its rollups for megabytes per batch, where the
    reference's polling loop re-ran the full aggregate every 5
    seconds."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ..filedb import fixtures, schemas
    from ..filedb.store import TableStore
    from ..streaming import cdc_source
    from .merge_queries import _g6_wave

    base = {f.name: f for f in schemas.FILE.fields}
    dim_schema = T.StructType(
        [base[c] for c in ("id", "name", "dir_id", "size", "mtime")]
    )
    stats_schema = T.StructType(
        [
            T.StructField("dir_id", T.LongType()),
            T.StructField("n_files", T.LongType()),
            T.StructField("total_size", T.DecimalType(28, 6)),
        ]
    )
    cols = [f.name for f in dim_schema.fields]
    f1 = fixtures.fixture_file(spark, sf_dir)
    f2 = _g6_wave(spark, f1)
    fid = F.col("id")
    f3 = f2.where(fid % 13 != 0).withColumn(
        "size",
        F.when(
            fid % 5 == 0,
            F.expr("size + CAST('0.002' AS DECIMAL(4,3))"),
        )
        .otherwise(F.col("size"))
        .cast("decimal(18,6)"),
    )

    root = tempfile.mkdtemp(prefix="fdb_s19_")
    sdir = os.path.join(root, "stream")
    os.makedirs(sdir)
    for i, w in enumerate([f2, f3]):
        arrival = w.select(*cols).withColumn("wave", F.lit(i + 1).cast("int"))
        _arrive(arrival, sdir, f"wave{i}.parquet", i)

    store = TableStore(
        spark,
        os.path.join(root, "cat"),
        {"dim": dim_schema, "dir_stats": stats_schema},
        bucketing=False,
    )
    store.replace("dim", f1.select(*cols))
    store.create_consumer("dim", "ivm")
    # initial full load: the one-time batch seed every CDC-maintained
    # view starts from
    store.replace(
        "dir_stats",
        f1.groupBy("dir_id").agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("size").cast("decimal(28,6)").alias("total_size"),
        ),
    )

    mid_state: list = []
    applied: list = []

    def proj(df: DataFrame, part: str) -> DataFrame:
        return df.select(
            F.lit(part).alias("part"),
            F.col("dir_id").cast("bigint").alias("dir_id"),
            F.col("n_files").cast("bigint").alias("n_files"),
            F.col("total_size").cast("double").alias("total_size"),
        )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= store.txn_version("s19_cdc"):
            return
        if batch_df.isEmpty():
            return
        b = batch_df.persist()
        try:
            wave = int(b.select(F.max("wave")).first()[0])
            store.replace("dim", b.drop("wave"))  # the upstream commit
            m = cdc_source.apply_cdc_batch(store, "dim", "ivm", "dir_stats")
            applied.append(m)
            if wave == 1:
                mid_state.append(
                    proj(store.read("dir_stats"), "mid").localCheckpoint(
                        eager=True
                    )
                )
        finally:
            frames.release(b)
        store.set_txn_version("s19_cdc", batch_id)

    stream_schema = T.StructType(
        list(dim_schema.fields) + [T.StructField("wave", T.IntegerType(), True)]
    )
    with es.stream_shuffle(spark):
        q = (
            spark.readStream.schema(stream_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(sdir)
            .writeStream.foreachBatch(apply)
            .option("checkpointLocation", os.path.join(root, "_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    pending = store.changes_since(
        "dim", "ivm", ["id"], ["name", "dir_id", "size", "mtime"]
    ).count()
    fin = proj(store.read("dir_stats"), "fin")
    meta = local_df(spark, 
        [(len(applied), pending, float(len(store.generations("dim"))))],
        "a long, p long, g double",
    ).select(
        F.lit("meta").alias("part"),
        F.col("a").cast("bigint").alias("dir_id"),
        F.col("p").cast("bigint").alias("n_files"),
        F.col("g").alias("total_size"),
    )
    out = (
        mid_state[0]
        .unionByName(fin)
        .unionByName(meta)
        .localCheckpoint(eager=True)
    )
    frames.release(*mid_state)
    shutil.rmtree(root, ignore_errors=True)
    return out


QUERIES["s19_stream_cdc_source"] = s19_stream_cdc_source
ORACLES["s19_stream_cdc_source"] = _s19_oracle()
