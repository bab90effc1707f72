"""Continuous / incremental sync on Structured Streaming (SURVEY §2.H).

The reference's streaming model is change-polling micro-batches: a
``setInterval`` loop (reference src/index.mts:51-88) probes Tally's max
AlterIds (H2 gate), skips when unchanged, and otherwise runs the E1-E11
diff protocol; a flag guards reentrancy (H3). No watermarks, no event-time
windows.

Spark-first restatement:

- **The poll loop is a streaming query.** Snapshot drops land as parquet
  under a landing dir plus one JSON manifest line; ``readStream.json`` on
  the manifest dir is the change feed. ``foreachBatch`` runs the idempotent
  merge (H4) — micro-batches are serialized by the engine, so H3 is free,
  and checkpointing makes the feed exactly-once across restarts (the
  reference's in-memory ``lastAlterId`` cache dies with the process).
- **The H2 gate stays**: ``IncrementalSync.incremental_sync`` early-exits
  on equal source/sink AlterIds, so replayed or no-op snapshots are cheap.
- **Triggers** map one-to-one: ``frequency: 0`` one-shot →
  ``availableNow``; ``frequency: n`` minutes → ``processingTime``
  (reference README.md:245).
- **Watermarked windows** (beyond the reference): event streams get real
  event-time tumbling windows with late-data bounds — the operation a
  large-scale pipeline needs that polling can't express.

Scale: the streamed records are manifest rows (one per snapshot drop), so
driver-side ``collect()`` of a micro-batch is bounded by drop count, never
by data volume; all row-level work happens in the distributed merge plans.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.incremental import IncrementalSync, ParquetStore
from ..sources.registry import TableSpec

_MANIFEST_SCHEMA = "drop_id string, seq long, roots array<string>, path string"

_LAST_SEQ = 0  # process-local monotonicity floor for publish_snapshot
_SEEDED_DIRS: set[str] = set()  # manifest dirs whose on-disk max was folded in


def _max_published_seq(manifest_dir: str) -> int:
    """Max ``seq`` across the committed manifests in ``manifest_dir`` —
    the on-disk monotonicity floor a restarted producer must clear.
    Dot-prefixed stage files are skipped (not yet published); unreadable
    or seq-less (legacy) lines count as 0 rather than failing the
    publish."""
    best = 0
    try:
        names = os.listdir(manifest_dir)
    except OSError:
        return 0
    for name in names:
        if name.startswith(".") or not name.endswith(".json"):
            continue
        try:
            with open(os.path.join(manifest_dir, name),
                      encoding="utf-8") as fh:
                line = json.loads(fh.readline())
            seq = line.get("seq") if isinstance(line, dict) else None
            best = max(best, int(seq or 0))
        except (OSError, ValueError):
            continue
    return best


def publish_snapshot(landing_dir: str, source_by_root: dict[str, DataFrame],
                     drop_id: str | None = None) -> str:
    """Producer side of the change feed: persist one poll's nested source
    snapshot and announce it with a manifest line. (The reference's
    analog is each ``setInterval`` tick completing its Tally extraction.)

    The manifest carries a monotonic ``seq`` (publish-time nanos): drops
    landing in the SAME micro-batch must merge in publication order —
    uuid order is random, and applying an older snapshot after a newer
    one would classify the newer rows as deletes (the H2 gate only skips
    on EQUAL AlterIds). The line is staged dot-prefixed (Spark's file
    listing ignores dotfiles) and renamed into place, so the streaming
    source can never list a half-written manifest — a truncated JSON
    would burn its filename in the source checkpoint and lose the drop
    forever."""
    global _LAST_SEQ
    drop_id = drop_id or uuid.uuid4().hex
    snap_dir = os.path.join(landing_dir, "snapshots", drop_id)
    for root, df in source_by_root.items():
        df.write.mode("overwrite").parquet(os.path.join(snap_dir, root))
    manifest_dir = os.path.join(landing_dir, "manifest")
    os.makedirs(manifest_dir, exist_ok=True)
    # max(clock, prev+1): wall-clock alone is NOT monotonic (NTP steps /
    # VM slew could hand a later drop a smaller seq and re-create the
    # out-of-order merge this field prevents). The floor is
    # process-local, so on the first publish TO EACH LANDING DIR fold in
    # the max seq already on disk — a producer restart combined with a
    # backwards clock step must not publish a newer drop with a smaller
    # seq than an already-published one (ADVICE r4; per-dir, not
    # first-publish-only, so a producer feeding several landings seeds
    # each one's floor too).
    if manifest_dir not in _SEEDED_DIRS:
        _LAST_SEQ = max(_LAST_SEQ, _max_published_seq(manifest_dir))
        _SEEDED_DIRS.add(manifest_dir)
    _LAST_SEQ = max(time.time_ns(), _LAST_SEQ + 1)
    line = json.dumps({"drop_id": drop_id,
                       "seq": _LAST_SEQ,
                       "roots": sorted(source_by_root),
                       "path": snap_dir})
    final = os.path.join(manifest_dir, f"{drop_id}.json")
    tmp = os.path.join(manifest_dir, f".{drop_id}.json.tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(line + "\n")
    os.replace(tmp, final)  # atomic publish
    return drop_id


class ContinuousTallySync:
    """H1-H5: a streaming query whose micro-batches run the incremental
    merge. One query per store — micro-batch serialization is the
    reentrancy guard."""

    def __init__(self, spark: SparkSession, store: ParquetStore,
                 specs: dict[str, TableSpec], landing_dir: str,
                 checkpoint_dir: str):
        self.spark = spark
        self.sync = IncrementalSync(spark, store, specs)
        self.landing_dir = landing_dir
        self.checkpoint_dir = checkpoint_dir
        self.batch_stats: list[dict] = []   # (test/observability hook)

    def _merge_batch(self, manifest: DataFrame, batch_id: int) -> None:
        # manifest rows are drop announcements — tiny by construction.
        # Publication order, NOT drop_id (uuid) order: out-of-order
        # application of snapshots would delete-then-never-restore rows
        # created between them. Legacy seq-less manifests sort first.
        for row in manifest.orderBy(F.col("seq").asc_nulls_first(),
                                    "drop_id").collect():
            src = {root: self.spark.read.parquet(os.path.join(row.path, root))
                   for root in row.roots}
            if self.sync.store.tables():
                stats = self.sync.incremental_sync(src)
            else:
                stats = {"full": self.sync.full_sync(src)}
            self.batch_stats.append({"batch_id": batch_id,
                                     "drop_id": row.drop_id, **stats})

    def start(self, *, processing_time: str | None = None,
              available_now: bool = False):
        """Run the sync query. ``available_now`` = the reference's one-shot
        ``frequency: 0``; ``processing_time`` = its polling minutes."""
        feed = (self.spark.readStream
                .schema(_MANIFEST_SCHEMA)
                .json(os.path.join(self.landing_dir, "manifest")))
        writer = (feed.writeStream
                  .foreachBatch(self._merge_batch)
                  .option("checkpointLocation", self.checkpoint_dir))
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif processing_time:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()

    def run_once(self) -> None:
        """Synchronous one-shot poll (reference ``frequency: 0``)."""
        q = self.start(available_now=True)
        q.awaitTermination()


def sessionize(events: DataFrame, *, gap: str = "30 minutes",
               watermark: str = "1 hour", ts_col: str = "ts",
               key_col: str = "user_id") -> DataFrame:
    """Session windows: group each key's events into activity bursts
    separated by ≥``gap`` of silence — ``F.session_window``, the dynamic-
    length window the reference's polling model cannot express.

    Same plan batch and streaming. Batch output is SQL-checkable
    (gaps-and-islands formulation — see the ``event_sessions`` oracle in
    plans/gate.py); streaming adds the watermark so open-session state is
    dropped once no on-time event can extend it. Session merging shuffles
    on the key — uniform user ids, so no skew — and state per key is one
    (start, end, agg) triple, which is what keeps a year-long stream's
    state store bounded.
    """
    src = events
    if src.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    w = F.session_window(F.col(ts_col), gap)
    return (src.groupBy(w.alias("w"), F.col(key_col))
               .agg(F.count(F.lit(1)).alias("n_events"))
               .select(F.col(key_col),
                       F.col("w.start").alias("session_start"),
                       F.col("w.end").alias("session_end"),
                       "n_events"))


def stream_interval_join(left: DataFrame, right: DataFrame, *,
                         key_col: str = "user_id",
                         left_ts: str = "ts", right_ts: str = "ts",
                         lower: str = "0 seconds",
                         upper: str = "10 minutes",
                         watermark: str = "1 hour") -> DataFrame:
    """Stream-stream equi+interval join: pair each left event with the
    right-stream events of the same key whose timestamp falls in
    ``[left_ts - lower ... left_ts + upper]`` — the
    correlate-two-live-feeds operator (clicks⋈impressions,
    vouchers⋈payments) that the reference's poll-one-source model cannot
    express at all.

    Both sides carry watermarks and the join predicate carries BOTH time
    bounds, which is what lets Structured Streaming expire buffered rows:
    state per side is bounded by watermark + interval width, not stream
    length. The same plan runs on batch inputs (the watermark is a
    streaming-only no-op), so batch backfill and live tailing share one
    definition — equivalence is asserted stream-vs-batch in
    tests/test_streaming.py.

    Output: key, both timestamps and both payload structs."""
    lsrc, rsrc = left, right
    if lsrc.isStreaming:
        lsrc = lsrc.withWatermark(left_ts, watermark)
    if rsrc.isStreaming:
        rsrc = rsrc.withWatermark(right_ts, watermark)
    l_ = lsrc.select(F.col(key_col).alias("k"),
                     F.col(left_ts).alias("l_ts"),
                     F.struct(*[c for c in lsrc.columns
                                if c not in (key_col, left_ts)])
                     .alias("l_payload"))
    r_ = rsrc.select(F.col(key_col).alias("rk"),
                     F.col(right_ts).alias("r_ts"),
                     F.struct(*[c for c in rsrc.columns
                                if c not in (key_col, right_ts)])
                     .alias("r_payload"))
    # the time bounds live IN the join condition (not a post-join filter)
    # so the streaming planner derives the state-eviction horizon
    cond = ((F.col("k") == F.col("rk"))
            & (F.col("r_ts") >= F.col("l_ts") - F.expr(f"INTERVAL {lower}"))
            & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {upper}")))
    return (l_.join(r_, cond, "inner")
              .select(F.col("k").alias(key_col), "l_ts", "r_ts",
                      "l_payload", "r_payload"))


def windowed_event_counts(events: DataFrame, *, window: str = "1 hour",
                          watermark: str = "1 hour",
                          ts_col: str = "ts") -> DataFrame:
    """Event-time tumbling-window counts with a late-data watermark.

    Works identically on a batch DataFrame and a ``readStream`` source —
    the same plan serves backfill and live tailing, which is the Spark
    answer to the reference's batch-only polling. State size is bounded by
    the watermark horizon, which is what keeps a 100 TB/day stream's state
    store finite.
    """
    src = events
    if src.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    return (src.groupBy(F.window(F.col(ts_col), window).alias("w"),
                        F.col("event_type"))
               .agg(F.count(F.lit(1)).alias("n_events"))
               .select(F.col("w.start").alias("window_start"),
                       "event_type", "n_events"))
