"""Streaming ingest: zombi's hot path on Structured Streaming.

Reference semantics → Spark mechanism (SURVEY.md §2.10):
  T1 flush watermark        → streaming checkpoint offsets (checkpointLocation)
  T2 micro-batch trigger    → trigger(processingTime=...) / availableNow
  T4 hour-boundary split    → partitioned write by (event_date, event_hour)
  T5 snapshot commit        → one EventTable snapshot per micro-batch
  T6 two-phase watermark    → checkpoint commits after sink success (built in)
  T7 startup reconciliation → foreachBatch reloads the committed high
                              watermarks from the latest snapshot summary
                              (no data files read), so sequences continue
                              correctly after restart
  T8 retention/cleanup      → source files are the 'hot buffer'; they stay
                              until the caller removes them (retention=0s
                              analogue); dedup state lives in the table
  T11 graceful drain        → Trigger.AvailableNow + query.awaitTermination

Why foreachBatch and not transformWithStateInPandas: the arbitrary-state
API would hold the per-(topic, partition) sequence counter in the state
store directly, but its Python worker requires the ``protobuf`` package,
which this container does not ship (verified: the state server crashes on
``google.protobuf`` import). foreachBatch + table-watermark lookup gives
the same sequences with checkpointed exactly-once batch boundaries.

Exactly-once (SPEC.md INV-1/INV-4, both sides closed): sequences are
assigned deterministically inside ``foreachBatch`` from (existing table
watermark + arrival order), the batch is deduplicated against the table
by idempotency key before append, AND the append commit atomically
records (stream identity → micro-batch id) in the snapshot summary —
the foreachBatch transactional-sink pattern. A batch replayed after a
crash between the table commit and the checkpoint commit is recognized
by its id and skipped, so UNKEYED events are exactly-once across
retries too (previously the documented deviation: they would duplicate,
the contract zombi itself documents for keyless clients, SPEC.md:752 —
this engine now does strictly better). The streams map is carried
forward by every commit (compact/retention included), like watermarks.

Scale notes: each micro-batch does ONE shuffle keyed by
(topic, partition) for sequence assignment, reused by the partitioned
write's repartition on (event_date, event_hour) only when hour boundaries
actually split the batch. Per-batch table access is metadata-bounded: the
sequence-base lookup is a dict from the snapshot summary (zero file
reads), and the idempotency probe is a left-anti join against only the
retention window's files (snapshot-stats pruning) with only
(topic, partition, idempotency_key) read — at 100 TB the probe cost
tracks the retention window, not table history.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zombi_spark.ingest.batch import prepare_events
from zombi_spark.streaming.landing import (  # noqa: F401 — long-standing import site
    AdmissionRejected,
    LandingZone,
    WriteCombiner,
)
from zombi_spark.table.event_table import EventTable

# the landing-file wire schema — shared by the streaming reader and the
# hot-tier batch reader so the two paths can never drift
_LANDING_SCHEMA = (
    "topic string, partition int, payload string, timestamp_ms long, "
    "idempotency_key string, ingest_order long"
)


class StreamingIngest:
    """File-landing-zone streaming source → EventTable sink.

    The landing zone stands in for zombi's HTTP edge (S1-S3): producers
    drop JSON files ``{topic, partition, payload, timestamp_ms,
    idempotency_key, ingest_order}``; the stream ingests them with
    zombi's write-path semantics. A Kafka source swaps in by replacing
    ``readStream`` options only.

    ``landing_byte_budget`` turns on ADMISSION control (T10, the half
    the per-trigger caps don't cover): :meth:`produce` refuses new
    events once the un-ingested backlog reaches the budget, so a
    producer burst can't fill the landing zone unboundedly — the
    reference bounds in-flight work with a 10k-permit + 64 MB semaphore
    and 503s the excess (handlers.rs:64-232); here the budget bounds
    bytes-behind-the-checkpoint and :class:`AdmissionRejected` is the
    503. Producers writing files directly bypass the gate by
    construction — the budget governs the produce() edge, exactly like
    the reference's HTTP boundary.
    """

    def __init__(
        self,
        spark: SparkSession,
        landing_dir: str,
        table: EventTable,
        checkpoint_dir: str,
        retention_hours: int = 48,
        max_files_per_trigger: int | None = None,
        max_bytes_per_trigger: int | None = None,
        landing_byte_budget: int | None = None,
        maintain_rollup: bool = False,
        maintenance_policy=None,
    ):
        self.spark = spark
        self.landing_dir = landing_dir
        self.table = table
        self.checkpoint_dir = checkpoint_dir
        # idempotency keys older than this are forgotten — the reference's
        # post-flush retention delete (rocksdb.rs:1150-1237); bounds the
        # per-batch dedup probe to a window instead of the whole table
        self.retention_hours = retention_hours
        # T10 backpressure / admission control: the reference's edge bounds
        # in-flight work with a 10k-permit + 64 MB semaphore and 503s the
        # excess (handlers.rs:64-232). The streaming analogue caps how much
        # of the landing zone each micro-batch admits, so a burst drains as
        # several bounded batches (bounded shuffle + bounded memory per
        # batch) instead of one unbounded one. AvailableNow honors these
        # caps while draining.
        self.max_files_per_trigger = max_files_per_trigger
        self.max_bytes_per_trigger = max_bytes_per_trigger
        self.landing_byte_budget = landing_byte_budget
        # the Spark-free write plane (shared with HTTP edge worker
        # processes, which construct the same LandingZone from the
        # parent-resolved paths and land files this stream then ingests)
        self.zone = LandingZone(landing_dir, checkpoint_dir, landing_byte_budget)
        # serializes drain/maintenance actions per table (the reference
        # 409s a concurrent compaction via its per-topic in-progress set,
        # compaction.rs:98-137; two drains on one checkpoint would also
        # collide inside Spark) — callers try-acquire and surface 409
        import threading

        self.maintenance_lock = threading.Lock()
        # continuous-aggregate mode: fold each micro-batch's snapshot
        # into the materialized rollup right after the append commits —
        # the rollup is then always one batch behind at most, with no
        # explicit refresh calls (TimescaleDB continuous-aggregate
        # semantics). The refresh re-reads only the batch's own files
        # (a manifest delta), so the added cost tracks the batch.
        self.rollup = None
        if maintain_rollup:
            from zombi_spark.table.rollup import MaterializedRollup

            self.rollup = MaterializedRollup(
                table, os.path.join(table.path, "_rollup")
            )
        # threshold-driven background maintenance (table/maintenance.py):
        # when attached, every committed micro-batch is followed by one
        # metadata-only policy tick — compact/expire/orphan-GC/retention
        # fire from thresholds, never from manual calls (the reference's
        # flusher maintenance tick, flusher/mod.rs:676-729)
        self.maintenance_policy = maintenance_policy

    def _stream_identity(self) -> str | None:
        """checkpoint-path#query-id — the replay-guard key. The query id
        comes from ``<ckpt>/metadata`` (written by Spark at query start,
        stable across restarts of the SAME checkpoint, fresh when the
        checkpoint is recreated).

        Returns None when the id cannot be read: a replay guard's safe
        failure direction is NO guard (an at-least-once window) — a
        guard under a path-only identity could match a STALE entry from
        a recreated checkpoint and silently drop genuinely new batches.
        Cached per metadata-file mtime (the id is immutable per
        checkpoint incarnation; a stat beats an open+parse per batch)."""
        base = os.path.abspath(self.checkpoint_dir)
        meta = os.path.join(base, "metadata")
        try:
            mtime = os.stat(meta).st_mtime_ns
        except OSError:
            return None
        cached = getattr(self, "_sid_cache", None)
        if cached is not None and cached[0] == mtime:
            return cached[1]
        try:
            import json as _json

            with open(meta) as fh:
                qid = _json.load(fh).get("id", "")
        except (OSError, ValueError):
            return None
        if not qid:
            return None
        sid = f"{base}#{qid}"
        self._sid_cache = (mtime, sid)
        return sid

    def _raw_stream(self) -> DataFrame:
        reader = self.spark.readStream.schema(_LANDING_SCHEMA)
        if self.max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", str(self.max_files_per_trigger))
        if self.max_bytes_per_trigger is not None:
            reader = reader.option("maxBytesPerTrigger", str(self.max_bytes_per_trigger))
        raw = reader.json(self.landing_dir)
        # poison-row isolation for the system columns: a landing line
        # missing topic/partition (library producer, or a malformed line
        # PERMISSIVE-parsed to all-null) would otherwise commit an
        # unparseable watermark key ('zombi.watermark.None/None') that
        # kills every later watermark_map() read — default them instead
        # (the same defaults the HTTP edge applies before landing)
        return raw.select(
            F.coalesce(F.col("topic"), F.lit(self.table.name)).alias("topic"),
            F.coalesce(F.col("partition"), F.lit(0)).cast("int").alias("partition"),
            F.col("payload").cast("binary").alias("payload"),
            "timestamp_ms",
            "idempotency_key",
            "ingest_order",
        )

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch transactional sink (INV-1/INV-4 closed for
        # UNKEYED events too): the table snapshot records (stream id →
        # batch id) atomically WITH the data, so a batch replayed after
        # a crash between the append commit and the checkpoint commit is
        # recognized and skipped — the re-run is a no-op, not a
        # duplicate. The stream identity binds the checkpoint PATH to
        # the checkpoint's query id: a deleted-and-recreated checkpoint
        # restarts batch ids at 0, and a path-only identity would then
        # silently SKIP genuinely new batches — the fresh query id makes
        # it a fresh guard instead.
        stream_id = self._stream_identity()
        if stream_id is not None:
            last = self.table.last_stream_batch(stream_id)
            if last is not None and batch_id <= last:
                return  # this exact batch is already durable in the table
        if batch_df.isEmpty():
            return
        # Bounded metadata-driven write path — NEVER a full-table rescan:
        #  - sequence bases come from the snapshot summary's carried
        #    watermarks (zero data files read, A4 committed recovery)
        #  - the idempotency probe scans only retention-window files
        #    (snapshot-stats file pruning) and only 3 columns
        wm_map = self.table.watermark_map()
        watermarks = (
            self.spark.createDataFrame(
                [(t, p, s) for (t, p), s in wm_map.items()],
                "topic string, partition int, _base_seq long",
            )
            if wm_map
            else None
        )
        history = (
            self.table.idempotency_history(retention_hours=self.retention_hours)
            if self.table.latest_version() is not None
            else None
        )
        events = prepare_events(batch_df, history=history, watermarks=watermarks)
        # pass the EXACT watermarks the sequences were seeded from as the
        # collision-guard baseline — re-reading inside append would hide a
        # concurrent commit that landed since wm_map was read (both sides
        # of the guard's comparison would reflect it) and let colliding
        # sequences commit
        self.table.append(
            events,
            expected_watermarks={
                f"zombi.watermark.{t}/{p}": s for (t, p), s in wm_map.items()
            },
            stream_commit=None if stream_id is None else (stream_id, batch_id),
        )
        if self.rollup is not None:
            # BEST-EFFORT, after the data commit: a refresh failure here
            # would fail the micro-batch post-commit and force a Spark
            # replay that re-appends UNKEYED events — a maintenance
            # error must never convert into data duplication. A skipped
            # or failed fold just leaves the rollup a batch behind; the
            # next refresh folds the missed delta. Non-blocking so a
            # foreign process's slow refresh can't stall the ingest
            # cadence either.
            try:
                self.rollup.refresh(blocking=False)
            except Exception:  # noqa: BLE001 — maintenance stays best-effort
                logging.getLogger(__name__).warning(
                    "rollup fold after batch %d failed", batch_id, exc_info=True
                )
        if self.maintenance_policy is not None:
            # same best-effort contract as the rollup fold: a maintenance
            # failure after the data commit must never fail the batch
            # (replay would re-append unkeyed events). The tick itself is
            # metadata-only; actions run the crash-safe verbs.
            try:
                if self.maintenance_lock.acquire(blocking=False):
                    try:
                        self.maintenance_policy.run_due()
                    finally:
                        self.maintenance_lock.release()
            except Exception:  # noqa: BLE001 — maintenance stays best-effort
                logging.getLogger(__name__).warning(
                    "maintenance tick after batch %d failed", batch_id, exc_info=True
                )

    def start(self, available_now: bool = True, processing_time: str = "5 seconds"):
        """Run the ingest query. ``available_now=True`` drains the landing
        zone and stops (T11 graceful-drain analogue); otherwise runs a
        continuous micro-batch loop at ``processing_time`` (T2)."""
        writer = (
            self._raw_stream()
            .writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .outputMode("append")
        )
        if available_now:
            q = writer.trigger(availableNow=True).start()
        else:
            q = writer.trigger(processingTime=processing_time).start()
        return q

    def _checkpoint_seen_files(self) -> set[str]:
        return self.zone.checkpoint_seen_files()

    # -------------------- admission control (delegates to the zone — the
    # same LandingZone code runs Spark-free in edge worker processes)
    def backlog_bytes(self) -> int:
        return self.zone.backlog_bytes()

    def admission_status(self) -> dict:
        return self.zone.admission_status()

    def produce(self, name: str, events: list[dict]) -> str:
        """Admission-controlled producer write (see
        :meth:`LandingZone.produce`): AdmissionRejected = the 503 when
        the un-ingested backlog is at/over budget, else an atomic
        tmp+rename landing. Returns the landed path."""
        return self.zone.produce(name, events)

    def hot_view(self) -> DataFrame:
        """The hot tier: events in landing files the checkpoint has NOT yet
        committed — the sub-second-read mitigation for SPEC.md:196-208's L1
        (RocksDB serves the freshest events in <1 ms; a micro-batch design
        leaves a visibility gap of up to one trigger). Reading the few
        pending files is O(uncommitted backlog), independent of table size.

        Columns match the canonical committed schema where derivable;
        ``sequence`` is NULL (assigned only at commit) and ``committed``
        is false.

        Tier boundary: the checkpoint COMMIT log (a batch's files leave
        the hot tier only once its table append has committed — a
        planned-but-running batch's events stay hot, never invisible).
        The handoff window is the milliseconds between ``table.append``
        returning and Spark writing ``commits/<id>``; a tail in that
        window may see a row in both tiers (committed=true and =false) —
        the at-least-once edge of the handoff, vs the silent invisibility
        a planning-time boundary would have for the whole batch duration.
        """
        pending = self.zone.pending_files()
        if pending:
            raw = self.spark.read.schema(_LANDING_SCHEMA).json(pending)
        else:
            raw = self.spark.createDataFrame([], _LANDING_SCHEMA)
        return raw.select(
            F.lit(None).cast("long").alias("sequence"),
            "topic",
            "partition",
            F.col("payload").cast("binary").alias("payload"),
            "timestamp_ms",
            "idempotency_key",
            F.col("ingest_order").alias("arrival"),
            F.lit(False).alias("committed"),
        )

    def tail(
        self,
        topic: str,
        partition: int | None = None,
        since_ms: int | None = None,
        limit: int = 100,
    ) -> DataFrame:
        """S7 tail read across BOTH tiers: committed parquet (cold) plus
        not-yet-committed landing files (hot), each event exactly once —
        the checkpoint's seen-file list is the tier boundary, so a file is
        either visible as committed rows or as hot rows, never both.

        The cold side is snapshot-stats pruned (``since_ms`` bounds the
        file list before any footer is opened; without it,
        ``scan_latest`` plans the smallest stats-provable file set that
        can contain the newest ``limit`` rows MATCHING the topic /
        partition filter — per-file topic and partition bounds make the
        plan filter-aware, so an idle topic or partition whose newest
        rows sit outside the globally-newest files is still planned, and
        mixed-bounds files fall back to scanning every candidate). The
        hot side reads only the pending backlog. Compiles to
        TakeOrderedAndProject over the union — no global sort.
        """
        if since_ms is not None:
            cold = self.table.read(ts_min=since_ms, topic=topic, partition=partition)
        else:
            cold = self.table.scan_latest(limit, topic=topic, partition=partition)
        # extraction tables drop the raw payload column at write
        # (schema-on-write, §1.3) — tail still serves their rows, with a
        # NULL payload alongside the extracted columns' table
        payload_col = (
            F.col("payload")
            if "payload" in cold.columns
            else F.lit(None).cast("binary").alias("payload")
        )
        cold = cold.select(
            "sequence",
            "topic",
            "partition",
            payload_col,
            "timestamp_ms",
            "idempotency_key",
            F.col("sequence").alias("arrival"),
            F.lit(True).alias("committed"),
        )
        both = cold.unionByName(self.hot_view())
        both = both.where(F.col("topic") == topic)
        if partition is not None:
            both = both.where(F.col("partition") == partition)
        if since_ms is not None:
            both = both.where(F.col("timestamp_ms") >= since_ms)
        return both.orderBy(F.col("timestamp_ms").desc(), F.col("arrival").desc()).limit(limit)

    def cleanup_landing_zone(self, retention_ms: int = 0) -> list[str]:
        """T8: hot-buffer retention — remove landing files older than the
        retention window whose contents are already committed (the stream
        checkpoint guarantees processed-once; files are the 'hot tier' and
        this is the ``delete_range ≤ watermark`` analogue,
        rocksdb.rs:1150-1237). Returns removed paths."""
        import time

        removed = []
        land = self.zone.landing_dir  # absolute — matches the seen set
        if not os.path.isdir(land):
            return removed
        # only files in a COMMITTED batch are eligible — a planned-but-
        # uncommitted batch's files must survive a crash so the restarted
        # stream can replay them (deleting at planning time would lose
        # acked events exactly in the crash window)
        seen = self._checkpoint_seen_files()
        cutoff = time.time() - retention_ms / 1000.0
        for f in os.listdir(land):
            full = os.path.join(land, f)
            if os.path.isfile(full) and full in seen and os.path.getmtime(full) <= cutoff:
                os.remove(full)
                removed.append(full)
        return removed
