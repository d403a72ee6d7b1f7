"""HTTP ingest edge — the reference's write/read gateway as real HTTP.

Routes (api/handlers.rs):

  POST /tables/{t}        single event (S1 JSON / S2 protobuf via
                          ``Content-Type: application/x-protobuf`` +
                          ``X-Partition``) → 202; 400 invalid name/body;
                          503 when admission control refuses (T10,
                          handlers.rs:64-232)
  POST /tables/{t}/bulk   S3 bulk write — JSON ``{"records": [...]}`` or
                          protobuf ``BulkWriteRequest`` — one landing
                          file per request (atomic: one file = one batch
                          slice) → 202 with the record count
  GET  /tables/{t}        S7 tail read: ``?since_ms=&limit=&partition=&
                          fields=`` → newest-first rows + ``has_more``
                          (limit+1 probe, handlers.rs:992-1001)
  GET  /tables/{t}/health M6: live/ready + admission state
  POST /tables/{t}/flush  M5 flush endpoint: drain the landing zone into
                          the table (availableNow run, blocks)
  POST /tables/{t}/rollup refresh the incremental materialized rollup
                          (delta-only fold; 409 while another
                          maintenance action runs)
  POST /tables/{t}/delete row-level takedown (``"mode":
                          "merge-on-read"`` writes an Iceberg v2
                          position-delete file instead of rewriting —
                          the 100 TB cost model): JSON body of structured
                          selectors (``idempotency_keys`` list, ``topic``,
                          ``partition``, ``ts_min``/``ts_max`` ms) ANDed
                          into one ``EventTable.delete_where`` — never raw
                          SQL over the wire; ≥1 selector required (400).
                          ``"flush": false`` skips the default hot-tier
                          drain that guarantees the delete covers rows
                          still sitting in the landing zone
  GET  /tables/{t}/rollup the rollup state (per topic/partition/hour
                          counts, bytes, ts bounds, hwm) — served from
                          the O(keys) state, never a table scan
  GET  /tables/{t}/followers  registered follower groups: position,
                          lag in versions, and whether the retained
                          snapshot window still covers the group's next
                          incremental read (the observable half of the
                          expire_snapshots retention guard, r15)
  POST /consumers/{g}/commit  T12 consumer-offset commit (body: topic,
                          partition, offset — handlers.rs:1146-1169)
  GET  /consumers/{g}/offset  committed offset (?topic=&partition= —
                          handlers.rs:1171-1188; offset null = new group)
  GET  /stats             server rollup (handlers.rs:1070-1143 shape):
                          uptime + THIS process's request counters +
                          durable per-table stats (snapshot-derived, so
                          consistent across write-plane processes)

Deviation, documented: the reference acks with the assigned offset
(sequence) because its memtable assigns synchronously; here the 202 acks
DURABLE LANDING (tmp+rename into the landing zone) and sequences are
assigned at micro-batch commit — the freshness contract of a micro-batch
engine (SURVEY §7 "what's hard"). ``GET`` serves committed + hot rows
through :meth:`StreamingIngest.tail`.

stdlib ``ThreadingHTTPServer`` like the REST catalog, over the request
layer the two share (:mod:`zombi_spark.http_handler` — keep-alive, body
framing, one error dispatch); this module keeps only the routes and the
``{"error": {"message", "code"}}`` body. Spark is touched only by
GET/flush — the write path is pure filesystem work and stays
sub-millisecond.
"""

from __future__ import annotations

import contextlib
import http.client
import json
import multiprocessing
import os
import signal
import socket
import sys
import threading
import time
import urllib.parse
import uuid
from http.server import ThreadingHTTPServer

from zombi_spark.http_handler import HttpError, JsonHandler
from zombi_spark.ingest.batch import validate_table_name
from zombi_spark.ingest.protobuf import (
    ProtoDecodeError,
    decode_bulk_write_request,
    decode_event,
)
from zombi_spark.streaming.ingest import AdmissionRejected, StreamingIngest, WriteCombiner
from zombi_spark.streaming.landing import LandingZone

# the reference's validated projection surface (handlers.rs:737-764)
_KNOWN_FIELDS = (
    "sequence",
    "topic",
    "partition",
    "payload",
    "timestamp_ms",
    "idempotency_key",
    "committed",
)
_DEFAULT_FIELDS = ("payload", "timestamp_ms")
_ARROW_MEDIA = "application/vnd.apache.arrow.stream"


def _parse_partition(value) -> int:
    """Partition must fit the table's int32 column — the same 400
    boundary the protobuf decoder enforces (protobuf.py u32→i32 rule).
    A 202-acked event with an overflowing partition would otherwise be
    NULLed by the landing-schema read and silently vanish."""
    part = int(value)
    if not 0 <= part <= 0x7FFFFFFF:
        raise ValueError(f"partition {part} out of range [0, 2^31)")
    return part


def negotiate_format(accept_header: str) -> str:
    """'arrow' when the Arrow stream media type outranks JSON in the
    Accept header, else 'json' (S12 content negotiation). ONE
    negotiation implementation serves the library and the wire —
    :func:`zombi_spark.operators.reads.negotiate_output_format` (q=0 /
    malformed q = not acceptable, RFC 7231 specificity at equal q, ties
    fall back to json); two divergent copies answered the same header
    differently."""
    from zombi_spark.operators.reads import negotiate_output_format

    return negotiate_output_format(accept_header)


@contextlib.contextmanager
def _maintenance(ing, table: str, action: str = "maintenance"):
    """One maintenance action per table at a time — a concurrent request
    gets 409, the reference's in-progress contract (compaction.rs:98-137);
    two drains would also collide on the shared streaming checkpoint."""
    if not ing.maintenance_lock.acquire(blocking=False):
        raise HttpError(409, f"{action} already in progress for {table}")
    try:
        yield
    finally:
        ing.maintenance_lock.release()


def _drain(ing, timeout_message: str) -> None:
    """Drain the landing zone into the table (availableNow run, blocks).
    Past 600 s never report durability that hasn't happened, and never
    release the maintenance lock with the query still running (a second
    drain would collide on the checkpoint): stop it first, then 504."""
    q = ing.start(available_now=True)
    if not q.awaitTermination(600):
        q.stop()
        raise HttpError(504, timeout_message)


class _Handler(JsonHandler):
    server_version = "zombi-spark-edge/1.0"

    def error_body(self, status: int, message: str) -> dict:
        return {"error": {"message": message, "code": status}}

    def send_bytes(
        self,
        payload: bytes,
        content_type: str,
        status: int = 200,
        headers: dict | None = None,
    ) -> None:
        if status >= 400:
            self.server.counters.count_error()  # type: ignore[attr-defined]
        # which process served this — observable proof the multi-process
        # write plane is actually spreading load (and a debugging aid)
        headers = {"X-Edge-Pid": str(os.getpid()), **(headers or {})}
        super().send_bytes(payload, content_type, status, headers)

    def do_GET(self) -> None:  # noqa: N802 (http.server API)
        self.dispatch(self._get)

    def do_POST(self) -> None:  # noqa: N802
        self.dispatch(self._post)

    # ------------------------------------------------------------ plumbing
    def _ingest(self, name, create: bool = False) -> StreamingIngest:
        """Table name → its ingest; 400 for an invalid name. Writes create
        lazily (the S1 contract, handlers.rs:1287); reads and maintenance
        must not fabricate state — the resolver raises KeyError for an
        unknown table when ``create`` is False, answered 404."""
        try:
            table = validate_table_name(name)
        except (ValueError, TypeError) as exc:
            raise HttpError(400, str(exc)) from None
        try:
            return self.server.resolver(table, create)  # type: ignore[attr-defined]
        except KeyError:
            raise HttpError(404, f"table {table} not found") from None

    def _route(self) -> tuple[list[str], dict]:
        u = urllib.parse.urlparse(self.path)
        # keep INTERIOR empty segments: filtering them shifts the route,
        # so 'POST /tables//bulk' would write a single event into a table
        # literally named 'bulk' — the empty name must reach
        # validate_table_name and 400 instead
        raw = u.path.rstrip("/").split("/")
        parts = [urllib.parse.unquote(p) for p in raw[1:]] if raw and raw[0] == "" else [
            urllib.parse.unquote(p) for p in raw
        ]
        query = {k: v[0] for k, v in urllib.parse.parse_qs(u.query).items()}
        return parts, query

    def _is_proto(self) -> bool:
        return self.headers.get("Content-Type", "").startswith("application/x-protobuf")

    # ----------------------------------------------------------- write path
    def _parse_single(self) -> dict:
        """Request body → landing-zone event dict (defaults per
        handlers.rs:467-536: server-time timestamp, partition from the
        X-Partition header for protobuf)."""
        now_ms = int(time.time() * 1000)
        if self._is_proto():
            ev = decode_event(self.body)  # ProtoDecodeError → 400
            partition = _parse_partition(self.headers.get("X-Partition", 0))
            payload = ev["payload"]
            ts = ev["timestamp_ms"] if ev["timestamp_ms"] is not None else now_ms
            key = ev["idempotency_key"]
        else:
            body = json.loads(self.body or b"{}")
            if not isinstance(body, dict) or body.get("payload") is None:
                # key-present-but-null would 202-ack a row whose content
                # is gone while the Iceberg schema declares payload
                # required — reject like a missing field
                raise ValueError("body must be a JSON object with a non-null 'payload'")
            partition = _parse_partition(body.get("partition", 0))
            payload = body["payload"]
            ts = int(body.get("timestamp_ms", now_ms))
            key = body.get("idempotency_key")
        if isinstance(payload, bytes):
            payload = payload.decode("utf-8", errors="replace")
        return {
            "partition": partition,
            "payload": payload,
            "timestamp_ms": ts,
            "idempotency_key": key,
        }

    def _parse_bulk(self) -> list[dict]:
        now_ms = int(time.time() * 1000)
        if self._is_proto():
            records = decode_bulk_write_request(self.body)
            if not records:  # same contract as the JSON branch
                raise ValueError("bulk request decoded to zero records")
            out = []
            for r in records:
                out.append(
                    {
                        "partition": r["partition"],
                        "payload": r["payload"].decode("utf-8", errors="replace"),
                        "timestamp_ms": r["timestamp_ms"] if r["timestamp_ms"] is not None else now_ms,
                        "idempotency_key": r["idempotency_key"],
                    }
                )
            return out
        body = json.loads(self.body or b"{}")
        records = body.get("records") if isinstance(body, dict) else None
        if not isinstance(records, list) or not records:
            raise ValueError("body must carry a non-empty 'records' array")
        out = []
        for r in records:
            if not isinstance(r, dict) or r.get("payload") is None:
                raise ValueError("every record must be an object with a non-null 'payload'")
            out.append(
                {
                    "partition": _parse_partition(r.get("partition", 0)),
                    "payload": r["payload"],
                    "timestamp_ms": int(r.get("timestamp_ms", now_ms)),
                    "idempotency_key": r.get("idempotency_key"),
                }
            )
        return out

    def _post(self) -> None:
        parts, _q = self._route()
        if parts == ["internal", "resolve"] and getattr(self.server, "is_internal", False):
            # control-plane route (internal listener only): an edge
            # worker asks the Spark-attached parent to resolve a table's
            # landing zone — lazy table creation stays on the parent, the
            # worker gets back pure paths it can write without Spark
            try:
                req = json.loads(self.body or b"{}")
                name, create = req["table"], bool(req.get("create", True))
            except (ValueError, KeyError, TypeError) as exc:
                raise HttpError(400, f"body must carry 'table': {exc}") from None
            ing = self._ingest(name, create)
            self.send_json(
                {
                    "table": name,
                    "landing_dir": ing.landing_dir,
                    "checkpoint_dir": ing.checkpoint_dir,
                    "byte_budget": ing.landing_byte_budget,
                }
            )
            return
        if len(parts) == 3 and parts[0] == "consumers" and parts[2] == "commit":
            # T12 over HTTP (handlers.rs:1146-1169): body {topic,
            # partition, offset} → last-write-wins KV put on the topic's
            # table root; unknown topic 404s (a commit must never
            # fabricate table state)
            from zombi_spark.streaming.offsets import ConsumerOffsets

            group = parts[1]
            try:
                body = json.loads(self.body or b"{}")
                topic = body["topic"]
                partition, offset = int(body["partition"]), int(body["offset"])
            except (ValueError, KeyError, TypeError) as exc:
                raise HttpError(400, f"body must carry topic/partition/offset: {exc}") from None
            ing = self._ingest(topic)
            ConsumerOffsets(ing.table.path).commit(group, partition, offset)
            self.send_json(
                {"group": group, "topic": topic, "partition": partition, "offset": offset}
            )
            return
        if len(parts) not in (2, 3) or parts[0] != "tables":
            raise HttpError(404, "no such route")
        table = parts[1]
        action = parts[2] if len(parts) == 3 else None
        # writes create lazily; maintenance actions on unknown tables 404
        ing = self._ingest(table, create=action in (None, "bulk"))
        try:
            if action is None or action == "bulk":
                _t0 = time.perf_counter()
                events = [self._parse_single()] if action is None else self._parse_bulk()
                order_base = time.monotonic_ns()
                for i, e in enumerate(events):
                    e["topic"] = table
                    e["ingest_order"] = order_base + i
                if action is None:
                    # S4 combined path: ack after the combined batch
                    # lands (per-event oneshot semantics)
                    self.server.combiner_for(table).submit(events[0])  # type: ignore[attr-defined]
                    landed = None
                else:
                    # bulk requests are already a batch: land directly
                    landed = ing.produce(f"edge-{uuid.uuid4().hex}", events)
                # counted only after the durable landing (the reference
                # increments writes_total on success, handlers.rs:1081)
                self.server.counters.count_write(  # type: ignore[attr-defined]
                    len(events),
                    len(self.body),
                    latency_us=int((time.perf_counter() - _t0) * 1e6),
                )
                self.send_json(
                    {"table": table, "count": len(events), "landed": landed, "accepted": True},
                    202,
                )
            elif action == "flush":
                with _maintenance(ing, table, action):
                    _f0 = time.perf_counter()
                    _drain(
                        ing,
                        "flush did not drain within 600s; the run was "
                        "stopped — committed batches are durable, "
                        "retry to continue draining",
                    )
                    self.server.counters.flush_duration_us.observe(  # type: ignore[attr-defined]
                        int((time.perf_counter() - _f0) * 1e6)
                    )
                self.send_json({"table": table, "flushed": True})
            elif action == "compact":
                # M1 over HTTP (handlers.rs:1379-1408); min_input_files
                # mirrors CompactionConfig. strategy/sort_columns/
                # rewrite_all expose the r13 clustered-rewrite surface (the
                # rewrite_data_files strategy params); validation errors
                # map to 400, not 500
                with _maintenance(ing, table, action):
                    result = ing.table.compact(
                        min_input_files=int(_q.get("min_input_files", 3)),
                        strategy=_q.get("strategy", "binpack"),
                        sort_columns=(
                            _q["sort_columns"].split(",")
                            if "sort_columns" in _q
                            else None
                        ),
                        rewrite_all=_q.get("rewrite_all", "") == "true",
                        target_files_per_partition=int(
                            _q.get("target_files_per_partition", 1)
                        ),
                        # r14 partition scoping (incremental maintenance):
                        # comma-separated storage partition dirs, e.g.
                        # partitions=event_date=.../event_hour=0
                        partitions=(
                            _q["partitions"].split(",")
                            if "partitions" in _q
                            else None
                        ),
                    )
                self.send_json(
                    {
                        "table": table,
                        "files_rewritten": result.get("files_rewritten", 0),
                        "partitions": result.get("partitions", []),
                        "version": result.get("version"),
                    }
                )
            elif action == "retention":
                # cold-tier retention over HTTP: metadata-only
                # partition-aligned delete
                try:
                    cutoff = int(_q["older_than_ms"])
                except (KeyError, ValueError) as exc:
                    raise HttpError(400, f"older_than_ms query param required: {exc}") from None
                with _maintenance(ing, table):
                    report = ing.table.expire_data_older_than(cutoff)
                self.send_json({"table": table, **report})
            elif action == "delete":
                self._delete(table, ing)
            elif action == "rollup":
                # refresh the incremental materialized rollup — concurrent
                # refreshes would race the pointer swing into a lost-delta
                # retry
                from zombi_spark.table.rollup import MaterializedRollup

                with _maintenance(ing, table):
                    roll = MaterializedRollup(
                        ing.table, os.path.join(ing.table.path, "_rollup")
                    )
                    report = roll.refresh()
                self.send_json({"table": table, **report})
            else:
                raise HttpError(404, f"no such action {action}")
        except AdmissionRejected as exc:  # T10: the real 503
            raise HttpError(503, str(exc)) from None
        except ProtoDecodeError as exc:  # S2: malformed protobuf → 400
            raise HttpError(400, f"protobuf decode: {exc}") from None
        except (ValueError, KeyError, TypeError) as exc:
            raise HttpError(400, str(exc)) from None

    def _delete(self, table: str, ing: StreamingIngest) -> None:
        """Row-level takedown over HTTP: structured selectors only (a raw
        predicate string over the wire would make the public edge a SQL
        endpoint); selectors AND together."""
        from pyspark.sql import functions as F

        try:
            spec = json.loads(self.body) if self.body else {}
        except json.JSONDecodeError as exc:
            raise HttpError(400, f"invalid JSON body: {exc}") from None
        if not isinstance(spec, dict):
            raise HttpError(400, "body must be a JSON object")
        allowed = {
            "idempotency_keys", "topic", "partition", "ts_min",
            "ts_max", "flush", "mode",
        }
        unknown = set(spec) - allowed
        if unknown:
            raise HttpError(400, f"unknown selector(s): {sorted(unknown)}")
        conds = []
        keys = spec.get("idempotency_keys")
        # a JSON string here would iterate character-by-character into
        # isin() — silently deleting nothing (or the wrong single-char
        # keys) on a takedown endpoint
        if "idempotency_keys" in spec and not (
            isinstance(keys, list)
            and all(isinstance(k, (str, int)) and not isinstance(k, bool) for k in keys)
        ):
            raise HttpError(400, "idempotency_keys must be a JSON array of strings or integers")
        # an empty list has always meant "no key filter" (same as
        # omitting the selector) — keep that contract (ADVICE r7)
        if keys:
            conds.append(F.col("idempotency_key").isin([str(k) for k in keys]))
        if "topic" in spec:
            conds.append(F.col("topic") == str(spec["topic"]))
        if "partition" in spec:
            conds.append(F.col("partition") == int(spec["partition"]))
        if "ts_min" in spec:
            conds.append(F.col("timestamp_ms") >= int(spec["ts_min"]))
        if "ts_max" in spec:
            conds.append(F.col("timestamp_ms") <= int(spec["ts_max"]))
        if not conds:
            raise HttpError(
                400,
                "at least one selector required (idempotency_keys, "
                "topic, partition, ts_min, ts_max) — an unbounded "
                "delete must be expressed deliberately via retention",
            )
        mode = str(spec.get("mode", "copy-on-write"))
        # the client-supplied mode is checked against an explicit
        # whitelist, never inferred from exception text
        if mode not in ("copy-on-write", "merge-on-read"):
            raise HttpError(
                400,
                f"unknown delete mode {mode!r}: expected 'copy-on-write' or 'merge-on-read'",
            )
        pred = conds[0]
        for c in conds[1:]:
            pred = pred & c
        with _maintenance(ing, table):
            if spec.get("flush", True):
                # takedown must also catch rows still in the hot tier:
                # drain the landing zone first so the doomed rows are IN
                # the table the delete rewrites
                _drain(
                    ing, "pre-delete flush did not drain within 600s; nothing was deleted — retry"
                )
            report = ing.table.delete_where(
                pred,
                ts_min=int(spec["ts_min"]) if "ts_min" in spec else None,
                ts_max=int(spec["ts_max"]) if "ts_max" in spec else None,
                topic=str(spec["topic"]) if "topic" in spec else None,
                partition=int(spec["partition"]) if "partition" in spec else None,
                mode=mode,
            )
        self.send_json({"table": table, "mode": mode, **report})

    # ------------------------------------------------------------ read path
    def _get(self) -> None:
        parts, q = self._route()
        if parts and parts[0] == "health" and len(parts) <= 2:
            # server-level health (handlers.rs:1035-1041): live = process
            # up; ready = every known table's metadata resolves
            probe = parts[1] if len(parts) == 2 else None
            if probe == "live":
                # liveness must be O(1) — no manifest replay, no landing
                # scans, or a slow filesystem gets a live process killed
                self.send_json({"live": True})
                return
            from zombi_spark.table.stats import health

            reports = {i.table.name: health(i.table, ingest=i) for i in
                       self.server.known_ingests()}  # type: ignore[attr-defined]
            ready = all(r["ready"] for r in reports.values())
            if probe == "ready":
                self.send_json({"ready": ready}, 200 if ready else 503)
            elif probe is None:
                self.send_json({"live": True, "ready": ready, "tables": reports})
            else:
                # a typo'd probe name must not read as 200-healthy
                raise HttpError(404, f"no such health probe {probe!r}")
            return
        if len(parts) == 3 and parts[0] == "consumers" and parts[2] == "offset":
            # handlers.rs:1171-1188 — ?topic=&partition=; offset null for
            # a new group (clients start at the low watermark)
            from zombi_spark.streaming.offsets import ConsumerOffsets

            group = parts[1]
            try:
                topic, partition = q["topic"], int(q["partition"])
            except (ValueError, KeyError) as exc:
                raise HttpError(400, f"topic and partition query params required: {exc}") from None
            ing = self._ingest(topic)
            offset = ConsumerOffsets(ing.table.path).get(group, partition)
            self.send_json(
                {"group": group, "topic": topic, "partition": partition, "offset": offset}
            )
            return
        if parts == ["stats"]:
            # server rollup (handlers.rs:1070-1143 StatsResponse shape).
            # Request counters are per-PROCESS (a write-plane worker
            # proxies this route to the parent, whose counters cover only
            # requests the parent served); the tables section is derived
            # from snapshot summaries, so it is consistent no matter
            # which process landed the writes.
            from zombi_spark.table.stats import table_stats

            self.send_json(
                {
                    **self.server.counters.snapshot(),  # type: ignore[attr-defined]
                    "tables": {
                        i.table.name: {
                            **{
                                k: v
                                for k, v in table_stats(i.table).items()
                                if k
                                in (
                                    "current_version",
                                    "total_rows",
                                    "total_bytes",
                                    "file_count",
                                    "ingest_rows_per_sec",
                                    "last_commit_at_ms",
                                )
                            },
                            "admission": i.admission_status(),
                        }
                        for i in self.server.known_ingests()  # type: ignore[attr-defined]
                    },
                }
            )
            return
        if parts == ["metrics"]:
            # M6 /metrics exposition over every table this edge has seen
            # (handlers.rs:1532-1691): table gauges + admission state
            from zombi_spark.table.stats import prometheus_ingest_text, prometheus_text

            ingests = self.server.known_ingests()  # type: ignore[attr-defined]
            text = (
                prometheus_text([i.table for i in ingests])
                + prometheus_ingest_text(ingests)
                + self.server.counters.prometheus_histograms()  # type: ignore[attr-defined]
            )
            self.send_bytes(text.encode(), "text/plain; version=0.0.4")
            return
        if len(parts) < 2 or parts[0] != "tables":
            raise HttpError(404, "no such route")
        table = parts[1]
        ing = self._ingest(table)
        if len(parts) == 3 and parts[2] == "health":
            from zombi_spark.table.stats import health

            self.send_json(health(ing.table, ingest=ing))
            return
        if len(parts) == 3 and parts[2] == "metadata":
            # M5 introspection (handlers.rs:1236-1331): schema + snapshot
            # history summaries, no data files touched
            t = ing.table
            snaps = [
                {
                    "version": s["version"],
                    "snapshot_id": s["snapshot_id"],
                    "operation": s.get("operation"),
                    "committed_at_ms": s["committed_at_ms"],
                    "added_files": len(s.get("added", [])),
                    "removed_files": len(s.get("removed", [])),
                }
                for s in t.snapshots()
            ]
            self.send_json({"table_metadata": t.table_metadata(), "snapshots": snaps})
            return
        if len(parts) == 3 and parts[2] == "rollup":
            # the materialized per-hour rollup — O(keys) state read, the
            # dashboard query that must never scan the event table
            from zombi_spark.table.rollup import MaterializedRollup

            roll = MaterializedRollup(ing.table, os.path.join(ing.table.path, "_rollup"))
            try:
                limit = int(q.get("limit", 1000))
                if not 0 <= limit <= 100_000:
                    raise ValueError(f"limit must be in [0, 100000], got {limit}")
            except ValueError as exc:
                raise HttpError(400, str(exc)) from None
            # a concurrent refresh may GC the state dir this read's
            # pointer snapshot references (one-generation grace covers
            # almost all of the window); retry once against the fresh
            # pointer before giving up
            for attempt in (0, 1):
                try:
                    position, state = roll.snapshot()  # one pointer read
                    rows = state.orderBy(*roll.keys).limit(limit).collect()
                    break
                except Exception:  # noqa: BLE001 — state-dir swap race
                    if attempt:
                        raise  # second failure is real → 500 envelope
            records = []
            for r in rows:
                d = r.asDict()
                if d.get("event_date") is not None:
                    d["event_date"] = str(d["event_date"])
                records.append(d)
            self.send_json({"table": table, "position": position, "rows": records})
            return
        if len(parts) == 3 and parts[2] == "watermark":
            # M5 watermark endpoint: committed (snapshot-summary) marks
            wm = {
                f"{topic}/{part}": seq
                for (topic, part), seq in ing.table.watermark_map().items()
            }
            self.send_json({"table": table, "committed_watermarks": wm})
            return
        if len(parts) == 3 and parts[2] == "followers":
            # retention-vs-consumer-lag observability (r15, the metric
            # half of the expire_snapshots guard): per registered
            # follower group — last processed version, lag in versions,
            # and whether the retained snapshot window still covers its
            # next incremental read. An operator watching `covered:
            # false` approaching knows WHO is holding the snapshot log
            # before the guard starts clamping retention.
            from zombi_spark.streaming.offsets import ConsumerOffsets

            t = ing.table
            latest = t.latest_version()
            oldest = None
            names = t._snapshot_files()
            if names:
                oldest = int(names[0][5:13])
            groups = {}
            for g, pos in ConsumerOffsets(t.path).follower_positions().items():
                groups[g] = {
                    "position": pos,
                    "lag_versions": None if latest is None else max(latest - pos, 0),
                    # next read starts at pos+1; covered while that
                    # snapshot (or anything newer it needs) is retained
                    "covered": oldest is None or pos + 1 >= oldest or pos >= (latest or 0),
                }
            self.send_json(
                {
                    "table": table,
                    "latest_version": latest,
                    "oldest_retained_version": oldest,
                    "followers": groups,
                }
            )
            return
        if len(parts) != 2:
            raise HttpError(404, "no such route")
        try:
            fields = tuple(q["fields"].split(",")) if "fields" in q else _DEFAULT_FIELDS
            unknown = [f for f in fields if f not in _KNOWN_FIELDS]
            if unknown:
                raise ValueError(f"unknown fields: {unknown} (known: {list(_KNOWN_FIELDS)})")
            limit = int(q.get("limit", 100))
            if not 0 <= limit <= 100_000:
                raise ValueError(
                    f"limit must be in [0, 100000], got {limit} "
                    "(the tail collects to the serving process)"
                )
            since_ms = int(q["since_ms"]) if "since_ms" in q else None
            partition = int(q["partition"]) if "partition" in q else None
        except ValueError as exc:
            raise HttpError(400, str(exc)) from None
        # limit+1 probe for has_more (handlers.rs:992-1001)
        _t0 = time.perf_counter()
        tail_df = ing.tail(table, partition=partition, since_ms=since_ms, limit=limit + 1)
        if negotiate_format(self.headers.get("Accept", "")) == "arrow":
            # S12: Arrow IPC stream of the projected tail (the limit+1
            # probe row is dropped; has_more travels as a header)
            import io

            import pyarrow as pa

            tbl = tail_df.select(*fields).toArrow()
            has_more = tbl.num_rows > limit
            tbl = tbl.slice(0, limit)
            self.server.counters.count_read(  # type: ignore[attr-defined]
                tbl.num_rows, latency_us=int((time.perf_counter() - _t0) * 1e6)
            )
            sink = io.BytesIO()
            with pa.ipc.new_stream(sink, tbl.schema) as writer:
                writer.write_table(tbl)
            self.send_bytes(
                sink.getvalue(),
                _ARROW_MEDIA,
                headers={"X-Has-More": "true" if has_more else "false"},
            )
            return
        rows = tail_df.collect()
        has_more = len(rows) > limit
        self.server.counters.count_read(  # type: ignore[attr-defined]
            min(len(rows), limit), latency_us=int((time.perf_counter() - _t0) * 1e6)
        )
        records = []
        for r in rows[:limit]:
            d = r.asDict()
            if isinstance(d.get("payload"), (bytes, bytearray)):
                d["payload"] = bytes(d["payload"]).decode("utf-8", errors="replace")
            records.append({k: d.get(k) for k in fields})
        self.send_json({"records": records, "has_more": has_more})


class _Counters:
    """Per-process request counters behind ``GET /stats``
    (handlers.rs:1070-1143's in-memory metrics registry analogue).
    Durable per-table truth lives in snapshot summaries; these cover the
    HTTP plane of THIS process."""

    def __init__(self, latency_backing: dict | None = None):
        from zombi_spark.streaming.metrics import FLUSH_BUCKETS_US, LatencyHistogram

        self.started = time.time()
        self._lock = threading.Lock()
        self.write_requests = 0
        self.write_events = 0
        self.write_bytes = 0
        self.read_requests = 0
        self.read_records = 0
        self.errors_total = 0
        # streaming latency distributions (metrics/histogram.rs +
        # registry.rs write_latency_us/read_latency_us): observed on the
        # request thread at ack time, scraped via /metrics.
        # ``latency_backing`` carries multiprocessing Arrays so the
        # multi-process write plane accumulates into ONE histogram the
        # parent's /metrics scrape actually sees (workers proxy GETs to
        # the parent — per-process histograms there would hide nearly
        # all write latencies exactly when workers carry the load)
        lb = latency_backing or {}
        self.write_latency_us = LatencyHistogram(lb.get("write"))
        self.read_latency_us = LatencyHistogram(lb.get("read"))
        # drains run seconds-to-minutes: the wide bucket set, else every
        # observation lands only in +Inf and percentiles lie
        self.flush_duration_us = LatencyHistogram(lb.get("flush"), buckets=FLUSH_BUCKETS_US)

    def count_write(self, events: int, nbytes: int, latency_us: int | None = None) -> None:
        with self._lock:
            self.write_requests += 1
            self.write_events += events
            self.write_bytes += nbytes
        if latency_us is not None:
            self.write_latency_us.observe(latency_us)

    def count_read(self, records: int, latency_us: int | None = None) -> None:
        with self._lock:
            self.read_requests += 1
            self.read_records += records
        if latency_us is not None:
            self.read_latency_us.observe(latency_us)

    def prometheus_histograms(self) -> str:
        return self.write_latency_us.format_prometheus(
            "zombi_write_latency_us",
            "HTTP write path latency (parse to durable-landing ack), microseconds",
        ) + self.read_latency_us.format_prometheus(
            "zombi_read_latency_us",
            "HTTP tail-read latency (plan to serialized response), microseconds",
        ) + self.flush_duration_us.format_prometheus(
            "zombi_flush_duration_us",
            "Landing-zone drain (availableNow flush) duration, microseconds",
        )

    def count_error(self) -> None:
        with self._lock:
            self.errors_total += 1

    def snapshot(self) -> dict:
        uptime = max(time.time() - self.started, 1e-9)
        with self._lock:
            return {
                "uptime_secs": round(uptime, 3),
                "scope": "process",  # workers proxy /stats to the parent
                "writes": {
                    "requests": self.write_requests,
                    "events": self.write_events,
                    "bytes_total": self.write_bytes,
                    "events_per_sec": round(self.write_events / uptime, 1),
                },
                "reads": {
                    "requests": self.read_requests,
                    "records": self.read_records,
                },
                "errors_total": self.errors_total,
            }


class _ReusePortServer(ThreadingHTTPServer):
    """Public listener for the multi-process write plane: every process
    (parent + workers) binds the SAME (host, port) with SO_REUSEPORT and
    the kernel load-balances incoming connections across them — the
    standard pre-fork pattern for scaling an accept loop past one
    Python process's GIL."""

    def server_bind(self):
        self.socket.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEPORT, 1)
        super().server_bind()


class _WorkerState:
    """Per-worker-process registry: table → LandingZone (resolved once
    from the parent's control plane) and table → WriteCombiner."""

    def __init__(self, parent_addr: tuple):
        self.parent_addr = parent_addr
        self.zones: dict[str, LandingZone] = {}
        self.combiners: dict[str, WriteCombiner] = {}
        self.lock = threading.Lock()

    def zone_for(self, table: str, create: bool = True) -> LandingZone:
        with self.lock:
            zone = self.zones.get(table)
        if zone is not None:
            return zone
        # ask the Spark-attached parent to resolve (and lazily create)
        # the table — creation policy and state stay in ONE process; the
        # worker only ever learns filesystem paths
        conn = http.client.HTTPConnection(*self.parent_addr, timeout=30)
        try:
            conn.request(
                "POST",
                "/internal/resolve",
                json.dumps({"table": table, "create": create}).encode(),
                {"Content-Type": "application/json"},
            )
            resp = conn.getresponse()
            payload = resp.read()
        except (OSError, http.client.HTTPException) as exc:
            # parent down or died mid-reply: a retryable 502, not a
            # slammed connection (the worker itself is fine)
            raise HttpError(502, f"query plane unavailable: {exc}") from exc
        finally:
            conn.close()
        if resp.status == 404:
            raise KeyError(table)
        if resp.status != 200:
            message = json.loads(payload).get("error", {}).get("message", "resolve failed")
            raise HttpError(502, f"query plane unavailable: {message}")
        cfg = json.loads(payload)
        zone = LandingZone(cfg["landing_dir"], cfg["checkpoint_dir"], cfg["byte_budget"])
        with self.lock:
            return self.zones.setdefault(table, zone)

    def combiner_for(self, table: str) -> WriteCombiner:
        zone = self.zone_for(table, create=True)
        with self.lock:
            if table not in self.combiners:
                self.combiners[table] = WriteCombiner(zone)
            return self.combiners[table]

    def close(self) -> None:
        with self.lock:
            combiners = list(self.combiners.values())
            self.combiners.clear()
        for c in combiners:
            c.close()  # drain: in-flight batches land before exit (T11)


class _WriteWorkerHandler(_Handler):
    """Worker-process handler: serves the WRITE plane natively (single +
    bulk POST land through a worker-local LandingZone/WriteCombiner — no
    Spark, no GIL shared with the parent) and PROXIES everything else
    (reads, flush/compact, health, metrics) to the parent's internal
    listener, where the one Spark session lives."""

    def _post(self) -> None:
        parts, _q = self._route()
        if len(parts) in (2, 3) and parts[0] == "tables" and parts[2:] in ([], ["bulk"]):
            super()._post()  # the write plane, served locally
        else:
            self._proxy(parts)

    def _get(self) -> None:
        parts, _q = self._route()
        if parts == ["health", "live"]:
            # liveness of THIS worker, answered locally in O(1) — a
            # proxied probe would tie worker liveness to parent
            # availability and an orchestrator would kill a healthy
            # write plane over a busy query plane
            self.send_json({"live": True})
        else:
            self._proxy(parts)

    def _proxy(self, parts: list[str]) -> None:
        """Forward this request verbatim to the parent and relay the
        response. Hop-by-hop headers stay per-connection."""
        if parts and parts[0] == "internal":
            # the /internal control plane answers only on the parent's
            # internal listener — proxying it would expose it on the
            # PUBLIC port via any worker. Match the parent's public 404.
            raise HttpError(404, "no such route")
        hop = ("host", "connection", "keep-alive", "transfer-encoding")
        headers = {k: v for k, v in self.headers.items() if k.lower() not in hop}
        parent = self.server.state.parent_addr  # type: ignore[attr-defined]
        # generous timeout: flush blocks up to 600 s before its own 504
        conn = http.client.HTTPConnection(*parent, timeout=650)
        try:
            conn.request(self.command, self.path, self.body or None, headers)
            resp = conn.getresponse()
            payload = resp.read()
        except (OSError, http.client.HTTPException) as exc:
            # parent down/mid-restart (refused, or died mid-response →
            # IncompleteRead): a retryable 502, not a slammed connection
            raise HttpError(502, f"query plane unavailable: {exc}") from exc
        finally:
            conn.close()
        self.send_response(resp.status)
        for k, v in resp.getheaders():
            if k.lower() not in hop + ("content-length", "date", "server"):
                self.send_header(k, v)
        self.send_header("X-Edge-Proxied-By", str(os.getpid()))
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)


def _edge_worker_main(host, port, parent_addr, ready, latency_backing=None) -> None:
    """Entry point of one edge worker process (spawned — never forked:
    the parent holds a live JVM). Binds the shared public port with
    SO_REUSEPORT and serves until SIGTERM, draining combiners first so
    every acked write is durable before exit."""
    state = _WorkerState(tuple(parent_addr))
    srv = _ReusePortServer((host, port), _WriteWorkerHandler)
    srv.state = state  # type: ignore[attr-defined]
    # the write path only calls .produce() on what the resolver returns —
    # a bare LandingZone satisfies that contract
    srv.resolver = state.zone_for  # type: ignore[attr-defined]
    srv.combiner_for = state.combiner_for  # type: ignore[attr-defined]
    srv.counters = _Counters(latency_backing)  # type: ignore[attr-defined]

    def _graceful_stop() -> None:
        # order matters: stop ACCEPTING first, then drain — draining
        # while requests still arrive either 500s healthy writes on a
        # closing combiner or recreates an untracked combiner whose
        # queued events die with the process
        srv.shutdown()
        state.close()

    # shutdown() must run off the serve_forever thread; a bare signal
    # handler calling it inline would deadlock the poll loop
    signal.signal(
        signal.SIGTERM,
        lambda *_: threading.Thread(target=_graceful_stop, daemon=True).start(),
    )
    ready.set()
    try:
        srv.serve_forever()
    finally:
        srv.server_close()
    sys.exit(0)


class HttpIngestEdge:
    """Daemon-threaded ingest edge. ``resolver(table_name, create)``
    returns the table's :class:`StreamingIngest` — creating it lazily
    only when ``create`` is True (first WRITE, the reference's lazy
    table creation, handlers.rs:1287) and raising ``KeyError`` for an
    unknown table when ``create`` is False (reads/maintenance → 404, so
    read-only traffic can never fabricate per-table state).

    Single-event POSTs go through a per-table :class:`WriteCombiner` —
    one landing file per few milliseconds instead of per request, acked
    after the batch lands (S4, combiner.rs:98-225). Bulk requests land
    directly.

    ``workers=N`` scales the WRITE plane across N extra OS processes:
    each binds the same public port with SO_REUSEPORT and lands single /
    bulk POSTs through its own LandingZone + WriteCombiner (the landing
    zone is multi-writer-safe by construction — unique names, tmp +
    rename), while reads and maintenance proxy back to this process,
    where the one Spark session lives. This is how a GIL-bound stdlib
    edge approaches the reference's compiled multi-threaded axum edge
    on the single-write path — the plane that's pure filesystem work."""

    def __init__(
        self,
        resolver,
        host: str = "127.0.0.1",
        port: int = 0,
        workers: int = 0,
    ):
        self.resolver = resolver
        self.workers = workers
        self._combiners: dict[str, WriteCombiner] = {}
        self._combiner_lock = threading.Lock()
        self._known: dict[str, StreamingIngest] = {}
        self._host, self._port = host, port
        self._httpd: ThreadingHTTPServer | None = None
        self._internal_httpd: ThreadingHTTPServer | None = None
        self._worker_procs: list = []
        self._thread: threading.Thread | None = None
        # with a multi-process write plane, latency histograms live in
        # shared memory so every process's observations land in the one
        # set the parent's /metrics scrape serves
        self._latency_shm = None
        if workers:
            from zombi_spark.streaming.metrics import (
                FLUSH_BUCKETS_US,
                HISTOGRAM_BUCKETS_US,
                shm_slots,
            )

            _ctx = multiprocessing.get_context("spawn")
            self._latency_shm = {
                "write": _ctx.Array("Q", shm_slots(HISTOGRAM_BUCKETS_US)),
                "read": _ctx.Array("Q", shm_slots(HISTOGRAM_BUCKETS_US)),
                "flush": _ctx.Array("Q", shm_slots(FLUSH_BUCKETS_US)),
            }
        self._counters = _Counters(self._latency_shm)

    def _resolve(self, name: str, create: bool) -> StreamingIngest:
        ing = self.resolver(name, create)
        self._known[name] = ing  # /metrics scrapes every table seen
        return ing

    def known_ingests(self) -> list[StreamingIngest]:
        return list(self._known.values())

    def combiner_for(self, table: str) -> WriteCombiner:
        with self._combiner_lock:
            existing = self._combiners.get(table)
        if existing is not None:
            return existing
        # resolve OUTSIDE the lock: lazy table creation can take seconds
        # of Spark/filesystem work, and holding the global lock across it
        # would serialize every other table's single-event writes behind
        # it; the double-checked setdefault keeps one combiner per table
        # (a losing racer's combiner is closed, not leaked)
        ing = self.resolver(table, True)
        fresh = WriteCombiner(ing)
        with self._combiner_lock:
            won = self._combiners.setdefault(table, fresh)
        if won is not fresh:
            fresh.close()
        return won

    @property
    def base_url(self) -> str:
        assert self._httpd is not None, "server not started"
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}"

    def _attach(self, httpd: ThreadingHTTPServer, internal: bool = False) -> None:
        httpd.resolver = self._resolve  # type: ignore[attr-defined]
        httpd.combiner_for = self.combiner_for  # type: ignore[attr-defined]
        httpd.known_ingests = self.known_ingests  # type: ignore[attr-defined]
        httpd.is_internal = internal  # type: ignore[attr-defined]
        httpd.counters = self._counters  # type: ignore[attr-defined]  # shared: one process

    def start(self) -> "HttpIngestEdge":
        server_cls = _ReusePortServer if self.workers else ThreadingHTTPServer
        self._httpd = server_cls((self._host, self._port), _Handler)
        self._attach(self._httpd)
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        if self.workers:
            # internal listener (control plane + proxy target) — only the
            # parent binds it, so a worker's proxied GET can never
            # ricochet to another worker. ALWAYS loopback: workers are
            # local by construction, and binding the public host would
            # expose the unauthenticated /internal/resolve route (which
            # lazily creates tables and returns filesystem paths) to the
            # network whenever the edge serves 0.0.0.0
            self._internal_httpd = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
            self._attach(self._internal_httpd, internal=True)
            threading.Thread(
                target=self._internal_httpd.serve_forever, daemon=True
            ).start()
            pub_host, pub_port = self._httpd.server_address[:2]
            internal_addr = self._internal_httpd.server_address[:2]
            ctx = multiprocessing.get_context("spawn")  # never fork a JVM
            for _ in range(self.workers):
                ready = ctx.Event()
                proc = ctx.Process(
                    target=_edge_worker_main,
                    args=(
                        pub_host,
                        pub_port,
                        internal_addr,
                        ready,
                        self._latency_shm,
                    ),
                    daemon=True,
                )
                proc.start()
                self._worker_procs.append((proc, ready))
            for proc, ready in self._worker_procs:
                if not ready.wait(timeout=120):
                    self.stop()
                    raise RuntimeError("edge worker failed to start within 120s")
        return self

    def stop(self) -> None:
        # SIGTERM first: workers drain their combiners (acked ⇒ durable)
        for proc, _ready in self._worker_procs:
            if proc.is_alive():
                proc.terminate()
        for proc, _ready in self._worker_procs:
            proc.join(timeout=30)
            if proc.is_alive():
                proc.kill()
        self._worker_procs.clear()
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
        if self._internal_httpd is not None:
            self._internal_httpd.shutdown()
            self._internal_httpd.server_close()
        with self._combiner_lock:
            for c in self._combiners.values():
                c.close()  # drain: in-flight batches land before exit (T11)
            self._combiners.clear()

    def __enter__(self) -> "HttpIngestEdge":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()
