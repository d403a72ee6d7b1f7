"""Table stats / health / metrics — the M6 observability surface.

The reference exposes ``/stats`` (per-table rollups, handlers.rs:1414-1523),
``/health[/live|/ready]`` (handlers.rs:1035-1041) and a Prometheus
``/metrics`` exposition (handlers.rs:1532-1691, metrics/registry.rs). Here
the same numbers derive from the snapshot log + manifest stats — every
value is O(metadata) driver-side work; no data file is opened:

  - totals (files / bytes / rows) come from the manifest entries' footer
    stats recorded at commit time
  - per-(topic, partition) high watermarks come from the snapshot summary
  - freshness lag = commit wall-clock minus the newest event timestamp in
    the committed files — the committed-vs-arrived gap the reference
    derives from its flush watermarks
  - ingest rate = rows added over the commit-time span of the append
    snapshots (the ``events_per_sec`` rollup of handlers.rs:1444-1460)
"""

from __future__ import annotations

import os
import time

from zombi_spark.table.event_table import STAGING_PREFIXES, EventTable


def table_stats(table: EventTable, snaps: list[dict] | None = None) -> dict:
    """The ``/stats`` rollup for one table (handlers.rs:1414-1523 shape).
    ``snaps`` lets a caller that already read the snapshot log share it
    (a /metrics scrape otherwise parses every snapshot file twice)."""
    snaps = table.snapshots() if snaps is None else snaps
    files = table.scan_files() if snaps else []
    ops: dict[str, int] = {}
    appends = []
    files_rewritten = 0
    for s in snaps:
        ops[s.get("operation", "unknown")] = ops.get(s.get("operation", "unknown"), 0) + 1
        if s.get("operation") == "append":
            appends.append(s)
        files_rewritten += s.get("files_rewritten", 0)

    total_rows = sum(e.get("row_count", 0) for e in files)
    # merge-on-read tombstones (r15): total_rows counts PHYSICAL data
    # rows; position_delete_rows is the active tombstone count — visible
    # rows = total_rows - live tombstones. After a partial (scoped)
    # compact a surviving delete file may hold positions for already-
    # rewritten files, so this is an upper bound on pending tombstones;
    # a full compact returns it to 0 and total_rows to exact-visible.
    dels = table.delete_files() if snaps else []
    position_delete_rows = sum(d.get("row_count", 0) for d in dels)
    max_event_ts = max((e["max_ts"] for e in files if "max_ts" in e), default=None)
    latest = snaps[-1] if snaps else None

    # ingest rate over the append history: rows committed / wall-clock span
    # between the first and last append commit (≥1s floor so a single
    # append doesn't divide by zero)
    rate = None
    if len(appends) >= 2:
        span_s = max((appends[-1]["committed_at_ms"] - appends[0]["committed_at_ms"]) / 1000.0, 1.0)
        rows_after_first = sum(s.get("added_rows", 0) for s in appends[1:])
        rate = round(rows_after_first / span_s, 1)

    return {
        "table": table.name,
        "current_version": None if latest is None else latest["version"],
        "snapshot_count": len(snaps),
        "operations": ops,
        "file_count": len(files),
        "total_bytes": sum(e.get("file_size_bytes", 0) for e in files),
        "total_rows": total_rows,
        "position_delete_files": len(dels),
        "position_delete_rows": position_delete_rows,
        "files_rewritten_total": files_rewritten,
        "watermarks": {} if latest is None else dict(latest.get("watermarks", {})),
        "partition_count": len(latest.get("watermarks", {})) if latest else 0,
        "last_commit_at_ms": None if latest is None else latest["committed_at_ms"],
        "max_event_timestamp_ms": max_event_ts,
        # committed-vs-arrived gap at the last commit: how far event time
        # trailed the commit clock (negative = future-dated events)
        "freshness_lag_ms": (
            None
            if latest is None or max_event_ts is None
            else latest["committed_at_ms"] - max_event_ts
        ),
        "ingest_rows_per_sec": rate,
    }


def pending_stats(table: EventTable) -> dict:
    """A5: files/bytes awaiting commit (iceberg_storage.rs:1654-1706 —
    count + size of pending data files, totals and per partition dir).

    "Pending" here = parquet visible on disk but referenced by no
    snapshot: in-flight staging trees (``STAGING_PREFIXES``) and
    moved-but-uncommitted data files (a crashed append's leftovers, the
    exact set :meth:`EventTable.remove_orphans` would reclaim). Pure
    filesystem metadata — no data file is opened."""
    staged: list[tuple[str, int]] = []
    if os.path.isdir(table.path):
        for entry in os.listdir(table.path):
            if entry.startswith(STAGING_PREFIXES):
                stage_root = os.path.join(table.path, entry)
                for dirpath, _dirs, files in os.walk(stage_root):
                    for f in files:
                        if f.endswith(".parquet"):
                            p = os.path.join(dirpath, f)
                            staged.append(
                                (os.path.relpath(dirpath, stage_root), os.path.getsize(p))
                            )
    uncommitted: list[tuple[str, int]] = []
    if table._snapshot_files():
        live = table._referenced_files()
        uncommitted = [
            (f["partition_dir"], f["file_size_bytes"])
            for f in table._walk_data_files()
            if f["file_path"] not in live
        ]
    per_partition: dict[str, dict[str, int]] = {}
    for part, size in staged + uncommitted:
        slot = per_partition.setdefault(part, {"files": 0, "bytes": 0})
        slot["files"] += 1
        slot["bytes"] += size
    return {
        "table": table.name,
        "pending_files": len(staged) + len(uncommitted),
        "pending_bytes": sum(s for _, s in staged) + sum(s for _, s in uncommitted),
        "staging_files": len(staged),
        "uncommitted_data_files": len(uncommitted),
        "per_partition": per_partition,
    }


def _pct(sorted_vals: list, p: float):
    """Nearest-rank percentile over a pre-sorted list (the same
    element-of-the-data semantics ``percentile_approx`` has on small
    exact inputs — no interpolation)."""
    import math

    idx = max(0, min(len(sorted_vals) - 1, math.ceil(p * len(sorted_vals)) - 1))
    return sorted_vals[idx]


def ingest_metrics(table: EventTable, snaps: list[dict] | None = None) -> dict:
    """M6 ingest-metrics rollup: per-batch rates + commit-latency
    percentiles over the append history (the histogram surface of
    metrics/registry.rs / histogram.rs, derived from snapshot summaries —
    zero data files read).

    Percentiles are computed driver-side: the input is a handful of
    per-append ints out of snapshot summaries, and launching a Spark job
    per /metrics scrape for that would put a distributed aggregation on
    the monitoring hot path (at fleet scale the same rollup runs as an
    aggregate over a metrics *table* instead). ``snaps`` lets a caller
    that already read the snapshot log (``prometheus_text``) share it.
    """
    appends = [
        s for s in (snaps if snaps is not None else table.snapshots())
        if s.get("operation") == "append"
    ]
    samples = [
        (
            int(s.get("added_rows", 0)),
            int(s["append_duration_ms"]),
        )
        for s in appends
        if s.get("append_duration_ms") is not None
    ]
    out: dict = {
        "table": table.name,
        "append_batches": len(appends),
        "batches_with_latency": len(samples),
    }
    if not samples:
        return out
    lats = sorted(lat for _rows, lat in samples)
    rates = sorted(rows / max(lat, 1) * 1000 for rows, lat in samples)
    out.update(
        {
            "total_rows": sum(rows for rows, _lat in samples),
            "latency_ms_p50": _pct(lats, 0.5),
            "latency_ms_p90": _pct(lats, 0.9),
            "latency_ms_p99": _pct(lats, 0.99),
            "latency_ms_max": lats[-1],
            "rows_per_sec_p50_batch": round(_pct(rates, 0.5), 1),
        }
    )
    return out


def health(table: EventTable, ingest=None) -> dict:
    """``/health`` ``live``/``ready`` semantics: live = process up (always
    true in-library); ready = the snapshot log is readable and internally
    consistent (latest snapshot parses and its manifest resolves).

    With a :class:`~zombi_spark.streaming.ingest.StreamingIngest` passed
    as ``ingest``, the report also carries the T10 admission state —
    backlog vs budget and the 200/503-equivalent ``status`` the
    reference's edge returns when its in-flight semaphore is exhausted
    (handlers.rs:64-232). An over-budget edge is NOT un-ready: reads and
    draining keep working; only new produce() calls are refused."""
    live = True
    ready = True
    detail = "ok"
    try:
        snap = table.latest_snapshot()
        if snap is not None:
            table.scan_files()  # manifest replay must resolve
        elif not os.path.isdir(table.path):
            ready = False
            detail = "table root missing"
    except Exception as exc:  # unreadable/corrupt metadata → not ready
        ready = False
        detail = f"metadata error: {exc}"
    out = {"live": live, "ready": ready, "detail": detail}
    if ingest is not None:
        out["admission"] = ingest.admission_status()
    return out


def prometheus_text(tables: list[EventTable], now_ms: int | None = None) -> str:
    """Prometheus text exposition over one or more tables — the
    ``/metrics`` surface (handlers.rs:1532-1691). Gauges only: every
    number is a property of the current snapshot, recomputed per scrape,
    so there is no counter state to persist."""
    now_ms = int(time.time() * 1000) if now_ms is None else now_ms
    out: list[str] = []

    def gauge(name: str, help_: str, rows: list[tuple[str, float]]) -> None:
        _emit_gauge(out, name, help_, rows)

    # one snapshot-log read per table per scrape, shared by the /stats
    # rollup and the ingest-metrics percentiles below
    snaps_by = {t.name: t.snapshots() for t in tables}
    stats = [(t, table_stats(t, snaps=snaps_by[t.name])) for t in tables]
    gauge(
        "zombi_table_files",
        "Active data files in the current snapshot",
        [(f'{{table="{t.name}"}}', s["file_count"]) for t, s in stats],
    )
    gauge(
        "zombi_table_bytes",
        "Active data bytes in the current snapshot",
        [(f'{{table="{t.name}"}}', s["total_bytes"]) for t, s in stats],
    )
    gauge(
        "zombi_table_rows",
        "Committed rows in the current snapshot",
        [(f'{{table="{t.name}"}}', s["total_rows"]) for t, s in stats],
    )
    gauge(
        "zombi_table_snapshots",
        "Snapshots retained in the log",
        [(f'{{table="{t.name}"}}', s["snapshot_count"]) for t, s in stats],
    )
    wm_rows = []
    for t, s in stats:
        for key, hwm in s["watermarks"].items():
            topic, _, part = key.removeprefix("zombi.watermark.").rpartition("/")
            # topics are unvalidated producer strings — a quote, backslash
            # or newline in a label value would malform the exposition and
            # Prometheus rejects the WHOLE scrape body, not one row
            wm_rows.append(
                (f'{{table="{t.name}",topic="{_esc_label(topic)}",partition="{part}"}}', hwm)
            )
    gauge("zombi_high_watermark", "Committed high watermark per producer partition", wm_rows)
    gauge(
        "zombi_commit_age_ms",
        "Milliseconds since the last snapshot commit",
        [
            (f'{{table="{t.name}"}}', now_ms - s["last_commit_at_ms"])
            for t, s in stats
            if s["last_commit_at_ms"] is not None
        ],
    )
    gauge(
        "zombi_freshness_lag_ms",
        "Commit wall-clock minus newest committed event timestamp",
        [
            (f'{{table="{t.name}"}}', s["freshness_lag_ms"])
            for t, s in stats
            if s["freshness_lag_ms"] is not None
        ],
    )
    im_rows = []
    for t in tables:
        im = ingest_metrics(t, snaps=snaps_by[t.name])
        for q in ("p50", "p90", "p99"):
            v = im.get(f"latency_ms_{q}")
            if v is not None:
                im_rows.append((f'{{table="{t.name}",quantile="{q}"}}', v))
    gauge(
        "zombi_append_latency_ms",
        "Append commit latency percentiles over the snapshot history",
        im_rows,
    )
    return "\n".join(out) + "\n"


def _esc_label(value: str) -> str:
    """Prometheus exposition label-value escaping: backslash, quote,
    newline (the three characters the format reserves)."""
    return value.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")


def _emit_gauge(out: list[str], name: str, help_: str, rows: list[tuple[str, float]]) -> None:
    if not rows:
        return
    out.append(f"# HELP {name} {help_}")
    out.append(f"# TYPE {name} gauge")
    out.extend(f"{name}{labels} {value}" for labels, value in rows)


def prometheus_ingest_text(ingests: list) -> str:
    """T10 admission gauges per ingest edge — backlog, budget, and the
    200/503 accepting flag — appended to the /metrics exposition (the
    reference's edge exports its permit counters the same way). The
    budget row is OMITTED for unbounded edges rather than emitted as 0 —
    a budget of 0 is a valid reject-everything configuration and must
    stay distinguishable from 'no budget'."""
    out: list[str] = []
    states = [(ing, ing.admission_status()) for ing in ingests]
    _emit_gauge(
        out,
        "zombi_landing_backlog_bytes",
        "Un-ingested landing-zone bytes behind the checkpoint",
        [(f'{{table="{ing.table.name}"}}', st["backlog_bytes"]) for ing, st in states],
    )
    _emit_gauge(
        out,
        "zombi_landing_budget_bytes",
        "Admission-control byte budget (row absent = unbounded)",
        [
            (f'{{table="{ing.table.name}"}}', st["budget_bytes"])
            for ing, st in states
            if st["budget_bytes"] is not None
        ],
    )
    _emit_gauge(
        out,
        "zombi_landing_accepting",
        "1 when produce() is admitted, 0 when the edge would 503",
        [
            (f'{{table="{ing.table.name}"}}', 1 if st["accepting"] else 0)
            for ing, st in states
        ],
    )
    return "\n".join(out) + "\n" if out else ""
