"""Maintenance helpers: orphan cleanup (M4) and landing-zone retention (T8)."""

import json
import os

from pyspark.sql import functions as F

from zombi_spark.ingest.batch import RAW_EVENT_SCHEMA, prepare_events
from zombi_spark.streaming.ingest import StreamingIngest
from zombi_spark.table.event_table import EventTable


def test_remove_orphans_only_touches_temporaries(spark, tmp_path):
    t = EventTable(spark, str(tmp_path), "events")
    rows = [("t", 0, b"x", 1704067200000 + i, None, i) for i in range(10)]
    t.append(prepare_events(spark.createDataFrame(rows, RAW_EVENT_SCHEMA)))
    n_before = t.read().count()

    # plant a fake crashed-compaction temp dir inside a partition dir
    part_dir = os.path.dirname(t.files()[0]["file_path"])
    orphan_dir = os.path.join(part_dir, ".compact-deadbeef")
    os.makedirs(orphan_dir)
    with open(os.path.join(orphan_dir, "part-0.parquet"), "w") as fh:
        fh.write("junk")

    removed = t.remove_orphans(older_than_s=0)
    assert any("deadbeef" in p for p in removed)
    assert not os.path.exists(orphan_dir)
    assert t.read().count() == n_before  # committed data untouched


def test_landing_zone_retention(spark, tmp_path):
    landing = str(tmp_path / "landing")
    table = EventTable(spark, str(tmp_path), "events")
    ing = StreamingIngest(spark, landing, table, str(tmp_path / "ckpt"))
    os.makedirs(landing)
    with open(os.path.join(landing, "b1.json"), "w") as fh:
        for i in range(5):
            fh.write(
                json.dumps(
                    {
                        "topic": "t",
                        "partition": 0,
                        "payload": f"p{i}",
                        "timestamp_ms": 1704067200000 + i,
                        "idempotency_key": None,
                        "ingest_order": i,
                    }
                )
                + "\n"
            )
    # unprocessed file must never be deleted
    assert ing.cleanup_landing_zone() == []
    q = ing.start(available_now=True)
    q.awaitTermination(120)
    assert table.read().count() == 5
    # processed + past retention → removed
    removed = ing.cleanup_landing_zone(retention_ms=0)
    assert len(removed) == 1 and not os.listdir(landing)


def test_remove_orphans_reaps_every_staging_prefix(tmp_path):
    """Crashed staging trees of every write operation — append, compact
    and delete (both modes stage under .delete-*) — are reaped, and
    pending_stats counts their files until then."""
    from zombi_spark.table.event_table import STAGING_PREFIXES
    from zombi_spark.table.stats import pending_stats

    t = EventTable(None, str(tmp_path), "t")
    assert STAGING_PREFIXES == (".append-", ".compact-", ".delete-")
    trees = [os.path.join(t.path, f"{p}crashed", "event_date=2024-01-01") for p in STAGING_PREFIXES]
    for d in trees:
        os.makedirs(d)
        with open(os.path.join(d, "part-0.parquet"), "w") as fh:
            fh.write("junk")
    assert pending_stats(t)["pending_files"] == 3
    removed = t.remove_orphans(older_than_s=0)
    assert sorted(removed) == sorted(os.path.join(d, "part-0.parquet") for d in trees)
    assert not any(os.path.exists(os.path.dirname(d)) for d in trees)


def test_compact_never_adopts_uncommitted_parquet(tmp_path):
    """files() lists the latest snapshot's manifest only: parquet a
    crashed first append left in the data tree is not a table file, so
    compaction plans nothing and commits no version 0."""
    t = EventTable(None, str(tmp_path), "t")
    hour = os.path.join(t.data_path, "event_date=2024-01-01", "event_hour=0")
    os.makedirs(hour)
    for i in range(3):
        with open(os.path.join(hour, f"part-{i}.parquet"), "w") as fh:
            fh.write("junk")
    assert t.files() == []
    rep = t.compact()
    assert rep.get("noop") is True and rep["files_rewritten"] == 0
    assert t.latest_version() is None


def test_remove_orphans_grace_window_protects_fresh_files(spark, tmp_path):
    """The older_than_s cutoff: a concurrent append's moved-but-
    uncommitted parquet is unreferenced for the seconds before its
    commit — a sweep running in that window must leave it alone (the
    Iceberg remove_orphan_files older_than contract)."""
    t = EventTable(spark, str(tmp_path), "events")
    rows = [("t", 0, b"x", 1704067200000 + i, None, i) for i in range(5)]
    t.append(prepare_events(spark.createDataFrame(rows, RAW_EVENT_SCHEMA)))

    part_dir = os.path.dirname(t.files()[0]["file_path"])
    inflight = os.path.join(part_dir, "part-inflight-append.parquet")
    with open(inflight, "w") as fh:
        fh.write("moved-but-uncommitted")
    stage_dir = os.path.join(str(tmp_path), "events", ".append-fresh")
    os.makedirs(stage_dir)
    with open(os.path.join(stage_dir, "part-0.parquet"), "w") as fh:
        fh.write("staging")

    # default grace window: the fresh artifacts survive the sweep
    assert t.remove_orphans() == []
    assert os.path.exists(inflight) and os.path.exists(stage_dir)
    # past the window (cutoff 0 = everything expired) they are reclaimed
    removed = t.remove_orphans(older_than_s=0)
    assert inflight in removed
    assert not os.path.exists(inflight) and not os.path.exists(stage_dir)


def test_files_entries_carry_key_nulls_stat(spark, tmp_path):
    """compact()'s skip-blooms-for-provably-unkeyed-inputs reads the
    key_nulls footer stat out of files(); a passthrough whitelist that
    drops it silently turns the optimization into dead code (it did)."""
    t = EventTable(spark, str(tmp_path), "events")
    rows = [("t", 0, b"x", 1704067200000 + i, None, i) for i in range(10)]
    t.append(prepare_events(spark.createDataFrame(rows, RAW_EVENT_SCHEMA)))
    entries = t.files()
    assert entries and all("key_nulls" in f for f in entries)
    # unkeyed batch: every key is null → the all-unkeyed rule holds
    assert sum(f["key_nulls"] for f in entries) == sum(f["row_count"] for f in entries)


def test_retention_delete_is_metadata_only_and_file_aligned(spark, tmp_path):
    """expire_data_older_than drops whole provably-expired files in one
    metadata commit: no rewrite, straddling files kept, time travel
    intact, watermarks carried, physical reclaim deferred to
    expire_snapshots + remove_orphans."""
    t = EventTable(spark, str(tmp_path), "events")
    day = 24 * 3600 * 1000
    base = 1704067200000

    def batch(start_seq, ts0, n, step_ms=1000):
        rows = [("t", 0, b"x", ts0 + i * step_ms, None, start_seq + i) for i in range(n)]
        return prepare_events(spark.createDataFrame(rows, RAW_EVENT_SCHEMA))

    t.append(batch(0, base, 10))              # day 1 — fully expired
    t.append(batch(10, base + 30 * day, 10))  # day 31 — fully live
    # a straddling file: rows on both sides of the cutoff INSIDE one hour
    cutoff = base + 15 * day + 1800_000  # mid-hour on day 16
    t.append(batch(20, cutoff - 600_000, 4, step_ms=300_000))
    v_before = t.latest_version()
    wm_before = t.watermark_map()
    files_before = len(t.files())

    rep = t.expire_data_older_than(cutoff)
    assert rep["files_removed"] >= 1 and rep["rows_removed"] == 10
    # only day-1 rows gone; the straddling file is KEPT whole
    assert t.read().count() == 14
    assert t.read().where(F.col("timestamp_ms") < cutoff).count() == 2
    # metadata-only: no rewrite means no new data files
    assert len(t.files()) == files_before - rep["files_removed"]
    # time travel to the pre-delete snapshot still serves everything
    assert t.read(version=v_before).count() == 24
    # sequences stay monotonic: watermarks untouched
    assert t.watermark_map() == wm_before
    # idempotent: nothing else provably expired
    assert t.expire_data_older_than(cutoff)["files_removed"] == 0
    # physical reclaim is the expire+orphans pipeline's job
    t.expire_snapshots(keep_last=1)
    removed = t.remove_orphans(older_than_s=0)
    assert removed  # the dropped day-1 parquet is physically gone
    assert t.read().count() == 14  # live data intact


def test_noop_compact_mints_no_snapshot(spark, tmp_path):
    """Round-6 review fix: a maintenance tick on an already-compacted
    table must not grow the snapshot log / Iceberg metadata — compact()
    with zero candidate partitions returns a no-op report at the current
    version instead of committing an empty delta."""
    from zombi_spark.ingest.batch import RAW_EVENT_SCHEMA, prepare_events
    from zombi_spark.table.event_table import EventTable

    t = EventTable(spark, str(tmp_path), "events")
    rows = [("t", 0, b"x", 1704067200000 + i, None, i) for i in range(10)]
    t.append(prepare_events(spark.createDataFrame(rows, RAW_EVENT_SCHEMA)))
    v1 = t.latest_version()
    rep = t.compact(min_input_files=99)  # nothing qualifies
    assert rep.get("noop") is True and rep["files_rewritten"] == 0
    assert t.latest_version() == v1  # no version minted
    assert rep["version"] == v1


def test_expired_version_read_raises_value_error(spark, tmp_path):
    """Round-6 review fix: reading a version inside [0, latest] whose
    snapshot was expired surfaces the documented ValueError, not a
    FileNotFoundError from deep inside manifest replay."""
    import pytest

    from zombi_spark.ingest.batch import RAW_EVENT_SCHEMA, prepare_events
    from zombi_spark.table.event_table import EventTable

    t = EventTable(spark, str(tmp_path), "events")
    for i in range(6):
        rows = [("t", 0, f"p{i}-{j}".encode(), 1704067200000 + i * 1000 + j, None, i * 10 + j)
                for j in range(3)]
        t.append(prepare_events(spark.createDataFrame(rows, RAW_EVENT_SCHEMA)))
    t.expire_snapshots(keep_last=2)
    with pytest.raises(ValueError, match="expired"):
        t.read(version=0).count()
    # retained versions still serve
    assert t.read(version=t.latest_version()).count() == 18


def test_remove_orphans_reclaims_undotted_meta_tmp(spark, tmp_path):
    """Round-6 review fix: interrupted table.json / extracted_fields.json
    writes leave UNDOTTED .tmp files the old dot-only pattern never
    matched — they must be reclaimed like any crashed meta commit."""
    import os

    from zombi_spark.ingest.batch import RAW_EVENT_SCHEMA, prepare_events
    from zombi_spark.table.event_table import EventTable

    t = EventTable(spark, str(tmp_path), "events")
    rows = [("t", 0, b"x", 1704067200000, None, 1)]
    t.append(prepare_events(spark.createDataFrame(rows, RAW_EVENT_SCHEMA)))
    leftovers = [
        os.path.join(t.meta_path, "table.json.tmp"),
        os.path.join(t.meta_path, "extracted_fields.json.deadbeef.tmp"),
        os.path.join(t.meta_path, ".snap-00000099.json.tmp"),
    ]
    for p in leftovers:
        with open(p, "w") as fh:
            fh.write("{}")
        os.utime(p, (1, 1))  # well past the grace window
    removed = t.remove_orphans(older_than_s=3600)
    for p in leftovers:
        assert p in removed and not os.path.exists(p), p
    # the LIVE meta files are untouched
    assert os.path.isfile(os.path.join(t.meta_path, "table.json"))


def test_schema_config_cannot_convert_a_populated_plain_table(spark, tmp_path):
    """Round-6 review fix: reopening a payload-bearing plain table with a
    schema_config would drop the payload column and hide every committed
    row's content — the conversion is rejected; creating a fresh
    extraction table and column-ADD evolution both still work."""
    import pytest

    from zombi_spark.ingest.batch import RAW_EVENT_SCHEMA, prepare_events
    from zombi_spark.ingest.extraction import FieldSpec, TableSchemaConfig
    from zombi_spark.table.event_table import EventTable

    cfg = TableSchemaConfig(
        payload_format="json", fields=[FieldSpec("k", "$.k", "int64")]
    )
    t = EventTable(spark, str(tmp_path), "plain")
    rows = [("t", 0, b'{"k": 1}', 1704067200000, None, 1)]
    t.append(prepare_events(spark.createDataFrame(rows, RAW_EVENT_SCHEMA)))
    with pytest.raises(ValueError, match="payload"):
        EventTable(spark, str(tmp_path), "plain", schema_config=cfg)
    # a FRESH table with the config is fine (no committed plain data)
    t2 = EventTable(spark, str(tmp_path), "extract", schema_config=cfg)
    t2.append(prepare_events(spark.createDataFrame(rows, RAW_EVENT_SCHEMA)))
    assert "k" in t2.read().columns and "payload" not in t2.read().columns
    # column-ADD evolution on the extraction table still works
    cfg2 = TableSchemaConfig(
        payload_format="json",
        fields=[FieldSpec("k", "$.k", "int64"), FieldSpec("m", "$.m", "utf8")],
    )
    t3 = EventTable(spark, str(tmp_path), "extract", schema_config=cfg2)
    assert {f["name"] for f in t3.extracted_fields()} == {"k", "m"}


# ------------------------------------------------------------------
# MaintenancePolicy: the background policy LOOP (VERDICT r7 #7 / r8 #6 /
# r9 #7) — thresholds drive compact/expire/orphan-GC/retention, nothing
# is called manually.
# ------------------------------------------------------------------

def _policy_batch(spark, start, n, ts0=1704067200000):
    rows = [("t", 0, f"p{i}".encode(), ts0 + i, None, i) for i in range(start, start + n)]
    return prepare_events(spark.createDataFrame(rows, RAW_EVENT_SCHEMA))


def test_policy_compacts_on_file_threshold(spark, tmp_path):
    from zombi_spark.table.maintenance import MaintenancePolicy

    t = EventTable(spark, str(tmp_path), "events")
    pol = MaintenancePolicy(
        t, compact_trigger_files=4, min_input_files=3, compact_max_age_s=1e9
    )
    for i in range(4):
        t.append(_policy_batch(spark, i * 5, 5))
    ev = pol.evaluate()
    assert ev["compact_due"] and ev["compact_reason"] == "threshold"
    actions = pol.run_due()
    kinds = [a["action"] for a in actions]
    assert "compact" in kinds
    done = next(a for a in actions if a["action"] == "compact")
    assert done["ok"] and done["result"]["reason"] == "threshold"
    assert len(t.files()) < ev["backlog_files"]
    assert t.read().count() == 20  # INV-6: compaction preserves every row
    # backlog cleared → next tick is quiet
    assert pol.run_due() == []


def test_policy_age_escalation_uses_injected_clock(spark, tmp_path):
    """Low-traffic tables: a backlog below the count/byte thresholds must
    still compact once it outlives compact_max_age_s (the reference's
    pending-age escalation) — driven by a fake clock, no sleeping."""
    from zombi_spark.table.maintenance import MaintenancePolicy

    clock = {"t": 100.0}
    t = EventTable(spark, str(tmp_path), "events")
    pol = MaintenancePolicy(
        t,
        compact_trigger_files=1000,
        compact_trigger_bytes=1 << 60,
        compact_max_age_s=300.0,
        min_input_files=3,
        clock=lambda: clock["t"],
    )
    t.append(_policy_batch(spark, 0, 4))
    t.append(_policy_batch(spark, 4, 4))
    t.append(_policy_batch(spark, 8, 4))  # 3 small files = min_input_files
    assert not pol.evaluate()["compact_due"]  # young backlog, tiny counts
    clock["t"] += 301.0
    ev = pol.evaluate()
    assert ev["compact_due"] and ev["compact_reason"] == "age"
    actions = pol.run_due()
    assert [a["action"] for a in actions] == ["compact"]
    assert actions[0]["ok"]
    assert t.read().count() == 12


def test_policy_expires_snapshots_and_reaps_orphans(spark, tmp_path):
    from zombi_spark.table.maintenance import MaintenancePolicy

    t = EventTable(spark, str(tmp_path), "events")
    pol = MaintenancePolicy(
        t,
        compact_trigger_files=10**6,  # isolate the expiry action
        expire_keep_last=4,
        orphan_older_than_s=0.0,
    )
    for i in range(7):
        t.append(_policy_batch(spark, i * 3, 3))
    assert len(t._snapshot_files()) == 7
    actions = pol.run_due()
    kinds = [a["action"] for a in actions]
    assert kinds == ["expire_snapshots", "remove_orphans"]
    assert len(t._snapshot_files()) == 4
    assert t.read().count() == 21


def test_policy_retention_window(spark, tmp_path):
    import time as _time

    from zombi_spark.table.maintenance import MaintenancePolicy

    t = EventTable(spark, str(tmp_path), "events")
    now_ms = int(_time.time() * 1000)
    t.append(_policy_batch(spark, 0, 4, ts0=now_ms - 10 * 86_400_000))  # 10 days old
    t.append(_policy_batch(spark, 4, 4, ts0=now_ms))  # fresh
    pol = MaintenancePolicy(
        t,
        compact_trigger_files=10**6,
        retention_ms=7 * 86_400_000,
    )
    actions = pol.run_due()
    ret = next(a for a in actions if a["action"] == "retention")
    assert ret["ok"] and ret["result"]["rows_removed"] == 4
    assert t.read().count() == 4
    # second tick: nothing left to age out, metadata no-op (no snapshot)
    v = t.latest_version()
    ret2 = next(a for a in pol.run_due() if a["action"] == "retention")
    assert ret2["result"]["files_removed"] == 0
    assert t.latest_version() == v


def test_long_running_ingest_stays_bounded_without_manual_calls(spark, tmp_path):
    """The r9 'done' criterion: a long-running ingest with the policy
    ticking — and NO manual compact/expire call anywhere — keeps both
    the data-file count and the snapshot log bounded while every row
    stays readable."""
    from zombi_spark.table.maintenance import MaintenancePolicy

    t = EventTable(spark, str(tmp_path), "events")
    pol = MaintenancePolicy(
        t,
        compact_trigger_files=6,
        min_input_files=2,
        compact_max_age_s=1e9,
        expire_keep_last=6,
        orphan_older_than_s=0.0,
    )
    total = 0
    peak_files = 0
    # 12 iterations = ≥2 full compact cycles at trigger 6 — enough to
    # show the steady state is a CYCLE, not a one-shot compact (18 was
    # wall-clock the invariant doesn't need; sized per VERDICT r16 #1)
    for i in range(12):
        t.append(_policy_batch(spark, i * 4, 4))
        total += 4
        peak_files = max(peak_files, len(t.files()))
        pol.run_due()  # the embedded tick an ingest loop would run
    # bounded: the steady-state file count stays under the trigger + one
    # batch's worth, far below the 18+ files an uncompacted run leaves
    assert len(t.files()) <= pol.compact_trigger_files + 2, (
        len(t.files()),
        peak_files,
    )
    assert len(t._snapshot_files()) <= pol.expire_keep_last
    assert t.read().count() == total
    compacts = [a for a in pol.history if a["action"] == "compact" and a["ok"]]
    assert compacts, "the policy never compacted"


def test_policy_daemon_thread_ticks_and_stops(spark, tmp_path):
    import time as _time

    from zombi_spark.table.maintenance import MaintenancePolicy

    t = EventTable(spark, str(tmp_path), "events")
    for i in range(4):
        t.append(_policy_batch(spark, i * 3, 3))
    pol = MaintenancePolicy(t, compact_trigger_files=4, min_input_files=2)
    pol.start(interval_s=0.2)
    try:
        deadline = _time.time() + 30
        while _time.time() < deadline:
            if any(a["action"] == "compact" and a["ok"] for a in pol.history):
                break
            _time.sleep(0.2)
    finally:
        pol.stop()
    assert any(a["action"] == "compact" and a["ok"] for a in pol.history)
    assert t.read().count() == 12
    # stopped: no further ticks mutate history
    n = len(pol.history)
    _time.sleep(0.5)
    assert len(pol.history) == n


def test_streaming_ingest_runs_policy_tick_per_batch(spark, tmp_path):
    """The production hook: a StreamingIngest constructed with a
    MaintenancePolicy ticks it after every committed micro-batch —
    several drained batches end with a compacted table and zero manual
    maintenance calls."""
    import json as _json

    from zombi_spark.table.maintenance import MaintenancePolicy

    landing = str(tmp_path / "landing")
    table = EventTable(spark, str(tmp_path), "stream-events")
    pol = MaintenancePolicy(
        table, compact_trigger_files=3, min_input_files=2, compact_max_age_s=1e9
    )
    ckpt = str(tmp_path / "ckpt")

    def _drop(name, events):
        os.makedirs(landing, exist_ok=True)
        tmp = os.path.join(landing, f".{name}.tmp")
        with open(tmp, "w") as fh:
            for e in events:
                fh.write(_json.dumps(e) + "\n")
        os.replace(tmp, os.path.join(landing, f"{name}.json"))

    def _ev(start, n):
        return [
            {
                "topic": "t1",
                "partition": 0,
                "payload": f"p-{i}",
                "timestamp_ms": 1700000000000 + i,
                "idempotency_key": None,
                "ingest_order": i,
            }
            for i in range(start, start + n)
        ]

    total = 0
    for b in range(4):
        ing = StreamingIngest(
            spark, landing, table, ckpt, maintenance_policy=pol
        )
        _drop(f"b{b}", _ev(b * 6, 6))
        q = ing.start(available_now=True)
        q.awaitTermination(120)
        total += 6
    assert table.read().count() == total
    assert any(a["action"] == "compact" and a["ok"] for a in pol.history)
    assert len(table.files()) <= pol.compact_trigger_files


def test_failing_maintenance_tick_is_logged_and_batch_commits_once(spark, tmp_path, caplog):
    """A maintenance tick that raises after the data commit is logged,
    never re-raised: re-raising would fail the micro-batch and its replay
    would append the unkeyed events twice. The batch commits exactly
    once and the warning carries the failure."""
    import json as _json
    import logging

    class ExplodingPolicy:
        ticks = 0

        def run_due(self):
            self.ticks += 1
            raise RuntimeError("maintenance tick exploded")

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    with open(os.path.join(landing, "b0.json"), "w") as fh:
        for i in range(6):
            fh.write(_json.dumps({
                "topic": "t1", "partition": 0, "payload": f"p-{i}",
                "timestamp_ms": 1700000000000 + i, "idempotency_key": None,
                "ingest_order": i,
            }) + "\n")
    table = EventTable(spark, str(tmp_path), "stream-events")
    pol = ExplodingPolicy()
    ing = StreamingIngest(
        spark, landing, table, str(tmp_path / "ckpt"), maintenance_policy=pol
    )
    with caplog.at_level(logging.WARNING, logger="zombi_spark.streaming.ingest"):
        ing.start(available_now=True).awaitTermination(120)
    assert pol.ticks == 1
    assert [s["version"] for s in table.snapshots()] == [0]
    assert table.read().count() == 6
    warned = [r for r in caplog.records if r.name == "zombi_spark.streaming.ingest"]
    assert len(warned) == 1 and "maintenance tick" in warned[0].getMessage()
    assert "maintenance tick exploded" in str(warned[0].exc_info[1])


def test_policy_one_failing_action_does_not_skip_the_rest(spark, tmp_path):
    """Per-action fault isolation (ADVICE r10 / reference flusher's
    per-item error handling): retention raising an OSError must still be
    RECORDED in history (the embedded path has no caller to re-raise to)
    and must not abort the same tick's compact."""
    from zombi_spark.table.maintenance import MaintenancePolicy

    t = EventTable(spark, str(tmp_path), "events")
    for i in range(4):
        t.append(_policy_batch(spark, i * 3, 3))
    pol = MaintenancePolicy(
        t,
        compact_trigger_files=4,
        min_input_files=2,
        retention_ms=365 * 86_400_000,  # retention due every tick
    )

    def _boom(cutoff):
        raise OSError("storage hiccup")

    t.expire_data_older_than = _boom
    actions = pol.run_due()
    kinds = [a["action"] for a in actions]
    assert kinds[0] == "retention" and not actions[0]["ok"]
    assert "OSError" in actions[0]["error"]
    assert "compact" in kinds, "compact was skipped by the retention failure"
    assert next(a for a in actions if a["action"] == "compact")["ok"]
    # the failure is observable in history too
    assert any(
        a["action"] == "retention" and not a["ok"] for a in pol.history
    )
    assert t.read().count() == 12


def test_policy_concurrent_ticks_do_not_double_fire(spark, tmp_path):
    """The tick lock (ADVICE r10): with the embedded ingest hook racing
    the daemon, a tick that finds another in flight returns [] instead of
    re-running the same due actions. Deterministic interleaving: thread A
    blocks inside compact on an event; thread B ticks meanwhile."""
    import threading

    from zombi_spark.table.maintenance import MaintenancePolicy

    t = EventTable(spark, str(tmp_path), "events")
    for i in range(4):
        t.append(_policy_batch(spark, i * 3, 3))
    pol = MaintenancePolicy(t, compact_trigger_files=4, min_input_files=2)

    inside = threading.Event()
    release = threading.Event()
    real_compact = t.compact

    def _slow_compact(**kw):
        inside.set()
        assert release.wait(60)
        return real_compact(**kw)

    t.compact = _slow_compact
    results: dict = {}

    def _a():
        results["a"] = pol.run_due()

    th = threading.Thread(target=_a)
    th.start()
    assert inside.wait(60), "thread A never reached compact"
    # B ticks while A holds the tick lock: skipped, nothing recorded
    n_hist = len(pol.history)
    assert pol.run_due() == []
    assert len(pol.history) == n_hist
    release.set()
    th.join(60)
    assert [x["action"] for x in results["a"]] == ["compact"]
    assert results["a"][0]["ok"]
    assert t.read().count() == 12


def test_policy_retention_cutoff_uses_injected_wall_clock(spark, tmp_path):
    """The retention cutoff is epoch-based (data ages by timestamp_ms),
    so it takes its OWN injectable wall clock (ADVICE r10) — a fake epoch
    drives the age-out deterministically, no real-time dependence."""
    from zombi_spark.table.maintenance import MaintenancePolicy

    t0 = 1704067200000  # 2024-01-01 epoch ms
    t = EventTable(spark, str(tmp_path), "events")
    t.append(_policy_batch(spark, 0, 4, ts0=t0))  # "old" batch
    t.append(_policy_batch(spark, 4, 4, ts0=t0 + 10 * 86_400_000))  # "new"
    pol = MaintenancePolicy(
        t,
        compact_trigger_files=10**6,
        retention_ms=7 * 86_400_000,
        # fake "now": 8 days after t0 → the first batch is out of window,
        # the second is 2 days in the future of the window start
        wall_clock=lambda: (t0 + 8 * 86_400_000) / 1000.0,
    )
    ret = next(a for a in pol.run_due() if a["action"] == "retention")
    assert ret["ok"] and ret["result"]["rows_removed"] == 4
    assert t.read().count() == 4


def test_policy_daemon_races_foreground_compact_safely(spark, tmp_path):
    """A daemon policy ticking every 50 ms while the foreground calls
    compact() and keeps appending: the in-process conflict contract is
    CommitConflictError-to-the-caller, who retries (the daemon side
    records its losses in history and retries next tick) — a retried
    foreground compact must converge, no other exception type may escape
    either path, and every row stays readable."""
    from zombi_spark.table.event_table import CommitConflictError
    from zombi_spark.table.maintenance import MaintenancePolicy

    t = EventTable(spark, str(tmp_path), "events")
    for i in range(4):
        t.append(_policy_batch(spark, i * 3, 3))
    pol = MaintenancePolicy(t, compact_trigger_files=2, min_input_files=2)
    pol.start(interval_s=0.05)
    total = 12
    fg_conflicts = 0
    try:
        for i in range(4, 8):
            t.append(_policy_batch(spark, i * 3, 3))
            total += 3
            for _attempt in range(10):  # foreground racing the daemon
                try:
                    t.compact(min_input_files=2)
                    break
                except CommitConflictError:
                    fg_conflicts += 1  # lost to the daemon: replan + retry
            else:
                raise AssertionError("foreground compact never converged")
    finally:
        pol.stop()
    assert t.read().count() == total
    # every failed tick action is a recorded commit race, nothing else
    for a in pol.history:
        if not a.get("ok", True):
            assert "conflict" in a.get("error", "").lower(), a
