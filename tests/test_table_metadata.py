"""Manifest-delta snapshot metadata (iceberg_storage.rs:1087-1110 shape):
O(new files) commits, stats-based scan planning, bounded streaming probe,
table-level metadata, snapshot expiration."""

import json
import os

from zombi_spark.ingest.batch import RAW_EVENT_SCHEMA, prepare_events
from zombi_spark.table.event_table import EventTable


def _batch(spark, start, n, ts_base=1704067200000):
    rows = [
        ("t", 0, f"p{i}".encode(), ts_base + i * 1000, f"k-{i}", i)
        for i in range(start, start + n)
    ]
    return spark.createDataFrame(rows, RAW_EVENT_SCHEMA)


def test_commit_is_delta_not_full_listing(spark, tmp_path):
    """Commit cost is O(files added by THIS commit): non-rebase snapshots
    carry only their own added files; the full active set reconstructs
    from the delta chain and matches the physical tree."""
    t = EventTable(spark, str(tmp_path), "events")
    for s in range(4):
        t.append(prepare_events(_batch(spark, s * 5, 5)))
    snaps = t.snapshots()
    assert len(snaps) == 4
    # v0 is a rebase point (full list); v1..v3 are pure deltas
    assert "files" in snaps[0]
    for s in snaps[1:]:
        assert "files" not in s
        assert s["added"] and s["removed"] == []
        assert s["parent_version"] == s["version"] - 1
    # the manifest view equals the physical tree (nothing lost, nothing
    # adopted) and every entry carries footer stats
    manifest = {f["file_path"] for f in t.files()}
    physical = {f["file_path"] for f in t._walk_data_files()}
    assert manifest == physical
    for e in t.scan_files():
        assert e["row_count"] > 0
        assert e["min_ts"] <= e["max_ts"]
        assert e["min_seq"] <= e["max_seq"]


def test_table_metadata_file(spark, tmp_path):
    t = EventTable(spark, str(tmp_path), "events")
    t.append(prepare_events(_batch(spark, 0, 5)))
    meta = t.table_metadata()
    assert meta["partition_spec"] == ["event_date", "event_hour"]
    assert meta["sort_order"] == ["timestamp_ms", "sequence"]
    field_names = [f["name"] for f in meta["schema"]["fields"]]
    assert "sequence" in field_names and "idempotency_key" in field_names


def test_iceberg_v2_metadata_written_per_commit(spark, tmp_path):
    """Every commit writes a spec-shaped Iceberg v2 ``v{N}.metadata.json``
    + version-hint (iceberg_storage.rs:1000-1161 contract), parseable with
    plain json: required fields, stable field-ids, identity partition spec
    on (event_date, event_hour), (timestamp_ms, sequence) sort order, and
    a snapshot list that tracks the commit history."""
    t = EventTable(spark, str(tmp_path), "events")
    t.append(prepare_events(_batch(spark, 0, 5)))
    t.append(prepare_events(_batch(spark, 5, 5)))

    mdir = os.path.join(t.path, "metadata")
    hint = int(open(os.path.join(mdir, "version-hint.text")).read())
    assert hint == 2  # one metadata version per commit, 1-based
    meta = json.load(open(os.path.join(mdir, f"v{hint}.metadata.json")))

    # Iceberg v2 required fields
    for key in (
        "format-version",
        "table-uuid",
        "location",
        "last-sequence-number",
        "last-updated-ms",
        "last-column-id",
        "schemas",
        "current-schema-id",
        "partition-specs",
        "default-spec-id",
        "last-partition-id",
        "sort-orders",
        "default-sort-order-id",
        "current-snapshot-id",
        "snapshots",
        "snapshot-log",
    ):
        assert key in meta, key
    assert meta["format-version"] == 2

    schema = meta["schemas"][meta["current-schema-id"]]
    by_name = {f["name"]: f for f in schema["fields"]}
    assert by_name["sequence"]["id"] == 1 and by_name["sequence"]["type"] == "long"
    assert by_name["event_date"]["type"] == "date"
    assert not by_name["idempotency_key"]["required"]
    assert meta["last-column-id"] == max(f["id"] for f in schema["fields"])

    spec = meta["partition-specs"][meta["default-spec-id"]]
    assert [(f["name"], f["transform"]) for f in spec["fields"]] == [
        ("event_date", "identity"),
        ("event_hour", "identity"),
    ]
    assert all(f["source-id"] == by_name[f["name"]]["id"] for f in spec["fields"])

    order = meta["sort-orders"][0]
    assert [f["source-id"] for f in order["fields"]] == [
        by_name["timestamp_ms"]["id"],
        by_name["sequence"]["id"],
    ]

    # snapshot chain: two appends, linked, current points at the newest
    assert len(meta["snapshots"]) == 2
    s0, s1 = meta["snapshots"]
    assert s1["parent-snapshot-id"] == s0["snapshot-id"]
    assert meta["current-snapshot-id"] == s1["snapshot-id"]
    assert s1["summary"]["operation"] == "append"
    assert int(s1["summary"]["added-data-files"]) >= 1
    # the manifest list is a real Avro file (round-trip contents are
    # validated in test_avro_manifests.py)
    assert os.path.isfile(s1["manifest-list"])
    assert s1["manifest-list"].endswith(".avro")
    assert "zombi.manifest-format" not in meta["properties"]
    # metadata-log points at the previous metadata file
    assert meta["metadata-log"] and os.path.isfile(meta["metadata-log"][-1]["metadata-file"])


def test_iceberg_metadata_self_heals_after_lost_write(spark, tmp_path):
    """A lost metadata write (crash between snapshot commit and metadata
    write) must not silently diverge: the next commit finds the gap and
    catches the Iceberg metadata up from the snapshot log."""
    t = EventTable(spark, str(tmp_path), "events")
    t.append(prepare_events(_batch(spark, 0, 4)))
    mdir = os.path.join(t.path, "metadata")
    # simulate the lost write: roll the hint back to v1 (as if commit 1's
    # metadata write had crashed)
    t.append(prepare_events(_batch(spark, 4, 4)))
    with open(os.path.join(mdir, "version-hint.text"), "w") as fh:
        fh.write("1")
    # next commit finds the cursor at version 0 but commits version 2 →
    # it catches up versions 1 and 2
    t.append(prepare_events(_batch(spark, 8, 4)))
    hint = int(open(os.path.join(mdir, "version-hint.text")).read())
    meta = json.load(open(os.path.join(mdir, f"v{hint}.metadata.json")))
    assert len(meta["snapshots"]) == 3  # full history restored
    assert meta["snapshots"][-1]["sequence-number"] == 3
    chain = [s.get("parent-snapshot-id") for s in meta["snapshots"]]
    assert chain[0] is None and all(c is not None for c in chain[1:])


def test_failed_metadata_write_is_logged_and_caught_up(spark, tmp_path, monkeypatch, caplog):
    """The one catch around the metadata writer: a failed write logs one
    warning and never fails the data commit, and the next append catches
    up both versions incrementally — same table-uuid, a metadata-log that
    extends the previous file, and per-snapshot manifests that match the
    engine's own scan plan."""
    import logging

    from zombi_spark.table import manifests as MF

    t = EventTable(spark, str(tmp_path), "events")
    t.append(prepare_events(_batch(spark, 0, 4)))
    mdir = os.path.join(t.path, "metadata")
    uuid_before = json.load(open(os.path.join(mdir, "v1.metadata.json")))["table-uuid"]

    real = MF.write_manifest_list
    calls = []

    def fail_once(*args, **kwargs):
        calls.append(1)
        if len(calls) == 1:
            raise OSError("injected manifest-list write failure")
        return real(*args, **kwargs)

    monkeypatch.setattr(MF, "write_manifest_list", fail_once)
    with caplog.at_level(logging.WARNING, logger="zombi_spark.table.event_table"):
        t.append(prepare_events(_batch(spark, 4, 4)))
    warned = [
        r for r in caplog.records
        if r.name == "zombi_spark.table.event_table" and r.exc_info is not None
    ]
    assert len(warned) == 1 and "iceberg metadata" in warned[0].getMessage()
    assert t.latest_version() == 1  # the data commit stands
    assert t.read().count() == 8
    assert open(os.path.join(mdir, "version-hint.text")).read() == "1"

    t.append(prepare_events(_batch(spark, 8, 4)))
    hint = int(open(os.path.join(mdir, "version-hint.text")).read())
    meta = json.load(open(os.path.join(mdir, f"v{hint}.metadata.json")))
    assert meta["table-uuid"] == uuid_before
    assert meta["properties"]["zombi.last-version"] == "2"
    assert meta["metadata-log"][-1]["metadata-file"] == os.path.abspath(
        os.path.join(mdir, "v1.metadata.json")
    )
    assert [s["sequence-number"] for s in meta["snapshots"]] == [1, 2, 3]
    for ice in meta["snapshots"]:
        live = {df["file_path"] for df in MF.live_data_files(ice["manifest-list"])}
        assert live == {
            os.path.abspath(e["file_path"])
            for e in t.scan_files(version=ice["sequence-number"] - 1)
        }
    # caught up by carry-forward, not rebuilt: one manifest per append
    assert len(MF.read_manifest_list(meta["snapshots"][-1]["manifest-list"])) == 3


def test_iceberg_metadata_tracks_expiration(spark, tmp_path):
    """expire_snapshots rewrites the interop metadata: expired snapshots
    leave the snapshot list, the current pointer survives."""
    t = EventTable(spark, str(tmp_path), "events")
    for s in range(5):
        t.append(prepare_events(_batch(spark, s * 3, 3)))
    t.expire_snapshots(keep_last=2)
    mdir = os.path.join(t.path, "metadata")
    hint = int(open(os.path.join(mdir, "version-hint.text")).read())
    meta = json.load(open(os.path.join(mdir, f"v{hint}.metadata.json")))
    assert len(meta["snapshots"]) == 2
    assert meta["current-snapshot-id"] == meta["snapshots"][-1]["snapshot-id"]
    live_ids = {s["snapshot-id"] for s in meta["snapshots"]}
    assert all(e["snapshot-id"] in live_ids for e in meta["snapshot-log"])


def test_commits_after_expiration_stay_incremental_and_keep_uuid(spark, tmp_path):
    """After expire_snapshots prunes the snapshot list, later commits must
    still take the incremental metadata path (the lost-write check tracks
    the last committed VERSION, not the pruned list length) and the
    table-uuid must stay stable — Iceberg clients validating uuid
    continuity reject a table whose uuid churns."""
    t = EventTable(spark, str(tmp_path), "events")
    for s in range(4):
        t.append(prepare_events(_batch(spark, s * 3, 3)))
    mdir = os.path.join(t.path, "metadata")

    def _meta():
        hint = int(open(os.path.join(mdir, "version-hint.text")).read())
        return json.load(open(os.path.join(mdir, f"v{hint}.metadata.json")))

    uuid_before = _meta()["table-uuid"]
    t.expire_snapshots(keep_last=2)
    # two more commits AFTER expiration: incremental, not rebuild
    t.append(prepare_events(_batch(spark, 12, 3)))
    t.append(prepare_events(_batch(spark, 15, 3)))
    meta = _meta()
    assert meta["table-uuid"] == uuid_before
    assert meta["properties"]["zombi.last-version"] == "5"
    # snapshot list = 2 survivors + 2 new appends (an out-of-sync rebuild
    # would have re-listed the full remaining log identically, but the
    # metadata-log chain proves the incremental path: each commit extends
    # the previous file rather than starting fresh)
    assert len(meta["snapshots"]) == 4
    assert meta["snapshots"][-1]["sequence-number"] == 6
    assert os.path.isfile(meta["metadata-log"][-1]["metadata-file"])


def test_rebuild_preserves_table_uuid(spark, tmp_path):
    """Catching up after a lost metadata write must keep the prior
    metadata's table-uuid instead of minting a new one."""
    t = EventTable(spark, str(tmp_path), "events")
    t.append(prepare_events(_batch(spark, 0, 4)))
    mdir = os.path.join(t.path, "metadata")
    uuid_before = json.load(
        open(os.path.join(mdir, "v1.metadata.json"))
    )["table-uuid"]
    t.append(prepare_events(_batch(spark, 4, 4)))
    with open(os.path.join(mdir, "version-hint.text"), "w") as fh:
        fh.write("1")  # simulate a lost metadata write
    t.append(prepare_events(_batch(spark, 8, 4)))  # catches up versions 1-2
    hint = int(open(os.path.join(mdir, "version-hint.text")).read())
    meta = json.load(open(os.path.join(mdir, f"v{hint}.metadata.json")))
    assert len(meta["snapshots"]) == 3
    assert meta["table-uuid"] == uuid_before


def test_scan_files_stats_pruning(spark, tmp_path):
    """Iceberg-style scan planning: files outside the (ts_min, ts_max)
    window are pruned from the candidate list before Spark opens a single
    footer."""
    day_ms = 86_400_000
    t = EventTable(spark, str(tmp_path), "events")
    t.append(prepare_events(_batch(spark, 0, 5, ts_base=1704067200000)))
    t.append(prepare_events(_batch(spark, 5, 5, ts_base=1704067200000 + 100 * day_ms)))
    all_files = t.scan_files()
    recent = t.scan_files(ts_min=1704067200000 + 99 * day_ms)
    old = t.scan_files(ts_max=1704067200000 + day_ms)
    assert 0 < len(recent) < len(all_files)
    assert 0 < len(old) < len(all_files)
    assert {e["file_path"] for e in recent}.isdisjoint({e["file_path"] for e in old})


def test_external_ddl_empty_table_is_schema_compatible(spark, tmp_path):
    """An EMPTY snapshot's DDL must produce a zero-row view with the real
    table schema (typed NULL projection), so downstream SQL referencing
    real columns works identically in the empty and non-empty cases."""
    import duckdb

    t = EventTable(spark, str(tmp_path), "events")
    con = duckdb.connect()
    con.execute(t.external_ddl(view_name="ev"))
    assert con.execute("select count(*) from ev").fetchone()[0] == 0
    desc = {r[0]: r[1] for r in con.execute("describe ev").fetchall()}
    assert desc["sequence"] == "BIGINT"
    assert desc["topic"] == "VARCHAR"
    assert desc["payload"] == "BLOB"
    assert desc["event_date"] == "DATE"
    # the same query works before and after data arrives
    q = "select topic, max(sequence) as hwm from ev group by topic"
    assert con.execute(q).fetchall() == []
    t.append(prepare_events(_batch(spark, 0, 3)))
    con.execute(t.external_ddl(view_name="ev"))
    assert con.execute(q).fetchall() == [("t", 3)]


def test_external_ddl_duckdb_reads_table(spark, tmp_path):
    """Cross-engine interop, actually executed: DuckDB runs the generated
    DDL and sees exactly the committed rows — including time travel (the
    DDL for an old version serves the old snapshot) and never the
    uncommitted orphans a directory glob would adopt."""
    import duckdb

    t = EventTable(spark, str(tmp_path), "events")
    t.append(prepare_events(_batch(spark, 0, 7)))
    t.append(prepare_events(_batch(spark, 7, 5), existing=t.read()))
    # an orphan parquet in the data tree (crashed append's leftovers)
    # must NOT leak into the external view
    orphan_dir = os.path.join(t.data_path, "event_date=2024-01-01", "event_hour=0")
    t.read().limit(1).write.mode("overwrite").parquet(str(tmp_path / "stray"))
    stray = next(
        f
        for f in os.listdir(str(tmp_path / "stray"))
        if f.endswith(".parquet")
    )
    os.replace(
        os.path.join(str(tmp_path / "stray"), stray),
        os.path.join(orphan_dir, "orphan.parquet"),
    )

    con = duckdb.connect()
    con.execute(t.external_ddl(view_name="ev"))
    assert con.execute("select count(*) from ev").fetchone()[0] == 12
    # partition columns come through hive partitioning
    cols = {r[0] for r in con.execute("describe ev").fetchall()}
    assert {"sequence", "event_date", "event_hour"} <= cols
    # values agree with Spark row-for-row
    duck = con.execute(
        "select sequence, timestamp_ms from ev order by sequence"
    ).fetchall()
    spark_rows = [
        (r.sequence, r.timestamp_ms)
        for r in t.read().select("sequence", "timestamp_ms").orderBy("sequence").collect()
    ]
    assert duck == spark_rows
    # time travel: version 0's DDL serves only the first append
    con.execute(t.external_ddl(view_name="ev_v0", version=0))
    assert con.execute("select count(*) from ev_v0").fetchone()[0] == 7


def test_latest_n_plans_newest_files_only(spark, tmp_path):
    """Latest-n planning reads the newest files, not the table: a
    latest-5 over appends 100 days apart must scan ONLY the recent
    append's files and still return exactly the full-scan top-5."""
    day_ms = 86_400_000
    t = EventTable(spark, str(tmp_path), "events")
    t.append(prepare_events(_batch(spark, 0, 50, ts_base=1704067200000)))
    t.append(prepare_events(_batch(spark, 50, 50, ts_base=1704067200000 + 100 * day_ms)))

    planned = {e["file_path"] for e in t.plan_latest_files(5)}
    recent = {e["file_path"] for e in t.scan_files(ts_min=1704067200000 + 99 * day_ms)}
    assert planned == recent  # old append never touched
    assert 0 < len(planned) < len(t.files())

    from pyspark.sql import functions as F

    top = (
        t.scan_latest(5)
        .orderBy(F.col("timestamp_ms").desc(), F.col("sequence").desc())
        .limit(5)
        .collect()
    )
    full = (
        t.read()
        .orderBy(F.col("timestamp_ms").desc(), F.col("sequence").desc())
        .limit(5)
        .collect()
    )
    assert top == full


def test_idempotency_history_bounded_probe(spark, tmp_path):
    """The streaming dedup probe touches only retention-window files
    (snapshot-stats pruning) and reads only the 3 key columns — the
    rocksdb.rs:1150-1237 retention-delete analogue. This is the per-batch
    scan bound that makes ingest O(window), not O(history)."""
    day_ms = 86_400_000
    t = EventTable(spark, str(tmp_path), "events")
    t.append(prepare_events(_batch(spark, 0, 5, ts_base=1704067200000)))
    t.append(prepare_events(_batch(spark, 5, 5, ts_base=1704067200000 + 100 * day_ms)))

    probe = t.idempotency_history(retention_hours=48)
    # file pruning: only the recent append's files are scanned
    recent_files = {e["file_path"] for e in t.scan_files(ts_min=1704067200000 + 99 * day_ms)}
    scanned = {p.replace("file://", "").replace("file:", "") for p in probe.inputFiles()}
    assert scanned == recent_files
    # column pruning reaches the parquet scan
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "idempotency_key" in plan
    assert "payload" not in plan
    # unbounded form still prunes columns but scans every file
    full = t.idempotency_history()
    assert len(full.inputFiles()) == len(t.files())


def test_watermark_map_matches_data(spark, tmp_path):
    """A4: the snapshot-summary watermarks equal the true per-partition
    max(sequence) — the write path can trust metadata over a scan."""
    t = EventTable(spark, str(tmp_path), "events")
    t.append(prepare_events(_batch(spark, 0, 7)))
    t.append(prepare_events(_batch(spark, 7, 6), existing=t.read()))
    wm = t.watermark_map()
    truth = {
        (r.topic, r.partition): r.high_watermark for r in t.high_watermarks().collect()
    }
    assert wm == truth


def test_expire_snapshots_materializes_base(spark, tmp_path):
    """Expiration rewrites the oldest survivor with a full file list, so
    delta replay never dangles off an expired parent."""
    t = EventTable(spark, str(tmp_path), "events")
    for s in range(5):
        t.append(prepare_events(_batch(spark, s * 3, 3)))
    assert t.expire_snapshots(keep_last=2) == [0, 1, 2]
    snaps = t.snapshots()
    assert [s["version"] for s in snaps] == [3, 4]
    assert "files" in snaps[0]  # materialized base
    assert t.read().count() == 15
    assert t.read(version=3).count() == 12  # time travel within retention
    # snapshot json on disk for the survivors only
    names = sorted(os.listdir(t.meta_path))
    assert [n for n in names if n.startswith("snap-")] == [
        "snap-00000003.json",
        "snap-00000004.json",
    ]


def test_rebase_snapshot_every_32_commits(spark, tmp_path):
    """The 32nd commit materializes a full list so reconstruction replays
    a bounded chain (manifest-list rebase)."""
    t = EventTable(spark, str(tmp_path), "events")
    # cheap commits: empty-delta snapshots via the internal API
    t.append(prepare_events(_batch(spark, 0, 3)))
    for v in range(1, 33):
        t._commit_snapshot(
            {"operation": "append", "watermarks": {}}, expected_parent=v - 1
        )
    snap32 = json.load(open(os.path.join(t.meta_path, "snap-00000032.json")))
    assert "files" in snap32  # rebase point
    snap31 = json.load(open(os.path.join(t.meta_path, "snap-00000031.json")))
    assert "files" not in snap31
    assert t.read().count() == 3


def test_byte_target_file_sizing(spark, tmp_path):
    """T3: once the table knows its bytes/row, a tiny target splits a hot
    hour into multiple files instead of one arbitrarily large one."""
    # 2000 rows, ALL in one (event_date, event_hour) storage partition
    rows = [("t", 0, b"x" * 64, 1704067200000 + i, f"k-{i}", i) for i in range(2000)]
    batch = spark.createDataFrame(rows, RAW_EVENT_SCHEMA)
    t = EventTable(spark, str(tmp_path), "events")
    t.append(prepare_events(batch))  # first append: no history, 1 file
    assert len(t.files()) == 1

    cap = t._target_records_per_file(4 * 1024)  # ~4 KB target
    assert cap is not None and cap >= 1000

    rows2 = [("t", 0, b"x" * 64, 1704067200000 + i, f"j-{i}", i) for i in range(8000)]
    t.append(prepare_events(spark.createDataFrame(rows2, RAW_EVENT_SCHEMA)), target_file_bytes=4 * 1024)
    snap = t.latest_snapshot()
    # the hot hour split: >1 file added for the single storage partition
    assert len(snap["added"]) > 1
    assert all(e["row_count"] <= cap for e in snap["added"])
    assert t.read().count() == 10000


def test_full_metadata_loss_rebuilds_on_next_commit(spark, tmp_path):
    """Derived-state contract: deleting the ENTIRE Iceberg metadata dir
    (JSON + Avro manifests) must not hurt the engine; the next commit
    rebuilds the whole interop surface from the authoritative snapshot
    log — per-snapshot manifests included — and the external-reader path
    resolves every snapshot again."""
    import shutil

    from zombi_spark.table.iceberg_reader import read_via_iceberg_metadata

    t = EventTable(spark, str(tmp_path), "events")
    t.append(prepare_events(_batch(spark, 0, 4)))
    t.append(prepare_events(_batch(spark, 4, 4), existing=t.read()))
    shutil.rmtree(os.path.join(t.path, "metadata"))

    t.append(prepare_events(_batch(spark, 8, 4), existing=t.read()))
    meta_path = os.path.join(t.path, "metadata")
    hint = int(open(os.path.join(meta_path, "version-hint.text")).read())
    meta = json.load(open(os.path.join(meta_path, f"v{hint}.metadata.json")))
    assert len(meta["snapshots"]) == 3  # full history regenerated
    for ice in meta["snapshots"]:
        df = read_via_iceberg_metadata(spark, t.path, snapshot_id=ice["snapshot-id"])
        assert df.count() == 4 * ice["sequence-number"]


def test_scan_files_topic_partition_pruning(spark, tmp_path):
    """Equality filters on topic/partition prune files by the per-file
    bounds BEFORE any footer opens — the same stats that make latest-n
    planning filter-aware, applied to the general scan path."""
    from zombi_spark.ingest.batch import RAW_EVENT_SCHEMA, prepare_events

    t = EventTable(spark, str(tmp_path), "events")
    for topic, part in (("alpha", 0), ("beta", 1)):
        rows = [(topic, part, b"x", 1704067200000 + i, None, i) for i in range(5)]
        t.append(prepare_events(spark.createDataFrame(rows, RAW_EVENT_SCHEMA)))
    all_files = t.scan_files()
    alpha = t.scan_files(topic="alpha")
    assert 0 < len(alpha) < len(all_files)
    assert all(e["min_topic"] == e["max_topic"] == "alpha" for e in alpha)
    p1 = t.scan_files(partition=1)
    assert 0 < len(p1) < len(all_files)
    # read() with the filter scans only the admitted files' rows
    assert t.read(topic="alpha").count() == 5
    assert set(r.topic for r in t.read(topic="alpha").collect()) == {"alpha"}
    assert t.read(partition=1).count() == 5
    # a value no file admits plans zero files
    assert t.scan_files(topic="zzz") == []
    assert t.read(topic="zzz").count() == 0


def _synthetic_entry(i: int) -> dict:
    hour = i % 24
    return {
        "file_path": f"/nowhere/data/event_date=2024-01-01/event_hour={hour}/f{i}.parquet",
        "partition_dir": f"event_date=2024-01-01/event_hour={hour}",
        "file_size_bytes": 1000 + i,
        "row_count": 10,
        "min_ts": 1704067200000 + i * 1000,
        "max_ts": 1704067200000 + i * 1000 + 999,
    }


def test_manifest_replay_reads_one_snapshot_per_commit(tmp_path, monkeypatch):
    """The manifest replay stops at the nearest cached version: across 40
    commits (one removal, one position-delete add/remove pair, one rebase
    at v32) no commit after v0 reads more than 3 snapshot files, and every
    version replays to the same (files, delete files) as a cold table."""
    t = EventTable(None, str(tmp_path), "t")
    reads = []
    real_read = t._read_snapshot

    def spy(fname):
        reads.append(fname)
        return real_read(fname)

    monkeypatch.setattr(t, "_read_snapshot", spy)
    dele = {
        "file_path": "/nowhere/deletes/d0.parquet",
        "row_count": 1,
        "file_size_bytes": 100,
        "referenced_files": [_synthetic_entry(3)["file_path"]],
    }
    per_commit = []
    for v in range(40):
        kwargs = {"added": [_synthetic_entry(v)]}
        if v == 10:
            kwargs["removed"] = [_synthetic_entry(2)["file_path"]]
        if v == 12:
            kwargs["added_deletes"] = [dele]
        if v == 20:
            kwargs["removed_deletes"] = [dele["file_path"]]
        before = len(reads)
        t._commit_snapshot(
            {"operation": "append"}, expected_parent=t.latest_version(), **kwargs
        )
        per_commit.append(len(reads) - before)
    assert max(per_commit[1:]) <= 3, per_commit
    # the replay cache is bounded: the newest versions only, not one
    # active-file list per committed version
    assert len(t._active_cache) <= 2, sorted(t._active_cache)

    cold = EventTable(None, str(tmp_path), "t")
    for v in range(40):
        assert t._active_files(v) == cold._active_files(v), v
        assert t._active_delete_files(v) == cold._active_delete_files(v), v
    live = {e["file_path"] for e in cold._active_files(39)}
    assert _synthetic_entry(2)["file_path"] not in live and len(live) == 39
    assert cold._active_delete_files(15) == [dele]
    assert cold._active_delete_files(39) == []


def test_unreadable_footer_keeps_size_and_logs(tmp_path, caplog):
    """Stats are optional, but losing them is reported: a truncated
    parquet file yields an entry with its size and no row count or
    bounds, and one warning."""
    import logging

    import pyarrow as pa
    import pyarrow.parquet as pq

    from zombi_spark.table.event_table import _parquet_file_entry

    d = tmp_path / "data" / "event_date=2024-01-01" / "event_hour=0"
    d.mkdir(parents=True)
    p = str(d / "f.parquet")
    pq.write_table(pa.table({"timestamp_ms": pa.array([1, 2], pa.int64())}), p)
    with open(p, "rb") as fh:
        head = fh.read()[:20]
    with open(p, "wb") as fh:
        fh.write(head)
    with caplog.at_level(logging.WARNING, logger="zombi_spark.table.event_table"):
        entry = _parquet_file_entry(p, str(tmp_path / "data"))
    assert entry["file_size_bytes"] == 20
    assert "row_count" not in entry and "min_ts" not in entry
    assert len([r for r in caplog.records if r.levelno == logging.WARNING]) == 1
