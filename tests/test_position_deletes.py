"""Merge-on-read position deletes (Iceberg v2 delete files) — the
100 TB takedown cost model: ``delete_where(mode="merge-on-read")``
writes a sorted (data file path, row index) parquet instead of
rewriting data files, every read path anti-joins the active tombstones,
and compaction migrates them back to pure data files. Copy-on-write
(delete_where.rs has no reference analogue; SQL DELETE semantics) and
merge-on-read must be observationally identical on every surface."""

import json
import os

import pytest

from zombi_spark.ingest.batch import RAW_EVENT_SCHEMA, prepare_events
from zombi_spark.table.event_table import (
    CommitConflictError,
    EventTable,
    _apply_position_deletes,
)

T0 = 1704067200000  # 2024-01-01T00:00:00Z


def _batch(spark, start, n, topic="t", step_ms=1000, key=None):
    rows = [
        (
            topic,
            0,
            f"p{i}".encode(),
            T0 + i * step_ms,
            f"{key}{i}" if key else None,
            i,
        )
        for i in range(start, start + n)
    ]
    return spark.createDataFrame(rows, RAW_EVENT_SCHEMA)


@pytest.fixture()
def table(spark, tmp_path):
    t = EventTable(spark, str(tmp_path), "events")
    t.append(prepare_events(_batch(spark, 0, 20)))
    t.append(prepare_events(_batch(spark, 20, 10), existing=t.read()))
    return t


def test_mor_delete_removes_rows_without_rewriting_files(spark, table):
    files_before = {e["file_path"] for e in table.scan_files()}
    before = {(r.sequence, bytes(r.payload)) for r in table.read().collect()}
    r = table.delete_where("sequence % 7 = 0", mode="merge-on-read")
    assert r["files_rewritten"] == 0 and r["rows_removed"] == 4
    assert os.path.isfile(r["delete_file"])
    # NOT ONE data file changed — the merge-on-read contract
    assert {e["file_path"] for e in table.scan_files()} == files_before
    after = {(r2.sequence, bytes(r2.payload)) for r2 in table.read().collect()}
    assert after == {x for x in before if x[0] % 7 != 0}
    # the delete-file entry is in the manifest with its reference list
    (d,) = table.delete_files()
    assert d["content"] == "position-deletes"
    assert d["row_count"] == 4
    assert set(d["referenced_files"]) <= files_before
    # time travel still serves the pre-delete rows
    assert table.read(version=r["version"] - 1).count() == 30
    # the delete parquet itself is Iceberg-v2-shaped and sorted
    import pyarrow.parquet as pq

    dt = pq.read_table(r["delete_file"])
    assert dt.schema.names == ["file_path", "pos"]
    pairs = list(zip(dt.column("file_path").to_pylist(), dt.column("pos").to_pylist()))
    assert pairs == sorted(pairs)
    # recorded paths are exactly manifest paths (no URI scheme residue)
    assert set(dt.column("file_path").to_pylist()) <= files_before


def test_mor_null_predicate_rows_are_kept(spark, table):
    # rows where the predicate is NULL are kept — SQL DELETE semantics
    r = table.delete_where("idempotency_key = 'nope'", mode="merge-on-read")
    assert r.get("noop") is True and table.read().count() == 30


def test_mor_redelete_is_noop_and_deletes_stack(spark, table):
    v0 = table.latest_version()
    r1 = table.delete_where("sequence <= 3", mode="merge-on-read")
    r2 = table.delete_where("sequence = 10", mode="merge-on-read")
    assert (r1["rows_removed"], r2["rows_removed"]) == (3, 1)
    assert len(table.delete_files()) == 2
    # already-tombstoned rows neither match again nor resurrect
    r3 = table.delete_where("sequence <= 3", mode="merge-on-read")
    assert r3.get("noop") is True and table.latest_version() == v0 + 2
    assert sorted(r.sequence for r in table.read().collect()) == sorted(
        s for s in range(1, 31) if s > 3 and s != 10
    )


def test_compact_migrates_mor_deletes_to_data_files(spark, table):
    table.delete_where("sequence % 5 = 0", mode="merge-on-read")
    live = sorted((r.sequence, bytes(r.payload)) for r in table.read().collect())
    snap = table.compact(min_input_files=1, rewrite_all=True)
    assert snap["version"] is not None
    # consumed: every tombstone applied, delete files dropped
    assert table.delete_files() == []
    assert sorted(
        (r.sequence, bytes(r.payload)) for r in table.read().collect()
    ) == live
    # and the tombstoned rows are PHYSICALLY absent from the new files
    raw = spark.read.schema(table.table_schema()).parquet(
        *[e["file_path"] for e in table.scan_files()]
    )
    assert raw.count() == len(live)


def test_scoped_compact_keeps_deletes_referencing_other_files(spark, tmp_path):
    t = EventTable(spark, str(tmp_path), "events")
    # two storage partitions: hour 0 and hour 1
    t.append(prepare_events(_batch(spark, 0, 6)))
    t.append(prepare_events(_batch(spark, 3600, 6, step_ms=1000), existing=t.read()))
    dirs = sorted({e["partition_dir"] for e in t.scan_files()})
    assert len(dirs) == 2
    r = t.delete_where("true", ts_max=T0 + 10_000, mode="merge-on-read")
    assert r["rows_removed"] == 6
    # compact ONLY the other partition: the delete file's references are
    # untouched, so it must survive the commit
    t.compact(min_input_files=1, rewrite_all=True, partitions=[dirs[1]])
    assert len(t.delete_files()) == 1
    assert sorted(x.sequence for x in t.read().collect()) == list(range(7, 13))
    # compacting the referenced partition consumes it
    t.compact(min_input_files=1, rewrite_all=True, partitions=[dirs[0]])
    assert t.delete_files() == []
    assert sorted(x.sequence for x in t.read().collect()) == list(range(7, 13))


def test_cow_delete_does_not_resurrect_mor_tombstones(spark, tmp_path):
    t = EventTable(spark, str(tmp_path), "events")
    t.append(prepare_events(_batch(spark, 0, 10)))
    t.delete_where("sequence = 3", mode="merge-on-read")
    # copy-on-write rewrite of the same file: the tombstoned row must not
    # ride into the rewritten file, and the consumed delete file is
    # dropped in the same commit
    r = t.delete_where("sequence = 5")
    assert r["rows_removed"] == 1
    assert t.delete_files() == []
    assert sorted(x.sequence for x in t.read().collect()) == [
        s for s in range(1, 11) if s not in (3, 5)
    ]


def test_mor_and_cow_are_observationally_identical(spark, tmp_path):
    ta = EventTable(spark, str(tmp_path / "a"), "events")
    tb = EventTable(spark, str(tmp_path / "b"), "events")
    for t in (ta, tb):
        t.append(prepare_events(_batch(spark, 0, 15, key="k")))
    ra = ta.delete_where("sequence % 4 = 1", mode="merge-on-read")
    rb = tb.delete_where("sequence % 4 = 1")  # copy-on-write
    assert ra["rows_removed"] == rb["rows_removed"] > 0
    cols = ["topic", "partition", "sequence", "timestamp_ms", "idempotency_key"]
    rows = lambda t: sorted(map(tuple, t.read().select(*cols).collect()))  # noqa: E731
    assert rows(ta) == rows(tb)
    # watermarks / idempotency history agree too
    assert ta.watermark_map() == tb.watermark_map()
    ha = sorted(map(tuple, ta.idempotency_history(retention_hours=None).collect()))
    hb = sorted(map(tuple, tb.idempotency_history(retention_hours=None).collect()))
    assert ha == hb and len(ha) == 15 - ra["rows_removed"]


def test_latest_n_scan_excludes_tombstones(spark, table):
    table.delete_where("sequence >= 28", mode="merge-on-read")
    top = (
        table.scan_latest(3)
        .orderBy("timestamp_ms", ascending=False)
        .limit(3)
        .collect()
    )
    assert [r.sequence for r in top] == [27, 26, 25]


def test_expire_rebase_carries_delete_files(spark, table):
    """expire_snapshots rewrites the oldest kept snapshot as a replay
    BASE ("files" materialized) — if the delete list didn't ride along,
    every older tombstone would silently vanish from later replays."""
    table.delete_where("sequence <= 5", mode="merge-on-read")
    # a few more commits so the MOR snapshot falls below the keep window
    for s in (40, 50):
        table.append(prepare_events(_batch(spark, s, 2), existing=table.read()))
    expired = table.expire_snapshots(keep_last=2)
    assert expired
    assert len(table.delete_files()) == 1  # the entry survived expiration
    assert sorted(r.sequence for r in table.read().collect()) == sorted(
        s for s in range(6, 35) if s <= 30
    ) + [31, 32, 33, 34]


def test_orphan_sweep_spares_referenced_delete_files(spark, table):
    r = table.delete_where("sequence = 2", mode="merge-on-read")
    removed = table.remove_orphans(older_than_s=0)
    assert r["delete_file"] not in removed and os.path.isfile(r["delete_file"])
    # compact consumes it; expire + sweep then reclaims the delete parquet
    table.compact(min_input_files=1, rewrite_all=True)
    table.expire_snapshots(keep_last=1)
    removed = table.remove_orphans(older_than_s=0)
    assert r["delete_file"] in removed and not os.path.isfile(r["delete_file"])
    assert sorted(x.sequence for x in table.read().collect()) == [
        s for s in range(1, 31) if s != 2
    ]


def test_retention_drops_fully_dead_delete_files(spark, tmp_path):
    t = EventTable(spark, str(tmp_path), "events")
    t.append(prepare_events(_batch(spark, 0, 6)))
    t.append(prepare_events(_batch(spark, 3600, 6), existing=t.read()))
    r = t.delete_where("true", ts_max=T0 + 10_000, mode="merge-on-read")
    assert r["rows_removed"] == 6
    # age out hour 0 entirely: the delete file references only doomed
    # files, so the same commit drops it
    out = t.expire_data_older_than(T0 + 3_000_000)
    assert out["files_removed"] >= 1
    assert t.delete_files() == []
    assert sorted(x.sequence for x in t.read().collect()) == list(range(7, 13))


def test_mor_delete_on_extraction_table(spark, tmp_path):
    from zombi_spark.ingest.extraction import FieldSpec, TableSchemaConfig

    cfg = TableSchemaConfig(
        payload_format="json",
        fields=[FieldSpec(name="k", json_path="k", data_type="int64")],
    )
    t = EventTable(spark, str(tmp_path), "events", schema_config=cfg)
    rows = [
        ("t", 0, json.dumps({"k": i}).encode(), T0 + i * 1000, None, i)
        for i in range(12)
    ]
    t.append(prepare_events(spark.createDataFrame(rows, RAW_EVENT_SCHEMA)))
    r = t.delete_where("k >= 9", mode="merge-on-read")
    assert r["rows_removed"] == 3
    assert sorted(x.k for x in t.read().collect()) == list(range(9))


def test_external_ddl_applies_position_deletes(spark, table):
    import duckdb

    r = table.delete_where("sequence % 3 = 0", mode="merge-on-read")
    con = duckdb.connect()
    con.execute(table.external_ddl(view_name="ev"))
    got = sorted(x[0] for x in con.execute("select sequence from ev").fetchall())
    want = sorted(x.sequence for x in table.read().collect())
    assert got == want and all(s % 3 != 0 for s in got)
    # and the PRE-delete snapshot's DDL serves the full row set
    con.execute(table.external_ddl(view_name="ev0", version=r["version"] - 1))
    assert con.execute("select count(*) from ev0").fetchone()[0] == 30


def test_mor_rebase_on_concurrent_append_succeeds(spark, tmp_path):
    t = EventTable(spark, str(tmp_path), "events")
    t.append(prepare_events(_batch(spark, 0, 8)))
    racer = EventTable(spark, str(tmp_path), "events")
    orig = t._commit_snapshot
    calls = {"n": 0}

    def racing_commit(*a, **kw):
        if calls["n"] == 0:
            calls["n"] += 1
            racer.append(prepare_events(_batch(spark, 100, 3), existing=racer.read()))
        return orig(*a, **kw)

    t._commit_snapshot = racing_commit
    try:
        r = t.delete_where("sequence = 4", mode="merge-on-read")
    finally:
        t._commit_snapshot = orig
    # the rebase re-committed on top of the racing append: both effects land
    assert r["rows_removed"] == 1
    assert t.read().count() == 8 - 1 + 3


def test_mor_aborts_when_race_rewrites_referenced_file(spark, tmp_path):
    """A racing compact rewrote the file our positions reference: the
    tombstones would apply to NOTHING on the new snapshot — committing
    would silently under-delete, so the rebase must abort."""
    t = EventTable(spark, str(tmp_path), "events")
    t.append(prepare_events(_batch(spark, 0, 8)))
    racer = EventTable(spark, str(tmp_path), "events")
    orig = t._commit_snapshot
    calls = {"n": 0}

    def racing_commit(*a, **kw):
        if calls["n"] == 0:
            calls["n"] += 1
            racer.compact(min_input_files=1, rewrite_all=True)
        return orig(*a, **kw)

    t._commit_snapshot = racing_commit
    try:
        with pytest.raises(CommitConflictError):
            t.delete_where("sequence = 4", mode="merge-on-read")
    finally:
        t._commit_snapshot = orig
    assert t.read().count() == 8  # nothing was deleted


@pytest.mark.parametrize(
    "rewrite",
    [
        lambda t: t.compact(min_input_files=1, rewrite_all=True),
        lambda t: t.delete_where("sequence = 6"),
    ],
    ids=["compact", "copy-on-write-delete"],
)
def test_compact_aborts_when_race_adds_tombstones_on_inputs(spark, tmp_path, rewrite):
    """A rewrite (compact, or a copy-on-write delete) read its inputs
    BEFORE a merge-on-read delete landed on them: committing the rewrite
    would resurrect the taken-down rows — the rebase must abort (the
    takedown wins)."""
    t = EventTable(spark, str(tmp_path), "events")
    t.append(prepare_events(_batch(spark, 0, 8)))
    racer = EventTable(spark, str(tmp_path), "events")
    orig = t._commit_snapshot
    calls = {"n": 0}

    def racing_commit(*a, **kw):
        if calls["n"] == 0:
            calls["n"] += 1
            racer.delete_where("sequence = 4", mode="merge-on-read")
        return orig(*a, **kw)

    t._commit_snapshot = racing_commit
    try:
        with pytest.raises(CommitConflictError):
            rewrite(t)
    finally:
        t._commit_snapshot = orig
    # the takedown is in effect; compacting NOW applies it
    assert sorted(x.sequence for x in t.read().collect()) == [
        s for s in range(1, 9) if s != 4
    ]
    t.compact(min_input_files=1, rewrite_all=True)
    assert t.delete_files() == []
    assert sorted(x.sequence for x in t.read().collect()) == [
        s for s in range(1, 9) if s != 4
    ]


def test_retention_replans_when_race_replaces_doomed_files(spark, tmp_path):
    """A compact that rewrote the doomed files between retention's
    planning and its commit makes the planned delta stale (rebasing it
    would remove paths no longer active): retention re-plans against the
    new parent and drops the compacted file instead."""
    t = EventTable(spark, str(tmp_path), "events")
    t.append(prepare_events(_batch(spark, 0, 4)))  # hour 0: doomed
    t.append(prepare_events(_batch(spark, 4, 4), existing=t.read()))
    t.append(prepare_events(_batch(spark, 7200, 4), existing=t.read()))  # hour 2
    racer = EventTable(spark, str(tmp_path), "events")
    orig = t._commit_snapshot
    calls = {"n": 0}

    def racing_commit(*a, **kw):
        if calls["n"] == 0:
            calls["n"] += 1
            racer.compact(min_input_files=1, rewrite_all=True)
        return orig(*a, **kw)

    t._commit_snapshot = racing_commit
    try:
        r = t.expire_data_older_than(T0 + 3_600_000)
    finally:
        t._commit_snapshot = orig
    assert calls["n"] == 1 and r["rows_removed"] == 8
    assert r["files_removed"] == 1  # the compacted hour-0 file
    assert [s["operation"] for s in t.snapshots()][-2:] == ["compact", "retention-delete"]
    assert r["version"] == t.latest_version()
    assert sorted(x.sequence for x in t.read().collect()) == list(range(9, 13))


def test_invalid_mode_rejected(spark, table):
    with pytest.raises(ValueError, match="mode"):
        table.delete_where("true", mode="merge_on_read")


@pytest.mark.parametrize("seed", [7, 23])
def test_random_interleavings_match_set_model(spark, tmp_path, seed):
    """Model check: a seeded random program of append / merge-on-read
    delete / copy-on-write delete / full compact / expire+orphan-sweep
    against a plain Python set of live sequences — after EVERY op the
    table's visible rows equal the model exactly (no resurrection, no
    under-delete, no loss across compaction-consumption or snapshot
    expiration)."""
    import random

    rng = random.Random(seed)
    t = EventTable(spark, str(tmp_path / str(seed)), "events")

    alive: set[int] = set()
    next_seq = 1

    def do_append():
        nonlocal next_seq
        n = rng.randint(3, 8)
        rows = [
            ("t", 0, f"p{next_seq + i}".encode(), T0 + (next_seq + i) * 1000, None, i)
            for i in range(n)
        ]
        # the PRODUCTION sequence seeding: carried watermarks, not a scan
        # of visible rows — after a takedown the visible max rewinds but
        # the watermark does not (sequences are never reused; INV-1)
        wm_map = t.watermark_map()
        watermarks = (
            spark.createDataFrame(
                [(tp, p, s) for (tp, p), s in wm_map.items()],
                "topic string, partition int, _base_seq long",
            )
            if wm_map
            else None
        )
        t.append(
            prepare_events(
                spark.createDataFrame(rows, RAW_EVENT_SCHEMA), watermarks=watermarks
            )
        )
        alive.update(range(next_seq, next_seq + n))
        next_seq += n

    def do_delete(mode):
        m = rng.choice([3, 5, 7])
        r = rng.randrange(m)
        t.delete_where(f"sequence % {m} = {r}", mode=mode)
        alive.difference_update({s for s in alive if s % m == r})

    def do_compact():
        t.compact(min_input_files=1, rewrite_all=True)
        assert t.delete_files() == []  # full rewrite consumes every tombstone

    def do_expire():
        t.expire_snapshots(keep_last=2)
        t.remove_orphans(older_than_s=0)

    do_append()
    ops = [do_append, lambda: do_delete("merge-on-read"),
           lambda: do_delete("copy-on-write"), do_compact, do_expire]
    for _ in range(9):
        rng.choice(ops)()
        got = sorted(x.sequence for x in t.read().collect())
        assert got == sorted(alive), f"seed={seed}"
        # the format agrees with the JVM read at every step
    from zombi_spark.sources.datasource import register_zombi_datasource

    register_zombi_datasource(spark)
    fmt = sorted(
        x.sequence for x in spark.read.format("zombi").load(t.path).collect()
    )
    assert fmt == sorted(alive)


def test_table_stats_reports_tombstones(spark, table):
    from zombi_spark.table.stats import table_stats

    s0 = table_stats(table)
    assert s0["position_delete_files"] == 0 and s0["position_delete_rows"] == 0
    r = table.delete_where("sequence % 6 = 0", mode="merge-on-read")
    s1 = table_stats(table)
    assert s1["position_delete_files"] == 1
    assert s1["position_delete_rows"] == r["rows_removed"]
    # physical row count unchanged (no data file rewritten); visible =
    # total - tombstones while the tombstones are pending
    assert s1["total_rows"] == s0["total_rows"]
    assert table.read().count() == s1["total_rows"] - s1["position_delete_rows"]
    table.compact(min_input_files=1, rewrite_all=True)
    s2 = table_stats(table)
    assert s2["position_delete_rows"] == 0
    assert s2["total_rows"] == s0["total_rows"] - r["rows_removed"]


@pytest.mark.parametrize("backend_name", ["posix", "objectstore"])
def test_mor_delete_lifecycle_on_both_backends(spark, tmp_path, backend_name):
    """The merge-on-read lifecycle (delete commit -> stacked delete ->
    consuming compact) over BOTH commit backends — the delete-file
    promote and the delete-delta snapshot publish must hold under
    object-store semantics (no rename, conditional PUT) exactly as under
    POSIX."""
    from zombi_spark.table.commit_backend import (
        ObjectStoreCommitBackend,
        PosixCommitBackend,
    )

    backend = (
        PosixCommitBackend() if backend_name == "posix" else ObjectStoreCommitBackend()
    )
    t = EventTable(spark, str(tmp_path), "events", backend=backend)
    t.append(prepare_events(_batch(spark, 0, 12)))
    r1 = t.delete_where("sequence % 4 = 0", mode="merge-on-read")
    r2 = t.delete_where("sequence = 1", mode="merge-on-read")
    assert (r1["rows_removed"], r2["rows_removed"]) == (3, 1)
    assert len(t.delete_files()) == 2
    want = [s for s in range(1, 13) if s % 4 != 0 and s != 1]
    assert sorted(x.sequence for x in t.read().collect()) == want
    t.compact(min_input_files=1, rewrite_all=True)
    assert t.delete_files() == []
    assert sorted(x.sequence for x in t.read().collect()) == want


def test_mor_delete_under_percent_escaped_path(spark, tmp_path):
    """Tables rooted at paths needing URI escaping (spaces, '+', '%'):
    _metadata.file_path arrives percent-encoded, the manifests hold raw
    abspaths — the probe must percent-decode (with '+' kept literal, the
    urllib-unquote rule) or delete_where fails its diverged-path guard."""
    root = tmp_path / "ware house+v1" / "100%"
    root.mkdir(parents=True)
    t = EventTable(spark, str(root), "events")
    t.append(prepare_events(_batch(spark, 0, 12)))
    r = t.delete_where("sequence % 3 = 0", mode="merge-on-read")
    assert r["rows_removed"] == 4 and r["files_rewritten"] == 0
    assert sorted(x.sequence for x in t.read().collect()) == [
        s for s in range(12) if s % 3 != 0
    ]
    # copy-on-write shares the probe; it must also survive the path
    r2 = t.delete_where("sequence = 1", mode="copy-on-write")
    assert r2["rows_removed"] == 1
    assert sorted(x.sequence for x in t.read().collect()) == [
        s for s in range(2, 12) if s % 3 != 0
    ]


def test_tombstone_broadcast_gate_is_bytes_based(spark, table):
    """The delete side broadcasts only while the recorded delete-file
    bytes stay under the cap: each tombstone row carries a full data-file
    path string, so a row-count cap alone could admit a multi-hundred-MB
    broadcast. Over the cap, the anti-join falls back to a shuffle and
    results are unchanged."""
    table.delete_where("sequence % 5 = 0", mode="merge-on-read")
    dels = table.delete_files()
    expected = sorted(x.sequence for x in table.read().collect())

    small = _apply_position_deletes(
        table._read_file_list([e["file_path"] for e in table.scan_files()]), dels
    )
    assert "BroadcastHashJoin" in small._jdf.queryExecution().executedPlan().toString()

    fat = [dict(d, file_size_bytes=65 * 1024 * 1024) for d in dels]
    fallback = _apply_position_deletes(
        table._read_file_list([e["file_path"] for e in table.scan_files()]), fat
    )
    # over the cap the FORCED hint is gone (Spark may still pick
    # broadcast from its own size estimate — that's its call, made from
    # real sizes, not ours made from a row count): the optimized plan
    # carries no broadcast join hint
    logical = fallback._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in logical
    small_logical = small._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" in small_logical
    assert sorted(x.sequence for x in fallback.collect()) == expected
