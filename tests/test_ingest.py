"""Ingest-path invariants (reference INV-1..INV-9, SPEC.md:746-758,
tests/property_tests.rs:14-215) re-checked against the Spark write path."""

import pyspark.sql.functions as F
import pytest

from zombi_spark.ingest.batch import (
    RAW_EVENT_SCHEMA,
    assign_sequences,
    dedup_idempotency,
    prepare_events,
    validate_table_name,
)
from zombi_spark.table.event_table import EventTable


def _raw(spark, rows):
    return spark.createDataFrame(rows, RAW_EVENT_SCHEMA)


def _mk_rows(n, topic="t1", partitions=2, key_every=None):
    rows = []
    for i in range(n):
        key = f"k{i % key_every}" if key_every else None
        rows.append(
            (topic, i % partitions, f"payload-{i}".encode(), 1700000000000 + i * 1000, key, i)
        )
    return rows


def test_table_name_validation():
    validate_table_name("events-1_A")
    for bad in ["", "1abc", "a" * 129, "has space", "dash$"]:
        with pytest.raises(ValueError):
            validate_table_name(bad)


def test_sequences_monotonic_per_partition(spark):
    """INV-1: sequences monotonic, gapless, starting at 1 per partition."""
    out = prepare_events(_raw(spark, _mk_rows(20, partitions=3))).collect()
    by_part = {}
    for r in sorted(out, key=lambda r: (r.partition, r.sequence)):
        by_part.setdefault(r.partition, []).append(r.sequence)
    for seqs in by_part.values():
        assert seqs == list(range(1, len(seqs) + 1))


def test_sequences_continue_from_existing(spark):
    """Sequence assignment continues from the table high watermark (A2)."""
    first = prepare_events(_raw(spark, _mk_rows(10, partitions=2)))
    second = assign_sequences(_raw(spark, _mk_rows(6, partitions=2)), existing=first)
    seqs = {(r.partition, r.sequence) for r in second.collect()}
    # partitions 0,1 each had 5 rows → new sequences 6,7,8
    assert {(0, 6), (0, 7), (0, 8), (1, 6), (1, 7), (1, 8)} == seqs


def test_idempotency_first_wins(spark):
    """INV-4: duplicate idempotency keys keep only the first occurrence."""
    out = dedup_idempotency(_raw(spark, _mk_rows(12, partitions=1, key_every=4))).collect()
    assert len(out) == 4
    assert {r.ingest_order for r in out} == {0, 1, 2, 3}


def test_idempotency_against_history(spark):
    batch1 = prepare_events(_raw(spark, _mk_rows(4, partitions=1, key_every=4)))
    batch2_raw = _raw(spark, _mk_rows(8, partitions=1, key_every=8))  # k0..k7
    out = dedup_idempotency(batch2_raw, existing=batch1).collect()
    assert sorted(r.idempotency_key for r in out) == ["k4", "k5", "k6", "k7"]


def test_null_keys_never_deduped(spark):
    out = dedup_idempotency(_raw(spark, _mk_rows(10, partitions=1))).collect()
    assert len(out) == 10


def test_partition_columns_derived_utc(spark):
    rows = [("t", 0, b"x", 1704112496789, None, 0), ("t", 0, b"y", -5, None, 1)]
    out = {r.timestamp_ms: r for r in prepare_events(_raw(spark, rows)).collect()}
    assert str(out[1704112496789].event_date) == "2024-01-01"
    assert out[1704112496789].event_hour == 12
    # negative ts clamps to epoch (parquet.rs:44-48)
    assert str(out[-5].event_date) == "1970-01-01"
    assert out[-5].event_hour == 0


def test_default_timestamp_applied(spark):
    rows = [("t", 0, b"x", None, None, 0)]
    out = prepare_events(_raw(spark, rows), server_time_ms=1704067200123).collect()
    assert out[0].timestamp_ms == 1704067200123


def test_event_table_roundtrip(spark, tmp_path):
    """INV-2/INV-6: ACKed (committed) data survives; layout is partitioned."""
    t = EventTable(spark, str(tmp_path), "events")
    events = prepare_events(_raw(spark, _mk_rows(50, partitions=4)))
    snap = t.append(events)
    assert snap["operation"] == "append"
    assert snap["watermarks"]["zombi.watermark.t1/0"] >= 1
    back = t.read()
    assert back.count() == 50
    assert back.where(F.col("event_date").isNull()).count() == 0
    # hive partition dirs exist
    assert any("event_date=" in f["partition_dir"] for f in t.files())
    # watermarks
    hwm = {(r.topic, r.partition): r.high_watermark for r in t.high_watermarks().collect()}
    assert hwm[("t1", 0)] == 13  # 50 rows over 4 partitions → 13 in partition 0


def test_compaction_preserves_data(spark, tmp_path):
    """INV-6: compaction preserves all data; file count drops."""
    t = EventTable(spark, str(tmp_path), "events")
    for _ in range(4):  # 4 small appends → many small files per partition
        t.append(prepare_events(_raw(spark, _mk_rows(8, partitions=1)), existing=None))
    before = t.read().count()
    files_before = len(t.files())
    snap = t.compact(min_input_files=2)
    assert snap["files_rewritten"] > 0
    assert len(t.files()) < files_before
    after = t.read()
    assert after.count() == before
    # sort order within partitions maintained
    assert after.orderBy("timestamp_ms", "sequence").count() == before


# L6 fuzz intent (fuzz/fuzz_targets/fuzz_topic_name.rs): arbitrary
# strings through the name gate — accepted names must round-trip the
# reference regex exactly; no acceptance of control chars / separators.
from hypothesis import given, settings
from hypothesis import strategies as st

from zombi_spark.ingest.batch import validate_table_name


@given(st.text(max_size=140))
@settings(max_examples=1000, deadline=None)
def test_fuzz_table_name_gate(name):
    try:
        validate_table_name(name)
    except ValueError:
        return
    assert 1 <= len(name) <= 128
    assert name[0].isascii() and name[0].isalpha()
    assert all(c.isascii() and (c.isalnum() or c in "_-") for c in name)
    # path-safety: a validated name can never escape or split a path
    assert "/" not in name and "\\" not in name and "\n" not in name


def test_trailing_newline_name_rejected():
    """'events\\n' passed the old '$'-anchored regex ('$' matches before a
    trailing newline) and would have leaked a newline into paths and
    catalog JSON."""
    import pytest

    with pytest.raises(ValueError):
        validate_table_name("events\n")


def test_data_files_are_internally_sorted(spark, tmp_path):
    """S5's 'sorted parquet' promise, verified against the written BYTES:
    every data file's rows are ordered by (timestamp_ms, sequence) so
    row-group min/max stats actually skip within an hour. Regression for
    the planned-write pitfall: Spark inserts its own Sort(partition
    cols) unless the child ordering leads with them, which silently
    replaced our sort (the files really were unsorted until round 6)."""
    import random

    import pyarrow.parquet as pq

    random.seed(3)
    rows = [
        ("t", i % 4, f"p{i}".encode(), 1704067200000 + random.randrange(0, 7_200_000),
         None, i)
        for i in range(4000)
    ]
    t = EventTable(spark, str(tmp_path), "events")
    t.append(prepare_events(spark.createDataFrame(rows, RAW_EVENT_SCHEMA)))
    files = t.files()
    assert files
    for e in files:
        tbl = pq.read_table(e["file_path"], columns=["timestamp_ms", "sequence"])
        pairs = list(zip(tbl.column("timestamp_ms").to_pylist(),
                         tbl.column("sequence").to_pylist()))
        assert pairs == sorted(pairs), e["file_path"]


def test_writer_routing_arrow_for_unkeyed_tiny_jvm_for_keyed(spark, tmp_path):
    """The many-small-files Arrow fast path routes precisely: UNKEYED
    wide-time-range batches (no bloom filter to write) go through the
    pyarrow writer; KEYED batches stay on parquet-mr, which writes the
    idempotency-key bloom filter that key-equality and IN deletes read
    (the dedup anti-join pushes no key value down, so it never reads
    the bloom). Both file
    populations must read back identically through the table, and the
    keyed files must actually carry the bloom."""
    import pyarrow.parquet as pq

    HOUR = 3_600_000
    t = EventTable(spark, str(tmp_path), "events")
    unkeyed = [
        ("t", 0, f"u{i}".encode(), 1704067200000 + i * HOUR, None, i)
        for i in range(48)
    ]
    t.append(prepare_events(spark.createDataFrame(unkeyed, RAW_EVENT_SCHEMA)))
    keyed = [
        ("t", 1, f"k{i}".encode(), 1704067200000 + i * HOUR, f"key-{i}", i)
        for i in range(48)
    ]
    t.append(prepare_events(spark.createDataFrame(keyed, RAW_EVENT_SCHEMA)))

    by_writer = {"arrow": [], "mr": []}
    for e in t.files():
        pf = pq.ParquetFile(e["file_path"])
        who = "arrow" if "parquet-cpp-arrow" in pf.metadata.created_by else "mr"
        by_writer[who].append(pf)
    assert by_writer["arrow"] and by_writer["mr"]
    # (pyarrow 16 exposes no bloom-filter metadata accessor, so the bloom
    # presence itself is pinned by the D2 write-option path; routing —
    # keyed batches to the bloom-capable writer — is what this asserts)
    # the mixed table reads as one schema, both halves complete
    got = t.read()
    assert got.count() == 96
    assert got.where("idempotency_key IS NULL").count() == 48
    assert got.where("idempotency_key LIKE 'key-%'").count() == 48
    # per-file manifest stats exist for both writer populations — and
    # the Arrow path's WRITE-TIME stats must equal what a footer read
    # would produce (they feed pruning, watermark recovery and the
    # Iceberg bounds; a drift here silently corrupts file skipping)
    from zombi_spark.table.event_table import _parquet_file_entry

    for e in t.files():
        assert e["row_count"] > 0 and e["min_ts"] <= e["max_ts"]
        assert "key_nulls" in e
        refetched = _parquet_file_entry(e["file_path"], t.data_path)
        for k in ("row_count", "file_size_bytes", "min_ts", "max_ts",
                  "min_seq", "max_seq", "min_topic", "max_topic",
                  "min_part", "max_part", "key_nulls"):
            assert e[k] == refetched[k], (k, e["file_path"])


def test_arrow_path_preserves_nullable_int64_beyond_2_53(spark, tmp_path):
    """The Arrow staging path must be pandas-free: arrow→pandas turns an
    int64 column containing any null into float64, silently rounding
    values above 2^53 (snowflake-style ids). A nullable extracted bigint
    with huge values must round-trip EXACTLY through an unkeyed
    tiny-file append."""
    from zombi_spark.ingest.extraction import FieldSpec, TableSchemaConfig

    cfg = TableSchemaConfig(
        payload_format="json",
        fields=[FieldSpec(name="big_id", json_path="big_id", data_type="int64")],
    )
    t = EventTable(spark, str(tmp_path), "events", schema_config=cfg)
    HOUR = 3_600_000
    big = 4_611_686_018_427_387_907  # 2^62 + 3: not float64-representable
    rows = []
    for i in range(24):
        payload = f'{{"big_id": {big + i}}}' if i % 3 else "{}"  # nulls mixed in
        rows.append(("t", 0, payload.encode(), 1704067200000 + i * HOUR, None, i))
    t.append(prepare_events(spark.createDataFrame(rows, RAW_EVENT_SCHEMA)))
    import glob

    import pyarrow.parquet as pq

    f = glob.glob(str(tmp_path / "events" / "data") + "/**/*.parquet", recursive=True)
    assert any("parquet-cpp-arrow" in pq.ParquetFile(p).metadata.created_by for p in f)
    got = {r["sequence"]: r["big_id"] for r in t.read().select("sequence", "big_id").collect()}
    for i in range(24):
        want = None if i % 3 == 0 else big + i
        assert got[i + 1] == want, (i, got[i + 1], want)


def test_orphan_staging_files_from_failed_attempts_are_not_promoted(spark, tmp_path):
    """Arrow staging bypasses the Hadoop task committer; a retried or
    speculative task leaves its partial files in staging while Spark
    discards that attempt's output. Only files reported by the
    SUCCESSFUL job (present in the write-time stats) may be promoted —
    an orphan must die with the staging dir, never be committed as
    duplicate rows."""
    import os

    t = EventTable(spark, str(tmp_path), "events")
    HOUR = 3_600_000
    rows = [("t", 0, f"p{i}".encode(), 1704067200000 + i * HOUR, None, i) for i in range(12)]

    real_stage = EventTable._stage_arrow

    def stage_with_orphan(self, shaped, staging, cap):
        stats = real_stage(self, shaped, staging, cap)
        # simulate a failed attempt's leftover: a valid parquet in
        # staging that the successful job did not report
        some_rel = next(iter(stats))
        src = os.path.join(staging, some_rel)
        orphan = os.path.join(os.path.dirname(src), "part-deadbeef-orphan.parquet")
        import shutil

        shutil.copyfile(src, orphan)
        return stats

    import unittest.mock as mock

    with mock.patch.object(EventTable, "_stage_arrow", stage_with_orphan):
        t.append(prepare_events(spark.createDataFrame(rows, RAW_EVENT_SCHEMA)))
    # the duplicated hour would double one row if the orphan were adopted
    assert t.read().count() == 12
    assert t.read().select("sequence").distinct().count() == 12


def test_all_null_write_time_stats_drop_to_no_stats_contract(spark, tmp_path):
    """VERDICT r8 #5 regression pin, now for the single stats builder:
    a staged file whose ``timestamp_ms`` is entirely null gets NO
    min_ts/max_ts keys (the planners compare manifest bounds WITHOUT
    null guards), so it lands in the never-skippable no-stats set.
    (End-to-end, ``append`` cannot produce this shape: the arrow route's
    non-nullable schema cast rejects all-null timestamps upstream — so
    this builds the staged file's report with ``_parquet_file_entry``,
    as an Arrow writing task does, and promotes it through
    ``_move_staged_in``.)"""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from zombi_spark.table.event_table import _parquet_file_entry

    t = EventTable(spark, str(tmp_path), "nullstats")
    # one normally-appended batch so the table has healthy entries too
    t.append(prepare_events(_raw(spark, [
        ("t", 0, b"p0", 1704067200000, None, 0),
        ("t", 0, b"p1", 1704067201000, None, 1),
    ])))

    staging = str(tmp_path / "staging")
    rel_dir = os.path.join("event_date=2024-01-01", "event_hour=0")
    os.makedirs(os.path.join(staging, rel_dir))
    body = pa.table(
        {
            "sequence": pa.array([3, 4], pa.int64()),
            "topic": pa.array(["t", "t"]),
            "partition": pa.array([0, 0], pa.int32()),
            "payload": pa.array([b"x", b"y"], pa.binary()),
            "timestamp_ms": pa.array([None, None], pa.int64()),
            "idempotency_key": pa.array([None, None], pa.string()),
        }
    )
    fname = "part-nullts.parquet"
    pq.write_table(body, os.path.join(staging, rel_dir, fname), compression="zstd")
    # exactly what an Arrow writing task reports for the staged file
    rel = os.path.join(rel_dir, fname)
    wstats = {rel: _parquet_file_entry(os.path.join(staging, rel), staging)}
    added = t._move_staged_in(staging, prefix="", stats=wstats)
    assert len(added) == 1
    entry = added[0]
    assert "min_ts" not in entry and "max_ts" not in entry, entry
    assert entry["min_seq"] == 3 and entry["max_seq"] == 4
    t._commit_snapshot(
        {"operation": "append", "added_rows": 2},
        added=added,
        expected_parent=t.latest_version(),
    )
    # planners: ts pruning must KEEP the no-stats file (skipping is an
    # optimization, never a correctness gate) and latest-n must not
    # TypeError comparing None bounds
    pruned = t.scan_files(ts_min=1_900_000_000_000)
    assert any(e["file_path"] == entry["file_path"] for e in pruned)
    planned = t.plan_latest_files(1)
    assert any(e["file_path"] == entry["file_path"] for e in planned), (
        "no-stats files must remain latest-n candidates"
    )
    assert t.read().count() == 4
