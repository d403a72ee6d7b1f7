"""Avro manifest validation: the in-repo Avro codec round-trips, and the
Iceberg metadata's manifest list + manifests describe exactly the
committed table — proven by decoding the BYTES back (schema taken from
each file's own header, like any external Avro reader) and by re-running
the reference's committed-watermark recovery over them
(iceberg_storage.rs:447-515 extract_partition_watermarks_from_manifest_avro
+ 1602-1652 committed_flush_watermarks)."""

import json
import os

from hypothesis import given, settings
from hypothesis import strategies as st

from zombi_spark.ingest.batch import RAW_EVENT_SCHEMA, prepare_events
from zombi_spark.table import avro_io
from zombi_spark.table import manifests as MF
from zombi_spark.table.event_table import EventTable


# ------------------------------------------------------------- codec unit
def test_zigzag_varint_known_vectors():
    """The Avro spec's own examples plus boundary values."""
    vectors = {
        0: b"\x00",
        -1: b"\x01",
        1: b"\x02",
        -2: b"\x03",
        2: b"\x04",
        63: b"\x7e",
        64: b"\x80\x01",
        -64: b"\x7f",
        -65: b"\x81\x01",
    }
    for n, raw in vectors.items():
        assert avro_io.encode_long(n) == raw, n
        assert avro_io.decode_value("long", avro_io._Reader(raw)) == n


@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
@settings(max_examples=500, deadline=None)
def test_long_round_trip(n):
    assert avro_io.decode_value("long", avro_io._Reader(avro_io.encode_long(n))) == n


@given(
    records=st.lists(
        st.fixed_dictionaries(
            {
                "name": st.text(max_size=40),
                "n": st.integers(min_value=-(2**63), max_value=2**63 - 1),
                "blob": st.binary(max_size=64),
                "maybe": st.one_of(st.none(), st.integers(-1000, 1000)),
                "tags": st.lists(st.text(max_size=8), max_size=4),
            }
        ),
        max_size=20,
    )
)
@settings(max_examples=50, deadline=None)
def test_container_round_trip(records, tmp_path_factory):
    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "name", "type": "string"},
            {"name": "n", "type": "long"},
            {"name": "blob", "type": "bytes"},
            {"name": "maybe", "type": ["null", "int"], "default": None},
            {"name": "tags", "type": {"type": "array", "items": "string"}},
        ],
    }
    path = str(tmp_path_factory.mktemp("avro") / "t.avro")
    avro_io.write_container(path, schema, records)
    got_schema, _meta, got = avro_io.read_container(path)
    assert got_schema == schema
    assert got == records


def test_single_value_bound_serialization_is_little_endian():
    """Iceberg spec Appendix D: int/long bounds are little-endian (the
    reference's big-endian encoding is its documented in-house deviation
    — stock readers expect LE, so we follow the spec)."""
    assert MF.encode_bound(1, "long") == b"\x01" + b"\x00" * 7
    assert MF.encode_bound(1, "int") == b"\x01\x00\x00\x00"
    assert MF.encode_bound(-1, "int") == b"\xff\xff\xff\xff"
    assert MF.encode_bound("abc", "string") == b"abc"
    assert MF.decode_bound(MF.encode_bound(2**40 + 7, "long"), "long") == 2**40 + 7


# --------------------------------------------------------- table round-trip
def _batch(spark, start, n, ts_base=1704067200000, partitions=2):
    rows = [
        ("t", i % partitions, f"p{i}".encode(), ts_base + i * 1000, f"k-{i}", i)
        for i in range(start, start + n)
    ]
    return spark.createDataFrame(rows, RAW_EVENT_SCHEMA)


def _current_meta(t):
    mdir = os.path.join(t.path, "metadata")
    hint = int(open(os.path.join(mdir, "version-hint.text")).read())
    return json.load(open(os.path.join(mdir, f"v{hint}.metadata.json")))


def test_manifest_list_describes_committed_table(spark, tmp_path):
    """Decoding the current snapshot's Avro manifest list + manifests
    yields exactly the committed file set with matching per-file counts,
    sizes, and bounds — the external-reader contract."""
    t = EventTable(spark, str(tmp_path), "events")
    t.append(prepare_events(_batch(spark, 0, 8)))
    t.append(prepare_events(_batch(spark, 8, 6), existing=t.read()))

    meta = _current_meta(t)
    cur = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    data_files = MF.live_data_files(cur["manifest-list"])
    by_path = {df["file_path"]: df for df in data_files}
    expected = {os.path.abspath(e["file_path"]): e for e in t.scan_files()}
    assert set(by_path) == set(expected)
    for path, e in expected.items():
        df = by_path[path]
        assert df["file_format"] == "PARQUET"
        assert df["record_count"] == e["row_count"]
        assert df["file_size_in_bytes"] == e["file_size_bytes"]
        # bounds round-trip by field id (canonical ids: sequence=1,
        # timestamp_ms=5)
        upper = {kv["key"]: kv["value"] for kv in df["upper_bounds"]}
        lower = {kv["key"]: kv["value"] for kv in df["lower_bounds"]}
        assert MF.decode_bound(upper[5], "long") == e["max_ts"]
        assert MF.decode_bound(lower[5], "long") == e["min_ts"]
        assert MF.decode_bound(upper[1], "long") == e["max_seq"]
        # partition struct matches the hive dir
        date_days = df["partition"]["event_date"]
        hour = df["partition"]["event_hour"]
        assert f"event_hour={hour}" in e["partition_dir"]
        assert date_days is not None and date_days > 19000  # ~2022+

    # appends carry the previous manifest list forward + one new manifest
    mlist = MF.read_manifest_list(cur["manifest-list"])
    assert len(mlist) == 2
    assert sum(m["added_files_count"] for m in mlist) == len(expected)


def _one_partition_batch(spark, start, n, partition, ts_base=1704067200000):
    rows = [
        ("t", partition, f"p{i}".encode(), ts_base + i * 1000, f"k-{i}", i)
        for i in range(start, start + n)
    ]
    return spark.createDataFrame(rows, RAW_EVENT_SCHEMA)


def test_committed_watermark_recovery_from_avro_manifests(spark, tmp_path):
    """The reference's A4 recovery re-run over OUR bytes: per-partition
    max committed sequence decoded from the manifests' upper_bounds must
    equal the table's watermark map (iceberg_storage.rs:447-515). The
    reference layout pins one producer partition per file; emulate that
    with single-partition batches so every file's partition bounds pin."""
    t = EventTable(spark, str(tmp_path), "events")
    t.append(prepare_events(_one_partition_batch(spark, 0, 6, partition=0)))
    t.append(
        prepare_events(_one_partition_batch(spark, 6, 5, partition=1), existing=t.read())
    )
    t.append(
        prepare_events(_one_partition_batch(spark, 11, 4, partition=0), existing=t.read())
    )

    meta = _current_meta(t)
    cur = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    # canonical field ids: sequence=1, partition=3 (iceberg.rs field_ids)
    recovered = MF.committed_watermarks_from_manifests(
        cur["manifest-list"], sequence_field_id=1, partition_field_id=3
    )
    expected = {p: s for (_topic, p), s in t.watermark_map().items()}
    assert recovered == expected


def test_watermark_recovery_never_wrong_on_mixed_files(spark, tmp_path):
    """Files mixing producer partitions (our hour layout allows this —
    the reference's partition-dir layout does not) must never contribute
    a WRONG watermark: recovery skips them, so every recovered value is
    exact and none exceeds the true watermark."""
    t = EventTable(spark, str(tmp_path), "events")
    t.append(prepare_events(_batch(spark, 0, 10, partitions=3)))

    meta = _current_meta(t)
    cur = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    recovered = MF.committed_watermarks_from_manifests(
        cur["manifest-list"], sequence_field_id=1, partition_field_id=3
    )
    truth = {p: s for (_topic, p), s in t.watermark_map().items()}
    for part, seq in recovered.items():
        assert truth[part] == seq


def test_compaction_rewrites_manifest_with_tombstones(spark, tmp_path):
    """A removal commit (compaction) resets the manifest list to ONE full
    manifest: survivors as EXISTING/ADDED, removed files as DELETED
    tombstones — and the live set still matches the table."""
    t = EventTable(spark, str(tmp_path), "events")
    for s in range(4):
        t.append(prepare_events(_batch(spark, s * 5, 5), existing=t.read() if s else None))
    before = {os.path.abspath(e["file_path"]) for e in t.scan_files()}
    result = t.compact(small_file_bytes=64 * 1024 * 1024, min_input_files=2)
    assert result["files_rewritten"] > 0

    meta = _current_meta(t)
    cur = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    mlist = MF.read_manifest_list(cur["manifest-list"])
    assert len(mlist) == 1  # reset, not carried forward
    entries = MF.read_manifest_entries(mlist[0]["manifest_path"])
    deleted = {e["data_file"]["file_path"] for e in entries if e["status"] == MF.DELETED}
    live = {e["data_file"]["file_path"] for e in entries if e["status"] != MF.DELETED}
    assert live == {os.path.abspath(e["file_path"]) for e in t.scan_files()}
    assert deleted and deleted <= before
    assert deleted.isdisjoint(live)

    # a post-compaction append carries the compacted list forward again
    t.append(prepare_events(_batch(spark, 20, 5), existing=t.read()))
    meta2 = _current_meta(t)
    cur2 = next(
        s for s in meta2["snapshots"] if s["snapshot-id"] == meta2["current-snapshot-id"]
    )
    assert len(MF.read_manifest_list(cur2["manifest-list"])) == 2
    assert {df["file_path"] for df in MF.live_data_files(cur2["manifest-list"])} == {
        os.path.abspath(e["file_path"]) for e in t.scan_files()
    }


def test_rebuilt_metadata_manifests_match_each_snapshot(spark, tmp_path):
    """Catching up after a lost metadata write regenerates per-snapshot
    manifests whose live set equals the table AS OF that snapshot (time
    travel through Avro)."""
    t = EventTable(spark, str(tmp_path), "events")
    t.append(prepare_events(_batch(spark, 0, 5)))
    t.append(prepare_events(_batch(spark, 5, 5), existing=t.read()))
    mdir = os.path.join(t.path, "metadata")
    with open(os.path.join(mdir, "version-hint.text"), "w") as fh:
        fh.write("1")  # simulate a lost metadata write
    t.append(prepare_events(_batch(spark, 10, 5), existing=t.read()))  # → catch-up

    meta = _current_meta(t)
    assert len(meta["snapshots"]) == 3
    for ice in meta["snapshots"]:
        version = ice["sequence-number"] - 1
        live = {df["file_path"] for df in MF.live_data_files(ice["manifest-list"])}
        assert live == {
            os.path.abspath(e["file_path"]) for e in t.scan_files(version=version)
        }


def test_read_via_iceberg_metadata_matches_engine_read(spark, tmp_path):
    """External-reader simulation: resolve version-hint → metadata JSON →
    Avro manifest list → manifests → files, touching nothing of
    _zombi_meta — rows must equal the engine's own read(), including
    snapshot-id time travel and across compaction."""
    from zombi_spark.table.iceberg_reader import read_via_iceberg_metadata

    t = EventTable(spark, str(tmp_path), "events")
    t.append(prepare_events(_batch(spark, 0, 8)))
    t.append(prepare_events(_batch(spark, 8, 6), existing=t.read()))
    t.compact(min_input_files=2)
    t.append(prepare_events(_batch(spark, 14, 4), existing=t.read()))

    def rows(df):
        return sorted((r.sequence, r.partition, bytes(r.payload)) for r in df.collect())

    ext = read_via_iceberg_metadata(spark, t.path)
    assert rows(ext) == rows(t.read())
    assert ext.count() == 18
    # partition columns come through the hive layout
    assert {"event_date", "event_hour"} <= set(ext.columns)

    # time travel by snapshot id: every live snapshot serves its exact
    # historical row set (sequence-number = version + 1)
    meta = _current_meta(t)
    for ice in meta["snapshots"]:
        version = ice["sequence-number"] - 1
        got = read_via_iceberg_metadata(spark, t.path, snapshot_id=ice["snapshot-id"])
        assert rows(got) == rows(t.read(version=version)), version

    # unknown snapshot id is an explicit error, not an empty frame
    import pytest

    with pytest.raises(ValueError, match="not in metadata"):
        read_via_iceberg_metadata(spark, t.path, snapshot_id=12345)


def test_read_via_iceberg_metadata_evolved_schema(spark, tmp_path):
    """Snapshots resolve against their commit-time schema entry: the
    current snapshot serves the evolved columns (old files → NULL), a
    pre-evolution snapshot serves the old schema."""
    from zombi_spark.ingest.extraction import FieldSpec, TableSchemaConfig
    from zombi_spark.table.iceberg_reader import read_via_iceberg_metadata

    def mk(spark, start, n):
        rows = [
            (
                "t",
                0,
                json.dumps({"k": i, "label": f"L{i}"}).encode(),
                1704067200000 + i * 1000,
                None,
                i,
            )
            for i in range(start, start + n)
        ]
        from zombi_spark.ingest.batch import RAW_EVENT_SCHEMA

        return spark.createDataFrame(rows, RAW_EVENT_SCHEMA)

    v1 = TableSchemaConfig(
        payload_format="json", fields=[FieldSpec(name="k", json_path="k", data_type="int64")]
    )
    v2 = TableSchemaConfig(
        payload_format="json",
        fields=[
            FieldSpec(name="k", json_path="k", data_type="int64"),
            FieldSpec(name="label", json_path="label", data_type="utf8"),
        ],
    )
    t1 = EventTable(spark, str(tmp_path), "events", schema_config=v1)
    t1.append(prepare_events(mk(spark, 0, 3)))
    t2 = EventTable(spark, str(tmp_path), "events", schema_config=v2)
    t2.append(prepare_events(mk(spark, 3, 3), existing=t2.read()))

    cur = read_via_iceberg_metadata(spark, t2.path)
    assert "label" in cur.columns
    got = {r.k: r.label for r in cur.collect()}
    assert got == {0: None, 1: None, 2: None, 3: "L3", 4: "L4", 5: "L5"}

    meta = _current_meta(t2)
    old = read_via_iceberg_metadata(
        spark, t2.path, snapshot_id=meta["snapshots"][0]["snapshot-id"]
    )
    assert "label" not in old.columns and old.count() == 3


def test_expire_garbage_collects_unreferenced_manifests(spark, tmp_path):
    """expire_snapshots removes Avro manifests/manifest-lists that only
    expired snapshots referenced — but carry-forward manifests shared
    with LIVE snapshots survive, and every live snapshot still resolves."""
    from zombi_spark.table.iceberg_reader import read_via_iceberg_metadata

    t = EventTable(spark, str(tmp_path), "events")
    for s in range(6):
        t.append(prepare_events(_batch(spark, s * 3, 3), existing=t.read() if s else None))
    mdir = os.path.join(t.path, "metadata")
    avro_before = {f for f in os.listdir(mdir) if f.endswith(".avro")}

    t.expire_snapshots(keep_last=2)
    avro_after = {f for f in os.listdir(mdir) if f.endswith(".avro")}
    assert avro_after < avro_before  # something was reclaimed

    meta = _current_meta(t)
    assert len(meta["snapshots"]) == 2
    # every surviving snapshot still resolves end-to-end through the
    # external-reader path (shared carry-forward manifests intact)
    for ice in meta["snapshots"]:
        df = read_via_iceberg_metadata(spark, t.path, snapshot_id=ice["snapshot-id"])
        assert df.count() == 3 * ice["sequence-number"]
    # the live snapshots' manifest chains are exactly the surviving files
    live = set()
    for ice in meta["snapshots"]:
        live.add(os.path.basename(ice["manifest-list"]))
        for mf in MF.read_manifest_list(ice["manifest-list"]):
            live.add(os.path.basename(mf["manifest_path"]))
    assert avro_after == live
    # post-expire commits keep working incrementally (uuid stable)
    t.append(prepare_events(_batch(spark, 18, 3), existing=t.read()))
    meta2 = _current_meta(t)
    assert meta2["table-uuid"] == meta["table-uuid"]
    assert read_via_iceberg_metadata(spark, t.path).count() == 21


def test_rewrite_manifests_merges_list_without_touching_data(spark, tmp_path):
    """Manifest maintenance: after N appends the list carries N
    manifests; rewrite_manifests() merges them into one (all EXISTING),
    data files untouched, external reads identical, and the next append
    carries the compacted list forward."""
    from zombi_spark.table.iceberg_reader import read_via_iceberg_metadata

    t = EventTable(spark, str(tmp_path), "events")
    for s in range(4):
        t.append(prepare_events(_batch(spark, s * 4, 4), existing=t.read() if s else None))
    meta = _current_meta(t)
    cur = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    assert len(MF.read_manifest_list(cur["manifest-list"])) == 4
    files_before = {os.path.abspath(e["file_path"]) for e in t.scan_files()}
    rows_before = sorted(r.sequence for r in t.read().collect())

    t.rewrite_manifests()

    meta2 = _current_meta(t)
    cur2 = next(
        s for s in meta2["snapshots"] if s["snapshot-id"] == meta2["current-snapshot-id"]
    )
    mlist = MF.read_manifest_list(cur2["manifest-list"])
    assert len(mlist) == 1
    entries = MF.read_manifest_entries(mlist[0]["manifest_path"])
    assert all(e["status"] == MF.EXISTING for e in entries)
    assert {e["data_file"]["file_path"] for e in entries} == files_before
    ext = read_via_iceberg_metadata(spark, t.path)
    assert sorted(r.sequence for r in ext.collect()) == rows_before
    # same snapshot id survives (metadata-only action, not a new commit)
    assert cur2["snapshot-id"] == cur["snapshot-id"]

    # next append: compacted list + one new manifest
    t.append(prepare_events(_batch(spark, 16, 4), existing=t.read()))
    meta3 = _current_meta(t)
    cur3 = next(
        s for s in meta3["snapshots"] if s["snapshot-id"] == meta3["current-snapshot-id"]
    )
    assert len(MF.read_manifest_list(cur3["manifest-list"])) == 2
    assert read_via_iceberg_metadata(spark, t.path).count() == 20


def test_manifest_carry_forward_across_rebase_boundary(spark, tmp_path):
    """The engine's snapshot log materializes a full file list every
    _REBASE_EVERY commits; the Avro manifest chain must keep
    carrying forward through that boundary without duplicating or losing
    files (rebase snapshots carry BOTH 'files' and 'added')."""
    from zombi_spark.table import event_table as ET
    from zombi_spark.table.iceberg_reader import read_via_iceberg_metadata

    orig = ET._REBASE_EVERY
    ET._REBASE_EVERY = 4  # cross several rebase points cheaply
    try:
        t = EventTable(spark, str(tmp_path), "events")
        n_commits = 10
        for s in range(n_commits):
            t.append(
                prepare_events(_batch(spark, s * 2, 2), existing=t.read() if s else None)
            )
        meta = _current_meta(t)
        cur = next(
            s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        # one manifest per append, carried forward through every rebase
        assert len(MF.read_manifest_list(cur["manifest-list"])) == n_commits
        live = [df["file_path"] for df in MF.live_data_files(cur["manifest-list"])]
        assert len(live) == len(set(live))  # no duplicates
        assert set(live) == {os.path.abspath(e["file_path"]) for e in t.scan_files()}
        assert read_via_iceberg_metadata(spark, t.path).count() == n_commits * 2
    finally:
        ET._REBASE_EVERY = orig


def test_avro_reader_rejects_corrupt_containers(tmp_path):
    """The decoder fails loudly, never silently, on damaged inputs:
    wrong magic, truncated data, flipped sync marker, unknown codec."""
    import pytest

    schema = {"type": "record", "name": "t", "fields": [{"name": "x", "type": "long"}]}
    path = str(tmp_path / "good.avro")
    avro_io.write_container(path, schema, [{"x": i} for i in range(10)])
    raw = open(path, "rb").read()

    bad_magic = str(tmp_path / "magic.avro")
    open(bad_magic, "wb").write(b"Nope" + raw[4:])
    with pytest.raises(ValueError, match="not an Avro container"):
        avro_io.read_container(bad_magic)

    truncated = str(tmp_path / "trunc.avro")
    open(truncated, "wb").write(raw[:-7])
    with pytest.raises((EOFError, ValueError)):
        avro_io.read_container(truncated)

    flipped = str(tmp_path / "sync.avro")
    broken = bytearray(raw)
    broken[-1] ^= 0xFF  # last byte of the trailing sync marker
    open(flipped, "wb").write(bytes(broken))
    with pytest.raises(ValueError, match="sync marker"):
        avro_io.read_container(flipped)

    # unsupported codec is refused, not mis-decoded
    deflated = str(tmp_path / "deflate.avro")
    avro_io.write_container(deflated, schema, [])
    raw2 = open(deflated, "rb").read().replace(b"null", b"defl", 1)
    open(deflated, "wb").write(raw2)
    with pytest.raises(ValueError, match="codec"):
        avro_io.read_container(deflated)


def test_metadata_versions_stay_monotonic_across_rewrites(spark, tmp_path):
    """Metadata file numbering is monotonic in the version-hint, never
    derived from snapshot versions: a commit AFTER rewrite actions
    (rewrite_manifests / expire) must mint a fresh higher-numbered file
    — never overwrite a committed one or regress the hint — and the
    newest snapshot must be visible through the hint-resolved chain."""
    import json as _json

    from zombi_spark.table.iceberg_reader import read_via_iceberg_metadata

    t = EventTable(spark, str(tmp_path), "events")
    for s in range(3):
        t.append(prepare_events(_batch(spark, s * 3, 3), existing=t.read() if s else None))
    mdir = os.path.join(t.path, "metadata")

    def hint():
        return int(open(os.path.join(mdir, "version-hint.text")).read())

    h0 = hint()
    t.rewrite_manifests()
    t.rewrite_manifests()
    h1 = hint()
    assert h1 == h0 + 2  # each rewrite minted a new metadata version
    frozen = open(os.path.join(mdir, f"v{h1}.metadata.json")).read()

    t.append(prepare_events(_batch(spark, 9, 3), existing=t.read()))
    h2 = hint()
    assert h2 == h1 + 1  # commit continued FROM the hint (no regression)
    # the pre-commit metadata file was not overwritten in place
    assert open(os.path.join(mdir, f"v{h1}.metadata.json")).read() == frozen
    meta = _json.load(open(os.path.join(mdir, f"v{h2}.metadata.json")))
    assert len(meta["snapshots"]) == 4
    assert read_via_iceberg_metadata(spark, t.path).count() == 12
    # the superseded file is recorded in the metadata-log chain
    logged = {e["metadata-file"] for e in meta["metadata-log"]}
    assert os.path.abspath(os.path.join(mdir, f"v{h1}.metadata.json")) in logged


def test_tombstones_carry_real_stats_and_header_schema_id(spark, tmp_path):
    """Round-6 review fixes: (a) DELETED tombstones carry the removed
    files' real row/byte stats from the prior manifest chain — external
    consumers of deleted_rows_count no longer see a removal commit that
    'removed nothing'; (b) the manifest header's schema-id tracks the
    EMBEDDED (possibly evolved) schema instead of a hardcoded 0."""
    from zombi_spark.table import manifests as MF
    from zombi_spark.table.avro_io import read_container

    t = EventTable(spark, str(tmp_path), "events")
    t.append(prepare_events(_batch(spark, 0, 8)))
    t.append(prepare_events(_batch(spark, 8, 6), existing=t.read()))
    t.compact(min_input_files=2)  # removal commit → tombstoned manifest

    meta = _current_meta(t)
    cur = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    mfs = MF.read_manifest_list(cur["manifest-list"])
    assert sum(m["deleted_files_count"] for m in mfs) >= 2
    assert sum(m["deleted_rows_count"] for m in mfs) == 14  # every removed row counted
    tombs = [
        e
        for m in mfs
        for e in MF.read_manifest_entries(m["manifest_path"])
        if e["status"] == MF.DELETED
    ]
    assert tombs and all(e["data_file"]["record_count"] > 0 for e in tombs)
    assert sum(e["data_file"]["record_count"] for e in tombs) == 14
    assert all(e["data_file"]["file_size_in_bytes"] > 0 for e in tombs)

    # header schema-id: matches the metadata's current schema id
    _schema, hdr, _recs = read_container(mfs[0]["manifest_path"])
    assert int(hdr["schema-id"].decode()) == meta["current-schema-id"]

    # after a column-add, every manifest of a merge-on-read delete's list
    # (the delete manifest too) names the schema it embeds
    from zombi_spark.ingest.extraction import FieldSpec, TableSchemaConfig

    k = FieldSpec(name="k", json_path="k", data_type="int64")
    label = FieldSpec(name="label", json_path="label", data_type="utf8")
    rows = [
        ("t", 0, json.dumps({"k": i, "label": f"L{i}"}).encode(), 1704067200000 + i * 1000, None, i)
        for i in range(8)
    ]
    ext = EventTable(
        spark, str(tmp_path), "ext",
        schema_config=TableSchemaConfig(payload_format="json", fields=[k]),
    )
    ext.append(prepare_events(spark.createDataFrame(rows[:4], RAW_EVENT_SCHEMA)))
    ext = EventTable(
        spark, str(tmp_path), "ext",
        schema_config=TableSchemaConfig(payload_format="json", fields=[k, label]),
    )
    ext.append(
        prepare_events(spark.createDataFrame(rows[4:], RAW_EVENT_SCHEMA), existing=ext.read())
    )
    assert ext.delete_where("sequence % 3 = 0", mode="merge-on-read")["rows_removed"] > 0
    meta = _current_meta(ext)
    assert meta["current-schema-id"] == 1
    cur = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    header_ids = {}
    for m in MF.read_manifest_list(cur["manifest-list"]):
        _schema, hdr, _recs = read_container(m["manifest_path"])
        embedded = json.loads(hdr["schema"].decode())
        assert int(hdr["schema-id"].decode()) == embedded["schema-id"], m["content"]
        header_ids[m["content"]] = int(hdr["schema-id"].decode())
    assert header_ids[1] == meta["current-schema-id"]


def test_extracted_column_bounds_reach_avro_manifests(spark, tmp_path):
    """r14: an extraction table's col_stats bounds ride into the Avro
    manifest as spec single-value bounds keyed by the extracted column's
    field id — a STOCK Iceberg reader can skip files on the extracted
    predicate, not just our JSON-manifest planners."""
    import json as _json

    from zombi_spark.ingest.extraction import FieldSpec, TableSchemaConfig

    cfg = TableSchemaConfig(
        payload_format="json",
        fields=[FieldSpec(name="k", json_path="k", data_type="int64")],
    )
    t = EventTable(spark, str(tmp_path), "events", schema_config=cfg)
    rows = [
        ("t", 0, _json.dumps({"k": 100 + i}).encode(), 1704067200000 + i, None, i)
        for i in range(12)
    ]
    t.append(prepare_events(spark.createDataFrame(rows, RAW_EVENT_SCHEMA)))

    meta = _current_meta(t)
    fid = {
        f["name"]: f["id"]
        for f in meta["schemas"][meta["current-schema-id"]]["fields"]
    }
    assert "k" in fid
    cur = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    expected = {os.path.abspath(e["file_path"]): e for e in t.scan_files()}
    assert all("k" in (e.get("col_stats") or {}) for e in expected.values())
    for df in MF.live_data_files(cur["manifest-list"]):
        e = expected[df["file_path"]]
        upper = {kv["key"]: kv["value"] for kv in df["upper_bounds"]}
        lower = {kv["key"]: kv["value"] for kv in df["lower_bounds"]}
        assert MF.decode_bound(lower[fid["k"]], "long") == e["col_stats"]["k"][0]
        assert MF.decode_bound(upper[fid["k"]], "long") == e["col_stats"]["k"][1]


def test_string_float_bool_bounds_reach_avro_manifests(spark, tmp_path):
    """r15: string (Iceberg-truncated), double (NaN-guarded), and
    boolean col_stats ride into the Avro manifest as typed single-value
    bounds — including a LOWER-ONLY string bound when the upper
    increment overflows (spec bounds maps are per-field optional)."""
    import json as _json

    from zombi_spark.ingest.extraction import FieldSpec, TableSchemaConfig
    from zombi_spark.table.event_table import truncate_upper_bound

    cfg = TableSchemaConfig(
        payload_format="json",
        fields=[
            FieldSpec(name="country", json_path="country", data_type="utf8"),
            FieldSpec(name="score", json_path="score", data_type="float64"),
            FieldSpec(name="flag", json_path="flag", data_type="boolean"),
        ],
    )
    t = EventTable(spark, str(tmp_path), "events", schema_config=cfg)
    overflow = "\U0010FFFF" * 20  # all-max string: upper bound undefinable
    rows = [
        (
            "t",
            0,
            _json.dumps(
                {
                    "country": overflow if i == 11 else f"US-{i:02d}-padded-long",
                    "score": 1.5 * i,
                    "flag": i % 2 == 0,
                }
            ).encode(),
            1704067200000 + i,
            None,
            i,
        )
        for i in range(12)
    ]
    t.append(prepare_events(spark.createDataFrame(rows, RAW_EVENT_SCHEMA)))
    # second file: one NaN score (string 'NaN' casts to double NaN on the
    # extraction path) — its exact NaN count must reach nan_value_counts
    rows2 = [
        (
            "t",
            0,
            _json.dumps(
                {"country": "NN", "score": "NaN" if i == 2 else i, "flag": True}
            ).encode(),
            1704067200000 + 100 + i,
            None,
            100 + i,
        )
        for i in range(6)
    ]
    t.append(prepare_events(spark.createDataFrame(rows2, RAW_EVENT_SCHEMA)))
    assert truncate_upper_bound(overflow) is None  # the shape under test

    meta = _current_meta(t)
    fid = {
        f["name"]: f["id"]
        for f in meta["schemas"][meta["current-schema-id"]]["fields"]
    }
    typ = {
        f["name"]: f["type"]
        for f in meta["schemas"][meta["current-schema-id"]]["fields"]
    }
    assert typ["country"] == "string" and typ["score"] == "double"
    assert typ["flag"] == "boolean"
    cur = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    expected = {os.path.abspath(e["file_path"]): e for e in t.scan_files()}
    checked = 0
    for df in MF.live_data_files(cur["manifest-list"]):
        e = expected[df["file_path"]]
        cs = e.get("col_stats") or {}
        upper = {kv["key"]: kv["value"] for kv in df["upper_bounds"] or []}
        lower = {kv["key"]: kv["value"] for kv in df["lower_bounds"] or []}
        if "country" in cs:
            lo, hi = cs["country"]
            assert MF.decode_bound(lower[fid["country"]], "string") == lo
            if hi is None:
                assert fid["country"] not in upper  # lower-only bound
            else:
                assert MF.decode_bound(upper[fid["country"]], "string") == hi
            checked += 1
        if "score" in cs:
            assert MF.decode_bound(lower[fid["score"]], "double") == cs["score"][0]
            assert MF.decode_bound(upper[fid["score"]], "double") == cs["score"][1]
        if "flag" in cs:
            assert MF.decode_bound(lower[fid["flag"]], "boolean") == cs["flag"][0]
            assert MF.decode_bound(upper[fid["flag"]], "boolean") == cs["flag"][1]
        # r15: exact null counts ride as Iceberg null_value_counts; the
        # top-level value_counts carry the record count, and exact NaN
        # counts ride as nan_value_counts (field-id 137)
        nvc = {kv["key"]: kv["value"] for kv in df["null_value_counts"] or []}
        vc = {kv["key"]: kv["value"] for kv in df["value_counts"] or []}
        for col, n in (e.get("col_nulls") or {}).items():
            assert nvc[fid[col]] == n
            assert vc[fid[col]] == e["row_count"]
        nanc = {kv["key"]: kv["value"] for kv in df["nan_value_counts"] or []}
        for col, n in (e.get("col_nans") or {}).items():
            assert nanc[fid[col]] == n
    assert checked > 0
    # the NaN file recorded exactly one NaN for score, and its bounds
    # cover the NON-NaN values (rows2 scores 0,1,3,4,5 — 2 was the NaN)
    nan_entries = [
        e for e in expected.values() if (e.get("col_nans") or {}).get("score")
    ]
    assert len(nan_entries) == 1
    assert nan_entries[0]["col_nans"]["score"] == 1
    assert nan_entries[0]["col_stats"]["score"] == [0.0, 5.0]
    # the overflow string forced at least one file into the lower-only arm
    assert any(
        (e.get("col_stats") or {}).get("country", [None, "x"])[1] is None
        for e in expected.values()
    )


def test_promoted_int_bounds_mixed_width_avro_decode(spark, tmp_path):
    """r15 int -> long promotion and the Avro manifests: manifests
    written BEFORE the promotion are reused verbatim (4-byte int bound
    buffers), manifests written after encode 8-byte longs — and the
    decoder resolves both by buffer width under the CURRENT (long)
    schema type, exactly Iceberg's Conversions.fromByteBuffer rule."""
    import json as _json

    from zombi_spark.ingest.extraction import FieldSpec, TableSchemaConfig

    narrow = TableSchemaConfig(
        payload_format="json",
        fields=[FieldSpec(name="n", json_path="n", data_type="int32")],
    )
    wide = TableSchemaConfig(
        payload_format="json",
        fields=[FieldSpec(name="n", json_path="n", data_type="int64")],
    )
    t = EventTable(spark, str(tmp_path), "events", schema_config=narrow)
    rows = [
        ("t", 0, _json.dumps({"n": 10 + i}).encode(), 1704067200000 + i, None, i)
        for i in range(6)
    ]
    t.append(prepare_events(spark.createDataFrame(rows, RAW_EVENT_SCHEMA)))
    t = EventTable(spark, str(tmp_path), "events", schema_config=wide)
    big = 2**40
    rows = [
        ("t", 0, _json.dumps({"n": big + i}).encode(), 1704067200000 + 100 + i, None, 6 + i)
        for i in range(6)
    ]
    t.append(prepare_events(spark.createDataFrame(rows, RAW_EVENT_SCHEMA), existing=t.read()))

    meta = _current_meta(t)
    fid = {
        f["name"]: f["id"]
        for f in meta["schemas"][meta["current-schema-id"]]["fields"]
    }
    cur = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    expected = {os.path.abspath(e["file_path"]): e for e in t.scan_files()}
    widths = set()
    for df in MF.live_data_files(cur["manifest-list"]):
        e = expected[df["file_path"]]
        lower = {kv["key"]: kv["value"] for kv in df["lower_bounds"]}
        upper = {kv["key"]: kv["value"] for kv in df["upper_bounds"]}
        widths.add(len(lower[fid["n"]]))
        assert MF.decode_bound(lower[fid["n"]], "long") == e["col_stats"]["n"][0]
        assert MF.decode_bound(upper[fid["n"]], "long") == e["col_stats"]["n"][1]
    # both generations present: the old manifest was reused, not rewritten
    assert widths == {4, 8}


def test_position_delete_files_reach_avro_manifests(spark, tmp_path):
    """r15 merge-on-read: the position-delete file rides into the Iceberg
    metadata as a DELETE manifest (content=1) under the unpartitioned
    spec, with file_path lower/upper bounds (reserved field id
    2147483546) spanning the referenced data files — decoded back from
    the BYTES, the external-reader contract. Compaction consumes it: the
    post-compact manifest list carries no delete manifest."""
    t = EventTable(spark, str(tmp_path), "events")
    rows = [
        ("t", 0, f"p{i}".encode(), 1704067200000 + i * 1000, None, i)
        for i in range(12)
    ]
    t.append(prepare_events(spark.createDataFrame(rows, RAW_EVENT_SCHEMA)))
    r = t.delete_where("sequence % 5 = 2", mode="merge-on-read")
    assert r["rows_removed"] > 0

    meta = _current_meta(t)
    # the unpartitioned spec joined the metadata; the default stays 0
    specs = {s["spec-id"]: s["fields"] for s in meta["partition-specs"]}
    assert specs[meta["default-spec-id"]] and [] in specs.values()
    unpart_id = next(k for k, v in specs.items() if v == [])
    cur = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    mfs = MF.read_manifest_list(cur["manifest-list"])
    data_mfs = [m for m in mfs if m.get("content", 0) == 0]
    del_mfs = [m for m in mfs if m.get("content", 0) == 1]
    assert len(del_mfs) == 1 and data_mfs
    (dm,) = del_mfs
    assert dm["partition_spec_id"] == unpart_id
    assert dm["added_files_count"] == 1 and dm["added_rows_count"] == r["rows_removed"]
    # the delete manifest's header says deletes; its entry names the
    # delete parquet with content=1 and referenced-file path bounds
    _schema, hdr, recs = avro_io.read_container(dm["manifest_path"])
    assert hdr["content"] == b"deletes"
    (entry,) = recs
    df = entry["data_file"]
    assert df["content"] == 1
    assert df["file_path"] == os.path.abspath(r["delete_file"])
    assert df["record_count"] == r["rows_removed"]
    (dele,) = t.delete_files()
    refs = sorted(os.path.abspath(p) for p in dele["referenced_files"])
    lower = {kv["key"]: kv["value"] for kv in df["lower_bounds"]}
    upper = {kv["key"]: kv["value"] for kv in df["upper_bounds"]}
    assert MF.decode_bound(lower[MF.POS_DELETE_PATH_FID], "string") == refs[0]
    assert MF.decode_bound(upper[MF.POS_DELETE_PATH_FID], "string") == refs[-1]
    # live_data_files is unchanged by the delete (no data file touched);
    # live_delete_files lists exactly the delete parquet
    assert {d["file_path"] for d in MF.live_data_files(cur["manifest-list"])} == {
        os.path.abspath(e["file_path"]) for e in t.scan_files()
    }
    assert [d["file_path"] for d in MF.live_delete_files(cur["manifest-list"])] == [
        os.path.abspath(r["delete_file"])
    ]

    # compaction consumes the tombstones: no delete manifest remains
    t.compact(min_input_files=1, rewrite_all=True)
    meta2 = _current_meta(t)
    cur2 = next(
        s for s in meta2["snapshots"] if s["snapshot-id"] == meta2["current-snapshot-id"]
    )
    assert MF.live_delete_files(cur2["manifest-list"]) == []


def test_read_via_iceberg_metadata_applies_position_deletes(spark, tmp_path):
    """The metadata-only read path (what a stock external v2 reader
    does) anti-joins the delete manifests' position files: row parity
    with EventTable.read after a merge-on-read takedown, and snapshot-id
    time travel to the pre-delete snapshot serves every row."""
    from zombi_spark.table.iceberg_reader import read_via_iceberg_metadata

    t = EventTable(spark, str(tmp_path), "events")
    rows = [
        ("t", 0, f"p{i}".encode(), 1704067200000 + i * 1000, None, i)
        for i in range(15)
    ]
    t.append(prepare_events(spark.createDataFrame(rows, RAW_EVENT_SCHEMA)))
    t.delete_where("sequence % 3 = 1", mode="merge-on-read")

    got = read_via_iceberg_metadata(spark, t.path)
    cols = sorted(c for c in got.columns)
    want = t.read()
    assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
        map(tuple, want.select(*cols).collect())
    )
    # pre-delete snapshot by ICEBERG snapshot id: all 15 rows
    meta = _current_meta(t)
    pre = meta["snapshots"][-2]["snapshot-id"]
    assert read_via_iceberg_metadata(spark, t.path, snapshot_id=pre).count() == 15
