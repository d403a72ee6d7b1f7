"""Iceberg v2 Avro manifests + manifest lists.

The reference commits snapshots by writing an Avro manifest of the new
DataFiles plus a carry-forward manifest list (iceberg_storage.rs:
1022-1161), and recovers committed watermarks by decoding the manifests
back (447-515: per-partition max ``sequence`` out of ``upper_bounds``).
This module is the Spark-repo equivalent, with two deliberate upgrades
over the reference's simplified schema for STOCK-reader compatibility:

  - the full v2 ``manifest_entry`` shape from the Iceberg spec: the
    ``data_file`` record carries ``partition`` (a typed struct matching
    the partition spec — the reference omits it), spec field-ids on
    every Avro field, and int-keyed stats maps encoded as the spec's
    key/value record arrays (Avro maps allow only string keys);
  - bounds use the spec's single-value serialization (little-endian
    int/long, UTF-8 strings; Iceberg spec Appendix D). The reference
    writes big-endian (iceberg.rs:41-76, a documented in-house deviation
    its own decoder mirrors) — stock readers expect little-endian, so we
    follow the spec and the ported watermark-recovery test decodes
    little-endian accordingly.

One writer, :func:`write_manifest`, writes every manifest — data
(``content=0``) and position-delete (``content=1``) alike — from
``(status, data_file)`` pairs built by :func:`entry_to_data_file` or
:func:`delete_entry_to_data_file`; the entry wrap, per-status counts,
container header and ``manifest_file`` record are written once for both.
One generator, :func:`live_files`, walks a manifest list's live entries
for the readers and the watermark recovery.

Manifest-list maintenance mirrors the reference's carry-forward: an
append snapshot adds one manifest to the previous snapshot's list; a
snapshot that removes files (compaction / base materialization) rewrites
ONE full manifest of the surviving active set (plus DELETED tombstones
for the removed files) and resets the list to it — so list length grows
with appends since the last compaction, not with table history.
"""

from __future__ import annotations

import os
import struct
import uuid

from zombi_spark.table import avro_io

DATA_FILE_NAME = "r2"


# --------------------------------------------------- single-value encoding
def encode_bound(value, iceberg_type: str) -> bytes:
    """Iceberg single-value serialization (spec Appendix D): ints/longs
    little-endian, strings UTF-8. Used for lower/upper bounds."""
    if iceberg_type == "long":
        return struct.pack("<q", int(value))
    if iceberg_type in ("int", "date"):
        return struct.pack("<i", int(value))
    if iceberg_type == "string":
        return str(value).encode("utf-8")
    if iceberg_type == "double":
        return struct.pack("<d", float(value))
    if iceberg_type == "float":
        return struct.pack("<f", float(value))
    if iceberg_type == "boolean":
        return b"\x01" if value else b"\x00"
    raise TypeError(f"unsupported bound type: {iceberg_type}")


def decode_bound(raw: bytes, iceberg_type: str):
    if iceberg_type == "long":
        # Iceberg type promotion (spec: int -> long is a legal schema
        # evolution): manifests written BEFORE the promotion carry 4-byte
        # int bounds that are never rewritten — readers resolve by buffer
        # width, exactly like Iceberg's Conversions.fromByteBuffer.
        if len(raw) == 4:
            return struct.unpack("<i", raw)[0]
        return struct.unpack("<q", raw)[0]
    if iceberg_type in ("int", "date"):
        return struct.unpack("<i", raw)[0]
    if iceberg_type == "string":
        return raw.decode("utf-8")
    if iceberg_type == "double":
        return struct.unpack("<d", raw)[0]
    if iceberg_type == "float":
        return struct.unpack("<f", raw)[0]
    if iceberg_type == "boolean":
        return raw != b"\x00"
    raise TypeError(f"unsupported bound type: {iceberg_type}")


# ----------------------------------------------------------- Avro schemas
def _kv_map(name: str, key_id: int, value_id: int, value_type: str) -> dict:
    """Iceberg's int-keyed map encoding: array of key/value records with
    ``logicalType: map`` (plain Avro maps allow only string keys)."""
    return {
        "type": "array",
        "logicalType": "map",
        "items": {
            "type": "record",
            "name": name,
            "fields": [
                {"name": "key", "type": "int", "field-id": key_id},
                {"name": "value", "type": value_type, "field-id": value_id},
            ],
        },
    }


def _opt(schema) -> list:
    return ["null", schema]


def manifest_entry_schema(partition_fields: list[dict]) -> dict:
    """The v2 ``manifest_entry`` Avro schema. ``partition_fields`` are the
    partition spec's fields as [{name, field-id, avro type}, ...]."""
    partition_record = {
        "type": "record",
        "name": "r102",
        "fields": [
            {"name": f["name"], "type": _opt(f["type"]), "field-id": f["field-id"], "default": None}
            for f in partition_fields
        ],
    }
    data_file = {
        "type": "record",
        "name": DATA_FILE_NAME,
        "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {"name": "partition", "type": partition_record, "field-id": 102},
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
            {
                "name": "column_sizes",
                "type": _opt(_kv_map("k117_v118", 117, 118, "long")),
                "field-id": 108,
                "default": None,
            },
            {
                "name": "value_counts",
                "type": _opt(_kv_map("k119_v120", 119, 120, "long")),
                "field-id": 109,
                "default": None,
            },
            {
                "name": "null_value_counts",
                "type": _opt(_kv_map("k121_v122", 121, 122, "long")),
                "field-id": 110,
                "default": None,
            },
            {
                "name": "nan_value_counts",
                "type": _opt(_kv_map("k138_v139", 138, 139, "long")),
                "field-id": 137,
                "default": None,
            },
            {
                "name": "lower_bounds",
                "type": _opt(_kv_map("k126_v127", 126, 127, "bytes")),
                "field-id": 125,
                "default": None,
            },
            {
                "name": "upper_bounds",
                "type": _opt(_kv_map("k129_v130", 129, 130, "bytes")),
                "field-id": 128,
                "default": None,
            },
            {"name": "key_metadata", "type": _opt("bytes"), "field-id": 131, "default": None},
            {
                "name": "split_offsets",
                "type": _opt({"type": "array", "items": "long", "element-id": 133}),
                "field-id": 132,
                "default": None,
            },
            {"name": "sort_order_id", "type": _opt("int"), "field-id": 140, "default": None},
        ],
    }
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": _opt("long"), "field-id": 1, "default": None},
            {"name": "sequence_number", "type": _opt("long"), "field-id": 3, "default": None},
            {
                "name": "file_sequence_number",
                "type": _opt("long"),
                "field-id": 4,
                "default": None,
            },
            {"name": "data_file", "type": data_file, "field-id": 2},
        ],
    }


MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        {
            "name": "partitions",
            "type": _opt(
                {
                    "type": "array",
                    "element-id": 508,
                    "items": {
                        "type": "record",
                        "name": "r508",
                        "fields": [
                            {"name": "contains_null", "type": "boolean", "field-id": 509},
                            {
                                "name": "contains_nan",
                                "type": _opt("boolean"),
                                "field-id": 518,
                                "default": None,
                            },
                            {
                                "name": "lower_bound",
                                "type": _opt("bytes"),
                                "field-id": 510,
                                "default": None,
                            },
                            {
                                "name": "upper_bound",
                                "type": _opt("bytes"),
                                "field-id": 511,
                                "default": None,
                            },
                        ],
                    },
                }
            ),
            "field-id": 507,
            "default": None,
        },
        {"name": "key_metadata", "type": _opt("bytes"), "field-id": 519, "default": None},
    ],
}

ADDED, EXISTING, DELETED = 1, 0, 2  # manifest_entry status
DATA, DELETES = 0, 1  # manifest content


# ------------------------------------------------------------ entry build
def _parse_partition_dir(partition_dir: str) -> dict:
    """'event_date=2024-01-02/event_hour=3' → typed partition values
    (date as days since epoch, per the Iceberg date type)."""
    import datetime

    out: dict = {}
    for part in partition_dir.split(os.sep):
        if "=" not in part:
            continue
        k, v = part.split("=", 1)
        if k == "event_date":
            d = datetime.date.fromisoformat(v)
            out[k] = (d - datetime.date(1970, 1, 1)).days
        else:
            try:
                out[k] = int(v)
            except ValueError:
                out[k] = v
    return out


# (column, manifest-entry stat keys, iceberg type) — the per-file bounds
# our JSON manifest entries carry (event_table._parquet_file_entry)
_BOUND_COLS = [
    ("sequence", "min_seq", "max_seq", "long"),
    ("timestamp_ms", "min_ts", "max_ts", "long"),
    ("topic", "min_topic", "max_topic", "string"),
    ("partition", "min_part", "max_part", "int"),
]


def entry_to_data_file(
    entry: dict,
    field_ids: dict[str, int],
    partition_fields: list[dict],
    field_types: dict[str, str] | None = None,
) -> dict:
    """JSON manifest entry (event_table snapshot) → Avro data_file record.
    ``field_ids`` maps column name → Iceberg field id for the CURRENT
    schema (extraction tables shift ids, so never hardcode).
    ``field_types`` (name → iceberg type) enables bounds for the entry's
    ``col_stats`` extracted-column stats (r14 ints; r15 strings/doubles/
    booleans): the single-value serialization needs the exact type, so a
    column with no known type is skipped — stock readers then simply see
    no bounds for it, never wrong ones. String col_stats arrive ALREADY
    Iceberg-truncated (event_table.truncate_{lower,upper}_bound); a null
    upper (increment overflow) emits a lower-only bound, which the spec
    permits (bounds maps are per-field optional)."""
    part_values = _parse_partition_dir(entry.get("partition_dir", ""))
    lower, upper = [], []
    for col, lo_key, hi_key, typ in _BOUND_COLS:
        if lo_key in entry and hi_key in entry and col in field_ids:
            fid = field_ids[col]
            lower.append({"key": fid, "value": encode_bound(entry[lo_key], typ)})
            upper.append({"key": fid, "value": encode_bound(entry[hi_key], typ)})
    for col, bounds in sorted((entry.get("col_stats") or {}).items()):
        typ = (field_types or {}).get(col)
        if col in field_ids and typ in (
            "int", "long", "string", "double", "float", "boolean"
        ):
            fid = field_ids[col]
            if bounds[0] is not None:
                lower.append({"key": fid, "value": encode_bound(bounds[0], typ)})
            if bounds[1] is not None:
                upper.append({"key": fid, "value": encode_bound(bounds[1], typ)})
    # r15: exact null counts as Iceberg null_value_counts (+ the
    # top-level value_counts = record count) — a stock reader can plan
    # IS NULL / IS NOT NULL skips from the manifest alone
    nulls_map = dict(entry.get("col_nulls") or {})
    if "key_nulls" in entry:
        nulls_map.setdefault("idempotency_key", entry["key_nulls"])
    value_counts, null_counts = [], []
    rc = entry.get("row_count")
    for col, n in sorted(nulls_map.items()):
        if col in field_ids:
            fid = field_ids[col]
            null_counts.append({"key": fid, "value": int(n)})
            if rc is not None:
                value_counts.append({"key": fid, "value": int(rc)})
    nan_counts = [
        {"key": field_ids[col], "value": int(n)}
        for col, n in sorted((entry.get("col_nans") or {}).items())
        if col in field_ids
    ]
    return {
        "content": 0,  # DATA
        "file_path": os.path.abspath(entry["file_path"]),
        "file_format": "PARQUET",
        "partition": {f["name"]: part_values.get(f["name"]) for f in partition_fields},
        "record_count": entry.get("row_count", 0),
        "file_size_in_bytes": entry.get("file_size_bytes", 0),
        "column_sizes": None,
        "value_counts": value_counts or None,
        "null_value_counts": null_counts or None,
        "nan_value_counts": nan_counts or None,
        "lower_bounds": lower or None,
        "upper_bounds": upper or None,
        "key_metadata": None,
        "split_offsets": None,
        "sort_order_id": 1,
    }


# Iceberg spec: the reserved field ids of the position-delete file schema
POS_DELETE_PATH_FID = 2147483546  # file_path (string)
POS_DELETE_POS_FID = 2147483545  # pos (long)


def delete_entry_to_data_file(entry: dict) -> dict:
    """Position-delete file entry (event_table snapshot) → Avro data_file
    record (``content=1``). The delete file references data files across
    storage partitions, so it binds to the UNPARTITIONED spec (an empty
    partition struct); partition pruning is replaced by the file_path
    lower/upper bounds (min/max referenced data file, reserved field id
    2147483546)."""
    refs = sorted(entry.get("referenced_files") or [])
    lower = upper = None
    if refs:
        lower, upper = (
            [{"key": POS_DELETE_PATH_FID, "value": encode_bound(os.path.abspath(p), "string")}]
            for p in (refs[0], refs[-1])
        )
    return {
        "content": 1,  # POSITION_DELETES
        "file_path": os.path.abspath(entry["file_path"]),
        "file_format": "PARQUET",
        "partition": {},
        "record_count": entry.get("row_count", 0),
        "file_size_in_bytes": entry.get("file_size_bytes", 0),
        "column_sizes": None,
        "value_counts": None,
        "null_value_counts": None,
        "nan_value_counts": None,
        "lower_bounds": lower,
        "upper_bounds": upper,
        "key_metadata": None,
        "split_offsets": None,
        "sort_order_id": None,
    }


def write_manifest(
    mdir: str,
    content: int,
    entries,
    snapshot_id: int,
    sequence_number: int,
    schema_json: str,
    schema_id: int,
    partition_fields: list[dict],
    spec_json: str,
    spec_id: int,
) -> dict:
    """Write one Avro manifest of ``content`` (:data:`DATA` or
    :data:`DELETES`) from ``(status, data_file)`` pairs
    (:func:`entry_to_data_file` / :func:`delete_entry_to_data_file`
    records); returns its manifest_file record for the manifest list.

    The header's ids must track the EMBEDDED schema and spec: a stock
    reader resolving by id against the table metadata would otherwise
    resolve the pre-evolution schema after a column-add.

    Sequence numbers: every entry takes ``sequence_number``, carried
    (EXISTING) ones included. For position deletes this is sound by
    construction — a reader applies a delete file to data files with
    data-sequence ≤ the delete's, and matching is by exact (file_path,
    pos); claiming a too-new sequence can only add no-op anti-joins
    against files the positions never name, never an under-delete."""
    records = []
    counts = {ADDED: 0, EXISTING: 0, DELETED: 0}
    rows = {ADDED: 0, EXISTING: 0, DELETED: 0}
    for status, data_file in entries:
        counts[status] += 1
        rows[status] += data_file["record_count"]
        records.append(
            {
                "status": status,
                "snapshot_id": snapshot_id,
                "sequence_number": sequence_number,
                "file_sequence_number": sequence_number,
                "data_file": data_file,
            }
        )
    path = os.path.join(mdir, f"{uuid.uuid4().hex}-m0.avro")
    avro_io.write_container(
        path,
        manifest_entry_schema(partition_fields),
        records,
        metadata={
            "schema": schema_json,
            "schema-id": str(schema_id),
            "partition-spec": spec_json,
            "partition-spec-id": str(spec_id),
            "format-version": "2",
            "content": "data" if content == DATA else "deletes",
        },
    )
    return {
        "manifest_path": os.path.abspath(path),
        "manifest_length": os.path.getsize(path),
        "partition_spec_id": spec_id,
        "content": content,
        "sequence_number": sequence_number,
        "min_sequence_number": sequence_number,
        "added_snapshot_id": snapshot_id,
        "added_files_count": counts[ADDED],
        "existing_files_count": counts[EXISTING],
        "deleted_files_count": counts[DELETED],
        "added_rows_count": rows[ADDED],
        "existing_rows_count": rows[EXISTING],
        "deleted_rows_count": rows[DELETED],
        "partitions": None,
        "key_metadata": None,
    }


def write_manifest_list(mdir: str, snapshot_id: int, manifest_files: list[dict]) -> str:
    path = os.path.join(mdir, f"snap-{snapshot_id}-1-{uuid.uuid4().hex}.avro")
    avro_io.write_container(
        path, MANIFEST_LIST_SCHEMA, manifest_files, metadata={"format-version": "2"}
    )
    return os.path.abspath(path)


def read_manifest_list(path: str) -> list[dict]:
    _schema, _meta, records = avro_io.read_container(path)
    return records


def read_manifest_entries(path: str) -> list[dict]:
    """Decode a manifest's entries (schema comes from the file header —
    independent of the writer's in-process state)."""
    _schema, _meta, records = avro_io.read_container(path)
    return records


def live_files(manifest_list_path: str, content: int):
    """Yield the non-DELETED ``data_file`` records of the list's
    manifests of ``content`` — the one walk over a snapshot's live
    entries."""
    for mf in read_manifest_list(manifest_list_path):
        if mf.get("content", DATA) == content:
            for entry in read_manifest_entries(mf["manifest_path"]):
                if entry["status"] != DELETED:
                    yield entry["data_file"]


def live_data_files(manifest_list_path: str) -> list[dict]:
    """All live data_file records reachable from a manifest list — the
    file set an external engine would scan for the snapshot. DELETE
    manifests (content=1, position-delete files) are not data; see
    :func:`live_delete_files`."""
    return list(live_files(manifest_list_path, DATA))


def live_delete_files(manifest_list_path: str) -> list[dict]:
    """All live position-delete file records reachable from a manifest
    list (content=1 manifests) — what a stock v2 reader would anti-join
    while scanning the snapshot."""
    return list(live_files(manifest_list_path, DELETES))


def committed_watermarks_from_manifests(
    manifest_list_path: str, sequence_field_id: int, partition_field_id: int
) -> dict[int, int]:
    """A4 committed-watermark recovery, ported from the reference's
    manifest decoder (iceberg_storage.rs:447-515
    ``extract_partition_watermarks_from_manifest_avro`` +
    1602-1652 ``committed_flush_watermarks``): walk every live manifest
    entry, read the ``sequence`` and ``partition`` upper bounds by FIELD
    ID out of ``upper_bounds``, and keep the max sequence per partition.
    Bounds decode with the spec's little-endian single-value format (the
    one deliberate deviation from the reference's big-endian in-house
    encoding — see module docstring).

    The reference's attribution of a file's max-sequence to "its"
    partition is sound only because its layout pins one producer
    partition per file (``.../partition=N/`` dirs, SPEC.md:320-333). Our
    hour-layout files may MIX producer partitions, so a file contributes
    here only when its partition bounds pin a single value (lower ==
    upper) — attributing a mixed file's max sequence would credit
    another partition's progress and corrupt the watermark, so those are
    skipped (never wrong, possibly incomplete; the authoritative
    recovery path remains the snapshot summary's carried watermarks, A4)."""
    per_partition: dict[int, int] = {}
    # delete manifests carry no sequence watermarks
    for data_file in live_files(manifest_list_path, DATA):
        upper = data_file.get("upper_bounds")
        lower = data_file.get("lower_bounds")
        if not upper or not lower:
            continue
        up_id = {kv["key"]: kv["value"] for kv in upper}
        lo_id = {kv["key"]: kv["value"] for kv in lower}
        if sequence_field_id not in up_id or partition_field_id not in up_id:
            continue
        if up_id[partition_field_id] != lo_id.get(partition_field_id):
            continue  # mixed-partition file: not attributable
        seq = decode_bound(up_id[sequence_field_id], "long")
        part = decode_bound(up_id[partition_field_id], "int")
        if part not in per_partition or per_partition[part] < seq:
            per_partition[part] = seq
    return per_partition
