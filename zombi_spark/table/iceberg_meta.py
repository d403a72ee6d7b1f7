"""Iceberg-v2 table metadata (``metadata/v{N}.metadata.json``) for EventTable.

The reference's cold-tier contract is "any engine reads the table"
(SPEC.md:343-352): iceberg_storage.rs:1000-1161 writes real
``v{N}.metadata.json`` plus Avro manifest lists + manifests. Here the
commit point is the engine's JSON snapshot log (``_zombi_meta/snap-N.json``)
and this metadata is derived from it by ONE writer,
:func:`write_metadata_for_commit` — the only code that adds snapshots to
the metadata or drops them from it:

  - its cursor is the ``zombi.last-version`` table property, the last log
    version the metadata mirrors. A call appends every log version after
    the cursor, oldest first; drops the Iceberg snapshots whose log
    snapshot has expired, garbage-collecting the Avro files only they
    referenced; then writes one ``v{N+1}.metadata.json`` and advances
    ``version-hint.text`` — the files a filesystem (Hadoop-style) catalog
    resolves. With nothing to add or drop (a concurrent writer already
    caught up) it writes nothing;
  - each snapshot's ``manifest-list`` is a real Avro manifest list whose
    manifests carry the v2 ``manifest_entry`` records (status, data_file
    with partition struct, record counts, and little-endian single-value
    bounds keyed by field id) — written by the in-repo Avro codec
    (table/avro_io.py; no Avro library is a dependency) and validated
    by round-trip decoding in tests, including the reference's
    committed-watermark recovery (iceberg_storage.rs:447-515) re-run over
    our bytes.

Per-commit cost: a pure append writes ONE new manifest, carries the
previous list forward (iceberg_storage.rs:1087-1110), and writes one list
and one metadata JSON — it neither lists nor reads the snapshot log. A
commit that removes files (compaction, retention), or a version with no
previous Avro list, writes one full manifest of the survivors plus
DELETED tombstones, whose row and byte counts come from the parent
version's log entries; :func:`rewrite_manifests` writes the same full
list. Every list ends with one delete manifest of the active
position-delete files, if any. :func:`_write_list` is the one list
writer and :func:`_write_manifest` binds every manifest to the current
schema and its partition spec. Cost tracks snapshot count, not data
size, and :meth:`EventTable.expire_snapshots` bounds the count.

Self-heal: the metadata is derived state, so a failed write is logged
and the data commit stands. The cursor did not move, so the next call
simply has more than one version to catch up: it lists the log once and
appends them all. A deleted metadata directory regenerates the same way,
from a fresh cursor.
"""

from __future__ import annotations

import json
import logging
import os
import time
import uuid

from zombi_spark.table import manifests as MF


def snapshot_id_long(snapshot_hex: str) -> int:
    """Map our uuid-hex snapshot id onto Iceberg's required long id
    (60 bits of the hex — deterministic, positive, collision-safe at any
    realistic snapshot count)."""
    return int(snapshot_hex[:15], 16)


def metadata_dir(table_path: str) -> str:
    return os.path.join(table_path, "metadata")


def current_metadata(table_path: str) -> dict | None:
    """Load the current metadata via version-hint.text (the filesystem
    catalog's resolution rule)."""
    mdir = metadata_dir(table_path)
    hint = os.path.join(mdir, "version-hint.text")
    if not os.path.isfile(hint):
        return None
    with open(hint) as fh:
        v = int(fh.read().strip())
    with open(os.path.join(mdir, f"v{v}.metadata.json")) as fh:
        return json.load(fh)


_SPARK_TO_ICEBERG = {
    "long": "long",
    "bigint": "long",
    "int": "int",
    "integer": "int",
    "string": "string",
    "binary": "binary",
    "date": "date",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
}


def fields_for_spark_schema(spark_schema) -> list[dict]:
    """Iceberg field dicts for a Spark StructType in declaration order
    (ids assigned 1..n here; evolution keeps existing ids — see
    :func:`_evolve_schema`)."""
    out = []
    for i, f in enumerate(spark_schema.fields):
        out.append(
            {
                "id": i + 1,
                "name": f.name,
                "required": not f.nullable,
                "type": _SPARK_TO_ICEBERG[f.dataType.simpleString()],
            }
        )
    return out


def _evolve_schema(meta: dict, spark_schema) -> None:
    """Column-add + safe-promotion schema evolution, Iceberg-style: if
    the table's current Spark schema has columns the metadata's current
    schema lacks, OR an existing column was promoted (int -> long, the
    one promotion the table layer allows — Iceberg spec "int to long"),
    append a NEW schema entry — existing columns keep their field ids
    (promotions too, per spec), new ones get fresh ids past
    last-column-id — and point current-schema-id at it. (Other type
    changes are rejected upstream; drops don't occur.)"""
    promotions = {("int", "long")}
    current = meta["schemas"][meta["current-schema-id"]]
    by_name = {f["name"]: f for f in current["fields"]}
    want = [(f.name, not f.nullable, _SPARK_TO_ICEBERG[f.dataType.simpleString()]) for f in spark_schema.fields]
    promoted = {
        n for n, _r, t in want
        if n in by_name and (by_name[n]["type"], t) in promotions
    }
    if set(n for n, _r, _t in want) == set(by_name) and not promoted:
        return
    next_id = meta["last-column-id"]
    fields = []
    for name, required, typ in want:
        if name in promoted:
            fields.append({**by_name[name], "type": typ})  # same id, wider type
        elif name in by_name:
            fields.append(dict(by_name[name]))
        else:
            next_id += 1
            fields.append({"id": next_id, "name": name, "required": required, "type": typ})
    new_schema = {
        "schema-id": len(meta["schemas"]),
        "type": "struct",
        "fields": fields,
    }
    meta["schemas"].append(new_schema)
    meta["current-schema-id"] = new_schema["schema-id"]
    meta["last-column-id"] = max(next_id, meta["last-column-id"])


def _fresh_metadata(table_path: str, table_name: str, spark_schema) -> dict:
    fields = fields_for_spark_schema(spark_schema)
    fid = {f["name"]: f["id"] for f in fields}
    # partition spec / sort order reference field ids of THIS schema —
    # for extraction tables the ids shift (payload is dropped), so derive
    # rather than hardcode
    spec = {
        "spec-id": 0,
        "fields": [
            {"name": "event_date", "transform": "identity", "source-id": fid["event_date"], "field-id": 1000},
            {"name": "event_hour", "transform": "identity", "source-id": fid["event_hour"], "field-id": 1001},
        ],
    }
    order = {
        "order-id": 1,
        "fields": [
            {"transform": "identity", "source-id": fid["timestamp_ms"], "direction": "asc", "null-order": "nulls-first"},
            {"transform": "identity", "source-id": fid["sequence"], "direction": "asc", "null-order": "nulls-first"},
        ],
    }
    return {
        "format-version": 2,
        "table-uuid": str(uuid.uuid4()),
        "location": os.path.abspath(table_path),
        "last-sequence-number": 0,
        "last-updated-ms": 0,
        "last-column-id": max(f["id"] for f in fields),
        "schemas": [{"schema-id": 0, "type": "struct", "fields": fields}],
        "current-schema-id": 0,
        "partition-specs": [spec],
        "default-spec-id": 0,
        "last-partition-id": max(f["field-id"] for f in spec["fields"]),
        "sort-orders": [order],
        "default-sort-order-id": 1,
        "properties": {
            "zombi.table-name": table_name,
            "write.parquet.compression-codec": "zstd",
        },
        "current-snapshot-id": -1,
        "snapshots": [],
        "snapshot-log": [],
        "metadata-log": [],
    }


def _current_hint(mdir: str) -> int:
    hint_path = os.path.join(mdir, "version-hint.text")
    if not os.path.isfile(hint_path):
        return 0
    with open(hint_path) as fh:
        return int(fh.read().strip())


def _write_next_metadata(mdir: str, meta: dict, backend=None) -> str:
    """Write ``meta`` as ``v{hint+1}.metadata.json`` and advance the
    hint. Metadata files are immutable, so numbering is monotonic in the
    HINT — never derived from snapshot versions, which would collide
    with the extra metadata versions that expiration and
    rewrite_manifests mint and overwrite committed files in place."""
    tmp = os.path.join(mdir, f".metadata.{uuid.uuid4().hex[:8]}.tmp")
    from zombi_spark.table import fastjson

    fastjson.dump_to(tmp, meta)
    # EXCLUSIVE version claim: two concurrent writers both reading hint N
    # would otherwise both os.replace v{N+1} and the loser's metadata
    # version silently vanishes — os.link fails with EEXIST instead, and
    # the loser bumps to the next free number (same optimistic-claim
    # pattern as the snapshot log's version files)
    from zombi_spark.table.commit_backend import (
        get_backend,
        publish_exclusive_retryable,
    )

    if backend is None:
        backend = get_backend()
    cur = _current_hint(mdir)
    while True:
        out = os.path.join(mdir, f"v{cur + 1}.metadata.json")
        try:
            # retryable: a lost-response retry that finds v{N+1} already
            # holding exactly our bytes is OUR earlier success — reuse it
            # instead of minting a duplicate metadata version
            publish_exclusive_retryable(backend, tmp, out)
            break
        except FileExistsError:
            cur += 1
    os.unlink(tmp)
    hint_tmp = os.path.join(mdir, f".version-hint.{uuid.uuid4().hex[:8]}.tmp")
    with open(hint_tmp, "w") as fh:
        fh.write(str(cur + 1))
    backend.swing(hint_tmp, os.path.join(mdir, "version-hint.text"))
    return out


def _append_metadata_log(mdir: str, meta: dict) -> None:
    """Record the file being superseded in the metadata-log (capped),
    so the previous-metadata chain survives every writer — commits AND
    rewrites."""
    cur = _current_hint(mdir)
    prev = os.path.join(mdir, f"v{cur}.metadata.json")
    if os.path.isfile(prev):
        meta["metadata-log"] = (
            meta.get("metadata-log", [])
            + [
                {
                    "timestamp-ms": meta.get("last-updated-ms", 0),
                    "metadata-file": os.path.abspath(prev),
                }
            ]
        )[-100:]


def _field_ids(meta: dict) -> dict[str, int]:
    schema = meta["schemas"][meta["current-schema-id"]]
    return {f["name"]: f["id"] for f in schema["fields"]}


def _field_types(meta: dict) -> dict[str, str]:
    """name → iceberg type for the current schema — lets manifests encode
    extracted-column ``col_stats`` bounds at the exact spec width."""
    schema = meta["schemas"][meta["current-schema-id"]]
    return {f["name"]: f["type"] for f in schema["fields"]}


def _avro_partition_fields(meta: dict) -> list[dict]:
    """Partition-spec fields as Avro schema nodes for the manifest's
    data_file.partition struct (dates as int days with the date
    logicalType, per the Iceberg-on-Avro mapping)."""
    schema = meta["schemas"][meta["current-schema-id"]]
    types = {f["id"]: f["type"] for f in schema["fields"]}
    avro_of = {
        "date": {"type": "int", "logicalType": "date"},
        "int": "int",
        "long": "long",
        "string": "string",
    }
    return [
        {
            "name": pf["name"],
            "field-id": pf["field-id"],
            "type": avro_of.get(types.get(pf["source-id"], "int"), "int"),
        }
        for pf in meta["partition-specs"][meta["default-spec-id"]]["fields"]
    ]


def _ensure_unpartitioned_spec(meta: dict) -> int:
    """The unpartitioned partition spec's id, appending it to the
    metadata when absent — position-delete files reference data files
    across storage partitions, so their manifests bind to an empty
    partition struct (spec-legal; pruning comes from the file_path
    bounds instead)."""
    for spec in meta["partition-specs"]:
        if not spec.get("fields"):
            return spec["spec-id"]
    spec_id = max(s["spec-id"] for s in meta["partition-specs"]) + 1
    meta["partition-specs"].append({"spec-id": spec_id, "fields": []})
    return spec_id


def _write_manifest(mdir: str, meta: dict, content: int, entries, sid: int, seq_num: int) -> dict:
    """One Avro manifest of (status, log entry) pairs bound to the
    current schema: data files to the default partition spec,
    position-delete files to the unpartitioned one."""
    if content == MF.DATA:
        spec_id, pfields = meta["default-spec-id"], _avro_partition_fields(meta)
        fids, types = _field_ids(meta), _field_types(meta)
        files = ((st, MF.entry_to_data_file(e, fids, pfields, types)) for st, e in entries)
    else:
        spec_id, pfields = _ensure_unpartitioned_spec(meta), []
        files = ((st, MF.delete_entry_to_data_file(e)) for st, e in entries)
    schema_id = meta["current-schema-id"]
    return MF.write_manifest(
        mdir, content, files, sid, seq_num,
        json.dumps(meta["schemas"][schema_id]), schema_id,
        pfields, json.dumps(meta["partition-specs"][spec_id]["fields"]), spec_id,
    )


def _with_status(entries: list[dict], added) -> list[tuple[int, dict]]:
    """(ADDED if ``added`` names the entry's file else EXISTING, entry)."""
    paths = {e["file_path"] for e in added}
    return [(MF.ADDED if e["file_path"] in paths else MF.EXISTING, e) for e in entries]


def _write_list(
    table, meta: dict, version: int, sid: int,
    carried=None, added=(), tombstones=(), added_deletes=(),
) -> str:
    """Write log version ``version``'s manifests and manifest list;
    returns the list path. ``carried`` (an append) is the previous
    list's data manifests, extended by one manifest of ``added``
    (iceberg_storage.rs:1087-1110). Without it the list is full: one
    manifest of every active file (ADDED when ``added`` names it, else
    EXISTING) plus ``tombstones``. Either way the active position-delete
    files get one delete manifest — regenerated in full each commit, it
    costs O(active delete files), which takedowns keep tiny."""
    mdir = metadata_dir(table.path)
    seq_num = version + 1
    if carried is None:
        carried = []
        entries = _with_status(table._active_files(version), added) + list(tombstones)
    else:
        entries = [(MF.ADDED, e) for e in added]
    manifest_files = carried + [_write_manifest(mdir, meta, MF.DATA, entries, sid, seq_num)]
    dels = table._active_delete_files(version)
    if dels:
        entries = _with_status(dels, added_deletes)
        manifest_files.append(_write_manifest(mdir, meta, MF.DELETES, entries, sid, seq_num))
    return MF.write_manifest_list(mdir, sid, manifest_files)


def _write_commit_manifests(table, meta: dict, snap: dict, sid: int, prev: dict | None) -> str:
    """Write log version ``snap``'s Avro manifest(s) + manifest list;
    returns the list path. ``prev`` is the Iceberg snapshot of the parent
    version, or None when the metadata has none. Appends carry the
    previous list forward with one new manifest; removal commits, and
    versions with no previous list, write the full list with DELETED
    tombstones for the removed files."""
    version = snap["version"]
    added = [table._norm_entry(e) for e in snap.get("added", [])]
    added_deletes = snap.get("added_deletes", [])
    removed = snap.get("removed", [])
    prev_list = prev["manifest-list"] if prev is not None else ""
    if not removed and prev_list.endswith(".avro") and os.path.isfile(prev_list):
        carried = [
            m for m in MF.read_manifest_list(prev_list) if m.get("content", MF.DATA) == MF.DATA
        ]
        return _write_list(table, meta, version, sid, carried, added, added_deletes=added_deletes)
    # tombstones carry the removed files' real row/byte counts from the
    # parent's log entries: without them deleted_rows_count reads 0 to
    # every external consumer — a removal that "removed nothing". A
    # parent the metadata lacks may have expired from the log, so its
    # tombstones go without counts.
    parent = (
        {e["file_path"]: e for e in table._active_files(version - 1)}
        if removed and prev is not None
        else {}
    )
    tombstones = []
    for p in removed:
        stats = parent.get(p, {})
        tombstones.append((MF.DELETED, {
            "file_path": p,
            "partition_dir": os.path.relpath(os.path.dirname(p), table.data_path),
            **{k: stats[k] for k in ("row_count", "file_size_bytes") if k in stats},
        }))
    return _write_list(table, meta, version, sid, None, added, tombstones, added_deletes)


def _append_snapshot(table, meta: dict, snap: dict) -> None:
    """Add log version ``snap`` to ``meta`` as its new current snapshot."""
    sid = snapshot_id_long(snap["snapshot_id"])
    prev = next(
        (s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]),
        None,
    )
    ice = {
        "snapshot-id": sid,
        "sequence-number": snap["version"] + 1,
        "timestamp-ms": snap["committed_at_ms"],
        "manifest-list": _write_commit_manifests(table, meta, snap, sid, prev),
        "summary": {
            "operation": {"append": "append", "retention-delete": "delete"}.get(
                snap.get("operation"), "replace"
            ),
            "added-data-files": str(len(snap.get("added", []))),
            "removed-data-files": str(len(snap.get("removed", []))),
        },
        # snapshots resolve against the schema current AT COMMIT TIME —
        # after column-add evolution that is the evolved entry, not 0
        "schema-id": meta["current-schema-id"],
    }
    if prev is not None:
        ice["parent-snapshot-id"] = prev["snapshot-id"]
    meta["snapshots"].append(ice)
    meta["snapshot-log"].append({"timestamp-ms": snap["committed_at_ms"], "snapshot-id": sid})
    meta["current-snapshot-id"] = sid
    meta["last-sequence-number"] = snap["version"] + 1
    meta["last-updated-ms"] = snap["committed_at_ms"]


def write_metadata_for_commit(table, snap: dict) -> str | None:
    """Bring ``table``'s Iceberg metadata up to log version ``snap`` (a
    snapshot dict of the table, normally the one just committed) and
    write the next ``v{N}.metadata.json`` + version-hint. Returns its
    path, or None when there was nothing to add or drop.

    ``table`` is the :class:`EventTable` whose snapshot log this mirrors:
    the writer uses its path, name, commit backend, current Spark schema
    (extraction tables advertise their real columns; a widened schema
    appends a new schema entry, ids preserved) and its manifest replay
    (``_active_files`` / ``_active_delete_files``, cached per version).
    """
    spark_schema = table.table_schema()
    meta = current_metadata(table.path) or _fresh_metadata(
        table.path, table.name, spark_schema
    )
    props = meta["properties"]
    # metadata written before the cursor existed mirrors a never-expired log
    cursor = int(props.get("zombi.last-version", len(meta["snapshots"]) - 1))
    version = snap["version"]
    todo = [snap] if version > cursor else []
    if version > cursor + 1:
        # earlier writes were lost or failed: catch up the versions between
        todo[:0] = [
            table._read_snapshot(n)
            for n in table._snapshot_files()
            if cursor < int(n[5:13]) < version
        ]
    # the log expires oldest first, so expired snapshots form a prefix
    expired = []
    while meta["snapshots"]:
        v = meta["snapshots"][0]["sequence-number"] - 1
        if os.path.isfile(os.path.join(table.meta_path, f"snap-{v:08d}.json")):
            break
        expired.append(meta["snapshots"].pop(0))
    if not todo and not expired:
        return None

    mdir = metadata_dir(table.path)
    os.makedirs(mdir, exist_ok=True)
    _evolve_schema(meta, spark_schema)
    _append_metadata_log(mdir, meta)
    for s in todo:
        _append_snapshot(table, meta, s)
    if todo:
        props["zombi.last-version"] = str(version)
    else:
        meta["last-updated-ms"] = int(time.time() * 1000)
    live = {s["snapshot-id"] for s in meta["snapshots"]}
    meta["snapshot-log"] = [e for e in meta["snapshot-log"] if e["snapshot-id"] in live][-100:]
    out = _write_next_metadata(mdir, meta, table.backend)
    if expired:
        # Iceberg's expire_snapshots cleanup: the expired snapshots' Avro
        # files are provably ours to reclaim unless a live one shares them
        refs = _referenced_avro({"snapshots": expired})
        _gc_unreferenced_metadata(mdir, meta, out, prior_refs=refs)
    return out


def _referenced_avro(meta: dict) -> set[str]:
    """Every Avro file any snapshot of ``meta`` references (manifest
    lists + their manifests) — readable or not, the LIST path counts."""
    refs: set[str] = set()
    for s in meta.get("snapshots", []):
        ml = s.get("manifest-list", "")
        if ml.endswith(".avro"):
            refs.add(os.path.abspath(ml))
            if os.path.isfile(ml):
                try:
                    for mf in MF.read_manifest_list(ml):
                        refs.add(os.path.abspath(mf["manifest_path"]))
                except Exception:
                    # the list path still counts; its manifests go
                    # unprotected by this snapshot, so say so
                    logging.getLogger(__name__).warning(
                        "unreadable manifest list %r", ml, exc_info=True
                    )
    return refs


def _gc_unreferenced_metadata(
    mdir: str,
    meta: dict,
    current_file: str,
    prior_refs: set[str],
    grace_s: float = 3600.0,
) -> list[str]:
    """Delete Avro manifests/manifest-lists referenced by no LIVE
    snapshot and metadata JSON outside the metadata-log tail — Iceberg's
    expire_snapshots does the same cleanup. Carry-forward means expired
    and live lists can SHARE manifests, so the live set is computed by
    walking every live snapshot's manifest list, never by list age.

    Concurrent-commit guard: a commit writes its manifest + list BEFORE
    the metadata JSON referencing them, so for a few seconds fresh Avro
    files are referenced by no live snapshot in THIS process's meta
    copy. The discriminator is ``prior_refs`` — files the PRE-rewrite
    metadata referenced are provably ours to reclaim (their snapshots
    were just expired/merged, any age); files NOTHING ever referenced
    are either crash orphans or an in-flight commit's fresh output, and
    only get reclaimed past ``grace_s`` (the remove_orphans /
    remove_orphan_files cutoff pattern)."""
    cutoff = time.time() - grace_s

    def _old_enough(path: str) -> bool:
        try:
            return os.path.getmtime(path) <= cutoff
        except OSError:
            return False  # vanished underneath us

    live = _referenced_avro(meta)
    keep_json = {os.path.abspath(current_file)} | {
        os.path.abspath(e["metadata-file"]) for e in meta.get("metadata-log", [])
    }
    removed: list[str] = []
    for f in os.listdir(mdir):
        full = os.path.abspath(os.path.join(mdir, f))
        if (
            f.endswith(".avro")
            and full not in live
            and (full in prior_refs or _old_enough(full))
        ):
            os.remove(full)
            removed.append(full)
        elif (
            f.startswith("v")
            and f.endswith(".metadata.json")
            and full not in keep_json
            and _old_enough(full)
        ):
            os.remove(full)
            removed.append(full)
    return removed


def rewrite_manifests(table) -> str:
    """Iceberg's ``rewrite_manifests`` action, metadata-only: merge the
    CURRENT snapshot's carry-forward manifest list into ONE full manifest
    of its active files (all EXISTING, no data touched; the full list a
    removal commit writes, without tombstones), bump the
    metadata version, and GC the now-unreferenced manifests. Bounds the
    list length for append-only tables between compactions (compaction
    resets the list as a side effect; this does it without rewriting a
    byte of data). The active files are those of the log version the
    current snapshot mirrors, so a metadata that lags the log stays
    consistent for the writer's next catch-up. Simplification vs strict
    Iceberg: existing entries take the current snapshot's sequence number
    rather than their original data sequence numbers (we don't track
    per-file commit provenance in the active-file entries; no reader here
    consumes them). Returns the new metadata path."""
    meta = current_metadata(table.path)
    if meta is None or meta["current-snapshot-id"] == -1:
        raise ValueError("no current snapshot to rewrite manifests for")
    cur = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    mdir = metadata_dir(table.path)
    prior_refs = _referenced_avro(meta)
    cur["manifest-list"] = _write_list(table, meta, cur["sequence-number"] - 1, cur["snapshot-id"])
    _append_metadata_log(mdir, meta)
    meta["last-updated-ms"] = int(time.time() * 1000)
    out = _write_next_metadata(mdir, meta, table.backend)
    _gc_unreferenced_metadata(mdir, meta, out, prior_refs=prior_refs)
    return out
