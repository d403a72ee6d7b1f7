"""``spark.read.format("zombi")`` — the event table as a first-class Spark
data source (PySpark 4 Python DataSource API).

The reference's read interface is "any engine reads the table"
(SPEC.md:343-352): Zombi produces Iceberg metadata and expects
Spark/Trino/DuckDB to plan scans from it. This module closes the same
loop *inside* Spark for our snapshot log: one registered format string
gives any Spark user

- ``spark.read.format("zombi").load(table_path)`` — a snapshot-consistent
  batch scan (time travel via ``.option("version", N)``) whose file set
  comes from the committed manifest, never a directory listing, with
  Iceberg-style file skipping driven by *pushed filters*
  (``DataSourceReader.pushFilters``): the pushed filters become
  constraints for ``event_table._entry_admits``, the one file-pruning
  predicate the table's own planners use too — over the per-file bounds
  and null counts ``event_table._parquet_file_entry`` records and the
  hive directory values. Pruning is an *optimization, never a correctness
  gate*: every filter is returned to Spark as unhandled, so Spark
  re-applies it row-level (file bounds admit a value; only rows prove
  it) and a file with no stats is scanned, not skipped. Column
  projection is MANUAL — ``.option("fields", "sequence,timestamp_ms")``
  (the reference's ``?fields=``, handlers.rs:737-764) — because the
  Python DataSource API has no pruning hook; without it a read ships
  every column (payload included) through Arrow whatever the select.
  Merge-on-read position deletes (r15) apply at batch-read time: each
  task anti-masks the tombstoned (file, row index) pairs of the delete
  files intersecting its slices, so ``format("zombi")`` and
  ``EventTable.read`` agree row-for-row after a
  ``delete_where(mode="merge-on-read")``.
- ``spark.readStream.format("zombi").load(table_path)`` — an incremental
  append-only stream (the Iceberg incremental-scan / reference consumer
  offsets analogue, SPEC.md:658-661, rocksdb.rs:396-398): offsets are
  snapshot *versions*, each micro-batch reads exactly the files appended
  in ``(start, end]`` (compaction rewrites are excluded — same rule as
  :meth:`EventTable.added_files`), so a restart from the checkpoint
  re-reads only what it had not consumed. ``.option("starting_version",
  "latest")`` starts from now; the default consumes the whole table
  first.

Scale/role note (honest): the Python DataSource read path moves bytes
through Python workers as Arrow batches — right for tail/incremental
consumption, API parity, and manifest-pruned selective scans, where the
pruning (driver-side, O(metadata)) dominates. Full-table analytics stays
on the JVM parquet path (:meth:`EventTable.read` /
:func:`zombi_spark.sources.tables.load_table`), which this module
deliberately does not replace.

Deliberately NO ``writeStream.format("zombi")`` sink: exactly-once ingest
needs per-(topic, partition) sequence assignment against the table's
committed watermarks plus the 2-phase stream commit — both live in
:class:`zombi_spark.streaming.ingest.StreamingIngest` (foreachBatch →
prepare_events → append with ``stream_commit``), the Spark-idiomatic
transactional-sink shape. A DSv2 stream writer's per-task ``write()``
cannot assign cross-task-monotonic sequences without re-implementing
that machinery outside the table; it would be a second, weaker write
path, not a feature.

Deployment note: the stream-side planner is a separate driver-side
Python process that must ``import zombi_spark`` on its own —
``sc.addPyFile`` reaches executors but not that runner. Run from the
repo root, install the package, or create the session through
:func:`zombi_spark.session.get_spark`, which exports the package onto
PYTHONPATH before the JVM (and hence the runner's env) launches.

Metadata access is session-free by construction: the snapshot log is
JSON on disk, and every :class:`EventTable` method used here
(``latest_version`` / ``scan_files`` / ``added_files`` /
``table_schema``) only touches files — pinned by
tests/test_datasource.py::test_event_table_metadata_is_session_free.

Retention contract (same as the JVM read path): a planned scan or a
lagging stream references the snapshot's physical files, which stay on
disk until ``expire_snapshots`` + ``remove_orphans`` reclaim them —
size the retention window to exceed the slowest consumer's lag, exactly
as with Iceberg's incremental scans.
"""

from __future__ import annotations

import logging
import os
from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from zombi_spark.table.event_table import (
    _entry_admits,
    _filter_constraints,
    _hive_values,
)

FORMAT_NAME = "zombi"

def _resolve_path(options: dict) -> str:
    """The table directory: ``.load("<root>/<name>")``, or addressed BY
    NAME through the warehouse catalog (``option("warehouse", root)`` +
    ``option("table", name)`` — the registry the REST catalog serves,
    table/catalog.py, read session-free from its JSON file)."""
    path = (options.get("path") or "").rstrip("/")
    if path:
        return path
    warehouse, table = options.get("warehouse"), options.get("table")
    if warehouse and table:
        import json

        from zombi_spark.table.catalog import _CATALOG_FILE

        reg_file = os.path.join(warehouse, _CATALOG_FILE)
        try:
            with open(reg_file) as fh:
                reg = json.load(fh)
        except FileNotFoundError:
            raise ValueError(
                f"no catalog registry at {reg_file!r} — register the table "
                "first (Catalog.register / create_table)"
            ) from None
        if table not in reg:
            raise ValueError(
                f"table {table!r} not in catalog {reg_file!r}; "
                f"known: {sorted(reg)}"
            )
        return reg[table]["path"]
    raise ValueError(
        "the zombi format requires a table path (.load('<root>/<name>')) "
        "or option('warehouse', root) + option('table', name)"
    )


def _version_option(path: str, options: dict) -> int | None:
    """Time travel options: ``version`` (snapshot number) or ``as_of_ms``
    (newest commit at/before that wall-clock ms — Iceberg's
    FOR SYSTEM_TIME AS OF). Both set is ambiguous -> error; an as_of_ms
    older than the first commit errors rather than silently serving the
    latest."""
    v, ts = options.get("version"), options.get("as_of_ms")
    if v is not None and ts is not None:
        raise ValueError("pass either 'version' or 'as_of_ms', not both")
    if v is not None:
        return int(v)
    if ts is not None:
        resolved = _table_for(path).version_as_of(int(ts))
        if resolved is None:
            raise ValueError(
                f"no snapshot committed at or before as_of_ms={ts}"
            )
        return resolved
    return None


def _table_for(path: str):
    """Metadata-only EventTable over ``path`` = ``{root}/{name}``.

    ``spark=None`` is deliberate: the metadata methods never touch the
    session (module docstring), and the data source's driver/executor
    processes have no JVM session to give.
    """
    from zombi_spark.table.event_table import EventTable

    path = path.rstrip("/")
    if not path:
        raise ValueError("the zombi format requires a table path: .load('<root>/<name>')")
    return EventTable(None, os.path.dirname(path) or ".", os.path.basename(path))


@dataclass
class ZombiInputPartition(InputPartition):
    """One scheduled task's worth of data: a list of slices, each
    ``(file_path, hive_values, row_groups)`` — several small files packed
    together, or one row-group range of a large file, or the empty-table
    sentinel (no slices). ``deletes`` carries the position-delete
    parquet paths whose referenced data files intersect this
    partition's slices (merge-on-read); the executor anti-masks their
    (file, row index) pairs while reading."""

    slices: list = field(default_factory=list)
    deletes: list = field(default_factory=list)


_DEFAULT_MAX_PARTITION_BYTES = 128 * 1024 * 1024
_DEFAULT_MIN_PARTITIONS = 32
# Spark's spark.sql.files.openCostInBytes default: the padding that stops
# thousands of tiny files from bin-packing into one starved task
_OPEN_COST_BYTES = 4 * 1024 * 1024


def _file_slices(entry: dict, hive: dict, max_bytes: int) -> list:
    """Slices for one manifest entry: ``[(path, hive, row_groups,
    effective_bytes)]`` — the whole file below the split threshold
    (effective size padded to the open cost, Spark's openCostInBytes
    rule), row-group ranges packed to ~max_bytes above it. The footer
    read happens only for oversized files — O(large files), not
    O(files) — and any failure falls back to one whole-file slice
    (splitting is parallelism, never correctness).

    Unit note: the split TRIGGER compares the manifest's on-disk
    (compressed) file size to max_bytes, while row-group packing uses
    ``total_byte_size`` (uncompressed — the better proxy for task
    memory, and the only per-group size the parquet footer exposes).
    Mixing them is conservative in the right direction: a file small
    on disk is never split, and once split, groups are packed by the
    larger uncompressed measure, so slices err toward smaller tasks."""
    size = entry.get("file_size_bytes") or 0
    path = entry["file_path"]
    whole = [(path, hive, None, max(size, _OPEN_COST_BYTES))]
    if size <= max_bytes:
        return whole
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
        groups: list[list[int]] = []
        sizes: list[int] = []
        cur: list[int] = []
        cur_bytes = 0
        for rg in range(md.num_row_groups):
            # uncompressed bytes — the better proxy for task memory, and
            # the only per-group size RowGroupMetaData exposes directly
            b = md.row_group(rg).total_byte_size
            if cur and cur_bytes + b > max_bytes:
                groups.append(cur)
                sizes.append(cur_bytes)
                cur, cur_bytes = [], 0
            cur.append(rg)
            cur_bytes += b
        if cur:
            groups.append(cur)
            sizes.append(cur_bytes)
        if len(groups) <= 1:
            return whole
        return [
            (path, hive, g, max(b, _OPEN_COST_BYTES))
            for g, b in zip(groups, sizes)
        ]
    except Exception:
        logging.getLogger(__name__).warning(
            "cannot split %s by row group; reading it whole", path, exc_info=True
        )
        return whole


def _pack_partitions(entries: list, max_bytes: int, min_partitions: int) -> list:
    """FileSourceScanExec-style planning: split oversized files into
    row-group slices, then bin-pack slices into partitions of ~target
    bytes, where target = min(max_bytes, max(openCost, total/min_parts))
    — Spark's maxSplitBytes rule. Small tables stay parallel (the
    min_partitions floor), huge files stay split, and a thousand tiny
    files do NOT become a thousand tasks."""
    slices: list = []
    for e in entries:
        slices.extend(_file_slices(e, _hive_values(e), max_bytes))
    if not slices:
        return [ZombiInputPartition()]
    total = sum(s[3] for s in slices)
    target = min(max_bytes, max(_OPEN_COST_BYTES, -(-total // max(min_partitions, 1))))
    parts: list[ZombiInputPartition] = []
    cur: list = []
    cur_bytes = 0
    for s in slices:
        if cur and cur_bytes + s[3] > target:
            parts.append(ZombiInputPartition(slices=[x[:3] for x in cur]))
            cur, cur_bytes = [], 0
        cur.append(s)
        cur_bytes += s[3]
    if cur:
        parts.append(ZombiInputPartition(slices=[x[:3] for x in cur]))
    return parts


def _arrow_field_type(spark_field):
    import pyarrow as pa

    s = spark_field.dataType.simpleString()
    mapping = {
        "bigint": pa.int64(),
        "int": pa.int32(),
        "smallint": pa.int16(),
        "tinyint": pa.int8(),
        "string": pa.string(),
        "binary": pa.binary(),
        "date": pa.date32(),
        "double": pa.float64(),
        "float": pa.float32(),
        "boolean": pa.bool_(),
        "timestamp": pa.timestamp("us"),
        "timestamp_ntz": pa.timestamp("us"),
    }
    if s not in mapping:
        raise ValueError(f"zombi data source cannot map Spark type {s!r} to Arrow")
    return mapping[s]


def _read_partition(partition: ZombiInputPartition, schema: StructType):
    """Executor-side read: file parquet → Arrow batches adapted to the
    declared schema (missing columns NULL — column-ADD evolution; hive
    partition columns synthesized from the directory values; types cast
    to the schema's Arrow shape). When the partition carries
    position-delete files (merge-on-read), each batch is anti-masked by
    the tombstoned row indexes for its data file — a numpy searchsorted
    over the sorted positions, applied per row group so in-file row
    indexes stay exact under row-group-split slices."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    target = pa.schema(
        [pa.field(f.name, _arrow_field_type(f), nullable=True) for f in schema.fields]
    )

    def adapt(raw, hive_values):
        n = raw.num_rows
        names = set(raw.schema.names)
        cols = []
        for f in target:
            if f.name in names:
                col = raw.column(raw.schema.get_field_index(f.name))
                if col.type != f.type:
                    col = col.cast(f.type)
            elif f.name in hive_values:
                col = pa.nulls(n, f.type).fill_null(
                    pa.scalar(hive_values[f.name], type=f.type)
                )
            else:
                col = pa.nulls(n, f.type)
            cols.append(col)
        return pa.RecordBatch.from_arrays(cols, schema=target)

    del_tbl = None
    if partition.deletes:
        del_tbl = pa.concat_tables(
            [pq.read_table(p, columns=["file_path", "pos"]) for p in partition.deletes]
        )
    for file_path, hive_values, row_groups in partition.slices:
        pf = pq.ParquetFile(file_path)
        want = [f.name for f in schema.fields if f.name in set(pf.schema_arrow.names)]
        positions = None
        if del_tbl is not None:
            import numpy as np
            import pyarrow.compute as pc

            sel = del_tbl.filter(
                pc.equal(del_tbl.column("file_path"), os.path.abspath(file_path))
            )
            if sel.num_rows:
                positions = np.sort(sel.column("pos").to_numpy())
        if positions is None:
            for raw in pf.iter_batches(columns=want, row_groups=row_groups):
                yield adapt(raw, hive_values)
            continue
        import numpy as np

        md = pf.metadata
        starts = []
        acc = 0
        for i in range(md.num_row_groups):
            starts.append(acc)
            acc += md.row_group(i).num_rows
        rgs = list(range(md.num_row_groups)) if row_groups is None else list(row_groups)
        for rg in rgs:
            local = 0
            for raw in pf.iter_batches(columns=want, row_groups=[rg]):
                n = raw.num_rows
                base = starts[rg] + local
                local += n
                lo = int(np.searchsorted(positions, base))
                hi = int(np.searchsorted(positions, base + n))
                if lo < hi:
                    mask = np.ones(n, dtype=bool)
                    mask[(positions[lo:hi] - base).astype(np.int64)] = False
                    raw = raw.filter(pa.array(mask))
                    if raw.num_rows == 0:
                        continue
                yield adapt(raw, hive_values)


class ZombiBatchReader(DataSourceReader):
    """Snapshot scan planned from the manifest (S10 + A1 file skipping)."""

    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self._path = _resolve_path(options)
        self._version = _version_option(self._path, options)
        self._max_bytes = int(
            options.get("max_partition_bytes", _DEFAULT_MAX_PARTITION_BYTES)
        )
        self._min_partitions = int(
            options.get("min_partitions", _DEFAULT_MIN_PARTITIONS)
        )
        self._constraints: list = []
        # introspection for tests/bench: set by partitions()
        self.last_plan: dict = {}

    def pushFilters(self, filters):
        self._constraints = _filter_constraints(filters)
        # every filter goes back to Spark (row-level re-apply): the
        # manifest bounds ADMIT rows, they don't prove them — identical
        # to EventTable.scan_files' contract
        return iter(filters)

    def partitions(self):
        table = _table_for(self._path)
        # pin the version ONCE before planning: resolving it separately for
        # scan_files and the delete set races a concurrent compact/delete
        # (data files of version X paired with tombstones of X+1 would
        # resurrect rows a compact consumed)
        version = (
            self._version if self._version is not None else table.latest_version()
        )
        entries = table.scan_files(version=version)
        kept = [e for e in entries if _entry_admits(e, self._constraints)]
        self.last_plan = {"files_total": len(entries), "files_kept": len(kept)}
        parts = _pack_partitions(kept, self._max_bytes, self._min_partitions)
        self.last_plan["partitions"] = len(parts)
        # merge-on-read: ship each task only the delete files whose
        # referenced data files intersect its slices (pruning stays an
        # optimization — a position for an unread file matches nothing)
        dels = table._active_delete_files(version) if version is not None else []
        if dels:
            for p in parts:
                slice_files = {os.path.abspath(s[0]) for s in p.slices}
                p.deletes = [
                    d["file_path"]
                    for d in dels
                    if not d.get("referenced_files")
                    or any(
                        os.path.abspath(rf) in slice_files
                        for rf in d["referenced_files"]
                    )
                ]
        self.last_plan["delete_files"] = len(dels)
        return parts

    def read(self, partition: ZombiInputPartition):
        yield from _read_partition(partition, self._schema)


class ZombiStreamReader(DataSourceStreamReader):
    """Incremental append-only source: offset = last consumed snapshot
    version (T12 consumer offsets; Iceberg incremental scan).

    Append-only by contract: merge-on-read position deletes do NOT
    retro-apply to already-appended versions (Iceberg's incremental
    scan rule, same as EventTable.read_changes) — a consumer that
    processed a later-deleted row keeps its copy, exactly as with
    copy-on-write deletes."""

    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self._path = _resolve_path(options)
        self._starting = options.get("starting_version", "earliest")
        ts = options.get("starting_as_of_ms")
        self._starting_as_of = int(ts) if ts is not None else None
        if self._starting_as_of is not None and "starting_version" in options:
            raise ValueError(
                "pass either 'starting_version' or 'starting_as_of_ms', not both"
            )
        self._max_bytes = int(
            options.get("max_partition_bytes", _DEFAULT_MAX_PARTITION_BYTES)
        )
        self._min_partitions = int(
            options.get("min_partitions", _DEFAULT_MIN_PARTITIONS)
        )
        # catch-up rate limit (the maxFilesPerTrigger analogue, in the
        # source's natural unit): cap how many snapshot versions one
        # micro-batch may consume. None = unbounded. Two honest caveats:
        # Trigger.AvailableNow captures its target offset once at start
        # (the Python stream API has no ReadLimit hook), so availableNow
        # catch-up runs uncapped — pacing applies to processingTime /
        # continuous triggers; and latestOffset() has no view of the
        # checkpointed start, so the FIRST batch a reader instance plans
        # (query start or restart) is uncapped; every later batch
        # advances ≤ N versions. Uncapped-first is a correctness rule,
        # not a shortcut: capping a guessed seed could return an offset
        # BELOW the checkpointed committed offset, and a regressed
        # offset in the engine's offset log replays already-consumed
        # versions — breaking exactly-once (ADVICE r13). Operator
        # runbook for the uncapped paths: restart a deep-backlog
        # follower from option("starting_version") / starting_as_of_ms
        # (README "Runbook note", r15).
        n = int(options.get("max_versions_per_batch", 0))
        self._max_versions = n if n > 0 else None
        self._last_end: int | None = None

    def _latest(self) -> int:
        v = _table_for(self._path).latest_version()
        return -1 if v is None else v

    def initialOffset(self) -> dict:
        if self._starting_as_of is not None:
            # start from a wall-clock instant: deliver every snapshot
            # committed AFTER it (versions > the as-of resolution; -1
            # when the instant predates the table = full history)
            resolved = _table_for(self._path).version_as_of(self._starting_as_of)
            v = -1 if resolved is None else resolved
        elif self._starting == "earliest":
            v = -1
        elif self._starting == "latest":
            v = self._latest()
        else:
            v = int(self._starting)
        self._last_end = v
        return {"version": v}

    def latestOffset(self) -> dict:
        latest = self._latest()
        if self._last_end is None:
            # First ask in this reader's lifetime. The engine may be on a
            # fresh query (it asks for latestOffset before initialOffset
            # in 4.1) or RESTARTING from a checkpoint this reader cannot
            # see. Return the TRUE latest, uncapped: seeding from the
            # starting rule and capping that seed could hand back an
            # offset below the checkpointed committed offset, which the
            # engine would record and then replay already-consumed
            # versions from — duplicate delivery (ADVICE r13). The true
            # latest is always ≥ any committed offset (versions only
            # grow), so this can never regress; the cap starts binding
            # once partitions() has observed a real offset.
            return {"version": latest}
        if self._max_versions is not None:
            latest = min(latest, self._last_end + self._max_versions)
        return {"version": latest}

    def partitions(self, start: dict, end: dict):
        v0, v1 = int(start["version"]), int(end["version"])
        self._last_end = max(self._last_end if self._last_end is not None else -1, v0, v1)
        if v1 <= v0:
            return [ZombiInputPartition()]
        entries = _table_for(self._path).added_files(None if v0 < 0 else v0, v1)
        return _pack_partitions(entries, self._max_bytes, self._min_partitions)

    def read(self, partition: ZombiInputPartition):
        yield from _read_partition(partition, self._schema)

    def commit(self, end: dict) -> None:
        # offsets live in the stream's checkpoint; the table keeps every
        # snapshot until expire_snapshots, so no source-side state
        pass


# metadata "tables" (the `SELECT * FROM t.files` / `t.snapshots` Iceberg
# surface, reference S11 list_segments iceberg_storage.rs:1478-1522 and
# the snapshot log): option("metadata", "files"|"snapshots")
_FILES_FIELDS = [
    ("file_path", "string"),
    ("partition_dir", "string"),
    ("file_size_bytes", "long"),
    ("row_count", "long"),
    ("min_ts", "long"),
    ("max_ts", "long"),
    ("min_seq", "long"),
    ("max_seq", "long"),
    ("min_topic", "string"),
    ("max_topic", "string"),
    ("min_part", "int"),
    ("max_part", "int"),
    ("key_nulls", "long"),
    # r15: extracted-column bounds ({name: [lo, hi]}, hi null =
    # one-sided truncated string bound) and exact null counts as JSON
    # strings — lets an operator inspect why a file was or wasn't
    # pruned from plain SQL
    ("col_stats", "string"),
    ("col_nulls", "string"),
]
_SNAPSHOTS_FIELDS = [
    ("version", "int"),
    ("parent_version", "int"),
    ("snapshot_id", "string"),
    ("committed_at_ms", "long"),
    ("operation", "string"),
    ("n_added", "int"),
    ("n_removed", "int"),
]
# r15: the t.delete_files surface (merge-on-read position deletes) —
# referenced_files as a JSON array string (same convention as col_stats)
_DELETE_FILES_FIELDS = [
    ("file_path", "string"),
    ("content", "string"),
    ("row_count", "long"),
    ("file_size_bytes", "long"),
    ("referenced_files", "string"),
]


def _meta_schema(fields) -> StructType:
    # built programmatically: DDL parsing needs a live SparkContext and
    # the data source's schema() runs in a session-free Python worker
    from pyspark.sql import types as T

    type_of = {"string": T.StringType(), "long": T.LongType(), "int": T.IntegerType()}
    return StructType([T.StructField(n, type_of[t], True) for n, t in fields])


class ZombiMetadataReader(DataSourceReader):
    """Driver-planned metadata rows — O(manifest), no data files touched."""

    def __init__(self, options: dict):
        self._path = _resolve_path(options)
        self._mode = options["metadata"]
        self._version = _version_option(self._path, options)

    def partitions(self):
        return [InputPartition(0)]

    def read(self, partition):
        import json as _json

        table = _table_for(self._path)
        if self._mode == "files":
            for e in table.scan_files(version=self._version):
                yield tuple(
                    _json.dumps(e[name], sort_keys=True)
                    if name in ("col_stats", "col_nulls") and e.get(name) is not None
                    else e.get(name)
                    for name, _ in _FILES_FIELDS
                )
        elif self._mode == "delete_files":
            for d in table.delete_files(version=self._version):
                yield tuple(
                    _json.dumps(sorted(d[name]))
                    if name == "referenced_files" and d.get(name) is not None
                    else d.get(name)
                    for name, _ in _DELETE_FILES_FIELDS
                )
        else:
            for s in table.snapshots():
                yield (
                    s.get("version"),
                    s.get("parent_version"),
                    s.get("snapshot_id"),
                    s.get("committed_at_ms"),
                    s.get("operation"),
                    len(s.get("added", [])),
                    len(s.get("removed", [])),
                )


class ZombiDataSource(DataSource):
    """``format("zombi")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        mode = self.options.get("metadata")
        fields = self.options.get("fields")
        if mode is not None:
            if fields:
                raise ValueError("'fields' does not apply to metadata tables")
            if mode == "files":
                return _meta_schema(_FILES_FIELDS)
            if mode == "snapshots":
                return _meta_schema(_SNAPSHOTS_FIELDS)
            if mode == "delete_files":
                return _meta_schema(_DELETE_FILES_FIELDS)
            raise ValueError(
                f"unknown metadata table {mode!r}: expected 'files', "
                "'snapshots', or 'delete_files'"
            )
        full = table_schema_for(_resolve_path(dict(self.options)))
        if not fields:
            return full
        # option("fields", "a,b") — MANUAL column projection, the
        # reference's ?fields= parameter (handlers.rs:737-764). Needed
        # because PySpark 4.1's Python DataSource API has no
        # column-pruning hook (DataSourceReader exposes only
        # partitions/pushFilters/read), so without it every batch read
        # ships ALL table columns — payload binary included — through
        # Arrow regardless of the query's select. Narrowing the declared
        # schema narrows the executor-side parquet reads too
        # (_read_partition reads only the schema's names).
        by_name = {f.name: f for f in full.fields}
        names = [c.strip() for c in fields.split(",") if c.strip()]
        unknown = [c for c in names if c not in by_name]
        if unknown:
            raise ValueError(
                f"unknown field(s) {unknown}; known: {tuple(by_name)}"
            )
        seen: set = set()
        deduped = [c for c in names if not (c in seen or seen.add(c))]
        return StructType([by_name[c] for c in deduped])

    def reader(self, schema: StructType) -> DataSourceReader:
        if self.options.get("metadata") is not None:
            return ZombiMetadataReader(dict(self.options))
        return ZombiBatchReader(schema, dict(self.options))

    def streamReader(self, schema: StructType) -> ZombiStreamReader:
        return ZombiStreamReader(schema, dict(self.options))


def table_schema_for(path: str) -> StructType:
    """The table's declared schema: ``table.json`` (written at first
    commit, evolves on column-ADD) — falling back to the canonical event
    schema for a pre-snapshot table."""
    table = _table_for(path)
    meta = table.table_metadata()
    if meta and "schema" in meta:
        return StructType.fromJson(meta["schema"])
    return table.table_schema()


def register_zombi_datasource(spark) -> None:
    """Idempotent ``spark.dataSource.register`` of the zombi format.

    SESSION-GLOBAL SIDE EFFECT (deliberate, ADVICE r13): also enables
    ``spark.sql.python.filterPushdown.enabled`` — a runtime SQL conf,
    default false in Spark 4.1, scoped to the whole session and hence to
    every OTHER Python data source registered in it. Without it Spark
    refuses to plan a reader that implements ``pushFilters`` at all, and
    the manifest-bound file skipping above is the entire point of this
    source. The set is skipped when the conf is already true, so a
    caller who manages the conf themselves sees no write.
    """
    if spark.conf.get("spark.sql.python.filterPushdown.enabled", "false") != "true":
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(ZombiDataSource)


def register_zombi_view(spark, view_name: str, path: str | None = None, **options):
    """The pure-SQL surface of the format: a temp view over
    ``spark.read.format("zombi")`` so any ``spark.sql`` query reads the
    table (pushed filters and ``fields`` projection included — filters
    on a view reach the reader's pushFilters unchanged).

    A temp view, NOT ``CREATE TABLE ... USING zombi``, deliberately:
    PySpark 4.1 drops a SQL table's OPTIONS when it plans the scan of a
    Python data source (the reader is constructed with an empty options
    dict — verified empirically; schema() sees them, reader() does not),
    so a catalog table can never find its path. The view binds the
    options at registration instead. Returns the bound DataFrame.
    """
    register_zombi_datasource(spark)
    reader = spark.read.format("zombi")
    for k, v in options.items():
        reader = reader.option(k, v)
    df = reader.load(path) if path is not None else reader.load()
    df.createOrReplaceTempView(view_name)
    return df
