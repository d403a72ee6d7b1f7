"""EventTable — the cold tier: partitioned, sorted Parquet with a snapshot log.

The reference's cold tier is Iceberg on S3 (iceberg_storage.rs). This
container ships no Iceberg Spark runtime jar, so the table layer writes the
same *physical layout* directly — hive-partitioned
``event_date=YYYY-MM-DD/event_hour=H`` Zstd Parquet, rows sorted by
``(timestamp_ms, sequence)`` within each file (SPEC.md:320-333,
parquet.rs:347-364) — plus a JSON snapshot log giving atomic, versioned
commits with Iceberg-shaped metadata:

  - **manifest deltas** (iceberg_storage.rs:1087-1110): each snapshot
    records only the files it ADDED (with per-file row counts and
    (timestamp_ms, sequence) min/max bounds — the DataFile stats Iceberg
    keeps) and the files it REMOVED, plus a parent pointer. Commit cost is
    O(files touched by this commit), never O(total files). Every 32nd
    snapshot also materializes the full active list (a manifest-list
    "rebase") so reconstruction replays a bounded chain.
  - **optimistic concurrency** (M3 — compaction.rs:98-137,
    iceberg_storage.rs:360-374): a commit names the parent version it was
    planned against; if another commit landed first the version file
    already exists and the commit raises :class:`CommitConflictError`
    instead of silently last-write-winning.
  - **table metadata** (``table.json``): schema, partition spec, sort
    order — the ``v{N}.metadata.json`` analogue.
  - **snapshot expiration** (:meth:`expire_snapshots`): drops old
    snapshots after materializing the survivor chain's base, after which
    :meth:`remove_orphans` can reclaim files only those snapshots held.

Crash-safety contract (INV-5/INV-6, SPEC.md:754):
  - ``append`` stages its output under a dot-prefixed directory and moves
    files into the data tree *before* committing — a crash at any point
    leaves either (a) staging junk, or (b) moved-but-uncommitted files:
    both invisible to :meth:`read` (which serves only committed file
    lists) and both reclaimed by :meth:`remove_orphans`. The next
    successful append never adopts them, because snapshots record exactly
    the files their own commit moved in — never a directory listing.
  - ``compact`` commits the swapped snapshot FIRST and deletes its input
    files only after the commit point (compaction.rs:282-396 order). A
    crash in between leaves the inputs on disk, still referenced by older
    snapshots — time travel keeps working and nothing is lost.

Scale notes:
  - append() repartitions by the storage partition key before writing, so
    each (event_date, event_hour) lands in few large files instead of
    shuffle_partitions small ones — the small-file problem compaction (M1)
    otherwise has to fix.
  - reads rely on three skip levels: snapshot-level file pruning on the
    recorded (min,max) bounds (:meth:`scan_files` — Iceberg scan
    planning), hive partition pruning (event_date/event_hour dirs), and
    parquet min/max row-group stats (SPEC.md:311-333).
  - the per-(topic, partition) high watermarks ride in every snapshot
    summary (``zombi.watermark.*`` — iceberg_storage.rs:285-300), so
    sequence assignment on the write path reads ZERO data files
    (:meth:`watermark_map`), and the idempotency-dedup probe scans only a
    retention window of 3 pruned columns (:meth:`idempotency_history`).
"""

from __future__ import annotations

import datetime
import json
import logging
import math
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import datasource as ds
from pyspark.sql import functions as F

from zombi_spark.ingest.batch import EVENT_SCHEMA, validate_table_name
from zombi_spark.table import fastjson, iceberg_meta

_META_DIR = "_zombi_meta"
_DATA_DIR = "data"

#: The staging trees ``{table}/.{op}-<uuid>`` of the write operations
#: that stage parquet before moving it into the data tree. One
#: declaration: the write paths name their trees from it
#: (:meth:`EventTable._staging_dir`), :meth:`EventTable.remove_orphans`
#: reaps crashed trees by it and ``stats.pending_stats`` counts
#: in-flight files by it.
STAGING_PREFIXES = (".append-", ".compact-", ".delete-")

#: The canonical system columns every event table carries. Anything NOT
#: in this set is a schema-config EXTRACTED column (plus
#: ``_payload_overflow``, excluded by type at each use site). One
#: definition, used by the footer stats builder and the extracted-column
#: schema probes.
SYSTEM_COLUMNS = frozenset(
    {
        "sequence", "topic", "partition", "payload",
        "timestamp_ms", "idempotency_key", "event_date", "event_hour",
    }
)

#: Iceberg's default metrics truncation width (write.metadata.metrics
#: default truncate(16)) — string bounds in manifests are prefixes, not
#: full values, so a pathological 1 MB document key cannot bloat every
#: manifest entry it touches.
STRING_BOUND_WIDTH = 16


def increment_string(s: str) -> str | None:
    """The exclusive-prefix successor of ``s``: the smallest practical
    string strictly greater than EVERY string that starts with ``s``.

    Iceberg's ``UnicodeUtil.truncateStringMax`` increment rule: bump the
    last code point; a position already at U+10FFFF carries into the one
    before it (dropping the tail), and when every position is U+10FFFF
    there is no successor — ``None`` (the caller records no upper bound;
    unknowable is never skipped). Increments that would land in the
    surrogate range U+D800-DFFF jump to U+E000: still strictly greater,
    and the bound stays valid UTF-8 for JSON manifests and Avro.
    """
    for i in range(len(s) - 1, -1, -1):
        cp = ord(s[i]) + 1
        if 0xD800 <= cp <= 0xDFFF:
            cp = 0xE000
        if cp <= 0x10FFFF:
            return s[:i] + chr(cp)
    return None


def truncate_lower_bound(s: str, width: int = STRING_BOUND_WIDTH) -> str:
    """Iceberg string LOWER bound: the value itself when short enough,
    else its ``width``-code-point prefix — a prefix sorts ≤ the value,
    so the truncated bound stays a sound lower bound."""
    return s if len(s) <= width else s[:width]


def truncate_upper_bound(s: str, width: int = STRING_BOUND_WIDTH) -> str | None:
    """Iceberg string UPPER bound: the value itself when short enough,
    else the truncated prefix INCREMENTED past every string sharing it
    (:func:`increment_string`); ``None`` when the increment overflows —
    the column then records a one-sided ``[lo, null]`` bound."""
    if len(s) <= width:
        return s
    return increment_string(s[:width])
# a full active-file list ("base") is materialized at least this often so
# delta replay is bounded: reconstruction reads ≤ _REBASE_EVERY snapshots
_REBASE_EVERY = 32


class CommitConflictError(RuntimeError):
    """Another commit reached this snapshot version first (M3 guard)."""


import contextlib
import threading

# serializes the parallelPartitionDiscovery.threshold set/restore:
# spark.conf is PROCESS-global, so two threads doing unguarded
# set→build→restore can interleave into one restoring the OTHER's
# elevated value — permanently widening the threshold for the session
_DISCOVERY_LOCK = threading.Lock()


@contextlib.contextmanager
def _discovery_threshold(spark: SparkSession, n_files: int):
    """Raise spark.sql.sources.parallelPartitionDiscovery.threshold for
    the duration of one plan construction (see _read_file_list), under a
    lock so concurrent builders can't clobber each other's restore. The
    override only ever WIDENS the driver-side listing path; it never
    lowers the threshold below its configured value."""
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    with _DISCOVERY_LOCK:
        prior = spark.conf.get(key)
        try:
            if int(prior) < n_files + 1:
                spark.conf.set(key, str(n_files + 1))
            yield
        finally:
            spark.conf.set(key, prior)


def _parquet_file_entry(path: str, data_path: str) -> dict:
    """Per-file manifest entry: size + row count + (ts, seq) bounds read
    from the parquet footer — O(1) metadata reads, no data scan (the
    DataFile stats Iceberg records at commit, iceberg.rs:126-184).

    The only code that derives entry stats: JVM-written files are read
    at move time (:meth:`EventTable._move_staged_in`), Arrow-written
    files inside the task that wrote them (:meth:`EventTable._stage_arrow`).
    ``partition_dir`` is relative to ``data_path``."""
    import pyarrow.parquet as pq

    entry = {
        "file_path": path,
        "partition_dir": os.path.relpath(os.path.dirname(path), data_path),
        "file_size_bytes": os.path.getsize(path),
    }
    try:
        pf = pq.ParquetFile(path)
        md = pf.metadata
        entry["row_count"] = md.num_rows
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for col, lo_key, hi_key in (
            ("timestamp_ms", "min_ts", "max_ts"),
            ("sequence", "min_seq", "max_seq"),
            # topic/partition bounds make latest-n planning safe under a
            # topic or partition equality filter (a file is a candidate
            # only if its bounds admit the value; it *proves* coverage
            # only when min == max == value)
            ("topic", "min_topic", "max_topic"),
            ("partition", "min_part", "max_part"),
        ):
            if col in idx:
                los, his = [], []
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx[col]).statistics
                    if st is None or not st.has_min_max:
                        break
                    los.append(st.min)
                    his.append(st.max)
                else:
                    if los:
                        lo, hi = min(los), max(his)
                        # parquet string stats may surface as bytes;
                        # manifests are JSON, so normalize
                        if isinstance(lo, bytes):
                            lo = lo.decode("utf-8", errors="replace")
                        if isinstance(hi, bytes):
                            hi = hi.decode("utf-8", errors="replace")
                        entry[lo_key] = lo
                        entry[hi_key] = hi
        # idempotency-key null count: lets compaction skip rebuilding
        # bloom filters for files whose key column is entirely null
        if "idempotency_key" in idx:
            nulls = []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx["idempotency_key"]).statistics
                if st is None or st.null_count is None:
                    break
                nulls.append(st.null_count)
            else:
                entry["key_nulls"] = sum(nulls)
        # r14/r15: per-file bounds for EXTRACTED columns (schema-on-write
        # tables, §1.3) as ``col_stats: {name: [lo, hi]}`` — the same
        # Iceberg lower/upper-bound contract the system columns get, so
        # manifest planning (the zombi data source's pushed filters) can
        # skip files on extracted predicates too. r14 covered integers;
        # r15 adds strings (Iceberg truncation semantics — truncate the
        # lower bound, truncate+increment the upper, hi=null on
        # increment overflow; reference extraction targets declare
        # Utf8|Float64|Boolean too, contracts/schema.rs:56-63, string
        # bound encoding iceberg.rs:41-76), booleans, and floats.
        #
        # Soundness notes. Bounds cover NON-NULL values (none of the
        # prunable operators match NULL). A footer string min/max the
        # WRITER already truncated stays sound: parquet-mr truncates max
        # with the same increment rule, so footer (min, max) are valid
        # (lower, upper) bounds even when inexact, and re-truncating a
        # bound keeps it a bound. Floats are the one type whose footer
        # stats CANNOT be trusted blind: pyarrow writes min/max that
        # silently ignore NaN (verified empirically), while Spark orders
        # NaN above +inf and matches NaN = NaN — a finite upper bound on
        # a NaN-carrying file would wrongly prune `x > huge`. So float
        # columns are proven NaN-free by reading the column (one-column
        # read at append time, extraction tables only); any NaN ⇒ no
        # bounds recorded. A group with values but no stats makes the
        # column unknowable → key absent → the file is never skipped.
        # ``col_nulls`` (r15) rides beside the bounds: exact per-file
        # null counts for the same extracted columns — the Iceberg
        # null_value_counts contract — so IS NULL skips files proven
        # all-valued and IS NOT NULL skips files proven all-null.
        col_stats: dict = {}
        col_nulls: dict = {}
        col_nans: dict = {}
        for name, i in idx.items():
            if name in SYSTEM_COLUMNS:
                continue
            col_schema = md.schema.column(i)
            phys = col_schema.physical_type
            lt = str(col_schema.logical_type.type)
            if phys in ("INT32", "INT64") and lt in ("NONE", "INT"):
                kind = "int"  # dates/times also ride INT32/64 — excluded
            elif phys == "BYTE_ARRAY" and lt in ("STRING", "UTF8"):
                kind = "string"
            elif phys in ("FLOAT", "DOUBLE") and lt == "NONE":
                kind = "float"
            elif phys == "BOOLEAN":
                kind = "bool"
            else:
                continue
            if kind == "float":
                try:
                    import pyarrow.compute as pc

                    col = pf.read(columns=[name]).column(0)
                    col_nulls[name] = col.null_count
                    if col.null_count == len(col):
                        col_nans[name] = 0
                        continue  # entirely null: no bounds, sound
                    nans = int(pc.sum(pc.is_nan(col)).as_py() or 0)
                    col_nans[name] = nans
                    if nans:
                        # NaN-poisoned: bounds over the FINITE-or-inf
                        # values still serve the NaN-sound operators
                        # (<, <=, ==, in — NaN satisfies none of them
                        # against a non-NaN literal); the planner keeps
                        # the file for >, >= whenever col_nans != 0
                        col = pc.filter(col, pc.invert(pc.is_nan(col)))
                        if len(col) == 0:
                            continue
                    mm = pc.min_max(col)
                    col_stats[name] = [mm["min"].as_py(), mm["max"].as_py()]
                except Exception:  # noqa: BLE001 — stats stay optional
                    logging.getLogger(__name__).warning(
                        "no float stats for column %r of %s", name, path, exc_info=True
                    )
                continue
            chunks = [md.row_group(rg).column(i) for rg in range(md.num_row_groups)]
            sts = [c.statistics for c in chunks]
            if all(st is not None and st.null_count is not None for st in sts):
                col_nulls[name] = sum(st.null_count for st in sts)
            los, his = [], []
            knowable = True
            for cmd, st in zip(chunks, sts):
                if st is not None and st.has_min_max:
                    los.append(st.min)
                    his.append(st.max)
                elif (
                    st is not None
                    and st.null_count is not None
                    and st.null_count == cmd.num_values
                ):
                    continue  # entirely null: contributes no bounds
                else:
                    knowable = False
                    break
            if not (knowable and los):
                continue
            if kind == "string":
                try:
                    los = [v.decode("utf-8") if isinstance(v, bytes) else v for v in los]
                    his = [v.decode("utf-8") if isinstance(v, bytes) else v for v in his]
                except UnicodeDecodeError:
                    continue  # undecodable stat: unknowable, never skipped
                col_stats[name] = [
                    truncate_lower_bound(min(los)),
                    truncate_upper_bound(max(his)),
                ]
            else:
                col_stats[name] = [min(los), max(his)]
        if col_stats:
            entry["col_stats"] = col_stats
        if col_nulls:
            entry["col_nulls"] = col_nulls
        if col_nans:
            entry["col_nans"] = col_nans
    except Exception:
        # stats are an optimization — a file with no footer stats is
        # still correct, it just never gets skipped
        logging.getLogger(__name__).warning(
            "no footer stats for %s", path, exc_info=True
        )
    return entry


# the file-pruning predicate over the entries _parquet_file_entry builds:
# scan_files, plan_latest_files, expire_data_older_than and the zombi data
# source's pushed filters all decide "can this file hold a matching row"
# through _entry_admits. System-column stat keys per filterable column:
_BOUND_KEYS = {
    "timestamp_ms": ("min_ts", "max_ts"),
    "sequence": ("min_seq", "max_seq"),
    "topic": ("min_topic", "max_topic"),
    "partition": ("min_part", "max_part"),
}
_HIVE_RE = {
    "event_date": re.compile(r"event_date=([0-9]{4}-[0-9]{2}-[0-9]{2})(?:/|$)"),
    "event_hour": re.compile(r"event_hour=([0-9]+)(?:/|$)"),
}


def _hive_values(entry: dict) -> dict:
    """Typed event_date/event_hour from the entry's directory layout.

    Prefers the recorded ``partition_dir``; falls back to matching the
    file path (legacy bare-path manifest entries). Missing ⇒ absent key
    (the file is then never pruned on that column and the column reads
    as NULL — stats are optional, correctness is not).
    """
    probe = entry.get("partition_dir") or entry.get("file_path", "")
    out: dict = {}
    m = _HIVE_RE["event_date"].search(probe)
    if m:
        out["event_date"] = datetime.date.fromisoformat(m.group(1))
    m = _HIVE_RE["event_hour"].search(probe)
    if m:
        out["event_hour"] = int(m.group(1))
    return out


def _filter_constraints(filters) -> list:
    """The prunable constraints among pushed data-source filters.

    A constraint is ``(column, op, value)`` with op ∈ {"==", ">", ">=",
    "<", "<=", "in", "startswith", "isnull", "notnull"}. Unsupported
    shapes (nested paths, Not, contains/endswith) are simply not
    constraints — the file is kept and Spark's row-level re-apply does
    the work. Columns beyond the system set are kept too: extraction
    tables record per-file ``col_stats`` bounds and ``col_nulls``
    counts for extracted int/string/float/bool columns
    (:func:`_parquet_file_entry`), and :func:`_entry_admits` prunes on
    whichever source an entry carries.
    """
    constraints = []
    for f in filters:
        attr = getattr(f, "attribute", None)
        if not attr or len(attr) != 1:
            continue
        col = attr[0]
        if isinstance(f, (ds.EqualTo, ds.EqualNullSafe)):
            if f.value is not None:
                constraints.append((col, "==", f.value))
            elif isinstance(f, ds.EqualNullSafe):
                # col <=> NULL is exactly IS NULL (an EqualTo with a
                # null literal never reaches pushdown — Spark folds it)
                constraints.append((col, "isnull", None))
        elif isinstance(f, ds.GreaterThan):
            constraints.append((col, ">", f.value))
        elif isinstance(f, ds.GreaterThanOrEqual):
            constraints.append((col, ">=", f.value))
        elif isinstance(f, ds.LessThan):
            constraints.append((col, "<", f.value))
        elif isinstance(f, ds.LessThanOrEqual):
            constraints.append((col, "<=", f.value))
        elif isinstance(f, ds.In):
            vals = [v for v in f.value if v is not None]
            if vals:
                constraints.append((col, "in", vals))
        elif isinstance(f, ds.StringStartsWith):
            if isinstance(f.value, str):
                constraints.append((col, "startswith", f.value))
        elif isinstance(f, ds.IsNull):
            constraints.append((col, "isnull", None))
        elif isinstance(f, ds.IsNotNull):
            constraints.append((col, "notnull", None))
    return constraints


def _as_comparable(value, reference):
    """Coerce a constraint literal to the manifest stat's type.

    Spark hands dates as ``datetime.date`` and ints as ``int`` already;
    the one mismatch seen in practice is date-vs-string when a user
    compares event_date to a string literal. A NaN literal is NEVER
    comparable: col_stats bounds exclude NaN by construction while Spark
    orders NaN above +inf and matches NaN = NaN, so no bound may prune
    on it.
    """
    if isinstance(value, float) and math.isnan(value):
        return None
    if isinstance(reference, datetime.date) and isinstance(value, str):
        try:
            return datetime.date.fromisoformat(value)
        except ValueError:
            return None
    if type(value) is type(reference) or isinstance(value, type(reference)):
        return value
    if isinstance(reference, (int, float)) and isinstance(value, (int, float)):
        return value
    return None  # incomparable — never prune on it


def _bounds_admit(lo, hi, op: str, value) -> bool:
    """Can any row inside ``[lo, hi]`` satisfy ``op value``? ``hi`` may
    be None — a ONE-SIDED bound (r15: a truncated string upper bound
    whose increment overflowed): the unknown side never proves
    exclusion, so operators needing it keep the file."""
    if op == "startswith":
        # rows matching lie in [value, increment_string(value)); admit
        # on range overlap. Sound with truncated bounds: lo ≤ true min
        # and hi ≥ true max, so a disjoint [lo, hi] proves disjoint data.
        if not isinstance(value, str) or not isinstance(lo, str):
            return True
        if hi is not None and hi < value:
            return False
        succ = increment_string(value)
        return succ is None or lo < succ
    if op == "in":
        # handled BEFORE the scalar coercion: the value is a LIST, which
        # _as_comparable (rightly) rejects — routing it there first made
        # every In() constraint silently never prune (latent since r13,
        # sound but useless; caught by the r15 string-In planning test)
        vals = [_as_comparable(v, lo) for v in value]
        if any(v is None for v in vals):
            # an incomparable literal (a NaN — which DOES match NaN rows
            # in Spark — or a type mismatch) means exclusion is unprovable
            return True
        return any(lo <= v and (hi is None or v <= hi) for v in vals)
    value = _as_comparable(value, lo)
    if value is None:
        return True
    if op == "==":
        return lo <= value and (hi is None or value <= hi)
    if op == ">":
        return hi is None or hi > value
    if op == ">=":
        return hi is None or hi >= value
    if op == "<":
        return lo < value
    if op == "<=":
        return lo <= value
    return True


def _entry_admits(entry: dict, constraints: list) -> bool:
    """Iceberg-style file skipping: drop the file only when a constraint
    *provably* excludes every row. Missing stats ⇒ keep. Bounds come
    from three sources, all optional per entry: the fixed system-column
    keys (_BOUND_KEYS), the hive directory values, and the
    ``col_stats`` dict of extracted-column bounds. col_stats bounds
    cover NON-NULL values only — sound for the comparison operators,
    none of which a NULL row can satisfy; IS NULL / IS NOT NULL prune
    on the separate ``col_nulls`` exact counts (r15), never on bounds.
    """
    hive = (
        _hive_values(entry)
        if any(col in _HIVE_RE for col, _op, _v in constraints)
        else {}
    )
    col_stats = entry.get("col_stats") or {}
    col_nulls = entry.get("col_nulls") or {}
    col_nans = entry.get("col_nans") or {}
    for col, op, value in constraints:
        if op in ("isnull", "notnull"):
            # null-count skipping (r15, Iceberg null_value_counts): a
            # file proven all-valued excludes IS NULL; a file proven
            # all-null excludes IS NOT NULL. Hive dir columns are never
            # null for rows in that dir. Unknown counts ⇒ keep.
            nulls = col_nulls.get(col)
            if nulls is None and col == "idempotency_key":
                nulls = entry.get("key_nulls")
            if op == "isnull":
                if nulls == 0 or col in hive:
                    return False
            else:
                rc = entry.get("row_count")
                if nulls is not None and rc and nulls == rc:
                    return False
            continue
        if col in _BOUND_KEYS:
            lo_key, hi_key = _BOUND_KEYS[col]
            if lo_key in entry and hi_key in entry:
                if not _bounds_admit(entry[lo_key], entry[hi_key], op, value):
                    return False
        elif col in hive:
            v = hive[col]
            if not _bounds_admit(v, v, op, value):
                return False
        elif col in col_stats:
            lo, hi = col_stats[col]
            if (
                op in (">", ">=")
                and isinstance(lo, float)
                and col_nans.get(col) != 0
            ):
                # float bounds cover non-NaN values; Spark orders NaN
                # above +inf, so an upper bound proves nothing for >/>=
                # unless the file is PROVEN NaN-free (col_nans == 0).
                # Unknown counts (None) keep the file too. The other
                # operators stay sound: NaN satisfies none of them
                # against a non-NaN literal (NaN literals never prune —
                # _as_comparable).
                continue
            if not _bounds_admit(lo, hi, op, value):
                return False
    return True


def _position_delete_probe(df: DataFrame, dels: list[dict]) -> DataFrame:
    """``df`` (a parquet scan of data files) widened with the normalized
    data-file path (``_zdel_file``) and in-file row index (``_zdel_pos``),
    with the position-delete anti-join applied when ``dels`` (delete file
    entries: ``file_path``, and ``file_size_bytes`` or ``row_count``) is
    non-empty — the shared kernel for reads, including the Iceberg-only
    reader (which drop the helper columns), and delete/compact planning
    (which group on them)."""
    # _metadata.file_path is a URI: strip the scheme AND percent-decode
    # (paths with spaces etc. arrive as %20; delete files record raw
    # abspaths). A literal '+' in a filename must survive, but
    # url_decode follows URLDecoder's form-encoding rule (+ → space),
    # so pre-escape it — this matches Python's urllib unquote.
    probe = df.withColumn(
        "_zdel_file",
        F.url_decode(
            F.regexp_replace(
                F.regexp_replace(F.col("_metadata.file_path"), "^file:(//)?", ""),
                r"\+",
                "%2B",
            )
        ),
    ).withColumn("_zdel_pos", F.col("_metadata.row_index"))
    if not dels:
        return probe
    dd = df.sparkSession.read.parquet(*[d["file_path"] for d in dels]).select(
        F.col("file_path").alias("_zdel_file"), F.col("pos").alias("_zdel_pos")
    )
    # broadcast gate on BYTES, not rows: each tombstone row carries a
    # full data-file path string, so a row cap alone can admit a
    # multi-hundred-MB broadcast (driver-memory risk, guide §5). The
    # on-disk delete parquet is a sound proxy for the built relation's
    # scale; entries without a recorded size estimate conservatively.
    est_bytes = sum(
        d.get("file_size_bytes", d.get("row_count", 0) * 64) for d in dels
    )
    if est_bytes <= 64 * 1024 * 1024:
        dd = F.broadcast(dd)
    return probe.join(dd, ["_zdel_file", "_zdel_pos"], "left_anti")


def _apply_position_deletes(df: DataFrame, dels: list[dict]) -> DataFrame:
    """Anti-join ``df`` (a parquet scan of data files) against the
    position-delete files: a row is dead iff some delete file holds its
    exact (data file path, row index) — Iceberg v2 merge-on-read.
    Data-file paths are fresh UUIDs on every write/rewrite, so a
    position can never mis-apply to a later file; positions whose data
    file has since been rewritten match nothing (dead weight until
    compaction drops the delete file). The delete side broadcasts below
    a byte cap (takedowns are small by nature); above it the join falls
    back to shuffle + AQE."""
    if not dels:
        return df
    return _position_delete_probe(df, dels).drop("_zdel_file", "_zdel_pos")


class EventTable:
    """A zombi event table rooted at ``{root}/{name}``.

    ``schema_config`` turns on schema-on-WRITE extraction (§1.3,
    iceberg.rs:192-266): each append extracts the configured typed fields
    out of the JSON payload, the remainder lands in ``_payload_overflow``,
    and the raw ``payload`` column is dropped from the stored schema.
    Column-ADD evolution is supported: reopening the table with a config
    containing new fields widens ``table.json``'s extracted-field list;
    reads declare the union schema, so files written before the new field
    existed serve NULL for it (the parquet reader fills missing columns) —
    the same add-column evolution Iceberg performs.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        name: str,
        schema_config=None,
        backend=None,
    ):
        from zombi_spark.table.commit_backend import get_backend

        self.spark = spark
        self.name = validate_table_name(name)
        self.path = os.path.join(root, name)
        self.data_path = os.path.join(self.path, _DATA_DIR)
        self.meta_path = os.path.join(self.path, _META_DIR)
        self.schema_config = schema_config
        # atomic-commit primitives (claim/swing/carry/promote) — POSIX by
        # default, object-store semantics via ZOMBI_COMMIT_BACKEND or an
        # explicit instance (see table/commit_backend.py)
        self.backend = backend if backend is not None else get_backend()
        # version -> (file entries, position-delete file entries) for the
        # two newest versions replayed (bounded: a commit replays from its
        # cached parent); snapshots are immutable once committed, so only
        # expire_snapshots' rewrite of the survivor base invalidates it
        self._active_cache: dict[int, tuple[list[dict], list[dict]]] = {}
        if schema_config is not None and schema_config.fields:
            # reject converting a PLAIN table that already holds data:
            # extraction tables drop the payload column from the schema,
            # so flipping an existing payload-bearing table would make
            # every committed row's content unreadable (old rows would
            # serve NULL extracted fields AND no payload). Column-ADD
            # evolution on an already-extracting table stays allowed.
            if not self.extracted_fields() and self.latest_version() is not None:
                raise ValueError(
                    f"table {self.name!r} already holds committed plain-event "
                    "data; converting it to an extraction table would hide "
                    "every existing row's payload. Create a new table (or "
                    "re-ingest) instead."
                )
            self._merge_extracted_fields(schema_config)

    # ------------------------------------------------- extracted schema
    def _extracted_fields_path(self) -> str:
        return os.path.join(self.meta_path, "extracted_fields.json")

    def _merge_extracted_fields(self, config) -> None:
        """Record (and widen) the table's extracted-field list — the
        column-add half of schema evolution, plus Iceberg's safe type
        promotions (r15): ``int32 -> int64`` widens the stored type (the
        counter-outgrew-int32 case; Iceberg spec "int to long" evolution).
        Spark 4's parquet readers serve pre-promotion INT32 files under
        the widened LONG declared schema natively (both vectorized and
        row paths), the DSv2 read path casts per Arrow batch, and the
        4-byte bounds in already-written Avro manifests stay decodable
        (manifests.decode_bound resolves by buffer width, Iceberg's
        Conversions rule). A config narrower than the stored type is
        tolerated and keeps the wider stored type — evolution is a table
        property, not a session property. Every other type change is
        rejected (matches Iceberg: no narrowing, no cross-kind casts)."""
        promotions = {("int32", "int64")}
        os.makedirs(self.meta_path, exist_ok=True)
        current = {f["name"]: f for f in self.extracted_fields()}
        for spec in config.fields:
            prev = current.get(spec.name)
            data_type = spec.data_type
            if prev is not None and prev["data_type"] != spec.data_type:
                if (prev["data_type"], spec.data_type) in promotions:
                    pass  # widen: record the new, wider type
                elif (spec.data_type, prev["data_type"]) in promotions:
                    data_type = prev["data_type"]  # stale config: keep wide
                else:
                    raise ValueError(
                        f"extracted field {spec.name!r} cannot change type "
                        f"{prev['data_type']!r} -> {spec.data_type!r}"
                    )
            current[spec.name] = {
                "name": spec.name,
                "json_path": spec.json_path,
                "data_type": data_type,
            }
        tmp = self._extracted_fields_path() + f".{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as fh:
            json.dump(list(current.values()), fh, indent=1)
        self.backend.swing(tmp, self._extracted_fields_path())

    def extracted_fields(self) -> list[dict]:
        """The union of every extraction config this table has seen."""
        p = self._extracted_fields_path()
        if not os.path.isfile(p):
            return []
        with open(p) as fh:
            return json.load(fh)

    def table_schema(self):
        """The table's current read/write schema: the canonical system
        schema, or — for extraction tables — system columns with payload
        replaced by the union of extracted fields + _payload_overflow."""
        fields = self.extracted_fields()
        if not fields:
            return EVENT_SCHEMA
        from pyspark.sql import types as T

        from zombi_spark.ingest.extraction import _TYPE_MAP

        type_of = {
            "string": T.StringType(),
            "int": T.IntegerType(),
            "long": T.LongType(),
            "double": T.DoubleType(),
            "boolean": T.BooleanType(),
            "binary": T.BinaryType(),
        }
        out = [f for f in EVENT_SCHEMA.fields if f.name != "payload"]
        for f in fields:
            out.append(T.StructField(f["name"], type_of[_TYPE_MAP[f["data_type"]]], True))
        out.append(T.StructField("_payload_overflow", T.BinaryType(), True))
        return T.StructType(out)

    def extracted_stat_columns(self) -> dict[str, str]:
        """name → bounds kind (``int | string | float | bool``) for every
        extracted column that carries per-file ``col_stats`` bounds in
        the manifest. r14 covered integers; r15 added strings (Iceberg
        truncation semantics), NaN-guarded doubles, and booleans — the
        reference's full extraction target list (contracts/
        schema.rs:56-63). Binary extracted fields and the
        ``_payload_overflow`` column have no orderable bounds."""
        kind_of = {
            "tinyint": "int", "smallint": "int", "int": "int", "bigint": "int",
            "string": "string", "float": "float", "double": "float",
            "boolean": "bool",
        }
        return {
            f.name: kind_of[f.dataType.simpleString()]
            for f in self.table_schema().fields
            if f.name not in SYSTEM_COLUMNS
            and f.dataType.simpleString() in kind_of
        }

    def extracted_int_columns(self) -> tuple[str, ...]:
        """The schema-config INTEGER columns — since r14 they carry
        per-file ``col_stats`` bounds in the manifest (both writer
        paths), which makes them clusterable and prunable exactly like
        the system bound columns. (Z-order keeps requiring integers;
        sort-strategy clustering accepts any stat column.)"""
        return tuple(
            name for name, kind in self.extracted_stat_columns().items() if kind == "int"
        )

    # ---------------------------------------------------------------- meta
    def _snapshot_files(self) -> list[str]:
        if not os.path.isdir(self.meta_path):
            return []
        return sorted(
            f for f in os.listdir(self.meta_path) if f.startswith("snap-") and f.endswith(".json")
        )

    def _read_snapshot(self, fname: str) -> dict:
        return fastjson.load_from(os.path.join(self.meta_path, fname))

    def snapshots(self) -> list[dict]:
        """Snapshot log, oldest first (analogue of Iceberg ``t.snapshots``)."""
        return [self._read_snapshot(f) for f in self._snapshot_files()]

    def latest_version(self) -> int | None:
        names = self._snapshot_files()
        return int(names[-1][5:13]) if names else None

    def latest_snapshot(self) -> dict | None:
        names = self._snapshot_files()
        return self._read_snapshot(names[-1]) if names else None

    def version_as_of(self, ts_ms: int) -> int | None:
        """Timestamp time travel (Iceberg ``FOR SYSTEM_TIME AS OF``): the
        newest version whose commit time is ≤ ``ts_ms`` — None when the
        table has no snapshot that old. O(snapshots) metadata reads; pass
        the result as ``version=`` to :meth:`read`/:meth:`scan_files`."""
        best = None
        for snap in self.snapshots():
            if snap.get("committed_at_ms", 0) <= ts_ms:
                v = snap.get("version")
                if v is not None and (best is None or v > best):
                    best = v
        return best

    def table_metadata(self) -> dict | None:
        """Table-level metadata (schema / partition spec / sort order) —
        the ``v{N}.metadata.json`` analogue (iceberg_storage.rs:1000-1161)."""
        p = os.path.join(self.meta_path, "table.json")
        if not os.path.isfile(p):
            return None
        with open(p) as fh:
            return json.load(fh)

    def _write_table_metadata(self) -> None:
        p = os.path.join(self.meta_path, "table.json")
        schema = json.loads(self.table_schema().json())
        if os.path.isfile(p):
            with open(p) as fh:
                prev = json.load(fh)
            if prev.get("schema") == schema:
                return
            # column-add evolution: the extracted-field union widened —
            # rewrite with the new schema (field ORDER is stable: system
            # cols, then extracted fields in first-seen order)
        meta = {
            "format_version": 2,
            "table_name": self.name,
            "schema": schema,
            "partition_spec": ["event_date", "event_hour"],
            "sort_order": ["timestamp_ms", "sequence"],
        }
        tmp = p + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(meta, fh, indent=1)
        self.backend.swing(tmp, p)

    def _commit_snapshot(
        self,
        summary: dict,
        added: list[dict] | None = None,
        removed: list[str] | None = None,
        expected_parent: int | None = None,
        added_deletes: list[dict] | None = None,
        removed_deletes: list[str] | None = None,
    ) -> dict:
        """Atomic versioned commit of a manifest delta.

        ``expected_parent`` is the version this commit was planned against
        (None = table expected empty). If a different version is current,
        or another writer races us to the same version file, raise
        :class:`CommitConflictError` — the caller rebases or aborts; a
        stale commit is never silently dropped (M3, compaction.rs:98-137).
        """
        os.makedirs(self.meta_path, exist_ok=True)
        self._write_table_metadata()
        current = self.latest_version()
        if current != expected_parent:
            raise CommitConflictError(
                f"snapshot conflict: planned against version {expected_parent}, "
                f"but current is {current}"
            )
        version = 0 if current is None else current + 1
        added = added or []
        removed = removed or []
        # the watermarks (INV-1's sequence floor) and the streams map
        # (stream identity → last committed micro-batch id, the
        # foreachBatch transactional-sink pattern) must survive EVERY
        # commit: a summary that leaves one out carries the parent's
        # forward. A compact/retention between a batch's commit and its
        # checkpoint write would otherwise erase the replay guard and a
        # crash-replay would append unkeyed events twice.
        parent_snap = (
            self._read_snapshot(f"snap-{current:08d}.json")
            if current is not None and not {"watermarks", "streams"} <= summary.keys()
            else {}
        )
        summary = {
            "watermarks": dict(parent_snap.get("watermarks", {})),
            **({"streams": dict(parent_snap["streams"])} if parent_snap.get("streams") else {}),
            **summary,
        }
        snap = {
            "version": version,
            "parent_version": current,
            "snapshot_id": uuid.uuid4().hex,
            "committed_at_ms": int(time.time() * 1000),
            **summary,
            "added": added,
            "removed": removed,
        }
        # merge-on-read position-delete deltas ride the same snapshot
        # (keys absent on commits that touch none — old snapshot shape
        # unchanged)
        if added_deletes:
            snap["added_deletes"] = added_deletes
        if removed_deletes:
            snap["removed_deletes"] = removed_deletes
        if version % _REBASE_EVERY == 0:
            # materialize the full list (manifest-list rebase): replay the
            # parent chain once, apply this delta — O(active files), paid
            # every _REBASE_EVERY commits; the base carries the delete
            # list too (the replay in _active_state stops at it)
            parent_files, parent_dels = (
                self._active_state(current) if current is not None else ([], [])
            )
            removed_set = set(removed)
            snap["files"] = [
                f for f in parent_files if f["file_path"] not in removed_set
            ] + added
            removed_del_set = set(removed_deletes or [])
            snap["delete_files"] = [
                d for d in parent_dels if d["file_path"] not in removed_del_set
            ] + (added_deletes or [])
        tmp = os.path.join(self.meta_path, f".snap-{version:08d}.{uuid.uuid4().hex[:8]}.json.tmp")
        final = os.path.join(self.meta_path, f"snap-{version:08d}.json")
        fastjson.dump_to(tmp, snap)
        try:
            # the exclusive version claim: EEXIST means a concurrent
            # writer committed this version first (conditional PUT /
            # catalog CAS on the object-store backend). The retryable
            # wrapper (VERDICT r7 #5, adopted in production r10) absorbs
            # object-store response loss: if the backend's PUT succeeded
            # server-side but the client saw a timeout and its retry got
            # 412/EEXIST, the version file holds exactly OUR bytes
            # (snapshot_id is a fresh uuid per attempt, so same-bytes can
            # only be our own write) — idempotent success, not a
            # conflict.
            from zombi_spark.table.commit_backend import publish_exclusive_retryable

            publish_exclusive_retryable(self.backend, tmp, final)
        except FileExistsError:
            raise CommitConflictError(
                f"snapshot conflict: version {version} was committed concurrently"
            ) from None
        finally:
            os.unlink(tmp)
        # Iceberg-v2 interop metadata (iceberg_storage.rs:1000-1161
        # contract) is derived from the log and never fails the commit: a
        # failed write leaves the writer's cursor behind, and the next
        # call catches up every version it missed
        try:
            iceberg_meta.write_metadata_for_commit(self, snap)
        except Exception:
            logging.getLogger(__name__).warning(
                "iceberg metadata write failed for %r version %d",
                self.name, version, exc_info=True,
            )
        return snap

    def _commit_rewrite(
        self,
        summary: dict,
        *,
        planned: int,
        planned_deletes: list[dict],
        added: list[dict] | None = None,
        removed: list[str] | None = None,
        added_deletes: list[dict] | None = None,
    ) -> dict:
        """Commit a rewrite's immutable delta — the one commit-and-rebase
        rule of :meth:`compact`, :meth:`delete_where` (both modes) and
        :meth:`expire_data_older_than` (compaction.rs:98-137,
        iceberg_storage.rs:360-374).

        ``planned`` is the version the delta was planned against and
        ``planned_deletes`` the position-delete files active then. Those
        whose every referenced data file this commit removes are fully
        consumed and leave the manifest in the same commit.

        On :class:`CommitConflictError` the same delta rebases ONCE onto
        the new parent, only when that is sound: every file the commit
        removes or references is still active (a racing append only adds
        files), and no delete file committed since references a removed
        file (our rewrite predates its tombstones and would resurrect
        the rows it took down). Otherwise the conflict re-raises; the
        rewrite's moved files stay orphans for :meth:`remove_orphans`."""
        gone = set(removed or [])
        delta = {
            "added": added,
            "removed": removed,
            "added_deletes": added_deletes,
            "removed_deletes": [
                d["file_path"]
                for d in planned_deletes
                if d.get("referenced_files") and set(d["referenced_files"]) <= gone
            ],
        }
        try:
            return self._commit_snapshot(summary, expected_parent=planned, **delta)
        except CommitConflictError:
            parent = self.latest_version()
            files, dels = self._active_state(parent)
            touched = gone.union(*(d.get("referenced_files", []) for d in added_deletes or []))
            if not touched <= {e["file_path"] for e in files}:
                raise
            seen = {d["file_path"] for d in planned_deletes}
            if any(
                d["file_path"] not in seen and gone.intersection(d.get("referenced_files", []))
                for d in dels
            ):
                raise
            return self._commit_snapshot(summary, expected_parent=parent, **delta)

    # ------------------------------------------------------- file manifests
    @staticmethod
    def _norm_entry(e) -> dict:
        # legacy snapshots recorded bare path strings; normalize to entries
        return e if isinstance(e, dict) else {"file_path": e}

    def _active_state(self, version: int) -> tuple[list[dict], list[dict]]:
        """(data file entries, position-delete file entries) active AS OF
        ``version`` — the one manifest replay. Walks back to the nearest
        cached version or rebase base (rebase snapshots materialize both
        lists), replays the deltas after it forward once, and caches the
        pair; a commit whose parent is cached reads one snapshot. The
        cache keeps the two newest versions replayed, so a long-lived
        table holds O(files), not O(versions × files)."""
        if version in self._active_cache:
            return self._active_cache[version]
        deltas: list[dict] = []
        files: list = []
        dels: list[dict] = []
        v = version
        while v >= 0:
            if v in self._active_cache:
                files, dels = self._active_cache[v]
                break
            try:
                snap = self._read_snapshot(f"snap-{v:08d}.json")
            except FileNotFoundError:
                # the version is inside [0, latest] but its snapshot was
                # expired — surface the documented error contract instead
                # of a FileNotFoundError from deep inside manifest replay
                raise ValueError(
                    f"snapshot {v} (reached resolving version {version}) "
                    "has been expired — time travel is bounded by "
                    "expire_snapshots' retained window"
                ) from None
            if "files" in snap:
                # rebases written before merge-on-read existed carry no
                # delete list: they had no delete files by construction
                files, dels = snap["files"], snap.get("delete_files", [])
                break
            deltas.append(snap)
            parent = snap.get("parent_version")
            v = -1 if parent is None else parent
        live = {e["file_path"]: e for e in map(self._norm_entry, files)}
        live_dels = {d["file_path"]: d for d in dels}
        for snap in reversed(deltas):
            for p in snap.get("removed", []):
                live.pop(p, None)
            for e in map(self._norm_entry, snap.get("added", [])):
                live[e["file_path"]] = e
            for p in snap.get("removed_deletes", []):
                live_dels.pop(p, None)
            for d in snap.get("added_deletes", []):
                live_dels[d["file_path"]] = d
        out = (
            sorted(live.values(), key=lambda d: d["file_path"]),
            sorted(live_dels.values(), key=lambda d: d["file_path"]),
        )
        self._active_cache[version] = out
        if len(self._active_cache) > 2:
            del self._active_cache[min(self._active_cache)]
        return out

    def _active_files(self, version: int) -> list[dict]:
        """Active data file entries AS OF ``version``."""
        return self._active_state(version)[0]

    def _active_delete_files(self, version: int) -> list[dict]:
        """Active POSITION-DELETE file entries AS OF ``version`` — the
        merge-on-read side of the manifest (Iceberg v2 delete files).
        Entries carry ``file_path`` (the delete parquet), ``row_count``,
        ``file_size_bytes``, and ``referenced_files`` (the data files
        whose positions it tombstones — bounded by design: a takedown
        touches few files of a 100 TB table, and that list is what lets
        compaction drop consumed delete files and scan planning skip
        non-intersecting ones)."""
        return self._active_state(version)[1]

    def delete_files(self, version: int | None = None) -> list[dict]:
        """Active position-delete file entries (the ``t.delete_files``
        metadata surface; empty for tables with no merge-on-read
        deletes)."""
        if version is None:
            version = self.latest_version()
        if version is None:
            return []
        return list(self._active_delete_files(version))

    def scan_files(
        self,
        version: int | None = None,
        ts_min: int | None = None,
        ts_max: int | None = None,
        topic: str | None = None,
        partition: int | None = None,
    ) -> list[dict]:
        """Scan planning: the snapshot's file entries, pruned by the
        recorded (timestamp_ms) bounds and — when the caller filters on
        them — the per-file topic/partition bounds — Iceberg-style file
        skipping before Spark ever opens a footer. Files without stats
        are kept (skipping is an optimization, never a correctness
        gate). On a multi-topic table an equality filter on topic prunes
        every file whose bounds exclude the value, the same entries that
        make latest-n planning filter-aware."""
        if version is None:
            version = self.latest_version()
        if version is None:
            return []
        constraints = [
            (col, op, value)
            for col, op, value in (
                ("timestamp_ms", ">=", ts_min),
                ("timestamp_ms", "<=", ts_max),
                ("topic", "==", topic),
                ("partition", "==", partition),
            )
            if value is not None
        ]
        return [e for e in self._active_files(version) if _entry_admits(e, constraints)]

    def external_ddl(self, view_name: str | None = None, version: int | None = None) -> str:
        """DDL that lets an EXTERNAL engine (DuckDB dialect; Trino/Spark
        read the same glob) query this table's current snapshot — the
        "any engine reads the table" contract (SPEC.md:343-352) made
        concrete without an Iceberg runtime: the snapshot's exact file
        list goes into ``read_parquet`` with hive partitioning on, so the
        external engine sees the same committed rows, partition columns
        included, and never the staging junk or orphans a directory glob
        would pick up. Cross-engine row parity is tested with the
        in-container DuckDB (test_external_ddl_duckdb_reads_table).
        """
        import json as _json

        view = view_name or self.name.replace("-", "_")
        # pin the snapshot ONCE: letting scan_files and delete_files each
        # resolve "latest" independently races a concurrent commit (data
        # files of X with the delete set of X+1 resurrects compacted-away
        # tombstoned rows)
        if version is None:
            version = self.latest_version()
        files = [e["file_path"] for e in self.scan_files(version=version)]
        if not files:
            # typed zero-row view: the empty snapshot must be
            # schema-compatible with the non-empty one, or downstream SQL
            # referencing real columns breaks only in the empty case
            sql_type = {
                "bigint": "BIGINT",
                "int": "INTEGER",
                "string": "VARCHAR",
                "binary": "BLOB",
                "date": "DATE",
                "double": "DOUBLE",
                "float": "FLOAT",
                "boolean": "BOOLEAN",
                "timestamp": "TIMESTAMP",
            }
            cols = ", ".join(
                f"CAST(NULL AS {sql_type.get(f.dataType.simpleString(), 'VARCHAR')}) "
                f"AS {f.name}"
                for f in self.table_schema().fields
            )
            return f"CREATE OR REPLACE VIEW {view} AS SELECT {cols} WHERE false"
        file_list = ", ".join(_json.dumps(os.path.abspath(f)) for f in sorted(files))
        dels = [d["file_path"] for d in self.delete_files(version=version)]
        if dels:
            # merge-on-read: the external engine applies the position
            # tombstones itself — DuckDB's filename/file_row_number
            # virtual columns are exactly the (data file, row index) key
            # the delete files record
            del_list = ", ".join(_json.dumps(os.path.abspath(p)) for p in sorted(dels))
            return (
                f"CREATE OR REPLACE VIEW {view} AS "
                f"SELECT r.* EXCLUDE (filename, file_row_number) "
                f"FROM read_parquet([{file_list}], hive_partitioning = true, "
                f"union_by_name = true, filename = true, file_row_number = true) r "
                f"ANTI JOIN read_parquet([{del_list}]) d "
                f"ON r.filename = d.file_path AND r.file_row_number = d.pos"
            )
        # union_by_name: files written before a column-add evolution lack
        # the newer extracted columns; name-based unification serves NULL
        # for them (same rule our declared-schema reads apply)
        return (
            f"CREATE OR REPLACE VIEW {view} AS "
            f"SELECT * FROM read_parquet([{file_list}], "
            f"hive_partitioning = true, union_by_name = true)"
        )

    def plan_latest_files(
        self,
        n: int,
        version: int | None = None,
        topic: str | None = None,
        partition: int | None = None,
    ) -> list[dict]:
        """Scan planning for "latest n rows by timestamp": the smallest
        stats-provable file set containing the top-n — the §7 'reverse
        partition-ordered scan' realized as manifest planning. Greedily
        take files by descending max_ts until ≥ n rows are covered, then
        include every file whose max_ts reaches back to the taken set's
        min_ts (rows between those bounds could outrank taken rows).
        With the hour-sorted layout each file's [min_ts, max_ts] is about
        one hour wide, so a latest-100 over 10⁶ files plans 1-2 files —
        O(metadata) on the driver, no data touched.

        ``topic``/``partition`` make the plan safe under an equality
        filter: candidates are files whose bounds ADMIT the value (or
        that lack bounds), and a file's row_count proves coverage toward
        the top-n only when its bounds pin every row to the value
        (min == max == value). An idle topic/partition whose newest rows
        live outside the globally-newest files is therefore still
        planned correctly — the defect class a post-hoc filter over a
        global latest-n plan would hit.  If no provable cover is found,
        every candidate is returned (still filter-pruned, never wrong)."""

        def _pins(e: dict, lo_key: str, hi_key: str, value) -> bool:
            return e.get(lo_key) == value and e.get(hi_key) == value

        files = self.scan_files(version=version, topic=topic, partition=partition)
        with_ts = [f for f in files if "max_ts" in f]

        def _provable_rows(e: dict) -> int:
            if topic is not None and not _pins(e, "min_topic", "max_topic", topic):
                return 0
            if partition is not None and not _pins(e, "min_part", "max_part", partition):
                return 0
            return e.get("row_count", 0)

        taken: list[dict] = []
        acc = 0
        for f in sorted(with_ts, key=lambda e: -e["max_ts"]):
            taken.append(f)
            acc += _provable_rows(f)
            if acc >= n:
                break
        if not taken or acc < n:
            # no stats-provable top-n cover exists (mixed files, or fewer
            # matching rows than n) — scan every candidate
            return files
        theta = min(f.get("min_ts", f["max_ts"]) for f in taken)
        # files without ts stats are never skippable: _entry_admits keeps them
        return [f for f in files if _entry_admits(f, [("timestamp_ms", ">=", theta)])]

    def scan_latest(
        self,
        n: int,
        version: int | None = None,
        topic: str | None = None,
        partition: int | None = None,
    ) -> DataFrame:
        """A scan restricted to :meth:`plan_latest_files`'s file set — the
        input for a latest-n top-k (the caller applies orderBy/limit, which
        compiles to TakeOrderedAndProject over just these files). The
        caller still applies its own topic/partition filter — here they
        only prune the planned file set."""
        files = [
            e["file_path"]
            for e in self.plan_latest_files(n, version=version, topic=topic, partition=partition)
        ]
        df = self._read_file_list(files)
        if files:
            # merge-on-read: the planned files may hold tombstoned rows
            # (the row-count planning over-covers, never under-covers)
            df = _apply_position_deletes(
                df,
                self._active_delete_files(
                    self.latest_version() if version is None else version
                ),
            )
        return df

    # --------------------------------------------------------------- write
    def _target_records_per_file(self, target_file_bytes: int) -> int | None:
        """T3 byte-target file sizing (flusher/mod.rs:362-390, the
        ``write.target-file-size-bytes`` analogue): convert the byte
        target into a row cap using the table's OWN observed bytes/row
        from manifest stats — no sampling job, no guess. None until the
        table has history (a first append takes the layout as-is;
        compaction fixes any small-file debris it leaves)."""
        latest = self.latest_version()
        if latest is None:
            return None
        files = self._active_files(latest)
        rows = sum(e.get("row_count", 0) for e in files)
        size = sum(e.get("file_size_bytes", 0) for e in files)
        if rows == 0 or size == 0:
            return None
        avg_row_bytes = max(size / rows, 1.0)
        return max(int(target_file_bytes / avg_row_bytes), 1000)

    def _staging_dir(self, op: str) -> str:
        """A fresh staging tree for write operation ``op`` (one of
        ``STAGING_PREFIXES``) under the table root."""
        prefix = f".{op}-"
        assert prefix in STAGING_PREFIXES, op
        return os.path.join(self.path, prefix + uuid.uuid4().hex)

    def _rewrite_shape(self, inputs: list[dict]) -> dict:
        """The :meth:`_stage_and_move` routing inputs of a rewrite
        (compact, copy-on-write delete) from its input manifest entries:
        one task per storage dir up to the session's parallelism (each
        dir hashes to ONE shuffle partition; measured 720 single-dir
        tasks ≈ 9s vs defaultParallelism tasks ≈ 2s), no bloom filter
        when footer stats prove every key null (720 filters for zero
        keys were ~1s of compact time; otherwise the output keeps the key
        bloom that key-equality / ``IN`` deletes read) and the largest
        dir's rows."""
        rows_by_dir: dict[str, int] = {}
        for f in inputs:
            d = os.path.dirname(f["file_path"])
            rows_by_dir[d] = rows_by_dir.get(d, 0) + f.get("row_count", 0)
        unkeyed = all("key_nulls" in f for f in inputs) and sum(
            f["key_nulls"] for f in inputs
        ) == sum(rows_by_dir.values())
        return {
            "tasks": max(min(len(rows_by_dir), self.spark.sparkContext.defaultParallelism), 1),
            "key_ndv": 0 if unkeyed else self._target_records_per_file(128 * 1024 * 1024),
            "rows_per_dir": max(rows_by_dir.values(), default=0) or None,
        }

    def _stage_and_move(
        self,
        events: DataFrame,
        staging: str,
        *,
        tasks: int | None = None,
        key_ndv: int | None = None,
        rows_per_dir: int | None = None,
        cap: int | None = None,
        order=("timestamp_ms", "sequence"),
        prefix: str = "",
    ) -> list[dict]:
        """The one staged write of append, compact and copy-on-write
        delete: shuffle ``events`` once on the storage key into ``tasks``
        tasks (default: the session's parallelism), sort each task
        partition-columns-first and then by ``order``, write the hive
        layout into ``staging``, move every parquet file into the data
        tree under a fresh ``prefix``-ed unique name and remove the
        staging tree. Returns the manifest entries (with footer stats)
        of the moved files.

        ``key_ndv`` is the per-file idempotency-key NDV estimate that
        sizes the bloom filter (0 = unkeyed output → no bloom at all).
        ``rows_per_dir`` is the estimated rows per (event_date,
        event_hour) dir: below 100k the output is thin (a wide-time-range
        backfill at small scale), where the parquet writer's default
        128 MB row-group buffer is pure per-file allocation overhead, so
        it drops to a 4 MB block size (measured ~10% off a 720-file
        append). ``cap`` rolls a file over at that many rows.

        Many-small-files fast path (the 25k ev/s gap, VERDICT r6 #3):
        parquet-mr pays ~3.5ms of writer setup/teardown PER FILE, so a
        wide-time-range batch fanning into hundreds of hour dirs spends
        ~2.6s of a 4.1s append purely opening and closing files (the
        shuffle+sort is 0.3s; codec and dictionary immaterial). The
        Arrow writer's per-file cost is ~10× lower (measured: 720-dir
        batch 3.0s JVM → 1.2s Arrow). Scope: UNKEYED output only
        (``key_ndv == 0`` ⇒ no bloom filter — pyarrow 16 cannot write
        parquet blooms) in the thin regime; everything else keeps the JVM
        vectorized writer, where big-file setup amortizes to zero. Every
        table schema is flat primitives (the system columns plus the
        extraction type map: long/string/int/binary/date/double/boolean),
        which parquet-mr and pyarrow encode alike, so the route needs no
        schema gate.

        The move happens BEFORE the snapshot commit; a crash mid-move
        leaves some files in the data tree but referenced by no snapshot —
        invisible to read() and reclaimed by remove_orphans()."""
        # the sort must LEAD with the partition columns: the planned
        # write requires child ordering to start with them and otherwise
        # inserts its own Sort(event_date, event_hour), silently
        # replacing the (timestamp_ms, sequence) within-file order that
        # row-group min/max skipping depends on (found in round 6 by
        # reading the written footers back — the files were unsorted)
        shaped = events.repartition(
            tasks or self.spark.sparkContext.defaultParallelism, "event_date", "event_hour"
        ).sortWithinPartitions("event_date", "event_hour", *order)
        thin = rows_per_dir is not None and rows_per_dir < 100_000
        stats = None
        if key_ndv == 0 and thin:
            stats = self._stage_arrow(shaped, staging, cap)
        else:
            writer = self._bloom_options(
                shaped.write.mode("overwrite").partitionBy("event_date", "event_hour"),
                expected_ndv=key_ndv,
            )
            if thin:
                writer = writer.option("parquet.block.size", str(4 * 1024 * 1024))
            if cap is not None:
                # a single hot hour inside one task would otherwise become
                # ONE arbitrarily large file; maxRecordsPerFile rolls the
                # writer over at the row cap
                writer = writer.option("maxRecordsPerFile", cap)
            writer.parquet(staging)
        moved = self._move_staged_in(staging, prefix=prefix, stats=stats)
        self._rmtree(staging)
        return moved

    def _stage_arrow(
        self, shaped: DataFrame, staging: str, cap: int | None
    ) -> dict[str, dict]:
        """Write ``shaped`` (already repartitioned on the storage key and
        sorted partition-cols-first) into ``staging`` as the SAME hive
        layout the JVM writer produces, via one pyarrow file per
        (event_date, event_hour) group per task. Input order within each
        group is preserved, so files stay (timestamp_ms, sequence)-sorted
        — pinned by test_ingest.py's footer-reading sort test against
        this path.

        Arrow END-TO-END (``mapInArrow``), deliberately never pandas: the
        arrow→pandas conversion turns an int64 column containing any null
        into float64, silently rounding values above 2^53 — a nullable
        extracted bigint (snowflake-style id) would come back altered.
        RecordBatches keep exact types and null bitmaps throughout.

        Because the input is sorted with the partition columns leading,
        each task's (event_date, event_hour) groups are CONTIGUOUS runs —
        group boundaries are found by one vector compare on the combined
        key and every group is a zero-copy table slice.

        Returns the manifest entry of every file written, keyed by
        staging-relative path: each task runs :func:`_parquet_file_entry`
        on the files it just wrote (a footer read per file, spread over
        the tasks instead of a driver-side pass). :meth:`_move_staged_in`
        promotes ONLY the files this successful job reported, so a
        retried/speculative task's leftover staging files (Spark discards
        failed attempts' OUTPUT but not their side effects) can never be
        committed as duplicate rows."""
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import StructType

        data_fields = [
            f for f in self.table_schema().fields
            if f.name not in ("event_date", "event_hour")
        ]
        arrow_schema = to_arrow_schema(StructType(data_fields))
        data_cols = [f.name for f in data_fields]
        file_cap = cap

        def _write_batches(batches):
            import uuid as _uuid

            import numpy as np
            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            blist = list(batches)
            out_rows = []
            if blist:
                tbl = pa.Table.from_batches(blist)
                if tbl.num_rows:
                    days = pc.cast(
                        pc.cast(tbl.column("event_date"), pa.int32()), pa.int64()
                    )
                    hours = pc.cast(tbl.column("event_hour"), pa.int64())
                    key = pc.add(
                        pc.multiply(days, pa.scalar(24, pa.int64())), hours
                    ).combine_chunks()
                    karr = key.to_numpy(zero_copy_only=False)
                    bounds = (
                        [0]
                        + (np.nonzero(karr[1:] != karr[:-1])[0] + 1).tolist()
                        + [len(karr)]
                    )
                    for st, en in zip(bounds[:-1], bounds[1:]):
                        grp = tbl.slice(st, en - st)
                        d = grp.column("event_date")[0].as_py()
                        h = int(grp.column("event_hour")[0].as_py())
                        rel_dir = os.path.join(
                            f"event_date={d.isoformat()}", f"event_hour={h}"
                        )
                        dest = os.path.join(staging, rel_dir)
                        os.makedirs(dest, exist_ok=True)
                        body = grp.select(data_cols).cast(arrow_schema)
                        step = file_cap or body.num_rows or 1
                        for i in range(0, body.num_rows, step):
                            sl = body.slice(i, step)
                            fname = f"part-{_uuid.uuid4().hex}.parquet"
                            fp = os.path.join(dest, fname)
                            # NaN-carrying double columns get NO footer
                            # stats: parquet-cpp would write min/max that
                            # ignore NaN, and Spark's JVM parquet scan
                            # row-group-prunes on them — returning WRONG
                            # rows for `x > huge` (Spark orders NaN above
                            # +inf; verified empirically, r15). parquet-mr
                            # drops such stats itself; match it.
                            nan_cols = {
                                f.name
                                for f in sl.schema
                                if pa.types.is_floating(f.type)
                                and pc.any(pc.is_nan(sl.column(f.name))).as_py()
                            }
                            pq.write_table(
                                sl,
                                fp,
                                compression="zstd",
                                write_statistics=(
                                    True
                                    if not nan_cols
                                    else [
                                        c for c in sl.schema.names if c not in nan_cols
                                    ]
                                ),
                            )
                            out_rows.append(
                                {
                                    "rel": os.path.join(rel_dir, fname),
                                    "entry": json.dumps(_parquet_file_entry(fp, staging)),
                                }
                            )
            yield pa.RecordBatch.from_pylist(
                out_rows, schema=pa.schema([("rel", pa.string()), ("entry", pa.string())])
            )

        rows = shaped.mapInArrow(_write_batches, "rel string, entry string").collect()
        return {r["rel"]: json.loads(r["entry"]) for r in rows}

    @staticmethod
    def _bloom_options(writer, expected_ndv: int | None = None):
        """X5 analogue (the reference keeps an in-memory bloom per
        partition, rocksdb.rs:39-88): a parquet bloom filter on
        idempotency_key. Its reader is a key-equality or ``IN`` predicate
        — ``delete_where`` and HTTP ``/delete`` with ``idempotency_keys``
        — which skips row groups that cannot hold a key. The
        dedup-history anti-join never reads it: that scan's pushed
        filters are not-null checks and at most a topic equality, never a
        key value, so parquet has nothing to test against the bloom.

        ``expected.ndv`` matters for WRITE speed, not just sizing: without
        it the parquet writer maintains a ladder of candidate bloom
        filters per column chunk and inserts into all of them — measured
        2-3× total write time on a many-small-file batch. With the hint it
        allocates one right-sized filter. ``expected_ndv == 0`` means the
        batch carries no idempotency keys at all — skip the bloom
        entirely (measured 6.0s → 4.7s on a 100k-row unkeyed append whose
        720 hour-files each paid a 1M-NDV filter for zero keys)."""
        if expected_ndv == 0:
            return writer
        ndv = expected_ndv if expected_ndv is not None else 1_000_000
        return (
            writer.option("parquet.bloom.filter.enabled#idempotency_key", "true")
            .option("parquet.bloom.filter.expected.ndv#idempotency_key", str(ndv))
            .option("parquet.bloom.filter.max.bytes", str(1024 * 1024))
        )

    def _move_staged_in(
        self, staging: str, prefix: str, stats: dict[str, dict] | None = None
    ) -> list[dict]:
        """Move every staged parquet into the data tree under a fresh
        unique name and return their manifest entries.

        ``stats`` (from :meth:`_stage_arrow`) holds the entries the
        writing tasks built, keyed by staging-relative path: only those
        files are promoted, each entry re-pointed at its destination.
        Without it (JVM-written staging) each moved file's footer is read
        by :func:`_parquet_file_entry`."""
        plan: list[tuple[str, str, str]] = []
        for dirpath, _dirs, files in os.walk(staging):
            rel = os.path.relpath(dirpath, staging)
            for nf in files:
                if not nf.endswith(".parquet"):
                    continue
                rel_src = os.path.join(rel, nf)
                if stats is not None and rel_src not in stats:
                    # Arrow staging bypasses the Hadoop task committer, so
                    # a retried/speculative task's partial files survive in
                    # staging. Spark discarded that attempt's OUTPUT, so
                    # its files are absent from `stats` — promoting them
                    # would commit the same rows twice. They die with the
                    # staging rmtree.
                    continue
                dest_dir = os.path.join(self.data_path, rel)
                os.makedirs(dest_dir, exist_ok=True)
                plan.append(
                    (
                        os.path.join(dirpath, nf),
                        os.path.join(dest_dir, f"{prefix}{uuid.uuid4().hex}.parquet"),
                        rel_src,
                    )
                )

        def _move(src_dest: tuple[str, str, str]) -> dict:
            src, dest, rel_src = src_dest
            self.backend.promote(src, dest)
            if stats is not None:
                return {**stats[rel_src], "file_path": dest}
            return _parquet_file_entry(dest, self.data_path)

        # Thread pool ONLY for the footer-stat route (stats is None):
        # there each entry re-opens a parquet footer — real I/O that
        # overlaps (measured 720 files: ~2s serial → ~0.3s at 16
        # threads). With task-built entries the per-file work is just
        # link+unlink, and concurrent renames in sibling dirs CONTEND in
        # the kernel on the target filesystem (720 moves: 7 ms serial vs
        # 135 ms at 16 threads) — stay serial.
        if stats is None and len(plan) > 4:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=16) as pool:
                return list(pool.map(_move, plan))
        return [_move(p) for p in plan]

    @staticmethod
    def _rmtree(root: str) -> list[str]:
        """Remove the tree ``root``; returns the files removed."""
        # deliberately serial: a threaded first-level fan-out (16 workers
        # over the 30 date dirs) measured 800 ms vs 165 ms for this walk
        # on the target filesystem — concurrent unlink/rmdir in sibling
        # directories contends in the kernel here, it doesn't overlap
        gone = []
        for dirpath, _dirs, files in os.walk(root, topdown=False):
            for f in files:
                gone.append(os.path.join(dirpath, f))
                os.remove(gone[-1])
            os.rmdir(dirpath)
        return gone

    def append(
        self,
        events: DataFrame,
        target_file_bytes: int = 128 * 1024 * 1024,
        expected_watermarks: dict[str, int] | None = None,
        stream_commit: tuple[str, int] | None = None,
    ) -> dict:
        """Append canonical event rows; returns the committed snapshot.

        Physical layout = zombi's flusher output: one shuffle on the storage
        partition key (A7/T4 hour grouping, flusher/mod.rs:398-437), sorted
        runs within files (O1), Zstd Parquet (X12), hive dirs (X1), files
        capped near ``target_file_bytes`` (T3, flusher/mod.rs:362-390) via
        a row cap derived from the table's observed bytes/row.

        The snapshot records exactly the files THIS append staged and moved
        — never a directory listing — so parquet left by a crashed append
        is not adopted (the exactly-once contract for keyed events,
        SPEC.md:752, survives retries).
        """
        t_start = time.perf_counter()
        if self.extracted_fields():
            # schema-on-write extraction (§1.3): typed columns out of the
            # payload, remainder to _payload_overflow, payload dropped.
            # Input batches still arrive in the canonical system shape.
            from zombi_spark.ingest.extraction import (
                FieldSpec,
                TableSchemaConfig,
                extract_payload,
            )

            cfg = TableSchemaConfig(
                payload_format="json",
                fields=[FieldSpec(**f) for f in self.extracted_fields()],
            )
            events = extract_payload(events.select(*[f.name for f in EVENT_SCHEMA.fields]), cfg)
        cols = [f.name for f in self.table_schema().fields]
        # cache: the batch is consumed twice (write + watermark aggregate);
        # without it the whole prepare_events lineage (two window shuffles)
        # would recompute for the tiny watermark frame
        events = events.select(*cols).persist()
        try:
            return self._append_prepared(
                events, expected_watermarks, target_file_bytes, stream_commit, t_start
            )
        finally:
            # without the finally, a failed stats job or staged write
            # leaks the cached plan — and a flapping streaming batch
            # persists a fresh copy per retry until storage memory dies
            events.unpersist()

    def _append_prepared(
        self, events, expected_watermarks, target_file_bytes, stream_commit, t_start
    ):
        """The post-prepare half of :meth:`append` (runs under the
        caller's persist + try/finally unpersist)."""
        # collision-guard baseline: the watermarks the SEQUENCES WERE
        # SEEDED FROM. A caller that read watermark_map() to prepare the
        # batch must pass that same map as expected_watermarks — a
        # concurrent commit landing between the caller's read and this
        # point would otherwise be invisible to the guard (both sides of
        # the comparison would reflect it) and colliding sequences would
        # commit undetected. Without the hint, baseline at append start —
        # correct for callers that seed sequences inside this call's
        # lineage (prepare_events run on the spot).
        if expected_watermarks is not None:
            base_wm: dict[str, int] = dict(expected_watermarks)
        else:
            base = self.latest_snapshot()
            base_wm = dict(base.get("watermarks", {})) if base else {}
        # ONE stats job before the write does double duty (it also
        # materializes the cache the write then reads from):
        #  - per-(topic, partition) high watermarks — the tiny frame the
        #    snapshot summary carries forward (iceberg_storage.rs:285-300);
        #    never a re-scan of the whole table
        #  - idempotency-key + storage-partition NDV estimates (HLL — no
        #    Expand, unlike countDistinct) that size the per-file bloom to
        #    the batch's REAL key density; an unkeyed batch skips the bloom
        #    entirely — the write-time CBO the reference gets from its
        #    in-memory per-partition bloom (rocksdb.rs:39-88)
        pstats = (
            events.groupBy("topic", "partition")
            .agg(
                F.max("sequence").alias("hwm"),
                F.count(F.lit(1)).alias("n_rows"),
                F.approx_count_distinct("idempotency_key").alias("kndv"),
                F.approx_count_distinct(F.struct("event_date", "event_hour")).alias("nparts"),
            )
            .collect()
        )
        for r in pstats:
            if r["topic"] is None or r["partition"] is None:
                # refuse BEFORE anything commits: a null system column
                # would mint the unparseable summary key
                # 'zombi.watermark.None/None' and poison every later
                # watermark_map() read on this table
                raise ValueError(
                    "append: rows with NULL topic/partition "
                    f"(topic={r['topic']!r}, partition={r['partition']!r}) — "
                    "system columns must be non-null; the streaming reader "
                    "defaults them, direct callers must too"
                )
        batch_wm = {
            f"zombi.watermark.{r['topic']}/{r['partition']}": r["hwm"] for r in pstats
        }
        kndv_total = sum(r["kndv"] for r in pstats)
        n_storage_parts = max((r["nparts"] for r in pstats), default=1)
        key_ndv = (
            0
            if kndv_total == 0
            else max(1024, 2 * kndv_total // max(n_storage_parts, 1))
        )
        n_rows_total = sum(r["n_rows"] for r in pstats)
        # Size the write exchange to the BATCH, capped at the session's
        # parallelism: with bare repartition(cols), AQE coalesces a small
        # batch's shuffle to ~1 partition and ONE task then writes every
        # hour directory serially (measured 11s for 744 dirs at sf0.1; ~32
        # tasks cut it to ~2s), while one task per core launches one write
        # task (and one Python worker, on the Arrow route) per core for a
        # tiny batch. One task per ~20k rows floors a hot-hour batch's
        # writer parallelism; parts_est (Σ per-producer storage-part NDV —
        # an overestimate when producers share hours, which only errs
        # toward more tasks) keeps a wide-time-range backfill fanned out.
        # Each hour hashes to exactly one task at ANY count, so files per
        # dir and file contents are identical — only the task count moves.
        parts_est = sum(r["nparts"] for r in pstats)
        added = self._stage_and_move(
            events,
            self._staging_dir("append"),
            tasks=min(
                self.spark.sparkContext.defaultParallelism,
                max(parts_est, -(-n_rows_total // 20_000), 1),
            ),
            key_ndv=key_ndv,
            rows_per_dir=n_rows_total // max(n_storage_parts, 1),
            cap=self._target_records_per_file(target_file_bytes),
        )
        # Commit with bounded optimistic retry (the reference serializes
        # flush commits per topic with a mutex, iceberg_storage.rs:360-374;
        # optimistic rebase is the lock-free equivalent). Rebasing is only
        # SOUND when no concurrent commit advanced the same producer
        # partitions — otherwise both writers assigned overlapping
        # sequences from the same base and retrying would commit the
        # violation (INV-1), so that case raises instead.
        for _attempt in range(5):
            prior = self.latest_snapshot()
            wm = dict(prior.get("watermarks", {})) if prior else {}
            # foreachBatch transactional-sink record: (stream identity →
            # last committed micro-batch id), merged over the parent's
            # map so multiple streams into one table don't clobber each
            # other — the replay guard that makes UNKEYED events
            # exactly-once across batch retries (keyed events already
            # are, via the idempotency anti-join)
            streams = dict(prior.get("streams", {})) if prior else {}
            if stream_commit is not None:
                streams[stream_commit[0]] = {
                    "batch": int(stream_commit[1]),
                    "at_ms": int(time.time() * 1000),
                }
            # bound the map: a recreated checkpoint mints a fresh key and
            # orphans the old one forever — prune guards idle past 7 days
            # (replays happen immediately after crashes; a week is far
            # beyond any replay horizon, and losing an ancient guard only
            # degrades that stream to at-least-once, never loses data)
            cutoff = int(time.time() * 1000) - 7 * 24 * 3600 * 1000
            streams = {
                k: v
                for k, v in streams.items()
                if not (isinstance(v, dict) and v.get("at_ms", 0) < cutoff)
            }
            for key, hwm in batch_wm.items():
                if wm.get(key, 0) != base_wm.get(key, 0):
                    raise CommitConflictError(
                        f"concurrent append advanced {key} (planned from "
                        f"{base_wm.get(key, 0)}, now {wm.get(key, 0)}): assigned "
                        "sequences would collide — re-prepare the batch"
                    )
                wm[key] = max(wm.get(key, 0), hwm)
            try:
                return self._commit_snapshot(
                    {
                        "operation": "append",
                        "watermarks": wm,
                        "streams": streams,
                        "added_rows": sum(e.get("row_count", 0) for e in added),
                        # end-to-end append latency (stage+move+stats+commit)
                        # — the per-batch sample the M6 ingest-metrics
                        # rollup aggregates (metrics/registry.rs histogram)
                        "append_duration_ms": int((time.perf_counter() - t_start) * 1000),
                    },
                    added=added,
                    expected_parent=None if prior is None else prior["version"],
                )
            except CommitConflictError:
                continue  # disjoint-partition race: rebase and retry
        raise CommitConflictError("append could not commit after 5 rebases")

    # ---------------------------------------------------------------- read
    def _read_file_list(self, files: list[str]) -> DataFrame:
        """Read an explicit manifest-derived file list. Passing more
        paths than ``spark.sql.sources.parallelPartitionDiscovery.
        threshold`` (default 32) makes Spark launch a one-task-PER-PATH
        listing job before any data is touched — for a 1440-file
        compaction that is 1440 ~4 ms no-op tasks (~5 s of pure
        scheduling) to stat files whose sizes the manifest already
        carries. Raising the threshold for the duration of plan
        construction lets the driver stat the paths directly (trivial on
        a local filesystem; on object storage at cluster scale, leave
        the threshold alone and tune ``...parallelPartitionDiscovery.
        parallelism`` instead — this override only widens the
        driver-side path, it never narrows it below Spark's default)."""
        if not files:
            return self.spark.createDataFrame([], self.table_schema())
        with _discovery_threshold(self.spark, len(files)):
            return (
                self.spark.read.schema(self.table_schema())
                .option("basePath", self.data_path)
                .parquet(*files)
            )

    def read(
        self,
        version: int | None = None,
        ts_min: int | None = None,
        ts_max: int | None = None,
        topic: str | None = None,
        partition: int | None = None,
    ) -> DataFrame:
        """Scan the table (partition-pruned + stats-skipped by Catalyst).

        ``version`` reads the table AS OF that snapshot (time travel): the
        scan is restricted to the snapshot's recorded file set —
        reconstructed from manifest deltas — with partition columns still
        derived from the directory layout via basePath. Works across
        compaction: old snapshots keep referencing the pre-compact files,
        which stay on disk until :meth:`expire_snapshots` +
        :meth:`remove_orphans` reclaim them.

        ``ts_min``/``ts_max``/``topic``/``partition`` additionally prune
        the file list by the manifest's recorded bounds BEFORE Spark
        opens a footer (:meth:`scan_files` — Iceberg scan planning); the
        rows-level predicate is still the caller's job (file bounds
        admit a value; only the rows prove it).
        """
        latest = self.latest_version()
        if version is None:
            if latest is None:
                # pre-snapshot table (no log yet): directory scan
                if not os.path.isdir(self.data_path):
                    return self.spark.createDataFrame([], self.table_schema())
                return (
                    self.spark.read.schema(self.table_schema())
                    .option("basePath", self.data_path)
                    .parquet(self.data_path)
                )
            version = latest
        if latest is None or not 0 <= version <= latest:
            have = "none" if latest is None else f"0..{latest}"
            raise ValueError(f"no snapshot version {version}; have {have}")
        files = [
            e["file_path"]
            for e in self.scan_files(
                version=version,
                ts_min=ts_min,
                ts_max=ts_max,
                topic=topic,
                partition=partition,
            )
        ]
        df = self._read_file_list(files)
        if files:
            df = _apply_position_deletes(
                df, self._active_delete_files(version)
            )
        return df

    def added_files(self, from_version: int | None, to_version: int | None = None) -> list[dict]:
        """Manifest entries of files carrying data APPENDED in versions
        ``(from_version, to_version]`` (``from_version=None`` = since table
        creation). Only ``append`` snapshots contribute: compaction rewrites
        existing rows into new files, so counting its outputs would
        double-deliver — the same rule Iceberg's incremental scan applies
        (append snapshots only). O(snapshots in range) metadata reads."""
        latest = self.latest_version()
        if to_version is None:
            to_version = latest
        if to_version is None or (from_version is not None and from_version >= to_version):
            return []
        if latest is None or not 0 <= to_version <= latest:
            raise ValueError(f"no snapshot version {to_version}; have 0..{latest}")
        out: list[dict] = []
        start = 0 if from_version is None else from_version + 1
        for v in range(start, to_version + 1):
            try:
                snap = self._read_snapshot(f"snap-{v:08d}.json")
            except FileNotFoundError:
                # the consumer's lag outran the retention window — say so
                # (the raw FileNotFoundError reads like corruption)
                raise ValueError(
                    f"snapshot {v} has been expired (expire_snapshots); this "
                    "consumer lags past the retention window — size keep_last "
                    "to exceed the slowest consumer's lag, or restart the "
                    "consumer from a live offset"
                ) from None
            if snap.get("operation") == "append":
                out.extend(self._norm_entry(e) for e in snap.get("added", []))
        return out

    def changed_partitions(self, since_version: int | None) -> set[str]:
        """Storage partition dirs whose FILE SET changed in versions
        ``(since_version, latest]`` — the dirty set for incremental
        maintenance (scheduled re-clustering rewrites only these instead
        of ``rewrite_all``). Unlike :meth:`added_files`, EVERY operation
        counts: an append dirties its dirs with new data, and a binpack
        compact dirties its dirs by re-sorting them out of any clustered
        layout — both need re-clustering. O(snapshots in range) metadata
        reads, no data files opened."""
        import re as _re

        latest = self.latest_version()
        if latest is None:
            return set()
        start = 0 if since_version is None else since_version + 1
        out: set[str] = set()
        for v in range(start, latest + 1):
            try:
                snap = self._read_snapshot(f"snap-{v:08d}.json")
            except FileNotFoundError:
                # the range predates the retention window (snapshot
                # expired): the delta is unknowable — every active dir
                # is conservatively dirty (a full rewrite is correct,
                # never wrong, just bigger)
                return {f["partition_dir"] for f in self.files()}
            for e in snap.get("added", []):
                e = self._norm_entry(e)
                d = e.get("partition_dir")
                if not d:
                    # legacy bare-path entries: derive from the hive layout
                    m = _re.search(
                        r"(event_date=[^/]+/event_hour=[^/]+)", e.get("file_path", "")
                    )
                    d = m.group(1) if m else ""
                out.add(d)
        out.discard("")
        return out

    def read_changes(self, from_version: int | None, to_version: int | None = None) -> DataFrame:
        """Incremental read: rows appended in ``(from_version, to_version]``
        — the Iceberg changelog/incremental-scan analogue. A downstream
        pipeline that checkpoints the last version it processed re-reads
        ONLY the new files, never the table (at 100 TB: the day's appends,
        not the history). Files stay readable across compaction because
        physical deletion is deferred to snapshot expiration.

        Append-only by contract (Iceberg's incremental scan rule):
        merge-on-read position deletes do NOT retro-apply here — a
        consumer that already processed a later-deleted row keeps its
        copy, exactly as with copy-on-write deletes."""
        files = [e["file_path"] for e in self.added_files(from_version, to_version)]
        return self._read_file_list(files)

    def export_json(self, out_dir: str) -> None:
        """S6 legacy JSON segment sink (s3.rs:136-185): dump the committed
        table as JSON-lines segments. Kept for parity; parquet is the
        standard format."""
        self.read().write.mode("overwrite").json(out_dir)

    def create_view(self, view_name: str | None = None) -> str:
        """Register the table as a temp view for spark.sql (S13-lite: the
        catalog surface an external engine would see)."""
        name = view_name or self.name.replace("-", "_")
        self.read().createOrReplaceTempView(name)
        return name

    def last_stream_batch(self, stream_id: str) -> int | None:
        """Last micro-batch id this stream identity committed (None =
        never) — read from the latest snapshot summary, zero data files.
        The replay guard of the foreachBatch transactional-sink pattern:
        a restarted stream re-runs its last planned batch, and skipping
        batch ids ≤ this value makes the re-run a no-op instead of a
        duplicate append of unkeyed events."""
        snap = self.latest_snapshot()
        if not snap:
            return None
        val = snap.get("streams", {}).get(stream_id)
        if val is None:
            return None
        # entries are {"batch": id, "at_ms": ...}; bare ints accepted for
        # forward-compat with hand-written summaries
        return int(val["batch"]) if isinstance(val, dict) else int(val)

    def watermark_map(self) -> dict[tuple[str, int], int]:
        """Committed high watermarks per (topic, partition), straight from
        the latest snapshot summary — ZERO data files read. This is the
        write path's sequence base (A4 committed recovery,
        iceberg_storage.rs:1602-1652)."""
        snap = self.latest_snapshot()
        out: dict[tuple[str, int], int] = {}
        if snap:
            for key, hwm in snap.get("watermarks", {}).items():
                topic, _, part = key.removeprefix("zombi.watermark.").rpartition("/")
                out[(topic, int(part))] = hwm
        return out

    def idempotency_history(self, retention_hours: int | None = None) -> DataFrame:
        """The dedup probe set: (topic, partition, idempotency_key) only —
        columns pruned at the scan — restricted to files whose recorded
        max_ts falls inside the retention window (snapshot-level file
        pruning; the reference deletes idem keys past retention,
        rocksdb.rs:1150-1237, so a bounded probe matches its contract).

        The window anchors on the table's max committed event time (not
        wall clock) so replays are deterministic."""
        # pin the snapshot ONCE for both the file scan and the delete set
        # (independent "latest" resolutions race a concurrent commit)
        version = self.latest_version()
        entries = self.scan_files(version=version)
        if not entries:
            return self.read().select("topic", "partition", "idempotency_key").limit(0)
        if retention_hours is not None:
            known = [e["max_ts"] for e in entries if "max_ts" in e]
            if known:
                cutoff = max(known) - retention_hours * 3_600_000
                entries = self.scan_files(ts_min=cutoff, version=version)
        files = [e["file_path"] for e in entries]
        probe = self._read_file_list(files)
        if files:
            # merge-on-read parity with copy-on-write: a taken-down row's
            # key leaves the idempotency history in both modes
            probe = _apply_position_deletes(
                probe, self._active_delete_files(version)
            )
        return probe.select("topic", "partition", "idempotency_key")

    def high_watermarks(self) -> DataFrame:
        """A2: max committed sequence per (topic, partition)
        (rocksdb.rs:851-853; committed recovery iceberg_storage.rs:1602-1652)."""
        return self.read().groupBy("topic", "partition").agg(F.max("sequence").alias("high_watermark"))

    def low_watermarks(self) -> DataFrame:
        """A3: min surviving sequence per (topic, partition) (rocksdb.rs:855-884)."""
        return self.read().groupBy("topic", "partition").agg(F.min("sequence").alias("low_watermark"))

    def files(self) -> list[dict]:
        """ACTIVE data files with sizes (analogue of Iceberg ``t.files`` /
        S11) — the latest snapshot's manifest, not a directory walk, so
        uncommitted junk never appears (a table with no snapshot has no
        active file, whatever a crashed first append left on disk) and
        the call is O(manifest)."""
        latest = self.latest_version()
        if latest is None:
            return []
        return [
            {
                "file_path": e["file_path"],
                "partition_dir": e.get(
                    "partition_dir",
                    os.path.relpath(os.path.dirname(e["file_path"]), self.data_path),
                ),
                "file_size_bytes": e.get("file_size_bytes", os.path.getsize(e["file_path"])),
                **{
                    k: e[k]
                    for k in (
                        "row_count", "min_ts", "max_ts", "min_seq", "max_seq",
                        "min_topic", "max_topic", "min_part", "max_part",
                        "key_nulls",
                    )
                    if k in e
                },
            }
            for e in self._active_files(latest)
        ]

    def _walk_data_files(self) -> list[dict]:
        """Physical directory listing (orphan sweep, pending-file stats)."""
        out = []
        for dirpath, _dirs, files in os.walk(self.data_path):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    out.append(
                        {
                            "file_path": p,
                            "partition_dir": os.path.relpath(dirpath, self.data_path),
                            "file_size_bytes": os.path.getsize(p),
                        }
                    )
        return sorted(out, key=lambda d: d["file_path"])

    # --------------------------------------------------------- maintenance
    def _referenced_files(self) -> set[str]:
        """Every file referenced by ANY retained snapshot (base lists +
        added deltas) — the live set for orphan collection. A file removed
        by compaction stays live while any retained snapshot can still
        time-travel to it."""
        live: set[str] = set()
        for fname in self._snapshot_files():
            snap = self._read_snapshot(fname)
            # position-delete files are snapshot-referenced artifacts too
            for key in ("files", "added", "delete_files", "added_deletes"):
                live.update(self._norm_entry(e)["file_path"] for e in snap.get(key, []))
        return live

    def remove_orphans(self, older_than_s: float = 3600.0) -> list[str]:
        """M4: delete artifacts no retained snapshot references — crashed
        appends' moved-but-uncommitted parquet, the staging trees of every
        write operation (one declaration: ``STAGING_PREFIXES``),
        interrupted meta commits (``remove_orphan_files`` analogue,
        compaction.rs:350-364, iceberg_storage.rs:1587-1600). Files referenced by *any* retained
        snapshot are live (time travel), not just the latest.

        ``older_than_s`` is the grace window for concurrent writers: an
        in-flight append's moved-but-uncommitted parquet is unreferenced
        for the seconds between its move and its commit, and deleting it
        would corrupt that append's snapshot when it lands — the same
        hazard Iceberg's ``remove_orphan_files`` guards with its
        ``older_than`` cutoff (default 3 days there; 1 h here, sized to
        this engine's sub-minute append path). Pass 0 only when no other
        writer can be active."""
        removed: list[str] = []
        cutoff = time.time() - older_than_s

        def _expired(path: str) -> bool:
            try:
                return os.path.getmtime(path) <= cutoff
            except OSError:
                return False  # vanished underneath us — nothing to do

        # 1) data files referenced by no retained snapshot
        if self._snapshot_files():
            live = self._referenced_files()
            for f in self._walk_data_files():
                if f["file_path"] not in live and _expired(f["file_path"]):
                    os.remove(f["file_path"])
                    removed.append(f["file_path"])
        # 2) walk the table root: crashed stage-and-move trees
        #    ({path}/.append-*, .compact-*, .delete-*) and interrupted meta
        #    commits (.snap-*.json.tmp)
        for dirpath, dirs, files in os.walk(self.path, topdown=False):
            for d in list(dirs):
                if d.startswith(STAGING_PREFIXES) or d == "_temporary":
                    full = os.path.join(dirpath, d)
                    if _expired(full):
                        removed += self._rmtree(full)
            for f in files:
                # interrupted meta commits come in two shapes: dotted
                # (.snap-*.json.tmp, .ROLLUP.json.*.tmp) AND undotted
                # (table.json.tmp, extracted_fields.json.<hex>.tmp) — the
                # old dot-only match left the undotted ones forever
                if f.endswith(".tmp") and (
                    f.startswith((".", "table.json", "extracted_fields.json"))
                ):
                    full = os.path.join(dirpath, f)
                    if _expired(full):
                        os.remove(full)
                        removed.append(full)
        return removed

    def rewrite_manifests(self) -> str:
        """Iceberg ``rewrite_manifests``: merge the current snapshot's
        carry-forward Avro manifest list into one full manifest without
        touching data — manifest maintenance for append-only tables
        whose list would otherwise grow one manifest per commit between
        compactions. Metadata-only; the engine's snapshot log is
        untouched (Iceberg files are derived state here)."""
        if self.latest_version() is None:
            raise ValueError("no snapshot to rewrite manifests for")
        return iceberg_meta.rewrite_manifests(self)

    def expire_data_older_than(self, ts_ms: int) -> dict:
        """Cold-tier retention — the table-level sibling of the landing
        zone's T8 cleanup (the reference ages out whole hours with a
        ``delete_range ≤ watermark``, rocksdb.rs:1150-1237; the lakehouse
        equivalent is a partition-aligned DELETE): drop every data file
        whose NEWEST row is provably older than ``ts_ms``, as a
        METADATA-ONLY commit. No rewrite: the layout hour-splits and
        sorts, so age-outs align with whole files; a file straddling the
        cutoff (or missing timestamp stats) is KEPT — retention is
        file/hour-aligned, exactly the reference's hourly granularity,
        and correctness always beats reclamation. Dropped files stay on
        disk serving older snapshots (time travel) until
        :meth:`expire_snapshots` + :meth:`remove_orphans` reclaim them.
        Watermarks carry forward untouched — sequences stay monotonic
        across retention (INV-1 outlives the data)."""
        if self.latest_version() is None:
            return {"files_removed": 0, "rows_removed": 0, "version": None}
        keep = [("timestamp_ms", ">=", ts_ms)]
        for _attempt in range(5):
            expected = self.latest_version()
            # plan against the CURRENT parent each attempt: a concurrent
            # compact may have replaced some of the expired files
            doomed = [
                e for e in self._active_files(expected) if not _entry_admits(e, keep)
            ]
            if not doomed:
                return {"files_removed": 0, "rows_removed": 0, "version": expected}
            rows_removed = sum(e.get("row_count", 0) for e in doomed)
            try:
                snap = self._commit_rewrite(
                    {
                        "operation": "retention-delete",
                        "retention_cutoff_ms": ts_ms,
                        "files_removed": len(doomed),
                        "rows_removed": rows_removed,
                    },
                    planned=expected,
                    planned_deletes=self._active_delete_files(expected),
                    removed=[e["file_path"] for e in doomed],
                )
            except CommitConflictError:
                continue  # a racing commit took a doomed file: re-plan
            return {
                "files_removed": len(doomed),
                "rows_removed": rows_removed,
                "version": snap["version"],
            }
        raise CommitConflictError("retention delete could not commit after 5 rebases")

    def delete_where(
        self,
        predicate,
        *,
        ts_min: int | None = None,
        ts_max: int | None = None,
        topic: str | None = None,
        partition: int | None = None,
        mode: str = "copy-on-write",
    ) -> dict:
        """Row-level DELETE — the takedown/right-to-be-forgotten
        primitive the reference's hourly retention cannot express (its
        only deletes are whole-hour ``delete_range``s,
        rocksdb.rs:1150-1237). Semantics are SQL ``DELETE WHERE``: rows
        where ``predicate`` evaluates TRUE are removed; FALSE *and NULL*
        rows are kept. Two modes, Iceberg v2's exactly:

        ``mode="copy-on-write"`` (default) — two-phase find + rewrite:

        1. **Find** — candidate files come from :meth:`scan_files` with
           any caller-supplied bounds (metadata-only skipping), then ONE
           column-pruned Spark job counts matching LIVE rows per file
           (``_metadata.file_path``; rows tombstoned by earlier
           merge-on-read deletes neither count nor resurrect). The scan
           reads only the predicate's columns and parquet row-group
           stats / bloom filters prune inside each file. Files with zero
           matches are never rewritten — their manifest entries carry
           forward untouched.
        2. **Rewrite** — only the matched files are read full-width,
           surviving rows are staged sorted (same layout/bloom rules as
           append), moved in, and committed as one (added, removed)
           snapshot delta; position-delete files fully consumed by the
           rewrite are dropped from the manifest in the same commit.
           Crash order is compaction's (move → commit → defer physical
           delete): a crash before the commit leaves the table on the
           pre-delete snapshot with only unreferenced staging orphans
           (``remove_orphans`` reaps them).

        ``mode="merge-on-read"`` — the 100 TB cost model: instead of
        rewriting data files, the find phase's (data file, row index)
        pairs are written as ONE sorted position-delete parquet
        (Iceberg v2 position deletes: columns ``file_path``, ``pos``)
        and committed as a delete-file delta — O(matching rows), never
        O(rewritten bytes). Every read path anti-joins the active
        delete files (:func:`_apply_position_deletes`); compaction
        applies them and drops the consumed delete files, migrating
        merge-on-read deletes back to pure data files. Data-file paths
        are fresh UUIDs on every write, so a recorded position can
        never mis-apply to a later file.

        Concurrency (both modes) is :meth:`_commit_rewrite`'s one rule:
        a racing append is absorbed by rebasing the same delta once; a
        racing compact/retention that removed a file we rewrite or
        reference — or, for copy-on-write, a racing merge-on-read delete
        that tombstoned rows inside our inputs — raises
        :class:`CommitConflictError` and the caller re-plans. Old
        snapshots still serve the deleted rows (time travel) until
        ``expire_snapshots`` + ``remove_orphans``; a *guaranteed-erasure*
        workflow is delete_where → (compact for merge-on-read) →
        expire_snapshots → remove_orphans.

        ``predicate`` is a Column or a SQL string. Returns
        ``{"files_rewritten", "rows_removed", "version", "noop"?}``;
        merge-on-read adds ``files_referenced`` and ``delete_file``.
        """
        if mode not in ("copy-on-write", "merge-on-read"):
            raise ValueError(
                f"delete_where mode must be 'copy-on-write' or "
                f"'merge-on-read', got {mode!r}"
            )
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        hit = F.coalesce(pred, F.lit(False))  # NULL predicate = keep
        expected_parent = self.latest_version()
        noop = {"files_rewritten": 0, "rows_removed": 0, "version": expected_parent, "noop": True}
        if expected_parent is None:
            return noop
        candidates = {
            e["file_path"]: e
            for e in self.scan_files(
                version=expected_parent,
                ts_min=ts_min,
                ts_max=ts_max,
                topic=topic,
                partition=partition,
            )
        }
        if not candidates:
            return noop
        active_dels = self._active_delete_files(expected_parent)
        # phase 1: per-file match counts over LIVE rows (column-pruned
        # scan; stats and the idempotency-key bloom prune row groups
        # before decode; prior merge-on-read tombstones anti-joined out)
        hits = _position_delete_probe(
            self._read_file_list(sorted(candidates)), active_dels
        ).where(hit)
        if mode == "merge-on-read":
            # the same frame feeds the count AND the position write
            hits = hits.persist()
        counts = hits.groupBy("_zdel_file").count().collect()
        matched: dict[str, int] = {}
        for r in counts:
            path = r["_zdel_file"]
            if path not in candidates:
                # a counted file that doesn't map back into the candidate
                # set means URI normalization diverged (symlinked table
                # path, non-file scheme); silently skipping it would report
                # a takedown as noop while matching rows still exist
                raise RuntimeError(
                    f"delete_where: scanned file {path!r} is not in the "
                    "manifest candidate set — path normalization diverged; "
                    "refusing to under-delete"
                )
            matched[path] = r["count"]
        rows_removed = sum(matched.values())
        if not matched:
            # no row matched anywhere: like a no-op compact, do not mint
            # a snapshot for an empty delta
            if mode == "merge-on-read":
                hits.unpersist()
            return noop
        if mode == "merge-on-read":
            return self._commit_position_deletes(
                hits, sorted(matched), rows_removed, expected_parent, active_dels
            )
        # phase 2: rewrite ONLY the matched files without the doomed rows
        # (and without rows prior merge-on-read deletes already removed —
        # carrying them into the rewrite would resurrect them, since the
        # tombstones point at the OLD paths)
        inputs = [candidates[p] for p in matched]
        survivors = _apply_position_deletes(
            self._read_file_list(sorted(matched)), active_dels
        ).where(~hit)
        added = self._stage_and_move(
            survivors,
            self._staging_dir("delete"),
            prefix="deleted-",
            **self._rewrite_shape(inputs),
        )
        snap = self._commit_rewrite(
            {
                "operation": "row-delete",
                "files_rewritten": len(inputs),
                "rows_removed": rows_removed,
            },
            planned=expected_parent,
            planned_deletes=active_dels,
            added=added,
            removed=list(matched),
        )
        return {
            "files_rewritten": len(inputs),
            "rows_removed": rows_removed,
            "version": snap["version"],
        }

    def _commit_position_deletes(
        self,
        hits: DataFrame,
        referenced: list[str],
        rows_removed: int,
        expected_parent: int,
        active_dels: list[dict],
    ) -> dict:
        """Merge-on-read commit half of :meth:`delete_where`: write the
        matched (file, pos) pairs as one sorted Iceberg-v2-shaped
        position-delete parquet under ``data/_deletes/`` (the leading
        underscore keeps directory-globbing engines from reading it as
        data; our own planners read explicit manifest lists) and commit
        it as an ``added_deletes`` delta through :meth:`_commit_rewrite`
        — no data file is touched."""
        staging = self._staging_dir("delete")
        try:
            (
                hits.select(
                    F.col("_zdel_file").alias("file_path"),
                    F.col("_zdel_pos").alias("pos"),
                )
                .repartition(1)
                .sortWithinPartitions("file_path", "pos")
                .write.parquet(staging)
            )
        finally:
            hits.unpersist()
        part = next(
            os.path.join(dp, f)
            for dp, _ds, fs in os.walk(staging)
            for f in sorted(fs)
            if f.endswith(".parquet")
        )
        deletes_dir = os.path.join(self.data_path, "_deletes")
        os.makedirs(deletes_dir, exist_ok=True)
        dest = os.path.join(deletes_dir, f"posdel-{uuid.uuid4().hex}.parquet")
        self.backend.promote(part, dest)
        self._rmtree(staging)
        entry = {
            "file_path": dest,
            "content": "position-deletes",
            "row_count": rows_removed,
            "file_size_bytes": os.path.getsize(dest),
            "referenced_files": referenced,
        }
        snap = self._commit_rewrite(
            {
                "operation": "row-delete",
                "mode": "merge-on-read",
                "files_rewritten": 0,
                "rows_removed": rows_removed,
                "files_referenced": len(referenced),
            },
            planned=expected_parent,
            planned_deletes=active_dels,
            added_deletes=[entry],
        )
        return {
            "files_rewritten": 0,
            "rows_removed": rows_removed,
            "files_referenced": len(referenced),
            "delete_file": dest,
            "version": snap["version"],
        }

    def expire_snapshots(
        self, keep_last: int = 5, protect_followers: bool = True
    ) -> list[int]:
        """Drop all but the newest ``keep_last`` snapshots (Iceberg
        ``expire_snapshots``). The oldest survivor is rewritten with a
        materialized full file list first, so delta replay never dangles.
        Returns the expired version numbers; follow with
        :meth:`remove_orphans` to reclaim the files only they referenced.

        ``protect_followers`` (r15): a registered TableFollower at
        position P reads snapshots ``P+1..latest`` incrementally —
        expiring any of those turns its next poll into the added_files
        retention-lag error AFTER the history is already gone. The guard
        refuses exactly the snapshots a registered follower group still
        needs (it clamps the kill window to versions ≤ min position and
        WARNS naming the lagging groups), so retention keeps ticking for
        everything safe and the operator sees who is holding the log.
        Pass ``protect_followers=False`` to kill an abandoned group's
        window anyway."""
        names = self._snapshot_files()
        if len(names) <= keep_last:
            return []
        keep_last = max(keep_last, 1)
        cut = len(names) - keep_last
        if protect_followers and cut > 0:
            from zombi_spark.streaming.offsets import ConsumerOffsets

            positions = ConsumerOffsets(self.path).follower_positions()
            if positions:
                min_pos = min(positions.values())
                safe_cut = sum(1 for n in names if int(n[5:13]) <= min_pos)
                if safe_cut < cut:
                    lagging = {
                        g: p for g, p in positions.items() if p < int(names[cut][5:13])
                    }
                    logging.getLogger(__name__).warning(
                        "expire_snapshots(keep_last=%d) on %r would kill the "
                        "window follower group(s) %s still need; keeping "
                        "snapshots > version %d (protect_followers=False "
                        "overrides)",
                        keep_last,
                        self.name,
                        lagging,
                        min_pos,
                    )
                    cut = safe_cut
        if cut <= 0:
            return []
        oldest_kept = names[cut]
        snap = self._read_snapshot(oldest_kept)
        if "files" not in snap:
            # materialize BOTH lists: "files" is the replay-base marker,
            # so omitting the delete list here would silently drop every
            # merge-on-read tombstone older than the expire cut
            snap["files"], snap["delete_files"] = self._active_state(snap["version"])
            tmp = os.path.join(self.meta_path, f".{oldest_kept}.{uuid.uuid4().hex[:8]}.tmp")
            fastjson.dump_to(tmp, snap)
            # atomic rewrite (PUT semantics — replacing an EXISTING
            # snapshot file is the one place rewrite is intended)
            self.backend.swing(tmp, os.path.join(self.meta_path, oldest_kept))
        expired = []
        for fname in names[:cut]:
            expired.append(int(fname[5:13]))
            os.remove(os.path.join(self.meta_path, fname))
        self._active_cache.clear()
        # drop the expired snapshots from the Iceberg metadata too
        try:
            iceberg_meta.write_metadata_for_commit(self, self.latest_snapshot())
        except Exception:
            logging.getLogger(__name__).warning(
                "iceberg metadata update after expire failed for %r",
                self.name, exc_info=True,
            )
        return expired

    def compact(
        self,
        small_file_bytes: int = 64 * 1024 * 1024,
        min_input_files: int = 3,
        target_files_per_partition: int = 1,
        strategy: str = "binpack",
        sort_columns: list[str] | None = None,
        rewrite_all: bool = False,
        partitions: list[str] | set[str] | None = None,
        extra_summary: dict | None = None,
    ) -> dict:
        """M1 small-file compaction (compaction.rs:128-396).

        Candidates = storage partitions holding ≥ ``min_input_files`` files
        smaller than ``small_file_bytes``; each is rewritten as
        ``target_files_per_partition`` sorted file(s). Equivalent to
        Iceberg's ``rewrite_data_files`` with min-input-files/target-size.
        Rewrite preserves every row (INV-6) and, with the default
        ``binpack`` strategy, the (timestamp_ms, sequence) sort.

        ``strategy="sort"`` / ``"zorder"`` are the Iceberg rewrite
        strategies (table/clustering.py): re-cluster rows within each
        storage partition so per-file bounds turn into tight ranges (sort:
        leading-column; zorder: a multi-dimensional interleave) and
        stats-based file skipping prunes on those columns. Clustering
        rewrites usually want ``rewrite_all=True`` (re-layout EVERY active
        file, not just small ones) and ``target_files_per_partition > 1``
        (one output file per partition has trivially tight bounds but no
        intra-partition skipping).

        Commit order is the crash-safe one (compaction.rs:282-396): move
        rewritten files in → commit the swap snapshot → only THEN delete
        the inputs. A crash before the commit leaves the table serving the
        pre-compact snapshot with all inputs intact; a crash after it
        leaves the inputs on disk for older snapshots until expiration.

        ``partitions`` scopes the rewrite to the named storage partition
        dirs (Iceberg's ``rewrite_data_files(where => ...)`` at partition
        granularity): the incremental-maintenance shape — at 100 TB a
        scheduled re-cluster rewrites the dirs
        :meth:`changed_partitions` reports dirty, never the whole table.
        Scoped rewrites record ``scoped: true`` in the snapshot summary.
        ``extra_summary`` keys ride into the summary verbatim (the
        maintenance policy records its observed pre-version there so a
        restarted daemon recovers the exact watermark).

        Concurrency is :meth:`_commit_rewrite`'s one rule: a racing
        append is absorbed by rebasing the same (added, removed) delta
        once; a racing commit that removed an input or tombstoned rows
        in one raises :class:`CommitConflictError`.
        """
        expected_parent = self.latest_version()
        scope = set(partitions) if partitions is not None else None
        by_partition: dict[str, list[dict]] = {}
        for f in self.files():
            if scope is not None and f["partition_dir"] not in scope:
                continue
            if rewrite_all or f["file_size_bytes"] < small_file_bytes:
                by_partition.setdefault(f["partition_dir"], []).append(f)
        candidates = {p: fs for p, fs in by_partition.items() if len(fs) >= min_input_files}
        if not candidates:
            # no-op: do NOT mint a snapshot — a periodic maintenance tick
            # on an already-compacted table would otherwise grow the log
            # and Iceberg metadata every run and churn expire_snapshots'
            # keep_last window through empty versions
            return {
                "version": expected_parent,
                "partitions": [],
                "files_rewritten": 0,
                "noop": True,
            }
        # ONE Spark job rewrites every candidate partition (a per-
        # partition loop of jobs would serialize at scale): read all
        # inputs with partition columns from the layout, shuffle once on
        # the storage key, write sorted into a staging tree, then move
        # the rewritten files in.
        inputs = [f for fs in candidates.values() for f in fs]
        all_paths = [f["file_path"] for f in inputs]
        # merge-on-read migration: the rewrite applies every active
        # position tombstone (NOT applying them would resurrect
        # taken-down rows into the compacted files); the commit drops the
        # delete files it fully consumes — compaction is how
        # merge-on-read deletes become pure data
        active_dels = self._active_delete_files(expected_parent)
        df = _apply_position_deletes(self._read_file_list(all_paths), active_dels)
        shape = self._rewrite_shape(inputs)
        cap = None
        if target_files_per_partition > 1 and shape["rows_per_dir"]:
            # hash partitioning can never split one storage partition
            # across tasks — file splitting is the writer's job: roll
            # over at rows(largest candidate) / target
            cap = max(-(-shape["rows_per_dir"] // target_files_per_partition), 1)
        from zombi_spark.table.clustering import clustering_sort_columns

        stat_kinds = self.extracted_stat_columns()
        order = clustering_sort_columns(
            df,
            strategy,
            sort_columns,
            tuple(n for n, k in stat_kinds.items() if k == "int"),
            tuple(n for n, k in stat_kinds.items() if k != "int"),
        )
        added = self._stage_and_move(
            df,
            self._staging_dir("compact"),
            cap=cap,
            order=order,
            prefix="compacted-",
            **shape,
        )
        summary = {
            "operation": "compact",
            "partitions": sorted(candidates),
            "files_rewritten": len(all_paths),
        }
        if strategy != "binpack":
            summary["strategy"] = strategy
            summary["sort_columns"] = list(sort_columns or [])
        if partitions is not None:
            # a partition-scoped rewrite proves nothing about the REST of
            # the table — maintenance watermark recovery must not mistake
            # it for a full re-cluster (ADVICE r14)
            summary["scoped"] = True
        if extra_summary:
            summary.update(extra_summary)
        snap = self._commit_rewrite(
            summary,
            planned=expected_parent,
            planned_deletes=active_dels,
            added=added,
            removed=all_paths,
        )
        # ---- commit point passed: NOW the inputs may be physically
        # deleted. They remain referenced by older snapshots, so delete
        # only what expiration has already released; until then they stay
        # for time travel. (Physical delete is deferred to
        # expire_snapshots + remove_orphans — the Iceberg model.)
        return snap
