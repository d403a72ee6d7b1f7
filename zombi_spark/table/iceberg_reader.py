"""Iceberg-metadata-only reads: what an EXTERNAL engine does.

The proof that the Iceberg interop surface is real: resolve the table
exactly the way a stock filesystem-catalog reader does — version-hint →
``v{N}.metadata.json`` → snapshot entry → Avro manifest list → Avro
manifests → live data files — touching NOTHING of the engine's own
snapshot log (``_zombi_meta``). Snapshot-id time travel falls out of the
snapshot list the same way Iceberg's ``VERSION AS OF`` does.

Tested for row parity with :meth:`EventTable.read` across appends,
compaction and schema evolution (test_avro_manifests.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from zombi_spark.table import manifests as MF
from zombi_spark.table.iceberg_meta import current_metadata

_ICEBERG_TO_SPARK = {
    "long": T.LongType(),
    "int": T.IntegerType(),
    "string": T.StringType(),
    "binary": T.BinaryType(),
    "date": T.DateType(),
    "boolean": T.BooleanType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
}


def spark_schema_for(meta: dict, schema_id: int) -> T.StructType:
    """Spark StructType for one of the metadata's schema entries."""
    ice = next(s for s in meta["schemas"] if s["schema-id"] == schema_id)
    return T.StructType(
        [
            T.StructField(f["name"], _ICEBERG_TO_SPARK[f["type"]], not f["required"])
            for f in ice["fields"]
        ]
    )


def read_via_iceberg_metadata(
    spark, table_path: str, snapshot_id: int | None = None
) -> DataFrame:
    """Scan a table from its Iceberg metadata alone. ``snapshot_id``
    selects a historical snapshot (``VERSION AS OF`` semantics); default
    is the current one. Raises if the metadata or snapshot is missing —
    an external reader has no other source of truth to fall back to."""
    meta = current_metadata(table_path)
    if meta is None:
        raise FileNotFoundError(f"no Iceberg metadata under {table_path}/metadata")
    sid = meta["current-snapshot-id"] if snapshot_id is None else snapshot_id
    if sid == -1:  # table exists but holds no snapshot yet
        return spark.createDataFrame([], spark_schema_for(meta, meta["current-schema-id"]))
    snap = next((s for s in meta["snapshots"] if s["snapshot-id"] == sid), None)
    if snap is None:
        live = [s["snapshot-id"] for s in meta["snapshots"]]
        raise ValueError(f"snapshot {sid} not in metadata (live: {live})")
    schema = spark_schema_for(meta, snap.get("schema-id", meta["current-schema-id"]))
    files = [df["file_path"] for df in MF.live_data_files(snap["manifest-list"])]
    if not files:
        return spark.createDataFrame([], schema)
    data_root = os.path.join(os.path.abspath(table_path), "data")
    # suppress the one-task-per-path listing job for big file lists (the
    # manifests already carry the stats) — shared locked helper, see
    # EventTable._read_file_list
    from zombi_spark.table.event_table import _apply_position_deletes, _discovery_threshold

    with _discovery_threshold(spark, len(files)):
        df = spark.read.schema(schema).option("basePath", data_root).parquet(*files)
    # v2 merge-on-read: anti-join the snapshot's position-delete files
    # (content=1 manifests) on (data file path, row index) — what any
    # stock v2 reader does while scanning
    dels = [
        {"file_path": d["file_path"], "file_size_bytes": d["file_size_in_bytes"]}
        for d in MF.live_delete_files(snap["manifest-list"])
    ]
    return _apply_position_deletes(df, dels)
