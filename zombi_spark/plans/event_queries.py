"""Event-model queries over the driver's ``events`` table.

The driver's synthetic ``events`` table (event_id, ts, user_id, event_type,
value, props) stands in for a zombi-produced event table. We map it onto
the zombi model deterministically so every ingest-path operator (sequence
assignment, dedup, partition derivation, tail reads, range scans) has a
DuckDB-checkable query:

  topic        = 'events'
  partition    = user_id % 8            (producer-chosen shard)
  payload      = props                  (JSON bytes)
  timestamp_ms = epoch millis of ts     (ts read as epoch-nanos long;
                                         floor-divide by 1e6 == DuckDB epoch_ms)
  arrival      = event_id               (ingest order)

Each function takes (spark, sf_dir) and returns a DataFrame whose column
names/aliases match the oracle SQL in ``__spark_entry__.py`` exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zombi_spark.functions.events import (
    derive_partition_columns,
    format_partition_date,
)
from zombi_spark.sources.tables import load_table

N_PARTITIONS = 8


def _ts_to_millis(ev: DataFrame):
    """epoch-millis of ``ts`` regardless of how the parquet shipped it.

    The driver's events.parquet has carried ts as TIMESTAMP(NANOS) (read as
    a bigint of epoch-nanos under nanosAsLong) and as timestamp[us]
    (TIMESTAMP_NTZ). Under a UTC session timezone (set in load_table),
    unix_millis(cast(ts as timestamp_ltz)) equals DuckDB's epoch_ms(ts)
    bit-exactly for the NTZ case; the bigint case is a floor-divide.
    """
    dtype = dict(ev.dtypes)["ts"]
    if dtype == "bigint":
        return F.expr("ts DIV 1000000")
    return F.unix_millis(F.col("ts").cast("timestamp_ltz"))


def zombi_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic events→zombi mapping used by all event queries."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").alias("arrival"),
        F.lit("events").alias("topic"),
        (F.col("user_id") % N_PARTITIONS).cast("int").alias("partition"),
        F.col("props").alias("payload_str"),
        _ts_to_millis(ev).alias("timestamp_ms"),
        F.col("event_type"),
        F.col("value"),
        F.col("user_id"),
    )


def q_sequence_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(topic, partition) monotonic sequence assignment (INV-1; §7 step 3)
    plus F1 partition-column derivation (event_date/event_hour, UTC) — the
    two projections a write path applies to every accepted event, in one
    pass.

    Window row_number over arrival order — the batch form of
    sequence.rs:60-66's atomic counters.
    """
    ev = zombi_events(spark, sf_dir)
    w = Window.partitionBy("topic", "partition").orderBy("arrival")
    d_col, h_col = derive_partition_columns(F.col("timestamp_ms"))
    return ev.select(
        "topic",
        "partition",
        "arrival",
        F.row_number().over(w).cast("long").alias("sequence"),
        "timestamp_ms",
        format_partition_date(d_col).alias("event_date"),
        h_col.cast("int").alias("event_hour"),
    )


def q_tail_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/P2/P3/O2/O4: default-projection tail read with since + limit.

    Compiles to TakeOrderedAndProject (top-k, no global sort).
    """
    ev = zombi_events(spark, sf_dir)
    since_ms = 1704067200000 + 14 * 24 * 3600 * 1000  # 2024-01-15T00:00Z
    return (
        ev.where(F.col("timestamp_ms") >= since_ms)
        .orderBy("timestamp_ms", "arrival")
        .select(F.col("payload_str").alias("payload"), "timestamp_ms", "arrival")
        .limit(101)
    )


def q_sequence_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/P5/P6: single-partition scan from a sequence offset."""
    seq = q_sequence_assign(spark, sf_dir)
    return (
        seq.where((F.col("partition") == 3) & (F.col("sequence") >= 20))
        .orderBy("sequence")
        .select("partition", "sequence", "arrival")
        .limit(50)
    )


def q_timestamp_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9/P4: half-open [since, until) time-range scan, merged ordering."""
    ev = zombi_events(spark, sf_dir)
    since_ms = 1704067200000 + 7 * 24 * 3600 * 1000  # 2024-01-08
    until_ms = 1704067200000 + 9 * 24 * 3600 * 1000  # 2024-01-10
    return (
        ev.where((F.col("timestamp_ms") >= since_ms) & (F.col("timestamp_ms") < until_ms))
        .orderBy("timestamp_ms", "arrival")
        .select("arrival", "partition", "timestamp_ms", "event_type")
    )


def q_idempotent_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: first-wins idempotency dedup (INV-4).

    Synthetic idempotency_key = user_id:event_type — replays collapse to
    the earliest arrival, exactly the reference's return-existing-offset
    semantics (rocksdb.rs:645-654).
    """
    ev = zombi_events(spark, sf_dir)
    keyed = ev.withColumn(
        "idempotency_key",
        F.concat(F.col("user_id").cast("string"), F.lit(":"), F.col("event_type")),
    )
    w = Window.partitionBy("topic", "partition", "idempotency_key").orderBy("arrival")
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("partition", "idempotency_key", F.col("arrival").alias("first_arrival"))
    )


def q_high_watermarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A3: high + low watermark per (topic, partition)."""
    seq = q_sequence_assign(spark, sf_dir)
    return (
        seq.groupBy("topic", "partition")
        .agg(
            F.max("sequence").alias("high_watermark"),
            F.min("sequence").alias("low_watermark"),
            F.count("*").alias("n_events"),
        )
        .orderBy("partition")
    )


def q_hour_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/T4: flush batch grouping by (event_date, event_hour) — the
    hour-boundary split invariant (flusher/mod.rs:398-437)."""
    ev = zombi_events(spark, sf_dir)
    # SAME clamp as sequence assignment / the physical layout
    # (parquet.rs:44-48): the F1 partition derivation has one definition
    d_col, h_col = derive_partition_columns(F.col("timestamp_ms"))
    return (
        ev.select(
            format_partition_date(d_col).alias("event_date"),
            h_col.cast("int").alias("event_hour"),
            "partition",
        )
        .groupBy("event_date", "event_hour")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("partition").alias("n_partitions"),
        )
        .orderBy("event_date", "event_hour")
    )


def q_json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7/F5/P8: typed dot-path extraction from the JSON payload (type
    mismatch ⇒ NULL, payload_extractor.rs:113-133) plus schema-on-write
    extraction with EXACT ``_payload_overflow`` — builds a payload with a
    flat key AND a nested object (props' k + meta.nested.{value, other?}
    + the event_type), extracts ``k`` and ``meta.nested.value`` via
    TableSchemaConfig, and keeps the remainder as compact sorted-key JSON
    overflow: the extracted nested LEAF is removed and empty parents are
    pruned (even k keeps a sibling under meta.nested; odd k loses the
    whole meta subtree) — the reference's remove-leaf + prune rule,
    payload_extractor.rs:74-96,145-179."""
    from zombi_spark.ingest.extraction import FieldSpec, TableSchemaConfig, extract_payload
    from zombi_spark.operators.skew import spread_narrow_scan

    # §2.5 input-skew guard: the JSON parse chain + the Arrow-batched
    # overflow UDF otherwise run on the single scan partition (measured
    # 1.57 s → 0.54 s, rows identical; the guard is a no-op once the
    # scan has real splits)
    ev = spread_narrow_scan(zombi_events(spark, sf_dir), "arrival")
    k_raw = F.get_json_object(F.col("payload_str"), "$.k")
    enriched = ev.select(
        "arrival",
        "payload_str",
        F.concat(
            F.lit('{"k": '),
            k_raw,
            F.lit(', "meta": {"nested": {"value": '),
            k_raw,
            F.when(k_raw.try_cast("long") % 2 == 0, F.lit(', "other": "x"')).otherwise(
                F.lit("")
            ),
            F.lit('}}, "etype": "'),
            F.col("event_type"),
            F.lit('"}'),
        )
        .cast("binary")
        .alias("payload"),
    )
    config = TableSchemaConfig(
        payload_format="json",
        fields=[
            FieldSpec(name="k", json_path="k", data_type="int64"),
            FieldSpec(name="nested_val", json_path="meta.nested.value", data_type="int64"),
        ],
    )
    out = extract_payload(enriched, config)
    return out.select(
        "arrival",
        F.get_json_object(F.col("payload_str"), "$.k").try_cast("long").alias("k_int64"),
        F.get_json_object(F.col("payload_str"), "$.k").alias("k_utf8"),
        F.get_json_object(F.col("payload_str"), "$.missing").try_cast("long").alias(
            "missing_field"
        ),
        "k",
        "nested_val",
        F.col("_payload_overflow").cast("string").alias("overflow_json"),
    )


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): per-user session ids
    via lag + cumulative sum — the classic streaming-analytics window
    pattern, one shuffle on user_id."""
    ev = zombi_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("timestamp_ms", "arrival")
    gap = F.col("timestamp_ms") - F.lag("timestamp_ms").over(w)
    with_breaks = ev.select(
        "user_id",
        "timestamp_ms",
        "arrival",
        F.when(gap.isNull() | (gap > 30 * 60 * 1000), 1).otherwise(0).alias("is_new_session"),
    )
    sessioned = with_breaks.withColumn(
        "session_id",
        F.sum("is_new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return (
        sessioned.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("timestamp_ms").alias("session_start_ms"),
            (F.max("timestamp_ms") - F.min("timestamp_ms")).alias("duration_ms"),
        )
        .orderBy("user_id", "session_id")
    )


def q_hex_keys_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 + F1/F2/F11 scalar surface in one projection:

    - the reference's RocksDB key rendering
      ``evt:{topic}:{partition}:{seq:016x}`` (rocksdb.rs:14-27,386-420);
    - the date library — truncation, arithmetic, extraction — chosen for
      identical cross-engine semantics (no dayofweek: numbering differs
      between engines).
    """
    from zombi_spark.functions.events import hex_sequence

    seq = q_sequence_assign(spark, sf_dir)
    ts = F.timestamp_millis(F.greatest(F.col("timestamp_ms"), F.lit(0).cast("long")))
    d = F.to_date(ts)
    return seq.select(
        "arrival",
        F.concat_ws(
            ":",
            F.lit("evt"),
            F.col("topic"),
            F.col("partition").cast("string"),
            hex_sequence(F.col("sequence")),
        ).alias("event_key"),
        hex_sequence(F.col("sequence")).alias("seq_hex"),
        F.year(d).alias("y"),
        F.month(d).alias("m"),
        F.dayofmonth(d).alias("dom"),
        F.date_format(F.date_add(d, 7), "yyyy-MM-dd").alias("plus_week"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.datediff(d, F.lit("2024-01-01").cast("date")).alias("days_since_y24"),
        F.quarter(d).alias("q"),
    )


def q_ingest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/M6: the reference's metrics-registry aggregations
    (metrics/registry.rs, `/stats` handlers.rs:1414-1691) re-expressed as a
    query over the events table: per (topic, partition) event counts,
    payload bytes, time span and integer events-per-hour rate — the
    ingest-observability surface, computed from data instead of counters.

    Integer rate math (count·3600000 DIV span) keeps it hash-exact
    cross-engine. One aggregation pass, partial aggregation map-side."""
    ev = zombi_events(spark, sf_dir)
    agg = ev.groupBy("topic", "partition").agg(
        F.count("*").alias("n_events"),
        F.sum(F.octet_length("payload_str").cast("long")).alias("payload_bytes"),
        F.min("timestamp_ms").alias("first_event_ms"),
        F.max("timestamp_ms").alias("last_event_ms"),
    )
    span = F.col("last_event_ms") - F.col("first_event_ms")
    return agg.select(
        "topic",
        "partition",
        "n_events",
        "payload_bytes",
        (span).alias("span_ms"),
        F.when(span > 0, F.expr("n_events * 3600000 DIV (last_event_ms - first_event_ms)"))
        .otherwise(F.lit(None).cast("long"))
        .alias("events_per_hour"),
        "last_event_ms",
    ).orderBy("partition")


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis: signup → click → purchase ordering per user.

    One aggregation pass computes the first timestamp of each stage per
    user (conditional min — no self-joins), then the funnel stage is a
    pure projection. Shuffle: one, on user_id.
    """
    ev = zombi_events(spark, sf_dir)
    first_of = lambda t: F.min(F.when(F.col("event_type") == t, F.col("timestamp_ms")))
    per_user = ev.groupBy("user_id").agg(
        first_of("signup").alias("t_signup"),
        first_of("click").alias("t_click"),
        first_of("purchase").alias("t_purchase"),
    )
    reached_click = (
        F.col("t_signup").isNotNull()
        & F.col("t_click").isNotNull()
        & (F.col("t_click") > F.col("t_signup"))
    )
    reached_purchase = (
        reached_click
        & F.col("t_purchase").isNotNull()
        & (F.col("t_purchase") > F.col("t_click"))
    )
    staged = per_user.select(
        F.when(reached_purchase, "3_purchased")
        .when(reached_click, "2_clicked")
        .when(F.col("t_signup").isNotNull(), "1_signed_up")
        .otherwise("0_none")
        .alias("funnel_stage")
    )
    return staged.groupBy("funnel_stage").agg(F.count("*").alias("n_users")).orderBy("funnel_stage")


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen week; distinct active
    users per (cohort_week, week_offset). The cohort frame is one row per
    user — it grows with the corpus, so the join strategy is left to
    AQE/Catalyst (broadcast when small, shuffle when not); a forced
    broadcast hint would OOM the build side at 100×."""
    ev = zombi_events(spark, sf_dir)
    week_ms = 7 * 24 * 3600 * 1000
    base = 1704067200000  # 2024-01-01, the corpus epoch
    # integer DIV, not double-divide-then-cast: Spark's cast truncates but
    # DuckDB's rounds, so the oracle would disagree at week boundaries
    with_week = ev.select(
        "user_id", F.expr(f"(timestamp_ms - {base}) DIV {week_ms}").alias("week")
    )
    cohorts = with_week.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        with_week.join(cohorts, "user_id")
        .select("user_id", "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
        .orderBy("cohort_week", "week_offset")
    )


def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4/§2.6 time windows: sliding 2h window, 1h slide, per-window event
    counts + value sums. Uses Spark's window() generator; each event lands
    in exactly width/slide windows (the oracle unions the two shifted
    tumbling assignments — same definition)."""
    ev = zombi_events(spark, sf_dir)
    ts = F.timestamp_millis(F.col("timestamp_ms"))
    win = F.window(ts, "2 hours", "1 hour")
    return (
        ev.groupBy(win.alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start_ms"),
            "n_events",
            "value_cents",
        )
        .orderBy("window_start_ms")
    )


def q_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 flagship window query: latest event per user via row_number."""
    ev = zombi_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("timestamp_ms").desc(), F.col("arrival").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "timestamp_ms", "event_type", "arrival")
    )


def _committed_fixture(
    spark: SparkSession, sf_dir: str, namespace: str, payload, schema_config=None, build=None
):
    """The canonical events→zombi mapping (``payload`` as the payload
    column) COMMITTED as a real EventTable in a tmp dir, built once per
    session × sf_dir under the ``namespace`` memo — the fixtures for
    queries that exercise the table/manifest surface itself rather than
    a plan over the raw parquet. Sequences come from the same write path
    the oracle replays (row_number over arrival per (topic, partition)),
    so DuckDB can reproduce the committed rows relationally. ``build``
    runs on the table after its one append, before it is memoized."""
    import atexit
    import shutil
    import tempfile

    from zombi_spark.ingest.batch import prepare_events
    from zombi_spark.plans.plan_cache import session_cache
    from zombi_spark.table.event_table import EventTable

    memo = session_cache(spark, namespace)
    table = memo.get(sf_dir)
    if table is None:
        ev = zombi_events(spark, sf_dir).select(
            "topic",
            "partition",
            payload.alias("payload"),
            "timestamp_ms",
            F.lit(None).cast("string").alias("idempotency_key"),
            F.col("arrival").alias("ingest_order"),
        )
        root = tempfile.mkdtemp(prefix=f"{namespace}_")
        # the fixture outlives any one query (session-cached) but not the
        # process — without this, every test/driver session leaves a
        # committed table in /tmp
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        table = EventTable(spark, root, "events", schema_config=schema_config)
        table.append(prepare_events(ev))
        if build is not None:
            build(table)
        memo[sf_dir] = table
    return table


def _materialized_event_table(spark: SparkSession, sf_dir: str):
    """The events mapping committed as-is (the shared datasource fixture)."""
    return _committed_fixture(
        spark, sf_dir, "zombi_ds_tables", F.encode("payload_str", "UTF-8")
    )


def q_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 through the registered ``zombi`` format: a time-range scan of
    the committed table via ``spark.read.format("zombi")`` — pushed
    filters prune files by manifest bounds, Spark re-applies them
    row-level (sources/datasource.py). ``option("fields")`` narrows the
    read to the projected columns — without it the Python DataSource API
    (no pruning hook) ships every column, payload binary included,
    through Arrow. The oracle replays the write path's sequence
    assignment + the range predicate relationally."""
    from zombi_spark.shipping import ensure_package_on_workers
    from zombi_spark.sources.datasource import register_zombi_datasource

    ensure_package_on_workers(spark)
    register_zombi_datasource(spark)
    table = _materialized_event_table(spark, sf_dir)
    since_ms = 1704067200000 + 7 * 24 * 3600 * 1000  # 2024-01-08
    until_ms = 1704067200000 + 9 * 24 * 3600 * 1000  # 2024-01-10
    return (
        spark.read.format("zombi")
        .option("fields", "partition,sequence,timestamp_ms,event_hour")
        .load(table.path)
        .where((F.col("timestamp_ms") >= since_ms) & (F.col("timestamp_ms") < until_ms))
        .select("partition", "sequence", "timestamp_ms", "event_hour")
    )


def _materialized_mor_table(spark: SparkSession, sf_dir: str):
    """The events mapping committed and then row-taken-down via
    ``delete_where(mode="merge-on-read")`` — a DEDICATED fixture (the
    delete mutates the table, so the shared datasource fixture must stay
    pristine for the scan queries). The build pins the merge-on-read
    contract: after the takedown commit, the data-file set is unchanged
    — only a position-delete file was added."""
    from zombi_spark.shipping import ensure_package_on_workers

    def takedown(table) -> None:
        files_before = {e["file_path"] for e in table.scan_files()}
        res = table.delete_where("sequence % 10 = 3", mode="merge-on-read")
        if {e["file_path"] for e in table.scan_files()} != files_before:
            raise AssertionError(
                "merge-on-read takedown rewrote data files"
            )
        if not res.get("rows_removed"):
            raise AssertionError("merge-on-read takedown matched no rows")

    ensure_package_on_workers(spark)
    return _committed_fixture(
        spark, sf_dir, "zombi_mor_tables", F.encode("payload_str", "UTF-8"), build=takedown
    )


def q_mor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8+ merge-on-read row takedown (Iceberg v2 position deletes):
    rows with ``sequence % 10 = 3`` are tombstoned WITHOUT rewriting a
    single data file (event_table.delete_where mode="merge-on-read");
    the read anti-joins the position-delete file. The per-partition
    aggregate bakes the contract into the hash: ``n_ghost`` counts
    surviving tombstoned rows and must be 0 everywhere — the DuckDB
    oracle replays the sequence assignment and excludes the doomed rows
    relationally."""
    table = _materialized_mor_table(spark, sf_dir)
    return (
        table.read()
        .groupBy("partition")
        .agg(
            F.count(F.lit(1)).alias("n_live"),
            F.sum("sequence").alias("sum_seq"),
            F.count(F.when(F.col("sequence") % 10 == 3, 1)).alias("n_ghost"),
        )
        .orderBy("partition")
    )


def _materialized_extraction_table(spark: SparkSession, sf_dir: str):
    """The events mapping committed as a schema-on-write EXTRACTION
    table (§1.3) and re-clustered by the extracted ``event_type`` string
    column — the fixture for the r15 categorical-pruning surface: every
    file's Iceberg-truncated string bounds cover one event_type range,
    so an equality predicate plans a subset of files."""
    from zombi_spark.ingest.extraction import FieldSpec, TableSchemaConfig

    cfg = TableSchemaConfig(
        payload_format="json",
        fields=[
            FieldSpec(name="event_type", json_path="event_type", data_type="utf8"),
            FieldSpec(name="value", json_path="value", data_type="float64"),
            FieldSpec(name="user_id", json_path="user_id", data_type="int64"),
        ],
    )

    def recluster(table) -> None:
        # sort-strategy re-cluster on the extracted STRING column: rows
        # are preserved exactly (INV-6), only the layout changes — the
        # string bounds become disjoint ranges the planner prunes on
        table.compact(
            strategy="sort",
            sort_columns=["event_type"],
            rewrite_all=True,
            min_input_files=1,
            target_files_per_partition=4,
        )

    return _committed_fixture(
        spark,
        sf_dir,
        "zombi_extract_tables",
        F.encode(F.to_json(F.struct("event_type", "value", "user_id")), "UTF-8"),
        schema_config=cfg,
        build=recluster,
    )


def q_extracted_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r15 categorical pruning end to end: an equality predicate on an
    EXTRACTED string column, pushed through ``format("zombi")`` into the
    manifest's Iceberg-truncated string bounds (event_table.
    truncate_{lower,upper}_bound; reference string bound encoding
    iceberg.rs:41-76, extraction targets contracts/schema.rs:56-63),
    over a table re-clustered by that column — with the extracted double
    riding along through the same projection. The oracle replays the
    write path's sequence assignment + the JSON round trip relationally
    (value survives to_json → from_json exactly: both sides read the
    same parquet doubles)."""
    from zombi_spark.shipping import ensure_package_on_workers
    from zombi_spark.sources.datasource import register_zombi_datasource

    ensure_package_on_workers(spark)
    register_zombi_datasource(spark)
    table = _materialized_extraction_table(spark, sf_dir)
    df = (
        spark.read.format("zombi")
        .option("fields", "partition,sequence,event_type,value")
        .load(table.path)
        .where(F.col("event_type") == "purchase")
    )
    return df.groupBy("partition").agg(
        F.count("*").alias("n_events"),
        F.max("sequence").alias("max_seq"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )


def q_sql_view_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15 from pure SQL (r14): ``register_zombi_view`` binds the format
    — ``fields`` projection included — into a temp view, and the query
    is ``spark.sql`` text: the range predicate reaches the reader's
    ``pushFilters`` through the view, the projection keeps payload bytes
    off the wire, and the aggregation runs on the view's rows. The
    oracle replays the write path's sequence assignment relationally
    (same contract as ``datasource_scan``)."""
    from zombi_spark.shipping import ensure_package_on_workers
    from zombi_spark.sources.datasource import register_zombi_view

    ensure_package_on_workers(spark)
    table = _materialized_event_table(spark, sf_dir)
    register_zombi_view(
        spark,
        "zombi_events_sql_v",
        table.path,
        fields="partition,sequence,timestamp_ms",
    )
    since_ms = 1704067200000 + 7 * 24 * 3600 * 1000  # 2024-01-08
    until_ms = 1704067200000 + 9 * 24 * 3600 * 1000  # 2024-01-10
    return spark.sql(
        f"""
        SELECT partition,
               count(*) AS n_events,
               max(sequence) AS max_seq,
               min(timestamp_ms) AS first_ts
        FROM zombi_events_sql_v
        WHERE timestamp_ms >= {since_ms} AND timestamp_ms < {until_ms}
        GROUP BY partition
        """
    )
