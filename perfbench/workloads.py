"""The two workloads. Each returns a ``Result``: end-to-end samples and
the attempted/failed operation counts (a traced run also leaves its
per-unit records in the tracer). A failure is a non-2xx answer, an
exception or a wrong output."""

from __future__ import annotations

import contextlib
import http.client
import json
import os
import time
from dataclasses import dataclass, field

import gen
from checks import Oracle, ingest_consistent, rows_match

INGEST = {
    "requests_per_cycle": 20,  # B
    "events_per_request": 100,  # the reference's bulk batches (BASELINE.md)
    "compact_every": 3,  # K: cycles 2, 5, 8, ... also compact
    # flush time falls ~4x over the first 2 cycles (first streaming query,
    # first Python data-source worker, C1 compilation) and is about flat after
    "warmup_cycles": 2,
    "cycles_per_second": 0.5,  # timed cycles = max(3, round(seconds * this))
}

QUERIES = {
    # event-model and relational entries of __spark_entry__.queries():
    # Catalyst planning, scheduling and JVM execution over parquet
    "sql": [
        "seq_assign",
        "tail_read",
        "seq_range_scan",
        "idempotent_dedup",
        "latest_per_key",
        "sessionization",
        "join_multiway",
        "join_asof",
        "window_funcs",
        "scalar_library",
    ],
    # corpus entries whose operators cross the Python worker boundary
    # (mapInPandas / applyInPandas)
    "corpus": ["media_pipeline", "semantic_dedup"],
    "passes_per_second": 0.3,  # timed passes = max(2, round(seconds * this))
}


@dataclass
class Result:
    setup_s: float = 0.0  # process start -> first timed operation
    op_ms: list[float] = field(default_factory=list)
    pass_s: list[float] = field(default_factory=list)
    work_items: int = 0  # events committed / queries executed in timed units
    by_kind: dict[str, list[float]] = field(default_factory=dict)  # timed ms per request kind
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def sample(self, kind: str, ms: float) -> None:
        self.by_kind.setdefault(kind, []).append(ms)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)


# ------------------------------------------------------------ ingest_serve


class _Client:
    """One keep-alive connection; every request counts as attempted and
    every non-2xx as failed."""

    def __init__(self, base_url: str, result: Result, tracer):
        host, port = base_url.removeprefix("http://").split(":")
        self.conn = http.client.HTTPConnection(host, int(port), timeout=600)
        self.result = result
        self.tracer = tracer
        self.timed = False

    def request(self, method: str, path: str, body: bytes | None = None, kind: str = ""):
        """(status, body, ms); while ``timed`` is set the time is also
        kept per request ``kind``."""
        self.result.attempted += 1
        span = self.tracer.span(f"http.{kind}", request=True) if self.tracer else contextlib.nullcontext()
        with span:
            t0 = time.perf_counter()
            self.conn.request(method, path, body)
            resp = self.conn.getresponse()
            data = resp.read()
            ms = (time.perf_counter() - t0) * 1000
        if self.timed:
            self.result.sample(kind, ms)
        if self.tracer:
            self.tracer.count(f"edge.{kind}_ms", ms)
            self.tracer.count("edge.requests")
            if not 200 <= resp.status < 300:
                self.tracer.count("edge.non_2xx")
        if not 200 <= resp.status < 300:
            self.result.fail(f"{method} {path} -> {resp.status}")
        return resp.status, data, ms

    def close(self) -> None:
        self.conn.close()


def ingest_serve(spark, work_dir: str, seed: int, seconds: int, tracer, t_start: float) -> Result:
    from pyspark.sql import functions as F

    from zombi_spark.sources.datasource import register_zombi_datasource
    from zombi_spark.streaming.http_edge import HttpIngestEdge
    from zombi_spark.streaming.ingest import StreamingIngest
    from zombi_spark.table.event_table import EventTable

    cfg = INGEST
    res = Result()
    register_zombi_datasource(spark)
    traffic = gen.IngestTraffic(seed, cfg["requests_per_cycle"], cfg["events_per_request"])
    kept_ts: list[int] = []  # event times of acked, non-repeated events
    acked = repeats = 0

    root = os.path.join(work_dir, "tables")
    ingests: dict[str, StreamingIngest] = {}

    def resolver(name: str, create: bool = True) -> StreamingIngest:
        if name not in ingests:
            if not create:
                raise KeyError(name)
            ingests[name] = StreamingIngest(
                spark, f"{root}/landing-{name}", EventTable(spark, root, name), f"{root}/ckpt-{name}"
            )
        return ingests[name]

    edge = HttpIngestEdge(resolver, workers=0).start()
    ing = resolver("ev")
    client = _Client(edge.base_url, res, tracer)

    def cycle(c: int, timed: bool) -> None:
        nonlocal acked, repeats
        requests = traffic.cycle_requests(c)
        t_cycle = time.perf_counter()
        acks = []
        for body, fresh_ts, n_repeats in requests:
            status, _, _ = client.request("POST", "/tables/ev/bulk", body, "ack")
            if status == 202:
                acks.append(time.perf_counter())
                kept_ts.extend(fresh_ts)
                acked += cfg["events_per_request"]
                repeats += n_repeats
                if timed:  # a repeated key is acked but not committed again
                    res.work_items += cfg["events_per_request"] - n_repeats
        if tracer:
            tracer.count("landing.pending_files", len(ing.zone.pending_files()))
        client.request("POST", "/tables/ev/flush", b"", "flush")
        t_flushed = time.perf_counter()
        status, data, _ = client.request("GET", "/tables/ev?limit=100", None, "tail_get")
        if status == 200:
            recs = json.loads(data)["records"]
            times = [r["timestamp_ms"] for r in recs]
            if len(recs) != 100 or times != sorted(times, reverse=True) or times[0] != max(kept_ts):
                res.fail(f"cycle {c}: tail read returned the wrong rows")
        hour = (gen.T0_MS + c * gen.INGEST_TRAFFIC["cycle_step_ms"]) // gen.HOUR_MS * gen.HOUR_MS
        in_hour = (F.col("timestamp_ms") >= hour) & (F.col("timestamp_ms") < hour + gen.HOUR_MS)
        res.attempted += 1
        span = tracer.span("scan.read_ms", request=True) if tracer else contextlib.nullcontext()
        with span:
            t0 = time.perf_counter()
            n = spark.read.format("zombi").load(ing.table.path).where(in_hour).count()
        if timed:
            res.sample("scan", (time.perf_counter() - t0) * 1000)
        if n != sum(hour <= t < hour + gen.HOUR_MS for t in kept_ts):
            res.fail(f"cycle {c}: range scan counted {n} rows")
        if tracer:
            version = ing.table.latest_version()
            t0 = time.perf_counter()
            planned = ing.table.scan_files(version=version, ts_min=hour, ts_max=hour + gen.HOUR_MS - 1)
            tracer.count("scan_plan.ms", (time.perf_counter() - t0) * 1000)
            tracer.count("scan.files_planned", len(planned))
            tracer.count("table.files", len(ing.table.scan_files(version=version)))
        if c % cfg["compact_every"] == cfg["compact_every"] - 1:
            status, data, _ = client.request("POST", "/tables/ev/compact", b"", "compact")
            if tracer:
                if status == 200 and json.loads(data).get("version") is not None:
                    v = json.loads(data)["version"]
                    with open(os.path.join(ing.table.meta_path, f"snap-{v:08d}.json")) as fh:
                        snap = json.load(fh)
                    tracer.count("compact.files_in", len(snap.get("removed", [])))
                    tracer.count("compact.files_out", len(snap.get("added", [])))
        if timed:
            res.op_ms.extend((t_flushed - a) * 1000 for a in acks)
            res.pass_s.append(time.perf_counter() - t_cycle)

    n_timed = max(3, round(seconds * cfg["cycles_per_second"]))
    try:
        for c in range(cfg["warmup_cycles"]):
            cycle(c, timed=False)
        if tracer:
            tracer.install()
        client.timed = True
        res.setup_s = time.perf_counter() - t_start
        for c in range(cfg["warmup_cycles"], cfg["warmup_cycles"] + n_timed):
            unit = tracer.unit(f"cycle{c}", "cycle", group=c) if tracer else contextlib.nullcontext()
            with unit:
                cycle(c, timed=True)
        if tracer:
            tracer.uninstall()
        res.attempted += 1
        parts = [
            (r.partition, r.n, r.lo, r.hi, r.d)
            for r in ing.table.read()
            .groupBy("partition")
            .agg(
                F.count("*").alias("n"), F.min("sequence").alias("lo"),
                F.max("sequence").alias("hi"), F.countDistinct("sequence").alias("d"),
            )
            .collect()
        ]
        ok, why = ingest_consistent(acked, repeats, parts)
        if not ok:
            res.fail(f"consistency: {why}")
    finally:
        client.close()
        edge.stop()
    return res


# --------------------------------------------------------------- query_mix


def query_mix(spark, work_dir: str, seed: int, seconds: int, tracer, t_start: float) -> Result:
    import __spark_entry__ as entry
    from zombi_spark.sources.tables import TABLES

    cfg = QUERIES
    res = Result()
    fixture = os.path.join(work_dir, "fixture")
    gen.write_fixture(seed, fixture)
    names = cfg["sql"] + cfg["corpus"]
    registry = entry.queries()
    oracle_sql = entry.oracle_sql()

    def run(name: str) -> float | None:
        res.attempted += 1
        t0 = time.perf_counter()
        try:
            registry[name](spark, fixture).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 — a failed query is a counted failure
            res.fail(f"{name}: {type(exc).__name__}: {exc}"[:300])
            return None
        return (time.perf_counter() - t0) * 1000

    # warm pass, untimed: each result is checked against the oracle once
    oracle = Oracle(fixture, TABLES)
    try:
        for name in names:
            res.attempted += 1
            try:
                df = registry[name](spark, fixture)
                rows = [list(r) for r in df.collect()]
                ocols, orows = oracle.rows(oracle_sql[name])
                if not rows_match(df.columns, rows, ocols, orows):
                    res.fail(f"{name}: result differs from the DuckDB oracle")
            except Exception as exc:  # noqa: BLE001
                res.fail(f"{name}: check raised {type(exc).__name__}: {exc}"[:300])
    finally:
        oracle.close()

    if tracer:
        tracer.install()
    res.setup_s = time.perf_counter() - t_start
    n_passes = max(2, round(seconds * cfg["passes_per_second"]))
    for p in range(n_passes):
        t_pass = time.perf_counter()
        for name in names:
            unit = tracer.unit(f"pass{p}:{name}", name, group=p) if tracer else contextlib.nullcontext()
            with unit:
                ms = run(name)
            if ms is not None:
                res.op_ms.append(ms)
                res.sample(name, ms)
                res.work_items += 1
        res.pass_s.append(time.perf_counter() - t_pass)
    if tracer:
        tracer.uninstall()
    return res


WORKLOADS = {"ingest_serve": ingest_serve, "query_mix": query_mix}
