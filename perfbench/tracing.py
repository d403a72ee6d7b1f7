"""Tracing for the ``--trace 1`` run: spans around calls into each
layer's public functions, plus the Spark status store and streaming
progress read after each unit (ingest cycle or query execution).

Nothing in ``zombi_spark`` is edited: ``install`` swaps module and class
attributes for timing wrappers and ``uninstall`` puts them back.
``streaming/ingest.py`` imports ``prepare_events`` by name, so that
binding is wrapped where it is looked up.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time
from collections import defaultdict

# per-layer metric -> unit, in the order BENCHMARK.json lists them
PER_LAYER = {
    "edge.requests": "count",
    "edge.non_2xx": "count",
    "edge.ack_ms": "ms",
    "edge.flush_ms": "ms",
    "edge.tail_get_ms": "ms",
    "edge.compact_ms": "ms",
    "landing.produce_ms": "ms",
    "landing.pending_files": "count",
    "ingest.trigger_ms": "ms",
    "ingest.add_batch_ms": "ms",
    "ingest.planning_ms": "ms",
    "ingest.offsets_ms": "ms",
    "ingest.wal_ms": "ms",
    "ingest.batches": "count",
    "ingest.start_stop_ms": "ms",
    "prepare.ms": "ms",
    "append.ms": "ms",
    "append.files_added": "count",
    "history.ms": "ms",
    "watermarks.ms": "ms",
    "tail.ms": "ms",
    "scan.read_ms": "ms",
    "scan_plan.ms": "ms",
    "scan.files_planned": "count",
    "table.files": "count",
    "compact.files_in": "count",
    "compact.files_out": "count",
    "iceberg.ms": "ms",
    "manifest.ms": "ms",
    "publish.calls": "count",
    "publish.ms": "ms",
    "publish.conflicts": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.exec_run_ms": "ms",
    "spark.exec_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.busy_frac": "fraction",
    "plan.ms": "ms",
    "driver_gap_ms": "ms",
    "py.boot_ms": "ms",
    "py.init_ms": "ms",
    "py.run_ms": "ms",
    "py.bytes_sent": "bytes",
    "py.bytes_recv": "bytes",
}

# SQL node metric name -> per-layer metric (Python worker boundary)
_PY_SQL_METRICS = {
    "time to start Python workers": "py.boot_ms",
    "time to initialize Python workers": "py.init_ms",
    "time to run Python workers": "py.run_ms",
    "data sent to Python workers": "py.bytes_sent",
    "data returned from Python workers": "py.bytes_recv",
}
_UNIT_SCALE = {
    "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}
_TOTAL = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)")


def parse_sql_total(text: str) -> float | None:
    """The total of a formatted SQL metric, e.g. ``'6.9 s (1.7 s, ...)'``
    -> 6900.0 (times in ms, sizes in bytes)."""
    m = _TOTAL.match(text or "")
    if not m or m.group(2) not in _UNIT_SCALE:
        return None
    return float(m.group(1).replace(",", "")) * _UNIT_SCALE[m.group(2)]


def _ms(jdate_opt) -> float | None:
    return float(jdate_opt.get().getTime()) if jdate_opt.isDefined() else None


def _union_ms(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class Tracer:
    def __init__(self, spark, cores: int):
        self.spark = spark
        self.cores = cores
        self.spans: list[dict] = []
        self.units: list[dict] = []  # one per cycle / query execution
        self._local = threading.local()
        self._lock = threading.Lock()
        self._unit: str | None = None
        self._request: dict | None = None  # the client's open request span
        self._patches: list[tuple[object, str, object]] = []
        self._counts: dict[str, float] = defaultdict(float)
        self._queries: list = []  # streaming queries started by a flush
        self._seen_jobs: set[int] = set()
        self._seen_execs: set[int] = set()

    # ------------------------------------------------------------ spans
    @contextlib.contextmanager
    def span(self, name: str, request: bool = False):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self._request
        rec = {
            "name": name,
            "start": time.time() * 1000,
            "parent": parent["id"] if parent else None,
            "unit": self._unit,
            "id": len(self.spans),
        }
        with self._lock:
            self.spans.append(rec)
        stack.append(rec)
        if request:
            self._request = rec
        try:
            yield rec
        finally:
            rec["end"] = time.time() * 1000
            stack.pop()
            if request:
                self._request = None

    def count(self, name: str, value: float = 1) -> None:
        with self._lock:
            self._counts[name] += value

    def _wrap(self, owner, attr: str, name: str, after=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if after is not None:
                after(out)
            return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def _mark_seen(self) -> None:
        """Mark every job and SQL execution the status store already
        holds as seen, so the first unit counts only its own work."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jobs = jsc.statusStore().jobsList(self.spark.sparkContext._gateway.jvm.java.util.ArrayList())
        self._seen_jobs.update(jobs.apply(i).jobId() for i in range(jobs.size()))
        execs = self.spark._jsparkSession.sharedState().statusStore().executionsList()
        self._seen_execs.update(execs.apply(i).executionId() for i in range(execs.size()))

    def install(self) -> None:
        """Wrap the layers' public functions. Work finished before this
        call is not counted in any unit."""
        self._mark_seen()
        from zombi_spark.streaming import ingest as ingest_mod
        from zombi_spark.streaming.ingest import StreamingIngest
        from zombi_spark.streaming.landing import LandingZone
        from zombi_spark.table import commit_backend, iceberg_meta, manifests
        from zombi_spark.table.event_table import EventTable

        self._wrap(LandingZone, "produce", "landing.produce_ms")
        self._wrap(ingest_mod, "prepare_events", "prepare.ms")
        self._wrap(StreamingIngest, "tail", "tail.ms")
        self._wrap(StreamingIngest, "start", "ingest.start", after=self._queries.append)
        self._wrap(
            EventTable, "append", "append.ms",
            after=lambda snap: self.count("append.files_added", len(snap.get("added", []))),
        )
        self._wrap(EventTable, "idempotency_history", "history.ms")
        self._wrap(EventTable, "watermark_map", "watermarks.ms")
        self._wrap(iceberg_meta, "write_metadata_for_commit", "iceberg.ms")
        self._wrap(manifests, "write_manifest", "manifest.ms")
        self._wrap(manifests, "write_manifest_list", "manifest.ms")

        orig_publish = commit_backend.publish_exclusive_retryable
        tracer = self

        def publish(*args, **kwargs):
            tracer.count("publish.calls")
            with tracer.span("publish.ms"):
                try:
                    return orig_publish(*args, **kwargs)
                except FileExistsError:
                    tracer.count("publish.conflicts")
                    raise

        self._patches.append((commit_backend, "publish_exclusive_retryable", orig_publish))
        commit_backend.publish_exclusive_retryable = publish

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # ------------------------------------------------------------ units
    @contextlib.contextmanager
    def unit(self, unit_id: str, kind: str, group: int):
        """One cycle or query execution: every span, count, streaming
        progress and Spark stage inside it is summed into one record.
        Per-layer metrics sum the units of a ``group`` (a cycle or a
        pass) and report the mean over groups."""
        self._unit = unit_id
        self._counts = defaultdict(float)
        self._queries.clear()
        start = time.time() * 1000
        try:
            yield
        finally:
            end = time.time() * 1000
            self._unit = None
            rec = self._summarize(unit_id, kind, start, end)
            rec["group"] = group
            self.units.append(rec)

    def _summarize(self, unit_id: str, kind: str, start: float, end: float) -> dict:
        rec: dict = {"unit": unit_id, "kind": kind, "wall_ms": end - start}
        rec.update({k: 0.0 for k in PER_LAYER})
        for s in self.spans:
            if s["unit"] == unit_id and s["name"] in PER_LAYER and "end" in s:
                rec[s["name"]] += s["end"] - s["start"]
        for k, v in self._counts.items():
            rec[k] = rec.get(k, 0.0) + v
        self._streaming_progress(rec)
        self._spark_metrics(rec, start, end)
        return rec

    def _streaming_progress(self, rec: dict) -> None:
        trigger = 0.0
        for q in self._queries:
            for p in q.recentProgress:
                d = p.durationMs or {}
                trigger += d.get("triggerExecution", 0)
                rec["ingest.add_batch_ms"] += d.get("addBatch", 0)
                rec["ingest.planning_ms"] += d.get("queryPlanning", 0)
                rec["ingest.offsets_ms"] += d.get("latestOffset", 0) + d.get("getBatch", 0)
                rec["ingest.wal_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
                rec["ingest.batches"] += 1
        rec["ingest.trigger_ms"] = trigger
        if self._queries:
            rec["ingest.start_stop_ms"] = max(rec["edge.flush_ms"] - trigger, 0.0)

    def _spark_metrics(self, rec: dict, start: float, end: float) -> None:
        """Jobs, stages and SQL executions that completed since the last
        unit (or since ``install``). One closed-loop client means
        everything new belongs to it."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = store.jobsList(self.spark.sparkContext._gateway.jvm.java.util.ArrayList())
        intervals = []
        rec["stages"] = []
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() in self._seen_jobs or not job.completionTime().isDefined():
                continue
            self._seen_jobs.add(job.jobId())
            rec["spark.jobs"] += 1
            stage_ids = job.stageIds()
            for j in range(stage_ids.size()):
                try:
                    st = store.lastStageAttempt(stage_ids.apply(j))
                except Exception:  # noqa: BLE001 — skipped stages have no attempt
                    continue
                a, b = _ms(st.submissionTime()), _ms(st.completionTime())
                if a is None or b is None:
                    continue
                intervals.append((max(a, start), min(b, end)))
                rec["stages"].append(
                    {"stage": st.stageId(), "start": a, "end": b, "run_ms": st.executorRunTime()}
                )
                rec["spark.stages"] += 1
                rec["spark.tasks"] += st.numTasks()
                rec["spark.exec_run_ms"] += st.executorRunTime()
                rec["spark.exec_cpu_ms"] += st.executorCpuTime() / 1e6
                rec["spark.gc_ms"] += st.jvmGcTime()
                rec["spark.shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                rec["spark.input_bytes"] += st.inputBytes()
        wall = end - start
        rec["spark.busy_frac"] = rec["spark.exec_run_ms"] / (wall * self.cores) if wall > 0 else 0.0
        rec["driver_gap_ms"] = max(wall - _union_ms([iv for iv in intervals if iv[1] > iv[0]]), 0.0)
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            eid = ex.executionId()
            if eid in self._seen_execs or not ex.completionTime().isDefined():
                continue
            self._seen_execs.add(eid)
            job_ids = [kv._1() for kv in _iter(ex.jobs())]
            firsts = [
                t for t in (_ms(store.job(j).submissionTime()) for j in job_ids) if t is not None
            ]
            if firsts:
                rec["plan.ms"] += max(min(firsts) - ex.submissionTime(), 0)
            values = {kv._1(): kv._2() for kv in _iter(sql.executionMetrics(eid))}
            metrics = ex.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                key = _PY_SQL_METRICS.get(m.name())
                if key is not None:
                    rec[key] += parse_sql_total(values.get(m.accumulatorId(), "")) or 0.0

    # ----------------------------------------------------------- output
    def per_layer(self) -> dict[str, float]:
        """Each per-layer metric: the mean over groups of its sum over
        the group's units (busy_frac: over the group's wall time). A mean,
        so work done every K-th cycle counts at its per-cycle share."""
        groups: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for u in self.units:
            g = groups[u["group"]]
            for k in PER_LAYER:
                g[k] += u[k]
            g["spark.busy_run_ms"] += u["spark.exec_run_ms"]
            g["wall_ms"] += u["wall_ms"]
        for g in groups.values():
            g["spark.busy_frac"] = g["spark.busy_run_ms"] / (g["wall_ms"] * self.cores)
        return {k: sum(g[k] for g in groups.values()) / len(groups) for k in PER_LAYER}

    def write(self, path: str, extra: dict) -> None:
        """Spans (with self time: duration less the union of the child
        spans) and unit records, as one JSON document. Each stage is
        attributed to the innermost span of its unit whose interval
        contains it."""
        children: dict[int, list] = defaultdict(list)
        by_unit: dict[str, list] = defaultdict(list)
        for s in self.spans:
            if "end" in s:
                by_unit[s["unit"]].append(s)
                if s["parent"] is not None:
                    children[s["parent"]].append((s["start"], s["end"]))
        for s in self.spans:
            if "end" in s:
                s["self_ms"] = (s["end"] - s["start"]) - _union_ms(children[s["id"]])
        for u in self.units:
            for st in u["stages"]:
                inside = [
                    s for s in by_unit[u["unit"]] if s["start"] <= st["start"] and st["end"] <= s["end"]
                ]
                st["span"] = max(inside, key=lambda s: s["start"])["id"] if inside else None
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({**extra, "units": self.units, "spans": self.spans}, fh)


def _iter(scala_map):
    it = scala_map.iterator()
    while it.hasNext():
        yield it.next()
