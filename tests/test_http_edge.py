"""HTTP ingest edge tests — the reference's gateway surface end-to-end
over real HTTP: JSON + protobuf writes, bulk, validation 400s, admission
503s, tail reads with projection + has_more, flush, health
(integration_tests.rs:617-744, 1138-1199, 1262-1386 intent)."""

import json
import urllib.error
import urllib.request

import pytest

from zombi_spark.ingest.protobuf import encode_event
from zombi_spark.streaming.http_edge import HttpIngestEdge
from zombi_spark.streaming.ingest import StreamingIngest
from zombi_spark.table.event_table import EventTable


def _call(url, method="GET", body=None, headers=None):
    req = urllib.request.Request(url, data=body, method=method, headers=headers or {})
    try:
        with urllib.request.urlopen(req, timeout=600) as resp:
            return resp.status, json.loads(resp.read() or b"{}")
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read() or b"{}")


@pytest.fixture()
def edge(spark, tmp_path):
    ingests: dict[str, StreamingIngest] = {}

    def resolver(name: str, create: bool) -> StreamingIngest:
        if name not in ingests:
            if not create:  # reads on unknown tables must 404
                raise KeyError(name)
            # lazy create on first write (S1 contract)
            table = EventTable(spark, str(tmp_path), name)
            ingests[name] = StreamingIngest(
                spark,
                str(tmp_path / f"landing-{name}"),
                table,
                str(tmp_path / f"ckpt-{name}"),
                landing_byte_budget=64 * 1024,
            )
        return ingests[name]

    with HttpIngestEdge(resolver) as srv:
        yield srv, ingests


def test_single_write_flush_and_tail(edge):
    srv, ingests = edge
    base = srv.base_url

    status, body = _call(
        f"{base}/tables/events",
        "POST",
        json.dumps(
            {"payload": '{"v":1}', "partition": 0, "timestamp_ms": 1704067200000}
        ).encode(),
    )
    assert status == 202 and body["accepted"] and body["count"] == 1
    # second write with defaulted timestamp (server time, F3)
    status, _ = _call(
        f"{base}/tables/events", "POST", json.dumps({"payload": '{"v":2}'}).encode()
    )
    assert status == 202

    # hot rows visible over HTTP before any flush (L1 visibility)
    status, got = _call(f"{base}/tables/events?limit=10&fields=payload,committed")
    assert status == 200 and len(got["records"]) == 2
    assert all(r["committed"] is False for r in got["records"])

    status, body = _call(f"{base}/tables/events/flush", "POST", b"")
    assert status == 200 and body["flushed"]
    assert ingests["events"].table.read().count() == 2

    status, got = _call(
        f"{base}/tables/events?limit=10&fields=sequence,payload,timestamp_ms,committed"
    )
    assert status == 200 and got["has_more"] is False
    assert all(r["committed"] is True for r in got["records"])
    assert {r["payload"] for r in got["records"]} == {'{"v":1}', '{"v":2}'}
    assert all(r["sequence"] is not None for r in got["records"])

    # has_more via limit+1 probe
    status, got = _call(f"{base}/tables/events?limit=1")
    assert got["has_more"] is True and len(got["records"]) == 1
    # default projection = {payload, timestamp_ms} (P2)
    assert set(got["records"][0]) == {"payload", "timestamp_ms"}


def test_bulk_and_protobuf_writes(edge):
    srv, ingests = edge
    base = srv.base_url

    records = [
        {"payload": f"p-{i}", "partition": i % 2, "timestamp_ms": 1704067200000 + i}
        for i in range(6)
    ]
    status, body = _call(
        f"{base}/tables/bulked/bulk", "POST", json.dumps({"records": records}).encode()
    )
    assert status == 202 and body["count"] == 6

    # protobuf single write with X-Partition header (S2)
    blob = encode_event(b'{"pb":1}', timestamp_ms=1704067200999, idempotency_key="k1")
    status, _ = _call(
        f"{base}/tables/bulked",
        "POST",
        blob,
        headers={"Content-Type": "application/x-protobuf", "X-Partition": "1"},
    )
    assert status == 202

    _call(f"{base}/tables/bulked/flush", "POST", b"")
    rows = {r.payload.decode(): r for r in ingests["bulked"].table.read().collect()}
    assert len(rows) == 7
    assert rows['{"pb":1}'].partition == 1
    assert rows['{"pb":1}'].idempotency_key == "k1"


def test_validation_and_admission_status_codes(edge):
    srv, _ = edge
    base = srv.base_url

    # invalid table name → 400 (P9)
    status, body = _call(
        f"{base}/tables/9bad%0Aname", "POST", json.dumps({"payload": "x"}).encode()
    )
    assert status == 400 and "invalid table name" in body["error"]["message"]
    # malformed protobuf → 400 (the reference 400s decode errors)
    status, body = _call(
        f"{base}/tables/events",
        "POST",
        b"\x0a\xff",
        headers={"Content-Type": "application/x-protobuf"},
    )
    assert status == 400 and "protobuf" in body["error"]["message"]
    # missing payload → 400
    status, _ = _call(f"{base}/tables/events", "POST", json.dumps({"partition": 1}).encode())
    assert status == 400
    # unknown projection field → 400
    status, body = _call(f"{base}/tables/events?fields=payload,nope")
    assert status == 400 and "unknown fields" in body["error"]["message"]

    # admission control: flood past the 64 KiB budget → 503 (T10)
    big = json.dumps({"payload": "x" * 1024}).encode()
    saw_503 = False
    for _ in range(200):
        status, body = _call(f"{base}/tables/flooded", "POST", big)
        if status == 503:
            saw_503 = True
            break
        assert status == 202
    assert saw_503
    # health reports the 503 state over HTTP
    status, h = _call(f"{base}/tables/flooded/health")
    assert status == 200 and h["admission"]["status"] == 503


def test_arrow_negotiation_metadata_watermark_compact(edge):
    """S12 Arrow IPC via Accept negotiation (q-values, F9), M5 metadata +
    watermark introspection, and M1 compaction over HTTP."""
    import io

    import pyarrow as pa

    srv, ingests = edge
    base = srv.base_url
    for i in range(4):
        _call(
            f"{base}/tables/arrowed",
            "POST",
            json.dumps(
                {"payload": f"p-{i}", "partition": 0, "timestamp_ms": 1704067200000 + i}
            ).encode(),
        )
    _call(f"{base}/tables/arrowed/flush", "POST", b"")

    # Arrow outranks JSON in the Accept header → IPC stream comes back
    req = urllib.request.Request(
        f"{base}/tables/arrowed?limit=3&fields=sequence,payload",
        headers={"Accept": "application/vnd.apache.arrow.stream;q=0.9, application/json;q=0.5"},
    )
    with urllib.request.urlopen(req, timeout=600) as resp:
        assert resp.status == 200
        assert resp.headers["Content-Type"].startswith("application/vnd.apache.arrow.stream")
        assert resp.headers["X-Has-More"] == "true"  # 4 rows, limit 3
        tbl = pa.ipc.open_stream(io.BytesIO(resp.read())).read_all()
    assert tbl.num_rows == 3 and set(tbl.column_names) == {"sequence", "payload"}

    # JSON preferred (higher q) → JSON body
    req = urllib.request.Request(
        f"{base}/tables/arrowed?limit=3",
        headers={"Accept": "application/json;q=1.0, application/vnd.apache.arrow.stream;q=0.2"},
    )
    with urllib.request.urlopen(req, timeout=600) as resp:
        assert resp.headers["Content-Type"].startswith("application/json")

    status, meta = _call(f"{base}/tables/arrowed/metadata")
    assert status == 200
    assert meta["table_metadata"]["partition_spec"] == ["event_date", "event_hour"]
    assert len(meta["snapshots"]) == 1
    assert meta["snapshots"][0]["operation"] == "append"

    status, wm = _call(f"{base}/tables/arrowed/watermark")
    assert status == 200 and wm["committed_watermarks"] == {"arrowed/0": 4}

    # more appends create small files; compact over HTTP merges them
    for i in range(4, 8):
        _call(
            f"{base}/tables/arrowed",
            "POST",
            json.dumps(
                {"payload": f"p-{i}", "partition": 0, "timestamp_ms": 1704067200000 + i}
            ).encode(),
        )
    _call(f"{base}/tables/arrowed/flush", "POST", b"")
    status, result = _call(f"{base}/tables/arrowed/compact?min_input_files=2", "POST", b"")
    assert status == 200 and result["files_rewritten"] >= 2
    assert ingests["arrowed"].table.read().count() == 8


def test_write_combiner_batches_and_fails_atomically(spark, tmp_path):
    """S4 combiner semantics: concurrent submits land as ONE file, every
    submitter acks after the batch is durable, and a failed flush
    (admission reject) fails every submitter in the batch."""
    import os
    from concurrent.futures import ThreadPoolExecutor

    from zombi_spark.streaming.ingest import (
        AdmissionRejected,
        StreamingIngest,
        WriteCombiner,
    )

    landing = str(tmp_path / "landing")
    table = EventTable(spark, str(tmp_path), "combined")
    ing = StreamingIngest(spark, landing, table, str(tmp_path / "ckpt"))
    comb = WriteCombiner(ing, max_events=512, max_wait_ms=30.0)

    def ev(i):
        return {
            "topic": "combined",
            "partition": 0,
            "payload": f"p-{i}",
            "timestamp_ms": 1704067200000 + i,
            "idempotency_key": None,
            "ingest_order": i,
        }

    with ThreadPoolExecutor(16) as ex:
        list(ex.map(lambda i: comb.submit(ev(i)), range(64)))
    files = [f for f in os.listdir(landing) if f.endswith(".json")]
    assert 1 <= len(files) <= 8  # 64 events in a handful of files, not 64
    total = sum(1 for f in files for _l in open(os.path.join(landing, f)))
    assert total == 64
    comb.close()

    # atomic failure: an over-budget ingest rejects the WHOLE batch
    ing2 = StreamingIngest(
        spark, str(tmp_path / "landing2"), table, str(tmp_path / "ckpt2"),
        landing_byte_budget=1,
    )
    comb2 = WriteCombiner(ing2, max_wait_ms=10.0)
    comb2.submit(ev(0))  # first batch admitted (semaphore last-permit)
    import pytest

    with pytest.raises(AdmissionRejected):
        comb2.submit(ev(1))
    comb2.close()


def test_reads_on_unknown_tables_404_and_scalar_bodies_400(edge):
    """Read-only traffic never fabricates table state (GET/flush/compact
    on an unknown table → 404), and degenerate JSON bodies (scalars)
    return 400 instead of dropping the connection."""
    srv, ingests = edge
    base = srv.base_url
    for path, method in (
        ("/tables/ghost", "GET"),
        ("/tables/ghost/health", "GET"),
        ("/tables/ghost/metadata", "GET"),
        ("/tables/ghost/flush", "POST"),
        ("/tables/ghost/compact", "POST"),
    ):
        status, body = _call(f"{base}{path}", method, b"" if method == "POST" else None)
        assert status == 404, (path, status)
    assert "ghost" not in ingests  # nothing was created

    status, _ = _call(f"{base}/tables/events", "POST", b"42")
    assert status == 400
    status, _ = _call(f"{base}/tables/events/bulk", "POST", b'{"records": [1, 2]}')
    assert status == 400
    status, _ = _call(f"{base}/tables/events/bulk", "POST", b'[{"payload": "x"}]')
    assert status == 400


def test_concurrent_maintenance_409(edge):
    """The reference 409s a concurrent compaction (per-topic in-progress
    set, compaction.rs:98-137); the edge serializes flush/compact per
    table the same way — one proceeds, overlapping requests 409."""
    from concurrent.futures import ThreadPoolExecutor

    srv, _ = edge
    base = srv.base_url
    for i in range(40):
        _call(
            f"{base}/tables/racy",
            "POST",
            json.dumps(
                {"payload": f"p-{i}", "partition": 0, "timestamp_ms": 1704067200000 + i}
            ).encode(),
        )
    with ThreadPoolExecutor(4) as ex:
        codes = sorted(
            s
            for s, _b in ex.map(
                lambda _i: _call(f"{base}/tables/racy/flush", "POST", b""), range(4)
            )
        )
    assert codes.count(200) >= 1 and codes.count(409) >= 1
    assert set(codes) <= {200, 409}
    # everything still drains with a final serial flush
    _call(f"{base}/tables/racy/flush", "POST", b"")
    status, got = _call(f"{base}/tables/racy?limit=100&fields=sequence,committed")
    assert status == 200
    assert sum(1 for r in got["records"] if r["committed"]) == 40


def test_keep_alive_survives_errors_and_negotiation_honors_q0(edge):
    """Protocol hardening from review: error responses drain the request
    body so a keep-alive connection stays usable; negative limits 400;
    q=0 means not-acceptable (no Arrow for a client that refused it);
    empty proto bulk 400s like the JSON path; flush reports honestly."""
    import http.client

    srv, _ = edge
    host, port = srv._httpd.server_address[:2]
    conn = http.client.HTTPConnection(host, port)

    # a 400 WITH a body, then a valid request on the SAME connection
    conn.request("POST", "/tables/9bad", json.dumps({"payload": "x" * 500}).encode())
    r = conn.getresponse()
    assert r.status == 400
    r.read()
    conn.request("POST", "/tables/events", json.dumps({"payload": "ok"}).encode())
    r = conn.getresponse()
    assert r.status == 202  # connection not desynced by the unread body
    r.read()

    # negative limit → 400, not a dropped connection
    conn.request("GET", "/tables/events?limit=-2")
    r = conn.getresponse()
    assert r.status == 400
    r.read()

    # q=0 Arrow is NOT acceptable → JSON comes back
    conn.request(
        "GET",
        "/tables/events?limit=1",
        headers={"Accept": "application/vnd.apache.arrow.stream;q=0, */*;q=0.1"},
    )
    r = conn.getresponse()
    assert r.headers["Content-Type"].startswith("application/json")
    r.read()

    # empty protobuf bulk body → 400 (parity with the JSON branch)
    conn.request(
        "POST", "/tables/events/bulk", b"",
        headers={"Content-Type": "application/x-protobuf"},
    )
    r = conn.getresponse()
    assert r.status == 400
    r.read()
    conn.close()


def test_metrics_exposition_over_http(edge):
    """GET /metrics serves the Prometheus text exposition for every
    table the edge has seen — table gauges plus admission state
    (handlers.rs:1532-1691)."""
    srv, _ = edge
    base = srv.base_url
    _call(f"{base}/tables/metered", "POST", json.dumps({"payload": "x"}).encode())
    _call(f"{base}/tables/metered/flush", "POST", b"")

    req = urllib.request.Request(f"{base}/metrics")
    with urllib.request.urlopen(req, timeout=600) as resp:
        assert resp.status == 200
        assert resp.headers["Content-Type"].startswith("text/plain")
        text = resp.read().decode()
    assert '+zombi_table_rows{table="metered"}'[1:] in text
    assert 'zombi_landing_backlog_bytes{table="metered"} 0' in text
    assert 'zombi_landing_accepting{table="metered"} 1' in text
    assert "# TYPE zombi_table_files gauge" in text


def test_server_level_health_probes(edge):
    """Server /health, /health/live, /health/ready
    (handlers.rs:1035-1041): live always true; ready aggregates every
    known table's metadata state."""
    srv, _ = edge
    base = srv.base_url
    status, h = _call(f"{base}/health/live")
    assert status == 200 and h == {"live": True}
    status, h = _call(f"{base}/health")
    assert status == 200 and h["live"] is True
    _call(f"{base}/tables/healthy", "POST", json.dumps({"payload": "x"}).encode())
    _call(f"{base}/tables/healthy/flush", "POST", b"")
    status, h = _call(f"{base}/health")
    assert h["tables"]["healthy"]["ready"] is True
    status, h = _call(f"{base}/health/ready")
    assert status == 200 and h == {"ready": True}


def test_multiprocess_write_plane(spark, tmp_path):
    """workers=N: the write plane spreads over SO_REUSEPORT worker
    PROCESSES (single + bulk POSTs land without touching the parent's
    GIL or Spark), reads/maintenance proxy back to the Spark-attached
    parent, and everything acked anywhere is durable, exactly once, in
    gapless per-partition sequence order after a flush — the reference's
    L5 consistency contract across a multi-process edge."""
    import http.client
    import os

    from pyspark.sql import functions as F

    ingests: dict[str, StreamingIngest] = {}

    def resolver(name: str, create: bool) -> StreamingIngest:
        if name not in ingests:
            if not create:
                raise KeyError(name)
            table = EventTable(spark, str(tmp_path), name)
            ingests[name] = StreamingIngest(
                spark,
                str(tmp_path / f"landing-{name}"),
                table,
                str(tmp_path / f"ckpt-{name}"),
            )
        return ingests[name]

    with HttpIngestEdge(resolver, workers=2) as srv:
        host, port = srv._httpd.server_address[:2]
        # fresh connection per request → the kernel spreads connections
        # across the 3 listeners (parent + 2 workers)
        pids, acked = set(), 0
        for i in range(30):
            conn = http.client.HTTPConnection(host, port)
            conn.request(
                "POST",
                "/tables/mp",  # lazily created via the worker→parent resolve
                json.dumps({"payload": f'{{"i":{i}}}', "partition": i % 4}).encode(),
            )
            r = conn.getresponse()
            r.read()
            pids.add(r.getheader("X-Edge-Pid"))
            acked += r.status == 202
            conn.close()
        assert acked == 30
        assert len(pids) >= 2, f"writes all served by one process: {pids}"
        # bulk write through whichever process answers
        conn = http.client.HTTPConnection(host, port)
        conn.request(
            "POST",
            "/tables/mp/bulk",
            json.dumps({"records": [{"payload": f"p{i}"} for i in range(50)]}).encode(),
        )
        r = conn.getresponse()
        assert r.status == 202 and json.loads(r.read())["count"] == 50
        conn.close()
        # reads + maintenance work from ANY connection; when a worker
        # answers, the response carries the proxy marker — prove at least
        # one request in this loop traversed the worker→parent proxy
        proxied = False
        for _ in range(20):
            conn = http.client.HTTPConnection(host, port)
            conn.request("GET", "/tables/mp?limit=3&fields=payload,partition")
            r = conn.getresponse()
            body = json.loads(r.read())
            assert r.status == 200 and len(body["records"]) == 3
            proxied = proxied or r.getheader("X-Edge-Proxied-By") is not None
            conn.close()
            if proxied:
                break
        assert proxied, "no request was served via a worker proxy in 20 tries"
        # flush over HTTP (proxied when a worker answers) and verify the
        # consistency contract
        # the /internal control plane must never leak onto the public
        # port — workers 404 it instead of proxying to the internal
        # listener, matching the parent's public behavior
        for _ in range(8):
            conn = http.client.HTTPConnection(host, port)
            conn.request("POST", "/internal/resolve", json.dumps({"table": "mp"}).encode())
            r = conn.getresponse()
            r.read()
            assert r.status == 404
            conn.close()
        status, _ = _call(f"http://{host}:{port}/tables/mp/flush", "POST", b"")
        assert status == 200
        procs = [proc for proc, _ready in srv._worker_procs]
        df = ingests["mp"].table.read()
        assert df.count() == 30 + 50
        seq = df.groupBy("partition").agg(
            F.count("*").alias("n"),
            F.max("sequence").alias("hwm"),
            F.countDistinct("sequence").alias("d"),
        )
        for row in seq.collect():
            assert row.n == row.d == row.hwm, f"sequence gap in partition {row}"
    # after stop(): worker processes are gone
    assert len(procs) == 2 and not any(p.is_alive() for p in procs)


def test_consumer_offsets_over_http(edge):
    """T12 route parity (handlers.rs:1146-1188): commit is a last-write-
    wins put keyed (group, topic, partition); a new group reads null; an
    unknown topic 404s without fabricating table state."""
    srv, ingests = edge
    base = srv.base_url
    # the topic's table must exist first (write-through creates it)
    _call(f"{base}/tables/events", "POST", json.dumps({"payload": "x"}).encode())

    status, body = _call(
        f"{base}/consumers/g1/commit",
        "POST",
        json.dumps({"topic": "events", "partition": 0, "offset": 42}).encode(),
    )
    assert status == 200 and body == {
        "group": "g1", "topic": "events", "partition": 0, "offset": 42
    }
    # last-write-wins
    _call(
        f"{base}/consumers/g1/commit",
        "POST",
        json.dumps({"topic": "events", "partition": 0, "offset": 57}).encode(),
    )
    status, body = _call(f"{base}/consumers/g1/offset?topic=events&partition=0")
    assert status == 200 and body["offset"] == 57
    # new group: null offset (client starts at the low watermark)
    status, body = _call(f"{base}/consumers/fresh/offset?topic=events&partition=0")
    assert status == 200 and body["offset"] is None
    # unknown topic: 404, and no table state fabricated
    status, _ = _call(
        f"{base}/consumers/g1/commit",
        "POST",
        json.dumps({"topic": "ghost", "partition": 0, "offset": 1}).encode(),
    )
    assert status == 404 and "ghost" not in ingests
    # survives restart via the library store (same file the offline
    # ConsumerOffsets reads)
    from zombi_spark.streaming.offsets import ConsumerOffsets

    assert ConsumerOffsets(ingests["events"].table.path).get("g1", 0) == 57


def test_server_stats_rollup(edge):
    """GET /stats (handlers.rs:1070-1143 shape): uptime + process
    request counters + durable per-table rollups with admission state."""
    srv, _ingests = edge
    base = srv.base_url
    for i in range(3):
        _call(f"{base}/tables/metered", "POST", json.dumps({"payload": f"x{i}"}).encode())
    _call(f"{base}/tables/metered?limit=2")  # one read
    _call(f"{base}/tables/9badname", "POST", b"{}")  # one error (400)
    status, body = _call(f"{base}/stats")
    assert status == 200
    assert body["uptime_secs"] > 0
    assert body["writes"]["events"] >= 3 and body["writes"]["bytes_total"] > 0
    assert body["reads"]["requests"] >= 1
    assert body["errors_total"] >= 1
    t = body["tables"]["metered"]
    assert t["admission"]["status"] in (200, 503)
    assert "total_rows" in t and "current_version" in t


def test_worker_sigkill_loses_no_acked_writes(spark, tmp_path):
    """Hard-kill (SIGKILL — no graceful drain) one write-plane worker
    mid-traffic: every event acked 202 by ANY process must survive to
    the committed table exactly once, and the port must keep serving
    (the kernel drops the dead listener from the SO_REUSEPORT group).
    Acks happen only after the combiner's durable landing, so a kill can
    lose at most unacked in-flight requests — which clients retry with
    idempotency keys, the reference's own contract."""
    import http.client
    import os
    import signal as _signal
    import time

    ingests: dict[str, StreamingIngest] = {}

    def resolver(name: str, create: bool) -> StreamingIngest:
        if name not in ingests:
            if not create:
                raise KeyError(name)
            table = EventTable(spark, str(tmp_path), name)
            ingests[name] = StreamingIngest(
                spark,
                str(tmp_path / f"landing-{name}"),
                table,
                str(tmp_path / f"ckpt-{name}"),
            )
        return ingests[name]

    def post_event(host, port, key):
        body = json.dumps(
            {"payload": f'{{"k":"{key}"}}', "partition": 0, "idempotency_key": key}
        ).encode()
        for _attempt in range(6):  # retry across the kill window
            try:
                conn = http.client.HTTPConnection(host, port, timeout=30)
                conn.request("POST", "/tables/chaos", body)
                r = conn.getresponse()
                r.read()
                conn.close()
                if r.status == 202:
                    return True
            except OSError:
                time.sleep(0.1)
        return False

    with HttpIngestEdge(resolver, workers=2) as srv:
        host, port = srv._httpd.server_address[:2]
        acked = [f"pre-{i}" for i in range(30) if post_event(host, port, f"pre-{i}")]
        victim = srv._worker_procs[0][0]
        os.kill(victim.pid, _signal.SIGKILL)
        victim.join(timeout=10)
        assert not victim.is_alive()
        acked += [f"post-{i}" for i in range(30) if post_event(host, port, f"post-{i}")]
        assert len(acked) == 60  # the surviving listeners kept serving
        status, _ = _call(f"http://{host}:{port}/tables/chaos/flush", "POST", b"")
        assert status == 200
        rows = ingests["chaos"].table.read().select("idempotency_key").collect()
        keys = [r.idempotency_key for r in rows]
        assert len(keys) == len(set(keys)), "duplicate committed events"
        missing = set(acked) - set(keys)
        assert not missing, f"acked events lost: {sorted(missing)[:5]}"


def test_rollup_over_http(edge):
    """POST /tables/{t}/rollup folds only the new appends; GET serves
    the O(keys) state with the position it reflects."""
    srv, ingests = edge
    base = srv.base_url
    for i in range(6):
        _call(
            f"{base}/tables/rolled",
            "POST",
            json.dumps(
                {"payload": f"p{i}", "partition": i % 2, "timestamp_ms": 1704067200000 + i}
            ).encode(),
        )
    _call(f"{base}/tables/rolled/flush", "POST", b"")
    status, rep = _call(f"{base}/tables/rolled/rollup", "POST", b"")
    assert status == 200 and rep["delta_rows"] == 6
    status, body = _call(f"{base}/tables/rolled/rollup")
    assert status == 200
    assert body["position"] == ingests["rolled"].table.latest_version()
    assert sum(r["n_events"] for r in body["rows"]) == 6
    assert {r["partition"] for r in body["rows"]} == {0, 1}
    assert all(r["max_ts"] >= r["min_ts"] for r in body["rows"])
    # idempotent: nothing new → no-op refresh
    status, rep2 = _call(f"{base}/tables/rolled/rollup", "POST", b"")
    assert status == 200 and rep2["to_version"] is None
    # malformed / negative limit → 400 envelope, not a dropped socket
    status, body = _call(f"{base}/tables/rolled/rollup?limit=abc")
    assert status == 400
    status, body = _call(f"{base}/tables/rolled/rollup?limit=-1")
    assert status == 400 and "limit" in body["error"]["message"]


def test_retention_over_http(edge):
    """POST /tables/{t}/retention?older_than_ms= — the metadata-only
    cold-tier delete with validation and the shared maintenance lock."""
    srv, ingests = edge
    base = srv.base_url
    day = 24 * 3600 * 1000
    old_t, new_t = 1704067200000, 1704067200000 + 30 * day
    for ts in (old_t, old_t + 1, new_t, new_t + 1):
        _call(
            f"{base}/tables/aged",
            "POST",
            json.dumps({"payload": "x", "timestamp_ms": ts}).encode(),
        )
    _call(f"{base}/tables/aged/flush", "POST", b"")
    status, body = _call(f"{base}/tables/aged/retention", "POST", b"")
    assert status == 400  # cutoff required
    status, rep = _call(
        f"{base}/tables/aged/retention?older_than_ms={old_t + 15 * day}", "POST", b""
    )
    assert status == 200 and rep["rows_removed"] == 2
    assert ingests["aged"].table.read().count() == 2


def _raw_request(host, port, request: bytes):
    """Send ``request`` verbatim on a fresh connection → (status, body)."""
    import http.client

    conn = http.client.HTTPConnection(host, port, timeout=30)
    conn.connect()
    conn.sock.sendall(request)
    resp = http.client.HTTPResponse(conn.sock, method="POST")
    resp.begin()
    body = resp.read()
    conn.close()
    return resp.status, body


def _assert_bad_framing_refused(host, port, path: str):
    """Bad/negative Content-Length → 400, over-cap → 413 WITHOUT
    buffering, chunked → 501 — each answered within the socket timeout
    (the shared request layer of the edge and the REST catalog)."""
    head = f"POST {path} HTTP/1.1\r\nHost: x\r\n".encode()
    # non-numeric Content-Length
    assert _raw_request(host, port, head + b"Content-Length: abc\r\n\r\n")[0] == 400
    # negative Content-Length (rfile.read(-1) would block forever)
    assert _raw_request(host, port, head + b"Content-Length: -1\r\n\r\n")[0] == 400
    # oversized: refused from the header alone, nothing buffered
    assert _raw_request(host, port, head + b"Content-Length: 99999999999\r\n\r\n")[0] == 413
    # chunked transfer encoding: explicit 501, not silent desync
    status, _ = _raw_request(
        host, port, head + b"Transfer-Encoding: chunked\r\n\r\n5\r\nhello\r\n0\r\n\r\n"
    )
    assert status == 501


def test_body_framing_protections(edge):
    """Malformed framing must answer an error and close the connection,
    never hang a thread or desync keep-alive: bad/negative
    Content-Length → 400, over-cap → 413 WITHOUT buffering, chunked →
    501; an out-of-int32 partition → 400 instead of a 202 whose row the
    landing-schema read would silently null."""
    srv, _ = edge
    host, port = srv._httpd.server_address[:2]
    _assert_bad_framing_refused(host, port, "/tables/events")

    # partition past int32 → 400 (the protobuf decoder's rule, applied
    # to the JSON path too)
    status, body = _call(
        f"http://{host}:{port}/tables/events",
        "POST",
        json.dumps({"payload": "x", "partition": 2**32}).encode(),
    )
    assert status == 400 and "partition" in body["error"]["message"]
    status, _ = _call(
        f"http://{host}:{port}/tables/events",
        "POST",
        json.dumps({"payload": "x", "partition": -1}).encode(),
    )
    assert status == 400
    # tail limit is capped (the collect lands on the serving process)
    status, body = _call(f"http://{host}:{port}/tables/events?limit=100000000")
    assert status == 400 and "limit" in body["error"]["message"]


def test_catalog_body_framing_and_keep_alive(tmp_path):
    """The REST catalog answers malformed framing like the edge, and an
    error reply or a GET with a body leaves the keep-alive connection
    usable (the next request is answered, not parsed out of the unread
    body)."""
    import http.client

    from zombi_spark.table.catalog import Catalog
    from zombi_spark.table.rest_catalog import RestCatalogServer

    with RestCatalogServer(Catalog(None, str(tmp_path))) as srv:
        host, port = srv._httpd.server_address[:2]
        _assert_bad_framing_refused(host, port, "/catalog/v1/namespaces/zombi/tables")
        conn = http.client.HTTPConnection(host, port, timeout=30)
        conn.request("POST", "/catalog/v1/namespaces/ghost/tables", b'{"name": "hello"}')
        r = conn.getresponse()
        assert r.status == 404 and json.loads(r.read())["error"]["code"] == 404
        conn.request("GET", "/catalog/v1/config")
        r = conn.getresponse()
        assert r.status == 200 and json.loads(r.read())["overrides"]["warehouse"]
        conn.request("GET", "/catalog/v1/namespaces", body=b"hello")
        r = conn.getresponse()
        assert r.status == 200 and json.loads(r.read()) == {"namespaces": [["zombi"]]}
        conn.request("GET", "/catalog/v1/config")
        r = conn.getresponse()
        assert r.status == 200
        r.read()
        conn.close()


def test_latency_histograms_streaming_semantics():
    """The reference's histogram primitive (metrics/histogram.rs:1-220),
    unit-level: cumulative buckets, sum/count, exposition format, and
    the bucket-boundary percentile."""
    from zombi_spark.streaming.metrics import HISTOGRAM_BUCKETS_US, LatencyHistogram

    h = LatencyHistogram()
    for v in (50, 100, 500):
        h.observe(v)
    total, count, buckets = h.snapshot()
    assert (total, count) == (650, 3)
    by = dict(zip(HISTOGRAM_BUCKETS_US, buckets))
    # cumulative: each bucket includes every smaller observation
    assert by[10] == 0 and by[25] == 0
    assert by[50] == 1 and by[100] == 2 and by[250] == 2
    assert by[500] == 3 and by[50_000] == 3
    # past-the-last-boundary values appear only in +Inf (= count)
    h.observe(10_000_000)
    _, count2, buckets2 = h.snapshot()
    assert count2 == 4 and buckets2[-1] == 3
    # percentiles read off the boundaries
    assert h.percentile(0.5) == 100
    # target past the last boundary: +Inf, never the last boundary
    # (which would falsely answer 50ms for a minutes-long observation)
    assert h.percentile(0.99) == float("inf")
    # flush-scale set: a 10s drain lands in a real bucket
    from zombi_spark.streaming.metrics import FLUSH_BUCKETS_US

    fh = LatencyHistogram(buckets=FLUSH_BUCKETS_US)
    fh.observe(10_000_000)
    assert fh.percentile(0.5) == 10_000_000
    text = h.format_prometheus("zombi_write_latency_us", "write latency")
    assert '# TYPE zombi_write_latency_us histogram' in text
    assert 'zombi_write_latency_us_bucket{le="100"} 2' in text
    assert 'zombi_write_latency_us_bucket{le="+Inf"} 4' in text
    assert "zombi_write_latency_us_count 4" in text
    assert LatencyHistogram().percentile(0.5) is None


def test_metrics_expose_latency_histograms(edge):
    """A6/M6 over the wire: writes and tail reads populate the
    write/read latency histograms and /metrics serves them in Prometheus
    histogram form alongside the table gauges."""
    srv, _ingests = edge
    base = srv.base_url
    for i in range(5):
        status, _ = _call(
            f"{base}/tables/events", "POST",
            json.dumps({"payload": f'{{"v":{i}}}', "partition": 0}).encode(),
        )
        assert status == 202
    status, _ = _call(f"{base}/tables/events?limit=5")
    assert status == 200

    req = urllib.request.Request(f"{base}/metrics")
    with urllib.request.urlopen(req, timeout=600) as resp:
        text = resp.read().decode()
    assert "# TYPE zombi_write_latency_us histogram" in text
    assert "# TYPE zombi_read_latency_us histogram" in text
    wcount = [l for l in text.splitlines() if l.startswith("zombi_write_latency_us_count")]
    assert wcount and int(wcount[0].split()[-1]) == 5
    rcount = [l for l in text.splitlines() if l.startswith("zombi_read_latency_us_count")]
    assert rcount and int(rcount[0].split()[-1]) >= 1
    # cumulative form: +Inf equals count
    inf = [l for l in text.splitlines() if 'zombi_write_latency_us_bucket{le="+Inf"}' in l]
    assert inf and int(inf[0].split()[-1]) == 5


def test_multiprocess_latency_histograms_are_plane_wide(spark, tmp_path):
    """Round-6 review fix: with SO_REUSEPORT workers carrying the write
    load, the write-latency histogram must still be visible at the
    parent's /metrics — observations accumulate in shared memory across
    every process of the plane, not per-process (where the proxied
    scrape would show an empty distribution exactly under load)."""
    import http.client

    ingests: dict[str, StreamingIngest] = {}

    def resolver(name: str, create: bool) -> StreamingIngest:
        if name not in ingests:
            if not create:
                raise KeyError(name)
            table = EventTable(spark, str(tmp_path), name)
            ingests[name] = StreamingIngest(
                spark,
                str(tmp_path / f"landing-{name}"),
                table,
                str(tmp_path / f"ckpt-{name}"),
            )
        return ingests[name]

    with HttpIngestEdge(resolver, workers=2) as srv:
        host, port = srv._httpd.server_address[:2]
        pids = set()
        for i in range(20):
            conn = http.client.HTTPConnection(host, port)
            conn.request(
                "POST",
                "/tables/mph",
                json.dumps({"payload": f'{{"i":{i}}}', "partition": 0}).encode(),
            )
            r = conn.getresponse()
            r.read()
            assert r.status == 202
            pids.add(r.getheader("X-Edge-Pid"))
            conn.close()
        assert len(pids) >= 2  # the load really did spread
        conn = http.client.HTTPConnection(host, port)
        conn.request("GET", "/metrics")
        r = conn.getresponse()
        text = r.read().decode()
        conn.close()
        count = [
            l for l in text.splitlines()
            if l.startswith("zombi_write_latency_us_count")
        ]
        assert count and int(count[0].split()[-1]) == 20, text[:400]


def test_null_payload_and_empty_table_segment_reject(edge):
    """Round-6 review fixes: 'payload': null must 400 (a 202 would ack a
    row whose content is gone while the Iceberg schema says payload is
    required), and an empty table segment must not SHIFT the route
    (POST /tables//bulk used to create a table literally named 'bulk')."""
    srv, ingests = edge
    base = srv.base_url
    status, body = _call(
        f"{base}/tables/events", "POST", json.dumps({"payload": None}).encode()
    )
    assert status == 400 and "payload" in body["error"]["message"]
    status, _ = _call(
        f"{base}/tables/events/bulk", "POST",
        json.dumps({"records": [{"payload": "ok"}, {"payload": None}]}).encode(),
    )
    assert status == 400
    status, _ = _call(
        f"{base}/tables//bulk", "POST",
        json.dumps({"records": [{"payload": "x"}]}).encode(),
    )
    assert status == 400
    assert "bulk" not in ingests  # no phantom table materialized


def test_resolver_failure_answers_500_not_a_slammed_socket(spark, tmp_path):
    """A resolver that blows up outside the per-action try blocks must
    still answer a 500 envelope (the do_POST envelope-of-last-resort)."""
    calls = {"n": 0}

    def exploding_resolver(name, create):
        calls["n"] += 1
        raise RuntimeError("catalog is on fire")

    with HttpIngestEdge(exploding_resolver) as srv:
        status, body = _call(
            f"{srv.base_url}/tables/events", "POST",
            json.dumps({"payload": "x"}).encode(),
        )
    assert status == 500 and "catalog is on fire" in body["error"]["message"]
    assert calls["n"] >= 1


def test_worker_resolve_with_parent_down_is_a_retryable_502():
    """A write-plane worker whose parent cannot be reached answers the
    first write to an uncached table with a retryable 502 (the worker
    itself is fine), not the 500 of an unexpected failure."""
    import socket

    from zombi_spark.http_handler import HttpError
    from zombi_spark.streaming.http_edge import _WorkerState

    with socket.socket() as s:  # a port nothing listens on once closed
        s.bind(("127.0.0.1", 0))
        dead = s.getsockname()
    with pytest.raises(HttpError) as exc:
        _WorkerState(dead).zone_for("events")
    assert exc.value.status == 502 and "query plane unavailable" in exc.value.message


def test_row_delete_over_http(edge):
    """POST /tables/{t}/delete — the takedown control plane: structured
    selectors only (never raw SQL over the wire), hot tier drained first
    by default so the delete covers un-flushed rows, 400 on missing or
    unknown selectors, scoped no-op reports noop without a snapshot."""
    srv, ingests = edge
    base = srv.base_url
    for i in range(8):
        status, _ = _call(
            f"{base}/tables/events",
            "POST",
            json.dumps(
                {
                    "payload": f'{{"i":{i}}}',
                    "partition": i % 2,
                    "timestamp_ms": 1704067200000 + i * 1000,
                    "idempotency_key": f"k{i}",
                }
            ).encode(),
        )
        assert status == 202
    # delete two keys with NO prior flush: the action drains the hot
    # tier first (default flush=true), so the takedown still covers them
    status, body = _call(
        f"{base}/tables/events/delete",
        "POST",
        json.dumps({"idempotency_keys": ["k2", "k5"]}).encode(),
    )
    assert status == 200 and body["rows_removed"] == 2
    t = ingests["events"].table
    assert t.read().count() == 6
    assert t.read().where("idempotency_key IN ('k2','k5')").count() == 0

    # selector validation: empty body and unknown keys both 400
    status, body = _call(f"{base}/tables/events/delete", "POST", b"{}")
    assert status == 400 and "selector" in body["error"]["message"]
    status, body = _call(
        f"{base}/tables/events/delete", "POST", json.dumps({"predicate": "1=1"}).encode()
    )
    assert status == 400 and "unknown selector" in body["error"]["message"]
    status, body = _call(f"{base}/tables/events/delete", "POST", b"not json")
    assert status == 400
    # idempotency_keys must be a JSON array — a bare string would be
    # iterated character-by-character into isin() on a takedown endpoint
    for bad in ('"k2"', "[]", '[["k2"]]'):
        status, body = _call(
            f"{base}/tables/events/delete",
            "POST",
            json.dumps({"idempotency_keys": json.loads(bad)}).encode(),
        )
        assert status == 400 and "idempotency_keys" in body["error"]["message"]

    # a scoped delete matching nothing is a no-op (no snapshot minted)
    v = t.latest_version()
    status, body = _call(
        f"{base}/tables/events/delete",
        "POST",
        json.dumps({"ts_min": 9_999_999_999_999, "flush": False}).encode(),
    )
    assert status == 200 and body.get("noop") is True and body["rows_removed"] == 0
    assert t.latest_version() == v

    # ANDed selectors: partition + time range deletes only the overlap
    status, body = _call(
        f"{base}/tables/events/delete",
        "POST",
        json.dumps(
            {"partition": 0, "ts_min": 1704067200000, "ts_max": 1704067202000,
             "flush": False}
        ).encode(),
    )
    # partition 0 ∩ ts∈[…200000, …202000] = i∈{0, 2}, but k2 (i=2) was
    # already taken down above — exactly one row left to remove
    assert status == 200 and body["rows_removed"] == 1


def test_row_delete_key_selector_edge_cases(edge):
    """VERDICT r8 #5 regression pins for the delete selector contract
    (http_edge.py idempotency_keys handling):

    - ``idempotency_keys: []`` combined with another selector means "no
      key filter" (same as omitting it) — the other selector alone
      scopes the delete;
    - integer keys are valid and match their string form (JSON callers
      routinely lose the str/int distinction);
    - booleans are NOT integers here (JSON true/false would otherwise
      coerce to "True"/"False" keys) — 400;
    - a FALSY non-list (0, "") must 400 like any non-list, not slip
      past the truthiness guard as "no filter".
    """
    srv, ingests = edge
    base = srv.base_url
    for i in range(6):
        status, _ = _call(
            f"{base}/tables/events",
            "POST",
            json.dumps(
                {
                    "payload": f'{{"i":{i}}}',
                    "partition": i % 2,
                    "timestamp_ms": 1704067200000 + i * 1000,
                    "idempotency_key": str(i),
                }
            ).encode(),
        )
        assert status == 202

    # empty list + ts selector: key filter OFF, time range governs
    status, body = _call(
        f"{base}/tables/events/delete",
        "POST",
        json.dumps(
            {"idempotency_keys": [], "ts_min": 1704067205000}
        ).encode(),
    )
    assert status == 200 and body["rows_removed"] == 1  # i=5 only
    t = ingests["events"].table
    assert t.read().count() == 5

    # integer keys match their string-typed column values
    status, body = _call(
        f"{base}/tables/events/delete",
        "POST",
        json.dumps({"idempotency_keys": [0, 3], "flush": False}).encode(),
    )
    assert status == 200 and body["rows_removed"] == 2
    assert t.read().where("idempotency_key IN ('0','3')").count() == 0

    # booleans and falsy non-lists are rejected, not coerced/ignored
    for bad in ([True], [False, "1"], 0, ""):
        status, body = _call(
            f"{base}/tables/events/delete",
            "POST",
            json.dumps({"idempotency_keys": bad, "ts_min": 0}).encode(),
        )
        assert status == 400 and "idempotency_keys" in body["error"]["message"], bad
    # nothing else was deleted by the rejected requests
    assert t.read().count() == 3


def test_followers_route_reports_lag_and_retention_coverage(edge):
    """r15: GET /tables/{t}/followers — per-group position, lag, and
    whether the retained snapshot window still covers the group's next
    incremental read (the observable half of the expire_snapshots
    retention guard)."""
    from zombi_spark.streaming.follower import TableFollower

    srv, ingests = edge
    base = srv.base_url
    for i in range(3):
        _call(
            f"{base}/tables/followed",
            "POST",
            json.dumps(
                {"payload": f"p-{i}", "partition": 0, "timestamp_ms": 1704067200000 + i}
            ).encode(),
        )
        _call(f"{base}/tables/followed/flush", "POST", b"")
    t = ingests["followed"].table
    assert t.latest_version() == 2

    f = TableFollower(t, "pipeline")
    f.commit(0)  # processed version 0; lags by 2
    status, body = _call(f"{base}/tables/followed/followers")
    assert status == 200
    assert body["latest_version"] == 2 and body["oldest_retained_version"] == 0
    g = body["followers"]["pipeline"]
    assert g == {"position": 0, "lag_versions": 2, "covered": True}

    # expire past the follower WITH the override: coverage flips false
    t.expire_snapshots(keep_last=1, protect_followers=False)
    status, body = _call(f"{base}/tables/followed/followers")
    assert body["oldest_retained_version"] == 2
    assert body["followers"]["pipeline"]["covered"] is False

    # a caught-up group is covered regardless of window
    f.commit(2)
    status, body = _call(f"{base}/tables/followed/followers")
    assert body["followers"]["pipeline"] == {
        "position": 2,
        "lag_versions": 0,
        "covered": True,
    }


def test_row_delete_merge_on_read_over_http(edge):
    """POST /tables/{t}/delete with mode=merge-on-read: the takedown
    commits a position-delete file (zero data files rewritten), reads
    exclude the rows, and an invalid mode is a 400."""
    srv, ingests = edge
    base = srv.base_url
    for i in range(6):
        status, _ = _call(
            f"{base}/tables/mordel",
            "POST",
            json.dumps(
                {
                    "payload": f'{{"i":{i}}}',
                    "partition": 0,
                    "timestamp_ms": 1704067200000 + i * 1000,
                    "idempotency_key": f"k{i}",
                }
            ).encode(),
        )
        assert status == 202
    status, body = _call(
        f"{base}/tables/mordel/delete",
        "POST",
        json.dumps({"idempotency_keys": ["k1", "k4"], "mode": "merge-on-read"}).encode(),
    )
    assert status == 200
    assert body["mode"] == "merge-on-read"
    assert body["rows_removed"] == 2 and body["files_rewritten"] == 0
    t = ingests["mordel"].table
    assert t.read().count() == 4
    assert len(t.delete_files()) == 1
    # an invalid mode is refused before the pre-delete drain: the landed
    # event stays pending and no version is committed
    status, _ = _call(
        f"{base}/tables/mordel",
        "POST",
        json.dumps(
            {"payload": '{"i":6}', "partition": 0, "timestamp_ms": 1704067206000}
        ).encode(),
    )
    assert status == 202
    zone = ingests["mordel"].zone
    pending = zone.pending_files()
    version = t.latest_version()
    assert pending
    status, body = _call(
        f"{base}/tables/mordel/delete",
        "POST",
        json.dumps({"idempotency_keys": ["k0"], "mode": "nonsense"}).encode(),
    )
    assert status == 400 and "mode" in body["error"]["message"]
    assert t.latest_version() == version
    assert zone.pending_files() == pending
