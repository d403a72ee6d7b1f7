"""Tests for the benchmark's own helpers. Run: python3 -m pytest perfbench -q"""

from __future__ import annotations

import filecmp
import math
import os
import sys
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import gen  # noqa: E402
import stats  # noqa: E402
from checks import ingest_consistent, rows_match  # noqa: E402
from tracing import Tracer, parse_sql_total  # noqa: E402
from workloads import Result, _Client  # noqa: E402


@pytest.mark.parametrize("n", [11, 12, 19, 20, 24, 32, 99, 100, 101, 1000])
def test_tail_percentile_is_highest_with_ten_beyond(n):
    p = stats.tail_percentile(n)
    beyond = lambda q: n - math.ceil(q * n / 100)  # noqa: E731 — nearest-rank
    assert beyond(p) >= stats.TAIL_BEYOND
    assert beyond(p + 1) < stats.TAIL_BEYOND
    values = list(range(n))
    value, pct = stats.tail(values)
    assert pct == p
    assert sum(v > value for v in values) >= stats.TAIL_BEYOND


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        stats.tail_percentile(10)


def test_same_seed_gives_byte_identical_events():
    def bodies(seed):
        t = gen.IngestTraffic(seed, requests_per_cycle=3, events_per_request=40)
        return [r for c in range(4) for r in t.cycle_requests(c)]

    assert bodies(11) == bodies(11)
    assert bodies(11) != bodies(12)


def test_same_seed_gives_byte_identical_fixture(tmp_path):
    gen.write_fixture(5, str(tmp_path / "a"))
    gen.write_fixture(5, str(tmp_path / "b"))
    names = sorted(os.listdir(tmp_path / "a"))
    assert len(names) == 10
    _, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert mismatch == errors == []


def test_generated_traffic_has_the_declared_properties():
    t = gen.IngestTraffic(3, requests_per_cycle=10, events_per_request=200)
    import json

    events, repeats = [], 0
    for c in range(8):
        for body, fresh_ts, n_rep in t.cycle_requests(c):
            events += json.loads(body)["records"]
            repeats += n_rep
    n = len(events)
    keyed = sum("idempotency_key" in e for e in events) / n
    assert 0.45 < keyed < 0.55
    assert 0 < repeats / n < 0.1
    sizes = [len(e["payload"]) for e in events]
    assert min(sizes) >= 80 and max(sizes) <= 100
    assert {e["partition"] for e in events} == set(range(8))


def test_oracle_check_flags_one_altered_row():
    cols = ["k", "v"]
    rows = [[1, "a"], [2, "b"], [3, "c"]]
    assert rows_match(cols, rows, ["v", "k"], [("c", 3), ("a", 1), ("b", 2)])
    altered = [[1, "a"], [2, "B"], [3, "c"]]
    assert not rows_match(cols, altered, cols, rows)
    assert not rows_match(cols, rows[:2], cols, rows)


def test_ingest_consistency_rule():
    good = [(0, 3, 1, 3, 3), (1, 2, 1, 2, 2)]
    assert ingest_consistent(6, 1, good)[0]
    assert not ingest_consistent(6, 0, good)[0]  # a lost event
    assert not ingest_consistent(5, 0, [(0, 3, 1, 4, 3), (1, 2, 1, 2, 2)])[0]  # gap
    assert not ingest_consistent(5, 0, [(0, 3, 1, 3, 2), (1, 2, 1, 2, 2)])[0]  # duplicate


class _Status(BaseHTTPRequestHandler):
    def do_POST(self):  # noqa: N802
        code = int(self.path.rsplit("/", 1)[1])
        self.rfile.read(int(self.headers.get("Content-Length", 0)))
        self.send_response(code)
        self.send_header("Content-Length", "0")
        self.end_headers()

    def log_message(self, *args):
        pass


def test_5xx_counts_as_failed():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Status)
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    try:
        res = Result()
        client = _Client(f"http://127.0.0.1:{srv.server_address[1]}", res, None)
        assert client.request("POST", "/s/202", b"x")[0] == 202
        assert client.request("POST", "/s/503", b"x")[0] == 503
        client.close()
        assert (res.attempted, res.failed) == (2, 1)
    finally:
        srv.shutdown()
        srv.server_close()
        thread.join(timeout=10)
        assert not thread.is_alive()


def test_parse_sql_total():
    assert parse_sql_total("6.9 s (1.7 s, 1.7 s, 1.7 s (stage 0.0: task 1))") == 6900
    assert parse_sql_total("1565.1 KiB (391.3 KiB, ...)") == pytest.approx(1565.1 * 1024)
    assert parse_sql_total("12 ms") == 12
    assert parse_sql_total("") is None


def test_tracer_does_not_count_work_finished_before_install(tmp_path):
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[1]")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", str(tmp_path))
        .getOrCreate()
    )

    def action():
        spark.range(100).write.format("noop").mode("overwrite").save()

    try:
        for _ in range(3):
            action()
        tracer = Tracer(spark, cores=1)
        tracer.install()
        try:
            with tracer.unit("u0", "noop", group=0):
                action()
        finally:
            tracer.uninstall()
        assert tracer.units[0]["spark.jobs"] == 1
        assert tracer.per_layer()["spark.jobs"] == 1
    finally:
        spark.stop()
