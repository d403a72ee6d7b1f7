"""The HTTP/1.1 request layer shared by the ingest edge
(:mod:`zombi_spark.streaming.http_edge`) and the Iceberg REST catalog
(:mod:`zombi_spark.table.rest_catalog`) — the two servers the reference
mounts on one router (api/mod.rs:23-37).

:class:`JsonHandler` owns what both need from every request: keep-alive,
reading the body exactly once with checked framing, and one dispatch
that turns an :class:`HttpError` raised by a route into the server's own
error body and any other exception into a single 500, never starting a
second response after the first. A server subclass keeps only its routes
and its error-body shape (:meth:`JsonHandler.error_body`).
"""

from __future__ import annotations

import contextlib
import json
import logging
from http.server import BaseHTTPRequestHandler

_log = logging.getLogger(__name__)

# the reference bounds in-flight request bytes with its 64 MB semaphore
# (handlers.rs:64-232) — the same cap guards the buffered body read
MAX_BODY_BYTES = 64 * 1024 * 1024


class HttpError(Exception):
    """A route's refusal: answered with ``status`` and ``message`` in the
    server's error body."""

    def __init__(self, status: int, message: str):
        super().__init__(message)
        self.status = status
        self.message = message


class JsonHandler(BaseHTTPRequestHandler):
    """Base request handler: ``do_<METHOD>`` in a subclass calls
    :meth:`dispatch` with its route; the route reads :attr:`body`, answers
    with :meth:`send_json` / :meth:`send_bytes`, or raises
    :class:`HttpError`."""

    protocol_version = "HTTP/1.1"
    # keep-alive + Nagle + tiny unbuffered writes = the classic 40 ms
    # delayed-ACK stall (~25 req/s per connection); TCP_NODELAY plus a
    # buffered writer sends each response as one segment
    disable_nagle_algorithm = True
    wbufsize = 64 * 1024

    def log_message(self, *args) -> None:  # quiet under pytest
        pass

    def error_body(self, status: int, message: str) -> dict:
        """The server's JSON error envelope for ``status``."""
        raise NotImplementedError

    def send_response(self, code, message=None) -> None:
        self._responded = True
        super().send_response(code, message)

    def send_bytes(
        self,
        payload: bytes,
        content_type: str,
        status: int = 200,
        headers: dict | None = None,
    ) -> None:
        self.send_response(status)
        self.send_header("Content-Type", content_type)
        self.send_header("Content-Length", str(len(payload)))
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        self.end_headers()
        if self.command != "HEAD":  # a HEAD body would desync keep-alive
            self.wfile.write(payload)

    def send_json(self, obj, status: int = 200) -> None:
        self.send_bytes(json.dumps(obj).encode(), "application/json", status)

    def dispatch(self, route) -> None:
        """Read the body, then run ``route()``. The one place either
        server turns a failure into a reply: a route's :class:`HttpError`
        becomes its error body, any other exception a 500 — a bare
        traceback would close the socket with no response at all."""
        self._responded = False
        try:
            self.body = self._read_body()
            route()
        except Exception as exc:  # noqa: BLE001 — the envelope of last resort
            if not isinstance(exc, HttpError):
                _log.warning("%s %s answered 500", self.command, self.path, exc_info=True)
                exc = HttpError(500, f"{type(exc).__name__}: {exc}")
            if self._responded:
                # headers already went out and the body may be short of
                # its promised Content-Length: close, so the client sees
                # a clean EOF rather than a second response spliced in
                self.close_connection = True
            else:
                with contextlib.suppress(OSError):  # client already gone
                    self.send_json(self.error_body(exc.status, exc.message), exc.status)
        finally:
            # a keep-alive connection idling after a large bulk POST must
            # not pin megabytes on its handler slot
            self.body = b""

    def _read_body(self) -> bytes:
        """The request body, read before any reply: on a keep-alive
        connection an unread body is parsed as the NEXT request line.
        Framing that cannot be read closes the connection, since the
        bytes left in the stream would poison it."""
        if self.headers.get("Transfer-Encoding"):
            # only Content-Length framing is spoken; ignoring a chunked
            # body would desync every later request
            self.close_connection = True
            raise HttpError(501, "chunked transfer encoding not supported")
        raw = self.headers.get("Content-Length", "0")
        try:
            n = int(raw)
        except ValueError:
            n = -1
        if n < 0:
            # rfile.read(-1) would block until the peer closes — a
            # permanently pinned handler thread per such request
            self.close_connection = True
            raise HttpError(400, f"invalid Content-Length {raw!r}")
        if n > MAX_BODY_BYTES:
            # refuse WITHOUT reading: buffering an attacker-chosen size is
            # the OOM
            self.close_connection = True
            raise HttpError(413, f"body of {n} B exceeds {MAX_BODY_BYTES} B cap")
        return self.rfile.read(n)
