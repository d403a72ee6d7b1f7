"""Iceberg-REST-shaped catalog server + client (S13 / S14).

The reference exposes a read-only Iceberg REST catalog over its table
registry (api/mod.rs:23-37 mounts it; api/catalog.rs:193-431 implements
``GET /catalog/v1/config``, ``GET .../namespaces``,
``GET .../namespaces/{ns}/tables``, ``GET`` + ``HEAD``
``.../namespaces/{ns}/tables/{name}``) so external engines can discover
and plan over its tables.  The registration side is a separate HTTP
*client* the ingest path writes through after each commit
(storage/catalog.rs:33,166-216 — idempotent create-or-update).

Spark-first mapping: the catalog itself is the library
:class:`~zombi_spark.table.catalog.Catalog` (a warehouse-rooted JSON
registry); this module adds the wire protocol on top: its routes and
the Iceberg ErrorModel body, over the request layer it shares with the
ingest edge (:mod:`zombi_spark.http_handler` — keep-alive, body
framing, one error dispatch).  The server is read-only exactly like the
reference, with ONE documented extension:
``POST /catalog/v1/namespaces/{ns}/tables`` accepts a registration so
that :class:`RestCatalogClient` (the storage/catalog.rs analogue) can be
exercised end-to-end against our own server instead of an external
Polaris/Nessie.  Every response shape follows the Iceberg REST catalog
OpenAPI the reference copies (config/defaults+overrides, namespaces as
string arrays, table identifiers as {namespace, name}).

Scale notes: all handlers are O(registry) driver-side metadata — the
heaviest (`load`) reads one table-metadata JSON plus one snapshot JSON;
no data files are ever opened.  The server is a daemon
``ThreadingHTTPServer``: concurrent GETs don't serialize, and registry
writes stay atomic because the underlying Catalog rewrites via
tmp+rename.
"""

from __future__ import annotations

import json
import threading
import urllib.error
import urllib.parse
import urllib.request
from http.server import ThreadingHTTPServer

from zombi_spark.http_handler import HttpError, JsonHandler
from zombi_spark.table.catalog import Catalog, TableNotFoundError

_PREFIX = "/catalog/v1"


class CatalogHTTPError(Exception):
    """Non-2xx from the catalog server (the client-side 404/409 mapping,
    storage/catalog.rs:200-214)."""

    def __init__(self, status: int, body: str):
        super().__init__(f"HTTP {status}: {body}")
        self.status = status


def _metadata_location(table_path: str) -> str:
    """The Iceberg v2 ``v{N}.metadata.json`` when the table has one
    (resolved via version-hint — what a real Iceberg REST catalog serves),
    else the private ``table.json``."""
    import os

    hint = os.path.join(table_path, "metadata", "version-hint.text")
    if os.path.isfile(hint):
        with open(hint) as fh:
            v = fh.read().strip()
        return os.path.join(table_path, "metadata", f"v{v}.metadata.json")
    return f"{table_path}/_zombi_meta/table.json"


class _Handler(JsonHandler):
    """Routes (api/catalog.rs:193-431):

    GET  {p}/config                                  → warehouse config
    GET  {p}/namespaces                              → [["zombi"]]
    GET  {p}/namespaces/{ns}                         → namespace props
    GET  {p}/namespaces/{ns}/tables                  → identifiers
    GET  {p}/namespaces/{ns}/tables/{name}           → LoadTableResult
    HEAD {p}/namespaces/{ns}/tables/{name}           → 200/404 probe
    POST {p}/namespaces/{ns}/tables                  → register (extension)
    """

    server_version = "zombi-spark-catalog/1.0"

    def error_body(self, status: int, message: str) -> dict:
        # the Iceberg REST ErrorModel envelope (api/catalog.rs:320-333
        # returns the same shape for its 404s)
        kind = "NoSuchTableException" if status == 404 else "BadRequestException"
        return {"error": {"message": message, "type": kind, "code": status}}

    def do_GET(self) -> None:  # noqa: N802 (http.server API)
        self.dispatch(self._get)

    def do_HEAD(self) -> None:  # noqa: N802
        self.dispatch(self._head)

    def do_POST(self) -> None:  # noqa: N802
        self.dispatch(self._post)

    @property
    def catalog(self) -> Catalog:
        return self.server.catalog  # type: ignore[attr-defined]

    def _route(self) -> list[str]:
        path = urllib.parse.urlparse(self.path).path.rstrip("/")
        if not path.startswith(_PREFIX):
            return []
        return [urllib.parse.unquote(p) for p in path[len(_PREFIX):].split("/") if p]

    def _namespace(self, ns: str) -> None:
        if ns not in self.catalog.namespaces():
            raise HttpError(404, f"namespace {ns} not found")

    def _get(self) -> None:
        parts = self._route()
        if parts == ["config"]:
            # api/catalog.rs:193-214 — hand the engine its warehouse root
            self.send_json({"defaults": {}, "overrides": {"warehouse": self.catalog.root}})
        elif parts == ["namespaces"]:
            self.send_json({"namespaces": [[n] for n in self.catalog.namespaces()]})
        elif len(parts) == 2 and parts[0] == "namespaces":
            self._namespace(parts[1])
            self.send_json({"namespace": [parts[1]], "properties": {}})
        elif len(parts) == 3 and parts[0] == "namespaces" and parts[2] == "tables":
            self._namespace(parts[1])
            self.send_json(
                {"identifiers": [{"namespace": [parts[1]], "name": n} for n in self.catalog.list_tables()]}
            )
        elif len(parts) == 4 and parts[0] == "namespaces" and parts[2] == "tables":
            try:
                info = self.catalog.head(parts[3])
            except TableNotFoundError:
                raise HttpError(404, f"table {parts[3]} not found") from None
            # LoadTableResult shape (api/catalog.rs:293-333): metadata
            # location + the metadata we track (schema / spec / snapshot)
            self.send_json(
                {
                    "metadata-location": _metadata_location(info["path"]),
                    "metadata": info,
                    "config": {},
                }
            )
        else:
            raise HttpError(404, "no such route")

    def _head(self) -> None:
        # api/catalog.rs:414-431 — existence probe, empty body
        parts = self._route()
        exists = (
            len(parts) == 4
            and parts[0] == "namespaces"
            and parts[2] == "tables"
            and parts[1] in self.catalog.namespaces()
            and self.catalog.exists(parts[3])
        )
        self.send_bytes(b"", "application/json", 200 if exists else 404)

    def _post(self) -> None:
        parts = self._route()
        if not (len(parts) == 3 and parts[0] == "namespaces" and parts[2] == "tables"):
            raise HttpError(405, "read-only catalog: only table registration accepts POST")
        self._namespace(parts[1])
        try:
            body = json.loads(self.body or b"{}")
            name = body["name"]
        except (ValueError, KeyError, TypeError):
            # TypeError: valid JSON that isn't an object ('[1,2]', 'null')
            raise HttpError(400, "body must be JSON with a 'name' field") from None
        try:
            entry = self.catalog.register(name, body.get("location"))
        except ValueError as exc:  # table-name validation (P9)
            raise HttpError(400, str(exc)) from None
        self.send_json({"metadata-location": _metadata_location(entry["path"]), "metadata": entry})


class RestCatalogServer:
    """Daemon-threaded catalog server over a :class:`Catalog`.

    Use as a context manager or call :meth:`start` / :meth:`stop`.
    ``port=0`` binds an ephemeral port (tests); the bound address is
    available as :attr:`base_url` after start.
    """

    def __init__(self, catalog: Catalog, host: str = "127.0.0.1", port: int = 0):
        self.catalog = catalog
        self._host, self._port = host, port
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    @property
    def base_url(self) -> str:
        assert self._httpd is not None, "server not started"
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}"

    def start(self) -> "RestCatalogServer":
        self._httpd = ThreadingHTTPServer((self._host, self._port), _Handler)
        self._httpd.catalog = self.catalog  # type: ignore[attr-defined]
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None

    def __enter__(self) -> "RestCatalogServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()


class RestCatalogClient:
    """The registration/read client (S14, storage/catalog.rs:33,166-216).

    The reference's client registers table metadata with an external REST
    catalog after each commit and treats "already exists" as success
    (idempotent upsert, storage/catalog.rs:188-199).  Same here:
    :meth:`register_table` POSTs and succeeds whether the table is new or
    known; reads mirror the server's GET surface.
    """

    def __init__(self, base_url: str, namespace: str = "zombi", timeout: float = 10.0):
        self.base_url = base_url.rstrip("/")
        self.namespace = namespace
        self.timeout = timeout

    # ------------------------------------------------------------- plumbing
    def _request(self, method: str, path: str, body: dict | None = None):
        url = f"{self.base_url}{_PREFIX}{path}"
        data = json.dumps(body).encode() if body is not None else None
        req = urllib.request.Request(url, data=data, method=method, headers={"Content-Type": "application/json"})
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                raw = resp.read()
                return resp.status, (json.loads(raw) if raw else None)
        except urllib.error.HTTPError as exc:
            if method == "HEAD":
                return exc.code, None
            raise CatalogHTTPError(exc.code, exc.read().decode(errors="replace")) from None

    # ----------------------------------------------------------- read (S13)
    def config(self) -> dict:
        return self._request("GET", "/config")[1]

    def namespaces(self) -> list[str]:
        return [ns[0] for ns in self._request("GET", "/namespaces")[1]["namespaces"]]

    def list_tables(self) -> list[str]:
        _, body = self._request("GET", f"/namespaces/{self.namespace}/tables")
        return sorted(ident["name"] for ident in body["identifiers"])

    def load_table(self, name: str) -> dict:
        return self._request("GET", f"/namespaces/{self.namespace}/tables/{name}")[1]

    def table_exists(self, name: str) -> bool:
        status, _ = self._request("HEAD", f"/namespaces/{self.namespace}/tables/{name}")
        return status == 200

    # --------------------------------------------------- registration (S14)
    def register_table(self, name: str, location: str | None = None) -> dict:
        """Idempotent create-or-update (storage/catalog.rs:166-216)."""
        body: dict = {"name": name}
        if location:
            body["location"] = location
        return self._request("POST", f"/namespaces/{self.namespace}/tables", body)[1]
