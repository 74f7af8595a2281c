"""HTTP delivery edge: the engine's counterpart of the reference's Flask
REST API (ref: api.py:427-445 routes; api.py:447-448 dev server).

No third-party web framework exists in this environment, so the layer is
built on the standard library's ``http.server`` — deliberately thin: every
route parses the URL, delegates to the engine (Catalog / VersionedTable /
ApiView semantics), and JSON-serializes a BOUNDED result, exactly the
reference's ``toPandas().to_dict('records')`` edge (ref: api.py:67; SURVEY
§2A S10). This is the ONE layer where rows legitimately reach the driver —
it is a delivery boundary, capped by ``limit`` (default 1000), never an
operator.

Routes (mirroring the reference surface):

    GET    /tables                              list tables
    GET    /<table>?limit=&where=&version=&as_of_ms=
                                                scan (filter pushed to Spark;
                                                time travel via version/as_of)
    GET    /<table>/history                     metadata table (ref: #cell-16)
    GET    /<table>/snapshots                   metadata table
    GET    /<table>/refs                        branches/tags
    GET    /<table>/column/<name>               single-column projection; the
                                                name may be HISTORICAL — it
                                                resolves via field-id history
                                                then the semantic matcher
                                                (ref: api.py:170-215, 380-423;
                                                NO MATCH -> 404, AMBIGUOUS ->
                                                409, like api.py:410-413)
    PATCH  /<table>/rename_column/<old>/<new>   DDL (ref: api.py:351-363)
    PATCH  /<table>/add_column/<name>/<type>    DDL (ref: api.py:92-102)

The metadata routes (history, snapshots, refs) serve rows built from the
table's metadata JSON and run no Spark job.  Scans and column projections
run one bounded Arrow collect, and each value is served as:

    integer types           JSON integer (nullable ones too: 630, not 630.0)
    float, double           the exact value (1.5e-11, 0.1234567890123456);
                            NaN and +-Infinity as null
    decimal                 JSON number (the value as a double)
    date                    "YYYY-MM-DDT00:00:00.000"
    timestamp, _ntz         "YYYY-MM-DDTHH:MM:SS.mmm" (milliseconds truncated;
                            TIMESTAMP in the session time zone)
    binary                  the bytes decoded as UTF-8
    array, map, struct      JSON list / object of the forms above

A limited read has no ORDER BY: it serves the first ``limit`` matching rows
the scan yields.  A table scan reads all the files of one written schema as
one relation, whose splits Spark orders by size, not by manifest entry; so
when more rows match than ``limit``, which of them are served follows the
table's file layout and may change after any write or compaction.

Scale note: querying stays fully distributed — the handler only collects
the final limited projection. The dev server (ThreadingHTTPServer) matches
the reference's Flask dev-server scope; production delivery would sit the
same handler functions behind a real WSGI front.
"""

from __future__ import annotations

import functools
import json
import math
import threading
import zoneinfo
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from thesis_iceberg_spark.functions.resolve import AMBIGUOUS, MATCH, NO_MATCH, match_column
from thesis_iceberg_spark.tablefmt.catalog import Catalog

DEFAULT_LIMIT = 1000


class HttpError(Exception):
    def __init__(self, status: int, message: str):
        super().__init__(message)
        self.status = status
        self.message = message


def _json_converter(t: pa.DataType, tz):
    """The function turning one Arrow type's Python values into their JSON
    forms (see the module docstring), or None when they are JSON-ready.
    ``tz()`` gives the session time zone."""
    if pa.types.is_floating(t):
        return lambda v: v if math.isfinite(v) else None
    if pa.types.is_timestamp(t):
        return lambda v: (v.astimezone(tz()).replace(tzinfo=None) if v.tzinfo else v).isoformat(
            timespec="milliseconds"
        )
    if pa.types.is_date(t):
        return lambda v: v.isoformat() + "T00:00:00.000"
    if pa.types.is_decimal(t):
        return float
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return bytes.decode
    if pa.types.is_map(t):
        key = _json_converter(t.key_type, tz) or (lambda v: v)
        item = _json_converter(t.item_type, tz) or (lambda v: v)
        return lambda v: {key(k): None if x is None else item(x) for k, x in v}
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        elem = _json_converter(t.value_type, tz)
        if elem is None:
            return None
        return lambda v: [None if x is None else elem(x) for x in v]
    if pa.types.is_struct(t):
        convs = {f.name: _json_converter(f.type, tz) for f in t}
        if not any(convs.values()):
            return None
        return lambda v: {
            k: x if x is None or convs[k] is None else convs[k](x) for k, x in v.items()
        }
    return None


def _nullable(t: T.DataType) -> T.DataType:
    """``t`` with every nested struct field, array element and map value
    nullable."""
    if isinstance(t, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t]
        )
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_nullable(t.elementType), True)
    if isinstance(t, T.MapType):
        return T.MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def _records(df: DataFrame, limit: int) -> list[dict]:
    """The reference's JSON edge (api.py:67): one bounded Arrow collect of
    the final projection, converted value by value to the JSON forms the
    module docstring lists (exact doubles, ints as ints).

    Nested fields are made nullable first: Arrow rejects a NULL struct
    whose fields are declared non-nullable (``named_struct`` of literals
    next to a NULL row), because the struct's null slots are nulls in its
    children too."""
    relaxed = T.StructType(
        [T.StructField(f.name, _nullable(f.dataType), f.nullable, f.metadata) for f in df.schema]
    )
    if relaxed != df.schema:
        df = df.to(relaxed)
    table = df.limit(limit).toArrow()
    # Arrow carries TIMESTAMP values as UTC instants; they are served as
    # the session time zone's wall-clock time, as pandas served them
    tz = functools.cache(
        lambda: zoneinfo.ZoneInfo(df.sparkSession.conf.get("spark.sql.session.timeZone"))
    )
    convs = [(f.name, _json_converter(f.type, tz)) for f in table.schema]
    return [
        {
            k: v if v is None or conv is None else conv(v)
            for (k, conv), v in zip(convs, row.values())
        }
        for row in table.to_pylist()
    ]


class Api:
    """Route logic, HTTP-framework-free (unit-testable without sockets)."""

    def __init__(self, catalog: Catalog, default_limit: int = DEFAULT_LIMIT):
        self.catalog = catalog
        self.default_limit = default_limit

    # --- reads -----------------------------------------------------------

    def list_tables(self) -> dict:
        return {"tables": self.catalog.tables()}

    def _table(self, name: str):
        try:
            return self.catalog.table(name)
        except KeyError as exc:
            raise HttpError(404, str(exc)) from exc

    def scan(self, name: str, params: dict) -> list[dict]:
        vt = self._table(name)
        version = params.get("version")
        as_of_ms = params.get("as_of_ms")
        try:
            df = vt.read(
                snapshot_id=int(version[0]) if version else None,
                as_of_ms=int(as_of_ms[0]) if as_of_ms else None,
            )
        except KeyError as exc:
            raise HttpError(404, str(exc)) from exc
        if "where" in params:
            # TRUST BOUNDARY: the expression is handed to Spark verbatim and
            # Spark SQL expressions can invoke arbitrary JVM static methods
            # (reflect()/java_method()). That mirrors the reference's dev
            # server (api.py passes request filters straight to Spark) and
            # is safe ONLY because serve() hard-binds to 127.0.0.1 — do not
            # widen the bind without an expression allowlist in front.
            df = df.filter(params["where"][0])  # Spark parses & pushes down
        limit = int(params.get("limit", [self.default_limit])[0])
        return _records(df, limit)

    def column(self, name: str, column: str, params: dict) -> dict:
        """Projection by possibly-HISTORICAL column name — the reference's
        signature behavior (rename-resilient endpoint)."""
        vt = self._table(name)
        resolved = vt.resolve_column(column)
        status = MATCH
        if resolved is None:
            m = match_column(column, vt.columns)
            status, resolved = m.status, m.column
        if status == NO_MATCH:
            raise HttpError(404, f"column {column!r}: NO MATCH")
        if status == AMBIGUOUS:
            raise HttpError(409, f"column {column!r}: AMBIGUOUS")
        limit = int(params.get("limit", [self.default_limit])[0])
        df = vt.read().select(resolved)
        return {"requested": column, "resolved_to": resolved, "rows": _records(df, limit)}

    def metadata(self, name: str, which: str) -> list[dict]:
        """A metadata table's rows, built from the table's metadata JSON and
        served directly: no Spark job."""
        vt = self._table(name)
        rows_fn = {
            "history": vt.history_rows,
            "snapshots": vt.snapshot_rows,
            "refs": vt.ref_rows,
        }
        if which not in rows_fn:
            raise HttpError(404, f"unknown metadata table {which!r}")
        return rows_fn[which]()[: self.default_limit]

    # --- DDL -------------------------------------------------------------

    def rename_column(self, name: str, old: str, new: str) -> dict:
        vt = self._table(name)
        try:
            vt.rename_column(old, new)
        except ValueError as exc:
            raise HttpError(400, str(exc)) from exc
        return {"renamed": old, "to": new, "schema_id": vt._meta["current_schema_id"]}

    def add_column(self, name: str, column: str, ddl_type: str) -> dict:
        vt = self._table(name)
        try:
            vt.add_column(column, ddl_type)
        except ValueError as exc:
            raise HttpError(400, str(exc)) from exc
        return {"added": column, "type": ddl_type, "schema_id": vt._meta["current_schema_id"]}

    # --- dispatch --------------------------------------------------------

    def handle(self, method: str, path: str) -> tuple[int, dict | list]:
        url = urlparse(path)
        params = parse_qs(url.query)
        parts = [unquote(p) for p in url.path.strip("/").split("/") if p]
        try:
            if method == "GET":
                if parts == ["tables"]:
                    return 200, self.list_tables()
                if len(parts) == 1:
                    return 200, self.scan(parts[0], params)
                if len(parts) == 2 and parts[1] in ("history", "snapshots", "refs"):
                    return 200, self.metadata(parts[0], parts[1])
                if len(parts) == 3 and parts[1] == "column":
                    return 200, self.column(parts[0], parts[2], params)
            if method == "PATCH":
                if len(parts) == 4 and parts[1] == "rename_column":
                    return 200, self.rename_column(parts[0], parts[2], parts[3])
                if len(parts) == 4 and parts[1] == "add_column":
                    return 200, self.add_column(parts[0], parts[2], parts[3])
            raise HttpError(404, f"no route for {method} {url.path}")
        except HttpError as exc:
            return exc.status, {"error": exc.message}
        except ValueError as exc:  # bad limit/version/as_of_ms etc. -> 400
            return 400, {"error": str(exc)}
        except Exception as exc:  # noqa: BLE001 — a handler thread must
            # always produce an HTTP response, never drop the connection
            # (e.g. Spark parse errors from a malformed ?where=)
            return 500, {"error": f"{type(exc).__name__}: {exc}"}


def serve(api: Api, port: int = 0) -> tuple[ThreadingHTTPServer, threading.Thread]:
    """Start the dev server on a daemon thread; returns (server, thread).
    ``port=0`` picks a free port (server.server_address[1]).

    The bind address is HARD-CODED to loopback on purpose: the ?where=
    filter accepts arbitrary Spark SQL expressions (see Api.scan's trust-
    boundary note), so exposing this server beyond localhost would hand
    JVM method invocation to anyone who can reach the port."""

    class Handler(BaseHTTPRequestHandler):
        def _respond(self) -> None:
            status, body = api.handle(self.command, self.path)
            payload = json.dumps(body, default=str).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        do_GET = _respond
        do_PATCH = _respond

        def log_message(self, *args):  # quiet test runs
            pass

    server = ThreadingHTTPServer(("127.0.0.1", port), Handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server, thread
