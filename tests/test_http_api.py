"""HTTP delivery edge: the stdlib dev server must mirror the reference's
Flask surface — JSON table reads, rename-resilient column projection with
NO MATCH/AMBIGUOUS outcomes as HTTP statuses, time travel via query params,
metadata tables, and DDL routes — all over a real socket."""

from __future__ import annotations

import json
import urllib.request

import pytest
from pyspark.sql import functions as F

from thesis_iceberg_spark.http_api import Api, serve
from thesis_iceberg_spark.tablefmt.catalog import Catalog


@pytest.fixture(scope="module")
def api_base(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh"))
    cat = Catalog(spark, wh)
    df = spark.createDataFrame(
        [(1, "Sarah", 34), (2, "Mohammed", 29), (3, "Li", 41)],
        "idx INT, `First Name` STRING, age INT",
    )
    cat.create_table("people", df=df, now_ms=1_000)
    server, _thread = serve(Api(cat))
    base = f"http://127.0.0.1:{server.server_address[1]}"
    yield base
    server.shutdown()


def _get(base, path):
    req = urllib.request.Request(base + path)
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _patch(base, path):
    req = urllib.request.Request(base + path, method="PATCH")
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_list_and_scan(api_base):
    assert _get(api_base, "/tables") == (200, {"tables": ["people"]})
    status, rows = _get(api_base, "/people")
    assert status == 200 and len(rows) == 3
    status, rows = _get(api_base, "/people?where=age%20%3E%2030&limit=10")
    assert status == 200
    assert sorted(r["idx"] for r in rows) == [1, 3]


def test_metadata_tables(api_base):
    status, snaps = _get(api_base, "/people/snapshots")
    assert status == 200 and snaps[0]["operation"] == "append"
    status, refs = _get(api_base, "/people/refs")
    assert status == 200 and refs[0]["name"] == "main"


def test_column_resolution_and_ddl(api_base):
    # quoted/spaced column name via URL encoding
    status, body = _get(api_base, "/people/column/First%20Name")
    assert status == 200 and body["resolved_to"] == "First Name"
    # rename, then the OLD name must still resolve (field-id history)
    status, body = _patch(api_base, "/people/rename_column/First%20Name/Full%20Name")
    assert status == 200
    status, body = _get(api_base, "/people/column/First%20Name")
    assert status == 200 and body["resolved_to"] == "Full Name"
    assert {r["Full Name"] for r in body["rows"]} == {"Sarah", "Mohammed", "Li"}
    # nonexistent column -> 404 NO MATCH (ref: api.py:410-413)
    status, body = _get(api_base, "/people/column/salary_xyzzy")
    assert status == 404 and "NO MATCH" in body["error"]
    # add_column route
    status, body = _patch(api_base, "/people/add_column/note/string")
    assert status == 200 and body["added"] == "note"


def test_time_travel_param(api_base, spark):
    # append a row, then version 1 must still show 3 rows
    status, rows = _get(api_base, "/people?version=1")
    assert status == 200 and len(rows) == 3
    status, body = _get(api_base, "/people?version=999")
    assert status == 404


def test_unknown_routes(api_base):
    assert _get(api_base, "/nope")[0] == 404
    assert _get(api_base, "/people/bogus_meta")[0] == 404


def test_bad_requests_get_http_errors_not_dropped_connections(api_base):
    status, body = _get(api_base, "/people?limit=abc")
    assert status == 400 and "error" in body
    status, body = _get(api_base, "/people?where=definitely%20not((sql")
    assert status == 500 and "error" in body


def test_concurrent_reads_during_rename(spark, tmp_path):
    """VERDICT r6 ask #8: the reference's core demo — rename-resilient
    column resolution — under its only real workload shape: concurrent
    HTTP readers while a rename lands.  Every read must be a CONSISTENT
    success: the historical name resolves to the pre- OR post-rename
    column (never 404/409/500, never a torn result), and reads issued
    after the rename returns must see the new resolution."""
    import threading

    wh = str(tmp_path / "wh")
    cat = Catalog(spark, wh)
    df = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], "idx INT, label STRING"
    )
    cat.create_table("conc", df=df, now_ms=1_000)
    server, _thread = serve(Api(cat))
    base = f"http://127.0.0.1:{server.server_address[1]}"
    try:
        results: list[tuple[int, dict]] = []
        stop = threading.Event()
        errs: list[BaseException] = []

        def reader():
            while not stop.is_set():
                try:
                    results.append(_get(base, "/conc/column/label"))
                except BaseException as e:  # noqa: BLE001
                    errs.append(e)
                    return

        threads = [threading.Thread(target=reader) for _ in range(4)]
        for t in threads:
            t.start()
        # let readers get going, then rename mid-flight
        import time as _time

        _time.sleep(0.5)
        status, _ = _patch(base, "/conc/rename_column/label/tag")
        assert status == 200
        _time.sleep(0.5)
        stop.set()
        for t in threads:
            t.join(timeout=30)
        assert not errs, errs
        # post-rename read through the OLD name resolves to the new one
        status, body = _get(base, "/conc/column/label")
        assert status == 200 and body["resolved_to"] == "tag"
        assert {r["tag"] for r in body["rows"]} == {"alpha", "beta", "gamma"}
        # every in-flight read was a consistent snapshot: 200, resolved to
        # exactly one of the two names, with the full value set
        assert results, "readers never completed a request"
        for st, b in results:
            assert st == 200, (st, b)
            assert b["resolved_to"] in ("label", "tag"), b["resolved_to"]
            vals = {r[b["resolved_to"]] for r in b["rows"]}
            assert vals == {"alpha", "beta", "gamma"}, b["rows"]
    finally:
        server.shutdown()


def test_metadata_parent_id_is_an_int_and_round_trips(spark, tmp_path):
    """/history and /snapshots serve parent_id as an integer (or null), so
    a client can feed it straight back as ?version=."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([(1, "a")], "id BIGINT, s STRING")
    vt = cat.create_table("t", df=df, now_ms=1_000)
    vt.append(df, now_ms=2_000)
    api = Api(cat)
    for route in ("history", "snapshots"):
        status, rows = api.handle("GET", f"/t/{route}")
        assert status == 200
        assert [r["parent_id"] for r in rows] == [None, 1]
        assert type(rows[1]["parent_id"]) is int
        parent = json.loads(json.dumps(rows))[1]["parent_id"]
        status, body = api.handle("GET", f"/t?version={parent}")
        assert status == 200 and body == [{"id": 1, "s": "a"}]


# Every Spark type's JSON form on a scan.  Doubles and floats are exact
# and nullable integers stay integers; the other forms are the ones the
# pandas to_json edge served before (dates and timestamps at millisecond
# precision, decimals as numbers, binary as UTF-8 text).
_FORMS_SQL = """SELECT * FROM VALUES
 (1, CAST(630 AS BIGINT), 1.5e-11D, CAST(0.25 AS FLOAT), CAST('12.345' AS DECIMAL(10,3)),
  'a"b', X'6869', true, DATE'2024-02-29', TIMESTAMP'2024-02-29 13:14:15.123456',
  TIMESTAMP_NTZ'2024-02-29 13:14:15.987654', array(CAST(0.5 AS FLOAT), CAST(0.1 AS FLOAT)),
  array(CAST(1 AS TINYINT), CAST(-3 AS TINYINT)), map('k', 1),
  CAST(named_struct('x', 1, 'y', 'z') AS STRUCT<x: INT, y: STRING>), 0.1234567890123456D,
  CAST(123456789012345678 AS BIGINT), CAST(5 AS SMALLINT), 1e20D, array(0.1234567890123456D)),
 (2, NULL, CAST('NaN' AS DOUBLE), CAST('Infinity' AS FLOAT), NULL, NULL, NULL, NULL, NULL,
  NULL, NULL, NULL, NULL, NULL, NULL, CAST('-Infinity' AS DOUBLE), NULL, NULL, NULL, NULL)
AS t(i, nb, d, f, dec, s, b, bo, dt, ts, ntz, af, ai8, m, st, d2, big, sm, huge, ad)"""

_FORMS_JSON = (
    '[{"i": 1, "nb": 630, "d": 1.5e-11, "f": 0.25, "dec": 12.345, "s": "a\\"b", "b": "hi", '
    '"bo": true, "dt": "2024-02-29T00:00:00.000", "ts": "2024-02-29T13:14:15.123", '
    '"ntz": "2024-02-29T13:14:15.987", "af": [0.5, 0.10000000149011612], "ai8": [1, -3], '
    '"m": {"k": 1}, "st": {"x": 1, "y": "z"}, "d2": 0.1234567890123456, '
    '"big": 123456789012345678, "sm": 5, "huge": 1e+20, "ad": [0.1234567890123456]}, '
    '{"i": 2, "nb": null, "d": null, "f": null, "dec": null, "s": null, "b": null, '
    '"bo": null, "dt": null, "ts": null, "ntz": null, "af": null, "ai8": null, "m": null, '
    '"st": null, "d2": null, "big": null, "sm": null, "huge": null, "ad": null}]'
)


def test_scan_json_forms_of_every_type(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_table("forms", df=spark.sql(_FORMS_SQL), now_ms=1_000)
    server, _thread = serve(Api(cat))
    base = f"http://127.0.0.1:{server.server_address[1]}"
    try:
        with urllib.request.urlopen(base + "/forms") as r:
            rows = json.loads(r.read())
    finally:
        server.shutdown()
    rows.sort(key=lambda r: r["i"])
    assert json.dumps(rows) == _FORMS_JSON


def test_records_of_a_null_struct_with_non_nullable_fields(spark):
    """``named_struct`` of literals declares its fields non-nullable; a NULL
    row of it (and one inside an array and a map) is served as null, not a
    500 from Arrow."""
    from thesis_iceberg_spark.http_api import _records

    df = spark.sql(
        "SELECT * FROM VALUES "
        "(1, named_struct('a', 1, 'b', 'x'), array(named_struct('a', 1)), map('k', named_struct('a', 2))), "
        "(2, NULL, array(NULL), NULL) AS t(id, s, arr, m)"
    )
    assert not df.schema["s"].dataType["a"].nullable
    rows = sorted(_records(df, 10), key=lambda r: r["id"])
    assert rows == [
        {"id": 1, "s": {"a": 1, "b": "x"}, "arr": [{"a": 1}], "m": {"k": {"a": 2}}},
        {"id": 2, "s": None, "arr": [None], "m": None},
    ]
