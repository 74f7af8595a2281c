"""The ``table_service`` workload: reads and writes on one versioned table.

Set-up (``build``) makes a ``Catalog`` holding ``orders`` of the sf0.01 test
data (15k rows) as a ``VersionedTable``, range laid out into 8 files, with
deletes, updates and merges as merge-on-read.  ``run`` serves it with
``http_api.serve``, renames two columns through HTTP ``PATCH`` and defines an
``ApiView`` over the pre-rename names.

After one read of each kind and one merge and compaction, all untimed, one
closed-loop client runs rounds until ``seconds`` have elapsed (the round
that crosses the limit finishes) and at least two have run.  A round is the
writer's three ops (append, update, delete on seeded keys, through
``Catalog.table``), the seven read kinds in a seeded order, then a
compaction, one at a time, so every read of a kind meets the same shape of
table and no two requests compete for the cores.  Time-travel reads go to
snapshot ids ``/orders/snapshots`` returned before the first write.

``pass_s`` is the median wall time of a round, ``read_ms`` the geometric
mean over the read kinds of each kind's median latency, and ``reads_per_s``
the reads per second of the window.  With tracing on, every other round is
traced (its reads and writes).

Checks: every response status against the one expected for its kind (the
NO-MATCH probe expects 404), and the final table (row count and an
order-insensitive digest) against a pandas model of the writes committed.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import threading
import time
import urllib.error
import urllib.parse
import urllib.request

import pandas as pd

SCALE = "0.01"
KINDS = ["scan", "column", "column_match", "time_travel", "history", "view", "nomatch"]
_HTTP_KINDS = ["scan", "column", "time_travel", "history"]
_RENAMES = [("o_totalprice", "total_price"), ("o_orderpriority", "order_priority")]
_MOR = {f"write.{op}.mode": "merge-on-read" for op in ("delete", "update", "merge")}
# Every round has the same writes, then the reads, then a compaction, so
# every read sees the same shape of table (one compacted file, the round's
# appended rows, and the update's and delete's delete files): a read's
# latency tripled with the number of delete files in front of it when the
# writes sat at seeded places among the reads, and without the compaction
# the delete files piled up and each round was slower than the one before.
# The seed picks the keys, values and read order.  Merge runs once, untimed,
# before the rounds: it took 2-8 s, about as long as a whole round.
WRITE_CYCLE = ["append", "update", "delete"]
ROUND_END = "compact"
WARM_WRITES = ["merge", "compact"]
_TRACE_PARAM = "_trace=1"


def _get(base: str, path: str) -> tuple[int, bytes]:
    try:
        with urllib.request.urlopen(base + path, timeout=120) as r:
            return r.status, r.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


def _patch(base: str, path: str) -> int:
    req = urllib.request.Request(base + path, method="PATCH")
    with urllib.request.urlopen(req, timeout=120) as r:
        r.read()
        return r.status


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class _LayerTimes(threading.local):
    """Per-thread time spent inside wrapped engine functions."""

    def __init__(self):
        self.acc: dict[str, float] | None = None


def _timed(fn, key: str, times: _LayerTimes):
    """``fn`` adding its run time to the calling thread's accumulator."""

    def wrapper(*a, **kw):
        t0 = time.perf_counter()
        try:
            return fn(*a, **kw)
        finally:
            if times.acc is not None:
                times.acc[key] = times.acc.get(key, 0.0) + time.perf_counter() - t0

    return wrapper


def _install_wrappers(times: _LayerTimes) -> None:
    """Time calls into tablefmt and functions.resolve made while serving a
    traced request (traced runs only)."""
    from thesis_iceberg_spark import http_api
    from thesis_iceberg_spark.tablefmt.table import VersionedTable

    VersionedTable.__init__ = _timed(VersionedTable.__init__, "load_s", times)
    VersionedTable.read = _timed(VersionedTable.read, "read_plan_s", times)
    http_api.match_column = _timed(http_api.match_column, "match_s", times)


def _kind_of(path: str) -> str:
    p = urllib.parse.urlparse(path)
    if "/column/" in p.path:
        return "column"
    if p.path.endswith("/history") or p.path.endswith("/snapshots"):
        return "history"
    return "time_travel" if "version=" in p.query else "scan"


def _traced_api(api_cls, ctx, times: _LayerTimes):
    class TracedApi(api_cls):
        def handle(self, method, path):
            if _TRACE_PARAM not in path:
                return super().handle(method, path)
            span = ctx.counters.begin(f"http.{_kind_of(path)}")
            times.acc = {}
            t0 = time.perf_counter()
            try:
                return super().handle(method, path)
            finally:
                acc, times.acc = times.acc, None
                ctx.counters.end(span, handle_s=time.perf_counter() - t0, **acc)

    return TracedApi


class _Model:
    """The expected table contents after the writer's committed operations."""

    def __init__(self, df: pd.DataFrame):
        self.df = df.set_index("o_orderkey", drop=False)

    def apply(self, op: str, arg) -> None:
        df = self.df
        if op == "append":
            self.df = pd.concat([df, arg.set_index("o_orderkey", drop=False)])
        elif op == "delete":
            lo, hi = arg
            self.df = df[(df.o_orderkey < lo) | (df.o_orderkey >= hi)].copy()
        elif op == "update":
            lo, hi = arg
            df.loc[(df.o_orderkey >= lo) & (df.o_orderkey < hi), "o_orderstatus"] = "U"
        elif op == "merge":
            src = arg.set_index("o_orderkey", drop=False)
            hit = src.index.intersection(df.index)
            df.loc[hit, "total_price"] = src.loc[hit, "total_price"]
            self.df = pd.concat([df, src.loc[src.index.difference(df.index)]])


class _Writer:
    def __init__(self, ctx, catalog, model: _Model, first_key: int):
        self.ctx, self.catalog, self.model = ctx, catalog, model
        self.rng = random.Random(ctx.seed * 1000 + 999)
        self.next_key = first_key
        self.lat: dict[str, list[float]] = {}
        self.rows_touched = 0
        self.conflicts = 0
        self.commits = 0

    def _rows(self, keys: list[int]) -> pd.DataFrame:
        rng = self.rng
        return pd.DataFrame(
            {
                "o_orderkey": pd.array(keys, dtype="int64"),
                "o_custkey": pd.array([rng.randrange(1000) for _ in keys], dtype="int64"),
                "o_orderstatus": ["N"] * len(keys),
                "total_price": [rng.randrange(100_000, 50_000_000) / 100 for _ in keys],
                "o_orderdate": pd.to_datetime(["2002-01-01"] * len(keys)),
                "order_priority": ["3-MEDIUM"] * len(keys),
            }
        )

    def _arg(self, op: str):
        rng = self.rng
        if op == "compact":
            return None
        lo = rng.randrange(self.next_key - 20)  # merge: old keys never reach new ones
        if op == "append":
            keys = list(range(self.next_key, self.next_key + 50))
            self.next_key += 50
            return self._rows(keys)
        if op == "merge":
            keys = list(range(lo, lo + 20)) + list(range(self.next_key, self.next_key + 20))
            self.next_key += 20
            return self._rows(keys)
        return lo, lo + 30

    def _commit(self, vt, op: str, arg) -> None:
        spark = self.ctx.spark
        if op == "append":
            vt.append(spark.createDataFrame(arg, schema=vt.spark_schema()))
        elif op == "delete":
            vt.delete(f"o_orderkey >= {arg[0]} AND o_orderkey < {arg[1]}")
        elif op == "update":
            vt.update({"o_orderstatus": "'U'"}, f"o_orderkey >= {arg[0]} AND o_orderkey < {arg[1]}")
        elif op == "merge":
            src = spark.createDataFrame(arg, schema=vt.spark_schema())
            vt.merge(src, on="o_orderkey", when_matched_update={"total_price": "s.total_price"})
        else:
            vt.compact()

    def write(self, op: str, traced: bool = False) -> None:
        from thesis_iceberg_spark.tablefmt.table import CommitConflict

        ctx = self.ctx
        arg = self._arg(op)
        ctx.attempt()
        span = ctx.counters.begin(f"write.{op}") if traced else None
        t0 = time.perf_counter()
        try:
            self._commit(self.catalog.table("orders"), op, arg)
        except CommitConflict as exc:
            self.conflicts += 1
            ctx.fail(f"writer {op}: CommitConflict: {exc}")
            return
        except Exception as exc:  # noqa: BLE001 - a failed write is a counted failure
            ctx.fail(f"writer {op}: {type(exc).__name__}: {exc}")
            return
        finally:
            if span is not None:
                ctx.counters.end(span)
        self.lat.setdefault(op, []).append(time.perf_counter() - t0)
        self.commits += 1
        if op != "compact":
            self.model.apply(op, arg)
            self.rows_touched += len(arg) if isinstance(arg, pd.DataFrame) else arg[1] - arg[0]


class _Reader:
    def __init__(self, ctx, base, view, times, snapshot_ids, n_keys):
        self.ctx, self.base, self.view, self.times = ctx, base, view, times
        self.rng = random.Random(ctx.seed * 1000)
        self.snapshot_ids = snapshot_ids
        self.n_keys = n_keys
        self.lat: dict[bool, list[tuple[str, float, int]]] = {False: [], True: []}
        self.view_times: list[tuple[float, float]] = []

    def _where(self) -> str:
        lo = self.rng.randrange(self.n_keys)
        return urllib.parse.quote(f"o_orderkey >= {lo} AND o_orderkey < {lo + 200}")

    def _read(self, kind: str, traced: bool) -> tuple[bool, int]:
        """One read; returns (status as expected, response bytes)."""
        tp = "&" + _TRACE_PARAM if traced else ""
        if kind == "view":
            self.times.acc = {} if traced else None
            t0 = time.perf_counter()
            pdf = self.view.dataframe().limit(1000).toPandas()
            if traced:
                self.view_times.append((self.times.acc.get("view_resolve_s", 0.0), time.perf_counter() - t0))
                self.times.acc = None
            return list(pdf.columns) == ["key", "price", "priority"], 0
        if kind == "scan":
            path = f"/orders?where={self._where()}{tp}"
        elif kind == "column":
            path = f"/orders/column/{_RENAMES[0][0]}?limit=1000{tp}"
        elif kind == "column_match":
            path = f"/orders/column/OrderStatus?limit=1000{tp}"
        elif kind == "time_travel":
            sid = self.rng.choice(self.snapshot_ids)
            path = f"/orders?version={sid}&where={self._where()}{tp}"
        elif kind == "history":
            path = f"/orders/history?{tp[1:]}"
        else:
            path = f"/orders/column/zq_unknown_field?{tp[1:]}"
        status, body = _get(self.base, path)
        return status == (404 if kind == "nomatch" else 200), len(body)

    def read(self, kind: str, traced: bool = False) -> None:
        """One counted read, its latency kept if it succeeded."""
        ctx = self.ctx
        ctx.attempt()
        t0 = time.perf_counter()
        try:
            ok, nbytes = self._read(kind, traced)
        except Exception as exc:  # noqa: BLE001 - a failed read is a counted failure
            ok, nbytes = False, 0
            ctx.fail(f"reader {kind}: {type(exc).__name__}: {exc}")
        else:
            if not ok:
                ctx.fail(f"reader {kind}: unexpected status or result")
        if ok:
            self.lat[traced].append((kind, time.perf_counter() - t0, nbytes))


def _metadata_file(location: str) -> str:
    meta = os.path.join(location, "metadata")
    with open(os.path.join(meta, "version-hint.text")) as f:
        return os.path.join(meta, f"v{int(f.read().strip())}.metadata.json")


def _file_counts(location: str) -> tuple[int, int]:
    """Data and delete files of the table's current snapshot."""
    with open(_metadata_file(location)) as f:
        meta = json.load(f)
    summary = next(s for s in meta["snapshots"] if s["snapshot_id"] == meta["current_snapshot_id"])["summary"]
    return int(summary["total-data-files"]), int(summary["total-delete-files"])


def build(ctx, rep: int):
    """The served table, in a fresh warehouse: one repetition of set-up."""
    from thesis_iceberg_spark.tablefmt.catalog import Catalog

    catalog = Catalog(ctx.spark, os.path.join(ctx.work, f"warehouse-{rep}"))
    source = ctx.spark.table("orders").repartitionByRange(8, "o_orderkey")
    catalog.create_table("orders", df=source, properties=_MOR)
    return catalog


def _round(reader: _Reader, writer: _Writer, rng: random.Random, traced: bool, files: list) -> float:
    """The three writes, the seven reads in a seeded order, then a
    compaction; returns the round's wall time.  A traced round appends the
    data and delete file counts its reads meet to ``files``."""
    kinds = KINDS[:]
    rng.shuffle(kinds)
    t0 = time.perf_counter()
    for op in WRITE_CYCLE:
        writer.write(op, traced)
    if traced:
        files.append(_file_counts(writer.catalog.table("orders").location))
    for kind in kinds:
        reader.read(kind, traced)
    writer.write(ROUND_END, traced)
    return time.perf_counter() - t0


def _rounds(ctx, reader: _Reader, writer: _Writer) -> dict[bool, list[float]]:
    """Rounds until ``seconds`` have elapsed and two untraced rounds have
    run; a traced run traces every other round and runs at least one.
    Returns the rounds' wall times, untraced and traced."""
    rng = random.Random(ctx.seed * 1000 + 1)
    rounds: dict[bool, list[float]] = {False: [], True: []}
    files: list[tuple[int, int]] = []
    t0 = time.perf_counter()
    n = 0
    while (
        time.perf_counter() - t0 < ctx.seconds
        or len(rounds[False]) < 2
        or (ctx.trace and not rounds[True])
    ):
        traced = ctx.trace and n % 2 == 1
        rounds[traced].append(_round(reader, writer, rng, traced, files))
        if traced:
            ctx.counters.flush()
        n += 1
    ctx.detail["window_s"] = time.perf_counter() - t0
    if files:
        ctx.layers["tablefmt.data_files"] = statistics.median(d for d, _ in files)
        ctx.layers["tablefmt.delete_files"] = statistics.median(d for _, d in files)
    return rounds


def run(ctx, catalog) -> None:
    from stats import read_ms
    from thesis_iceberg_spark import http_api
    from thesis_iceberg_spark.oracle import canonical_rows
    from thesis_iceberg_spark.views import ApiView

    times = _LayerTimes()
    if ctx.trace:
        _install_wrappers(times)
    vt = catalog.table("orders")
    api_cls = _traced_api(http_api.Api, ctx, times) if ctx.trace else http_api.Api
    server, thread = http_api.serve(api_cls(catalog))
    base = f"http://127.0.0.1:{server.server_address[1]}"
    try:
        for old, new in _RENAMES:
            ctx.attempt()
            if _patch(base, f"/orders/rename_column/{old}/{new}") != 200:
                ctx.fail(f"rename {old}: unexpected status")
        view = ApiView(
            "orders_v1", vt, {"key": "o_orderkey", "price": _RENAMES[0][0], "priority": _RENAMES[1][0]}
        )
        if ctx.trace:
            view.resolve = _timed(view.resolve, "view_resolve_s", times)
        model = _Model(pd.read_parquet(os.path.join(ctx.data_dir, "orders.parquet")).rename(columns=dict(_RENAMES)))
        n_keys = len(model.df)
        status, body = _get(base, "/orders/snapshots")
        snapshot_ids = [r["snapshot_id"] for r in json.loads(body)]
        reader = _Reader(ctx, base, view, times, snapshot_ids, n_keys)
        for kind in KINDS:  # one untimed read of each kind: JIT and caches
            reader._read(kind, False)
        bytes_before = _tree_bytes(vt.location)
        writer = _Writer(ctx, catalog, model, first_key=n_keys)
        for op in WARM_WRITES:
            writer.write(op)
        rdds_before = ctx.counters.persisted_rdds() if ctx.trace else 0
        rounds = _rounds(ctx, reader, writer)

        final = catalog.table("orders")
        ctx.attempt()
        got = final.read().toPandas()
        want = model.df.reset_index(drop=True)[list(got.columns)]
        if len(got) != len(want) or canonical_rows(got) != canonical_rows(want) or ctx.corrupt == "final_table":
            ctx.fail(f"final table: {len(got)} rows, model {len(want)}; contents differ")
    finally:
        server.shutdown()
        server.server_close()
        thread.join(timeout=30)

    window = ctx.detail["window_s"]
    untraced = [(kind, lat) for kind, lat, _ in reader.lat[False]]
    n_reads = len(reader.lat[False]) + len(reader.lat[True])
    ctx.metrics.update(
        pass_s=statistics.median(rounds[False]),
        read_ms=read_ms(untraced),
        reads_per_s=n_reads / window,
    )
    stored = _tree_bytes(final.location)
    row_bytes = bytes_before / max(1, n_keys)
    layers = {
        "tablefmt.metadata_bytes": os.path.getsize(_metadata_file(final.location)),
        "tablefmt.writes_per_s": (len(WRITE_CYCLE) + 1) * len(rounds[False] + rounds[True]) / window,
        "tablefmt.bytes_written_per_user_byte": (stored - bytes_before) / max(1.0, writer.rows_touched * row_bytes),
        "tablefmt.stored_bytes_per_row": stored / max(1, len(got)),
        "tablefmt.commit_conflicts": writer.conflicts,
    }
    for op in WARM_WRITES + WRITE_CYCLE:
        layers[f"tablefmt.{op}_s"] = statistics.median(writer.lat.get(op, [0.0]))
    by_kind: dict[str, list[float]] = {}
    for kind, lat, _ in reader.lat[False]:
        by_kind.setdefault(kind, []).append(lat)
    ctx.detail.update(
        rounds=rounds[False],
        traced_rounds=len(rounds[True]),
        reads=n_reads,
        read_s=by_kind,
        write_s=writer.lat,
        read_samples=len(untraced),
        writes=writer.commits,
        **layers,
    )
    if ctx.trace:
        ctx.layers.update(layers)
        ctx.counters.overhead("pass_s", rounds[True], rounds[False])
        _traced_layers(ctx, reader, rdds_before)


def _traced_layers(ctx, reader: _Reader, rdds_before: int) -> None:
    """Per-request layer times of the traced reads and writes."""
    from stats import read_ms

    c = ctx.counters
    traced, untraced = reader.lat[True], reader.lat[False]
    c.overheads["read_ms"] = read_ms([(k, lat) for k, lat, _ in traced]) - read_ms([(k, lat) for k, lat, _ in untraced])
    lat_by_kind: dict[str, float] = {}
    for kind, lat, _ in traced:
        k = "column" if kind in ("column_match", "nomatch") else kind
        lat_by_kind[k] = lat_by_kind.get(k, 0.0) + lat
    http = {k: v for k, v in c.by_label.items() if k.startswith("http.")}
    http_reads = sum(v["ops"] for v in http.values()) or 1.0
    handle = sum(v["handle_s"] for v in http.values())
    http_lat = sum(lat_by_kind.get(k, 0.0) for k in _HTTP_KINDS)
    writes = {k: v for k, v in c.by_label.items() if k.startswith("write.")}
    view = reader.view_times
    column = http.get("http.column", {})
    ctx.layers.update(
        {
            "tablefmt.load_s": sum(v.get("load_s", 0.0) for v in http.values()) / http_reads,
            "tablefmt.read_plan_s": sum(v.get("read_plan_s", 0.0) for v in http.values()) / http_reads,
            "tablefmt.jobs_per_write": sum(v["jobs"] for v in writes.values())
            / (sum(v["ops"] for v in writes.values()) or 1.0),
            "functions.resolve.match_s": column.get("match_s", 0.0) / (column.get("ops", 0.0) or 1.0),
            "views.resolve_s": sum(rs for rs, _ in view) / (len(view) or 1),
            "views.read_s": sum(t - rs for rs, t in view) / (len(view) or 1),
            "http_api.transport_s": (http_lat - handle) / http_reads,
            "http_api.jobs_per_read": sum(v["jobs"] for v in http.values()) / http_reads,
            "http_api.response_bytes": sum(b for k, _, b in traced if k != "view") / http_reads,
            "queries.persisted_rdds_residue": c.persisted_rdds() - rdds_before,
        }
    )
    for k in _HTTP_KINDS:
        lab = http.get(f"http.{k}", {})
        ctx.layers[f"http_api.handle_s.{k}"] = lab.get("handle_s", 0.0) / (lab.get("ops", 0.0) or 1.0)
