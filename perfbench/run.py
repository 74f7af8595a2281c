"""Benchmark of the engine: query passes and a read/write table service.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Workloads (all closed loop, seeded):

* ``llm_pipeline``: four dedup/ANN/text/pipeline headliners, one query at a
  time.
* ``table_service``: one client's HTTP reads and writes on a versioned table.

Inputs are the engine's reference test data, kept under
``perfbench/testdata/``.  Every run works in ``.perfbench_work/<pid>/``
(removed on exit): the engine's scan-layout cache is pointed there, so each
run lays the tables out afresh and builds the same state.  Spark runs on
``local[2]``, leaving two of the four cores to the driver, Python workers,
JIT, GC and the HTTP server: the JIT alone used more CPU than the queries in
a process's first passes, and with ``local[4]`` the JVM oversubscribed the
cores.  Outputs are checked outside the timed window, and the last line
printed is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``.  With ``--trace 0`` the metrics are the end-to-end ones in
``E2E``; with ``--trace 1`` the per-layer ones of ``per_layer()``, read from
a run in which every other pass or round is traced.  The line before it holds
the host canaries and per-run detail.

``setup_s`` is the session start (process start to a session: imports and
the JVM) plus the median of ``SETUP_REPS`` data set-ups, each laying out
and registering the tables in fresh directories and, for ``table_service``,
building the served table.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TESTDATA = os.path.join(HERE, "testdata")
CPUS = 2
SETUP_REPS = 3
WORKLOAD_NAMES = ["llm_pipeline", "table_service"]

E2E = [
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("read_ms", "ms"),
    ("reads_per_s", "1/s"),
]


def per_layer() -> list[tuple[str, str]]:
    from query_workloads import LLM

    out = [
        ("host.canary_jvm_s", "s"),
        ("host.canary_numpy_s", "s"),
        ("host.peak_rss_mb", "MB"),
        ("session.get_spark_s", "s"),
        ("sources.register_tables_s", "s"),
        ("trace.overhead_pass_s", "s"),
        ("trace.overhead_read_ms", "ms"),
        ("queries.build_s", "s"),
        ("queries.force_s", "s"),
        ("queries.jobs", "count"),
        ("queries.stages", "count"),
        ("queries.tasks", "count"),
        ("queries.failed_tasks", "count"),
        ("queries.shuffle_write_bytes", "B"),
        ("queries.shuffle_read_bytes", "B"),
        ("queries.spill_bytes", "B"),
        ("queries.executor_run_s", "s"),
        ("queries.executor_cpu_s", "s"),
        ("queries.slot_busy_ratio", "ratio"),
        ("queries.persisted_rdds_residue", "count"),
        ("queries.process_cpu_s", "s"),
        ("operators.python_run_s", "s"),
        ("operators.python_start_s", "s"),
        ("operators.python_bytes_sent", "B"),
        ("operators.python_bytes_returned", "B"),
        ("tablefmt.load_s", "s"),
        ("tablefmt.metadata_bytes", "B"),
        ("tablefmt.read_plan_s", "s"),
        ("tablefmt.data_files", "count"),
        ("tablefmt.delete_files", "count"),
        ("tablefmt.writes_per_s", "1/s"),
        ("tablefmt.append_s", "s"),
        ("tablefmt.delete_s", "s"),
        ("tablefmt.update_s", "s"),
        ("tablefmt.merge_s", "s"),
        ("tablefmt.compact_s", "s"),
        ("tablefmt.jobs_per_write", "count"),
        ("tablefmt.bytes_written_per_user_byte", "ratio"),
        ("tablefmt.stored_bytes_per_row", "B"),
        ("tablefmt.commit_conflicts", "count"),
        ("functions.resolve.match_s", "s"),
        ("views.resolve_s", "s"),
        ("views.read_s", "s"),
        ("http_api.handle_s.scan", "s"),
        ("http_api.handle_s.column", "s"),
        ("http_api.handle_s.time_travel", "s"),
        ("http_api.handle_s.history", "s"),
        ("http_api.transport_s", "s"),
        ("http_api.jobs_per_read", "count"),
        ("http_api.response_bytes", "B"),
    ]
    for name in LLM:
        out += [(f"queries.{name}.s", "s"), (f"queries.{name}.jobs", "count")]
    return out


class Context:
    """State of one run: session, inputs, counts and the metrics gathered."""

    def __init__(self, args, work: str, data_dir: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.corrupt = args.corrupt  # self-test: treat this output as wrong
        self.work = work
        self.data_dir = data_dir
        self.spark = None
        self.counters = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.detail: dict = {}
        self._lock = threading.Lock()

    def attempt(self) -> None:
        with self._lock:
            self.attempted += 1

    def fail(self, message: str) -> None:
        with self._lock:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(message[:300])
        print(f"perfbench: failed: {message}", file=sys.stderr)


def _environment(work: str) -> None:
    """Keep every file the engine writes inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_LAYOUT_CACHE="1",
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "spark-warehouse"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _start_session(ctx: Context):
    """The session.  JIT and Python workers warm up in the untimed check
    pass or warm-up reads, not here."""
    from thesis_iceberg_spark import get_spark

    t0 = time.perf_counter()
    tmp = os.environ["TMPDIR"]
    spark = get_spark(
        app_name=f"perfbench-{ctx.workload}",
        extra_conf={
            # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    ctx.layers["session.get_spark_s"] = time.perf_counter() - t0
    ctx.detail["session_s"] = time.perf_counter() - T_START


def set_up(ctx: Context, tables: tuple[str, ...], build=None):
    """Start the session, then run the data set-up ``SETUP_REPS`` times, each
    into fresh directories: lay out and register ``tables`` through the
    engine's own layout cache, then ``build(ctx, rep)`` if given.  The last
    repetition's state is kept; ``build``'s result is returned."""
    from thesis_iceberg_spark.sources import registry

    _start_session(ctx)
    reps, register_s = [], []
    state = None
    for rep in range(SETUP_REPS):
        registry._CACHE_BASE = os.path.join(ctx.work, f"layout-{rep}")
        t0 = time.perf_counter()
        for df in registry.register_tables(ctx.spark, ctx.data_dir, tables).values():
            df.limit(1).count()
        register_s.append(time.perf_counter() - t0)
        if build is not None:
            state = build(ctx, rep)
        reps.append(time.perf_counter() - t0)
    ctx.layers["sources.register_tables_s"] = statistics.median(register_s)
    ctx.metrics["setup_s"] = ctx.detail["session_s"] + statistics.median(reps)
    ctx.detail["data_setup_s"] = reps
    if ctx.trace:
        from counters import Counters

        ctx.counters = Counters(ctx.spark)
    return state


def _canaries(spark) -> dict[str, float]:
    """Fixed host work, as in ``bench.py``: reads host drift, not code."""
    import numpy as np
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(0, 100_000_000, 1, 32).select(F.expr("bit_xor(xxhash64(id))")).collect()
    jvm_s = time.perf_counter() - t0
    a = np.full((1024, 1024), 1.0003, dtype=np.float64)
    t0 = time.perf_counter()
    for _ in range(8):
        a = np.clip(a @ a, 0.5, 1.5)
    return {"host.canary_jvm_s": jvm_s, "host.canary_numpy_s": time.perf_counter() - t0}


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop_session(spark) -> None:
    """Stop Spark, then the JVM the session launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort: never leave the JVM behind
            proc.kill()
            proc.wait()


def _layer_metrics(ctx: Context) -> dict[str, float]:
    """Per-pass Spark counters of the traced query passes."""
    out = dict(ctx.layers)
    c = ctx.counters
    t = c.totals
    passes = ctx.detail.get("traced_passes", 0)
    if passes:
        for key in (
            "build_s", "force_s", "jobs", "stages", "tasks", "failed_tasks",
            "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "executor_run_s", "executor_cpu_s",
        ):
            out[f"queries.{key}"] = t[key] / passes
        out["queries.slot_busy_ratio"] = t["executor_run_s"] / (c.wall_s * CPUS) if c.wall_s else 0.0
        for key in ("python_run_s", "python_start_s", "python_bytes_sent", "python_bytes_returned"):
            out[f"operators.{key}"] = t[key] / passes
    out["trace.overhead_pass_s"] = c.overheads.get("pass_s", 0.0)
    out["trace.overhead_read_ms"] = c.overheads.get("read_ms", 0.0)
    return out


def run(args) -> dict:
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    _environment(work)
    sys.path.insert(0, HERE)
    import query_workloads
    import table_service

    if args.workload in query_workloads.WORKLOADS:
        names, scale, tables = query_workloads.WORKLOADS[args.workload]
    else:
        names, scale, tables = None, table_service.SCALE, ("orders",)
    ctx = Context(args, work, os.path.join(TESTDATA, f"sf{args.scale or scale}"))
    try:
        if names is not None:
            set_up(ctx, tables)
            query_workloads.run(ctx, names)
        else:
            table_service.run(ctx, set_up(ctx, tables, table_service.build))
        canaries = _canaries(ctx.spark)
        jvm_pid = ctx.spark.sparkContext._gateway.proc.pid
        ctx.layers["host.peak_rss_mb"] = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm_pid)
    finally:
        if ctx.spark is not None:
            _stop_session(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)

    if ctx.trace:
        values = {**_layer_metrics(ctx), **canaries}
        metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in per_layer()}
    else:
        metrics = {n: {"value": float(ctx.metrics[n]), "unit": u} for n, u in E2E}
    ctx.detail.update(canaries=canaries, errors=ctx.errors, end_s=time.perf_counter() - T_START)
    print(json.dumps({"workload": ctx.workload, "seed": ctx.seed, "detail": ctx.detail}))
    return {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", default=None, help="test data scale override, e.g. 0.001 (self-test)")
    p.add_argument("--corrupt", default=None, help="self-test: count this output as wrong")
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "thesis_iceberg_spark")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    try:
        result = run(args)
    except Exception:  # noqa: BLE001 - report the failure, print no result
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
