"""The query workload ``llm_pipeline``.

One client runs one query at a time (closed loop).  A run is:

1. a check pass, outside the timed window: every query once, in seeded
   order, its rows collected and compared with its DuckDB oracle on the same
   test data by ``oracle.compare_query``, the oracles running on a second
   thread (this pass also warms the JIT and the Python workers);
2. timed passes in fresh seeded orders until ``seconds`` have elapsed (the
   pass that crosses the limit finishes) and at least two have run, each
   query built with its registered function and forced with the noop sink,
   as ``bench.py`` does.  The first timed pass is still 10-20% slower than
   the next (in it the JVM spends more CPU compiling than running queries);
   an untimed warm pass would settle that but does not fit the time a run
   may take.

``pass_s`` is the median wall time of the untraced timed passes.  Their
median CPU time, of the JVM (JIT and GC included) and the Python driver, is
the per-layer ``queries.process_cpu_s``.  A query is
the client's read here: ``read_ms`` is the geometric mean over the queries
of each one's median latency (build plus force), and ``reads_per_s`` is
queries per second.

With tracing on, every other timed pass is traced: each query runs in its
own job group, and its Spark counters are read after it returns.
"""

from __future__ import annotations

import random
import statistics
import time

# Four of the twenty dedup/ANN/text/pipeline headliners, chosen by what a
# run can afford (a warm pass takes 5-10 s on 2 cores, with the host's
# speed).  Semantic dedup is the heaviest scheduling-bound path (47 Spark jobs, eager checkpoints, k-means);
# cosine top-k is the ANN kernel; count-min top-k is a map-side sketch
# aggregate; BPE encoding crosses the Arrow/Python-worker boundary.  Batched
# ANN, whose latency swung +-20% beside the pass between runs, is left out
# for that.  Also left out: pipeline_pretrain_corpus, whose DuckDB oracle
# takes ~120 s, the minhash and decontamination paths, whose oracles take
# 14-18 s, and the rest for the time a pass may take.
LLM = [
    "dedup_semdedup_centroid_far",
    "ann_cosine_topk",
    "text_countmin_topk",
    "text_bpe_encode",
]
# name -> (queries, test data scale, tables the queries read)
WORKLOADS = {
    "llm_pipeline": (LLM, "0.01", ("documents", "embeddings")),
}


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class _Ready:
    """A DuckDB connection stand-in whose one query is already running."""

    def __init__(self, future):
        self.future = future

    def sql(self, _query):
        return self

    def df(self):
        return self.future.result()


def check_pass(ctx, names: list[str]) -> None:
    """Every query once, compared with its DuckDB oracle.  The oracles run
    on a second thread beside the Spark side of the pass."""
    from concurrent.futures import ThreadPoolExecutor

    from thesis_iceberg_spark.oracle import compare_query, duckdb_connection
    from thesis_iceberg_spark.queries import REGISTRY

    con = duckdb_connection(ctx.data_dir)
    con.execute("SET threads = 2")  # as many as Spark's cores
    order = names[:]
    random.Random(ctx.seed).shuffle(order)
    t0 = time.perf_counter()
    with ThreadPoolExecutor(1) as pool:
        oracles = {name: pool.submit(lambda q=REGISTRY[name].oracle: con.sql(q).df()) for name in order}
        try:
            for name in order:
                ctx.attempt()
                spec = REGISTRY[name]
                try:
                    res = compare_query(ctx.spark, _Ready(oracles[name]), name, spec.fn, spec.oracle, ctx.data_dir)
                except Exception as exc:  # noqa: BLE001 - a failing query is a counted failure
                    ctx.fail(f"{name}: {type(exc).__name__}: {exc}")
                    continue
                if not res.ok or name == ctx.corrupt:
                    ctx.fail(f"{res} (wrong output)" if res.ok else str(res))
        finally:
            for f in oracles.values():
                f.cancel()
    con.close()
    ctx.detail["check_pass_s"] = time.perf_counter() - t0


def _pass(ctx, order: list[str], traced: bool, lat: list[tuple[str, float]]) -> float:
    """One pass in ``order``; appends ``(query, seconds)`` to ``lat`` and
    returns the pass's wall time."""
    from thesis_iceberg_spark.queries import REGISTRY

    t_pass = time.perf_counter()
    for name in order:
        ctx.attempt()
        span = ctx.counters.begin(name) if traced else None
        t0 = time.perf_counter()
        try:
            df = REGISTRY[name].fn(ctx.spark, ctx.data_dir)
            t1 = time.perf_counter()
            force(df)
        except Exception as exc:  # noqa: BLE001
            ctx.fail(f"{name}: {type(exc).__name__}: {exc}")
            continue
        t2 = time.perf_counter()
        lat.append((name, t2 - t0))
        if span is not None:
            ctx.counters.end(span, build_s=t1 - t0, force_s=t2 - t1)
    return time.perf_counter() - t_pass


def run(ctx, names: list[str]) -> None:
    """Run one query workload on the session and data ``ctx`` set up."""
    from stats import cpu_s, read_ms
    from thesis_iceberg_spark.queries import queries

    queries()  # imports every query module, filling the registry
    check_pass(ctx, names)
    rng = random.Random(ctx.seed + 1)

    def order() -> list[str]:
        o = names[:]
        rng.shuffle(o)
        return o

    jvm_pid = ctx.spark.sparkContext._gateway.proc.pid
    cpu: list[float] = []
    passes: dict[bool, list[float]] = {False: [], True: []}
    lat: dict[bool, list[tuple[str, float]]] = {False: [], True: []}
    residue: list[int] = []
    t_window = time.perf_counter()
    n_pass = 0
    while (
        time.perf_counter() - t_window < ctx.seconds
        or len(passes[False]) < 2
        or (ctx.trace and not passes[True])
    ):
        traced = ctx.trace and n_pass % 2 == 1
        rdds_before = ctx.counters.persisted_rdds() if traced else 0
        c0 = cpu_s(jvm_pid)
        wall = _pass(ctx, order(), traced, lat[traced])
        if not traced:
            cpu.append(cpu_s(jvm_pid) - c0)
        passes[traced].append(wall)
        if traced:
            ctx.counters.flush(wall)
            residue.append(ctx.counters.persisted_rdds() - rdds_before)
        n_pass += 1
    window = time.perf_counter() - t_window

    ctx.metrics.update(
        pass_s=statistics.median(passes[False]),
        read_ms=read_ms(lat[False]),
        reads_per_s=(len(lat[False]) + len(lat[True])) / window,
    )
    ctx.detail.update(passes=passes[False], pass_cpu_s=cpu, traced_passes=len(passes[True]), read_samples=len(lat[False]))
    if ctx.trace:
        c = ctx.counters
        c.overhead("pass_s", passes[True], passes[False])
        c.overheads["read_ms"] = read_ms(lat[True]) - read_ms(lat[False])
        ctx.layers["queries.persisted_rdds_residue"] = statistics.median(residue)
        ctx.layers["queries.process_cpu_s"] = statistics.median(cpu)
        for name, lab in c.by_label.items():
            ctx.layers[f"queries.{name}.s"] = (lab["build_s"] + lab["force_s"]) / lab["ops"]
            ctx.layers[f"queries.{name}.jobs"] = lab["jobs"] / lab["ops"]
