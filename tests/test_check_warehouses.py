"""Check warehouses are kept per process: the tablefmt check queries build
their tables under a directory keyed by the process, so two processes on
one data root no longer delete each other's live tables, and a dead
process's directory is collected once it is a day old."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import time

from thesis_iceberg_spark.oracle import compare_query
from thesis_iceberg_spark.queries import REGISTRY, queries
from thesis_iceberg_spark.queries import tablefmt_checks as tc

queries()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_TWO_DAYS_AGO = time.time() - 2 * 86400


class _Oracle:
    """A DuckDB connection stand-in that answers with one frame."""

    def __init__(self, df):
        self.df_ = df

    def sql(self, _query):
        return self

    def df(self):
        return self.df_


def test_sql_ddl_lifecycle_from_two_processes(spark, duck, sf_dir):
    """This process builds the check's table and holds its lazy read while
    a second process runs the same check on the same data root; both must
    match the oracle."""
    spec = REGISTRY["sql_ddl_lifecycle"]
    held = spec.fn(spark, sf_dir)
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from thesis_iceberg_spark import get_spark
        from thesis_iceberg_spark.oracle import compare_query, duckdb_connection
        from thesis_iceberg_spark.queries import REGISTRY, queries

        queries()
        spark = get_spark(app_name="check_wh_probe", shuffle_partitions=2)
        spark.sparkContext.setLogLevel("ERROR")
        spec = REGISTRY["sql_ddl_lifecycle"]
        res = compare_query(spark, duckdb_connection({sf_dir!r}), "sql_ddl_lifecycle", spec.fn, spec.oracle, {sf_dir!r})
        print("OK" if res.ok else res)
        spark.stop()
        """
    )
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2"}
    p = subprocess.run(
        [sys.executable, "-c", script], cwd=ROOT, env=env, capture_output=True, text=True, timeout=600
    )
    assert p.returncode == 0 and "OK" in p.stdout.splitlines(), (p.stdout[-2000:], p.stderr[-3000:])
    res = compare_query(
        spark, _Oracle(duck.sql(spec.oracle).df()), "sql_ddl_lifecycle", lambda *_: held, spec.oracle, sf_dir
    )
    assert res.ok, str(res)


def test_dead_process_warehouses_are_collected(tmp_path, monkeypatch, sf_dir):
    base = tmp_path / "checks"
    monkeypatch.setattr(tc, "BASE", str(base))
    gone = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"], capture_output=True, text=True)
    dead_pid = int(gone.stdout)

    def entry(name: str, aged: bool = True):
        d = base / name
        (d / "sf0.001-00000000" / "orders_vt").mkdir(parents=True)
        if aged:
            os.utime(d, (_TWO_DAYS_AGO, _TWO_DAYS_AGO))
        return d

    dead = entry(f"{dead_pid}-deadbeef")
    dead_recent = entry(f"{dead_pid}-0badf00d", aged=False)
    live = entry(f"{os.getppid()}-cafebabe")
    unkeyed = entry("sf0.001")  # the directory layout before process keys

    loc = tc._fresh(sf_dir, "probe_wh")

    assert loc.startswith(os.path.join(str(base), tc._PROC_KEY) + os.sep)
    assert not dead.exists() and not unkeyed.exists()
    assert dead_recent.exists() and live.exists()
