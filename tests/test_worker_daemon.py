"""Python workers fork from ``thesis_iceberg_spark.worker_daemon``: a task
re-reads a zip archive on the import path only when the archive changed,
and workers import the package whatever the driver's cwd."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_task_rereads_only_a_changed_archive(spark, tmp_path):
    zpath = str(tmp_path / "probe.zip")

    def probe(batches):
        import importlib
        import time
        import zipfile
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        main = sys.modules["__main__"].__spec__
        with zipfile.ZipFile(zpath, "w") as z:
            z.writestr("wd_probe_a.py", "X = 1\n")
        sys.path.insert(0, zpath)
        reads: list[str] = []
        real = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return real(archive)

        try:
            import wd_probe_a  # noqa: F401 - puts a zipimporter on the path

            importlib.invalidate_caches()  # first sight of probe.zip
            zipimport._read_directory = counting
            t0 = time.perf_counter()
            importlib.invalidate_caches()
            unchanged_s = time.perf_counter() - t0
            unchanged = list(reads)
            with zipfile.ZipFile(zpath, "a") as z:
                z.writestr("wd_probe_b.py", "Y = 2\n")
            importlib.invalidate_caches()
            touched = reads[len(unchanged):]
            import wd_probe_b

            y = wd_probe_b.Y
        finally:
            zipimport._read_directory = real
            sys.path.remove(zpath)
            for m in ("wd_probe_a", "wd_probe_b"):
                sys.modules.pop(m, None)
        yield pd.DataFrame(
            {
                "daemon": [main.name if main else ""],
                "unchanged_reads": [len(unchanged)],
                "unchanged_ms": [unchanged_s * 1000],
                "touched_reads": [touched.count(zpath)],
                "y": [y],
            }
        )

    schema = "daemon string, unchanged_reads int, unchanged_ms double, touched_reads int, y int"
    row = spark.range(1, numPartitions=1).mapInPandas(probe, schema).first()
    assert row.daemon == "thesis_iceberg_spark.worker_daemon"
    # an unchanged archive is not re-read, pyspark.zip included
    assert row.unchanged_reads == 0, row
    assert row.unchanged_ms < 50, row
    # a changed one is re-read once, and its new module imports
    assert row.touched_reads == 1, row
    assert row.y == 2


def test_udf_query_runs_from_a_cwd_outside_the_repo(sf_dir, tmp_path):
    """Workers find the package through the session's executor PYTHONPATH,
    not through the driver's cwd."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from thesis_iceberg_spark import get_spark
        from thesis_iceberg_spark.queries import REGISTRY, queries

        queries()
        spark = get_spark(app_name="cwd_probe", shuffle_partitions=2)
        spark.sparkContext.setLogLevel("ERROR")
        print("ROWS", REGISTRY["text_bpe_encode"].fn(spark, {sf_dir!r}).count())
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    p = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    rows = [line for line in p.stdout.splitlines() if line.startswith("ROWS ")]
    assert rows and int(rows[0].split()[1]) > 0, p.stdout[-2000:]
