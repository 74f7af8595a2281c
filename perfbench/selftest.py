"""Self-test of the benchmark at data scale 0.001.

    python3 perfbench/selftest.py

Checks that ``BENCHMARK.json`` names exactly the metrics ``run.py`` emits,
that every workload, untraced and traced, exits 0 and prints every named
metric with its unit, and that a deliberately wrong output (one query's
result, or the table service's final state) is counted as a failure.
Takes a few minutes: each case is a fresh process with its own JVM.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

SCALE = "0.001"


def _run(*extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--seed", "7", "--seconds", "2", "--scale", SCALE, *extra]
    p = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT, timeout=300)
    if p.returncode != 0:
        raise AssertionError(f"{' '.join(extra)}: exit {p.returncode}\n{p.stderr[-2000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"], sorted(result)
    assert result["attempted"] >= 1
    return result


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
    layers = [(m["name"], m["unit"]) for m in spec["per_layer"]]
    assert e2e == run.E2E, "BENCHMARK.json end_to_end differs from run.E2E"
    assert layers == run.per_layer(), "BENCHMARK.json per_layer differs from run.per_layer()"

    for w in (x["name"] for x in spec["workloads"]):
        for trace, want in (("0", e2e), ("1", layers)):
            r = _run("--workload", w, "--trace", trace)
            got = [(n, m["unit"]) for n, m in r["metrics"].items()]
            assert sorted(got) == sorted(want), f"{w} trace {trace}: metric names or units differ"
            assert r["correct"] and r["failed"] == 0, f"{w} trace {trace}: {r['failed']} failed"
            if trace == "0":
                zero = [n for n, m in r["metrics"].items() if m["value"] <= 0]
                assert not zero, f"{w}: end-to-end metrics not positive: {zero}"
            print(f"ok  {w} trace {trace}: {len(got)} metrics, {r['attempted']} operations", flush=True)

    for w, corrupt in (("llm_pipeline", "text_bpe_encode"), ("table_service", "final_table")):
        r = _run("--workload", w, "--trace", "0", "--corrupt", corrupt)
        assert not r["correct"] and r["failed"] == 1, f"{w}: wrong output not counted ({r['failed']})"
        print(f"ok  {w}: a wrong {corrupt} is counted as 1 failure of {r['attempted']}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
