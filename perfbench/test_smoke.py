"""Smoke self-test of the benchmark at scale 0.001.

    python3 perfbench/test_smoke.py        # or: python3 -m pytest perfbench/test_smoke.py

Runs every workload once untraced and ``star_dashboard`` once traced, and
checks that ``BENCHMARK.json`` matches ``layers.py``, that each run prints
every metric of ``BENCHMARK.json`` with its unit, that its outputs were checked and passed, that the output check
does catch a wrong result, and that the command fails without printing a
result when the engine's sources are missing. Takes about two and a half
minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    spec = _spec()
    return subprocess.run(
        [*spec["command"], "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--scale", "0.001"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(p: subprocess.CompletedProcess) -> tuple[dict, dict]:
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    detail = json.loads(lines[-2])["detail"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    return result, detail


def _check_metrics(result: dict, declared: list[dict]) -> None:
    assert result["correct"] is True and result["failed"] == 0, result
    assert result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, (got, want)
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float)), v


def test_every_workload_reports_end_to_end_metrics():
    spec = _spec()
    for w in spec["workloads"]:
        result, detail = _result(_run(w["name"], 0))
        _check_metrics(result, spec["end_to_end"])
        for m in spec["end_to_end"]:
            assert result["metrics"][m["name"]]["value"] > 0, m
        assert detail["seed"] == 7 and detail["failures"] == []
        assert detail["check_s"] > 0 or detail["oracle_s"] > 0, "output check did not run"
        assert {"nproc", "pyspark", "java", "duckdb", "spark", "loadavg_start", "loadavg_end"} <= set(detail["host"])


def test_traced_run_reports_per_layer_metrics():
    spec = _spec()
    result, detail = _result(_run("star_dashboard", 1))
    _check_metrics(result, spec["per_layer"])
    trace_file = os.path.join(ROOT, detail["trace_file"])
    with open(trace_file) as f:
        trace = json.load(f)
    assert trace["spans"] and trace["op_breakdown"]
    assert all(s["end"] >= s["start"] and "self_s" in s for s in trace["spans"])
    assert result["metrics"]["sources.load_calls"]["value"] > 0


def test_benchmark_json_matches_the_catalogue():
    import layers
    import workloads

    spec = _spec()
    assert {k: spec[k] for k in ("end_to_end", "per_layer")} == layers.benchmark_blocks()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.workloads())


def test_output_check_catches_a_wrong_result():
    import pyarrow as pa

    import workloads
    from tools.check_correctness import canon, table_digest

    table = pa.table({
        "k": pa.array([2, 1, None], type=pa.int64()),
        "x": pa.array([0.1 + 0.2, -0.0, float("nan")]),
        "s": pa.array(["b", "a", None]),
    })
    rows = [tuple(r[c] for c in table.column_names) for r in table.to_pylist()]
    assert workloads.digest(table)[2] == table_digest(rows, table.column_names)
    assert canon(-0.0) == "0.0"

    wl = workloads.StarDashboard("t", "", 1.0)
    wl.expected = {"q": workloads.digest(table)}
    wl.check_op(None, "q", table)
    wrong = table.set_column(1, "x", pa.array([0.3, 0.0, 1.0]))
    try:
        wl.check_op(None, "q", wrong)
    except workloads.CheckFailed:
        pass
    else:
        raise AssertionError("a changed value passed the output check")


def test_fails_without_the_engine_sources():
    spec = _spec()
    bare = os.path.join(ROOT, ".bench_build", "perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        p = _run(spec["workloads"][0]["name"], 0, cwd=bare)
        assert p.returncode != 0
        assert '"metrics"' not in p.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_") and callable(fn):
            fn()
            print("ok", name, flush=True)
