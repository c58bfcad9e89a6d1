"""Smoke test of the benchmark itself: one minimal run of each workload on
the smallest dataset (sf0.001), untraced and traced.

    python3 perfbench/test_smoke.py      (from the repository root)

Asserts that every end-to-end metric is printed with its unit, that every
per-layer metric in BENCHMARK.json is, that error_rate is 0, and that the
trace attributes tasks to every traced query call and micro-batches to
every streaming-gate call."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from run import END_TO_END_UNITS  # noqa: E402

SF_DIR = os.path.join(ROOT, "perfbench", "data", "sf0.001")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int) -> tuple[dict, list[str]]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--sf-dir", SF_DIR]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines


def check_workload(workload: str) -> None:
    spec = _bench()
    out, lines = _run(workload, 0)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0, out
    for m in spec["end_to_end"]:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0, (m, got)
    # the report prints every end-to-end metric, bounded or not, with its unit
    printed = {ln.split(" = ")[0]: ln.split(" = ")[1].split() for ln in lines if " = " in ln}
    for name, unit in END_TO_END_UNITS.items():
        if name == "query_p90_ms" and name not in printed:
            assert any(ln.startswith("query_p90_ms not reported") for ln in lines)
            continue
        assert printed[name][1] == unit, (name, printed[name])
    assert float(printed["error_rate"][0]) == 0.0, printed["error_rate"]

    out, lines = _run(workload, 1)
    assert out["correct"] and out["failed"] == 0, out
    for m in spec["per_layer"]:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], (int, float)), (m, got)
    path = next(ln for ln in lines if ln.startswith("trace written to ")).split(" to ", 1)[1]
    with open(os.path.join(ROOT, path)) as f:
        trace = json.load(f)
    traced = [c for c in trace["calls"] if c["pass"].endswith("t")]
    assert traced, "no traced warm pass"
    for c in traced:
        assert c["exec"]["tasks"] > 0, (c["query"], c["exec"])
        phases = c["construct_s"] + c["plan_s"] + c["execute_s"]
        assert 0 < phases <= c["traced_wall_s"] <= c["wall_s"], c
        if c["family"] == "streaming":
            assert len(c["batches"]) > 0, c["query"]
    # the write's own planning is measured on every call, memo hits included
    assert sum(c["plan_s"] for c in traced) > 0, traced
    assert any(ln.startswith("trace check: ") for ln in lines)


def test_meta_workload():
    check_workload("meta_sf0.01")


def test_corpus_stream_workload():
    check_workload("corpus_stream_sf0.001")


if __name__ == "__main__":
    for name in ("meta_sf0.01", "corpus_stream_sf0.001"):
        check_workload(name)
        print(f"{name}: ok", flush=True)
