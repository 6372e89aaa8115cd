"""Tests for the benchmark itself: the --smoke run (both workloads,
every output check, the traced run, on a tiny corpus), seeded inputs,
and BENCHMARK.json against the metric tables in run.py.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.run import E2E, LAYER  # noqa: E402


def test_smoke_run_passes_every_check():
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--smoke"], cwd=ROOT, capture_output=True,
                       text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    assert "settings" in json.loads(lines[-3])
    for line in lines[-2:]:
        res = json.loads(line)
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] and res["failed"] == 0
        assert res["attempted"] > 0
        assert {k: v["unit"] for k, v in res["metrics"].items()} == LAYER
    traces = os.path.join(ROOT, ".perfbench", "traces")
    for wl in ("serve", "trec"):
        with open(os.path.join(traces, f"{wl}-s1.json")) as f:
            spans = json.load(f)["spans"]
        assert {"build_index", "update_index", "delete_docs",
                "batch_query", "dist_query", "taat_query"} <= {
            s["name"] for s in spans}


def test_inputs_are_a_function_of_the_seed():
    a, b = inputs.pages(7, 50), inputs.pages(7, 50)
    assert a.equals(b)
    assert not a["html"].equals(inputs.pages(8, 50)["html"])
    assert inputs.serve_log(7, 40, 20) == inputs.serve_log(7, 40, 20)
    assert inputs.trec_log(7, 40, 8) == inputs.trec_log(7, 40, 8)
    assert inputs.delete_ids(7, 600, 3, 10) == inputs.delete_ids(7, 600,
                                                                 3, 10)


def test_upsert_batch_keeps_urls_and_changes_content():
    old, new = inputs.pages(3, 20), inputs.pages(3, 20, salt="upsert")
    assert list(old["url"]) == list(new["url"])
    assert (old["html"] != new["html"]).sum() > 10


def test_benchmark_json_matches_the_metric_tables():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER
    assert [w["name"] for w in spec["workloads"]] == ["serve", "trec"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert max(bounds.values()) == bounds["setup_s"] <= 0.25
    assert all(0 < b for b in bounds.values())
