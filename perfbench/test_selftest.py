"""Tiny-size self-test of the benchmark.

    python3 -m pytest perfbench/test_selftest.py -q

Runs every workload at the `tiny` sizes of session.json, untraced and
traced, through the command line, and checks that every metric is emitted
by name with its unit, that every output check passes, that the ER
stage spans run one after another inside the er_pipeline span, and that
their walls and pipeline.driver_s (the rest of the span) are the medians
reported.
Takes several minutes: each run starts its own Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
from spans import ER_STAGE_SPANS  # noqa: E402

#: per workload, the per-layer spans it must record (others read 0)
STRING_SPANS = [s for s in run.CALL_SPANS if s.startswith("joins.string")]
SMALL_SPANS = [s for s in run.CALL_SPANS if not s.startswith("joins.string")]
SPANS = {
    "er_jaccard": list(ER_STAGE_SPANS.values()),
    "er_cosine": list(ER_STAGE_SPANS.values()),
    "api_calls": list(run.CALL_SPANS),
    "small_calls": SMALL_SPANS + ["joins.temporal", "joins.interval"],
}


def _bench(workload: str, trace: int, seed: int = 3) -> dict:
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-4000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, res.stderr[-4000:]
    return out


def test_benchmark_json_matches_the_emitted_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bm = json.load(f)
    assert {m["name"]: m["unit"] for m in bm["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bm["per_layer"]} == run.per_layer_units()
    assert {w["name"] for w in bm["workloads"]} <= set(run.WORKLOADS)


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_end_to_end_metrics(workload):
    out = _bench(workload, trace=0)
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == run.END_TO_END
    for k, v in out["metrics"].items():
        assert v["value"] > 0, k


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_per_layer_metrics(workload):
    out = _bench(workload, trace=1)
    m = out["metrics"]
    calls = [] if workload.startswith("er_") else SPANS[workload]
    assert {k: v["unit"] for k, v in m.items()} == run.per_layer_units(calls)
    for span in SPANS[workload]:
        assert m[f"{span}.wall_s"]["value"] > 0, span
    with open(os.path.join(HERE, "out", f"trace-{workload}-3.json")) as f:
        spans = json.load(f)["spans"]
    for sp in spans:  # every string join and ER stage records its plan route
        if sp["name"] in STRING_SPANS or sp["name"] in ER_STAGE_SPANS.values():
            assert sp.get("route"), sp["name"]
    if workload.startswith("er_"):
        assert m["blocking.raw_candidates"]["value"] > 0
        assert m["pipeline.driver_s"]["value"] > 0
        assert m["distances.score_batch_pairs_per_s"]["value"] > 0
        _check_er_spans(workload, m)
    if workload in ("small_calls", "api_calls"):
        assert m["ann.lsh_recall"]["value"] >= 0.9


def _check_er_spans(workload: str, m: dict) -> None:
    """Each er_pipeline span holds its five stage spans, one after another;
    on the warm units, the stage walls and pipeline.driver_s (the span's
    wall minus its stages') are the medians the run reports."""
    import statistics

    with open(os.path.join(HERE, "out", f"trace-{workload}-3.json")) as f:
        spans = json.load(f)["spans"]
    roots = [s for s in spans if s["name"] == "er_pipeline"]
    assert len(roots) == 2  # --seconds 1: the cold unit and one warm unit
    walls: dict = {}
    for root in roots:
        kids = sorted((s for s in spans if s["parent"] == root["id"]), key=lambda s: s["start"])
        assert sorted(k["name"] for k in kids) == sorted(ER_STAGE_SPANS.values())
        assert root["start"] <= kids[0]["start"] and kids[-1]["end"] <= root["end"]
        assert all(a["end"] <= b["start"] for a, b in zip(kids, kids[1:]))
        if root is roots[0]:
            continue
        for k in kids:
            walls.setdefault(k["name"], []).append(k["end"] - k["start"])
        walls.setdefault("driver", []).append(
            root["end"] - root["start"] - sum(k["end"] - k["start"] for k in kids))
    for name in ER_STAGE_SPANS.values():
        assert m[f"{name}.wall_s"]["value"] == pytest.approx(statistics.median(walls[name]))
    assert m["pipeline.driver_s"]["value"] == pytest.approx(statistics.median(walls["driver"]))


def test_refuses_to_run_without_the_program():
    """In a directory holding only the benchmark, the run fails fast and
    prints no result."""
    import shutil

    bare = os.path.join(HERE, ".work", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".cache", ".work", "out", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "er_jaccard", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180)
    shutil.rmtree(bare)
    assert res.returncode != 0
    assert res.stdout.strip() == ""
