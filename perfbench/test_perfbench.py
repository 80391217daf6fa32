"""Self-test of the benchmark at tiny size (2k-doc crawl, sf0.001 tables).

    python3 -m pytest perfbench/test_perfbench.py -q

Runs each workload untraced and traced and checks that every metric
BENCHMARK.json names is printed with its unit, that no operation failed,
and that the span tree is consistent: self times are non-negative and
add up to the root span's wall.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())

REPORT_NAMES = {
    "deep_crawl": ("crawl_s", "links_per_s", "wave_p50_s", "wave_max_s", "read_api_s"),
    "operator_queries": ("query_suite_s", "text_dedup_s", "vector_s", "relational_s"),
}


def run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--tiny"],
        check=True, capture_output=True, text=True, timeout=900, cwd=ROOT,
    ).stdout.strip().splitlines()
    return json.loads(out[-2]), json.loads(out[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run(workload):
    for trace, section in ((0, "end_to_end"), (1, "per_layer")):
        report, result = run(workload, trace)
        assert result["correct"] is True
        assert result["failed"] == 0 and result["attempted"] >= 1
        assert report["metrics"]["failed_frac"]["value"] == 0
        want = {m["name"]: m["unit"] for m in SPEC[section]}
        got = result["metrics"]
        assert set(got) == set(want)
        for name, unit in want.items():
            assert got[name]["unit"] == unit, name
            assert isinstance(got[name]["value"], (int, float)), name
        for name in REPORT_NAMES[workload] + ("setup_s", "peak_rss_mb"):
            assert report["metrics"][name]["unit"], name
        if trace:
            spans = report["spans"]
            assert spans
            for s in spans:
                assert s["self_s"] >= -1e-3, s
                if s["parent"] is not None:  # a child lies inside its parent
                    p = spans[s["parent"]]
                    assert s["start_s"] >= p["start_s"] - 1e-3, s
                    assert (s["start_s"] + s["wall_s"]
                            <= p["start_s"] + p["wall_s"] + 1e-3), s
            for i, s in enumerate(spans):
                if s["parent"] is None:
                    total = sum(x["self_s"] for x in _subtree(spans, i))
                    assert abs(total - s["wall_s"]) < 1e-3 * (1 + len(spans)), s
            if workload == "deep_crawl":
                assert got["dedup.bloom_candidates"]["value"] == 0


def _subtree(spans: list[dict], idx: int) -> list[dict]:
    kids = [i for i, s in enumerate(spans) if s["parent"] == idx]
    return [spans[idx]] + [x for k in kids for x in _subtree(spans, k)]
