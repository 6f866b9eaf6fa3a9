"""JVM-free tests of the A/B tool's parsing and summary (tools/perfbench_ab.py)."""

import importlib.util
import json
import os

_spec = importlib.util.spec_from_file_location(
    "perfbench_ab",
    os.path.join(os.path.dirname(__file__), "..", "tools", "perfbench_ab.py"),
)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)


def _run(tput, p50, correct=True, failed=0):
    return {
        "correct": correct, "failed": failed,
        "metrics": {"throughput_per_s": tput, "latency_ms_p50": p50},
        "anchors": {"anchor.noop_job_ms": 60.0},
    }


def test_parse_seeds_and_run_output():
    assert ab.parse_seeds("2-5") == [2, 3, 4, 5]
    assert ab.parse_seeds("1,3,7-8") == [1, 3, 7, 8]
    verdict = {"correct": True, "attempted": 9, "failed": 0,
               "metrics": {"setup_s": {"value": 25.0, "unit": "s"}}}
    out = "setup_s 25 s\nanchor.noop_job_ms 64.5 ms\nfailed_ratio 0 ratio\n" + json.dumps(verdict)
    r = ab.parse_run(out)
    assert r == {"correct": True, "failed": 0, "metrics": {"setup_s": 25.0},
                 "anchors": {"anchor.noop_job_ms": 64.5}}


def test_summary_counts_wins_by_direction_and_flags_failures():
    pairs = [
        {"seed": 1, "parent": _run(100, 50), "change": _run(120, 40)},
        {"seed": 2, "parent": _run(110, 45), "change": _run(110, 48)},  # tie, loss
        {"seed": 3, "parent": _run(90, 55), "change": _run(130, 30)},
    ]
    s = ab.summarize(pairs, {"throughput_per_s": "higher", "latency_ms_p50": "lower"})
    t, lat = s["metrics"]["throughput_per_s"], s["metrics"]["latency_ms_p50"]
    assert (t["wins"], t["pairs"]) == (2, 3)
    assert t["parent"][1] == 100 and t["change"][1] == 120 and t["ratio"] == 1.2
    assert lat["wins"] == 2
    assert s["anchors"]["change"]["anchor.noop_job_ms"][1] == 60.0
    assert ab.all_good(pairs)
    pairs[1]["change"] = _run(110, 48, failed=2)
    assert not ab.all_good(pairs)
    pairs[1]["change"] = _run(110, 48, correct=False)
    assert not ab.all_good(pairs)
