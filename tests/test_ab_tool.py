"""tools/ab.py's pairing logic, with the per-side qtime.py runner
stubbed by canned output lines: no Spark, no git."""

from __future__ import annotations

import importlib.util
import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ab():
    spec = importlib.util.spec_from_file_location(
        "kmr_ab_tool", os.path.join(_REPO, "tools", "ab.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules.setdefault("kmr_ab_tool", mod)
    spec.loader.exec_module(mod)
    return mod


def _qtime_stdout(walls: dict[str, float]) -> str:
    # qtime.py's shape: one JSON line per query, Spark noise around it;
    # the min-of-n wall is the one the ratios must use, not the median
    lines = ["WARN NativeCodeLoader: noise"]
    for q, w in walls.items():
        samples = [w + 0.2, w, w + 0.1]
        lines.append(
            json.dumps({"query": q, "min": w, "median": w + 0.1, "samples": samples})
        )
    return "\n".join(lines) + "\n"


def test_sides_alternate_and_ratios_are_paired():
    ab = _ab()
    canned = {
        "base": [
            {"q_a": 1.0, "q_b": 2.0, "q_gone": 0.5},
            {"q_a": 2.0, "q_b": 2.0, "q_gone": 0.5},
            {"q_a": 1.0, "q_b": 4.0, "q_gone": 0.5},
        ],
        "change": [
            {"q_a": 1.1, "q_b": 1.0},
            {"q_a": 3.0, "q_b": 2.0},
            {"q_a": 0.9, "q_b": 4.0},
        ],
    }
    calls: list[str] = []

    def run(side):
        walls = canned[side][sum(1 for c in calls if c == side)]
        calls.append(side)
        return ab.parse_qtime(_qtime_stdout(walls))

    base, change = ab.interleave(run, 3)
    assert calls == ["base", "change", "change", "base", "base", "change"]
    assert base == canned["base"] and change == canned["change"]

    rows = ab.paired_ratios(base, change, ["q_a", "q_b", "q_gone"])
    assert list(rows) == ["q_a", "q_b", "q_gone", "TOTAL"]
    # q_a ratios 1.1, 1.5, 0.9; q_b ratios 0.5, 1.0, 1.0
    assert rows["q_a"] == {"pairs": 3, "median": 1.1, "min": 0.9, "max": 1.5}
    assert rows["q_b"] == {"pairs": 3, "median": 1.0, "min": 0.5, "max": 1.0}
    # reported by the base side only: no ratio, not a crash
    none = {"pairs": 0, "median": None, "min": None, "max": None}
    assert rows["q_gone"] == none
    # no pair has every requested query on both sides, so no TOTAL
    assert rows["TOTAL"] == none
    # over the queries both sides always reported: 2.1/3, 5/4, 4.9/5
    rows = ab.paired_ratios(base, change, ["q_a", "q_b"])
    assert rows["TOTAL"] == {"pairs": 3, "median": 0.98, "min": 0.7, "max": 1.25}


def test_total_drops_a_pair_that_one_side_left_incomplete():
    # the change side's second run stopped before q_b (a qtime.py failure
    # partway): q_b loses that pair, and TOTAL drops it rather than summing
    # a smaller query set for it
    ab = _ab()
    base = [{"q_a": 1.0, "q_b": 2.0}, {"q_a": 2.0, "q_b": 2.0}, {"q_a": 1.0, "q_b": 4.0}]
    change = [{"q_a": 1.1, "q_b": 1.0}, {"q_a": 3.0}, {"q_a": 0.9, "q_b": 4.0}]
    rows = ab.paired_ratios(base, change, ["q_a", "q_b"])
    assert rows["q_a"]["pairs"] == 3
    assert rows["q_b"] == {"pairs": 2, "median": 0.75, "min": 0.5, "max": 1.0}
    # 2.1/3 and 4.9/5 only
    assert rows["TOTAL"] == {"pairs": 2, "median": 0.84, "min": 0.7, "max": 0.98}
