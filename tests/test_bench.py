"""bench.py --scaling summary and table, on synthetic legs (no Spark)."""

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def _leg(urls_per_sec, seconds, rounds):
    return {"urls_per_sec": urls_per_sec, "seconds": seconds, "rounds": rounds}


def _window(lo_leg, hi_leg, ctl_lo, ctl_hi):
    return {
        "engine": {"1": lo_leg, "4": hi_leg},
        "control_pages_per_sec": {"1": ctl_lo, "4": ctl_hi},
    }


REGIMES = {
    # 3 windows: engine eff 0.8 / 0.6 / 0.9, control eff 1.0 / 0.75 / 1.0
    "nine_round": [
        _window(_leg(100, 90, 9), _leg(320, 27, 9), 200, 800),
        _window(_leg(100, 109, 9), _leg(240, 29.5, 9), 200, 600),
        _window(_leg(100, 81, 9), _leg(360, 24.5, 9), 100, 400),
    ],
    # 4 windows: engine eff 0.5 / 0.7 / 0.9 / 0.8, control 0.9 / 1.0 / 0.9 / 0.8
    "wide": [
        _window(_leg(100, 50, 1), _leg(200, 25, 1), 100, 360),
        _window(_leg(100, 50, 1), _leg(280, 18, 1), 100, 400),
        _window(_leg(100, 50, 1), _leg(360, 14, 1), 100, 360),
        _window(_leg(100, 50, 1), _leg(320, 16, 1), 100, 320),
    ],
}
FLOORS = {
    "1": {"sec_per_round": 1.0, "ms_per_round_by_stage": {"number": 600, "commit": 400}},
    "4": {"sec_per_round": 0.5, "ms_per_round_by_stage": {"number": 300, "commit": 200}},
}
DURABLE = {"memory": _leg(500, 20.0, 9), "state_dir": _leg(480, 21.0, 9)}


@pytest.fixture(scope="module")
def summary():
    return bench.summarize(REGIMES, FLOORS, DURABLE, lo=1, hi=4)


def test_scaling_medians_per_regime(summary):
    nine, wide = summary["regimes"]["nine_round"], summary["regimes"]["wide"]
    assert [w["eff_engine"] for w in nine["windows"]] == pytest.approx([0.8, 0.6, 0.9])
    # odd count: the middle value
    assert nine["eff_engine_median"] == pytest.approx(0.8)
    assert nine["eff_control_median"] == pytest.approx(1.0)
    # even count: mean of the two middle values
    assert wide["eff_engine_median"] == pytest.approx(0.75)
    assert wide["eff_control_median"] == pytest.approx(0.9)


def test_scaling_engine_vs_control_is_within_window(summary):
    nine, wide = summary["regimes"]["nine_round"], summary["regimes"]["wide"]
    assert [w["engine_vs_control"] for w in nine["windows"]] == pytest.approx(
        [0.8, 0.8, 0.9]
    )
    assert nine["engine_vs_control_median"] == pytest.approx(0.8)
    assert [w["engine_vs_control"] for w in wide["windows"]] == pytest.approx(
        [0.556, 0.7, 1.0, 1.0]
    )
    assert wide["engine_vs_control_median"] == pytest.approx(0.85)


def test_scaling_floor_adjusted_and_durable(summary):
    # (lo_s - 9 × 1.0) / (hi_s - 9 × 0.5) / 4 per nine_round window
    assert summary["eff_floor_adjusted_windows"] == pytest.approx([0.9, 1.0, 0.9])
    assert summary["eff_floor_adjusted"] == pytest.approx(0.9)
    assert summary["floor_sec_per_round"] == {"1": 1.0, "4": 0.5}
    d = summary["state_dir_leg"]
    assert d["cpus"] == 4 and d["overhead_pct_vs_memory"] == pytest.approx(5.0)


def test_scaling_table_one_row_per_window(summary):
    md = bench.render_table(summary)
    rows = re.findall(r"^\| (nine_round|wide) \| (\d+) \|", md, flags=re.M)
    assert rows == [("nine_round", str(i)) for i in (1, 2, 3)] + [
        ("wide", str(i)) for i in (1, 2, 3, 4)
    ]
    assert "| local[1] | 1.0 | number 600, commit 400 |" in md
    assert len(md.splitlines()) <= 40
