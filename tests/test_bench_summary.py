"""bench.scaling_summary: the arithmetic of the 1->4-core scaling section,
on fake run records (no Spark)."""

from __future__ import annotations

import pytest

import bench


def _run(pair, cores, sec, tps, **stage_sec):
    return {"pair": pair, "cores": cores, "sec": sec,
            "triples_per_sec": tps, "stage_sec": stage_sec}


RUNS = [
    _run(0, 1, 100.0, 1000.0, s1=60.0, s4=30.0),
    _run(0, 4, 40.0, 2500.0, s1=16.0, s4=20.0),
    _run(1, 4, 30.0, 3300.0, s1=14.0, s4=10.0),
    _run(1, 1, 90.0, 1100.0, s1=56.0, s4=26.0),
    # s4 missing from this run's stage_sec: left out of that median
    _run(2, 1, 120.0, 900.0, s1=64.0),
    _run(2, 4, 36.0, 2700.0, s1=15.0, s4=12.0),
    # a pair whose low-level run failed: no pair efficiency, still counted
    # in its level's median
    _run(3, 4, 33.0, 3000.0, s1=17.0, s4=11.0),
]


def test_scaling_summary_levels_pairs_and_stages():
    assert bench.SCALING_CORES == (1, 4)
    s = bench.scaling_summary(RUNS)
    assert (s["cores_lo"], s["cores_hi"]) == (1, 4)
    assert s["levels"]["1"] == {"n": 3, "median_sec": 100.0, "median_tps": 1000.0}
    assert s["levels"]["4"] == {"n": 4, "median_sec": 34.5, "median_tps": 2850.0}

    # (tps_hi / tps_lo) / 4 per pair; pair 3 has no low run
    assert s["pair_efficiencies"] == [
        {"pair": 0, "tps_lo": 1000.0, "tps_hi": 2500.0, "efficiency": 0.625},
        {"pair": 1, "tps_lo": 1100.0, "tps_hi": 3300.0, "efficiency": 0.75},
        {"pair": 2, "tps_lo": 900.0, "tps_hi": 2700.0, "efficiency": 0.75},
    ]

    # (t_lo / t_hi) / 4 on the per-stage medians
    st = s["stages"]
    assert st["s1"]["median_sec_lo"] == 60.0
    assert st["s1"]["median_sec_hi"] == 15.5
    assert st["s1"]["efficiency"] == pytest.approx(round(60.0 / 15.5 / 4, 3))
    assert st["s4"]["median_sec_lo"] == 28.0        # median of 30 and 26
    assert st["s4"]["median_sec_hi"] == 11.5        # median of 20, 10, 12, 11
    assert st["s4"]["efficiency"] == pytest.approx(round(28.0 / 11.5 / 4, 3))


def test_scaling_summary_needs_both_levels():
    assert bench.scaling_summary([r for r in RUNS if r["cores"] == 4]) is None
    assert bench.scaling_summary([]) is None
