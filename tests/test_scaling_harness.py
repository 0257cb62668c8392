"""Pure-function units of the scaling harness (bench_scaling.py): the
least-squares marginal fit and the round-8 box-price control estimator.
No Spark — these gate the arithmetic the BENCH records rest on."""

from __future__ import annotations

import bench_scaling as bs


def test_fit_recovers_known_slope():
    # wall = n / tps + fixed  ->  marginal tps recovered, r2 == 1
    tps, fixed = 500_000.0, 3.0
    sizes = [1_000_000, 2_000_000, 3_000_000, 4_000_000]
    walls = [n / tps + fixed for n in sizes]
    got_tps, r2 = bs._fit(sizes, walls)
    assert abs(got_tps - tps) / tps < 1e-9
    assert r2 > 0.999999


def test_fit_flags_noise():
    sizes = [1, 2, 3, 4]
    walls = [1.0, 4.0, 2.0, 9.0]
    _, r2 = bs._fit(sizes, walls)
    assert r2 < 0.9


def test_control_stats_price_is_median_over_baseline():
    walls = [6.0, 7.0, 16.0, 6.5, 6.2]  # one co-tenant spike
    s = bs._control_stats(walls)
    assert s["control_min"] == 6.0
    assert s["control_median"] == 6.5  # median, robust to the spike
    assert s["control_baseline"] == bs.CONTROL_BASELINE_WALL
    assert s["box_price"] == round(6.5 / bs.CONTROL_BASELINE_WALL, 3)


def test_control_stats_even_count_median():
    s = bs._control_stats([6.0, 8.0])
    assert s["control_median"] == 7.0
