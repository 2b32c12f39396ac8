"""Wave arithmetic of the scale probe's parallel-width calibration.

The calibration times k identical CPU-bound tasks at each scale and
divides query growth ratios by the calibration's growth, so that a
one-wave query is not called super-linear because x30 runs wider waves
than x10. That only measures contention while the k tasks fit in one
wave; on a host with fewer cores than k they run in ceil(k/cpus) waves,
and the calibration must be taken per wave or it divides the data growth
itself out of every ratio. No Spark session is needed here."""

from __future__ import annotations

from tools.scale_probe import cal_ratio, waves


def test_k_within_cpus_is_one_wave():
    for cpus in (4, 8, 32):
        for k in range(1, cpus + 1):
            assert waves(k, cpus) == 1


def test_four_cores_wave_counts_at_probe_scales():
    assert [waves(k, 4) for k in (1, 10, 30)] == [1, 3, 8]


def test_wave_count_growth_alone_gives_unit_cal_ratio():
    # a 4-core box with no contention: each wave costs the same 1.3 s,
    # so the raw walls grow only by wave count (1.3 / 3.9 / 10.4 s)
    per_task_wave = 1.3
    raw = {k: per_task_wave * waves(k, 4) for k in (1, 10, 30)}
    assert raw[30] / raw[10] > 2.6  # what the raw calibration divided by
    cal = {k: wall / waves(k, 4) for k, wall in raw.items()}
    assert cal_ratio(cal, 10, 30) == 1.0
    assert cal_ratio(cal, 1, 30) == 1.0


def test_cal_ratio_keeps_real_width_slowdown_and_floors_at_one():
    # 32 cores, k <= cpus: per-wave == raw, the r5 correction unchanged
    cal = {10: 1.0, 30: 2.0}
    assert cal_ratio(cal, 10, 30) == 2.0
    assert cal_ratio({10: 2.0, 30: 1.0}, 10, 30) == 1.0
    assert cal_ratio({30: 1.0}, 10, 30) == 1.0
