import pytest

import calibrate


def _speed(samples):
    s = calibrate.Speed()
    for at, cost in samples:
        s.at.append(at)
        s.cost.append(cost)
    return s


def test_scale_uses_the_median_kernel_time_within_the_window():
    s = _speed([(0.0, 9e-3), (10.0, 1e-3), (10.2, 2e-3), (10.4, 4e-3), (20.0, 9e-3)])
    assert s.scale(10.1, 10.3) == pytest.approx(calibrate.REF_S / 2e-3)


def test_scale_falls_back_to_the_nearest_samples_on_each_side():
    s = _speed([(0.0, 1e-3), (5.0, 3e-3), (20.0, 9e-3)])
    assert s.scale(2.0, 2.5) == pytest.approx(calibrate.REF_S / 2e-3)
    assert s.scale(30.0, 31.0) == pytest.approx(calibrate.REF_S / 9e-3)


def test_normalised_durations_read_as_reference_speed_time():
    # a host at half the reference speed: the kernel takes 2 * REF_S
    s = _speed([(float(t), 2 * calibrate.REF_S) for t in range(10)])
    assert s.normalised([(1.0, 1.5), (3.0, 3.02)]) == pytest.approx([0.25, 0.01])


def test_sample_records_kernel_times_in_order():
    s = calibrate.Speed()
    s.sample(3)
    assert len(s.cost) == 3 and all(c > 0 for c in s.cost)
    assert s.at == sorted(s.at)
    with pytest.raises(ValueError):
        calibrate.Speed().scale(0.0, 1.0)


def test_background_sampling_records_the_fastest_of_each_burst(monkeypatch):
    costs = iter([5e-3, 2e-3, 3e-3, 4e-3] * 100)
    clock = [0.0]

    def fake_thread_time():
        return clock[0]

    def fake_kernel():
        clock[0] += next(costs)
        return 0

    monkeypatch.setattr(calibrate.time, "thread_time", fake_thread_time)
    monkeypatch.setattr(calibrate, "kernel", fake_kernel)
    s = calibrate.Speed()
    s.sample_fastest(4)
    assert s.cost == [pytest.approx(2e-3)]
    with s.sampling():
        pass
    assert len(s.cost) >= 3 and s.at == sorted(s.at)
