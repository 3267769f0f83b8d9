"""bench.py compares a run only against artifacts from its own host and
scale: the blessed baseline (ratios, calibration wait, per-query gate)
and the previous run (the gate's prior).  A query reading ≥2× its
blessed time on TWO consecutive calib-stable runs is a regression;
unstable runs and one-off stalls never convict.  Pure-python — no Spark
session."""

from __future__ import annotations

import pytest

import bench

HOST = {
    "cpus_granted": 4,
    "parallelism": 4,
    "java_version": "17.0.12",
    "mem_total_gb": 15.62,
    "calib_cpu_2m_ms": 100.0,
}
# The fingerprint of the 32-core host the first BENCH_local.json came
# from: it predates the parallelism and java_version fields.
OLD_HOST = {
    "loadavg_1m_5m_15m": [0.99, 1.8, 2.61],
    "cpus_granted": 32,
    "cpu_count": 32,
    "mem_available_gb": 124.33,
    "mem_total_gb": 125.87,
    "java_procs": 1,
    "calib_sched_job_ms": 85.66,
    "calib_cpu_2m_ms": 102.09,
}


def _run(env=HOST, sf=0.1, **fields):
    return {"sf": sf, "env": dict(env), **fields}


@pytest.fixture
def no_wait(monkeypatch):
    """Fails the test if the calibration wait sleeps or recalibrates."""

    def fail(*_):
        raise AssertionError("calibration wait ran")

    monkeypatch.setattr(bench.time, "sleep", fail)
    monkeypatch.setattr(bench, "_calibrate", fail)


def test_same_host_needs_every_host_field():
    assert bench._same_host(_run(), 0.1, HOST)
    # Memory compares in whole GB: 15.62 and 15.9 both read 16.
    assert bench._same_host(_run(env=dict(HOST, mem_total_gb=15.9)), 0.1, HOST)
    for key, other in (
        ("cpus_granted", 8),
        ("parallelism", 8),
        ("java_version", "21.0.4"),
        ("mem_total_gb", 31.2),
        ("java_version", None),
    ):
        assert not bench._same_host(_run(env=dict(HOST, **{key: other})), 0.1, HOST)
    assert not bench._same_host(_run(), 0.1, dict(HOST, java_version=None))
    for art in (None, "not a dict", {"sf": 0.1}, {"sf": 0.1, "env": [4]}):
        assert not bench._same_host(art, 0.1, HOST)


def test_blessed_from_another_host_gives_no_ratio_wait_or_gate(no_wait):
    blessed = _run(env=OLD_HOST, value=34.663, queries={"a": 1.0, "b": 1.0})
    assert not bench._same_host(blessed, 0.1, HOST)
    # What main() passes on for it: no baseline.
    env = dict(HOST, calib_cpu_2m_ms=300.0, calib_cpu_2m_ms_after=300.0)
    bench._await_calibration(None, env, None)
    assert env["calib_cpu_2m_ms"] == 300.0 and "calib_gate_attempts" not in env
    assert bench._vs_blessed(40.0, env, None) == {"blessed_value": None}
    prior = _run(calib_unstable=False, value=41.0, queries={"a": 9.0})
    assert bench._regression_gate_2r(
        {"calib_unstable": False}, {"a": 9.0, "b": 1.0}, None, prior
    ) == {}


def test_same_host_at_another_scale_has_no_baseline():
    blessed = _run(sf=0.1, value=20.0, queries={"a": 1.0})
    assert not bench._same_host(blessed, 0.01, HOST)
    assert not bench._same_host(blessed, "2.5", HOST)


def test_ratios_against_a_same_host_baseline():
    blessed = _run(value=20.0)
    env = dict(HOST, calib_cpu_2m_ms=110.0, calib_cpu_2m_ms_after=130.0)
    # raw 25 / 20 = 1.25; host 1.2x slower than at the bless -> 1.042.
    assert bench._vs_blessed(25.0, env, blessed) == {
        "blessed_value": 20.0,
        "vs_blessed_raw": 1.25,
        "vs_blessed_normalized": 1.042,
    }


def test_calibration_wait_is_bounded(monkeypatch):
    sleeps = []
    samples = iter([170.0, 140.0])
    monkeypatch.setattr(bench.time, "sleep", sleeps.append)
    monkeypatch.setattr(
        bench, "_calibrate", lambda _: {"calib_cpu_2m_ms": next(samples)}
    )
    env = dict(HOST, calib_cpu_2m_ms=200.0)
    bench._await_calibration(None, env, _run())  # blessed calib 100 ms
    # Waits while above 1.5x the blessed calibration, 30 s apart.
    assert env["calib_gate_attempts"] == [200.0, 170.0, 140.0]
    assert env["calib_cpu_2m_ms"] == 140.0 and sleeps == [30, 30]
    # A host that never quiets starts after 10 samples.
    sleeps.clear()
    monkeypatch.setattr(bench, "_calibrate", lambda _: {"calib_cpu_2m_ms": 999.0})
    env = dict(HOST, calib_cpu_2m_ms=999.0)
    bench._await_calibration(None, env, _run())
    assert len(env["calib_gate_attempts"]) == 10 and len(sleeps) == 9


def test_gate_trips_only_on_two_stable_convictions():
    blessed = {"a": 1.0, "b": 1.0, "c": 1.0}
    # previous stable run on this host: a and b slow, c fine
    prior = _run(
        calib_unstable=False,
        value=6.5,
        queries={"a": 2.4, "b": 3.0, "c": 1.1},
        stall_retries={"b": 0.9},  # b's 3.0 was a stall
    )
    assert bench._same_host(prior, 0.1, HOST)
    # this run (stable): a and c slow
    out = bench._regression_gate_2r(
        {"calib_unstable": False}, {"a": 2.2, "b": 1.0, "c": 2.1}, blessed, prior
    )
    # a: slow on both runs -> trips.  b: prior retry exonerates.  c:
    # slow now only -> recorded as slow, not a regression.
    assert out["perf_regressions_2r"] == ["a"]
    assert set(out["perf_slow_vs_blessed"]) == {"a", "c"}
    assert out["perf_gate_prior"] == 6.5


def test_prior_from_another_host_or_unstable_is_ignored():
    slow = {"queries": {"a": 9.0}, "value": 9.0}
    assert not bench._same_host(
        _run(env=OLD_HOST, calib_unstable=False, **slow), 0.1, HOST
    )
    for unstable in (True, None):
        out = bench._regression_gate_2r(
            {"calib_unstable": False},
            {"a": 9.0},
            {"a": 1.0},
            _run(calib_unstable=unstable, **slow),
        )
        assert out["perf_gate_prior"] is None
        assert "perf_regressions_2r" not in out


def test_gate_silent_on_unstable_run():
    prior = _run(calib_unstable=False, value=9.0, queries={"a": 9.0})
    out = bench._regression_gate_2r(
        {"calib_unstable": True}, {"a": 9.0}, {"a": 1.0}, prior
    )
    assert out == {}


def test_gate_no_trip_without_prior_stable():
    out = bench._regression_gate_2r(
        {"calib_unstable": False}, {"a": 9.0}, {"a": 1.0}, None
    )
    assert out["perf_slow_vs_blessed"] == {"a": 9.0}
    assert "perf_regressions_2r" not in out
    assert out["perf_gate_prior"] is None


def test_gate_survives_malformed_artifacts():
    """An artifact read from disk can be malformed (a non-dict body, a
    queries dict mapping names to null/strings) — the gate must degrade
    to skipping the bad values, never crash after measurement and lose
    the run's bench recording."""
    assert bench._regression_gate_2r(
        {"calib_unstable": False}, {"a": 9.0}, {"a": 1.0}, "not a dict"
    ) == {"perf_slow_vs_blessed": {"a": 9.0}, "perf_gate_prior": None}
    prior = _run(
        calib_unstable=False,
        value=12.0,
        queries={"a": None, "b": "fast", "c": 3.0},
        stall_retries={"c": None},
        queries_cold=["c"],
    )
    out = bench._regression_gate_2r(
        {"calib_unstable": False},
        {"a": 9.0, "b": None, "c": 2.5},
        {"a": 1.0, "b": "x", "c": 1.0},
        prior,
    )
    # a: blessed ok, now 9x, prior value None (skipped) -> no trip.
    # b: blessed malformed -> ignored entirely.
    # c: 2.5x now AND 3x prior (retry None skipped) -> trips.
    assert out["perf_regressions_2r"] == ["c"]
    assert set(out["perf_slow_vs_blessed"]) == {"a", "c"}
    assert out["perf_gate_prior"] == 12.0


def test_stall_retry_exonerates_current_side():
    """The current side uses best-of (cold/steady/retry) — the caller
    passes min() already; verify a sub-2x best never lands in
    perf_slow_vs_blessed even with a prior conviction on file."""
    prior = _run(calib_unstable=False, value=5.0, queries={"a": 5.0})
    out = bench._regression_gate_2r(
        {"calib_unstable": False}, {"a": 1.4}, {"a": 1.0}, prior
    )
    assert out["perf_slow_vs_blessed"] == {}
    assert "perf_regressions_2r" not in out
