"""Session defaults fit the machine; the scaling tool's defaults and
failure paths.  Pure-python — no Spark session."""

from __future__ import annotations

import importlib.util
import os
import subprocess

from processo_etl_spark import session


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return kb // 1024


def _mb(spec: str) -> int:
    scale = {"m": 1, "g": 1024}
    return int(spec[:-1]) * scale[spec[-1].lower()]


def test_default_driver_memory_fits_host(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    heap = _mb(session.default_driver_memory())
    assert 0 < heap <= _mem_total_mb()
    assert heap <= session.DRIVER_MEMORY_CAP_MB


def test_default_driver_memory_cap_and_override(monkeypatch, tmp_path):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    big = tmp_path / "meminfo_big"
    big.write_text("MemTotal:       263921236 kB\nMemFree: 1 kB\n")
    assert session.default_driver_memory(str(big)) == f"{session.DRIVER_MEMORY_CAP_MB}m"
    small = tmp_path / "meminfo_small"
    small.write_text("MemTotal:        4194304 kB\n")
    assert session.default_driver_memory(str(small)) == "2048m"
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert session.default_driver_memory(str(small)) == "3g"


def _bench_scaling():
    path = os.path.join(os.path.dirname(__file__), "..", "tools", "bench_scaling.py")
    spec = importlib.util.spec_from_file_location("bench_scaling", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_bench_scaling_default_cpus_fit_host():
    counts = [int(c) for c in _bench_scaling().default_cpus().split(",")]
    usable = len(os.sched_getaffinity(0))
    assert max(counts) == usable and 1 <= min(counts) <= usable


def test_bench_scaling_reports_failed_run(monkeypatch, capsys):
    mod = _bench_scaling()

    def failing(cmd, **kwargs):
        return subprocess.CompletedProcess(cmd, 3, stdout="", stderr="JVM died")

    monkeypatch.setattr(mod.subprocess, "run", failing)
    monkeypatch.setattr(mod.sys, "argv", ["bench_scaling.py", "q1_pricing_summary"])
    assert mod.main() == 1
    err = capsys.readouterr().err
    assert "exit 3" in err and "JVM died" in err


def test_bench_scaling_ratio_guards_zero_times(monkeypatch, capsys):
    import json

    mod = _bench_scaling()
    steady = {"4": {"a": 1.0, "b": 0.0, "c": 2.0}, "1": {"a": 2.0, "b": 1.0, "c": 0.0}}

    def fake(cmd, **kwargs):
        cpus = cmd[3]
        line = json.dumps({"cpus": int(cpus), "steady": steady[cpus], "cold": {}})
        return subprocess.CompletedProcess(cmd, 0, stdout=line + "\n", stderr="")

    monkeypatch.setattr(mod.subprocess, "run", fake)
    monkeypatch.setenv("SPARK_GRAFT_SCALE_CPUS", "4,1")
    monkeypatch.setattr(mod.sys, "argv", ["bench_scaling.py", "a,b,c"])
    assert mod.main() == 0
    art = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert art["ratio_low_over_high"] == {"a": 2.0}
