"""Session defaults fit the machine; the scaling tool's defaults and
failure paths.  Pure-python — no Spark session."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import bench_scaling
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


def test_bench_scaling_default_cpus_fit_host():
    counts = [int(c) for c in bench_scaling.default_cpus().split(",")]
    usable = len(os.sched_getaffinity(0))
    assert max(counts) == usable and 1 <= min(counts) <= usable


def test_bench_scaling_reports_failed_run(monkeypatch, capsys):
    def failing(cmd, **kwargs):
        return subprocess.CompletedProcess(cmd, 3, stdout="", stderr="JVM died")

    monkeypatch.setattr(bench_scaling.subprocess, "run", failing)
    monkeypatch.setattr(bench_scaling.sys, "argv", ["bench_scaling.py", "q1_pricing_summary"])
    assert bench_scaling.main() == 1
    err = capsys.readouterr().err
    assert "exit 3" in err and "JVM died" in err


def test_bench_scaling_ratio_guards_zero_times(monkeypatch, capsys):
    steady = {"4": {"a": 1.0, "b": 0.0, "c": 2.0}, "1": {"a": 2.0, "b": 1.0, "c": 0.0}}

    def fake(cmd, **kwargs):
        cpus = cmd[3]
        line = json.dumps({"cpus": int(cpus), "steady": steady[cpus], "cold": {}})
        return subprocess.CompletedProcess(cmd, 0, stdout=line + "\n", stderr="")

    monkeypatch.setattr(bench_scaling.subprocess, "run", fake)
    monkeypatch.setenv("SPARK_GRAFT_SCALE_CPUS", "4,1")
    monkeypatch.setattr(bench_scaling.sys, "argv", ["bench_scaling.py", "a,b,c"])
    assert bench_scaling.main() == 0
    art = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert art["ratio_low_over_high"] == {"a": 2.0}


def test_default_cpus_follow_affinity_not_host(monkeypatch):
    """Under ``taskset -c 0`` a 4-core host grants one CPU: the session
    gets ``local[1]``, not ``local[os.cpu_count()]``."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0})
    assert session.default_cpus() == 1
    opts = _launch(monkeypatch, session.ArchivePlan("off"))[0]
    assert opts["spark.master"] == "local[1]"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.default_cpus() == 3


# --- the driver JVM's class-data-sharing archive -------------------------


def _launch(monkeypatch, plan, extra_conf=None):
    """Run ``get_spark`` up to the JVM launch with no JVM: the launch
    records the builder's options and ``$SPARK_CONF_DIR`` as it saw them.
    Returns (options, launch-time SPARK_CONF_DIR)."""
    from types import SimpleNamespace

    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    seen = []

    def launch(builder):
        seen.append((dict(builder._options), os.environ.get("SPARK_CONF_DIR")))
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda level: None))

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", launch)
    monkeypatch.setattr(session, "_archive_plan", lambda conf: plan)
    monkeypatch.setattr(session, "CDS_STATE", "off")
    session.get_spark(extra_conf=extra_conf)
    return seen[0]


def _isolate(monkeypatch, tmp_path, conf_files=()):
    """A private cache under ``tmp_path`` and a conf dir holding
    ``conf_files``; no other launcher classpath source."""
    conf = tmp_path / "spark_conf"
    conf.mkdir()
    for name in conf_files:
        (conf / name).write_text("# x\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    for var in session._CLASSPATH_ENV + ("PYSPARK_GATEWAY_PORT",):
        monkeypatch.delenv(var, raising=False)
    return tmp_path / "xdg" / "processo_etl_spark"


def _key():
    from pyspark.find_spark_home import _find_spark_home

    return session._archive_key(session._java_home(), _find_spark_home())


def _dead_identity() -> str:
    proc = subprocess.Popen(["true"])
    proc.wait()
    return f"{proc.pid}-1"


def _persisted(cache):
    """The cache as an earlier, ended run left it: ``seen`` names a
    process that is gone."""
    cache.mkdir(parents=True, mode=0o700, exist_ok=True)
    (cache / "seen").write_text(_dead_identity())


def test_archive_on_with_template_only_conf_dir(monkeypatch, tmp_path):
    cache = _isolate(monkeypatch, tmp_path, ["spark-defaults.conf.template", "log4j2.properties.template"])
    _persisted(cache)
    plan = session._archive_plan({})
    assert plan.state in ("hit", "dump")
    assert plan.conf_dir == str(cache / "conf") and os.listdir(plan.conf_dir) == []
    assert "-Xlog:cds*=off" in plan.java_options
    assert os.stat(cache).st_mode & 0o777 == 0o700


def test_archive_off_with_real_conf_file(monkeypatch, tmp_path):
    _isolate(monkeypatch, tmp_path, ["spark-defaults.conf.template", "spark-defaults.conf"])
    assert session._archive_plan({}) == session.ArchivePlan("off")


def test_archive_off_with_caller_xshare(monkeypatch, tmp_path):
    _isolate(monkeypatch, tmp_path)
    conf = {"spark.driver.extraJavaOptions": "-Dx=1 -Xshare:off"}
    assert session._archive_plan(conf) == session.ArchivePlan("off")


def test_archive_off_with_shared_cache_dir(monkeypatch, tmp_path):
    cache = _isolate(monkeypatch, tmp_path)
    cache.mkdir(parents=True)
    cache.chmod(0o777)
    assert session._archive_plan({}) == session.ArchivePlan("off")
    assert not any(cache.iterdir())  # nothing written into it


def test_first_run_on_a_cache_marks_it_and_does_not_dump(monkeypatch, tmp_path):
    """A cache that starts empty on every run never pays a dump: only a
    run after the one that marked the cache has ended dumps."""
    cache = _isolate(monkeypatch, tmp_path)
    me = session._identity(os.getpid())
    assert session._archive_plan({}) == session.ArchivePlan("off")
    assert (cache / "seen").read_text() == me
    assert session._archive_plan({}) == session.ArchivePlan("off")  # same process
    with subprocess.Popen(["sleep", "30"]) as other:
        (cache / "seen").write_text(session._identity(other.pid))  # a concurrent first run
        assert session._archive_plan({}) == session.ArchivePlan("off")
        other.kill()
    plan = session._archive_plan({})  # the marking run has ended
    assert plan.state == "dump" and plan.dump_record == str(cache / f"{_key()}.{me}.dump")
    assert f"-XX:ArchiveClassesAtExit={cache / f'{_key()}.{me}.tmp'}" in plan.java_options


def test_leftover_dump_promoted_only_when_valid(monkeypatch, tmp_path):
    cache = _isolate(monkeypatch, tmp_path)
    _persisted(cache)
    key, dumper = _key(), _dead_identity()
    tmp, record = cache / f"{key}.{dumper}.tmp", cache / f"{key}.{dumper}.dump"

    def leave(content: bytes):
        tmp.write_bytes(content)
        tmp.chmod(0o444)
        record.write_text(f"{_dead_identity()}\nx.jar")

    # A garbage file fails the real validator: deleted, and a new dump planned.
    leave(b"not a CDS archive" * 100)
    plan = session._archive_plan({})
    assert plan.state == "dump" and not tmp.exists() and not record.exists()
    assert not (cache / f"{key}.jsa").exists()
    os.remove(plan.dump_record)

    # One the validator accepts is promoted with os.replace, and mapped.
    checked = []
    monkeypatch.setattr(session, "_archive_valid", lambda java, path, cp: checked.append(cp) or True)
    leave(b"valid")
    plan = session._archive_plan({})
    assert checked == ["x.jar"]
    assert plan.state == "hit" and (cache / f"{key}.jsa").read_bytes() == b"valid"
    assert f"-XX:SharedArchiveFile={cache / f'{key}.jsa'}" in plan.java_options
    assert sorted(os.listdir(cache)) == sorted(["conf", "seen", f"{key}.jsa"])


def test_live_dump_turns_archive_off(monkeypatch, tmp_path):
    cache = _isolate(monkeypatch, tmp_path)
    _persisted(cache)
    key = _key()
    with subprocess.Popen(["sleep", "30"]) as dumper:
        ident = session._identity(dumper.pid)
        (cache / f"{key}.{ident}.dump").write_text("")  # its launch is in flight
        assert session._archive_plan({}) == session.ArchivePlan("off")
        # The Python side has ended, its JVM still writes the archive.
        os.rename(cache / f"{key}.{ident}.dump", cache / f"{key}.{_dead_identity()}.dump")
        next(cache.glob("*.dump")).write_text(f"{ident}\nx.jar")
        assert session._archive_plan({}) == session.ArchivePlan("off")
        dumper.kill()


def test_dump_record_naming_a_reused_pid_is_not_in_flight(monkeypatch, tmp_path):
    """A record's pid now held by another process (this one, or any
    live one started after the dumper) does not hold the archive off:
    the start time differs."""
    cache = _isolate(monkeypatch, tmp_path)
    _persisted(cache)
    key = _key()
    monkeypatch.setattr(session, "_archive_valid", lambda java, path, cp: True)
    with subprocess.Popen(["sleep", "30"]) as other:
        reused = [session._identity(os.getpid()), f"{other.pid}-1"]
        for dumper, jvm in (reused, reused[::-1]):
            (cache / f"{key}.{dumper}.tmp").write_bytes(b"valid")
            (cache / f"{key}.{dumper}.dump").write_text(f"{jvm}\nx.jar")
            plan = session._archive_plan({})
            assert plan.state == "hit" and not list(cache.glob("*.dump"))
            os.remove(cache / f"{key}.jsa")
        other.kill()


def test_archive_of_another_key_deleted(monkeypatch, tmp_path):
    cache = _isolate(monkeypatch, tmp_path)
    cache.mkdir(parents=True, mode=0o700)
    (cache / "0123456789abcdef.jsa").write_bytes(b"old jdk")
    session._archive_plan({})
    assert not (cache / "0123456789abcdef.jsa").exists()


def test_get_spark_restores_caller_environ(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_CONF_DIR", "/caller/conf")
    before = dict(os.environ)
    plan = session.ArchivePlan("hit", "-XX:SharedArchiveFile=/c/k.jsa -Xlog:cds*=off", str(tmp_path))
    opts, launch_conf = _launch(monkeypatch, plan, {"spark.driver.extraJavaOptions": "-Dpe.probe=1"})
    assert launch_conf == str(tmp_path)
    assert opts["spark.driver.defaultJavaOptions"] == plan.java_options
    assert opts["spark.driver.extraJavaOptions"] == "-Dpe.probe=1"
    assert dict(os.environ) == before and session.CDS_STATE == "hit"
    monkeypatch.delenv("SPARK_CONF_DIR")
    before = dict(os.environ)
    _launch(monkeypatch, plan)
    assert dict(os.environ) == before


def test_get_spark_off_adds_no_archive_flag(monkeypatch, tmp_path):
    _isolate(monkeypatch, tmp_path, ["spark-defaults.conf"])
    conf_dir = os.environ["SPARK_CONF_DIR"]
    plan = session._archive_plan({})
    opts, launch_conf = _launch(monkeypatch, plan)
    assert "spark.driver.defaultJavaOptions" not in opts
    assert launch_conf == conf_dir


_ROUND_TRIP = """
import json, os
from processo_etl_spark import session
spark = session.get_spark(cpus=1, extra_conf={
    "spark.driver.extraJavaOptions": "-Dpe.probe=1", "spark.ui.showConsoleProgress": "false"})
sc = spark.sparkContext
out = {"cds": session.CDS_STATE,
       "rows": [tuple(r) for r in spark.range(100).selectExpr("id % 3 k", "id * id v")
                .groupBy("k").sum("v").orderBy("k").collect()],
       "probe": sc._jvm.java.lang.System.getProperty("pe.probe"),
       "conf_env": os.environ.get("SPARK_CONF_DIR")}
gateway = sc._gateway
spark.stop()
gateway.shutdown()
gateway.proc.stdin.close()
gateway.proc.wait(timeout=120)  # the archive is written at JVM exit
print(json.dumps(out))
"""


def test_archive_round_trip_in_fresh_processes(tmp_path):
    """The first process marks the empty cache and launches as Spark
    does, the second dumps the archive at JVM exit, the third promotes
    and maps it: same result, caller options kept, no cds lines on
    stdout."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k not in session._CLASSPATH_ENV + ("PYSPARK_GATEWAY_PORT",)}
    env.update(XDG_CACHE_HOME=str(tmp_path), SPARK_CONF_DIR=str(tmp_path / "no_conf"),
               SPARK_DRIVER_MEMORY="1g", PYTHONPATH=root)
    cache, key = tmp_path / "processo_etl_spark", _key()

    def run():
        proc = subprocess.run([sys.executable, "-c", _ROUND_TRIP], cwd=root, env=env,
                              capture_output=True, text=True, timeout=300)
        assert proc.returncode == 0, proc.stderr[-2000:]
        assert "cds" not in proc.stdout.replace('"cds"', ""), proc.stdout[-2000:]
        return json.loads(proc.stdout.strip().splitlines()[-1])

    runs = [run()]
    assert runs[0]["cds"] == "off" and sorted(os.listdir(cache)) == ["conf", "seen"]
    runs.append(run())
    assert runs[1]["cds"] == "dump"
    assert not (cache / f"{key}.jsa").exists()
    assert any(n.endswith(".tmp") for n in os.listdir(cache))
    runs.append(run())
    assert runs[2]["cds"] == "hit"
    assert sorted(os.listdir(cache)) == sorted(["conf", "seen", f"{key}.jsa"])
    assert [r["rows"] for r in runs] == [runs[0]["rows"]] * 3
    assert [r["probe"] for r in runs] == ["1"] * 3
    assert [r["conf_env"] for r in runs] == [str(tmp_path / "no_conf")] * 3
