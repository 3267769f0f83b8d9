"""The shared run protocol in bench.py (the headline names, warm-up scale,
the compact printed line) and the one profiler built on it,
tools/profile_queries.py."""

from __future__ import annotations

import json
import os
import sys

import bench
import profile_queries
from processo_etl_spark import plans
from processo_etl_spark.plans import common


def test_headline_names_distinct_registered_queries():
    """bench.py and the tools time the registry's own plans by name."""
    queries = plans.all_queries()
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)
    assert [n for n in bench.HEADLINE if n not in queries] == []


def test_warm_dir_one_rule_for_testdata_and_generated_scales(tmp_path):
    testdata_warm = os.path.join(
        os.path.dirname(bench.DEFAULT_SF_DIR), "sf0.001"
    )
    assert bench.warm_dir(bench.DEFAULT_SF_DIR) == testdata_warm
    # A generated scale with no sibling warms up on the testdata sf0.001.
    assert bench.warm_dir(str(tmp_path / "sf2.5")) == testdata_warm
    # A sibling sf0.001 wins.
    (tmp_path / "sf0.001").mkdir()
    assert bench.warm_dir(str(tmp_path / "sf2.5") + "/") == str(tmp_path / "sf0.001")


def test_printed_line_fits_the_stdout_tail(spark):
    """The printed line must survive a ~2000-char stdout tail with the
    full env fingerprint.  The artifact has the shape of a calib-gated
    run against a same-host baseline, with a stall retry and a
    regression-gate reading (the widest stored line printed 1,818 chars
    before the fingerprint grew its session fields)."""
    env = bench._env_fingerprint(spark)
    for key in ("master", "parallelism", "SPARK_GRAFT_CPUS", "driver_memory", "java_version"):
        assert key in env
    assert env["cds"] in ("hit", "dump", "off")
    assert env["master"] == spark.sparkContext.master
    env.update(
        calib_sched_job_ms=102.34,
        calib_cpu_2m_ms=103.56,
        calib_gate_attempts=[179.49, 103.56],
        loadavg_after=[13.65, 12.73, 13.07],
        calib_cpu_2m_ms_after=190.14,
    )
    per_query = dict.fromkeys(bench.HEADLINE, 1.234)
    full = {
        "metric": "headline_total_wall",
        "value": 45.658,
        "unit": "sec",
        "queries": per_query,
        "sf": 0.1,
        "n_queries": len(bench.HEADLINE),
        "cold_value": 45.658,
        "value_best": 45.658,
        "stall_retries": {"heaps_vocab_growth": 1.234},
        "env": env,
        "queries_cold": per_query,
        "calib_unstable": False,
        "blessed_value": 40.658,
        "vs_blessed_raw": 1.123,
        "vs_blessed_normalized": 1.123,
        "perf_slow_vs_blessed": {"multimodal_png_decode": 2.04},
        "perf_gate_prior": 44.321,
    }
    line = bench._printed_line(full)
    assert len(line) < 2000, len(line)
    assert "queries_cold" not in json.loads(line)


def test_profile_queries_writes_plan_counters_and_samples(
    spark, tmp_path, monkeypatch, capsys
):
    monkeypatch.setattr(profile_queries, "ROOT", tmp_path)
    sf_dir = bench.warm_dir(bench.DEFAULT_SF_DIR)
    monkeypatch.setattr(
        sys,
        "argv",
        ["profile_queries.py", "t", sf_dir, "q1_pricing_summary", "2"],
    )
    try:
        assert profile_queries.main() == 0
    finally:
        # The warm-up's clearCache un-persists the session's shared
        # corpus; drop its memo with it, as tests/test_persist_audit does.
        common._CORPUS_CACHE.clear()
    out_dir = tmp_path / "plans" / "t"
    plan = (out_dir / "q1_pricing_summary.txt").read_text()
    assert plan.startswith("== Physical Plan ==")
    record = json.loads((out_dir / "metrics.json").read_text())
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1]) == record
    samples = record["steady_samples"]["q1_pricing_summary"]
    assert len(samples) == 2
    assert samples[0] == record["steady"]["q1_pricing_summary"]
    assert record["steady_min"]["q1_pricing_summary"] == min(samples)
    counters = record["counters"]["q1_pricing_summary"]
    assert set(counters) == set(profile_queries.COUNTERS)
    assert counters["jobs"] >= 1
    assert counters["stages"] >= 1 and counters["tasks"] >= counters["stages"]
    assert counters["input_bytes"] > 0
