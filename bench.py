"""Benchmark harness: run the engine's headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is forced with a noop-format write (full execution, zero sink or
driver-collect cost) so the timing is the Spark plan, not materialization.

The ratios against the blessed BENCH_local.json, the calibration wait and
the two-run regression gate read only artifacts measured on this host at
this scale (:func:`_same_host`); elsewhere the run records no baseline.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from processo_etl_spark import plans, session  # noqa: E402

# Breadth-covering headline set: TPC-H-style agg, star-schema OLAP join,
# scalar/cleaning pipeline, windowed events, and the LLM-pipeline axis
# (exact dedup, MinHash-LSH, similarity top-k, text quality).
HEADLINE = (
    "q1_pricing_summary",
    "star_fact_assembly",
    "star_join_olap",
    "rollup_revenue",
    "multilabel_decode",
    "rename_cast_fact",
    "tumbling_window_counts",
    "sessionize_gap",
    "dedup_exact",
    "dedup_minhash_lsh",
    "similarity_topk_bruteforce",
    "text_quality_score",
    "window_running_revenue",
    "text_gopher_flags",
    "events_json_extract",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "decontaminate_ngram_overlap",
    "pack_sequences_docs",
    "tfidf_top_terms",
    "scd2_event_type_history",
    # Training-data-pipeline heads: semantic dedup, duplicate-span
    # excision, DSIR data selection.
    "dedup_semantic_cells",
    "dedup_duplicate_spans",
    "select_importance_dsir",
    # ExactSubstr excision (the cleaned-corpus producer) and CCNet
    # head/middle/tail triage.
    "dedup_excise_spans",
    "ccnet_perplexity_buckets",
    # Curation: constant-size Bloom decontamination and corpus-frequency
    # boilerplate excision.
    "decontaminate_bloom",
    "boilerplate_chunk_removal",
    # Breadth: sequential-recurrence fold, Pareto frontier, snapshot
    # reconciliation, MATCH_RECOGNIZE-lite, skew profiling.
    "ewma_user_value",
    "skyline_parts_price_size",
    "snapshot_diff_orders",
    "sequence_double_click_purchase",
    "skew_report_events_user",
    # Distributed Pregel PageRank (the graded plan, exact integer
    # combine; no bench-only variant) and the hash-graded real PNG
    # decode (vendored stdlib codec).
    "graph_pagerank_distributed",
    "multimodal_png_decode",
    # Statistical-LM analytics heads (plans/textlm, shared corpus).
    "collocations_lift_topk",
    "heaps_vocab_growth",
)


DEFAULT_SF_DIR = "/root/testdata/sf0.1"
ROOT = os.path.dirname(os.path.abspath(__file__))
# The committed baseline, used only by a run on the host it came from.
BLESSED = os.path.join(ROOT, "BENCH_local.json")
LAST_RUN = os.path.join(ROOT, "BENCH_last_run.json")  # gitignored


# The run protocol, shared with tools/profile_queries.py and bench_scaling.py.


def warm_dir(sf_dir: str) -> str:
    """The warm-up scale: the ``sf0.001`` sibling of ``sf_dir``, else
    that of the default testdata (a ``tools/gen_scale.py`` output has
    no sibling), else ``sf_dir`` itself."""
    for base in (sf_dir, DEFAULT_SF_DIR):
        d = os.path.join(os.path.dirname(base.rstrip("/")), "sf0.001")
        if os.path.isdir(d):
            return d
    return sf_dir


def timed_run(spark, name, fn, sf_dir, tag="bench"):
    """Build and fully execute one plan (noop sink: no driver collect)
    with the job description ``tag:name``; returns (seconds, DataFrame).
    Deliberately NO cache clear afterwards: Spark's cache manager
    substitutes any persisted plan that matches a subtree of a later
    plan, so queries sharing lineage (the gram shuffle under
    dedup_duplicate_spans / dedup_excise_spans, the minhash signature
    base, the shared tokenized-corpus relation) reuse each other's
    materialized intermediates exactly like stages of one pipeline over
    the same corpus (the tokenize-once model of plans/common).  Measured at
    sf0.1: per-query isolation via clearCache costs the suite ~19%
    (37.5 s vs 31.5 s steady)."""
    spark.sparkContext.setJobDescription(f"{tag}:{name}")
    try:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3), df
    finally:
        spark.sparkContext.setJobDescription(None)


def timed_pass(spark, fns: dict, sf_dir, tag="bench") -> dict[str, float]:
    """One timed run of every query in ``fns``: name → seconds."""
    return {n: timed_run(spark, n, fn, sf_dir, tag)[0] for n, fn in fns.items()}


def warm_up(spark, fns: dict, sf_dir, tag="bench") -> None:
    """One pass at :func:`warm_dir` (JVM/codegen bring-up), then
    ``clearCache``: persisted warm-up blocks are useless at the target
    sf (the cache manager matches plans per path), so the timed passes
    must not measure block-manager pressure from them."""
    timed_pass(spark, fns, warm_dir(sf_dir), tag)
    spark.catalog.clearCache()


def _env_fingerprint(spark) -> dict:
    """Machine-state snapshot: makes a uniform run-over-run drift
    attributable to host load / memory pressure / competing JVMs in one
    read, instead of inferred from variance bands.  Also the parallelism
    and driver heap the session got; ``cpus_granted``, ``parallelism``,
    ``java_version`` and ``mem_total_gb`` identify the host
    (:func:`_same_host`)."""
    sc = spark.sparkContext
    fp: dict = {
        "loadavg_1m_5m_15m": [round(x, 2) for x in os.getloadavg()],
        "cpus_granted": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "master": sc.master,
        "parallelism": sc.defaultParallelism,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "java_version": sc._jvm.java.lang.System.getProperty("java.version"),
        # Whether the driver JVM started from the class-data-sharing
        # archive ("hit"), wrote it ("dump") or ran without it ("off").
        "cds": session.CDS_STATE,
    }
    try:
        with open("/proc/meminfo") as fh:
            mem = {
                line.split(":")[0]: int(line.split()[1])
                for line in fh
                if ":" in line
            }
        fp["mem_available_gb"] = round(mem.get("MemAvailable", 0) / 1048576, 2)
        fp["mem_total_gb"] = round(mem.get("MemTotal", 0) / 1048576, 2)
    except OSError:
        pass
    try:
        n_java = 0
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    if fh.read().strip() == "java":
                        n_java += 1
            except OSError:
                continue
        fp["java_procs"] = n_java
    except OSError:
        pass
    return fp


def _calibrate(spark) -> dict:
    """Two fixed-cost microbenchmarks, run with the suite's own session:
    scheduler latency (median of 7 empty-stage jobs over a cached 1-row
    DataFrame) and raw CPU throughput (median of 3 sum-of-squares folds
    over range(2M)).  Run-over-run these move ONLY with machine/JVM
    state — a suite drift that the calibration also shows is
    environment, one it doesn't show is a plan change."""
    one = spark.range(1).persist()
    one.count()  # materialize outside the timed loop
    sched = []
    for _ in range(7):
        t0 = time.perf_counter()
        one.count()
        sched.append(time.perf_counter() - t0)
    cpu = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(2_000_000).selectExpr("sum(id * id)").collect()
        cpu.append(time.perf_counter() - t0)
    one.unpersist()
    return {
        "calib_sched_job_ms": round(sorted(sched)[len(sched) // 2] * 1000, 2),
        "calib_cpu_2m_ms": round(sorted(cpu)[len(cpu) // 2] * 1000, 2),
    }


def _load(path: str) -> dict | None:
    """A stored bench artifact, or None when it is missing or not a JSON
    object."""
    try:
        with open(path) as fh:
            art = json.load(fh)
    except (OSError, ValueError):
        return None
    return art if isinstance(art, dict) else None


def _same_host(art: dict | None, sf, env: dict) -> bool:
    """Whether a stored artifact applies to this run: measured at the
    same ``sf``, with the same CPUs granted, Spark parallelism and Java
    version and the same whole GB of memory.  A baseline from another
    host compares machines, not code."""
    then = art.get("env") if isinstance(art, dict) else None
    if not isinstance(then, dict) or art.get("sf") != sf:
        return False
    mem = [e.get("mem_total_gb") for e in (then, env)]
    return (
        all(
            env.get(k) is not None and then.get(k) == env.get(k)
            for k in ("cpus_granted", "parallelism", "java_version")
        )
        and all(isinstance(m, (int, float)) for m in mem)
        and round(mem[0]) == round(mem[1])
    )


def _await_calibration(spark, env: dict, blessed: dict | None) -> None:
    """Rather than measure into a known-slow host, wait (at most 9 × 30 s)
    for ``calib_cpu_2m_ms`` to come within 1.5× of the blessed run's
    before the timed passes start.  A host-speed collapse mid-run (calib
    127 → 313 ms against a blessed 102 ms) once pushed ten queries past
    the 2× per-query bar with zero plan changes.  Every attempt is
    recorded, so a run that starts anyway after the budget shows that the
    host never quieted.  No wait without a same-host baseline."""
    blessed_calib = ((blessed or {}).get("env") or {}).get("calib_cpu_2m_ms")
    if not blessed_calib:
        return
    gate = [env["calib_cpu_2m_ms"]]
    while gate[-1] > 1.5 * blessed_calib and len(gate) < 10:
        time.sleep(30)
        gate.append(_calibrate(spark)["calib_cpu_2m_ms"])
    env["calib_cpu_2m_ms"] = gate[-1]  # the calibration the run STARTS at
    if len(gate) > 1:
        env["calib_gate_attempts"] = gate


def _vs_blessed(total: float, env: dict, blessed: dict | None) -> dict:
    """The raw steady ratio against the blessed run and the same ratio
    divided by the CPU-calibration ratio, so a "1.3× drift" splits into
    host speed and code without a separate compare run
    (tools/bench_compare.py prints the same numbers for any two
    artifacts).  ``blessed_value`` is None when this host has no
    baseline, and then no ratio is given."""
    try:
        raw = total / blessed["value"]
    except (TypeError, KeyError, ZeroDivisionError):
        return {"blessed_value": None}
    out = {"blessed_value": blessed["value"], "vs_blessed_raw": round(raw, 3)}
    c1 = env.get("calib_cpu_2m_ms")
    c2 = env.get("calib_cpu_2m_ms_after", c1)
    blessed_calib = (blessed.get("env") or {}).get("calib_cpu_2m_ms")
    if c1 and c2 and blessed_calib:
        calib = (c1 + c2) / 2
        out["vs_blessed_normalized"] = round(raw / (calib / blessed_calib), 3)
    return out


def _numeric(d: dict) -> dict[str, float]:
    """Only the (str, finite number) items of a stored-artifact dict.
    An artifact read from disk can map a name to null or a string;
    arithmetic on it would crash the gate AFTER measurement and lose the
    run's bench recording."""
    out = {}
    for k, v in d.items() if isinstance(d, dict) else ():
        if isinstance(v, (int, float)) and not isinstance(v, bool) and v > 0:
            out[k] = float(v)
    return out


def _regression_gate_2r(
    full: dict,
    best_now: dict[str, float],
    blessed_q: dict[str, float],
    prior: dict | None,
) -> dict:
    """Names ≥2× their blessed per-query time on THIS stable run and on
    ``prior``, the previous same-host run: two consecutive stable-host
    convictions cannot both be jitter on the same denominator.  A prior
    that was itself calibration-unstable carries no per-query signal, so
    it is ignored.  The prior side uses the same best-of convention as
    this run (steady, cold, any stall retry), so a prior whose steady
    read was a stall cannot convict a query its own cold pass
    exonerates.  Returns artifact fields (``perf_gate_prior`` is the
    prior's ``value``, or None); empty when this run is unstable or has
    no same-host baseline."""
    blessed_q = _numeric(blessed_q)
    best_now = _numeric(best_now)
    if full.get("calib_unstable") is not False or not blessed_q:
        return {}
    if not isinstance(prior, dict) or prior.get("calib_unstable") is not False:
        prior = None
    now_slow = {
        n
        for n, b in blessed_q.items()
        if n in best_now and best_now[n] / b >= 2.0
    }
    out: dict = {
        "perf_slow_vs_blessed": {
            n: round(best_now[n] / blessed_q[n], 2) for n in sorted(now_slow)
        },
        "perf_gate_prior": prior.get("value") if prior else None,
    }
    if prior is None:
        return out
    pq = _numeric(prior.get("queries"))
    pr = _numeric(prior.get("stall_retries"))
    pc = _numeric(prior.get("queries_cold"))
    prior_slow = {
        n
        for n, b in blessed_q.items()
        if n in pq
        and min(pq[n], pr.get(n, float("inf")), pc.get(n, float("inf"))) / b
        >= 2.0
    }
    trips = sorted(now_slow & prior_slow)
    if trips:
        out["perf_regressions_2r"] = trips
        print(
            "PERF REGRESSION GATE: "
            f"{trips} ran >=2x blessed on TWO consecutive calib-stable "
            f"runs (this run + the previous run, {prior.get('value')} s) — "
            "optimize or re-bless with justification",
            file=sys.stderr,
        )
    return out


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    sf = os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    # The previous run's artifact, read before this run overwrites it.
    prior = _load(LAST_RUN)
    spark = session.get_spark(app_name="bench")
    env = _env_fingerprint(spark)
    blessed = _load(BLESSED)
    blessed = blessed if _same_host(blessed, sf_val, env) else None
    prior = prior if _same_host(prior, sf_val, env) else None

    queries = plans.all_queries()
    fns = {n: queries[n] for n in HEADLINE}
    # A warm-up at sf0.001 is not enough: AQE re-plans at the target
    # scale, so the first sf0.1 execution still pays whole-stage-codegen
    # compile + JIT for the plans AQE actually picks (measured:
    # dedup_minhash_lsh 2.28 s on its first sf0.1 run vs 0.92 s steady).
    # Compile is one-time per JVM, so the headline is the STEADY pass:
    #   pass 0: sf0.001 warm-up (cheap JVM/codegen bring-up)
    #   pass A: first timed run at target sf — queries_cold/cold_value,
    #           what a one-shot batch job pays
    #   pass B: second timed run at target sf — queries/value (the headline)
    warm_up(spark, fns, sf_dir)
    env.update(_calibrate(spark))  # post-warm-up: measures the hot JVM
    _await_calibration(spark, env, blessed)

    cold = timed_pass(spark, fns, sf_dir)

    timings: dict[str, float] = {}
    stall_retries: dict[str, float] = {}
    for name, fn in fns.items():
        timings[name] = timed_run(spark, name, fn, sf_dir)[0]
        # Stall probe: one-off scheduler/GC hiccups occasionally inflate
        # a single warm query far past its own COLD time (measured:
        # heaps_vocab_growth at 6.06 s warm vs 1.22 s cold, then 1.18 s
        # on the very next run — host noise, not a plan change).  A warm
        # run slower than 2.5× its cold run on the same JVM is a stall,
        # so run it once more and RECORD the retry — the headline `value`
        # keeps the original steady measurement; only the noise-robust
        # `value_best` companion reads the retry.
        if timings[name] > max(1.0, 2.5 * cold[name]):
            stall_retries[name] = timed_run(spark, name, fn, sf_dir)[0]

    env["loadavg_after"] = [round(x, 2) for x in os.getloadavg()]
    # Second calibration at the END of the run: a shared host's
    # single-thread speed has been measured swinging 72–212 ms on the
    # same microbench within one hour, so ONE sample can mis-attribute a
    # drift in either direction.  The normalized ratio uses the mean of
    # both ends and calib_unstable flags their disagreement.
    env["calib_cpu_2m_ms_after"] = _calibrate(spark)["calib_cpu_2m_ms"]
    total = round(sum(timings.values()), 3)
    # The ONE definition of the noise-robust per-query best-of
    # (cold / steady / stall-retry) — read by both the value_best
    # companion and the regression gate, so the two can never
    # desynchronize.
    best = {
        n: min(cold[n], timings[n], stall_retries.get(n, float("inf")))
        for n in HEADLINE
    }
    c1 = env["calib_cpu_2m_ms"]
    c2 = env["calib_cpu_2m_ms_after"]
    full = {
        "metric": "headline_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "n_queries": len(HEADLINE),
        "cold_value": round(sum(cold.values()), 3),
        # best-observed per query (min of the cold pass, the steady
        # pass, and any stall-probe retry) — a noise-robust companion
        # total a one-off stall cannot inflate.  The headline `value`
        # above never includes retries.
        "value_best": round(sum(best.values()), 3),
        "stall_retries": stall_retries,
        "env": env,
        "queries_cold": cold,
        # >25% swing between the two samples means host speed moved
        # DURING the run — no ratio against any baseline is trustworthy.
        "calib_unstable": max(c1, c2) / min(c1, c2) > 1.25,
    }
    full.update(_vs_blessed(total, env, blessed))
    # Cross-run per-query regression gate: this run's side uses the
    # best-of above, so a one-off stall can never trip it.  Trips are
    # recorded in the artifact AND shouted to stderr; exit stays 0 so
    # the run's bench recording is never lost.
    full.update(
        _regression_gate_2r(full, best, (blessed or {}).get("queries"), prior)
    )
    # Every run writes the GITIGNORED BENCH_last_run.json, so a smoke run
    # never dirties the committed BENCH_local.json, a deliberately
    # blessed copy (cp BENCH_last_run.json BENCH_local.json after a
    # calib-stable run).  The printed line drops the per-query cold dict:
    # a caller that keeps only the last ~2000 chars of stdout once lost
    # the steady total when the line grew past that with queries_cold in
    # front.
    with open(LAST_RUN, "w") as fh:
        json.dump(full, fh, indent=1)
        fh.write("\n")
    print(_printed_line(full))
    return 0


def _printed_line(full: dict) -> str:
    """The one stdout line: the artifact without its per-query cold
    dict (its total stays as ``cold_value``), in compact JSON so that it
    fits a 2,000-char stdout tail."""
    return json.dumps(
        {k: v for k, v in full.items() if k != "queries_cold"}, separators=(",", ":")
    )


if __name__ == "__main__":
    raise SystemExit(main())
