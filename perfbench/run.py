"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_star_load --seed 1 --seconds 12 --trace 0

Run from the repository root.  The program under test is the
``processo_etl_spark`` package beside this directory.  ``etl_star_load``
generates its inputs from ``--seed`` into ``perfbench/work/`` and removes
them afterwards; ``registry_mix`` reads the fixed tables in
``perfbench/data/`` and draws its query order from ``--seed``.

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` runs the same passes with spans around the layers' public
functions and prints the per-layer metrics, with ``trace.overhead_s``:
traced steady passes alternate with untraced ones in the same session,
and the overhead is the difference of their medians.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
The full record (environment fingerprint, every operation's latency,
spans, the tail percentile used) is written to
``perfbench/out/<workload>-seed<seed>-trace<t>.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
# Session settings the benchmark adds to the program's own: no console
# progress bars in the output.
SESSION_CONF = {"spark.ui.showConsoleProgress": "false"}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def import_program():
    """Import the program from this checkout (and nowhere else)."""
    for p in (os.path.join(ROOT, "tools"), ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)
    import processo_etl_spark

    if not os.path.abspath(processo_etl_spark.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"processo_etl_spark imported from outside {ROOT}")
    # Spark's Python workers must import the package from any working
    # directory: they inherit the environment of the JVM started below.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def speed_probe(loops: int = 500_000) -> float:
    """Thread CPU seconds of a fixed Python loop, best of three.

    On a shared host the CPU time of a fixed piece of work moved by up to
    2x within minutes (vCPUs sharing cores with other guests), and the
    program's CPU times with it; the probe, taken before and after a run,
    shows which state the host was in.  It is too short and too
    single-threaded to scale the figures by: scaled, their spread grew."""
    best = math.inf
    for _ in range(3):
        t0 = time.thread_time()
        total = 0
        for i in range(loops):
            total += i * i
        best = min(best, time.thread_time() - t0)
    return best


def start_session():
    """Fresh-process session start, timed: (spark, seconds)."""
    from processo_etl_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark(cpus=nproc(), extra_conf=SESSION_CONF)
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM to exit: the JVM leaves when
    its stdin closes, so it is not left behind this process."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class RssSampler(threading.Thread):
    """Peak resident memory of this process and its descendants (the
    driver JVM and the Python workers): each process's own peak, summed
    over every process seen during the run."""

    def __init__(self, interval: float = 0.1) -> None:
        from perfbench.workloads import proc_tree

        super().__init__(daemon=True)
        self._proc_tree = proc_tree
        self.interval = interval
        self.peaks_kb: dict[int, int] = {}
        self.names: dict[int, str] = {}
        self._done = threading.Event()

    def sample(self) -> None:
        me = os.getpid()
        for pid in self._proc_tree(me):
            # This process's own peak predates the session (input
            # generation, oracles), so it counts by its current size.
            key = "VmRSS:" if pid == me else "VmHWM:"
            try:
                with open(f"/proc/{pid}/status") as f:
                    hwm = next(int(line.split()[1]) for line in f if line.startswith(key))
            except (OSError, StopIteration):
                continue
            self.peaks_kb[pid] = max(self.peaks_kb.get(pid, 0), hwm)
            if pid not in self.names:
                try:
                    with open(f"/proc/{pid}/comm") as f:
                        self.names[pid] = f.read().strip()
                except OSError:
                    self.names[pid] = "?"

    def breakdown_mb(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for pid, kb in self.peaks_kb.items():
            name = self.names.get(pid, "?")
            out[name] = out.get(name, 0.0) + kb / 1024.0
        return out

    def run(self) -> None:
        while not self._done.is_set():
            self.sample()
            self._done.wait(self.interval)

    def stop(self) -> float:
        self._done.set()
        self.join(timeout=5)
        self.sample()
        return sum(self.peaks_kb.values()) / 1024.0


def cpu_ticks() -> list[int]:
    """Aggregate CPU tick counters (user ... steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def fingerprint(spark, seed: int, inputs: dict, load_before) -> dict:
    with open("/proc/meminfo") as f:
        mem_total_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "nproc": nproc(),
        "spark.driver.memory": spark.conf.get("spark.driver.memory", None),
        "mem_total_mb": round(mem_total_kb / 1024, 1),
        "loadavg_before": load_before,
        "spark_version": spark.version,
        "java_version": sc._jvm.java.lang.System.getProperty("java.version"),
        "python_version": sys.version.split()[0],
        "seed": seed,
        "input_rows": inputs["rows"],
        "input_bytes": inputs["bytes"],
    }


def driver_heap_mb(spec: str | None) -> float:
    if not spec:
        return 1024.0  # Spark's default spark.driver.memory
    spec = spec.strip().lower()
    scale = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    if spec[-1] == "b":
        spec = spec[:-1]
    if spec[-1] in scale:
        return float(spec[:-1]) * scale[spec[-1]]
    return float(spec) / (1024 * 1024)


def measure(workload, spark, seed: int, seconds: float, trace: bool) -> dict:
    """Cold pass, then steady passes for ``seconds`` and at least the
    workload's ``steady_passes``.

    Only the first ``steady_passes`` steady passes are counted (traced,
    and in the medians): the passes still speed up as the JVM warms, so a
    count that followed the host's speed would move every median."""
    from perfbench import trace as tr
    from perfbench import workloads as wl

    rng = random.Random(seed)
    probe = tr.SparkProbe(spark) if trace else None
    targets, missing = wl.traced_functions() if trace else ({}, [])
    materialize = wl.ETL_MATERIALIZE if workload.name == "etl_star_load" else frozenset()
    passes, span_records, traced_walls = [], [], []
    corpus_seen: set[int] = set()
    corpus = {"builds": 0, "hits": 0}

    def one_pass(traced: bool):
        order = rng if passes else None  # the cold pass keeps the registry order
        if not traced:
            return workload.run_pass(spark, order, None)
        tracer = tr.Tracer(f"{workload.name}-{seed}-{len(passes)}", probe)
        with tr.patched(tracer, targets, materialize):
            result = workload.run_pass(spark, order, tracer)
        tracer.harvest()
        span_records.append(tracer.records())
        traced_walls.append(result.wall_s)
        for s in tracer.spans:
            if s.name == "plans.corpus" and s.result_id is not None:
                corpus["hits" if s.result_id in corpus_seen else "builds"] += 1
                corpus_seen.add(s.result_id)
        return result

    passes.append(one_pass(trace))  # cold: first pass of a fresh session
    t0 = time.perf_counter()
    while len(passes) <= workload.steady_passes or time.perf_counter() - t0 < seconds:
        # Traced runs alternate untraced (U) and traced (T) counted steady
        # passes as U T U ..., so the warm-up drift is on both sides.
        i = len(passes)
        passes.append(one_pass(trace and i <= workload.steady_passes and i % 2 == 0))
    return {
        "passes": passes,
        "span_records": span_records,
        "traced_walls": traced_walls,
        "corpus": corpus,
        "missing_functions": missing,
    }


def run(workload_name: str, seed: int, seconds: float, trace: bool) -> int:
    started = time.perf_counter()
    load_before = os.getloadavg()
    ticks_before = cpu_ticks()
    from perfbench import metrics as mt
    from perfbench import workloads as wl

    work_dir = os.path.join(HERE, "work", f"{workload_name}-{seed}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    spark = None
    try:
        workload = wl.WORKLOADS[workload_name](work_dir, seed)  # inputs + oracles, untimed
        phases = {"inputs_s": time.perf_counter() - started}
        # setup_s: this process's one session start, with nothing else
        # running.  A start costs 5-10 s on a 4-vCPU host; a second one
        # per run would not fit the run-time budget when the host is slow,
        # and starts side by side contend for the CPUs.
        speed_before = speed_probe()
        spark, setup_s = start_session()
        phases["setup_done_s"] = time.perf_counter() - started
        env = fingerprint(spark, seed, workload.inputs, load_before)
        sampler = RssSampler()
        sampler.start()
        m = measure(workload, spark, seed, seconds, trace)
        peak_rss = sampler.stop()
        phases["rss_by_process_mb"] = sampler.breakdown_mb()
        phases["measure_done_s"] = time.perf_counter() - started
        env["loadavg_after"] = os.getloadavg()
        ticks = [b - a for a, b in zip(ticks_before, cpu_ticks())]
        # Share of CPU time the hypervisor gave to other guests.
        env["cpu_steal_frac"] = ticks[7] / max(sum(ticks), 1)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
    env["speed_probe_s"] = [speed_before, speed_probe()]

    passes = m["passes"]
    attempted, failed = wl.tally(passes)
    untraced_steady = [p for p in passes[1 : 1 + workload.steady_passes] if not p.traced]
    cold = passes[0]
    e2e, notes = mt.end_to_end(
        cold.wall_s,
        cold.cpu_s,
        [p.wall_s for p in untraced_steady],
        [p.cpu_s for p in untraced_steady],
        [op.latency_s for p in untraced_steady for op in p.ops],
        setup_s,
        peak_rss,
    )
    e2e["failed_frac"] = failed / attempted
    if workload_name == "etl_star_load":
        e2e["stored_bytes_ratio"] = workload.bytes_written / workload.inputs["bytes"]
    units = {name: unit for name, unit, *_ in mt.END_TO_END + mt.REPORTED}
    record = {
        "workload": workload_name,
        "why": wl.WHY[workload_name],
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "env": env,
        "end_to_end": {k: {"value": v, "unit": units[k]} for k, v in e2e.items()},
        "notes": {**notes, **phases, "run_wall_s": time.perf_counter() - started},
        "passes": [
            {"wall_s": p.wall_s, "cpu_s": p.cpu_s, "traced": p.traced,
             "ops": [vars(op) for op in p.ops]}
            for p in passes
        ],
    }
    if trace:
        # The first traced pass is the cold one: per-layer figures come
        # from the traced steady passes, codegen also from the cold pass.
        cold_records, steady_records = m["span_records"][0], m["span_records"][1:]
        steady_traced = m["traced_walls"][1:]
        extra = {
            "session.get_spark_s": e2e["setup_s"],
            "session.driver_heap_mb": driver_heap_mb(env["spark.driver.memory"]),
            "sources.bytes_written": float(getattr(workload, "bytes_written", 0)),
            "sources.files_written": float(getattr(workload, "files_written", 0)),
            "sources.stored_bytes_ratio": e2e.get("stored_bytes_ratio", 0.0),
            "plans.corpus_builds": float(m["corpus"]["builds"]),
            "plans.corpus_cache_hits": float(m["corpus"]["hits"]),
            "trace.overhead_s": statistics.median(steady_traced) - e2e["steady_s"],
        }
        layer = mt.per_layer(cold_records, steady_records, steady_traced, extra)
        record["per_layer"] = {
            name: {"value": layer[name], "unit": unit, "moves": moves}
            for name, unit, _, moves in mt.PER_LAYER
        }
        record["missing_functions"] = m["missing_functions"]
        record["spans"] = m["span_records"]
        shown = {k: {"value": v["value"], "unit": v["unit"]} for k, v in record["per_layer"].items()}
    else:
        shown = {name: record["end_to_end"][name] for name, *_ in mt.END_TO_END}
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    artifact = os.path.join(out_dir, f"{workload_name}-seed{seed}-trace{int(trace)}.json")
    with open(artifact, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(f"perfbench workload={workload_name} seed={seed} trace={int(trace)} "
          f"artifact={os.path.relpath(artifact, ROOT)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": shown,
    }), flush=True)
    return 0


def main(argv: list[str] | None = None) -> int:
    import_program()
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    return run(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    raise SystemExit(main())
