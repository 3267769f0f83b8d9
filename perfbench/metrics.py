"""Metric definitions and the arithmetic that turns passes and spans into them.

``END_TO_END`` and ``PER_LAYER`` are the source of the metric lists in
``BENCHMARK.json`` (a test keeps the two in step).  Each per-layer row
names the end-to-end metric it should move and the workload it should
move it on.  ``BENCHMARK.json`` entries hold only a name, unit and
direction, so that mapping is written, per metric, to every traced run's
artifact (``per_layer.<name>.moves``).
"""

from __future__ import annotations

import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# Gated end-to-end metrics, printed by every untraced run:
# name, unit, better, bound (share of the parent's median it may worsen by).
# The pass costs are CPU seconds of the driver JVM, its Python workers and
# this process: on a shared 4-vCPU guest, wall time moves 30-40 % with the
# time the host gives other guests (cpu_steal_frac in the artifact), while
# CPU time does not.
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("cold_cpu_s", "s", "lower", 0.25),
    ("steady_cpu_s", "s", "lower", 0.25),
)
# Written to every artifact but not gated.  The timing and memory ones
# spread wider across runs than the largest bound allowed (0.25): wall
# times follow the host's load; a run holds only 15-20 operations of a
# few very different kinds, so the median operation falls between kinds
# and the percentile with ten samples beyond it falls below the median;
# the driver JVM's peak resident memory is bimodal under the program's
# default heap.  failed_frac is 0 on a correct run, and stored_bytes_ratio
# exists only for etl_star_load; a gated metric must be non-zero and
# printed by every workload.
REPORTED = (
    ("cold_s", "s"),
    ("steady_s", "s"),
    ("op_p50_s", "s"),
    ("op_tail_s", "s"),
    ("peak_rss_mb", "MB"),
    ("failed_frac", "ratio"),
    ("stored_bytes_ratio", "ratio"),
)

E = "etl_star_load"
R = "registry_mix"
# Gated metrics a per-layer metric should move, by workload.
STEADY_E, STEADY_R, STEADY_ER = (f"steady_cpu_s ({w})" for w in (E, R, f"{E}, {R}"))
COLD_ER = f"cold_cpu_s ({E}, {R})"
LAYERS = ("sources", "functions", "etl", "operators", "quality", "ml", "plans")
COUNTERS = (
    # counter, unit, end-to-end metric it should move (workload); summed
    # over each layer's spans in the traced steady passes
    ("jobs", "count", STEADY_ER),
    ("tasks", "count", STEADY_ER),
    ("shuffle_bytes", "B", STEADY_ER),
    ("spill_bytes", "B", STEADY_ER),
    ("codegen_compiles", "count", STEADY_ER),
    ("codegen_compile_ms", "ms", STEADY_ER),
    ("broadcast_build_ms", "ms", STEADY_R),
    ("exec_s", "s", STEADY_ER),
)
# The same codegen counters over the cold pass, where most compiles happen.
COLD_COUNTERS = (
    ("cold_codegen_compiles", "codegen_compiles", "count", COLD_ER),
    ("cold_codegen_compile_ms", "codegen_compile_ms", "ms", COLD_ER),
)

# name, unit, better, moves: end-to-end metric (workload).  Metrics not in
# END_TO_END are in every run's artifact but not gated.
NAMED_LAYER_METRICS = (
    ("session.get_spark_s", "s", "lower", f"setup_s ({E}, {R})"),
    ("session.driver_heap_mb", "MB", "lower", f"peak_rss_mb ({E}, {R}; not gated)"),
    ("sources.read_raw_csv_s", "s", "lower", STEADY_E),
    ("sources.write_parquet_s", "s", "lower", STEADY_E),
    ("sources.bytes_written", "B", "lower", STEADY_E),
    ("sources.files_written", "count", "lower", STEADY_E),
    ("sources.stored_bytes_ratio", "ratio", "lower", f"stored_bytes_ratio ({E}; not gated)"),
    ("catalog.scan_bytes", "B", "lower", STEADY_R),
    ("catalog.scan_s", "s", "lower", STEADY_R),
    ("functions.impute_median_s", "s", "lower", STEADY_E),
    ("functions.eager_jobs", "count", "lower", STEADY_E),
    ("etl.merge_year_s", "s", "lower", STEADY_E),
    ("etl.clean_s", "s", "lower", STEADY_E),
    ("etl.transform_s", "s", "lower", STEADY_E),
    ("etl.build_star_s", "s", "lower", STEADY_E),
    ("etl.driver_only_s", "s", "lower", STEADY_E),
    ("operators.star.build_dimension_s", "s", "lower", STEADY_E),
    ("operators.star.attach_fks_s", "s", "lower", STEADY_E),
    ("quality.audit_s", "s", "lower", STEADY_R),
    ("ml.dedup_s", "s", "lower", STEADY_R),
    ("ml.selection_s", "s", "lower", STEADY_R),
    ("ml.multimodal_s", "s", "lower", STEADY_R),
    ("ml.python_s", "s", "lower", STEADY_R),
    ("ml.arrow_bytes", "B", "lower", STEADY_R),
    ("plans.build_s", "s", "lower", STEADY_R),
    ("plans.catalyst_s", "s", "lower", STEADY_R),
    ("plans.execute_s", "s", "lower", STEADY_R),
    # Counted over the whole run: the corpus is built in the cold pass.
    ("plans.corpus_builds", "count", "lower", f"cold_cpu_s, steady_cpu_s ({R})"),
    ("plans.corpus_cache_hits", "count", "higher", f"cold_cpu_s, steady_cpu_s ({R})"),
    ("trace.overhead_s", "s", "lower", "none: traced minus untraced pass time"),
)

PER_LAYER = (
    NAMED_LAYER_METRICS
    + tuple(
        (f"{layer}.{counter}", unit, "lower", moves)
        for layer in LAYERS
        for counter, unit, moves in COUNTERS
    )
    + tuple(
        (f"{layer}.{name}", unit, "lower", moves)
        for layer in LAYERS
        for name, _, unit, moves in COLD_COUNTERS
    )
)

# Per-layer timings: metric -> span names (or prefixes ending in '.') summed
# by self time.
SPAN_TIMINGS = {
    "sources.read_raw_csv_s": ("sources.read_raw_csv",),
    "sources.write_parquet_s": ("sources.write_parquet",),
    "functions.impute_median_s": ("functions.impute_median",),
    "etl.merge_year_s": ("etl.merge_year",),
    "etl.clean_s": ("etl.clean",),
    "etl.transform_s": ("etl.transform",),
    "etl.build_star_s": ("etl.build_star",),
    "operators.star.build_dimension_s": ("operators.star.build_dimension",),
    "operators.star.attach_fks_s": ("operators.star.attach_fks",),
    "quality.audit_s": ("quality.",),
    "ml.dedup_s": ("ml.dedup",),
    "ml.selection_s": ("ml.selection",),
    "ml.multimodal_s": ("ml.multimodal",),
    "plans.build_s": ("plans.build", "plans.corpus"),
    "plans.catalyst_s": ("plans.catalyst",),
    "plans.execute_s": ("plans.execute",),
}


def _matches(span_name: str, patterns: tuple[str, ...]) -> bool:
    return any(
        span_name.startswith(p) if p.endswith(".") else span_name == p or span_name.startswith(p + ".")
        for p in patterns
    )


def tail_percentile(samples: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile with at least ``beyond`` samples above it.

    With n sorted samples, the value at 0-based index ``n - beyond - 1``
    has exactly ``beyond`` samples after it; it is reported with its
    percentile ``100 * (n - beyond) / n``.  Fewer than ``beyond + 1``
    samples have no such percentile (ValueError)."""
    n = len(samples)
    if n <= beyond:
        raise ValueError(f"need more than {beyond} samples for a tail, got {n}")
    k = n - beyond - 1
    return sorted(samples)[k], 100.0 * (n - beyond) / n


def end_to_end(cold_wall: float, cold_cpu: float, steady_walls: list[float],
               steady_cpu: list[float], op_latencies: list[float],
               setup_s: float, peak_rss_mb: float) -> tuple[dict, dict]:
    """(values of the timing and memory metrics, notes for the artifact)."""
    try:
        tail, pct = tail_percentile(op_latencies)
    except ValueError:  # too few samples for the rule: reported as null
        tail, pct = None, None
    values = {
        "setup_s": setup_s,
        "cold_s": cold_wall,
        "cold_cpu_s": cold_cpu,
        "steady_s": statistics.median(steady_walls),
        "steady_cpu_s": statistics.median(steady_cpu),
        "op_p50_s": statistics.median(op_latencies),
        "op_tail_s": tail,
        "peak_rss_mb": peak_rss_mb,
    }
    notes = {
        "op_tail_percentile": pct,
        "op_samples": len(op_latencies),
        "steady_passes": len(steady_walls),
    }
    return values, notes


def per_layer(cold_records: list[dict], records_per_pass: list[list[dict]],
              pass_walls: list[float], extra: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics, averaged over the traced steady passes.

    ``records_per_pass`` holds :meth:`Tracer.records` of each traced steady
    pass and ``pass_walls`` their wall times; ``cold_records`` those of the
    cold pass, which only the ``cold_*`` counters read.  ``extra`` supplies
    metrics measured outside spans (session, sources bytes, trace
    overhead ...)."""
    n = len(records_per_pass)
    totals: dict[str, float] = {name: 0.0 for name, *_ in PER_LAYER}
    for records, wall in zip(records_per_pass, pass_walls):
        exec_ms_all = 0.0
        for r in records:
            name, self_s, c = r["name"], r["self_s"], r["self_counters"]
            for metric, patterns in SPAN_TIMINGS.items():
                if _matches(name, patterns):
                    totals[metric] += self_s
            exec_ms_all += c.get("exec_ms", 0.0)
            totals["catalog.scan_bytes"] += c.get("scan_bytes", 0.0)
            totals["catalog.scan_s"] += c.get("scan_ms", 0.0) / 1e3
            totals["ml.python_s"] += c.get("python_ms", 0.0) / 1e3
            totals["ml.arrow_bytes"] += c.get("arrow_bytes", 0.0)
            if name == "functions.impute_median":
                totals["functions.eager_jobs"] += c.get("jobs", 0.0)
            layer = name.split(".", 1)[0]
            if layer in LAYERS:
                for counter, *_ in COUNTERS:
                    key = "exec_ms" if counter == "exec_s" else counter
                    scale = 1e-3 if counter == "exec_s" else 1.0
                    totals[f"{layer}.{counter}"] += scale * c.get(key, 0.0)
        if any(r["name"].startswith("etl.") for r in records):
            totals["etl.driver_only_s"] += max(wall - exec_ms_all / 1e3, 0.0)
    out = {k: (v / n if n else 0.0) for k, v in totals.items()}
    for r in cold_records:
        layer = r["name"].split(".", 1)[0]
        if layer in LAYERS:
            for name, counter, *_ in COLD_COUNTERS:
                out[f"{layer}.{name}"] += r["self_counters"].get(counter, 0.0)
    out.update(extra)
    return out
