"""Larger-SF scaling spot-bench: the headline bench at
sf0.1 sits at the ~0.2-0.5 s per-query job-scheduling floor, so its
8-core/32-core ratios measure fixed overhead, not parallel code.  This
tool times the heaviest headline queries at a LARGER scale factor at two
core counts and prints ONE JSON line with the per-query low/high-core
ratios — evidence that the operators actually parallelize.

It is deliberately a SEPARATE artifact from bench.py (the headline
contract is untouched): same noop-sink methodology, same
$SPARK_GRAFT_SF_DIR override (default /tmp/sf2.5, built by
``python tools/gen_scale.py 25 /tmp/sf2.5``), core counts from
$SPARK_GRAFT_SCALE_CPUS (default: the cores this process may use, and a
quarter of them — "4,1" on a 4-core host).  Each core count runs in its
own subprocess so every measurement gets a fresh JVM at exactly
local[N]; a failed subprocess stops the tool with its stderr.

Usage:
    python tools/gen_scale.py 25 /tmp/sf2.5     # once
    python tools/bench_scaling.py               # prints the JSON line

Inner mode (one core count, invoked via subprocess):
    python tools/bench_scaling.py --inner <cpus> <sf_dir> <q1,q2,...>
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Heavy headline queries spanning the suite's axes: the Pregel graph
# loop, the Bloom decontamination probe, the ExactSubstr gram pipeline,
# exact-decimal TPC-H aggregation, and the 5-dimension broadcast star
# join.  In the blessed BENCH_local.json (4 vCPU, sf0.1) the steady pass
# ranks four of them in its top five by share (pagerank 17.9%, bloom
# 5.1%, q5 4.1%, q1 3.5%; dedup_semantic_cells 3.8% is the fifth) and
# dedup_duplicate_spans ninth at 3.3%; the cold pass ranks it fourth.
DEFAULT_QUERIES = [
    "graph_pagerank_distributed",
    "decontaminate_bloom",
    "dedup_duplicate_spans",
    "q1_pricing_summary",
    "q5_local_supplier_volume",
]


def inner(cpus: int, sf_dir: str, names: list[str]) -> int:
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    from bench import timed_pass, warm_up  # noqa: E402
    from processo_etl_spark import plans, session  # noqa: E402

    spark = session.get_spark(app_name=f"bench_scaling_{cpus}")
    queries = plans.all_queries()
    fns = {n: queries[n] for n in names}
    warm_up(spark, fns, sf_dir, tag="scaling_warmup")
    cold = timed_pass(spark, fns, sf_dir, tag="scaling_cold")  # primes caches
    out = timed_pass(spark, fns, sf_dir, tag="scaling")  # the reported number
    print(json.dumps({"cpus": cpus, "steady": out, "cold": cold}))
    return 0


def default_cpus() -> str:
    """High and low core counts this host can grant: all usable cores and
    a quarter of them."""
    n = len(os.sched_getaffinity(0))
    return f"{n},{max(1, n // 4)}"


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--inner":
        return inner(int(sys.argv[2]), sys.argv[3], sys.argv[4].split(","))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/tmp/sf2.5")
    cpu_list = [
        int(c)
        for c in os.environ.get("SPARK_GRAFT_SCALE_CPUS", default_cpus()).split(",")
    ]
    names = (
        sys.argv[1].split(",") if len(sys.argv) > 1 else DEFAULT_QUERIES
    )
    sf = os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")
    runs: dict[int, dict] = {}
    for cpus in cpu_list:
        p = subprocess.run(
            [
                sys.executable,
                os.path.abspath(__file__),
                "--inner",
                str(cpus),
                sf_dir,
                ",".join(names),
            ],
            capture_output=True,
            text=True,
            env=dict(os.environ, SPARK_GRAFT_CPUS=str(cpus)),
        )
        lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
        if p.returncode != 0 or not lines:
            print(
                f"bench_scaling: local[{cpus}] run failed (exit {p.returncode})\n"
                + p.stderr[-4000:],
                file=sys.stderr,
            )
            return 1
        runs[cpus] = json.loads(lines[-1])
    hi, lo = max(cpu_list), min(cpu_list)
    ratios = {
        n: round(runs[lo]["steady"][n] / runs[hi]["steady"][n], 2)
        for n in names
        if runs[hi]["steady"].get(n) and runs[lo]["steady"].get(n)
    }
    art = {
        "metric": "scaling_spot_wall",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus_high": hi,
        "cpus_low": lo,
        "queries_high": runs[hi]["steady"],
        "queries_low": runs[lo]["steady"],
        "queries_cold_high": runs[hi]["cold"],
        "ratio_low_over_high": ratios,
        "unit": "sec",
    }
    print(json.dumps(art))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
