"""Profile registry queries: capture .explain("formatted") for each and
time it with the noop sink, using the bench methodology (sf0.001
warm-up, cold pass, steady pass).

Usage: python tools/profile_queries.py <tag> [sf_dir] [q1,q2,...]

Defaults to sf0.1 and the bench headliners (``bench.HEADLINE``).
Writes plans/<tag>/<query>.txt and prints a JSON timing line.  The
committed plans/r14 and plans/r15 dumps were taken the same way, with
a before/after suffix in the file name.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import BENCH_OVERRIDES, HEADLINE, _force  # noqa: E402
from processo_etl_spark import plans, session  # noqa: E402


def explain_formatted(df) -> str:
    jqe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return jqe.explainString(mode)


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    tag = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    names = sys.argv[3].split(",") if len(sys.argv) > 3 else list(HEADLINE)
    out_dir = os.path.join(ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = session.get_spark(app_name=f"profile_{tag}")
    queries = plans.all_queries()
    fns = {n: BENCH_OVERRIDES.get(n) or queries[n] for n in names}

    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name, fn in fns.items():
        spark.sparkContext.setJobDescription(f"warmup:{name}")
        _force(fn(spark, warm_dir))
    spark.catalog.clearCache()

    cold: dict[str, float] = {}
    for name, fn in fns.items():
        spark.sparkContext.setJobDescription(f"cold:{name}")
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        _force(df)
        cold[name] = round(time.perf_counter() - t0, 3)
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
            fh.write(explain_formatted(df))

    steady: dict[str, float] = {}
    for name, fn in fns.items():
        spark.sparkContext.setJobDescription(f"steady:{name}")
        t0 = time.perf_counter()
        _force(fn(spark, sf_dir))
        steady[name] = round(time.perf_counter() - t0, 3)

    print(
        json.dumps(
            {
                "tag": tag,
                "sf_dir": sf_dir,
                "steady_total": round(sum(steady.values()), 3),
                "cold_total": round(sum(cold.values()), 3),
                "steady": steady,
                "cold": cold,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
