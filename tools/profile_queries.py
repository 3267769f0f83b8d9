"""The one profiler: runs registry queries with the bench run protocol
(``bench.py``: sf0.001 warm-up, cold pass, steady pass).

Usage: python tools/profile_queries.py <tag> [sf_dir] [q1,q2,...] [repeats]

Defaults to sf0.1, the bench headliners and one steady pass.  Writes
plans/<tag>/<query>.txt (the formatted plan the cold pass ran) and
plans/<tag>/metrics.json, and prints the same record as one JSON line:
per-query ``cold`` and first-pass ``steady`` seconds, and ``counters``
over that steady run — jobs, complete stages, their tasks, shuffle
read/write and input bytes, from Spark's in-process status store.  Wall
clock on a shared host swings with steal bursts; these counts do not.
``repeats`` > 1 adds ``steady_samples`` and their ``steady_min``.
Earlier before/after plan dumps are in git history at c57a332.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import DEFAULT_SF_DIR, HEADLINE, timed_pass, timed_run, warm_up  # noqa: E402
from processo_etl_spark import plans, session  # noqa: E402

COUNTERS = ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes")


def explain_formatted(df) -> str:
    jqe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return jqe.explainString(mode)


class StatusCounters:
    """Execution counters since the last :meth:`mark`, read from the
    driver's ``AppStatusStore`` — the store the UI's REST API serves,
    live with the UI disabled.  Its job and stage lists are
    newest-first, and it drops the oldest entries past
    ``spark.ui.retained{Jobs,Stages}``, so deltas walk the entries newer
    than the marked ids instead of differencing running totals."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._no_quantiles = spark.sparkContext._gateway.new_array(
            spark._jvm.double, 0
        )

    def _lists(self):
        self._sc.listenerBus().waitUntilEmpty()  # status events are async
        store = self._sc.statusStore()
        return (
            store.jobsList(None).iterator(),
            store.stageList(None, False, False, self._no_quantiles, None).iterator(),
        )

    def mark(self) -> None:
        jobs, stages = self._lists()
        self._job = jobs.next().jobId() if jobs.hasNext() else -1
        self._stage = stages.next().stageId() if stages.hasNext() else -1

    def since_mark(self) -> dict[str, int]:
        jobs, stages = self._lists()
        out = dict.fromkeys(COUNTERS, 0)
        while jobs.hasNext() and jobs.next().jobId() > self._job:
            out["jobs"] += 1
        while stages.hasNext():
            s = stages.next()
            if s.stageId() <= self._stage:
                break
            if s.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["input_bytes"] += s.inputBytes()
        return out


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    tag = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else DEFAULT_SF_DIR
    names = sys.argv[3].split(",") if len(sys.argv) > 3 else list(HEADLINE)
    repeats = int(sys.argv[4]) if len(sys.argv) > 4 else 1
    out_dir = os.path.join(ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = session.get_spark(app_name=f"profile_{tag}")
    queries = plans.all_queries()
    fns = {n: queries[n] for n in names}
    warm_up(spark, fns, sf_dir, tag="warmup")

    cold: dict[str, float] = {}
    for name, fn in fns.items():
        cold[name], df = timed_run(spark, name, fn, sf_dir, tag="cold")
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
            fh.write(explain_formatted(df))

    # First steady pass: per-query timings plus execution counters; any
    # further passes are timing samples only.
    status = StatusCounters(spark)
    steady: dict[str, float] = {}
    counters: dict[str, dict[str, int]] = {}
    for name, fn in fns.items():
        status.mark()
        steady[name] = timed_run(spark, name, fn, sf_dir, tag="steady")[0]
        counters[name] = status.since_mark()
    samples = [steady] + [
        timed_pass(spark, fns, sf_dir, tag="steady") for _ in range(repeats - 1)
    ]

    record = {
        "tag": tag,
        "sf_dir": sf_dir,
        "steady_total": round(sum(steady.values()), 3),
        "cold_total": round(sum(cold.values()), 3),
        "steady": steady,
        "cold": cold,
        "counters": counters,
    }
    if repeats > 1:
        record["steady_samples"] = {n: [s[n] for s in samples] for n in fns}
        record["steady_min"] = {n: min(s[n] for s in samples) for n in fns}
    with open(os.path.join(out_dir, "metrics.json"), "w") as fh:
        json.dump(record, fh, indent=1)
        fh.write("\n")
    print(json.dumps(record))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
