"""Local differential harness: run every registered query on Spark AND
its oracle on DuckDB, and grade each pair with ``grading.compare``
(output-schema rules, HUGEINT ban, driver-canonicalizer probe, then
columns, row count and the sorted-column value multiset).
Usage:

    python tools/check_oracles.py [sf_dir] [name_filter ...] [--json] [--quantize12]
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from processo_etl_spark import plans, session  # noqa: E402
# perfbench's result digest imports table_multiset from here.
from processo_etl_spark.grading import (  # noqa: E402,F401
    compare,
    decimal_cast_hazards,
    oracle_connection,
    table_multiset,
)


def main() -> int:
    argv = [a for a in sys.argv[1:] if a not in ("--json", "--quantize12")]
    write_json = "--json" in sys.argv[1:]
    # --quantize12 forgives ≤1e-12 relative DuckDB cast noise at stress
    # scales (grading.table_multiset).  NEVER valid with --json:
    # committed evidence artifacts stay exact.
    quantize = "--quantize12" in sys.argv[1:]
    if quantize and write_json:
        print("ERROR: --quantize12 cannot write evidence artifacts (--json)")
        return 2
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    name_filter = argv[1:]
    spark = session.get_spark()
    con = oracle_connection(sf_dir)

    oracles = plans.all_oracles()
    failures = []
    results: dict[str, dict] = {}

    for name, fn in plans.all_queries().items():
        if name_filter and not any(f in name for f in name_filter):
            continue
        t0 = time.time()
        oracle = oracles.get(name, "")
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
        except Exception as e:  # noqa: BLE001
            reasons = [f"spark error {type(e).__name__}: {str(e)[:200]}"]
        else:
            reasons = compare(name, sdf, srows, oracle, con, quantize)
        if reasons:
            failures.append(name)
            err = "; ".join(reasons)
            results[name] = {"status": "fail", "rows": None, "secs": None, "err": err}
            for r in reasons:
                print(f"FAIL  {name}: {r}")
            continue
        n, secs = len(srows), time.time() - t0
        status = "ok" if oracle else "rows-only"
        results[name] = {"status": status, "rows": n, "secs": round(secs, 2), "err": None}
        if oracle:
            hz = decimal_cast_hazards(oracle)
            note = f"  [hazard: unrounded oracle decimal cast of {hz}]" if hz else ""
            print(f"OK    {name}: {n} rows [{secs:.1f}s]{note}")
        else:
            print(f"rows  {name}: {n} rows (no oracle) [{secs:.1f}s]")
    if write_json and name_filter:
        print(
            "NOTE: --json ignored — the evidence artifact records only "
            "FULL sweeps (a name-filtered run would silently shrink it)."
        )
    if write_json and not name_filter:
        # Committed evidence artifact: the full differential sweep
        # result for every registered query, inspectable instead of
        # claimed.
        sf_tag = os.path.basename(sf_dir.rstrip("/"))
        out = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            f"LOCAL_CORRECTNESS_{sf_tag}.json",
        )
        statuses = [r["status"] for r in results.values()]
        artifact = {
            "sf_dir": sf_dir,
            "n_queries": len(results),
            "n_ok": statuses.count("ok"),
            "n_rows_only": statuses.count("rows-only"),
            "n_fail": len(failures),
            "results": results,
        }
        with open(out, "w") as fh:
            json.dump(artifact, fh, indent=1)
            fh.write("\n")
        print(f"wrote {out}")
    print(f"\n{len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
