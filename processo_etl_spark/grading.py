"""The grading contract and the one Spark⇔DuckDB differential
comparison, shared by the local sweep (tools/check_oracles.py) and the
test suite.

:func:`oracle_connection` is the one DuckDB setup the oracle SQL runs
against, and :func:`compare` grades one query's Spark result against
its oracle: output-schema rules, the HUGEINT ban, the driver
canonicalizer probe, then columns, row count and the value multiset
(:func:`table_multiset`), in that order.

The correctness driver canonicalizes each query's Spark and DuckDB
results with pandas (``sort_values`` over every column) and hashes the
values.  Three output-schema rules follow; :func:`output_violations` is
the ONE check of all three, run by :func:`compare` and
tests/test_scale.py's plan audit, so widening a ban is a single edit.
They hold for every registered query; the raw-double rule's per-column
allow-list below is the only carve-out:

- **No DecimalType outputs** (the driver hashes Spark vs
  DuckDB decimals differently regardless of value).
- **No array/map/struct outputs** (pandas ``sort_values``
  throws ``unhashable type: 'list'``, so any non-scalar column is an
  automatic driver ERR even when the values match).  Flatten with
  ``posexplode`` ⇔ ``unnest(generate_series)``.
- **No raw-double fold outputs** (``drift_chi2_sources``
  hash-failed on the driver even though its 512-term value-sorted
  double fold was locally bit-identical under DuckDB 1.0.0 — the
  driver's DuckDB build evaluated the fold one ULP differently, the
  first loss for the "bit-exact replay" gamble).  Any query whose
  oracle contains a multi-term float-reduction idiom must emit each
  double output column through ``ROUND(expr, s)`` on BOTH sides
  (scale chosen so the rounding quantum is decades above the
  worst-case cross-engine ULP drift), or carry an explicit
  (query, column) allow-list entry below with a recorded
  justification — e.g. a single division of exact integers, which is
  one correctly-rounded IEEE op on both engines.
"""

from __future__ import annotations

import math
import re
from decimal import Decimal


def decimal_output_cols(schema) -> list[str]:
    """Names of output columns whose type contains a DecimalType
    (recursing into arrays/maps/structs)."""
    from pyspark.sql.types import ArrayType, DecimalType, MapType, StructType

    def has_dec(dt) -> bool:
        if isinstance(dt, DecimalType):
            return True
        if isinstance(dt, ArrayType):
            return has_dec(dt.elementType)
        if isinstance(dt, MapType):
            return has_dec(dt.keyType) or has_dec(dt.valueType)
        if isinstance(dt, StructType):
            return any(has_dec(f.dataType) for f in dt.fields)
        return False

    return [f.name for f in schema.fields if has_dec(f.dataType)]


def nonscalar_output_cols(schema) -> list[str]:
    """Names of output columns with an unhashable (non-scalar) type —
    ArrayType/MapType/StructType at the top level."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    return [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]


# --- raw-double fold guard --------------------------------------------------------

# Oracle-SQL idioms that materialize a multi-term float reduction.  The
# Spark side of such a query necessarily replays the same fold (that is
# the whole oracle strategy), so scanning the oracle text catches the
# pair.
FLOAT_FOLD_MARKERS = ("list_reduce", "list_aggregate", "with recursive")

# (query -> column -> justification): double output columns of
# fold-marker queries that are exempt from the ROUND requirement.
# Every entry must state WHY the value is engine-portable without
# rounding.  Keep this list short — the default is ROUND.
RAW_DOUBLE_FOLD_ALLOWED: dict[str, dict[str, str]] = {
    # recall@5 = count(hits)/count(gold): a single division of exact
    # small integers — one correctly-rounded IEEE op, identical on any
    # engine.  The list_reduce in its oracle computes cosine for
    # RANKING only; no fold value reaches the output.
    "retrieval_eval_recall": {
        "recall_at_5": "single division of exact integers; fold ranks only"
    },
    # 1/rank (or the exact literal 0.0 on a miss): same class.
    "retrieval_eval_mrr": {
        "reciprocal_rank": "single division of exact integers; fold ranks only"
    },
    # `value` is a raw parquet column passthrough — the same stored
    # double on both sides, no arithmetic at all.  `ewma` is a
    # FIXED-POINT INTEGER recurrence (E = (3E+V) >> 2 on scaled longs,
    # operators/temporal.ewma_per_key(fixed_point_scale=8)) — no float
    # op until the final single exact-integer division by 10⁸, which is
    # one correctly-rounded IEEE op on any engine.
    "ewma_user_value": {
        "value": "raw parquet source passthrough",
        "ewma": "fixed-point long recurrence; single exact-int division",
    },
}


def _last_alias_round_wrapped(sql: str, col: str) -> bool | None:
    """Whether the LAST ``AS <col>`` occurrence in ``sql`` aliases an
    expression WHOLLY wrapped in ROUND(...) — the last occurrence is
    the final SELECT's in every registry oracle.  None = no
    ``AS <col>`` alias at all (a bare column reference or source
    passthrough — the caller treats that as not-wrapped).

    The check extracts the FULL aliased expression (scan back to the
    nearest enclosing comma or open-paren at depth 0) and requires it
    to be ``ROUND(...)`` or ``CAST(ROUND(...) AS type)`` in its
    entirety: a trailing ROUND sub-expression (``raw_fold + ROUND(adj,
    6) AS col``) must NOT mask an unrounded fold reaching the output
    (the paren-match-only version had exactly that false negative)."""
    matches = list(re.finditer(rf"\bAS\s+{re.escape(col)}\b", sql, re.IGNORECASE))
    if not matches:
        return None
    pre = sql[: matches[-1].start()]
    depth = 0
    start = 0
    for i in range(len(pre) - 1, -1, -1):
        c = pre[i]
        if c == ")":
            depth += 1
        elif c == "(":
            if depth == 0:  # the enclosing call/subquery boundary
                start = i + 1
                break
            depth -= 1
        elif c == "," and depth == 0:  # previous select-list item
            start = i + 1
            break
    # The backward scan can walk over a PRECEDING balanced group (an
    # earlier CTE body), so the slice may still carry leading SQL.  The
    # aliased expression is ONE of: the full slice, or the suffix after
    # some SELECT keyword inside it (the final select's own SELECT, or
    # — when the expression itself embeds a scalar subquery — none of
    # them).  Testing every candidate is safe because the whole-call
    # check below requires the ENTIRE candidate to be one balanced
    # ROUND(...) call: a mid-expression suffix can never fake that
    # (the trim-at-last-SELECT version broke
    # ``ROUND((SELECT ...) * x, 6) AS col``).
    sl = pre[start:]
    candidates = [sl] + [
        sl[m.end() :] for m in re.finditer(r"\bSELECT\b", sl, re.IGNORECASE)
    ]

    def whole_call(e: str, head: str) -> str | None:
        """If ``e`` starts with ``head(`` and that call's closing paren
        is e's LAST char, return the text inside the call; else None.
        (A plain regex ``head\\(.*\\)`` would accept
        ``ROUND(a,6) + fold(...)`` — the parens must balance.)"""
        m = re.match(rf"{head}\s*\(", e, re.IGNORECASE)
        if not m:
            return None
        depth = 1
        for i in range(m.end(), len(e)):
            if e[i] == "(":
                depth += 1
            elif e[i] == ")":
                depth -= 1
                if depth == 0:
                    return e[m.end() : i] if i == len(e) - 1 else None
        return None

    for cand in candidates:
        expr = cand.strip()
        if expr.upper().startswith("DISTINCT "):
            expr = expr[len("DISTINCT ") :].strip()
        # unwrap CAST layers repeatedly: CAST(CAST(ROUND(v, 2) AS
        # DECIMAL(12,2)) AS DOUBLE) is the repo's standard exact-value
        # emission idiom (one layer was not enough)
        while True:
            inner = whole_call(expr, "cast")
            if inner is None:
                break
            expr = re.sub(
                r"\s+as\s+\w+(\s*\(\s*\d+(\s*,\s*\d+)?\s*\))?\s*$",
                "",
                inner,
                flags=re.IGNORECASE,
            ).strip()
        if whole_call(expr, "round") is not None:
            return True
    return False


def raw_double_fold_hazards(
    name: str, oracle_sql: str, double_cols: list[str]
) -> list[str]:
    """Double output columns of a fold-marker query that are neither
    ROUND-wrapped in the oracle's final SELECT nor allow-listed.

    ``double_cols`` are the Spark result's DoubleType/FloatType output
    column names (the caller reads them off the schema)."""
    low = oracle_sql.lower()
    if not any(m in low for m in FLOAT_FOLD_MARKERS):
        return []
    allowed = RAW_DOUBLE_FOLD_ALLOWED.get(name, {})
    return [
        c
        for c in double_cols
        if c not in allowed and _last_alias_round_wrapped(oracle_sql, c) is not True
    ]


def double_output_cols(schema) -> list[str]:
    """Names of top-level DoubleType/FloatType output columns."""
    from pyspark.sql.types import DoubleType, FloatType

    return [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (DoubleType, FloatType))
    ]


def output_violations(name: str, schema, oracle_sql: str) -> list[str]:
    """One message per output-schema rule that query ``name``'s result
    ``schema`` breaks: DecimalType columns, non-scalar columns, and
    raw-double fold outputs (``oracle_sql`` is the query's oracle,
    ``""`` for none).  Empty when the output is gradeable."""
    out = []
    dec = decimal_output_cols(schema)
    if dec:
        out.append(f"DecimalType output columns {dec}")
    nonscalar = nonscalar_output_cols(schema)
    if nonscalar:
        out.append(f"non-scalar output columns {nonscalar}")
    folds = raw_double_fold_hazards(name, oracle_sql, double_output_cols(schema))
    if folds:
        out.append(
            f"raw-double fold output columns {folds} "
            "(ROUND both sides or allow-list in grading.py)"
        )
    return out


# --- the differential comparison -------------------------------------------------


def oracle_connection(sf_dir: str):
    """A DuckDB connection with one view per catalog table over
    ``sf_dir``'s parquet files: the world every oracle SQL reads.  Keep
    it alive while its relations are read (they weak-ref it)."""
    import duckdb

    from processo_etl_spark import catalog

    con = duckdb.connect()
    for t in catalog.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{catalog.table_path(sf_dir, t)}'"
        )
    return con


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


def _quantize12_cell(c):
    """Re-round a norm_cell tag to 12 significant digits, RECURSIVELY.

    Float cells nested inside array columns are tagged
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
    """(sorted column names, {typed row: count}).  ``quantize`` rounds
    float cells to 12 significant digits, for stress scales only:
    DuckDB's DECIMAL→DOUBLE cast double-rounds (int128→double, then the
    scale division) and lands 1 ulp off the correctly-rounded value once
    the UNSCALED decimal exceeds 2^53 — measured on q1's sum_charge at
    sf2.5: exact 70632264676.794900, Spark …6.7949 (correct), DuckDB
    …6.79489."""
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


def hugeint_cols(columns, types) -> list[str]:
    """Result columns DuckDB typed as HUGEINT/UHUGEINT (int128).

    The grading hasher canonicalizes int128 differently
    from Spark LongType, and the local DuckDB compare can't see it — so
    the ban is structural on the oracle's result schema, mirroring the
    DecimalType output ban."""
    return [c for c, t in zip(columns, types) if "HUGEINT" in str(t).upper()]


def driver_canon_probe(cols, rows) -> str | None:
    """Emulate the grading driver's pandas canonicalization; return an
    error string if it would crash.

    This harness normalizes cells itself (``norm_cell``
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


def decimal_cast_hazards(oracle_sql: str) -> list[str]:
    """Operands of ORACLE-side decimal CASTs with a fractional scale
    whose operand isn't ROUNDed.

    Driver hash mismatches came from exactly this shape: tie
    rounding of a raw double cast to DECIMAL is engine/version-dependent
    on the driver's (version-unknown) DuckDB, while
    ``CAST(ROUND(x, s) AS DECIMAL)`` is stable because the data is never
    near a tie at its intent scale.  The Spark side is
    version-pinned and deliberately uses a plain cast (plans/common.dec),
    so the scan targets the oracle SQL text, where the hazard lives.  A
    scale-0 cast (``DECIMAL(38,0)`` of an integer count) has no
    fractional digit to round and is not flagged.
    """
    casts = re.finditer(
        r"CAST\(\s*([A-Za-z_][\w.]*)\s+AS\s+DECIMAL\(\d+,(\d+)\)\)", oracle_sql, re.I
    )
    return sorted({m.group(1) for m in casts if int(m.group(2)) > 0})


def compare(
    name: str, sdf, srows, oracle_sql: str, con, quantize: bool = False
) -> list[str]:
    """Why query ``name``'s result (DataFrame ``sdf``, collected rows
    ``srows``) fails its grading against ``oracle_sql`` run on ``con``
    (:func:`oracle_connection`); empty when it passes.  The first
    failing check gives the reasons, in this order: output-schema rules,
    HUGEINT oracle columns, the driver-canonicalizer probe, column
    names, row count, value multiset.  With no oracle (``""``) only the
    schema rules apply.  ``quantize``: see :func:`table_multiset`."""
    violations = output_violations(name, sdf.schema, oracle_sql)
    if violations or not oracle_sql:
        return violations
    try:
        rel = con.sql(oracle_sql)
        huge = hugeint_cols(rel.columns, rel.types)
        if huge:
            return [
                f"oracle HUGEINT output columns {huge} "
                "(CAST the integer aggregate AS BIGINT)"
            ]
        dcols, drows = rel.columns, rel.fetchall()
    except Exception as e:  # noqa: BLE001
        return [f"duckdb error {str(e)[:200]}"]
    scols = sdf.columns
    canon_err = driver_canon_probe(scols, srows) or driver_canon_probe(dcols, drows)
    if canon_err:
        return [f"driver-canonicalizer probe would crash: {canon_err}"]
    sc, sm = table_multiset(scols, srows, quantize)
    dc, dm = table_multiset(dcols, drows, quantize)
    if sc != dc:
        return [f"columns differ spark={sc} duck={dc}"]
    if len(srows) != len(drows):
        return [f"rowcount spark={len(srows)} duck={len(drows)}"]
    if sm != dm:
        diff = list(set(sm) ^ set(dm))[:2]
        return [f"values differ, e.g. {str(diff)[:200]}"]
    return []
