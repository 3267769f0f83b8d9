"""CDC changeset application: fold a batch of I/U/D changes into a
snapshot (the set-based MERGE the reference's row-at-a-time Postgres
loop approximates — reference dag.py:399–443 INSERTs row by row).

``apply_changes`` is the batch form of Delta/Iceberg ``MERGE INTO``
without a table format: latest change per key wins (by a monotone
sequence column), deletes drop the key, inserts/updates replace it.

Scale shape: one window over the changeset (small relative to the base —
a day's CDC vs the full table) + one left-anti join on the key.  The
base table never sorts; with both sides bucketed on the key
(`sources/bucketed.py`) the anti-join is shuffle-free too.  Determinism:
ties on ``seq_col`` are broken by preferring deletes, then by op
lexicographically — replays produce identical snapshots.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from processo_etl_spark.columns import internal
from processo_etl_spark.operators.relational import dedup_keep_first


def latest_changes(
    changes: DataFrame, key_cols: list[str], seq_col: str, op_col: str = "op"
) -> DataFrame:
    """One winning change row per key: max seq, deletes win seq ties."""
    deletes_first = F.when(F.col(op_col) == "D", 0).otherwise(1)
    return dedup_keep_first(
        changes, key_cols, [F.col(seq_col).desc(), deletes_first.asc()]
    )


def apply_changes(
    base: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    seq_col: str,
    op_col: str = "op",
) -> DataFrame:
    """New snapshot: base rows whose key has no change survive; changed
    keys take their winning change row (unless it's a delete)."""
    winner = latest_changes(changes, key_cols, seq_col, op_col)
    untouched = base.join(winner.select(*key_cols), key_cols, "left_anti")
    upserts = winner.filter(F.col(op_col) != "D").select(*base.columns)
    return untouched.unionByName(upserts)


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level reconciliation between two snapshots of a keyed table:
    one row per differing key with ``change_type`` ∈ {insert, delete,
    update} — the verification primitive behind migration sign-off,
    CDC-pipeline audits, and "did the backfill change anything it
    shouldn't" checks (the inverse of ``apply_changes``: diff(old,
    apply_changes(old, c)) recovers c's net effect).

    Output: key columns, ``change_type``, and ``old_<c>`` / ``new_<c>``
    for each compared column (NULL on the absent side).  Unchanged keys
    are dropped — at 100 TB the diff is CDC-sized, not table-sized.

    Scale shape: ONE full-outer equi-join on the key (both sides
    bucketed on the key ⇒ shuffle-free), and change detection is a
    null-safe struct comparison (``<=>``) — no row hashing, so column
    NULLs and type edge cases can't collide, and Catalyst prunes to
    exactly key + compared columns at the scans.
    """
    cmp_cols = compare_cols or [c for c in old.columns if c not in key_cols]
    in_old, in_new = internal("in_old"), internal("in_new")
    o = old.select(
        *key_cols, *[F.col(c).alias(f"old_{c}") for c in cmp_cols]
    ).withColumn(in_old, F.lit(True))
    n = new.select(
        *key_cols, *[F.col(c).alias(f"new_{c}") for c in cmp_cols]
    ).withColumn(in_new, F.lit(True))
    j = o.join(n, key_cols, "full_outer")
    same = F.struct(*[F.col(f"old_{c}") for c in cmp_cols]).eqNullSafe(
        F.struct(*[F.col(f"new_{c}") for c in cmp_cols])
    )
    change = (
        F.when(F.col(in_old).isNull(), F.lit("insert"))
        .when(F.col(in_new).isNull(), F.lit("delete"))
        .when(~same, F.lit("update"))
    )
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            *key_cols,
            "change_type",
            *[f"old_{c}" for c in cmp_cols],
            *[f"new_{c}" for c in cmp_cols],
        )
    )
