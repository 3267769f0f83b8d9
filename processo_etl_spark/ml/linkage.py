"""Record linkage / entity resolution: blocked fuzzy matching.

The classic Fellegi–Sunter pipeline shape (blocking → pairwise
comparison → clustering), as used to reconcile product catalogs,
author names, or crawl-source entities before training-data joins.

Design for 100 TB:

- **Blocking bounds the pair space.** A naive fuzzy join is O(n²); an
  equi-self-join on the blocking key costs Σ_b |b|² — linear as long as
  blocks are bounded (pick keys like brand/category/zip or a phonetic
  code; compose several blocking passes for recall, union + distinct).
- **Length prefilter before edit distance.** levenshtein(a, b) ≥
  ||a|−|b||, so pairs whose lengths differ by more than the threshold
  are pruned with two cheap ``length()`` calls before the O(|a|·|b|)
  DP runs — the same cheap-bound-first discipline as the PPJoin prefix
  filter (ml/dedup.jaccard_prefix_filter).
- **All JVM-side.** ``F.levenshtein`` is a built-in codegen expression;
  no Python touches the hot path, and the DuckDB oracle's
  ``levenshtein`` agrees exactly (both are the standard unit-cost DP).
- Clustering reuses ``dedup.label_clusters`` (distributed
  Large-Star/Small-Star connected components, then one broadcast left
  join) — match pairs in, entity ids out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from processo_etl_spark.ml.dedup import label_clusters


def blocked_fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: list[str],
    max_edit: int = 2,
) -> DataFrame:
    """Candidate match pairs: same blocking key, edit distance ≤ max_edit.

    Returns (id_a, id_b, name_a, name_b, edit_dist, similarity) with
    id_a < id_b; ``similarity`` = 1 − dist/max(len) is the normalized
    edit similarity in [0, 1].  Identical names match at distance 0.
    """
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(name_col).alias("name_a"),
        *[F.col(c).alias(f"_bk_{c}") for c in block_cols],
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(name_col).alias("name_b"),
        *[F.col(c).alias(f"_bk_{c}") for c in block_cols],
    )
    len_a, len_b = F.length("name_a"), F.length("name_b")
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, on=[f"_bk_{c}" for c in block_cols])
        .filter(F.col("id_a") < F.col("id_b"))
        # cheap lower bound first: |len(a)-len(b)| ≤ d prunes before the DP
        .filter(F.abs(len_a - len_b) <= F.lit(max_edit))
        .withColumn("edit_dist", dist)
        .filter(F.col("edit_dist") <= F.lit(max_edit))
        .select(
            "id_a",
            "id_b",
            "name_a",
            "name_b",
            F.col("edit_dist").cast("long").alias("edit_dist"),
            (
                F.lit(1.0)
                - F.col("edit_dist")
                / F.greatest(len_a, len_b, F.lit(1)).cast("double")
            ).alias("similarity"),
        )
    )


def resolve_entities(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: list[str],
    max_edit: int = 2,
) -> DataFrame:
    """Full resolution: fuzzy pairs → connected components → one
    ``entity_id`` (the cluster's min record id) per input row.
    Singletons resolve to themselves (``dedup.label_clusters``).

    Raises ``ValueError`` when ``id_col``, ``name_col`` or a block column
    is named ``entity_id``: the output would carry two of them."""
    pairs = blocked_fuzzy_pairs(df, id_col, name_col, block_cols, max_edit)
    return label_clusters(
        df.select(id_col, name_col, *block_cols), pairs, id_col, "entity_id"
    )
