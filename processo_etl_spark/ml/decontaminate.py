"""Benchmark decontamination: flag training documents that share word
n-grams with an evaluation/benchmark set.

The standard LLM pretraining hygiene step (GPT-3 appendix C / PaLM-style
13-gram collision checks): any training document containing an n-gram
that also occurs in a benchmark document is marked contaminated so it
can be dropped or audited before training.

Design for 100 TB:

- The benchmark side is *small* (eval suites are MBs, not TBs): its
  distinct n-gram set is built once and **broadcast** — the 100 TB corpus
  side never shuffles for the probe; each task streams its shard against
  the in-memory gram set (a broadcast hash semi-join).
- The corpus side is a narrow explode of per-document distinct shingles
  (`dedup.word_shingles` — one regex-normalize pass, let-bound HOF).
  The only shuffle is the tiny hit-count aggregation keyed by doc_id,
  map-side combinable.
- Shingle construction and hashing reuse the dedup module's conventions,
  so the whole operator is SQL-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from processo_etl_spark.ml.dedup import shingle_set


def ngram_contamination(
    corpus: DataFrame,
    eval_set: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 13,
    toks_col: str | None = None,
) -> DataFrame:
    """Per-corpus-document contamination report.

    Returns ``(id_col, n_contaminated, contaminated)`` where
    ``n_contaminated`` counts the document's *distinct* n-grams that occur
    anywhere in ``eval_set``.  Documents shorter than ``n`` words fall
    back to a single whole-text shingle (matching ``word_shingles``), so
    short eval strings still match verbatim copies.
    """
    eval_grams = eval_set.select(
        F.explode(shingle_set(text_col, n)).alias("gram")
    ).distinct()
    corpus_grams = corpus.select(
        id_col, F.explode(shingle_set(text_col, n, toks_col)).alias("gram")
    )
    hits = (
        corpus_grams.join(F.broadcast(eval_grams), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return corpus.select(id_col).join(hits, id_col, "left").select(
        id_col,
        F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
        (F.coalesce("n_contaminated", F.lit(0)) > 0).alias("contaminated"),
    )


def semantic_contamination(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.5,
    bits: int = 4,
    probes: int = 8,
) -> DataFrame:
    """Embedding-space decontamination — the SEMANTIC complement of
    ``ngram_contamination``: flag corpus items whose embedding is within
    cosine ≥ ``threshold`` of ANY eval-set embedding.  Catches
    paraphrased / translated / templated benchmark leakage that exact
    13-gram collision checks miss (the reason modern decontamination
    pipelines run both passes).

    Scale shape (the ``minhash_lsh_pairs`` discipline applied to
    vectors): both sides bucket into ``probes`` independent sign-LSH
    bands of ``bits`` dims each (the SemDeDup/IVF quantizer family,
    ml/similarity.sign_bucket_at); candidates are pairs agreeing on ANY
    band — an equi-join on (band, cell), never corpus × eval.  The
    candidate shuffle carries only (band, cell, id); embeddings
    re-attach per DISTINCT surviving pair for ONE exact cosine each.
    Banded recall has MinHash-band characteristics (a missed pair must
    disagree in all ``probes`` bands — vanishingly unlikely at high
    cosine); the brute-force certificate for auditing recall is
    ``similarity.brute_force_topk``.

    Returns per corpus item: ``n_matches`` (eval embeddings at ≥
    threshold), ``max_cos`` (best candidate cosine, NULL when no band
    collided), ``contaminated``.
    """
    from processo_etl_spark.ml.similarity import banded_candidates

    scored = banded_candidates(
        corpus, eval_set, id_col, vec_col, bits=bits, probes=probes
    ).select(F.col("lid").alias("cid"), F.col("cos"))
    hits = scored.groupBy("cid").agg(
        F.sum((F.col("cos") >= threshold).cast("long")).alias("n_matches"),
        F.max("cos").alias("max_cos"),
    )
    return (
        corpus.select(F.col(id_col))
        .join(hits, corpus[id_col] == hits["cid"], "left")
        .select(
            id_col,
            F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
            F.col("max_cos"),
            (F.coalesce("n_matches", F.lit(0)) > 0).alias("contaminated"),
        )
    )
