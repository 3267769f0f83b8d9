"""Positional inverted index — the text-retrieval complement to the
vector-ANN family (ml/similarity): term → postings (doc, sorted
positions), built as plain aggregations, queried as equi-joins.

At 100 TB the index IS the product: the corpus is scanned once to build
postings; every subsequent term/AND/phrase query touches only the
queried terms' posting rows (partition-prunable on the term column when
persisted sorted/bucketed by term).  Posting lists are size-capped with
an explicit ``truncated`` flag — a stopword's postings would otherwise
be corpus-sized (the classic index skew); real engines tier or elide
stopword postings, and the cap makes that decision visible instead of
silent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from processo_etl_spark.ml.dedup import tokens_ws


def tokenize_positions(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, pos, term): 0-based positions over whitespace tokens of the
    normalized text — one narrow explode, no shuffle."""
    return df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(tokens_ws(text_col)).alias("pos", "term"),
    )


def build_postings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_docs_per_term: int = 10_000,
) -> DataFrame:
    """term → (df_count, postings[(doc, positions)], truncated).

    Two combinable groupBys: (term, doc) → sorted position array, then
    term → doc-sorted posting array, sliced at ``max_docs_per_term``
    (deterministic: doc order is total).  Per-task state is one term's
    retained postings — bounded by the cap, not the corpus.
    """
    tp = tokenize_positions(df, id_col, text_col)
    per_doc = tp.groupBy("term", "doc").agg(
        F.sort_array(F.collect_list("pos")).alias("positions")
    )
    return per_doc.groupBy("term").agg(
        F.count(F.lit(1)).alias("df_count"),
        F.slice(
            F.sort_array(
                F.collect_list(F.struct(F.col("doc"), F.col("positions")))
            ),
            1,
            max_docs_per_term,
        ).alias("postings"),
        (F.count(F.lit(1)) > max_docs_per_term).alias("truncated"),
    )


def phrase_query(
    postings: DataFrame, term_a: str, term_b: str
) -> DataFrame:
    """Docs where ``term_a term_b`` occur ADJACENTLY, with occurrence
    counts — the classic positional-index phrase query: explode the two
    terms' postings, equi-join on doc, count positions p of a with p+1
    in b's list.  Only the two queried posting rows are ever read."""
    def side(term: str, suffix: str) -> DataFrame:
        return (
            postings.filter(F.col("term") == term)
            .select(F.explode("postings").alias("p"))
            .select(
                F.col("p.doc").alias("doc"),
                F.col("p.positions").alias(f"pos_{suffix}"),
            )
        )

    a, b = side(term_a, "a"), side(term_b, "b")
    n_phrase = F.size(
        F.filter(
            F.col("pos_a"),
            lambda p: F.array_contains(F.col("pos_b"), p + 1),
        )
    )
    return (
        a.join(b, "doc")
        .select("doc", n_phrase.alias("n_phrase"))
        .filter(F.col("n_phrase") > 0)
    )


def bm25_topk(
    docs: DataFrame,
    postings: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 ranked retrieval (Robertson/Spärck Jones) from the
    positional index: score = Σ_t idf_t · tf·(k1+1)/(tf + k1·(1−b+b·len/avglen))
    with idf_t = ln((N − df_t + 0.5)/(df_t + 0.5) + 1) (the Lucene
    variant, non-negative).

    Scale shape: only the |query| posting rows are read (tf =
    |positions|); doc lengths are one combinable groupBy over the
    corpus (in practice a persisted side table maintained with the
    index); N/avglen enter as two-pass scalars from exact integer sums.
    Scores ROUND to 10 decimals: idf's ``ln`` may differ in the last
    ulp across engines, and 1e-10 is ~5 orders above that noise while
    |score|·10¹⁰ stays far under 2^53 (the ROUND-portability rule).
    Ties (identical tf/len profiles → identical scores) break by doc.
    """
    tp = tokenize_positions(docs, id_col, text_col)
    lengths = tp.groupBy("doc").agg(F.count(F.lit(1)).alias("len"))
    tot = lengths.agg(
        F.count(F.lit(1)).alias("n"), F.sum("len").alias("s")
    ).first()
    n_docs, avglen = tot["n"], tot["s"] / tot["n"]
    q = postings.filter(F.col("term").isin(query_terms)).select(
        "term",
        (
            F.log(
                (F.lit(float(n_docs)) - F.col("df_count") + F.lit(0.5))
                / (F.col("df_count") + F.lit(0.5))
                + F.lit(1.0)
            )
        ).alias("idf"),
        F.explode("postings").alias("p"),
    )
    tf = F.size(F.col("p.positions")).cast("double")
    contrib = q.select(
        F.col("p.doc").alias("doc"),
        (F.col("idf") * tf * F.lit(k1 + 1.0)).alias("num"),
        tf.alias("tf"),
    ).join(lengths, "doc")
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("len").cast("double") / F.lit(avglen)
    )
    scored = contrib.groupBy("doc").agg(
        F.round(F.sum(F.col("num") / denom), 10).alias("score"),
        F.count(F.lit(1)).alias("n_terms_hit"),
    )
    return scored.orderBy(F.desc("score"), "doc").limit(k)


def merge_postings(
    old: DataFrame, delta: DataFrame, max_docs_per_term: int = 10_000
) -> DataFrame:
    """Incremental index maintenance: fold a delta index (built over a
    batch of NEW docs — disjoint doc ids) into the existing one without
    touching the old corpus — union the posting structs per term,
    re-sort, re-cap.  ``merge(build(A), build(B)) == build(A ∪ B)``
    struct-for-struct for disjoint doc sets (tested), so ingest batches
    compose associatively — the same mergeability contract as the HLL /
    CMS / Bloom sketches, which is what makes per-batch index builds
    the 100 TB ingest shape (never re-tokenize the old corpus).

    df_count sums BEFORE the cap (both inputs carry their full count),
    so ``truncated`` stays truthful after merging."""
    both = old.select("term", "df_count", "postings").unionByName(
        delta.select("term", "df_count", "postings")
    )
    return both.groupBy("term").agg(
        F.sum("df_count").alias("df_count"),
        F.slice(
            F.sort_array(F.flatten(F.collect_list("postings"))),
            1,
            max_docs_per_term,
        ).alias("postings"),
        (F.sum("df_count") > max_docs_per_term).alias("truncated"),
    )
