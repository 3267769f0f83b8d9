"""Hybrid retrieval heads: lexical+dense rank fusion and kNN label
voting — the query-time side of the RAG / retrieval pipeline built
from rankers the registry already grades separately (BM25 over the
inverted index, exact cosine top-k).

Extension surface (no reference counterpart — like plans/textlm.py):
the reference's scope ends at relational EDA; a training-data stack
retrieves with BOTH rankers and fuses them (ml/fusion.rrf_fuse), and
classifies by neighbor vote (the standard embedding-quality probe).

Oracle-parity design: both heads emit only exact integers and doubles
from single deterministic IEEE expressions over exact integer ranks /
counts (ROUND 10 where a sum of divisions is involved); ranks
tiebreak by id, votes by label — no order-dependent accumulation.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from processo_etl_spark.ml import fusion, invindex, similarity
from processo_etl_spark.operators.relational import dedup_keep_first
from processo_etl_spark.plans import register
from processo_etl_spark.plans.common import t
from processo_etl_spark.plans.mlops import (
    _COS_SQL,
    _LSH_BITS,
    _LSH_PROBES,
    _MULTIPROBE_ON,
    _NORM,
)

# The lexical ranker's fixed query (the bm25_topk_hash_join_scan terms)
# and the dense ranker's fixed probe (vec_id 0, the doc-aligned id
# space: TESTDATA's documents.doc_id and embeddings.vec_id are the same
# 0..N-1 key, so one fused id space exists by construction).
_TERMS = ("hash", "join", "scan")
_PROBE_ID = 0
_K_CAND = 20  # per-ranker candidate depth feeding the fusion
_K0 = 60  # the RRF paper constant

# BM25 top-_K_CAND with ranks, as SQL (the bm25_topk_hash_join_scan
# oracle generalized to k=20 + an explicit rank column; ranks order by
# the ROUNDED score — same grid both engines — then doc).
_LEX_SQL = f"""
    base AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents),
    tok AS (
      SELECT doc_id, w[i] AS t
      FROM base, UNNEST(generate_series(1, len(w))) AS s(i)),
    lens AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY 1),
    tot AS (SELECT count(*) AS n,
                   CAST(sum(len) AS DOUBLE) / count(*) AS avglen FROM lens),
    tfs AS (SELECT doc_id, t, count(*) AS tf FROM tok
            WHERE t IN {str(tuple(_TERMS))} GROUP BY 1, 2),
    dfs AS (SELECT t, count(*) AS df FROM tfs GROUP BY t),
    lex AS (
      SELECT tfs.doc_id AS doc,
        ROUND(SUM(
          ln((CAST(tot.n AS DOUBLE) - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0)
            * tfs.tf * 2.2
            / (tfs.tf + 1.2 * (0.25 + 0.75 * lens.len / tot.avglen))
        ), 10) AS score
      FROM tfs JOIN dfs USING (t) JOIN lens USING (doc_id) CROSS JOIN tot
      GROUP BY 1 ORDER BY score DESC, doc LIMIT {_K_CAND}),
    lexr AS (
      SELECT doc, CAST(row_number() OVER (ORDER BY score DESC, doc) AS INT)
               AS rank_lex
      FROM lex)
"""

_DENSE_SQL = f"""
    dense AS (
      SELECT c.vec_id AS doc,
             CAST(row_number() OVER (
                ORDER BY {_COS_SQL} DESC, c.vec_id) AS INT) AS rank_dense
      FROM embeddings c JOIN embeddings q ON q.vec_id = {_PROBE_ID}
      WHERE c.vec_id != {_PROBE_ID}
      QUALIFY rank_dense <= {_K_CAND})
"""


@register(
    "retrieval_hybrid_rrf",
    oracle=f"""
    WITH {_LEX_SQL}, {_DENSE_SQL}
    SELECT COALESCE(l.doc, d.doc) AS doc,
           ROUND(COALESCE(CAST(1.0 AS DOUBLE) / ({_K0} + d.rank_dense), 0.0)
               + COALESCE(CAST(1.0 AS DOUBLE) / ({_K0} + l.rank_lex), 0.0),
             10) AS rrf_score,
           d.rank_dense, l.rank_lex
    FROM lexr l FULL OUTER JOIN dense d ON l.doc = d.doc
    ORDER BY rrf_score DESC, doc LIMIT 10
    """,
)
def retrieval_hybrid_rrf(spark, sf_dir):
    """Hybrid top-10: BM25 top-20 for {hash, join, scan} fused with
    exact-cosine top-20 around probe vector 0 by reciprocal-rank
    fusion (ml/fusion.rrf_fuse, k0=60).

    Scale shape: corpus-scale work stays inside the rankers (posting
    reads for BM25, the linear one-probe scan that similarity_topk_
    bruteforce's allow-list entry documents — swap in the IVF/LSH path
    for isotropic corpora); fusion joins two 20-row lists.  The rank
    windows partition by the query (one here), bounded by k — never by
    the corpus.
    """
    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")

    postings = invindex.build_postings(docs, "doc_id", "text")
    lex = invindex.bm25_topk(
        docs, postings, "doc_id", "text", list(_TERMS), k=_K_CAND
    )
    # Rank within the (single) lexical query WITHOUT a window: a
    # literal partition key gets constant-folded by Catalyst into an
    # unpartitioned Window (the plan-audit ban), so instead fold the
    # ≤k-row list into one sorted struct array and posexplode —
    # (-score, doc) ascending ≡ (score desc, doc asc), rank = pos + 1.
    # Bounded by k (the LIMIT upstream already funnels k rows), never
    # by the corpus; multi-query batches group this agg by query id.
    lexr = (
        lex.agg(
            F.sort_array(
                F.collect_list(F.struct((-F.col("score")).alias("ns"), "doc"))
            ).alias("arr")
        )
        .select(F.posexplode("arr").alias("pos", "s"))
        .select(
            F.col("s.doc").alias("doc"),
            (F.col("pos") + F.lit(1)).cast("int").alias("rank"),
        )
    )

    dense = similarity.brute_force_topk(
        emb, emb.filter(F.col("vec_id") == _PROBE_ID), k=_K_CAND
    ).select(F.col("neighbor_id").alias("doc"), "rank")

    fused = fusion.rrf_fuse({"dense": dense, "lex": lexr}, id_col="doc", k0=_K0)
    return (
        fused.select("doc", "rrf_score", "rank_dense", "rank_lex")
        .orderBy(F.desc("rrf_score"), F.asc("doc"))
        .limit(10)
    )


@register(
    "knn_label_vote",
    oracle=f"""
    WITH nb AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY {_COS_SQL} DESC, c.vec_id) AS INT) AS rank
      FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
      WHERE q.vec_id < 8
      QUALIFY rank <= 5),
    votes AS (
      SELECT nb.query_id, e.label, count(*) AS n_votes
      FROM nb JOIN embeddings e ON e.vec_id = nb.neighbor_id
      GROUP BY 1, 2)
    SELECT query_id, CAST(label AS INT) AS pred_label,
           CAST(n_votes AS INT) AS n_votes
    FROM votes
    QUALIFY row_number() OVER (PARTITION BY query_id
            ORDER BY n_votes DESC, label) = 1
    """,
)
def knn_label_vote(spark, sf_dir):
    """kNN classification by majority vote: predict each probe vector's
    label (vec_id < 8, the similarity_topk_bruteforce probe set) from
    its 5 exact-cosine neighbors' labels — ties break to the smallest
    label.  The standard embedding-space quality probe (a kNN accuracy
    sweep is this query grouped by correctness).

    Scale shape: neighbor search is the rankers' problem (here the
    allow-listed linear probe scan); the label attach broadcasts the
    |probes|·k neighbor list against the corpus labels, and the vote is
    a combinable groupBy on (query, label) — bounded by |probes|·k.
    """
    emb = t(spark, sf_dir, "embeddings")
    nb = similarity.brute_force_topk(
        emb, emb.filter(F.col("vec_id") < 8), k=5
    )
    labels = emb.select(F.col("vec_id").alias("neighbor_id"), "label")
    votes = (
        labels.join(F.broadcast(nb), "neighbor_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).cast("int").alias("n_votes"))
    )
    return dedup_keep_first(
        votes, ["query_id"], [F.desc("n_votes"), F.asc("label")]
    ).select("query_id", F.col("label").cast("int").alias("pred_label"), "n_votes")


@register(
    "retrieval_eval_recall",
    oracle=f"""
    WITH gold AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {_COS_SQL} DESC, c.vec_id) AS rank
      FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
      WHERE q.vec_id < 8
      QUALIFY rank <= 5),
    cand AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {_COS_SQL} DESC, c.vec_id) AS rank
      FROM embeddings q
      JOIN embeddings c ON ({_MULTIPROBE_ON}) AND c.vec_id != q.vec_id
      WHERE q.vec_id < 8
      QUALIFY rank <= 5)
    SELECT g.query_id,
           CAST(count(*) AS INT) AS n_gold,
           CAST(count(c.neighbor_id) AS INT) AS n_hit,
           CAST(count(c.neighbor_id) AS DOUBLE) / count(*) AS recall_at_5
    FROM gold g LEFT JOIN cand c USING (query_id, neighbor_id)
    GROUP BY 1
    """,
)
def retrieval_eval_recall(spark, sf_dir):
    """Offline ranker evaluation: per-query recall@5 of the multi-probe
    sign-LSH ranker against the exact brute-force gold set (the
    standard ANN quality harness, run in-engine so the 100 TB eval is
    one job, not a notebook loop).

    Both rankers are the registry's graded ones (similarity_topk_lsh /
    _bruteforce) with identical parameters, so this head has a FULL
    replay oracle — gold ∩ candidates counted by a (query, neighbor)
    equi-join.  recall is one exact small-integer division.

    Scale shape: gold is |probes|·k rows, candidates likewise; the hit
    join is slim-on-slim.  At a real 100 TB eval the brute-force gold
    runs once over a sampled probe set (the accepted methodology —
    exact search over all queries is the thing ANN avoids) and this
    query's shape is unchanged.
    """
    emb = t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 8)
    gold = similarity.brute_force_topk(emb, probes, k=5).select(
        "query_id", "neighbor_id"
    )
    cand = (
        similarity.lsh_topk(emb, probes, k=5, bits=_LSH_BITS, probes=_LSH_PROBES)
        .select("query_id", "neighbor_id")
        .withColumn("h", F.lit(1))
    )
    per_q = (
        gold.join(cand, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_gold"),
            F.sum(F.coalesce("h", F.lit(0))).cast("int").alias("n_hit"),
        )
    )
    return per_q.select(
        "query_id",
        "n_gold",
        "n_hit",
        (F.col("n_hit").cast("double") / F.col("n_gold")).alias("recall_at_5"),
    )


def _word_sql(alias: str, j: int, word_bits: int = 32) -> str:
    """SQL twin of ml/similarity.sign_pack_words word ``j``."""
    terms = " + ".join(
        f"CASE WHEN {alias}.embedding[{j * word_bits + i + 1}] > 0"
        f" THEN {1 << i} ELSE 0 END"
        for i in range(word_bits)
    )
    return f"CAST(({terms}) AS BIGINT)"


_HAM_SQL = (
    "bit_count(xor(q.w0, c.w0)) + bit_count(xor(q.w1, c.w1))"
)


@register(
    "similarity_topk_binary",
    oracle=f"""
    WITH codes AS (
      SELECT vec_id, embedding,
             {_word_sql('embeddings', 0)} AS w0,
             {_word_sql('embeddings', 1)} AS w1
      FROM embeddings)
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CAST({_HAM_SQL} AS INT) AS hamming,
           ROUND({_COS_SQL}, 6) AS cos,
           CAST(row_number() OVER (PARTITION BY q.vec_id
                ORDER BY {_HAM_SQL}, c.vec_id) AS INT) AS rank
    FROM codes q JOIN codes c ON c.vec_id != q.vec_id
    WHERE q.vec_id < 8
    QUALIFY rank <= 5
    """,
)
def similarity_topk_binary(spark, sf_dir):
    """Top-5 under HAMMING distance over the 1-bit (sign) quantization
    — ml/similarity.hamming_topk: each 64-dim vector packs into two
    32-bit words (32× smaller corpus state than float64, 8× below the
    graded int8 tier), distance is two XOR+popcount ops, and the
    ranking is ALL-INTEGER (hamming asc, id asc) — no float-order
    gamble anywhere in the selection.  The exact cosine rides along as
    a ROUND(·, 6) diagnostic (raw-double-fold guard).  Scale shape:
    broadcast query words against one narrow corpus scan (the
    brute-force probe shape); the sub-linear tier bands the words into
    16-bit chunks and equi-joins collisions — the pigeonhole recipe
    the banded SimHash/pHash dedups already grade."""
    emb = t(spark, sf_dir, "embeddings")
    out = similarity.hamming_topk(
        emb, emb.filter(F.col("vec_id") < 8), k=5, dim=64
    )
    return out.withColumn("cos", F.round("cos", 6))


_COS16_SQL = """
  list_reduce(list_transform(list_zip(c.e16, q.e16),
      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a,x) -> a + x)
  / ( sqrt(list_reduce(list_transform(c.e16, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a,x) -> a + x))
    * sqrt(list_reduce(list_transform(q.e16, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a,x) -> a + x)) )
"""


@register(
    "retrieval_matryoshka_recall",
    oracle=f"""
    WITH s AS (
      SELECT vec_id, embedding, embedding[1:16] AS e16 FROM embeddings),
    gold AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {_COS_SQL} DESC, c.vec_id) AS rank
      FROM s q JOIN s c ON c.vec_id != q.vec_id
      WHERE q.vec_id < 8
      QUALIFY rank <= 5),
    cand AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {_COS16_SQL} DESC, c.vec_id) AS rank
      FROM s q JOIN s c ON c.vec_id != q.vec_id
      WHERE q.vec_id < 8
      QUALIFY rank <= 5)
    SELECT g.query_id,
           CAST(count(*) AS INT) AS n_gold,
           CAST(count(c.neighbor_id) AS INT) AS n_hit,
           ROUND(CAST(count(c.neighbor_id) AS DOUBLE) / count(*), 6)
             AS recall_at_5
    FROM gold g LEFT JOIN cand c USING (query_id, neighbor_id)
    GROUP BY 1
    """,
)
def retrieval_matryoshka_recall(spark, sf_dir):
    """Matryoshka-dimension eval (Kusupati et al. 2022): recall@5 of
    retrieval over the FIRST 16 dims against the full-64-dim gold set
    — the measurement that decides whether a 4×-cheaper prefix index
    is good enough (MRL-trained embeddings front-load information, so
    prefix truncation is the standard serving trade).  Both rankers
    are the registry's exact brute-force probe (8 fixed queries,
    linear scan); the hit count is a slim (query, neighbor) equi-join
    and recall is one exact small-integer division, ROUND(·, 6) per
    the raw-double-fold guard.  At 100 TB the prefix index IS the
    4×-smaller scan; this eval's shape (sampled probes × two rankers)
    is unchanged."""
    emb = t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 8)
    emb16 = emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    gold = similarity.brute_force_topk(emb, probes, k=5).select(
        "query_id", "neighbor_id"
    )
    cand = (
        similarity.brute_force_topk(
            emb16, emb16.filter(F.col("vec_id") < 8), k=5
        )
        .select("query_id", "neighbor_id")
        .withColumn("h", F.lit(1))
    )
    per_q = (
        gold.join(cand, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_gold"),
            F.sum(F.coalesce("h", F.lit(0))).cast("int").alias("n_hit"),
        )
    )
    return per_q.select(
        "query_id",
        "n_gold",
        "n_hit",
        F.round(F.col("n_hit").cast("double") / F.col("n_gold"), 6).alias(
            "recall_at_5"
        ),
    )


@register(
    "retrieval_eval_mrr",
    oracle=f"""
    WITH gold AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
      WHERE q.vec_id < 8
      QUALIFY row_number() OVER (PARTITION BY q.vec_id
          ORDER BY {_COS_SQL} DESC, c.vec_id) = 1),
    cand AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {_COS_SQL} DESC, c.vec_id) AS INT) AS rank
      FROM embeddings q
      JOIN embeddings c ON ({_MULTIPROBE_ON}) AND c.vec_id != q.vec_id
      WHERE q.vec_id < 8
      QUALIFY rank <= 10)
    SELECT g.query_id, g.neighbor_id AS gold_id, c.rank AS hit_rank,
           COALESCE(1.0 / CAST(c.rank AS DOUBLE), 0.0) AS reciprocal_rank
    FROM gold g LEFT JOIN cand c USING (query_id, neighbor_id)
    """,
)
def retrieval_eval_mrr(spark, sf_dir):
    """Mean-reciprocal-rank eval of the multi-probe sign-LSH ranker:
    per probe query, the rank at which the EXACT top-1 neighbor (the
    gold item) surfaces in the LSH top-10 — reciprocal_rank 1/rank,
    0.0 when missed (the MRR convention; the mean over queries is one
    trivial aggregation away, left per-query so the hash grades every
    row).  Completes the offline-ranker-eval pair next to
    retrieval_eval_recall.  reciprocal_rank is a single division of
    exact small integers — raw-portable; the cosine folds rank only
    (the recall head's allow-list precedent).  Scale shape: gold is
    |probes| rows, candidates |probes|·10 — slim-on-slim equi-join; at
    100 TB the probe set is sampled, shape unchanged."""
    emb = t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 8)
    gold = (
        similarity.brute_force_topk(emb, probes, k=1)
        .select("query_id", F.col("neighbor_id").alias("gold_id"))
    )
    cand = similarity.lsh_topk(
        emb, probes, k=10, bits=_LSH_BITS, probes=_LSH_PROBES
    ).select("query_id", F.col("neighbor_id").alias("gold_id"), "rank")
    out = gold.join(cand, ["query_id", "gold_id"], "left")
    return out.select(
        "query_id",
        "gold_id",
        F.col("rank").alias("hit_rank"),
        F.coalesce(
            F.lit(1.0) / F.col("rank").cast("double"), F.lit(0.0)
        ).alias("reciprocal_rank"),
    )
