"""Statistical-LM corpus analytics: Kneser-Ney continuation counts,
log-free collocation detection, and source-concentration (Gini) — the
n-gram-model side of the training-data pipeline (reference scope: the
text-analysis family extends dag.py's quality checks to LM statistics;
no reference counterpart — extension surface like ml/textstats.py).

All three queries derive from the tokenize-once ``plans/common.corpus``
relation, so they share the normalize→split pass with
the curation heads instead of re-scanning raw text.

Oracle-parity design: every emitted double is a single IEEE expression
over EXACT integer counts with identical bracketing on both engines —
no transcendentals, no order-dependent float accumulation — so the
driver's value hash matches bit-for-bit (the module-wide convention;
see plans/common.dec's docstring).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from processo_etl_spark.plans import register
from processo_etl_spark.plans.common import corpus, t
from processo_etl_spark.plans.mlops import _CLUSTER_CTES, _NORM, _lsh_pairs
from processo_etl_spark.session import persist_once

# Distinct bigram relation over normalized whitespace tokens.  DuckDB
# lists are 1-based, Spark arrays 0-based: tk[i]/tk[i+1] at i=1..len-1
# pairs exactly with toks[i-1]/toks[i] over sequence(1, size-1).
_BG_SQL = f"""
  WITH toks AS (
    SELECT doc_id, string_split({_NORM}, ' ') AS tk FROM documents
  ),
  bg_all AS (
    SELECT tk[i] AS w1, tk[i + 1] AS w2
    FROM toks, unnest(generate_series(1, greatest(len(tk) - 1, 0))) AS g(i)
    WHERE tk[i] <> '' AND tk[i + 1] <> ''
  )
"""


def _bigrams(spark, sf_dir):
    """(w1, w2) bigram rows (with multiplicity) from the shared corpus.

    The pair structs are built token-local with one ``transform`` over
    the persisted ``toks`` array — no positional self-join: a
    posexplode + (doc, pos)=(doc, pos+1) equi-join would shuffle the
    token table twice on a composite key, while this is a zero-shuffle
    per-row expansion (the ExactSubstr gram generator's shape).
    ``size >= 2`` guards Spark's descending ``sequence(1, 0)`` on
    empty/one-token docs.
    """
    return (
        corpus(spark, sf_dir)
        .filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(toks[i - 1] AS w1, toks[i] AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )


@register(
    "ngram_continuation_counts",
    oracle=_BG_SQL
    + """,
  bg AS (SELECT DISTINCT w1, w2 FROM bg_all),
  tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM bg),
  cont AS (SELECT w2 AS word, count(*) AS continuation_count
           FROM bg GROUP BY w2),
  ctx AS (SELECT w1 AS word, count(*) AS context_count
          FROM bg GROUP BY w1)
  SELECT word,
         CAST(continuation_count AS BIGINT) AS continuation_count,
         CAST(COALESCE(ctx.context_count, 0) AS BIGINT) AS context_count,
         CAST(continuation_count AS DOUBLE) / CAST(tt.t AS DOUBLE)
           AS continuation_prob
  FROM cont LEFT JOIN ctx USING (word), tt
  ORDER BY continuation_count DESC, word ASC LIMIT 100
""",
)
def ngram_continuation_counts(spark, sf_dir):
    """Kneser-Ney continuation statistics (Kneser & Ney, ICASSP'95): for
    each word, the number of DISTINCT left contexts it follows
    (continuation count — the KN lower-order numerator) and of distinct
    right contexts it precedes, plus the continuation probability
    cont(w)/|distinct bigrams|.  The "how many contexts, not how many
    times" statistic is what separates KN from raw-frequency smoothing
    — a corpus-level relation any n-gram LM build materializes.

    Scale shape: bigram expansion is a zero-shuffle per-row transform;
    the DISTINCT is one shuffle on (w1, w2); the two directional counts
    are combinable groupBys of the already-distinct pair relation; the
    global bigram total re-attaches as a broadcast one-row scalar
    (documented crossJoin allow-list shape).  Top-100 with a full
    (count, word) tie-break runs as TakeOrderedAndProject — no global
    sort shuffle.  continuation_prob is one double division of exact
    ints — bit-identical on both engines.
    """
    bg = _bigrams(spark, sf_dir).distinct()
    total = bg.agg(F.count(F.lit(1)).alias("t"))
    cont = bg.groupBy(F.col("w2").alias("word")).agg(
        F.count(F.lit(1)).alias("continuation_count")
    )
    ctx = bg.groupBy(F.col("w1").alias("word")).agg(
        F.count(F.lit(1)).alias("context_count")
    )
    return (
        cont.join(ctx, "word", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "word",
            "continuation_count",
            F.coalesce("context_count", F.lit(0)).alias("context_count"),
            (
                F.col("continuation_count").cast("double")
                / F.col("t").cast("double")
            ).alias("continuation_prob"),
        )
        .orderBy(F.desc("continuation_count"), F.asc("word"))
        .limit(100)
    )


@register(
    "collocations_lift_topk",
    oracle=_BG_SQL
    + f""",
  nab AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_ab
          FROM bg_all GROUP BY w1, w2),
  uni AS (
    SELECT tok, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT unnest(string_split({_NORM}, ' ')) AS tok FROM documents)
    WHERE tok <> '' GROUP BY tok
  ),
  tot AS (SELECT CAST(sum(n) AS BIGINT) AS t_uni FROM uni),
  tbg AS (SELECT CAST(sum(n_ab) AS BIGINT) AS t_bg FROM nab)
  SELECT w1, w2, n_ab,
         ((CAST(n_ab AS DOUBLE) * CAST(t_uni AS DOUBLE))
            / CAST(a.n AS DOUBLE))
           * (CAST(t_uni AS DOUBLE) / CAST(b.n AS DOUBLE))
           / CAST(t_bg AS DOUBLE) AS lift
  FROM nab JOIN uni a ON nab.w1 = a.tok
           JOIN uni b ON nab.w2 = b.tok, tot, tbg
  WHERE n_ab >= 5
  ORDER BY lift DESC, w1 ASC, w2 ASC LIMIT 100
""",
)
def collocations_lift_topk(spark, sf_dir):
    """Collocation detection by lift (observed/expected bigram rate):
    lift(a,b) = (n_ab/T_bg) / ((n_a/T_uni)·(n_b/T_uni)), the log-free
    core of PMI ranking (PMI = log2 lift — monotone, so the top-K set
    is identical while staying transcendental-free for bit parity, the
    ccnet_perplexity_buckets precedent).  High-lift pairs are the
    multi-word expressions a tokenizer/vocab build promotes to single
    units; ``n_ab >= 5`` is the standard sparse-pair guard (Church &
    Hanks, CL'90).

    Scale shape: one combinable groupBy per relation (bigrams,
    unigrams); the two totals attach as broadcast one-row scalars; the
    unigram relation joins in twice by equi-key (vocabulary-sized —
    broadcastable in practice, and never larger than the pair table it
    joins).  The lift expression brackets identically on both engines
    over exact-int operands (every count < 2^53 exactly representable),
    so ranking and hash agree bit-for-bit.  Top-100 with full
    tie-break = TakeOrderedAndProject.
    """
    # Both count relations PERSIST: ``nab`` feeds the pair join
    # AND the t_bg total, ``uni`` is referenced three times (t_uni, the
    # two per-side joins) — un-persisted, the bigram expansion and the
    # unigram groupBy re-executed per reference.
    nab = (
        _bigrams(spark, sf_dir)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .transform(persist_once)
    )
    uni = (
        corpus(spark, sf_dir)
        .select(F.explode("toks").alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(persist_once)
    )
    t_uni = uni.agg(F.sum("n").alias("t_uni"))
    t_bg = nab.agg(F.sum("n_ab").alias("t_bg"))
    na = uni.select(F.col("tok").alias("w1"), F.col("n").alias("n_a"))
    nb = uni.select(F.col("tok").alias("w2"), F.col("n").alias("n_b"))
    return (
        nab.filter(F.col("n_ab") >= 5)
        .join(na, "w1")
        .join(nb, "w2")
        .crossJoin(F.broadcast(t_uni))
        .crossJoin(F.broadcast(t_bg))
        .select(
            "w1",
            "w2",
            "n_ab",
            (
                (
                    F.col("n_ab").cast("double")
                    * F.col("t_uni").cast("double")
                    / F.col("n_a").cast("double")
                )
                * (
                    F.col("t_uni").cast("double")
                    / F.col("n_b").cast("double")
                )
                / F.col("t_bg").cast("double")
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("w1"), F.asc("w2"))
        .limit(100)
    )


@register(
    "dedup_cluster_size_histogram",
    oracle=f"""
    WITH RECURSIVE {_CLUSTER_CTES},
    sizes AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
              FROM cl GROUP BY cluster)
    SELECT cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * count(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY cluster_size ORDER BY cluster_size
    """,
)
def dedup_cluster_size_histogram(spark, sf_dir):
    """Near-dup cluster-size distribution: how many duplicate clusters
    of each size the corpus contains and how many documents they absorb
    — the diagnostic that distinguishes a corpus with many pairwise
    dups (size-2 heavy) from one with a few mega-clusters (mirror
    dumps), which need different keep-one strategies and predict the
    dedup survival rate before running the excision.

    Composition: the same MinHash-LSH pair generator + Large-Star/
    Small-Star connected components as ``dedup_clusters`` (banded
    candidates, two groupBys per round — never all-pairs), then two
    slim groupBys over the cluster-sized (doc, cluster) relation.  The
    oracle replays the closure as a recursive CTE — exact at gate
    scale — and aggregates the same histogram; all outputs are exact
    integers.
    """
    from processo_etl_spark.ml import dedup as mldedup

    cc = mldedup.connected_components(_lsh_pairs(t(spark, sf_dir, "documents")))
    sizes = cc.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


@register(
    "cross_source_duplication",
    oracle=f"""
  WITH rel AS (
    SELECT DISTINCT source, md5({_NORM}) AS fp FROM documents
  ),
  cnt AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n FROM rel GROUP BY source
  )
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(count(*) AS BIGINT) AS shared_fingerprints,
         ca.n AS fp_a, cb.n AS fp_b,
         CAST(count(*) AS DOUBLE)
           / CAST(ca.n + cb.n - count(*) AS DOUBLE) AS jaccard
  FROM rel a
  JOIN rel b ON a.fp = b.fp AND a.source <= b.source
  JOIN cnt ca ON ca.source = a.source
  JOIN cnt cb ON cb.source = b.source
  GROUP BY a.source, b.source, ca.n, cb.n
  ORDER BY src_a, src_b
""",
)
def cross_source_duplication(spark, sf_dir):
    """Cross-source duplication matrix: for every source pair (upper
    triangle incl. the diagonal), how many distinct content
    fingerprints they share, plus the fingerprint-set Jaccard — the
    curation diagnostic that tells you WHERE the duplication in a
    multi-source corpus comes from (mirror sites, cross-posted content)
    before deciding which source to keep, complementing the
    corpus-wide ``dedup_exact`` rate with pairwise provenance.

    Scale shape: the joined relation is the slim DISTINCT (source,
    fingerprint) projection — one shuffle to build; the fingerprint
    self-join fans out only within a fingerprint's source set (bounded
    by |sources|, a dimension), never doc×doc; per-source totals join
    back broadcast-sized.  Jaccard = shared/(n_a + n_b − shared) is one
    double division of exact ints — bit-identical on both engines.
    Fingerprints reuse ``ml/dedup.fingerprint`` (md5 of normalized
    text), the exact-dedup convention, replayed verbatim by DuckDB's
    ``md5``.
    """
    from processo_etl_spark.ml.dedup import fingerprint

    docs = corpus(spark, sf_dir)
    rel = docs.select("source", fingerprint("text").alias("fp")).distinct()
    cnt = rel.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = rel.select(F.col("source").alias("src_a"), "fp")
    b = rel.select(F.col("source").alias("src_b"), "fp")
    ca = cnt.select(F.col("source").alias("src_a"), F.col("n").alias("fp_a"))
    cb = cnt.select(F.col("source").alias("src_b"), F.col("n").alias("fp_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("src_a") <= F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("shared_fingerprints"))
        .join(F.broadcast(ca), "src_a")
        .join(F.broadcast(cb), "src_b")
        .select(
            "src_a",
            "src_b",
            "shared_fingerprints",
            "fp_a",
            "fp_b",
            (
                F.col("shared_fingerprints").cast("double")
                / (
                    F.col("fp_a") + F.col("fp_b")
                    - F.col("shared_fingerprints")
                ).cast("double")
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


def _grams_sql(n: int) -> str:
    """DuckDB n-gram list over the normalized tokens (1-based)."""
    parts = ", ".join(f"tk[i + {j}]" for j in range(n))
    return (
        f"list_transform(generate_series(1, len(tk) - {n - 1}),"
        f" i -> concat_ws(' ', {parts}))"
    )


@register(
    "ngram_diversity_by_source",
    oracle=f"""
  WITH toks AS (
    SELECT source, string_split({_NORM}, ' ') AS tk
    FROM documents WHERE trim(text) <> ''
  ),
  grams AS (
    {" UNION ALL ".join(
        f'''SELECT source, {n} AS n, g
    FROM (SELECT source, unnest({_grams_sql(n)}) AS g
          FROM toks WHERE len(tk) >= {n})'''
        for n in (1, 2, 3)
    )}
  )
  SELECT source, CAST(n AS INTEGER) AS n,
         CAST(count(*) AS BIGINT) AS total_ngrams,
         CAST(count(DISTINCT g) AS BIGINT) AS distinct_ngrams,
         CAST(count(DISTINCT g) AS DOUBLE) / CAST(count(*) AS DOUBLE)
           AS diversity
  FROM grams GROUP BY source, n
  ORDER BY source, n
""",
)
def ngram_diversity_by_source(spark, sf_dir):
    """N-gram diversity per source for n = 1..3: distinct/total n-gram
    ratio — the corpus-level distinct-n-gram statistic behind Self-BLEU
    / distinct-N diversity reporting (Li et al., NAACL'16).  A source
    whose diversity collapses at higher n is template/boilerplate text
    even when its unigram vocabulary looks healthy — the corpus-level
    complement of the per-document ``text_repetition_ratios`` flags.

    Scale shape: gram construction is a zero-shuffle per-row transform
    over the shared corpus ``toks``; the only shuffle is the
    (source, n, gram)-keyed distinct-count expand — combinable, never
    all-pairs.  ``trim(text) <> ''`` excludes the one array shape
    (['']) the whitespace tokenizer gives empty docs; collapsed
    whitespace means no interior empty tokens exist.  diversity is one
    double division of exact ints — bit-identical on both engines.
    """
    base = corpus(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    grams = None
    for n in (1, 2, 3):
        parts = ", ".join(f"toks[i + {j}]" for j in range(n))
        g = (
            base.filter(F.size("toks") >= n)
            .select(
                "source",
                F.lit(n).alias("n"),
                F.explode(
                    F.expr(
                        f"transform(sequence(0, size(toks) - {n}),"
                        f" i -> concat_ws(' ', {parts}))"
                    )
                ).alias("g"),
            )
        )
        grams = g if grams is None else grams.unionAll(g)
    return (
        grams.groupBy("source", "n")
        .agg(
            F.count(F.lit(1)).alias("total_ngrams"),
            F.countDistinct("g").alias("distinct_ngrams"),
        )
        .select(
            "source",
            "n",
            "total_ngrams",
            "distinct_ngrams",
            (
                F.col("distinct_ngrams").cast("double")
                / F.col("total_ngrams").cast("double")
            ).alias("diversity"),
        )
        .orderBy("source", "n")
    )


@register(
    "heaps_vocab_growth",
    oracle=f"""
  WITH toks AS (
    SELECT doc_id,
           list_filter(string_split({_NORM}, ' '), t -> t <> '') AS tk
    FROM documents
  ),
  docs AS (
    SELECT doc_id, len(tk) AS ntoks,
           row_number() OVER (ORDER BY doc_id) AS rn
    FROM toks
  ),
  nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM docs),
  deciles AS (
    SELECT CAST(g.k AS INTEGER) AS decile,
           (g.k * nn.n + 9) // 10 AS target_rank
    FROM generate_series(1, 10) AS g(k), nn
  ),
  bounds AS (
    SELECT decile, CAST(target_rank AS BIGINT) AS docs_seen,
           d.doc_id AS boundary
    FROM deciles JOIN docs d ON d.rn = deciles.target_rank
  ),
  tok_first AS (
    SELECT tok, min(doc_id) AS first_doc
    FROM (SELECT doc_id, unnest(tk) AS tok FROM toks)
    GROUP BY tok
  ),
  vocab AS (
    SELECT decile, CAST(count(*) AS BIGINT) AS vocab_size
    FROM tok_first, bounds WHERE first_doc <= boundary GROUP BY decile
  ),
  seen AS (
    SELECT decile, CAST(sum(ntoks) AS BIGINT) AS tokens_seen
    FROM docs, bounds WHERE docs.rn <= bounds.docs_seen GROUP BY decile
  )
  SELECT b.decile, b.docs_seen, seen.tokens_seen, vocab.vocab_size,
         CAST(vocab.vocab_size AS DOUBLE) / CAST(seen.tokens_seen AS DOUBLE)
           AS type_token_ratio
  FROM bounds b JOIN vocab USING (decile) JOIN seen USING (decile)
  ORDER BY b.decile
""",
)
def heaps_vocab_growth(spark, sf_dir):
    """Heaps'-law vocabulary growth curve: distinct-type count after each
    decile of the corpus (ingestion order = doc_id), the empirical
    V(n) ~ K·n^β relation a tokenizer/vocab budget is sized against —
    answers "how much NEW vocabulary does the next 10% of data buy" at
    100 TB without ever re-scanning earlier data (a token's first
    occurrence is append-monotone, like the first-seen-day table of
    ``new_vs_returning_daily``).

    Exact-arithmetic design: checkpoints are the doc_ids at ranks
    ceil(k·N/10) computed with integer math ((k·N + 9) div 10); a
    token's curve position is its min(doc_id) (one combinable groupBy);
    each decile's vocab/token totals come from a 10-row broadcast
    boundary table nested-loop-joined under the vocabulary-sized
    first-occurrence relation — linear scan × 10, never quadratic (the
    documented scalar-attach shape, build side 10 rows).  The global
    rank is ``operators/ranking.distributed_rank`` (range partition +
    prefix offsets — no single-partition window).  type_token_ratio is
    one double division of exact ints — bit-identical on both engines.
    """
    from processo_etl_spark.operators.ranking import distributed_rank

    c = corpus(spark, sf_dir)
    docs = c.select(
        "doc_id",
        F.expr("size(filter(toks, t -> t != ''))").alias("ntoks"),
    )
    # Both multi-referenced relations PERSIST: ``ranked`` feeds the
    # boundary lookup AND the tokens-seen branch, ``bounds`` feeds vocab,
    # seen, and the final projection — un-persisted, each reference
    # re-executed the range-partition window (three extra sorts at
    # sf0.1; the executed plan held three copies of the rank subtree).
    # Cache cost is docs-sized / 10 rows; the cache manager shares them
    # across the session like the corpus relation itself.
    ranked = distributed_rank(docs, ["doc_id"], "rn").transform(persist_once)
    n_df = docs.agg(F.count(F.lit(1)).alias("n"))
    deciles = n_df.select(
        F.explode(F.sequence(F.lit(1), F.lit(10))).alias("decile"), "n"
    ).select(
        "decile",
        F.expr("(decile * n + 9) div 10").alias("target_rank"),
    )
    bounds = (
        F.broadcast(deciles)
        .join(ranked, F.col("target_rank") == F.col("rn"))
        .select(
            "decile",
            F.col("target_rank").alias("docs_seen"),
            F.col("doc_id").alias("boundary"),
        )
        .transform(persist_once)
    )
    tok_first = (
        c.select("doc_id", F.explode("toks").alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    vocab = (
        tok_first.join(
            F.broadcast(bounds), F.col("first_doc") <= F.col("boundary")
        )
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("vocab_size"))
    )
    seen = (
        ranked.join(
            F.broadcast(bounds), F.col("rn") <= F.col("docs_seen")
        )
        .groupBy("decile")
        .agg(F.sum("ntoks").alias("tokens_seen"))
    )
    return (
        bounds.select("decile", "docs_seen")
        .join(vocab, "decile")
        .join(seen, "decile")
        .select(
            "decile",
            "docs_seen",
            "tokens_seen",
            "vocab_size",
            (
                F.col("vocab_size").cast("double")
                / F.col("tokens_seen").cast("double")
            ).alias("type_token_ratio"),
        )
        .orderBy("decile")
    )


@register(
    "tokens_gini_by_source",
    oracle=f"""
  WITH per_src AS (
    SELECT source, CAST(sum(len(string_split({_NORM}, ' '))) AS BIGINT)
             AS tok_count
    FROM documents GROUP BY source
  ),
  ranked AS (
    SELECT tok_count,
           row_number() OVER (ORDER BY tok_count, source) AS i
    FROM per_src
  ),
  nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(tok_count) AS BIGINT) AS total
         FROM per_src)
  SELECT nn.n AS n_sources, nn.total AS total_tokens,
         CAST(sum((2 * i - nn.n - 1) * tok_count) AS DOUBLE)
           / CAST(nn.n * nn.total AS DOUBLE) AS gini
  FROM ranked, nn GROUP BY nn.n, nn.total
""",
)
def tokens_gini_by_source(spark, sf_dir):
    """Gini coefficient of token mass across sources — the
    corpus-balance scalar a mixture designer watches (0 = every source
    contributes equally, →1 = one source dominates); complements the
    per-source quotas of ``quality_budget_per_source`` / UniMax with a
    single concentration metric.

    Gini over sorted counts x_1 ≤ … ≤ x_n:
    Σ_i (2i − n − 1)·x_i / (n·Σx) — integer arithmetic end-to-end with
    ONE double division, so both engines agree bit-for-bit (equal
    counts make the index assignment ambiguous, but the coefficient sum
    over a tie group is assignment-invariant).  The per-source rollup
    is one combinable groupBy; the n-row fold runs as a value-sorted
    ``aggregate`` over a collected array (n = |sources|,
    dimension-sized — the module's scalar-fold convention, NOT an
    unpartitioned window; the oracle's row_number is the same rank
    statistic expressed relationally).
    """
    per_src = (
        corpus(spark, sf_dir)
        .groupBy("source")
        .agg(F.sum(F.size("toks")).alias("tok_count"))
    )
    return per_src.agg(
        F.array_sort(F.collect_list("tok_count")).alias("vals")
    ).select(
        F.size("vals").cast("long").alias("n_sources"),
        F.aggregate(
            "vals", F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("total_tokens"),
        (
            F.aggregate(
                F.expr(
                    "transform(vals,"
                    " (x, j) -> (2 * CAST(j + 1 AS BIGINT)"
                    " - size(vals) - 1) * x)"
                ),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            ).cast("double")
            / (
                F.size("vals").cast("long")
                * F.aggregate(
                    "vals", F.lit(0).cast("long"), lambda a, x: a + x
                )
            ).cast("double")
        ).alias("gini"),
    )


# --- sequence packing: documents -> fixed-length training sequences -------
@register(
    "pack_sequences_concat_stats",
    oracle=f"""
    WITH per AS (
      SELECT doc_id,
             CAST(len(string_split({_NORM}, ' ')) AS BIGINT) AS n
      FROM documents),
    cum AS (
      SELECT n, sum(n) OVER (ORDER BY doc_id) AS c FROM per)
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS total_tokens,
           CAST((sum(n) + 63) // 64 AS BIGINT) AS n_sequences,
           CAST(count(*) FILTER (n > 0 AND (c - 1) // 64 > (c - n) // 64)
                AS BIGINT) AS n_docs_split,
           CAST(((sum(n) + 63) // 64) * 64 - sum(n) AS BIGINT)
             AS tail_padding
    FROM cum
    """,
)
def pack_sequences_concat_stats(spark, sf_dir):
    """GPT-style concat-and-split packing audit — ml/packing.
    concat_split_stats: concatenate the corpus in doc_id order, cut
    every 64 tokens (a toy context window scaled to the fixture's short
    documents; production windows of 2048–8192 change the constant, not
    the shape), and report the fragmentation metrics a pre-training
    pipeline tracks: how many documents cross a sequence boundary
    (n_docs_split — they need EOD attention masking) and the tail
    padding (this mode's only waste).  The cut points are pure integer
    functions of the exact global cumulative token sum, which runs as
    operators/ranking.distributed_cumsum (range partition +
    per-partition offset broadcast — no single-partition window); every
    output is an exact integer, immune to the fold-portability class by
    construction.  Only (doc_id, n_tokens) metadata flows — the
    tokenized text never enters the shuffle."""
    from processo_etl_spark.ml import packing

    c = corpus(spark, sf_dir)
    return packing.concat_split_stats(
        c, "doc_id", F.size("toks"), window=64
    )


@register(
    "pack_sequences_length_bucketed",
    oracle=f"""
    WITH per AS (
      SELECT CAST(len(string_split({_NORM}, ' ')) AS BIGINT) AS len_class
      FROM documents),
    cls AS (
      SELECT len_class, CAST(count(*) AS BIGINT) AS n_docs
      FROM per WHERE len_class > 0 GROUP BY len_class),
    d AS (
      SELECT len_class, n_docs,
             CASE WHEN len_class > 64 THEN 1
                  ELSE 64 // len_class END AS docs_per_pack,
             len_class > 64 AS truncated
      FROM cls)
    SELECT len_class, n_docs, CAST(docs_per_pack AS BIGINT) AS docs_per_pack,
           CAST((n_docs + docs_per_pack - 1) // docs_per_pack AS BIGINT)
             AS n_packs,
           CAST(CASE WHEN truncated THEN 1000
                     ELSE (docs_per_pack * len_class * 1000) // 64 END
                AS BIGINT) AS fill_permille,
           truncated
    FROM d
    """,
)
def pack_sequences_length_bucketed(spark, sf_dir):
    """Length-bucketed no-split packing — ml/packing.
    length_bucketed_packing: group documents by exact token length ℓ, a
    64-token sequence holds exactly ⌊64/ℓ⌋ docs of class ℓ (docs longer
    than the window form the truncated class), and the per-class
    utilization is the exact integer (⌊W/ℓ⌋·ℓ·1000) div W.  The
    deterministic, fully distributed alternative to first-fit packing
    (FFD's greedy scan is sequential): ONE map-side-combinable groupBy
    whose group table is bounded by the distinct-length domain, no
    window function at all, all-integer outputs."""
    from processo_etl_spark.ml import packing

    c = corpus(spark, sf_dir)
    return packing.length_bucketed_packing(c, F.size("toks"), window=64)
