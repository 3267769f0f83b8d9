"""Similarity search over an embedding column (``array<float>``).

Baseline: brute-force cosine top-k — broadcast the (small) query set,
one narrow pass over the corpus, per-query top-k via window.  Scale
path: sign-LSH bucketing prunes the candidate set ~2^bits before the
exact re-rank, keeping the crossjoin off the 100 TB corpus.

All math is double-precision native expressions (``zip_with`` +
``aggregate``) — bit-identical across engines, no UDF, no BLAS needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from processo_etl_spark.columns import internal
from processo_etl_spark.operators.relational import dedup_keep_first


def dot(a: Column, b: Column) -> Column:
    """Σ a[i]·b[i] in double precision, left-to-right (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _topk_per_query(
    scored: DataFrame, score_col: str, k: int, ascending: bool = False
) -> DataFrame:
    """``scored`` with a per-query ``rank`` column (by ``score_col``,
    then ``neighbor_id`` ascending), keeping ranks ≤ k.  The window is
    partitioned by ``query_id``: bounded state per query, never a
    global sort."""
    score = F.asc(score_col) if ascending else F.desc(score_col)
    w = Window.partitionBy("query_id").orderBy(score, F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    queries (small) are broadcast against the corpus — the corpus scans
    once, narrow; the only shuffle is the per-query top-k window over
    |queries|·|corpus| candidate rows.  Self-matches excluded.
    Returns (query_id, neighbor_id, cos) — ties broken by neighbor_id.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", cosine(F.col("cv"), F.col("qv")))
    )
    return _topk_per_query(scored, "cos", k).select(
        "query_id", "neighbor_id", "cos", "rank"
    )


def sign_bucket(vec: Column, bits: int = 8) -> Column:
    """LSH bucket id: sign bits of the first ``bits`` dimensions.

    Deterministic, engine-portable (no random hyperplanes to ship).
    Works when leading dimensions carry signal (PCA-style embeddings);
    swap in seeded-hyperplane projections for isotropic spaces.
    """
    b = F.lit(0).cast("long")
    for i in range(bits):
        b = b + F.when(F.element_at(vec, i + 1) > 0, F.lit(1 << i)).otherwise(0)
    return b


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bits: int = 6,
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ threshold, LSH-blocked.

    The dedup-by-embedding family: sign-LSH bucketing keeps the self-join
    linear-ish (near-identical vectors share sign patterns), then exact
    cosine verifies.  Returns (id_a, id_b, cos) with id_a < id_b.
    Recall caveat as in ``lsh_topk``: borderline vectors whose leading
    dims straddle 0 can land in different buckets; raise recall with
    rotated bucket tables.
    """
    base = df.select(
        F.col(id_col).alias("doc"),
        F.col(vec_col).alias("v"),
        sign_bucket(F.col(vec_col), bits).alias("bkt"),
    )
    a = base.select(F.col("doc").alias("id_a"), F.col("v").alias("va"), "bkt")
    b = base.select(F.col("doc").alias("id_b"), F.col("v").alias("vb"), "bkt")
    return (
        a.join(b, on="bkt")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= F.lit(threshold))
        .select("id_a", "id_b", "cos")
    )


def sign_bucket_at(vec: Column, bits: int, offset: int) -> Column:
    """Sign bits of dimensions [offset, offset+bits) — a rotated bucket table.

    ``try_element_at`` degrades gracefully past the vector length
    (missing dims vote 0), so probes*bits > dim wastes tables instead of
    raising ANSI index errors; keep probes*bits ≤ dim for real recall.
    """
    b = F.lit(0).cast("long")
    for i in range(bits):
        b = b + F.when(
            F.try_element_at(vec, F.lit(offset + i + 1)) > 0, F.lit(1 << i)
        ).otherwise(0)
    return b


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probes: int = 1,
    exclude_equal: str | None = None,
) -> DataFrame:
    """Approximate top-k: candidates share the query's sign-LSH bucket.

    The bucket equi-join prunes ~2^bits of the corpus before the exact
    cosine re-rank.  ``probes`` > 1 unions candidates from rotated
    bucket tables (disjoint dimension windows): a vector straddling a
    sign boundary in one window usually agrees in another, so recall
    rises roughly multiplicatively in table count while the join stays
    linear — the standard multi-table LSH trade (probes× candidate
    cost for recall).

    ``exclude_equal``: name of a column present on both sides; candidate
    pairs AGREEING on it are dropped (hard-negative mining: nearest
    vectors with a *different* label).  Null-safe: a NULL on either side
    counts as its own label value (NULL vs x is kept as a negative,
    NULL vs NULL is dropped as same-label) — a plain ``!=`` would
    silently evaporate every candidate touching an unlabeled row.  The
    filter sits on the bucket join output, so pruning and linearity are
    unchanged.
    """
    cands = []
    c_ex, q_ex = internal("c_ex"), internal("q_ex")
    extra_q = [F.col(exclude_equal).alias(q_ex)] if exclude_equal else []
    extra_c = [F.col(exclude_equal).alias(c_ex)] if exclude_equal else []
    out_extra = [c_ex] if exclude_equal else []
    for p in range(probes):
        off = p * bits
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            sign_bucket_at(F.col(vec_col), bits, off).alias("bkt"),
            *extra_q,
        )
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cv"),
            sign_bucket_at(F.col(vec_col), bits, off).alias("bkt"),
            *extra_c,
        )
        cand = c.join(F.broadcast(q), on="bkt").filter(
            F.col("neighbor_id") != F.col("query_id")
        )
        if exclude_equal:
            cand = cand.filter(~F.col(c_ex).eqNullSafe(F.col(q_ex)))
        cands.append(cand.select("query_id", "neighbor_id", "cv", "qv", *out_extra))
    from functools import reduce

    pool = reduce(DataFrame.unionByName, cands).dropDuplicates(
        ["query_id", "neighbor_id"]
    )
    scored = pool.withColumn("cos", cosine(F.col("cv"), F.col("qv")))
    ranked = _topk_per_query(scored, "cos", k)
    if exclude_equal:
        return ranked.select(
            "query_id",
            "neighbor_id",
            "cos",
            "rank",
            F.col(c_ex).alias(f"neighbor_{exclude_equal}"),
        )
    return ranked.select("query_id", "neighbor_id", "cos", "rank")


# --- IVF (inverted-file) ANN: k-means coarse quantizer + cell-probed search ---------


def _cell_dists_sql(vec: str, centers: list[list[float]]) -> str:
    """SQL text for the array<struct<dist,cid>> of squared distances to
    every centroid — aggregate/zip_with HOFs against array literals.

    Two deliberate choices (both measured, see ml/pq for the numbers):
    the HOF form is kept for EXECUTION because with a small centroid
    table (nlist ≤ ~32) it beats the flat-unrolled form (plan-compile
    dominates there); but the expression is built as a server-parsed
    SQL STRING because constructing it from PySpark Column objects
    costs one py4j round-trip per node — several seconds of pure
    driver time per query at nlist=8×64 dims.
    """
    cells = []
    for i, c in enumerate(centers):
        lit = "array(" + ", ".join(repr(float(x)) for x in c) + ")"
        cells.append(
            f"struct(aggregate(zip_with({vec}, {lit},"
            f" (x, c) -> (CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)),"
            f" CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) AS dist,"
            f" {i} AS cid)"
        )
    return "array(" + ", ".join(cells) + ")"


def _cell_dists(vec_col: str, centers: list[list[float]]) -> Column:
    """array<struct<dist,cid>> of squared distances to every centroid
    (``vec_col`` is a COLUMN NAME — the expression is server-parsed)."""
    return F.expr(_cell_dists_sql(f"`{vec_col}`", centers))


def train_ivf_centroids(
    corpus: DataFrame,
    nlist: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_sample: int = 100_000,
) -> list[list[float]]:
    """Coarse quantizer: MLlib k-means over (a bounded sample of) the
    corpus.  Training cost is decoupled from corpus size — at 100 TB you
    train on a sample and only the ASSIGNMENT pass scans everything.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    n = corpus.count()
    sample = corpus if n <= max_sample else corpus.sample(max_sample / n, seed=seed)
    feats = sample.select(array_to_vector(F.col(vec_col)).alias("features"))
    model = KMeans(k=nlist, seed=seed, featuresCol="features").fit(feats)
    return [c.tolist() for c in model.clusterCenters()]


def ivf_assign(
    corpus: DataFrame, centers: list[list[float]], vec_col: str = "embedding"
) -> DataFrame:
    """Add ``cell`` = nearest-centroid id.  array_min over the
    struct(dist, cid) array — entirely map-side (no shuffle, no UDF);
    ties break to the lowest cid deterministically.  At scale this is
    the column you PARTITION/cluster the stored corpus by, so a probe
    touches only matching files (partition pruning does the rest)."""
    return corpus.withColumn(
        "cell", F.array_min(_cell_dists(vec_col, centers))["cid"]
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centers: list[list[float]],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search: probe the ``nprobe`` nearest cells per query, exact
    cosine re-rank inside the candidate union.

    Each query explodes into nprobe (query, cell) probes; the equi-join
    on cell prunes the corpus to ~nprobe/nlist of its rows.  Unlike
    sign-LSH buckets, cells adapt to the data distribution (k-means),
    so recall at equal candidate budget is higher — the classic
    FAISS-style IVF-Flat layout expressed as DataFrame ops.
    """
    probed = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(
            F.slice(
                F.array_sort(_cell_dists(vec_col, centers)), 1, nprobe
            )
        ).alias("probe"),
    ).select("query_id", "qv", F.col("probe.cid").alias("cell"))
    assigned = ivf_assign(corpus, centers, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), "cell"
    )
    scored = (
        assigned.join(F.broadcast(probed), on="cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", cosine(F.col("cv"), F.col("qv")))
    )
    return _topk_per_query(scored, "cos", k).select(
        "query_id", "neighbor_id", "cos", "rank"
    )


def banded_candidates(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    vec_col: str,
    bits: int = 4,
    probes: int = 8,
) -> DataFrame:
    """Distinct (lid, rid, cos) candidate pairs between two vector sets
    that agree on ANY of ``probes`` independent ``bits``-dim sign-LSH
    bands — an equi-join on (band, cell), never left × right; vectors
    re-attach per distinct surviving pair for one exact cosine each.
    The shared candidate generator behind semantic decontamination and
    bitext mining."""

    def banded(df: DataFrame, out_id: str) -> DataFrame:
        cells = F.array(
            *[
                F.struct(
                    F.lit(p).alias("band"),
                    sign_bucket_at(F.col(vec_col), bits, p * bits).alias(
                        "cell"
                    ),
                )
                for p in range(probes)
            ]
        )
        return df.select(
            F.col(id_col).alias(out_id), F.explode(cells).alias("bc")
        ).select(out_id, "bc.band", "bc.cell")

    pairs = (
        banded(left, "lid")
        .join(banded(right, "rid"), ["band", "cell"])
        .select("lid", "rid")
        .dropDuplicates(["lid", "rid"])
    )
    return (
        pairs.join(
            left.select(F.col(id_col).alias("lid"), F.col(vec_col).alias("lv")),
            "lid",
        )
        .join(
            right.select(
                F.col(id_col).alias("rid"), F.col(vec_col).alias("rv")
            ),
            "rid",
        )
        .select("lid", "rid", cosine(F.col("lv"), F.col("rv")).alias("cos"))
    )


def margin_bitext_pairs(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    bits: int = 4,
    probes: int = 8,
    margin_threshold: float = 1.0,
) -> DataFrame:
    """Margin-based parallel-pair mining (Artetxe & Schwenk 2019, the
    LASER/CCMatrix recipe): score each cross-lingual candidate by its
    cosine RATIO to the mean of both endpoints' top-``k`` neighborhoods
    — absolute cosine thresholds fail because some sentences are "hubs"
    that are close to everything; the margin normalizes that out.

        margin(x, y) = cos(x, y) / ((avg_k(x) + avg_k(y)) / 2)

    Neighborhood means are over each endpoint's top-``k`` banded
    candidates (cos desc, id-asc tiebreak — deterministic), summed as
    value-sorted folds for engine-portable doubles.  Emits each left
    item's best partner by (margin desc, rid asc) with margin ≥
    ``margin_threshold``: (src_id, tgt_id, cos, margin).

    Scale shape: the banded candidate join is the only corpus-scale
    work (never left × right); the two top-k windows partition by item
    id over candidate rows only — bounded by each item's band-collision
    count, not the corpus.
    """
    cands = banded_candidates(left, right, id_col, vec_col, bits, probes)
    wl = Window.partitionBy("lid").orderBy(F.desc("cos"), F.asc("rid"))
    wr = Window.partitionBy("rid").orderBy(F.desc("cos"), F.asc("lid"))
    ranked = cands.withColumn("rkl", F.row_number().over(wl)).withColumn(
        "rkr", F.row_number().over(wr)
    )
    # Persisted for the three consumers below (the two top-k
    # neighborhood means + the margin join).  CALLERS OWN THE CLEANUP:
    # repeated calls over the SAME inputs reuse this one
    # cache entry (plan-keyed, no growth); batch loops over many
    # DIFFERENT input pairs should `spark.catalog.clearCache()` between
    # batches.  An eager localCheckpoint was tried instead and
    # reverted: it executes the candidate join at plan-BUILD time and
    # replaces the lineage with an opaque RDD scan, which blinds the
    # registry-wide plan-smell audit (test_scale) for this operator.
    ranked = ranked.persist()

    def fold_avg(c):
        return F.aggregate(
            F.array_sort(F.collect_list(c)),
            F.lit(0.0),
            lambda a, x: a + x,
        ) / F.count(F.lit(1)).cast("double")

    avg_l = (
        ranked.filter(F.col("rkl") <= k)
        .groupBy("lid")
        .agg(fold_avg(F.col("cos")).alias("avg_l"))
    )
    avg_r = (
        ranked.filter(F.col("rkr") <= k)
        .groupBy("rid")
        .agg(fold_avg(F.col("cos")).alias("avg_r"))
    )
    margined = (
        ranked.join(avg_l, "lid")
        .join(avg_r, "rid")
        .withColumn(
            "margin",
            F.col("cos")
            / ((F.col("avg_l") + F.col("avg_r")) / F.lit(2.0)),
        )
    )
    return (
        dedup_keep_first(margined, ["lid"], [F.desc("margin"), F.asc("rid")])
        .filter(F.col("margin") >= margin_threshold)
        .select(
            F.col("lid").alias("src_id"),
            F.col("rid").alias("tgt_id"),
            "cos",
            "margin",
        )
    )


def sign_pack_words(vec: Column, dim: int, word_bits: int = 32) -> list[Column]:
    """Binary (1-bit) quantization: the sign bits of ``vec`` packed into
    ``ceil(dim/word_bits)`` LONG words (bit i of word j is 1 iff
    ``vec[j·word_bits + i] > 0``) — the 32×-compression embedding code
    every large vector store offers (Faiss binary indexes, pgvector
    ``bit``): at 100 TB the packed corpus is 8 bytes per 32 dims, so
    candidate scans are register-width XORs instead of float loops.

    ``word_bits`` stays ≤ 32 so each word is a sum of distinct powers
    below 2³² — no sign-bit wraparound anywhere, and both engines hash
    the identical positive integers.  Missing dims (dim beyond the
    array length) vote 0 via ``try_element_at``, matching
    :func:`sign_bucket_at`."""
    if not 0 < word_bits <= 32:
        raise ValueError(f"word_bits must be in (0, 32], got {word_bits}")
    words = []
    for j in range((dim + word_bits - 1) // word_bits):
        w = F.lit(0).cast("long")
        for i in range(min(word_bits, dim - j * word_bits)):
            w = w + F.when(
                F.try_element_at(vec, F.lit(j * word_bits + i + 1)) > 0,
                F.lit(1 << i).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
        words.append(w)
    return words


def hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k nearest neighbors under HAMMING distance over the binary
    (sign) quantization of the embeddings, with the exact cosine
    attached for inspection — the memory-bound ANN tier below int8:
    the corpus-side state is 2 longs per 64-dim vector (32× smaller
    than float64, 8× smaller than int8), and the distance is two XOR +
    popcount ops, fully codegen'd JVM-side.

    Ranking is ALL-INTEGER — (hamming asc, neighbor_id asc) — so the
    selection is deterministic on any engine with no float-order
    gamble anywhere; ``cos`` is a diagnostic column the caller rounds.
    Scale shape: the (small) query word-set broadcasts against one
    narrow corpus scan, the same linear probe as
    :func:`brute_force_topk`; the sub-linear path at 100 TB bands the
    words into 16-bit chunks and equi-joins band collisions first (the
    pigeonhole recipe ml/dedup.simhash_dedup_pairs_banded already
    grades).  Returns (query_id, neighbor_id, hamming, cos, rank)."""
    n_words = (dim + 31) // 32
    qw = sign_pack_words(F.col(vec_col), dim)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        *[w.alias(f"qw{j}") for j, w in enumerate(qw)],
    )
    # the corpus side of the scan carries ONLY the packed words — the
    # whole point of the tier is that the float vectors never ride
    # through the candidate scan
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        *[w.alias(f"cw{j}") for j, w in enumerate(qw)],
    )
    ham = None
    for j in range(n_words):
        term = F.bit_count(F.col(f"qw{j}").bitwiseXOR(F.col(f"cw{j}")))
        ham = term if ham is None else ham + term
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("hamming", ham.cast("int"))
    )
    topk = _topk_per_query(scored, "hamming", k, ascending=True).select(
        "query_id", "neighbor_id", "hamming", "rank", "qv"
    )
    # exact cosine only for the k·|queries| survivors: broadcast the
    # tiny top-k set against one narrow (id, vector) corpus projection
    # instead of folding the O(dim) cosine under the pre-rank scan
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    return (
        cv.join(F.broadcast(topk), "neighbor_id")
        .withColumn("cos", cosine(F.col("cv"), F.col("qv")))
        .select("query_id", "neighbor_id", "hamming", "cos", "rank")
    )
