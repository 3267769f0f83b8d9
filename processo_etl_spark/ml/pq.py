"""Product quantization (PQ) for embedding columns + IVF-PQ ANN search.

Jégou, Douze, Schmid 2011 ("Product Quantization for Nearest Neighbor
Search", IEEE TPAMI) — the FAISS-style compressed-vector layout:

- split the D-dim vector into ``m`` contiguous subspaces of D/m dims;
- per subspace, a ``ksub``-centroid codebook (trained on a bounded
  sample) maps the subvector to ONE small code → the stored vector is
  ``m`` tinyint codes (D=64 float32 = 256 B → m=8 codes = 8 B: 32×);
- search never decompresses: a query builds an m×ksub lookup table
  (LUT) of subspace inner products once, then each candidate scores as
  the SUM of m LUT lookups (ADC — asymmetric distance computation).

Engine mapping (all JVM-side native expressions — no UDFs):

- training: driver-side Lloyd's k-means per subspace over a bounded
  sample (seeded numpy — deterministic; cost decoupled from corpus
  size, exactly like ``similarity.train_ivf_centroids``);
- encoding: per subspace, ``array_min`` over a ksub-element
  struct(dist, code) array of squared distances to codebook rows —
  map-side, whole-stage-codegen, ties to the lowest code;
- ADC: the LUT is an ``array<array<double>>`` column computed on the
  (small, broadcast) query side; candidate score =
  ``aggregate(zip_with(codes, lut, (c, l) -> l[c+1]), 0.0, +)``.

100 TB shape: the corpus stores only (id, cell, codes) — the float
vectors are scanned ONCE at encode time and never again; search I/O
drops 32× and the IVF cell column partition-prunes the probe.  This
module quantizes the raw (L2-normalized) vectors, so LUT inner
products approximate cosine directly; classic FAISS refines this by
encoding residuals against the coarse IVF centroid — noted as the
cluster-scale upgrade, same plan shape (subtract the broadcast
centroid before encoding).

Vectors whose tail extends past m*dsub are ignored beyond that point
(codebooks are trained on the same slices, so encode/search agree).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from processo_etl_spark.columns import internal
from processo_etl_spark.ml.similarity import _topk_per_query, cosine

_INV = internal("pq_inv")


def _lloyd(x, ksub: int, iters: int, seed: int):
    """Deterministic Lloyd's k-means on an (n, d) sample — driver-side,
    bounded by ``max_sample``; numpy only (no sklearn dependency)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    n = x.shape[0]
    k = min(ksub, n)
    centers = x[rng.choice(n, size=k, replace=False)].astype("float64")
    for _ in range(iters):
        d2 = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(k):
            mask = assign == c
            if mask.any():
                centers[c] = x[mask].mean(axis=0)
            else:
                # deterministic empty-cluster repair: farthest point
                centers[c] = x[d2.min(axis=1).argmax()]
    if k < ksub:  # degenerate tiny sample: pad by repeating rows
        centers = np.vstack([centers, [centers[i % k] for i in range(ksub - k)]])
    return centers


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_sample: int = 100_000,
    iters: int = 10,
    normalize: bool = True,
) -> list[list[list[float]]]:
    """Per-subspace codebooks: ``codebooks[s][c]`` is the c-th centroid
    (length D/m) of subspace s.  Trains on a bounded sample so cost is
    decoupled from corpus size; deterministic under ``seed``.
    """
    import numpy as np

    n = corpus.count()
    sample = corpus if n <= max_sample else corpus.sample(max_sample / n, seed=seed)
    rows = sample.select(F.col(vec_col).alias("v")).collect()
    x = np.array([r["v"] for r in rows], dtype="float64")
    if normalize:
        norms = np.linalg.norm(x, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        x = x / norms
    d = x.shape[1]
    dsub = d // m
    books = []
    for s in range(m):
        sub = x[:, s * dsub : (s + 1) * dsub]
        books.append(_lloyd(sub, ksub, iters, seed + s).tolist())
    return books


def _book_lit(book: list[list[float]]) -> Column:
    """ksub×dsub codebook as ONE array<array<double>> Literal node
    (``F.lit`` on the nested list — NOT a CreateArray tree)."""
    return F.lit([[float(v) for v in c] for c in book])


def _sub_dists_sql(
    vec: str, base: int, book: list[list[float]], scale: str
) -> str:
    """SQL text for the array<double> of squared distances from
    ``scale·vec[base:base+dsub]`` to every codebook row — FLAT
    arithmetic, deliberately HOF-free, built as a STRING.

    Two distinct perf findings live here:

    - HOFs (transform/aggregate/zip_with) don't whole-stage-codegen;
      they interpret with per-lambda-call overhead, and the nested
      aggregate-inside-transform form cost ~90 s for 500 rows.  Flat
      element_at arithmetic codegens to straight-line JVM code (100×).
    - Building those flat expressions as PySpark Column objects costs a
      py4j round-trip PER OPERATOR NODE — ~20 s of pure driver time for
      the ~10k-node encode tree.  Emitting the expression as ONE SQL
      string parsed server-side by ``F.expr`` cuts plan build to
      milliseconds with an identical Catalyst tree.

    Each element appears twice (x−c)·(x−c) rather than power(x−c, 2) —
    multiplication is the exact IEEE op the codegen path emits.
    """
    dsub = len(book[0])
    codes = []
    for c in book:
        diffs = [
            f"(CAST(element_at({vec}, {base + i + 1}) AS DOUBLE)"
            f" * {scale} - ({float(c[i])!r}))"
            for i in range(dsub)
        ]
        codes.append("(0.0 + " + " + ".join(f"{d} * {d}" for d in diffs) + ")")
    return "array(" + ", ".join(codes) + ")"


def _inv_norm_sql(vec: str, d: int) -> str:
    """SQL text for 1/‖vec[1..d]‖₂ (1.0 for the zero vector)."""
    sq = " + ".join(
        f"CAST(element_at({vec}, {i + 1}) AS DOUBLE)"
        f" * CAST(element_at({vec}, {i + 1}) AS DOUBLE)"
        for i in range(d)
    )
    n = f"sqrt(0.0 + {sq})"
    return f"CASE WHEN {n} = 0.0 THEN 1.0 ELSE 1.0 / {n} END"


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "codes",
    normalize: bool = True,
) -> DataFrame:
    """Append ``out_col``: array<tinyint> of length m — the nearest
    codebook row per subspace.  Entirely map-side (no shuffle, no UDF,
    no higher-order functions — see ``_sub_dists``); ties break to the
    lowest code via ``array_position`` of the min (first occurrence).

    Normalization trick: instead of materializing the normalized vector
    (whose division would be copy-inlined into every distance term, or
    cost an interpreted HOF per row), the row's 1/‖v‖ is projected ONCE
    as a separate column (CollapseProject keeps multiply-referenced
    non-trivial aliases in their own Project) and each distance term
    scales its element by it — argmin per subspace is invariant to the
    common positive factor, and the LUT side normalizes the same way.
    """
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    vec = f"`{vec_col}`"
    inv = (
        F.expr(_inv_norm_sql(vec, m * dsub)) if normalize else F.lit(1.0)
    )
    staged = df.withColumn(_INV, inv)
    # Distances per subspace land in their own projected column: the
    # argmin references each twice (array_position + array_min), and a
    # separate non-trivial alias stops CollapseProject from cloning the
    # whole distance tree into both references.
    tmp = []
    for s in range(m):
        col = internal(f"pq_d{s}")
        tmp.append(col)
        staged = staged.withColumn(
            col,
            F.expr(_sub_dists_sql(vec, s * dsub, codebooks[s], f"`{_INV}`")),
        )
    codes = ", ".join(
        f"CAST(array_position(`{c}`, array_min(`{c}`)) - 1 AS TINYINT)"
        for c in tmp
    )
    return (
        staged.withColumn(out_col, F.expr(f"array({codes})"))
        .drop(_INV, *tmp)
    )


def pq_reconstruct(codes: Column, codebooks: list[list[list[float]]]) -> Column:
    """array<double> decode: concatenate each subspace's chosen centroid
    (unit-test surface for the quantization error bound)."""
    parts = []
    for s, book in enumerate(codebooks):
        parts.append(
            F.element_at(_book_lit(book), F.element_at(codes, s + 1).cast("int") + 1)
        )
    return F.flatten(F.array(*parts))


def _query_lut_sql(
    qv: str, codebooks: list[list[list[float]]], scale: str
) -> str:
    """SQL text for the m×ksub LUT of subspace inner products
    <scale·q_s, codebook[s][c]> — computed ONCE per (broadcast) query
    row.  Flat arithmetic as a single server-parsed string (same two
    rationales as ``_sub_dists_sql``); the common scale factors out of
    each dot product."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    rows = []
    for s in range(m):
        base = s * dsub
        dots = []
        for c in codebooks[s]:
            terms = " + ".join(
                f"CAST(element_at({qv}, {base + i + 1}) AS DOUBLE)"
                f" * ({float(c[i])!r})"
                for i in range(dsub)
            )
            dots.append(f"{scale} * (0.0 + {terms})")
        rows.append("array(" + ", ".join(dots) + ")")
    return "array(" + ", ".join(rows) + ")"


def adc_score(codes: Column, lut: Column, m: int) -> Column:
    """Σ_s lut[s][codes[s]] — the ADC inner product (≈ cosine when both
    sides were L2-normalized at train/encode time).  Flat m-term sum —
    this runs once per CANDIDATE row, the hottest expression in the
    search, so it must codegen (HOFs would interpret per row)."""
    return sum(
        (
            F.element_at(
                F.element_at(lut, s + 1),
                F.element_at(codes, s + 1).cast("int") + 1,
            )
            for s in range(m)
        ),
        F.lit(0.0).cast("double"),
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centers: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ search: coarse-cell probe (IVF) + compressed-domain ADC
    ranking (PQ) — the candidate float vectors are NEVER touched.

    Per query: explode into the ``nprobe`` nearest cells, equi-join the
    (cell-partitioned) code table, score candidates by LUT sum, window
    top-k.  Returns (query_id, neighbor_id, adc, rank); ``adc``
    approximates cosine (normalized corpus), ties break by neighbor_id.

    At cluster scale the corpus argument is the PERSISTED (id, cell,
    codes) table — 32× smaller than the float store — and the float
    scan happens only in ``pq_encode`` at ingest.
    """
    from processo_etl_spark.ml.similarity import _cell_dists, ivf_assign

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    vec = f"`{vec_col}`"
    probed = (
        queries.withColumn(
            _INV, F.expr(_inv_norm_sql(vec, m * dsub))
        )
        .select(
            F.col(id_col).alias("query_id"),
            F.expr(_query_lut_sql(vec, codebooks, f"`{_INV}`")).alias("lut"),
            F.explode(
                F.slice(
                    F.array_sort(_cell_dists(vec_col, centers)), 1, nprobe
                )
            ).alias("probe"),
        )
        .select("query_id", "lut", F.col("probe.cid").alias("cell"))
    )
    coded = pq_encode(
        ivf_assign(corpus, centers, vec_col), codebooks, vec_col
    ).select(F.col(id_col).alias("neighbor_id"), "cell", "codes")
    scored = (
        coded.join(F.broadcast(probed), on="cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adc", adc_score(F.col("codes"), F.col("lut"), m))
    )
    return _topk_per_query(scored, "adc", k).select(
        "query_id", "neighbor_id", "adc", "rank"
    )


def ivfpq_topk_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    centers: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 4,
    rerank: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage IVF-PQ: ADC shortlists ``rerank`` candidates per query,
    then exact cosine re-ranks the shortlist (float vectors fetched for
    only ~rerank rows per query — the standard FAISS refine step).
    Returns (query_id, neighbor_id, cos, rank)."""
    shortlist = ivfpq_topk(
        corpus, queries, centers, codebooks, k=rerank, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col,
    ).select("query_id", "neighbor_id")
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    scored = (
        shortlist.join(F.broadcast(qv), on="query_id")
        .join(cv, on="neighbor_id")
        .withColumn("cos", cosine(F.col("cv"), F.col("qv")))
    )
    return _topk_per_query(scored, "cos", k).select(
        "query_id", "neighbor_id", "cos", "rank"
    )
