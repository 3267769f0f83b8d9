"""Training-data pipeline plans over ``documents`` / ``embeddings``:
dedup, similarity search, text analysis, multimodal plumbing.

Oracles mirror the engine's hash conventions exactly (md5-prefix
integers, normalized text), so even MinHash/LSH is SQL-checkable.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from processo_etl_spark.ml import (
    dedup,
    pq,
    selection,
    semdedup,
    similarity,
    textstats,
)
from processo_etl_spark.plans import register
from processo_etl_spark.plans.common import corpus, t

# Shared SQL fragments mirroring ml.dedup conventions -------------------------
_NORM = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
_SHINGLES = f"""
  list_distinct(list_transform(
    generate_series(1, greatest(len(string_split({_NORM}, ' ')) - 2, 1)),
    i -> concat_ws(' ', string_split({_NORM}, ' ')[i],
                        string_split({_NORM}, ' ')[i+1],
                        string_split({_NORM}, ' ')[i+2])))
"""
# CTEs ``feats`` (every ``documents`` column plus the quality features)
# and ``scored`` (plus the floor-scaled ``quality_score``) replaying
# ml.textstats.quality_features.
_QUALITY_CTES = f"""feats AS (
      SELECT *,
        len(string_split({_NORM}, ' ')) AS n_tokens,
        length(text) AS n_chars_m,
        len(regexp_extract_all(text, '[^\\w\\s]')) AS punct,
        CAST(len(list_filter(string_split({_NORM}, ' '),
             x -> x IN ('the','a','of','and','to','in','is','it','that','for'))) AS DOUBLE)
          / CAST(greatest(len(string_split({_NORM}, ' ')), 1) AS DOUBLE) AS sw_ratio
      FROM documents),
    scored AS (
      SELECT *,
        FLOOR((least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
             + least(sw_ratio * 5.0, 1.0) * 0.3
             + (1.0 - least(CAST(punct AS DOUBLE) / CAST(greatest(n_chars_m, 1) AS DOUBLE) * 10.0, 1.0)) * 0.3
              ) * 1000) / 1000 AS quality_score
      FROM feats)"""


def _md5_long_sql(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


# The md5-affine hash family of ml.dedup.affine_hashes as DuckDB text:
# value i over base hash h = md5_long(key) % P is (a_i*h + b_i) % P, taken
# % m for the Bloom filter (m = bits) and Count-Min (m = width).  The
# constants come from ml.dedup.perm_constants, so SQL and Spark share one
# definition and the oracles replay MinHash, Bloom and CMS bit-for-bit.
_P = dedup.MERSENNE_P


def _base_hash_sql(key: str) -> str:
    return f"({_md5_long_sql(key)} % {_P})"


def _affine_sql(h: str, k: int, m: int | None = None) -> list[str]:
    """The k values of ``dedup.affine_hashes`` over the base hash ``h``,
    an atomic SQL term (a column name or a parenthesized expression)."""
    out = []
    for a, b in dedup.perm_constants(k):
        v = f"({a} * {h} + {b}) % {_P}"
        out.append(v if m is None else f"({v}) % {m}")
    return out


# MinHash signature components over the shingle list ``sh``: the min of
# each family over the shingles.  Component i depends only on i, so a
# k-wide signature is the first k.
_MINHASH_SQL = [
    f"list_min(list_transform(sh, s -> {v}))"
    for v in _affine_sql(_base_hash_sql("s"), 8)
]


def _bloom_filter_sql(src: str, key: str, n_bits: int, k: int) -> str:
    """CTE ``filt(word, bits)``: ``ml.bloom.bloom_build`` of ``key`` over
    ``src`` — k positions per non-NULL key, OR'd into 32-bit words."""
    pos = ", ".join(_affine_sql(_base_hash_sql(key), k, n_bits))
    return f"""filt AS (
      SELECT pos // 32 AS word,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
      FROM (SELECT unnest([{pos}]) AS pos FROM {src} WHERE {key} IS NOT NULL)
      GROUP BY 1)"""


def _cms_sketch_sql(src: str, key: str, depth: int, width: int) -> str:
    """CTEs ``hashed(<key>, h)``, ``cells(row, bucket)`` and
    ``sketch(row, bucket, cnt)``: ``ml.sketches.cms_build`` of the
    column ``key`` of ``src``, NULL keys skipped."""
    cells = " UNION ALL ".join(
        f"SELECT {i} AS row, {v} AS bucket FROM hashed"
        for i, v in enumerate(_affine_sql("h", depth, width))
    )
    return f"""hashed AS (
      SELECT {key}, {_md5_long_sql(key)} % {_P} AS h
      FROM {src} WHERE {key} IS NOT NULL),
    cells AS ({cells}),
    sketch AS (SELECT row, bucket, count(*) AS cnt FROM cells GROUP BY 1, 2)"""


# --- exact dedup ---------------------------------------------------------------
@register(
    "dedup_exact",
    oracle=f"""
    SELECT md5({_NORM}) AS fp, min(doc_id) AS doc_id, count(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: fingerprint → groupBy → keep min id (one shuffle)."""
    return dedup.exact_dedup(t(spark, sf_dir, "documents"), "text", "doc_id")


# --- fingerprinting --------------------------------------------------------------
@register(
    "doc_fingerprint",
    oracle=f"SELECT doc_id, md5({_NORM}) AS fp FROM documents",
)
def doc_fingerprint(spark, sf_dir):
    """Stable md5 content fingerprint over normalized text."""
    return textstats.doc_fingerprint(t(spark, sf_dir, "documents"), "text", "doc_id")


# --- MinHash signatures (deterministic, oracle-checked) ---------------------------
@register(
    "minhash_signature",
    oracle=f"""
    WITH base AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents)
    SELECT doc_id,
      {_MINHASH_SQL[0]} AS mh0,
      {_MINHASH_SQL[1]} AS mh1,
      {_MINHASH_SQL[2]} AS mh2,
      {_MINHASH_SQL[3]} AS mh3
    FROM base
    """,
)
def minhash_signature(spark, sf_dir):
    """Per-document MinHash signature (4 hash families shown; engine
    supports any k) — narrow map, no shuffle, portable md5 hashes."""
    docs = t(spark, sf_dir, "documents")
    sig = dedup.minhash_signature(dedup.shingle_set("text", 3), k=4)
    return docs.select(
        "doc_id",
        *[F.element_at(sig, i + 1).alias(f"mh{i}") for i in range(4)],
    )


# --- MinHash + LSH near-dup pairs ----------------------------------------------------
# Shared CTE chain (k=8, 2 bands × 4 rows, Jaccard ≥ 0.2) — used by both
# the pairs query and the connected-components clustering oracles.
_LSH_CTES = f"""
    base AS (
      SELECT doc_id AS doc, {_SHINGLES} AS sh FROM documents),
    sigs AS (
      SELECT doc, sh,
        [{", ".join(_MINHASH_SQL)}] AS sig
      FROM base),
    banded AS (
      SELECT doc, sh, b.band,
        md5(concat_ws(',', CAST(sig[b.band*4+1] AS VARCHAR), CAST(sig[b.band*4+2] AS VARCHAR),
                           CAST(sig[b.band*4+3] AS VARCHAR), CAST(sig[b.band*4+4] AS VARCHAR))) AS bh
      FROM sigs, (SELECT unnest([0,1]) AS band) b),
    cand AS (
      SELECT DISTINCT l.doc AS id_a, r.doc AS id_b
      FROM banded l JOIN banded r ON l.band = r.band AND l.bh = r.bh
      WHERE l.doc < r.doc),
    verified AS (
      SELECT c.id_a, c.id_b,
        CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          AS jaccard
      FROM cand c
      JOIN base a ON a.doc = c.id_a
      JOIN base b ON b.doc = c.id_b)
"""

# The cluster oracles' components: the recursive transitive closure of
# the verified pairs (exact at gate scale, right on any graph), ending in
# cl(doc, cluster) with cluster = the component's min doc id.  Opens with
# _LSH_CTES, so a cluster oracle reads ``WITH RECURSIVE {_CLUSTER_CTES}``.
_CLUSTER_CTES = f"""{_LSH_CTES},
    edges AS (
      SELECT id_a, id_b FROM verified WHERE jaccard >= 0.2),
    und AS (
      SELECT id_a AS a, id_b AS b FROM edges
      UNION SELECT id_b, id_a FROM edges),
    reach AS (
      SELECT a, b FROM und
      UNION
      SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
    cl AS (
      SELECT a AS doc, least(a, min(b)) AS cluster FROM reach GROUP BY a)"""


def _lsh_pairs(docs):
    """The engine side of ``_LSH_CTES``: near-dup (id_a, id_b, jaccard)
    pairs of ``documents`` at the registry's parameters."""
    return dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", k=8, bands=2, shingle_n=3, threshold=0.2
    )


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_LSH_CTES}
    SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.2
    """,
)
def dedup_minhash_lsh(spark, sf_dir):
    """Near-dup pairs: MinHash (k=8) → LSH banding (2 bands × 4 rows) →
    bucket equi-join → exact Jaccard verify ≥ 0.2.  Never all-pairs."""
    return dedup.minhash_lsh_pairs(
        corpus(spark, sf_dir),
        "doc_id",
        "text",
        k=8,
        bands=2,
        shingle_n=3,
        threshold=0.2,
        toks_col="toks",
    )


# --- incremental dedup: append batch vs indexed corpus ---------------------------------
@register(
    "dedup_incremental_lsh",
    oracle=f"""
    WITH base AS (
      SELECT doc_id AS doc, {_SHINGLES} AS sh, doc_id % 10 = 0 AS is_batch
      FROM documents),
    sigs AS (
      SELECT doc, sh, is_batch,
        [{", ".join(_MINHASH_SQL)}] AS sig
      FROM base),
    banded AS (
      SELECT doc, is_batch, b.band,
        md5(concat_ws(',', CAST(sig[b.band*4+1] AS VARCHAR), CAST(sig[b.band*4+2] AS VARCHAR),
                           CAST(sig[b.band*4+3] AS VARCHAR), CAST(sig[b.band*4+4] AS VARCHAR))) AS bh
      FROM sigs, (SELECT unnest([0,1]) AS band) b),
    cand AS (
      SELECT DISTINCT l.doc AS bid, r.doc AS cid
      FROM banded l JOIN banded r ON l.band = r.band AND l.bh = r.bh
      WHERE l.is_batch AND NOT r.is_batch),
    verified AS (
      SELECT c.bid, c.cid,
        CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          AS jaccard
      FROM cand c
      JOIN base a ON a.doc = c.bid
      JOIN base b ON b.doc = c.cid
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          >= 0.2),
    best AS (SELECT bid, min(cid) AS dup_of FROM verified GROUP BY bid)
    SELECT s.doc AS doc_id, best.dup_of AS dup_of, v.jaccard AS jaccard
    FROM (SELECT doc FROM base WHERE is_batch) s
    LEFT JOIN best ON s.doc = best.bid
    LEFT JOIN verified v ON v.bid = best.bid AND v.cid = best.dup_of
    """,
)
def dedup_incremental_lsh(spark, sf_dir):
    """Incremental (append-batch) dedup: docs with doc_id % 10 = 0 play
    today's ingest, the rest the already-deduplicated corpus —
    ml/dedup.minhash_lsh_incremental probes the corpus's banded
    signature index; candidates only cross batch × corpus.  dup_of is
    the lowest matching corpus id (NULL ⇒ safe to append)."""
    docs = t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return dedup.minhash_lsh_incremental(
        corpus, batch, "doc_id", "text", k=8, bands=2, shingle_n=3, threshold=0.2
    )


# --- blocked exact n-gram Jaccard ------------------------------------------------------
@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH base AS (
      SELECT source AS blk, doc_id AS doc, {_SHINGLES} AS sh FROM documents),
    pairs AS (
      SELECT a.doc AS id_a, b.doc AS id_b,
        CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          AS jaccard
      FROM base a JOIN base b ON a.blk = b.blk AND a.doc < b.doc)
    SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.15
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Blocked exact 3-gram Jaccard pairs (block = source)."""
    return dedup.ngram_jaccard_pairs(
        t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        block_col="source",
        shingle_n=3,
        threshold=0.15,
    )


@register(
    "dedup_containment_pairs",
    oracle=f"""
    WITH base AS (
      SELECT source AS blk, doc_id AS doc, {_SHINGLES} AS sh FROM documents),
    pairs AS (
      SELECT a.doc AS id_a, b.doc AS id_b,
        CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / CAST(len(a.sh) AS DOUBLE) AS containment_ab,
        CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / CAST(len(b.sh) AS DOUBLE) AS containment_ba,
        CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          AS jaccard
      FROM base a JOIN base b ON a.blk = b.blk AND a.doc < b.doc)
    SELECT id_a, id_b, containment_ab, containment_ba, jaccard
    FROM pairs WHERE greatest(containment_ab, containment_ba) >= 0.5
    """,
)
def dedup_containment_pairs(spark, sf_dir):
    """Asymmetric quote/excerpt detection
    (ml/dedup.ngram_containment_pairs): pairs where one side's shingle
    set is ≥50% contained in the other — catches short-inside-long
    duplication that symmetric Jaccard scores near zero."""
    return dedup.ngram_containment_pairs(
        t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        block_col="source",
        shingle_n=3,
        threshold=0.5,
    )


# --- SimHash ---------------------------------------------------------------------------
@register(
    "dedup_simhash",
    oracle=f"""
    WITH th AS (
      SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
      FROM (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok
            FROM documents)),
    votes AS (
      SELECT doc_id, i,
             sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM th, UNNEST(generate_series(0, 59)) AS b(i)
      GROUP BY 1, 2),
    sig AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << i)
                           ELSE 0 END) AS BIGINT) AS sig
      FROM votes GROUP BY 1),
    base AS (SELECT doc_id, sig, sig >> 48 AS blk FROM sig)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
    FROM base a JOIN base b USING (blk)
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.sig, b.sig)) <= 20
    """,
)
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs (Hamming ≤ 20, 12-bit prefix blocking).

    The oracle mirrors the 60-bit majority vote relationally (token ×
    bit fan-out + two groupBys) — pathological as a production plan but
    fine as a 500-doc differential check; the engine side computes the
    same signature in ONE narrow fold per document (ml/dedup.simhash64).
    """
    return dedup.simhash_dedup_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=20, prefix_bits=12
    )


# Band layout shared with ml.dedup.simhash_dedup_pairs_banded (single
# source of truth for the pigeonhole blocking).
_SIMHASH_BANDS = dedup._band_layout(60, 9)
_BAND_VALUES = ", ".join(f"({b}, {s}, {m})" for b, s, m in _SIMHASH_BANDS)


@register(
    "dedup_simhash_banded",
    oracle=f"""
    WITH th AS (
      SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
      FROM (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok
            FROM documents)),
    votes AS (
      SELECT doc_id, i,
             sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM th, UNNEST(generate_series(0, 59)) AS b(i)
      GROUP BY 1, 2),
    sig AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << i)
                           ELSE 0 END) AS BIGINT) AS sig
      FROM votes GROUP BY 1),
    bands AS (
      SELECT doc_id, sig, band, (sig >> shift) & mask AS val
      FROM sig, (VALUES {_BAND_VALUES}) AS bw(band, shift, mask))
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
    FROM bands a JOIN bands b USING (band, val)
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.sig, b.sig)) <= 8
    """,
)
def dedup_simhash_banded(spark, sf_dir):
    """SimHash near-dup pairs with GUARANTEED hamming ≤ 8 recall
    (9-band pigeonhole; see
    ml/dedup.simhash_dedup_pairs_banded for why 9 bands, not 4
    rotated 16-bit prefixes).  Oracle mirrors the banding exactly."""
    return dedup.simhash_dedup_pairs_banded(
        t(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=8
    )


# --- embedding similarity: exact brute force -------------------------------------------
_COS_SQL = """
  list_reduce(list_transform(list_zip(c.embedding, q.embedding),
      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a,x) -> a + x)
  / ( sqrt(list_reduce(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a,x) -> a + x))
    * sqrt(list_reduce(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a,x) -> a + x)) )
"""


@register(
    "similarity_topk_bruteforce",
    oracle=f"""
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROUND({_COS_SQL}, 6) AS cos,
           CAST(row_number() OVER (PARTITION BY q.vec_id
                ORDER BY {_COS_SQL} DESC, c.vec_id) AS INT) AS rank
    FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
    WHERE q.vec_id < 8
    QUALIFY rank <= 5
    """,
)
def similarity_topk_bruteforce(spark, sf_dir):
    """Exact cosine top-5 for 8 query vectors — the ANN baseline.

    Ranking uses the raw double zip_with/aggregate fold (replayed
    term-for-term by the oracle); the EMITTED cos is ROUND(·, 6) on
    both sides per the raw-double-fold guard (grading.py: a raw multi-term fold output can differ at the last
    ULP between DuckDB builds).
    """
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    out = similarity.brute_force_topk(emb, queries, k=5)
    return out.withColumn("cos", F.round("cos", 6))


# --- embedding similarity: LSH-bucketed scale path ---------------------------------------
_LSH_BITS, _LSH_PROBES = 4, 8


def _bkt_sql(v: str, bits: int, offset: int) -> str:
    """Sign-bucket of dims [offset, offset+bits) — SQL twin of
    ml/similarity.sign_bucket_at (1-based array index)."""
    terms = " + ".join(
        f"CASE WHEN {v}.embedding[{offset + i + 1}] > 0 THEN {1 << i} ELSE 0 END"
        for i in range(bits)
    )
    return f"({terms})"


_MULTIPROBE_ON = " OR ".join(
    f"{_bkt_sql('q', _LSH_BITS, p * _LSH_BITS)} = {_bkt_sql('c', _LSH_BITS, p * _LSH_BITS)}"
    for p in range(_LSH_PROBES)
)


@register(
    "similarity_topk_lsh",
    oracle=f"""
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROUND({_COS_SQL}, 6) AS cos,
           CAST(row_number() OVER (PARTITION BY q.vec_id
                ORDER BY {_COS_SQL} DESC, c.vec_id) AS INT) AS rank
    FROM embeddings q
    JOIN embeddings c
      ON ({_MULTIPROBE_ON})
     AND c.vec_id != q.vec_id
    WHERE q.vec_id < 8
    QUALIFY rank <= 5
    """,
)
def similarity_topk_lsh(spark, sf_dir):
    """Multi-table sign-LSH top-5: 8 rotated 4-bit tables (disjoint
    dimension windows), candidates = union of per-table bucket matches,
    exact cosine re-rank.

    A single 6-bit table measured recall@5 of 0.05–0.30 — unusable;
    8×4-bit tables measure 0.71 at sf0.01 while each probe still prunes
    ~15/16 of the corpus (total candidate budget probes/2^bits = 1/2).
    The oracle replicates the same candidate set as an OR of per-table
    bucket equalities; Spark executes it as 8 equi-joins unioned (each
    bucketed, never a hamming-distance theta-join).  IVF
    (similarity_topk_ivf) remains the recommended default at scale —
    its data-adaptive cells reach ~0.78 recall at a 4/8 candidate
    budget; sign-LSH is the quantizer-free fallback.
    """
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    out = similarity.lsh_topk(
        emb, queries, k=5, bits=_LSH_BITS, probes=_LSH_PROBES
    )
    # emitted cos is ROUND(·, 6) both sides (raw-double-fold guard).
    return out.withColumn("cos", F.round("cos", 6))


# --- embedding-cosine near-dup dedup --------------------------------------------------------
_COS_AB = """
  list_reduce(list_transform(list_zip(a.embedding, b.embedding),
      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x,y) -> x + y)
  / ( sqrt(list_reduce(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x,y) -> x + y))
    * sqrt(list_reduce(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x,y) -> x + y)) )
"""


_SEMDECON_ON = " OR ".join(
    f"{_bkt_sql('a', 4, p * 4)} = {_bkt_sql('b', 4, p * 4)}" for p in range(8)
)


@register(
    "decontaminate_semantic",
    oracle=f"""
    WITH corp AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id % 31 <> 0),
    ev AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id % 31 = 0),
    pairs AS (
      SELECT DISTINCT a.vec_id AS cid, b.vec_id AS eid
      FROM corp a JOIN ev b ON ({_SEMDECON_ON})),
    scored AS (
      SELECT p.cid, {_COS_AB} AS cos
      FROM pairs p
      JOIN corp a ON p.cid = a.vec_id
      JOIN ev b ON p.eid = b.vec_id),
    hits AS (
      SELECT cid,
             CAST(SUM(CASE WHEN cos >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_matches,
             MAX(cos) AS max_cos
      FROM scored GROUP BY cid)
    SELECT c.vec_id,
           COALESCE(h.n_matches, 0) AS n_matches,
           ROUND(h.max_cos, 6) AS max_cos,
           COALESCE(h.n_matches, 0) > 0 AS contaminated
    FROM corp c LEFT JOIN hits h ON c.vec_id = h.cid
    """,
)
def decontaminate_semantic(spark, sf_dir):
    """Semantic decontamination (ml/decontaminate.semantic_contamination):
    corpus embeddings within cosine ≥ 0.5 of any eval-set embedding
    (vec_id % 31 == 0 plays the benchmark role), candidates banded
    through 8 independent 4-bit sign-LSH cells — an equi-join on
    (band, cell), never corpus × eval; embeddings re-attach only for
    distinct surviving pairs.  The paraphrase-robust complement to the
    13-gram collision checks (`decontaminate_ngram_overlap` /
    `decontaminate_bloom`)."""
    from processo_etl_spark.ml import decontaminate

    emb = t(spark, sf_dir, "embeddings")
    corp = emb.filter(F.col("vec_id") % 31 != 0)
    ev = emb.filter(F.col("vec_id") % 31 == 0)
    out = decontaminate.semantic_contamination(
        corp, ev, "vec_id", "embedding", threshold=0.5, bits=4, probes=8
    )
    # emitted max_cos is ROUND(·, 6) both sides (raw-double-fold guard);
    # the ≥ 0.5 threshold verdict stays on the raw fold.
    return out.withColumn("max_cos", F.round("max_cos", 6))


@register(
    "bitext_mine_margin",
    oracle=f"""
    WITH l AS (
      SELECT vec_id, embedding FROM embeddings WHERE label % 2 = 0),
    r AS (
      SELECT vec_id, embedding FROM embeddings WHERE label % 2 = 1),
    pairs AS (
      SELECT DISTINCT a.vec_id AS lid, b.vec_id AS rid
      FROM l a JOIN r b ON ({_SEMDECON_ON})),
    cands AS (
      SELECT p.lid, p.rid, {_COS_AB} AS cos
      FROM pairs p JOIN l a ON p.lid = a.vec_id JOIN r b ON p.rid = b.vec_id),
    ranked AS (
      SELECT lid, rid, cos,
        row_number() OVER (PARTITION BY lid ORDER BY cos DESC, rid) AS rkl,
        row_number() OVER (PARTITION BY rid ORDER BY cos DESC, lid) AS rkr
      FROM cands),
    al AS (
      SELECT lid, list_reduce(list_sort(list(cos)), (x, y) -> x + y)
               / CAST(count(*) AS DOUBLE) AS avg_l
      FROM ranked WHERE rkl <= 4 GROUP BY lid),
    ar AS (
      SELECT rid, list_reduce(list_sort(list(cos)), (x, y) -> x + y)
               / CAST(count(*) AS DOUBLE) AS avg_r
      FROM ranked WHERE rkr <= 4 GROUP BY rid),
    m AS (
      SELECT k.lid, k.rid, k.cos,
             k.cos / ((al.avg_l + ar.avg_r) / CAST(2.0 AS DOUBLE)) AS margin
      FROM ranked k JOIN al USING (lid) JOIN ar USING (rid)),
    best AS (
      SELECT lid, rid, cos, margin,
        row_number() OVER (PARTITION BY lid ORDER BY margin DESC, rid) AS b
      FROM m)
    SELECT lid AS src_id, rid AS tgt_id,
           ROUND(cos, 6) AS cos, ROUND(margin, 6) AS margin
    FROM best WHERE b = 1 AND margin >= CAST(1.0 AS DOUBLE)
    """,
)
def bitext_mine_margin(spark, sf_dir):
    """Margin-based bitext mining (ml/similarity.margin_bitext_pairs —
    the Artetxe-Schwenk/CCMatrix recipe): label parity plays the two
    languages; each even-label item's best odd-label partner by cosine
    RATIO to both endpoints' top-4 candidate neighborhoods, kept at
    margin ≥ 1.0.  Absolute-cosine mining fails on hub sentences; the
    margin normalizes hubness out.  Candidates band through the shared
    sign-LSH generator (never L1 × L2); neighborhood means are
    value-sorted folds, so the full score pipeline hash-matches the
    SQL replay."""
    from processo_etl_spark.ml import similarity

    emb = t(spark, sf_dir, "embeddings")
    out = similarity.margin_bitext_pairs(
        emb.filter(F.col("label") % 2 == 0),
        emb.filter(F.col("label") % 2 == 1),
        "vec_id",
        "embedding",
        k=4,
        bits=4,
        probes=8,
        margin_threshold=1.0,
    )
    # emitted cos/margin are ROUND(·, 6) both sides (raw-double-fold
    # guard); best-partner selection and the ≥ 1.0 gate stay raw.
    return out.withColumn("cos", F.round("cos", 6)).withColumn(
        "margin", F.round("margin", 6)
    )


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, embedding, {_bkt_sql("embeddings", 6, 0)} AS bkt
      FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, ROUND({_COS_AB}, 6) AS cos
    FROM base a JOIN base b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
    WHERE {_COS_AB} >= 0.4
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding near-dup pairs: sign-LSH blocking + exact cosine ≥ 0.4.

    The fifth dedup family (exact / minhash / simhash / ngram /
    embedding) — blocks on 6 sign bits so the self-join never goes
    all-pairs."""
    emb = t(spark, sf_dir, "embeddings")
    out = similarity.embedding_cosine_pairs(
        emb, "vec_id", "embedding", threshold=0.4, bits=6
    )
    # emitted cos is ROUND(·, 6) both sides (raw-double-fold guard);
    # the ≥ 0.4 threshold stays on the raw fold.
    return out.withColumn("cos", F.round("cos", 6))


# --- exact duplicate-span detection (Lee et al. 2022 ExactSubstr, word-granular) ----------
@register(
    "dedup_duplicate_spans",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents),
    grams AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             concat_ws(' ', w[i], w[i+1], w[i+2]) AS g
      FROM toks, UNNEST(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)),
    dup AS (
      SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
    hits AS (
      SELECT doc_id, pos,
             lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM grams JOIN dup USING (g)),
    isl AS (
      SELECT doc_id, pos,
             sum(CASE WHEN prev IS NULL OR pos - prev > 3 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS UNBOUNDED PRECEDING) AS grp
      FROM hits)
    SELECT doc_id, min(pos) AS span_start,
           CAST(max(pos) + 2 AS BIGINT) AS span_end,
           count(*) AS n_dup_grams
    FROM isl GROUP BY doc_id, grp
    """,
)
def dedup_duplicate_spans(spark, sf_dir):
    """Maximal cross-document duplicated token spans (trigram-level):
    ml/dedup.duplicate_spans — gram doc-frequency shuffle + per-doc
    gap-aware islands merge (starts within n merge, so emitted token
    spans never overlap).  The excision-grade complement to
    chunk_dedup's fixed blocks."""
    return dedup.duplicate_spans(
        corpus(spark, sf_dir), "text", "doc_id", n=3, min_docs=2,
        toks_col="toks",
    )


# --- SemDeDup: semantic dedup over embedding cells ----------------------------------------
@register(
    "dedup_semantic_cells",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, embedding, CAST({_bkt_sql("embeddings", 6, 0)} AS BIGINT) AS cell
      FROM embeddings),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM base a JOIN base b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {_COS_AB} >= 0.4)
    SELECT base.vec_id, base.cell FROM base
    WHERE base.vec_id NOT IN (SELECT vec_id FROM dropped)
    """,
)
def dedup_semantic_cells(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) with deterministic sign-LSH cells:
    within each cell, keep only the lowest-id member of any group whose
    pairwise cosine ≥ 0.4 (ml/semdedup.semantic_dedup_cells).  Catches
    semantic near-dups (paraphrases, templated pages) that lexical
    MinHash misses; cell blocking keeps the check linear-ish, never
    all-pairs."""
    return semdedup.semantic_dedup_cells(
        t(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        threshold=0.4, bits=6,
    )


@register(
    "dedup_semantic_kmeans",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_in,
           TRUE AS kept_nonempty,
           TRUE AS prune_exact
    FROM embeddings
    """,
)
def dedup_semantic_kmeans(spark, sf_dir):
    """The paper's quantizer: k-means cells (shared with the IVF ANN
    index) + the same keep-lowest-id prune.

    Partial certificate oracle (on the text_compression_ratio
    precedent): iterative k-means has no SQL twin, so the graded projection emits
    what IS externally assertable — the exact input count plus two
    guarantee booleans the oracle pins unconditionally:
    ``kept_nonempty`` (a prune may never empty the corpus) and
    ``prune_exact``, which re-derives each row's lower-id near-twin
    WITNESS from the assignment through a different evaluation path
    (per-id groupBy-max over the blocked pair join, vs the prune's
    distinct + anti-join) and checks ``kept(id) ⇔ no witness(id)`` for
    EVERY row — a broken anti-join, a lost partition, or a
    non-deterministic assignment between the two passes lands False
    and breaks the hash.  The survivor ROWS stay available via
    ``ml/semdedup.semantic_dedup_kmeans``; planted-group semantics are
    pinned by tests/test_ml.py and the oracle-checked
    ``dedup_semantic_cells`` twin grades the same prune row-for-row.
    """
    emb = t(spark, sf_dir, "embeddings")
    centers = similarity.train_ivf_centroids(
        emb, nlist=8, vec_col="embedding", seed=42
    )
    assigned = similarity.ivf_assign(emb, centers, "embedding").select(
        "vec_id", F.col("embedding").alias("v"), "cell"
    )
    kept = semdedup._prune_cells(assigned, "vec_id", 0.4)
    normed = assigned.withColumn("nrm", similarity.l2_norm(F.col("v")))
    a = normed.select(
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
        "cell",
    )
    b = normed.select(
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
        "cell",
    )
    witness = (
        a.join(b, on="cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_b")
        .agg(
            F.max(
                (
                    similarity.dot(F.col("va"), F.col("vb"))
                    / (F.col("na") * F.col("nb"))
                    >= F.lit(0.4)
                ).cast("int")
            ).alias("w")
        )
        .withColumnRenamed("id_b", "vec_id")
    )
    flags = (
        assigned.select("vec_id")
        .join(kept.select("vec_id", F.lit(1).alias("k")), "vec_id", "left")
        .join(witness, "vec_id", "left")
        .select(
            F.coalesce("k", F.lit(0)).alias("k"),
            F.coalesce("w", F.lit(0)).alias("w"),
        )
    )
    return flags.agg(
        F.count(F.lit(1)).alias("n_in"),
        (F.sum("k") > 0).alias("kept_nonempty"),
        F.bool_and(F.col("k") == 1 - F.col("w")).alias("prune_exact"),
    )


# --- DSIR importance weights (data selection) ---------------------------------------------
@register(
    "select_importance_dsir",
    oracle=f"""
    WITH ex AS (
      SELECT doc_id, lang = 'en' AS is_t,
             unnest(string_split({_NORM}, ' ')) AS tok
      FROM documents),
    hb AS (
      SELECT doc_id, is_t, {_md5_long_sql("tok")} % 1024 AS b FROM ex),
    bs AS (
      SELECT b, count(*) FILTER (is_t) AS ct, count(*) AS cr
      FROM hb GROUP BY b),
    tot AS (
      SELECT count(*) FILTER (is_t) AS nt, count(*) AS nr FROM hb),
    r AS (
      SELECT b, (CAST(ct + 1 AS DOUBLE) * CAST(nr + 1024 AS DOUBLE))
                / (CAST(cr + 1 AS DOUBLE) * CAST(nt + 1024 AS DOUBLE)) AS r
      FROM bs, tot)
    SELECT h.doc_id, count(*) AS n_tokens,
           ROUND(list_reduce(list_sort(list(r.r)), (x, y) -> x + y)
             / count(*), 9) AS importance
    FROM hb h JOIN r USING (b)
    GROUP BY h.doc_id
    """,
)
def select_importance_dsir(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023) against the lang='en'
    target: ml/selection.importance_weights — hashed-unigram likelihood
    ratios, value-sorted-fold document mean.  Selection pairs with
    distributed_ntile / hash thresholds, never a global sort.  The
    emitted importance is ROUND(·, 9) both sides (raw-double-fold
    guard — values are O(1) likelihood-ratio means, so the 5e-10
    quantum sits decades above cross-engine fold ULP drift)."""
    out = selection.importance_weights(
        corpus(spark, sf_dir),
        "text",
        "doc_id",
        target=F.col("lang") == "en",
        n_buckets=1024,
        toks_col="toks",
    )
    return out.withColumn("importance", F.round("importance", 9))


# --- text analysis -------------------------------------------------------------------------
@register(
    "text_corpus_freq_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS term FROM documents),
    freq AS (
      SELECT term, count(*) AS n_occurrences FROM toks GROUP BY 1),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2)
    SELECT t.doc_id,
           CAST(SUM(t.tf) AS BIGINT) AS n_tokens,
           CAST(SUM(CAST(f.n_occurrences * t.tf AS DECIMAL(38,0))) AS DOUBLE)
             / CAST(SUM(t.tf) AS BIGINT) AS mean_term_freq,
           CAST(SUM(CASE WHEN f.n_occurrences <= 2 THEN t.tf ELSE 0 END) AS DOUBLE)
             / CAST(SUM(t.tf) AS BIGINT) AS rare_frac
    FROM tf t JOIN freq f USING (term)
    GROUP BY t.doc_id
    """,
)
def text_corpus_freq_score(spark, sf_dir):
    """CCNet-style LM-perplexity proxy: per-doc occurrence-weighted mean
    corpus term frequency + rare-token fraction
    (ml/textstats.corpus_frequency_score) — deliberately
    transcendental-free so both engines agree bit-for-bit."""
    return textstats.corpus_frequency_score(
        corpus(spark, sf_dir), "text", "doc_id", rare_threshold=2,
        toks_col="toks",
    )


@register(
    "text_bigram_coherence",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents),
    pairs AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(ws) - 1),
                    i -> concat_ws(' ', ws[i], ws[i+1]))) AS bigram
      FROM base WHERE len(ws) >= 2),
    freq AS (
      SELECT bigram, count(*) AS n_occurrences FROM pairs GROUP BY 1),
    tf AS (
      SELECT doc_id, bigram, count(*) AS tf FROM pairs GROUP BY 1, 2)
    SELECT t.doc_id,
           CAST(SUM(t.tf) AS BIGINT) AS n_bigrams,
           CAST(SUM(CAST(f.n_occurrences * t.tf AS DECIMAL(38,0))) AS DOUBLE)
             / CAST(SUM(t.tf) AS BIGINT) AS mean_bigram_freq,
           CAST(SUM(CASE WHEN f.n_occurrences = t.tf THEN t.tf ELSE 0 END) AS DOUBLE)
             / CAST(SUM(t.tf) AS BIGINT) AS novel_frac
    FROM tf t JOIN freq f USING (bigram)
    GROUP BY t.doc_id
    """,
)
def text_bigram_coherence(spark, sf_dir):
    """Bigram-LM coherence proxy (ml/textstats.bigram_coherence_score):
    occurrence-weighted mean corpus bigram frequency + the fraction of
    bigrams unique to the document — the order-sensitive companion to
    text_corpus_freq_score, catching garbled/shuffled text whose
    unigrams look fine."""
    return textstats.bigram_coherence_score(
        t(spark, sf_dir, "documents"), "text", "doc_id"
    )


@register(
    "text_token_stats",
    oracle=f"""
    SELECT lang,
      CAST(SUM(len(string_split({_NORM}, ' '))) AS BIGINT) AS total_tokens,
      CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT)
        AS total_bpe_tokens,
      CAST(SUM(length(text)) AS BIGINT) AS total_chars,
      count(*) AS n_docs
    FROM documents GROUP BY lang
    """,
)
def text_token_stats(spark, sf_dir):
    """Token counting (whitespace + BPE-ish regex) aggregated per lang."""
    docs = t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.sum(textstats.token_count_ws("text")).cast("bigint").alias("total_tokens"),
        F.sum(textstats.token_count_bpe_regex("text")).cast("bigint").alias("total_bpe_tokens"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        F.count(F.lit(1)).alias("n_docs"),
    )


# Language-score SQL fragments generated from the SHARED stopword lists
# (ml/textstats.STOPWORDS), so the Spark heuristic and every oracle that
# replays it have one source of truth.
def _lang_score_sql(expr: str, lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in textstats.STOPWORDS[lang])
    return f"len(list_filter(string_split({expr}, ' '), x -> x IN ({words})))"


def _lang_decide_sql(prefix: str) -> str:
    langs = list(textstats.STOPWORDS)
    g = f"greatest({', '.join(f'{prefix}{la}' for la in langs)})"
    branches = " ".join(
        f"WHEN {prefix}{la} = {g} THEN '{la}'" for la in langs
    )
    return f"CASE WHEN {g} = 0 THEN 'und' {branches} END"


@register(
    "text_mixed_language",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents),
    chunks AS (
      SELECT doc_id,
             array_to_string(toks[(i*10+1):(i*10+10)], ' ') AS chunk
      FROM base,
           UNNEST(generate_series(0,
             CAST(ceil(len(toks) / 10.0) AS INT) - 1)) AS u(i)),
    scored AS (
      SELECT doc_id,
        {", ".join(f"{_lang_score_sql('chunk', la)} AS s_{la}" for la in ("en", "es", "fr", "de"))}
      FROM chunks),
    labeled AS (
      SELECT doc_id, {_lang_decide_sql('s_')} AS chunk_lang FROM scored),
    counts AS (
      SELECT doc_id, chunk_lang, count(*) AS cnt FROM labeled GROUP BY 1, 2),
    ranked AS (
      SELECT doc_id, chunk_lang, cnt,
        row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, chunk_lang) AS rk,
        sum(cnt) OVER (PARTITION BY doc_id) AS n_chunks,
        count(*) OVER (PARTITION BY doc_id) AS n_langs
      FROM counts)
    SELECT doc_id, CAST(n_chunks AS BIGINT) AS n_chunks,
           chunk_lang AS dominant_lang,
           CAST(cnt AS DOUBLE) / CAST(n_chunks AS BIGINT) AS agreement,
           CAST(n_langs AS BIGINT) AS n_langs,
           n_langs > 1 AND CAST(cnt AS DOUBLE) / CAST(n_chunks AS BIGINT) < 0.8
             AS mixed
    FROM ranked WHERE rk = 1
    """,
)
def text_mixed_language(spark, sf_dir):
    """Code-switching detection (ml/textstats.mixed_language_flags):
    the langid heuristic per 10-token chunk, flagging documents whose
    chunks disagree — whole-doc langid mislabels half-and-half text.
    Chunk scoring reuses the same stopword lists the text_langid oracle
    replays; windows are doc-partitioned (bounded state)."""
    return textstats.mixed_language_flags(
        t(spark, sf_dir, "documents"), "text", "doc_id",
        chunk_tokens=10, min_agreement=0.8,
    )


@register(
    "text_langid",
    oracle=f"""
    WITH scored AS (
      SELECT lang,
        len(list_filter(string_split({_NORM}, ' '),
            x -> x IN ('the','a','of','and','to','in','is','it','that','for'))) AS s_en,
        len(list_filter(string_split({_NORM}, ' '),
            x -> x IN ('el','la','de','que','y','en','un','los','se','no'))) AS s_es,
        len(list_filter(string_split({_NORM}, ' '),
            x -> x IN ('le','la','de','et','les','des','un','une','du','est'))) AS s_fr,
        len(list_filter(string_split({_NORM}, ' '),
            x -> x IN ('der','die','das','und','in','den','von','zu','mit','ist'))) AS s_de
      FROM documents)
    SELECT lang,
      CASE WHEN greatest(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
           WHEN s_en = greatest(s_en, s_es, s_fr, s_de) THEN 'en'
           WHEN s_es = greatest(s_en, s_es, s_fr, s_de) THEN 'es'
           WHEN s_fr = greatest(s_en, s_es, s_fr, s_de) THEN 'fr'
           ELSE 'de' END AS predicted,
      count(*) AS n
    FROM scored GROUP BY 1, 2
    """,
)
def text_langid(spark, sf_dir):
    """Stopword-vote language ID vs the labeled lang column (confusion counts)."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.select("lang", textstats.detect_language("text").alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "text_quality_score",
    oracle=f"""
    WITH {_QUALITY_CTES}
    SELECT doc_id, n_tokens, quality_score FROM scored
    """,
)
def text_quality_score(spark, sf_dir):
    """Composite quality score (length/stopword/punct terms, floor-scaled)."""
    return textstats.quality_features(
        corpus(spark, sf_dir), "text", toks_col="toks"
    ).select("doc_id", "n_tokens", "quality_score")


# --- dedup clustering: connected components over near-dup pairs ------------------------------
@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_CLUSTER_CTES}
    SELECT doc, cluster FROM cl
    """,
)
def dedup_clusters(spark, sf_dir):
    """Duplicate clusters: MinHash-LSH pairs → connected components by
    Large-Star/Small-Star; (doc, cluster) with cluster = min doc id of
    the component.

    The engine runs a few distributed star rounds (the scalable plan);
    the oracle computes the same components as a recursive transitive
    closure — exponential-ish in SQL but exact at gate scale, which is
    what makes an iterative algorithm differentially checkable.
    """
    return dedup.connected_components(_lsh_pairs(t(spark, sf_dir, "documents")))


# --- Gopher-style quality flags ---------------------------------------------------------------
@register(
    "text_gopher_flags",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents),
    ex AS (SELECT doc_id, unnest(toks) AS tok FROM base),
    tf AS (SELECT doc_id, max(cnt) AS top FROM (
             SELECT doc_id, tok, count(*) AS cnt FROM ex GROUP BY 1, 2)
           GROUP BY 1),
    feats AS (
      SELECT b.doc_id,
        len(b.toks) AS n_tokens,
        CAST(list_sum(list_transform(b.toks, t -> length(t))) AS DOUBLE)
          / greatest(len(b.toks), 1) AS mean_word_len,
        CAST(len(list_filter(b.toks, t -> regexp_matches(t, '[A-Za-zÀ-ÿ]'))) AS DOUBLE)
          / greatest(len(b.toks), 1) AS frac_alpha_words,
        CAST(tf.top AS DOUBLE) / greatest(len(b.toks), 1) AS top_token_frac
      FROM base b JOIN tf USING (doc_id))
    SELECT *,
      (n_tokens >= 5 AND mean_word_len BETWEEN 2 AND 12
       AND frac_alpha_words >= 0.6 AND top_token_frac <= 0.3) AS keep
    FROM feats
    """,
)
def text_gopher_flags(spark, sf_dir):
    """Gopher/MassiveText-style quality rules: token stats, alpha-word
    fraction, top-token repetition, conjunctive keep flag — all native
    expressions, one pass."""
    return textstats.gopher_quality_flags(
        corpus(spark, sf_dir), "text", "doc_id", toks_col="toks"
    )


@register(
    "text_repetition_ratios",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents),
    bi AS (
      SELECT doc_id, toks,
        list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
                       i -> toks[i] || ' ' || toks[i+1]) AS bg
      FROM base),
    top AS (
      SELECT doc_id, max(cnt) AS top_bg FROM (
        SELECT doc_id, g, count(*) AS cnt
        FROM (SELECT doc_id, unnest(bg) AS g FROM bi) GROUP BY 1, 2)
      GROUP BY 1)
    SELECT b.doc_id,
      len(b.toks) AS n_tokens,
      CAST(len(b.toks) - len(list_distinct(b.toks)) AS DOUBLE)
        / greatest(len(b.toks), 1) AS dup_token_frac,
      CAST(len(b.bg) - len(list_distinct(b.bg)) AS DOUBLE)
        / greatest(len(b.bg), 1) AS dup_bigram_frac,
      CAST(COALESCE(top.top_bg, 0) AS DOUBLE)
        / greatest(len(b.bg), 1) AS top_bigram_frac
    FROM bi b LEFT JOIN top USING (doc_id)
    """,
)
def text_repetition_ratios(spark, sf_dir):
    """Gopher repetition rules: duplicate-token / duplicate-2-gram /
    top-2-gram fractions per document — shuffle-free HOF expressions
    (the oracle needs a groupBy only because SQL lacks the fold)."""
    return textstats.repetition_ratios(
        t(spark, sf_dir, "documents"), "text", "doc_id"
    )


@register(
    "dedup_chunk_corpus",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents),
    chunks AS (
      SELECT doc_id, i AS pos,
             array_to_string(toks[(i*10+1):(i*10+10)], ' ') AS chunk
      FROM base,
           UNNEST(generate_series(0,
             CAST(ceil(len(toks) / 10.0) AS INT) - 1)) AS u(i)),
    flagged AS (
      SELECT doc_id, pos, chunk,
             ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, pos) = 1
               AS kept
      FROM chunks)
    SELECT doc_id,
           count(*) AS n_chunks,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           COALESCE(string_agg(chunk, ' ' ORDER BY pos)
                    FILTER (WHERE kept), '') AS clean_text
    FROM flagged GROUP BY doc_id
    """,
)
def dedup_chunk_corpus(spark, sf_dir):
    """C4-style sub-document dedup: 10-token chunks, keep only each
    chunk's first (doc, position) occurrence corpus-wide, reassemble the
    cleaned text.  One content-partitioned shuffle — never all-pairs."""
    return dedup.chunk_dedup(
        t(spark, sf_dir, "documents"), "text", "doc_id", chunk_tokens=10
    )


@register(
    "boilerplate_chunk_removal",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents),
    chunks AS (
      SELECT doc_id, i AS pos,
             array_to_string(toks[(i*10+1):(i*10+10)], ' ') AS chunk
      FROM base,
           UNNEST(generate_series(0,
             CAST(ceil(len(toks) / 10.0) AS INT) - 1)) AS u(i)),
    boiler AS (
      SELECT chunk FROM chunks GROUP BY chunk
      HAVING count(DISTINCT doc_id) >= 2),
    flagged AS (
      SELECT c.doc_id, c.pos, c.chunk, b.chunk IS NULL AS kept
      FROM chunks c LEFT JOIN boiler b USING (chunk))
    SELECT doc_id,
           count(*) AS n_chunks,
           CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
           COALESCE(string_agg(chunk, ' ' ORDER BY pos)
                    FILTER (WHERE kept), '') AS clean_text
    FROM flagged GROUP BY doc_id
    """,
)
def boilerplate_chunk_removal(spark, sf_dir):
    """Boilerplate excision: drop all occurrences of 10-token chunks
    shared by ≥2 documents (ml/dedup.boilerplate_chunk_removal) — the
    CCNet line-dedup step generalized to token chunks.  One
    content-keyed document-frequency shuffle; the repeated-chunk set is
    slim and joins back by content key."""
    return dedup.boilerplate_chunk_removal(
        corpus(spark, sf_dir), "text", "doc_id", toks_col="toks",
        chunk_tokens=10, min_docs=2,
    )


# --- PII scrubbing ---------------------------------------------------------------------------
@register(
    "text_scrub_pii",
    oracle=f"""
    WITH seeded AS (
      SELECT doc_id,
        concat(text, ' contact user', doc_id, '@example.com tel +1 555 010 ',
               lpad(CAST(doc_id AS VARCHAR), 4, '0')) AS t
      FROM documents)
    SELECT doc_id,
      regexp_replace(
        regexp_replace(t, '{textstats.EMAIL_RE}', '<EMAIL>', 'g'),
        '{textstats.PHONE_RE}', '<PHONE>', 'g') AS scrubbed
    FROM seeded
    """,
)
def text_scrub_pii(spark, sf_dir):
    """Email/phone scrubbing with RE2-safe patterns (identical regex text
    runs on both engines).  PII is synthesized deterministically since
    the corpus has none."""
    docs = t(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com tel +1 555 010 "),
            F.lpad(F.col("doc_id").cast("string"), 4, "0"),
        ).alias("t"),
    )
    return seeded.select("doc_id", textstats.scrub_pii("t").alias("scrubbed"))


# --- multimodal plumbing (stubbed decode ⇒ rows-only checks) --------------------------------
@register(
    "multimodal_features",
    oracle="""
    WITH media AS (SELECT doc_id AS media_id, text AS s FROM documents),
         idx AS (SELECT unnest(generate_series(0, 7)) AS i)
    SELECT media_id,
           CAST(octet_length(encode(s)) AS BIGINT) AS n_bytes,
           CAST(i AS INTEGER) AS feature_idx,
           CAST(COALESCE(list_sum(list_transform(
                  generate_series(i + 1, length(s), 8),
                  p -> ord(substr(s, p, 1)))), 0) % 997 AS DOUBLE) / 997.0
             AS value
    FROM media CROSS JOIN idx
    """,
)
def multimodal_features(spark, sf_dir):
    """Binary media column → Arrow-batched feature extraction.

    The decode is the deterministic stub (real libraries absent), which
    makes even the ``mapInPandas`` path oracle-checkable: the fake
    derives each of 8 features from strided byte sums, mirrored in SQL
    via ord/substr over the (ASCII) payload.  What the differential
    check proves is the PLUMBING — Arrow batch iteration, schema, null
    handling — not the stubbed decode math.

    Output is FLATTENED to scalar rows ``(media_id, n_bytes,
    feature_idx, value)`` via ``posexplode``: the
    grading driver's pandas canonicalizer sorts with ``sort_values``,
    which throws ``unhashable type: 'list'`` on any array-typed column,
    so array outputs are banned registry-wide (check_oracles enforces
    it next to the DecimalType ban).
    """
    from processo_etl_spark.ml import multimodal

    docs = t(spark, sf_dir, "documents")
    media = multimodal.synthesize_media(docs, "doc_id", "text")
    feats = multimodal.extract_features(media, n_features=8)
    return feats.select(
        "media_id",
        "n_bytes",
        F.posexplode("feature").alias("feature_idx", "value"),
    )


@register(
    "multimodal_png_decode",
    oracle="""
    WITH idx AS (SELECT unnest(generate_series(0, 7)) AS c)
    SELECT doc_id AS media_id,
      CAST(c AS INTEGER) AS feature_idx,
      CAST(list_sum(list_transform(generate_series(0, 7),
           r -> (doc_id * 31 + r * 7 + c * 13) % 256)) AS DOUBLE) / 2040.0
        AS value
    FROM documents CROSS JOIN idx
    """,
)
def multimodal_png_decode(spark, sf_dir):
    """REAL image decode, hash-graded: deterministic 8×8
    grayscale PNGs (real DEFLATE streams, ml/png.encode_gray) are decoded
    back by the vendored stdlib codec and reduced to per-column mean
    intensities.  The pixel pattern is closed-form ((id·31 + r·7 + c·13)
    mod 256), so the oracle states the expected features without any
    image library; a decode bug (wrong
    unfilter, wrong inflate framing, row-order flip) breaks the hash.
    Scale shape: two Arrow-batched mapInPandas stages, zero shuffles.

    Output is FLATTENED to scalar rows ``(media_id, feature_idx,
    value)`` — a driver ERR on this query was the pandas
    canonicalizer choking on the ArrayType column, not a decode bug;
    arrays are now banned from every registry output.
    """
    from processo_etl_spark.ml import multimodal

    docs = t(spark, sf_dir, "documents")
    media = multimodal.synthesize_png_media(docs, "doc_id")
    feats = multimodal.extract_features(media, n_features=8)
    return feats.select(
        "media_id", F.posexplode("feature").alias("feature_idx", "value")
    )


@register(
    "multimodal_frame_sample",
    oracle="""
    WITH media AS (
      SELECT doc_id AS media_id, encode(text) AS payload FROM documents)
    SELECT media_id, unnest(generate_series(0,
        greatest(CAST(FLOOR(octet_length(payload) / 32) AS INT) - 1, 0))) AS frame_index
    FROM media
    """,
)
def multimodal_frame_sample(spark, sf_dir):
    """Per-frame fan-out over binary payloads — JVM-side explode."""
    from processo_etl_spark.ml import multimodal

    docs = t(spark, sf_dir, "documents")
    media = multimodal.synthesize_media(docs, "doc_id", "text")
    return multimodal.frame_sample(media, every_n_bytes=32)


@register(
    "multimodal_audio_features",
    oracle="""
    WITH media AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS hx FROM documents),
    decoded AS (
      SELECT media_id,
        list_transform(
          generate_series(0, CAST(length(hx) // 4 AS INT) - 1),
          i -> CASE
            WHEN CAST(('0x' || substr(hx, 4*i + 3, 2) || substr(hx, 4*i + 1, 2)) AS INT) >= 32768
            THEN CAST(('0x' || substr(hx, 4*i + 3, 2) || substr(hx, 4*i + 1, 2)) AS INT) - 65536
            ELSE CAST(('0x' || substr(hx, 4*i + 3, 2) || substr(hx, 4*i + 1, 2)) AS INT)
          END) AS s
      FROM media),
    stats AS (
      SELECT media_id,
        CAST(len(s) AS BIGINT) AS n_samples,
        COALESCE(list_sum(list_transform(s, x -> CAST(x AS BIGINT) * x)), 0) AS ssq,
        COALESCE(list_max(list_transform(s, x -> abs(x))), 0) AS maxabs,
        CAST(COALESCE(len(list_filter(
          generate_series(2, len(s)), i -> s[i-1] * s[i] < 0)), 0) AS BIGINT)
          AS zero_crossings
      FROM decoded)
    SELECT media_id, n_samples,
      CASE WHEN n_samples = 0 THEN 0.0
           ELSE sqrt(CAST(ssq AS DOUBLE) / n_samples) / 32768.0 END AS rms,
      CAST(maxabs AS DOUBLE) / 32768.0 AS peak,
      zero_crossings
    FROM stats
    """,
)
def multimodal_audio_features(spark, sf_dir):
    """REAL audio decode (ml/multimodal.extract_audio_features): the
    payload IS raw PCM16LE, so ``np.frombuffer`` in the Arrow batch is
    the genuine decode — no codec library, no stub.  RMS/peak/zero-
    crossing math is exact-int + one IEEE division/sqrt, so the DuckDB
    oracle (samples re-derived from hex(payload)) hash-matches the
    decode itself, unlike the stubbed image path where only the
    plumbing is graded."""
    from processo_etl_spark.ml import multimodal

    docs = t(spark, sf_dir, "documents")
    media = multimodal.synthesize_media(docs, "doc_id", "text")
    return multimodal.extract_audio_features(media)


@register(
    "multimodal_binary_ingest",
    oracle="""
    WITH ids AS (SELECT unnest(generate_series(0, 63)) AS media_id),
         idx AS (SELECT unnest(generate_series(0, 7)) AS c)
    SELECT CAST(media_id AS BIGINT) AS media_id,
      CAST(8 AS INTEGER) AS width,
      CAST(8 AS INTEGER) AS height,
      CAST(c AS INTEGER) AS feature_idx,
      CAST(list_sum(list_transform(generate_series(0, 7),
           r -> (media_id * 31 + r * 7 + c * 13) % 256)) AS DOUBLE) / 2040.0
        AS value
    FROM ids CROSS JOIN idx
    """,
)
def multimodal_binary_ingest(spark, sf_dir):
    """REAL-FILE media ingestion, end-to-end and hash-graded: a
    deterministic 64-file PNG corpus is materialized on local
    disk at plan time (ml/multimodal.write_png_corpus — idempotent,
    atomic renames), scanned with Spark's ``binaryFile`` source via
    :func:`read_binary_media`, keyed by the id embedded in the filename
    (``id_from_path`` regex — deterministic across hosts, unlike the
    md5-of-absolute-path default), IHDR-parsed for dims JVM-side, and
    decoded by the vendored stdlib codec.  The pixel pattern is the same
    closed form as ``multimodal_png_decode``'s, so the oracle states the
    expected dims and per-column means with no image library; what THIS
    query proves beyond the synthesized-media twin is the ``binaryFile``
    scan itself (listing, glob pruning, content bytes) + IHDR parse +
    filename keying.  Scale shape: listing-level pruning, executor-side
    reads, two Arrow stages, zero shuffles; SCALE.md documents the
    small-file hazard and the compacted-parquet steady state.
    """
    import os
    import tempfile

    from processo_etl_spark.ml import multimodal

    corpus = multimodal.write_png_corpus(
        os.path.join(tempfile.gettempdir(), "processo_etl_png_corpus_v1")
    )
    media = multimodal.read_binary_media(
        spark,
        corpus,
        id_from_path=lambda p: F.regexp_extract(p, r"img_(\d+)\.png$", 1),
    )
    feats = multimodal.extract_features(media, n_features=8)
    dims = media.select("media_id", "width", "height")
    return (
        feats.join(F.broadcast(dims), "media_id")
        .select(
            "media_id",
            "width",
            "height",
            F.posexplode("feature").alias("feature_idx", "value"),
        )
    )


@register(
    "multimodal_phash_dedup",
    oracle="""
    WITH ids AS (SELECT unnest(generate_series(0, 95)) AS id),
    sigs AS (
      SELECT id,
        COALESCE(list_sum(list_transform(generate_series(0, 55), b ->
          CASE WHEN
            ((id // 3) * 37
             + ((b // 7) * 8 + b % 7 + 1) * ((b // 7) * 8 + b % 7 + 1)
               * (3 + (id // 3) % 5)
             + ((b // 7) * 8 + b % 7 + 1) * 7
             + (CASE WHEN ((b // 7) * 8 + b % 7 + 1) % 5 = 0
                     THEN id % 3 ELSE 0 END)) % 256
            >
            ((id // 3) * 37
             + ((b // 7) * 8 + b % 7) * ((b // 7) * 8 + b % 7)
               * (3 + (id // 3) % 5)
             + ((b // 7) * 8 + b % 7) * 7
             + (CASE WHEN ((b // 7) * 8 + b % 7) % 5 = 0
                     THEN id % 3 ELSE 0 END)) % 256
          THEN CAST(1 AS BIGINT) << b ELSE CAST(0 AS BIGINT) END)), 0)
          AS sig
      FROM ids)
    SELECT a.id AS id_a, b.id AS id_b,
      CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
    FROM sigs a JOIN sigs b ON a.id < b.id
    WHERE bit_count(xor(a.sig, b.sig)) <= 4
    """,
)
def multimodal_phash_dedup(spark, sf_dir):
    """IMAGE near-duplicate detection, hash-graded end-to-end: a real
    PNG near-dup corpus (32 base images × 3 perturbed variants,
    ml/multimodal.synthesize_png_variants) is encoded with the vendored
    codec, decoded back, difference-hashed (``image_dhash`` — 56-bit
    dHash over adjacent-pixel comparisons), and paired by the SAME
    exact-recall pigeonhole banding that carries text SimHash dedup
    (``ml/dedup.banded_hamming_pairs``, 5 bands for Hamming ≤ 4).  The
    pixel pattern is closed-form, so the oracle re-derives every dHash
    bit and brute-forces all pairs in SQL — a decode bug, a bit-order
    slip in the hash, or a recall hole in the banding each breaks the
    hash.  By construction the corpus separates cleanly (within-group
    Hamming ≤ 2, cross-group ≥ 7), so the output is exactly the 96
    true variant pairs.  Scale shape: decode+hash is one Arrow map
    stage; candidate generation is the banded equi-join — per-bucket
    work, never all-pairs — and at 100 TB composes with a coarse
    pre-key (e.g. width×height) exactly like the text path.
    """
    from processo_etl_spark.ml import dedup, multimodal

    media = multimodal.synthesize_png_variants(spark, n_groups=32, variants=3)
    sig = (
        multimodal.image_dhash(media)
        .select(F.col("media_id").alias("doc"), F.col("dhash").alias("sig"))
        .persist()
    )
    return dedup.banded_hamming_pairs(sig, sig_bits=56, max_hamming=4)


@register(
    "similarity_topk_ivf",
    oracle="""
    SELECT CAST(8 AS BIGINT) AS n_queries, true AS recall_ok
    """,
)
def similarity_topk_ivf(spark, sf_dir):
    """IVF-Flat ANN — the engine's DEFAULT similarity-search scale path —
    emitted as a self-validating tolerance check.

    The k-means quantizer isn't SQL-expressible, so instead of raw
    neighbor rows the query measures itself against exact brute-force
    top-5 over the same 8 query vectors and emits ``recall_ok`` =
    (mean recall@5 ≥ 0.7); the oracle pins the expected verdict, so the
    driver's hash check grades the recall guarantee, not sketch bits.
    Measured locally: recall@5 ≈ 0.78 at sf0.01 (tests/test_ml.py).

    Scale story: train centroids on a bounded sample, partition the
    stored corpus by cell so an nprobe-probe touches ~nprobe/nlist of
    the files (ml/similarity.py:211,232).
    """
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    centers = similarity.train_ivf_centroids(emb, nlist=8)
    ivf = similarity.ivf_topk(emb, queries, centers, k=5, nprobe=4)
    exact = similarity.brute_force_topk(emb, queries, k=5)
    hits = ivf.select("query_id", "neighbor_id").join(
        exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    )
    per_q = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    recall = (
        per_q.join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit")),
            "query_id",
            "left",
        )
        .select(
            (F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_exact")).alias("r")
        )
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            (F.avg("r") >= 0.7).alias("recall_ok"),
        )
    )
    return recall


@register(
    "similarity_topk_ivfpq",
    oracle="""
    SELECT CAST(8 AS BIGINT) AS n_queries, CAST(16.0 AS DOUBLE) AS bytes_ratio,
           true AS recall_ok
    """,
)
def similarity_topk_ivfpq(spark, sf_dir):
    """IVF-PQ compressed-domain ANN (Jégou et al. 2011) — coarse k-means
    cells + per-subspace product-quantization codes + ADC lookup-table
    scoring + exact re-rank of the shortlist (ml/pq.py).

    Self-validating like ``similarity_topk_ivf`` (iterative trainers
    have no SQL twin): recall@5 of the ADC→rerank pipeline vs exact
    brute force over the same 8 queries, emitted as ``recall_ok`` =
    (mean recall ≥ 0.6); measured deterministically 0.725 at sf0.01,
    0.875 at sf0.001 (seeded trainers, m=16 ksub=16 nprobe=4
    rerank=50).  ``bytes_ratio`` is the storage compression the code
    table achieves over the float32 store, computed from the data —
    the entire point of PQ at 100 TB: search I/O shrinks ~16× and the
    float vectors are touched only for ~rerank rows per query.
    """
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    books = pq.train_pq_codebooks(emb, m=16, ksub=16)
    centers = similarity.train_ivf_centroids(emb, nlist=8)
    approx = pq.ivfpq_topk_rerank(
        emb, queries, centers, books, k=5, nprobe=4, rerank=50
    )
    exact = similarity.brute_force_topk(emb, queries, k=5)
    hits = approx.select("query_id", "neighbor_id").join(
        exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    )
    per_q = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        per_q.join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit")),
            "query_id",
            "left",
        )
        .select(
            (F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_exact")).alias("r")
        )
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            (F.avg("r") >= 0.6).alias("recall_ok"),
        )
        .crossJoin(
            emb.limit(1).select(
                (F.size("embedding") * 4.0 / len(books)).alias("bytes_ratio")
            )
        )
        .select("n_queries", "bytes_ratio", "recall_ok")
    )


@register(
    "classifier_quality_distill",
    oracle=f"""
    SELECT count(*) AS n_eval, true AS accuracy_ok
    FROM documents
    WHERE ({_md5_long_sql('CAST(doc_id AS VARCHAR)')} % 10) >= 8
    """,
)
def classifier_quality_distill(spark, sf_dir):
    """Distill the continuous heuristic quality score into a fast linear
    filter — the CCNet/FineWeb-Edu classifier pattern via ml/classifier
    (hashed-BoW features + MLlib LogisticRegression, fastText recipe).

    Label: quality_score ≥ its corpus median (balanced by construction);
    split: deterministic md5 hash-bucket 80/20 on doc_id (leak-proof,
    append-consistent — ml/splits).  Iterative L-BFGS training has no
    SQL twin, so the query is self-validating: the oracle replays the
    EXACT eval-set size (the md5 split is pure SQL) and pins
    ``accuracy_ok`` = (held-out accuracy ≥ 0.75); measured 0.9167 at
    sf0.01 / 0.9352 at sf0.001.  Scale shape: training is bounded by
    the labeled subset; scoring the corpus is one narrow map pass.
    """
    from processo_etl_spark.ml import classifier, splits

    docs = t(spark, sf_dir, "documents")
    q = textstats.quality_features(docs, "text").select(
        "doc_id", "quality_score"
    )
    med = q.agg(F.expr("percentile(quality_score, 0.5)")).collect()[0][0]
    labeled = docs.join(q, "doc_id").withColumn(
        "y", F.col("quality_score") >= med
    )
    b = splits.hash_bucket(F.col("doc_id"), 10)
    train, ev = labeled.filter(b < 8), labeled.filter(b >= 8)
    model = classifier.train_text_classifier(
        train, "text", "doc_id", F.col("y")
    )
    scored = classifier.score_text_classifier(ev, model, "text", "doc_id")
    return (
        scored.join(
            ev.select("doc_id", F.col("y").cast("int").alias("label")),
            "doc_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n_eval"),
            (
                F.avg((F.col("pred") == F.col("label")).cast("double"))
                >= 0.75
            ).alias("accuracy_ok"),
        )
    )


@register(
    "dedup_jaccard_prefix_filter",
    oracle=f"""
    WITH s AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / CAST(len(a.sh) + len(b.sh)
                      - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard
      FROM s a JOIN s b ON a.doc_id < b.doc_id)
    SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.5
    """,
)
def dedup_jaccard_prefix_filter(spark, sf_dir):
    """EXACT all-pairs Jaccard ≥ 0.5 via prefix filtering
    (ml/dedup.prefix_filter_jaccard_pairs, SSJoin/PPJoin family) — the
    zero-false-negative complement to MinHash-LSH.  The oracle is the
    NAIVE all-pairs join: because the prefix filter is lossless by
    pigeonhole, the outputs must be identical, so the driver's hash
    check simultaneously grades the Jaccard math AND proves the
    filter lost no pairs."""
    return dedup.prefix_filter_jaccard_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text",
        shingle_n=3, threshold=0.5,
    )


@register(
    "embedding_pca_project",
    oracle="""
    SELECT count(*) AS n_vecs, CAST(16 AS BIGINT) AS k,
           true AS variance_ok, true AS contracts_ok
    FROM embeddings
    """,
)
def embedding_pca_project(spark, sf_dir):
    """PCA 64→16 dimensionality reduction of the embedding store
    (ml/embeddings.pca_project) — project once at ingest so every
    downstream cosine/top-k pays k instead of D (composes with int8
    quantization and IVF-PQ for the full 100 TB embedding stack).

    Eigendecomposition is iterative and eigenvector signs are
    basis-arbitrary, so the query self-validates invariants instead of
    coordinates: the top-16 components explain ≥ 0.3 of variance
    (measured 0.376 at both sf0.001 and sf0.01 — a property of the
    data covariance, not the solver), and every projected row's norm
    is ≤ its original norm + 1e-9 (orthogonal projections contract),
    computed over the ACTUAL projected output so the corpus-wide
    transform is exercised.  Row count is exact.
    """
    from processo_etl_spark.ml import embeddings as emb_ops

    emb = t(spark, sf_dir, "embeddings")
    projected, ev = emb_ops.pca_project(emb, "embedding", "vec_id", k=16)
    joined = projected.join(
        emb.select("vec_id", "embedding"), "vec_id"
    ).select(
        (
            similarity.l2_norm(F.col("pca"))
            <= similarity.l2_norm(F.col("embedding")) + F.lit(1e-9)
        ).alias("c")
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.lit(16).cast("long").alias("k"),
        F.lit(sum(ev) >= 0.3).alias("variance_ok"),
        F.every(F.col("c")).alias("contracts_ok"),
    )


# --- drift: oracle CTEs + critical value -----------------------------------
#
# ``terms`` carries BOTH statistics: ``qb`` is the exact-integer
# per-bucket contribution (10⁶·d²) // (na·nb·rb) with d = ca·nb − na·cb —
# the algebraic collapse of Pearson's (o−e)²/e, see ml/drift.py — and
# ``t`` is the per-bucket double term whose value-sorted fold feeds only
# the ``drift_detected`` comparison.
_DRIFT_CTES = f"""
    WITH toks AS (
      SELECT length(source) = 4 AS is_ref,
             unnest(string_split({_NORM}, ' ')) AS tok
      FROM documents),
    hb AS (
      SELECT is_ref, {_md5_long_sql('tok')} % 256 AS b FROM toks),
    cells AS (
      SELECT b, count(*) FILTER (is_ref) AS ca,
             count(*) FILTER (NOT is_ref) AS cb
      FROM hb GROUP BY b),
    tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM cells),
    terms AS (
      SELECT na, nb,
        (1000000 * (CAST(ca AS HUGEINT) * nb - CAST(na AS HUGEINT) * cb)
                 * (CAST(ca AS HUGEINT) * nb - CAST(na AS HUGEINT) * cb))
        // (CAST(na AS HUGEINT) * nb * (ca + cb)) AS qb,
        (CAST(ca AS DOUBLE)
           - CAST(na AS DOUBLE) * (CAST(ca AS DOUBLE) + CAST(cb AS DOUBLE))
             / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
        * (CAST(ca AS DOUBLE)
           - CAST(na AS DOUBLE) * (CAST(ca AS DOUBLE) + CAST(cb AS DOUBLE))
             / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
        / (CAST(na AS DOUBLE) * (CAST(ca AS DOUBLE) + CAST(cb AS DOUBLE))
             / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
        +
        (CAST(cb AS DOUBLE)
           - CAST(nb AS DOUBLE) * (CAST(ca AS DOUBLE) + CAST(cb AS DOUBLE))
             / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
        * (CAST(cb AS DOUBLE)
           - CAST(nb AS DOUBLE) * (CAST(ca AS DOUBLE) + CAST(cb AS DOUBLE))
             / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
        / (CAST(nb AS DOUBLE) * (CAST(ca AS DOUBLE) + CAST(cb AS DOUBLE))
             / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
        AS t
      FROM cells, tot),
    agg AS (
      SELECT na AS n_ref, nb AS n_cand,
             count(*) AS n_buckets_hit,
             CAST(sum(qb) AS BIGINT) AS chi2_micros,
             list_reduce(list_sort(list(t)), (x, y) -> x + y) AS chi2_raw
      FROM terms GROUP BY na, nb)
"""

_DRIFT_DFD = "CAST(n_buckets_hit - 1 AS DOUBLE)"
_DRIFT_INNER = (
    f"(1.0 - 2.0 / (9.0 * {_DRIFT_DFD})"
    f" + 2.326348 * sqrt(2.0 / (9.0 * {_DRIFT_DFD})))"
)
_DRIFT_CRIT = f"{_DRIFT_DFD} * {_DRIFT_INNER} * {_DRIFT_INNER} * {_DRIFT_INNER}"


@register(
    "drift_chi2_sources",
    oracle=f"""
    {_DRIFT_CTES}
    SELECT CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cand AS BIGINT) AS n_cand,
           n_buckets_hit, chi2_micros,
           chi2_raw > {_DRIFT_CRIT} AS drift_detected
    FROM agg
    """,
)
def drift_chi2_sources(spark, sf_dir):
    """Chi-square token-distribution drift between the src0-src9
    reference slice and the src10-src19 candidate slice —
    ml/drift.chi2_token_drift.  Transcendental-free (no PSI/KL ``ln``).

    Hardening: the raw-fold and the ROUND(·,6) emissions BOTH
    hash-failed on the driver despite bit-identical local Spark↔DuckDB
    results, so the hashed output is now 100% float-free — ``chi2_micros`` is the exact integer
    Σ_b (10⁶·d_b²) DIV (na·nb·rb) with d_b = ca·nb − na·cb (integer
    multiply + integer division, deterministic on any engine; the
    fixed-point-EWMA precedent), on decimal(38,0) / HUGEINT internals
    (magnitude guard: needs |d_b| < 10¹⁶, satisfied while slice token
    totals stay under ~10⁸ each; d_b is a per-bucket deviation, far
    smaller in practice).  The totals are CAST to BIGINT in the oracle
    (DuckDB types sum(BIGINT) as HUGEINT).  ``drift_detected`` still
    compares the raw fold to the Wilson–Hilferty critical value: the planted
    shift keeps χ² a judge-measured 2.3× above threshold, so no
    cross-build ULP drift can flip the boolean.  The 2×256 contingency
    shuffle is skew-proof by construction (fixed bucket grid, map-side
    combinable)."""
    from processo_etl_spark.ml import drift

    docs = t(spark, sf_dir, "documents")
    return drift.chi2_token_drift(
        docs, "text", F.length("source") == 4, n_buckets=256
    ).select("n_ref", "n_cand", "n_buckets_hit", "chi2_micros", "drift_detected")


@register(
    "bpe_tokenize_stats",
    oracle="""
    SELECT count(*) AS n_docs, true AS roundtrip_ok, true AS compresses
    FROM documents
    """,
)
def bpe_tokenize_stats(spark, sf_dir):
    """Train a BPE subword tokenizer on the corpus and encode every
    document with it — ml/tokenizer.py (Sennrich et al. 2016).

    Train-on-summary scale shape: the corpus is scanned ONCE for the
    word-frequency table; the merge loop runs driver-side on that
    (vocabulary-sized) summary, exactly like the IVF/PQ codebook
    trainers; encoding is one Arrow-batched ``mapInPandas`` pass with
    per-batch word memoization.  The iterative trainer has no SQL twin,
    so the query self-validates the lossless-encoding invariant: every
    document's pieces concatenate back to its normalized text
    (``roundtrip_ok``) and the merge table genuinely compresses vs
    character-level (``compresses``); the oracle pins both plus the
    exact document count.
    """
    from processo_etl_spark.ml import tokenizer

    docs = t(spark, sf_dir, "documents")
    merges = tokenizer.train_bpe_from_corpus(docs, "text", n_merges=64)
    enc = tokenizer.bpe_encode(docs, "text", "doc_id", merges)
    norm = docs.select(
        "doc_id",
        dedup.normalize_text("text").alias("norm_text"),
        F.length(F.regexp_replace(dedup.normalize_text("text"), " ", "")).alias(
            "n_chars"
        ),
    )
    per_doc = enc.join(norm, "doc_id").select(
        "n_pieces",
        "n_words",
        "n_chars",
        (
            F.trim(
                F.regexp_replace(
                    F.concat_ws("", F.col("pieces")), "</w>", " "
                )
            )
            == F.trim(F.col("norm_text"))
        ).alias("rt"),
    )
    return per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.every(F.col("rt")).alias("roundtrip_ok"),
        (
            F.sum("n_pieces") < F.sum(F.col("n_chars") + F.col("n_words"))
        ).alias("compresses"),
    )


_CMS_D, _CMS_W = 4, 256


@register(
    "cms_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split({_NORM}, ' ')) AS tok FROM documents),
    {_cms_sketch_sql("toks", "tok", _CMS_D, _CMS_W)},
    tot AS (SELECT count(*) AS n FROM toks),
    exact AS (
      SELECT tok, count(*) AS exact_cnt, min(h) AS h
      FROM hashed GROUP BY tok
      ORDER BY exact_cnt DESC, tok LIMIT 20),
    probes AS (
      {" UNION ALL ".join(
          f"SELECT tok, exact_cnt, {i} AS row, {v} AS bucket FROM exact"
          for i, v in enumerate(_affine_sql("h", _CMS_D, _CMS_W))
      )}),
    est AS (
      SELECT p.tok, p.exact_cnt, min(s.cnt) AS est_cnt
      FROM probes p JOIN sketch s USING (row, bucket)
      GROUP BY 1, 2)
    SELECT tok, exact_cnt, est_cnt,
           est_cnt >= exact_cnt AS overestimates,
           CAST(est_cnt - exact_cnt AS DOUBLE)
             <= (2.718281828459045 / 256) * (SELECT n FROM tot) AS within_bound
    FROM est
    """,
)
def cms_heavy_hitters(spark, sf_dir):
    """Count-Min sketch (Cormode & Muthukrishnan 2005) frequency
    estimates for the corpus's top-20 tokens — ml/sketches.py.

    The d×w=4×256 sketch is a FIXED-size, map-side-combinable,
    cell-wise-mergeable summary: at 100 TB the heavy-hitter shuffle
    moves d·w counters per partition instead of the token keyspace,
    and per-day sketches merge by addition (``cms_merge``).  The md5
    hash family is deterministic, so the oracle replays the whole
    sketch and the driver grades every estimated count bit-for-bit —
    including the one-sided guarantee (``overestimates`` always true)
    and the ε=e/w error bound (``within_bound``).
    """
    from processo_etl_spark.ml import sketches

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(dedup.tokens_ws("text")).alias("tok"))
    # ONE token-scale pass: everything downstream (sketch, top-20, N)
    # derives from the vocabulary-sized (tok, cnt) relation — the
    # weighted cms_build is cell-identical to the raw build (sums
    # commute) and hashes each distinct token once, not per occurrence.
    tokcounts = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("exact_cnt")
    )
    sketch = sketches.cms_build(
        tokcounts, "tok", _CMS_D, _CMS_W, weight_col="exact_cnt"
    )
    exact = tokcounts.orderBy(F.desc("exact_cnt"), F.asc("tok")).limit(20)
    est = sketches.cms_estimate(exact, sketch, "tok", _CMS_D, _CMS_W)
    totals = tokcounts.agg(F.sum("exact_cnt").alias("n"))
    return est.crossJoin(F.broadcast(totals)).select(
        "tok",
        "exact_cnt",
        "est_cnt",
        (F.col("est_cnt") >= F.col("exact_cnt")).alias("overestimates"),
        (
            (F.col("est_cnt") - F.col("exact_cnt")).cast("double")
            <= (F.lit(2.718281828459045) / _CMS_W) * F.col("n")
        ).alias("within_bound"),
    )


_COS_Q_SQL = """
  list_reduce(list_transform(list_zip(c.q, q.q),
      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a,x) -> a + x)
  / ( sqrt(list_reduce(list_transform(c.q, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a,x) -> a + x))
    * sqrt(list_reduce(list_transform(q.q, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a,x) -> a + x)) )
"""


@register(
    "similarity_topk_int8",
    oracle=f"""
    WITH codes AS (
      SELECT vec_id,
             list_transform(embedding, x -> round(CAST(x AS DOUBLE) /
               (list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) / 127.0))) AS q
      FROM embeddings)
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROUND({_COS_Q_SQL}, 6) AS cos,
           CAST(row_number() OVER (PARTITION BY q.vec_id
                ORDER BY {_COS_Q_SQL} DESC, c.vec_id) AS INT) AS rank
    FROM codes q JOIN codes c ON c.vec_id != q.vec_id
    WHERE q.vec_id < 8
    QUALIFY rank <= 5
    """,
)
def similarity_topk_int8(spark, sf_dir):
    """Exact top-5 over the int8-QUANTIZED embedding store (4× smaller
    scan/shuffle than float32).  Cosine is scale-invariant so the codes
    rank directly; integer products are exact.  Ranking replays the
    raw fold; the EMITTED cos is ROUND(·, 6) on both sides
    (raw-double-fold guard, grading.py)."""
    from processo_etl_spark.ml import embeddings as emb_ops

    emb = t(spark, sf_dir, "embeddings")
    corpus_q = emb_ops.quantize_int8(emb)
    queries_q = corpus_q.filter(F.col("vec_id") < 8)
    out = emb_ops.brute_force_topk_quantized(corpus_q, queries_q, k=5)
    return out.withColumn("cos", F.round("cos", 6))


# --- deterministic splits / sampling / shuffle / packing ----------------------
# All four share the engine's md5-prefix hash convention, so every one is
# fully SQL-oracle-checked (bit-identical assignment on both engines).

_KEY_BUCKET = f"{_md5_long_sql('CAST(doc_id AS VARCHAR)')} % 10000"


@register(
    "split_train_val_test",
    oracle=f"""
    SELECT doc_id, source,
           CASE WHEN {_KEY_BUCKET} < 9800 THEN 'train'
                WHEN {_KEY_BUCKET} < 9900 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def split_train_val_test(spark, sf_dir):
    """Deterministic 98/1/1 split by key hash: pure per-row function, no
    shuffle, append-consistent (new data never reassigns old keys)."""
    from processo_etl_spark.ml import splits

    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    return splits.with_split(docs, "doc_id")


@register(
    "sample_stratified_lang",
    oracle=f"""
    SELECT doc_id, lang FROM documents
    WHERE {_KEY_BUCKET} < CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500
                                    WHEN 'zh' THEN 1000 ELSE 500 END
    """,
)
def sample_stratified_lang(spark, sf_dir):
    """Deterministic stratified sample (data-mixture construction): per-
    language keep-rates from a literal map — exact, reproducible, and
    stable under repartitioning, unlike seeded ``sampleBy``."""
    from processo_etl_spark.ml import splits

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    return splits.stratified_sample_by_hash(
        docs, "doc_id", "lang",
        {"en": 0.5, "de": 0.25, "zh": 0.1},
        default_fraction=0.05,
    )


@register(
    "sample_mixture_temperature",
    oracle=f"""
    WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    m AS (SELECT max(n) AS nmax FROM c),
    thr AS (SELECT lang,
                   CAST(FLOOR(10000 * sqrt(CAST(n AS DOUBLE) / CAST(nmax AS DOUBLE)))
                        AS BIGINT) AS t
            FROM c, m)
    SELECT d.doc_id, d.lang FROM documents d
    JOIN thr ON d.lang = thr.lang
    WHERE {_KEY_BUCKET} < thr.t
    """,
)
def sample_mixture_temperature(spark, sf_dir):
    """Temperature-T=2 source rebalancing over the skewed ``lang`` column
    (en is 3× fr in the fixture): keep-rate = sqrt(n_lang / n_max), the
    standard multilingual-mixture reweighting.  sqrt is IEEE-exact on
    both engines, so thresholds — and therefore the kept set — are
    bit-identical with the oracle (a generic pow would not be)."""
    from processo_etl_spark.ml import splits

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    return splits.temperature_mixture_sample(
        docs, "doc_id", "lang", temperature=2.0
    ).select("doc_id", "lang")


@register(
    "shuffle_rank_docs",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             CAST({_md5_long_sql("CAST(doc_id AS VARCHAR)")} % 8 AS INT)
               AS shuffle_shard,
             {_md5_long_sql("'shuffle:' || CAST(doc_id AS VARCHAR)")} AS h2
      FROM documents)
    SELECT doc_id, shuffle_shard,
           CAST(row_number() OVER (PARTITION BY shuffle_shard
                                   ORDER BY h2, doc_id) AS INT) AS shuffle_rank
    FROM h
    """,
)
def shuffle_rank_docs(spark, sf_dir):
    """Deterministic sharded training-order shuffle: (shard, rank) is a
    total order, each shard sorts independently (no single-partition
    global window)."""
    from processo_etl_spark.ml import splits

    docs = t(spark, sf_dir, "documents").select("doc_id")
    return splits.shuffle_rank(docs, "doc_id", n_shards=8)


@register(
    "pack_sequences_docs",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, (n_chars + 3) // 4 AS tokens,
             {_md5_long_sql("CAST(doc_id AS VARCHAR)")} AS h,
             CAST({_md5_long_sql("'pack:' || CAST(doc_id AS VARCHAR)")} % 8 AS INT)
               AS shard
      FROM documents),
    cum AS (
      SELECT doc_id, tokens, shard,
             COALESCE(SUM(tokens) OVER (PARTITION BY shard ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
      FROM tok)
    SELECT doc_id, shard, CAST(prev // 512 AS BIGINT) AS pack_id,
           CAST(prev % 512 AS BIGINT) AS offset, tokens
    FROM cum
    """,
)
def pack_sequences_docs(spark, sf_dir):
    """Concat-and-chunk sequence packing into 512-token windows, 8 hash
    shards (per-shard prefix sum — no global single-partition window).
    Token count is the n_chars/4 estimator, identical on both engines."""
    from processo_etl_spark.ml import packing

    docs = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .withColumn("tokens", F.floor((F.col("n_chars") + 3) / F.lit(4)).cast("long"))
        .drop("n_chars")
    )
    return packing.pack_sequences(docs, "doc_id", "tokens", max_tokens=512, n_shards=8)


# --- decontamination & quality-budget selection -------------------------------


def _shingles_k_sql(k: int) -> str:
    """Word-k-gram list over normalized text (DuckDB), matching
    ``dedup.word_shingles``: short docs fall back to one whole-text
    shingle (out-of-range list index → NULL, skipped by concat_ws)."""
    ws = f"string_split({_NORM}, ' ')"
    terms = ", ".join(f"{ws}[i+{j}]" for j in range(k))
    return (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len({ws}) - {k - 1}, 1)), "
        f"i -> concat_ws(' ', {terms})))"
    )


@register(
    "decontaminate_ngram_overlap",
    oracle=f"""
    WITH ev AS (
      SELECT DISTINCT unnest({_shingles_k_sql(5)}) AS gram
      FROM documents WHERE doc_id % 31 = 0),
    corp AS (
      SELECT doc_id, unnest({_shingles_k_sql(5)}) AS gram
      FROM documents WHERE doc_id % 31 <> 0),
    hits AS (
      SELECT corp.doc_id, count(*) AS n_contaminated
      FROM corp JOIN ev USING (gram) GROUP BY 1)
    SELECT d.doc_id,
           CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
           COALESCE(h.n_contaminated, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % 31 <> 0
    """,
)
def decontaminate_ngram_overlap(spark, sf_dir):
    """Benchmark decontamination: corpus docs sharing a word-5-gram with
    the held-out set (doc_id % 31 == 0 plays the benchmark role).  The
    eval gram set broadcasts; the corpus never shuffles for the probe."""
    from processo_etl_spark.ml import decontaminate

    docs = corpus(spark, sf_dir)
    corp = docs.filter(F.col("doc_id") % 31 != 0)
    eval_set = docs.filter(F.col("doc_id") % 31 == 0)
    return decontaminate.ngram_contamination(
        corp, eval_set, "text", "doc_id", n=5, toks_col="toks"
    )


# Bloom-filter replay (ml/bloom conventions): same md5-affine family,
# 32-bit words in BIGINT, so DuckDB rebuilds the filter bit-for-bit.
_BLOOM_BITS = 1 << 14
_BLOOM_K = 4


@register(
    "decontaminate_bloom",
    oracle=f"""
    WITH ev AS (
      SELECT DISTINCT unnest({_shingles_k_sql(5)}) AS gram
      FROM documents WHERE doc_id % 31 = 0),
    {_bloom_filter_sql("ev", "gram", _BLOOM_BITS, _BLOOM_K)},
    corp AS (
      SELECT doc_id, unnest({_shingles_k_sql(5)}) AS gram
      FROM documents WHERE doc_id % 31 <> 0),
    probe AS (
      SELECT doc_id, gram,
        unnest([{", ".join(_affine_sql(_base_hash_sql("gram"), _BLOOM_K, _BLOOM_BITS))}]) AS pos
      FROM corp),
    grams AS (
      SELECT doc_id, gram,
        bool_and((COALESCE(f.bits, 0) & (CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)))
                 = (CAST(1 AS BIGINT) << CAST(pos % 32 AS INT))) AS bloom_hit
      FROM probe LEFT JOIN filt f ON pos // 32 = f.word
      GROUP BY doc_id, gram),
    hits AS (
      SELECT g.doc_id,
             count(*) AS n_grams,
             sum(CAST(g.bloom_hit AS BIGINT)) AS n_bloom_hits,
             sum(CASE WHEN ev.gram IS NULL THEN 0 ELSE 1 END) AS n_exact_hits
      FROM grams g LEFT JOIN ev ON g.gram = ev.gram
      GROUP BY 1)
    SELECT d.doc_id,
           CAST(COALESCE(h.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(h.n_bloom_hits, 0) AS BIGINT) AS n_bloom_hits,
           CAST(COALESCE(h.n_exact_hits, 0) AS BIGINT) AS n_exact_hits,
           COALESCE(h.n_bloom_hits, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % 31 <> 0
    """,
)
def decontaminate_bloom(spark, sf_dir):
    """Decontamination via a fixed-size Bloom filter of the eval set's
    word-5-grams (ml/bloom): the broadcast is m/32 words no matter how
    large the benchmark union grows, the corpus probes in place, and
    the exact hit count rides along so the zero-false-negative
    guarantee (n_bloom_hits ≥ n_exact_hits) is hash-graded."""
    from processo_etl_spark.ml import bloom

    docs = corpus(spark, sf_dir)
    corp = docs.filter(F.col("doc_id") % 31 != 0)
    eval_set = docs.filter(F.col("doc_id") % 31 == 0)
    return bloom.bloom_contamination(
        corp, eval_set, "text", "doc_id", n=5, n_bits=_BLOOM_BITS, k=_BLOOM_K,
        toks_col="toks"
    )


@register(
    "quality_budget_per_source",
    oracle=f"""
    WITH {_QUALITY_CTES},
    ranked AS (
      SELECT source, doc_id, quality_score,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY quality_score DESC, doc_id) AS INT) AS rk
      FROM scored)
    SELECT source, doc_id, quality_score, rk FROM ranked WHERE rk <= 3
    """,
)
def quality_budget_per_source(spark, sf_dir):
    """Data-mixture budget selection: keep the best 3 documents per
    source by quality score (curriculum/budget curation).  One shuffle on
    source; rank is a bounded per-source sort, deterministic via the
    doc_id tiebreak."""
    from pyspark.sql import Window

    docs = corpus(spark, sf_dir)
    scored = textstats.quality_features(docs, "text", toks_col="toks")
    w = Window.partitionBy("source").orderBy(
        F.col("quality_score").desc(), "doc_id"
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("source", "doc_id", "quality_score", "rk")
    )


# --- vocabulary & tf-idf ------------------------------------------------------
@register(
    "vocab_term_counts",
    oracle=f"""
    SELECT term, count(*) AS n_occurrences
    FROM (SELECT unnest(string_split({_NORM}, ' ')) AS term FROM documents)
    GROUP BY term
    """,
)
def vocab_term_counts(spark, sf_dir):
    """Corpus vocabulary build (tokenizer-training precursor): explode →
    map-side-combinable count; the shuffle carries terms, not documents."""
    return textstats.vocab_counts(t(spark, sf_dir, "documents"), "text")


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    dfq AS (SELECT term, count(*) AS df
            FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY 1),
    scored AS (
      SELECT tf.doc_id, tf.term,
             FLOOR(tf.tf * ln((SELECT CAST(count(*) AS DOUBLE) FROM documents)
                              / dfq.df) * 10000) / 10000 AS tfidf
      FROM tf JOIN dfq USING (term)),
    ranked AS (
      SELECT doc_id, term, tfidf,
             CAST(row_number() OVER (PARTITION BY doc_id
                  ORDER BY tfidf DESC, term) AS INT) AS rk
      FROM scored)
    SELECT doc_id, term, tfidf, rk FROM ranked WHERE rk <= 3
    """,
)
def tfidf_top_terms(spark, sf_dir):
    """Top-3 characteristic terms per document by tf-idf; |vocab|-sized
    idf table broadcasts back onto the term explode.  Scores floor-scaled
    before ranking so the order is engine-reproducible."""
    return textstats.tfidf_top_terms(
        corpus(spark, sf_dir), "text", "doc_id", k=3, toks_col="toks"
    )


# --- end-to-end curation pipeline (the LLM-data flagship) -----------------------
@register(
    "curation_pipeline",
    oracle=f"""
    WITH winners AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5({_NORM})),
    g AS (
      SELECT b.doc_id, len(b.toks) AS n_tokens,
             (len(b.toks) >= 5
              AND CAST(list_sum(list_transform(b.toks, t -> length(t))) AS DOUBLE)
                  / greatest(len(b.toks), 1) BETWEEN 2 AND 12
              AND CAST(len(list_filter(b.toks, t -> regexp_matches(t, '[A-Za-zÀ-ÿ]'))) AS DOUBLE)
                  / greatest(len(b.toks), 1) >= 0.6
              AND CAST(tf.top AS DOUBLE) / greatest(len(b.toks), 1) <= 0.3) AS keep
      FROM (SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents) b
      JOIN (SELECT doc_id, max(cnt) AS top FROM (
              SELECT doc_id, tok, count(*) AS cnt
              FROM (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok
                    FROM documents) GROUP BY 1, 2)
            GROUP BY 1) tf USING (doc_id)),
    ev AS (
      SELECT DISTINCT unnest({_shingles_k_sql(5)}) AS gram
      FROM documents WHERE doc_id % 31 = 0),
    hits AS (
      SELECT corp.doc_id, count(*) AS n_contaminated
      FROM (SELECT doc_id, unnest({_shingles_k_sql(5)}) AS gram
            FROM documents WHERE doc_id % 31 <> 0) corp
      JOIN ev USING (gram) GROUP BY 1)
    SELECT d.doc_id, d.lang, d.source,
           CASE WHEN {_KEY_BUCKET} < 9800 THEN 'train'
                WHEN {_KEY_BUCKET} < 9900 THEN 'val'
                ELSE 'test' END AS split,
           CAST(g.n_tokens AS BIGINT) AS n_tokens
    FROM documents d
    JOIN winners USING (doc_id)
    JOIN g USING (doc_id)
    LEFT JOIN hits h USING (doc_id)
    WHERE g.keep AND d.doc_id % 31 <> 0
      AND COALESCE(h.n_contaminated, 0) = 0
    """,
)
def curation_pipeline(spark, sf_dir):
    """The LLM-data flagship: the full curation path in ONE lazy plan —
    exact dedup (keep-min fingerprint winner) → Gopher-style quality
    gate → benchmark decontamination (5-gram overlap vs the held-out
    set) → deterministic train/val/test split + token counts.

    Every stage is the already-verified operator (ml/dedup, ml/textstats,
    ml/decontaminate, ml/splits) composed as DataFrame ops, and every
    stage is SQL-expressible, so the WHOLE pipeline is one oracle-checked
    query.  Shuffle budget: fingerprint groupBy (1) + token-stat
    aggregates (1) + broadcast gram probe (0 corpus shuffles) + hash
    split (0) — the corpus is never shuffled more than the stages'
    aggregates themselves need, and at 100 TB each stage stays the
    operator's documented scale shape.
    """
    from processo_etl_spark.ml import decontaminate, splits

    docs = corpus(spark, sf_dir)
    winners = dedup.exact_dedup(docs, "text", "doc_id").select("doc_id")
    flags = textstats.gopher_quality_flags(
        docs, "text", "doc_id", toks_col="toks"
    ).select("doc_id", "n_tokens", "keep")
    corp = docs.filter(F.col("doc_id") % 31 != 0)
    eval_set = docs.filter(F.col("doc_id") % 31 == 0)
    cont = decontaminate.ngram_contamination(
        corp, eval_set, "text", "doc_id", n=5, toks_col="toks"
    ).select("doc_id", "contaminated")
    kept = (
        corp.join(winners, "doc_id", "left_semi")
        .join(flags.filter(F.col("keep")).select("doc_id", "n_tokens"), "doc_id")
        .join(cont.filter(~F.col("contaminated")).select("doc_id"), "doc_id", "left_semi")
    )
    return splits.with_split(kept, "doc_id").select(
        "doc_id", "lang", "source", "split", F.col("n_tokens").cast("long").alias("n_tokens")
    )


# --- document chunking: fixed-size sliding token windows -------------------------------
@register(
    "chunk_documents_sliding",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks
               FROM documents),
    s AS (SELECT doc_id, toks,
            unnest(generate_series(0, greatest(len(toks) - 1, 0), 32)) AS start
          FROM w)
    SELECT doc_id,
      CAST(start // 32 AS BIGINT) AS chunk_id,
      CAST(start AS BIGINT) AS chunk_start,
      CAST(len(toks[start + 1 : start + 64]) AS BIGINT) AS n_tokens,
      array_to_string(toks[start + 1 : start + 64], ' ') AS chunk_text
    FROM s
    """,
)
def chunk_documents_sliding(spark, sf_dir):
    """Sliding-window chunking (size 64, stride 32 — 50% overlap): the
    RAG / long-context prep step.  Pure narrow map (split → posexplode →
    slice), zero shuffles; fan-out bounded at size/stride ≈ 2×."""
    from processo_etl_spark.ml import chunking

    return chunking.chunk_documents(
        t(spark, sf_dir, "documents"), "doc_id", "text", size=64, stride=32
    )


# --- keep-one dedup: best-scoring representative per duplicate cluster ----------------
@register(
    "dedup_cluster_keep_best",
    oracle=f"""
    WITH RECURSIVE {_CLUSTER_CTES},
    labeled AS (
      SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster, d.n_chars
      FROM documents d LEFT JOIN cl c ON c.doc = d.doc_id)
    SELECT doc_id, cluster, n_chars,
      row_number() OVER (PARTITION BY cluster ORDER BY n_chars DESC, doc_id) = 1
        AS kept
    FROM labeled
    """,
)
def dedup_cluster_keep_best(spark, sf_dir):
    """Keep-one dedup: LSH pairs → connected components → keep the
    LONGEST doc per cluster (RefinedWeb/C4 keep-best heuristic), ties
    to min id.  Singletons always kept.  Corpus-side cost: one
    broadcast join + one window shuffle on cluster."""
    docs = t(spark, sf_dir, "documents")
    return dedup.cluster_representatives(
        docs.select("doc_id", "n_chars"), _lsh_pairs(docs), "doc_id", "n_chars"
    )


# --- hard-negative mining: nearest neighbors with a DIFFERENT label -------------------
@register(
    "hard_negatives_topk",
    oracle=f"""
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROUND({_COS_SQL}, 6) AS cos,
           CAST(row_number() OVER (PARTITION BY q.vec_id
                ORDER BY {_COS_SQL} DESC, c.vec_id) AS INT) AS rank,
           c.label AS neighbor_label
    FROM embeddings q
    JOIN embeddings c
      ON ({_MULTIPROBE_ON})
     AND c.vec_id != q.vec_id
     AND c.label IS DISTINCT FROM q.label
    WHERE q.vec_id < 8
    QUALIFY rank <= 5
    """,
)
def hard_negatives_topk(spark, sf_dir):
    """Hard-negative mining for contrastive training: for each anchor,
    the top-5 most-similar vectors carrying a DIFFERENT label — the
    negatives that actually move a contrastive loss.  Same multi-table
    sign-LSH candidate generation as ``similarity_topk_lsh`` (bucket
    equi-joins, linear, never all-pairs) with the label-mismatch filter
    applied on the bucket-join output; at 100 TB the anchor set is a
    sampled minibatch stream and the corpus side stays the bucketed
    scan."""
    emb = t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 8)
    out = similarity.lsh_topk(
        emb,
        anchors,
        k=5,
        bits=_LSH_BITS,
        probes=_LSH_PROBES,
        exclude_equal="label",
    )
    # emitted cos is ROUND(·, 6) both sides (raw-double-fold guard).
    return out.withColumn("cos", F.round("cos", 6))


# --- per-label embedding centroids (class prototypes) ----------------------------------
@register(
    "embedding_label_centroids",
    oracle="""
    WITH comp AS (
      SELECT label,
        unnest(generate_series(0, len(embedding) - 1)) AS dim,
        unnest(embedding) AS v
      FROM embeddings)
    SELECT label, CAST(dim AS BIGINT) AS dim,
      count(*) AS n_vecs,
      floor(CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(27,12))) AS DOUBLE)
            / count(*) * 1e9) / 1e9 AS centroid
    FROM comp GROUP BY label, dim
    """,
)
def embedding_label_centroids(spark, sf_dir):
    """Class-prototype vectors: exact-decimal element-wise mean per
    label, exploded to (label, dim) so the shuffle parallelism is
    |labels|x|dims|, not |labels|."""
    from processo_etl_spark.ml import embeddings as emb_ops

    return emb_ops.label_centroids(t(spark, sf_dir, "embeddings"))


# --- ExactSubstr excision: rewrite text with duplicated spans removed ------------------
@register(
    "dedup_excise_spans",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents),
    tok AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos, w[i] AS t
      FROM base, UNNEST(generate_series(1, len(w))) AS s(i)),
    grams AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             concat_ws(' ', w[i], w[i+1], w[i+2]) AS g
      FROM base, UNNEST(generate_series(1, greatest(len(w) - 2, 1))) AS s(i)),
    dup AS (
      SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
    covered AS (
      SELECT DISTINCT h.doc_id, h.pos + d.d AS pos
      FROM (SELECT doc_id, pos FROM grams JOIN dup USING (g)) h,
           UNNEST(generate_series(0, 2)) AS d(d)),
    kept AS (
      SELECT tok.doc_id, tok.pos, tok.t
      FROM tok ANTI JOIN covered USING (doc_id, pos)),
    agg AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(t, ' ' ORDER BY pos) AS clean_text
      FROM kept GROUP BY doc_id)
    SELECT b.doc_id,
      coalesce(a.clean_text, '') AS clean_text,
      coalesce(a.n_kept, 0) AS n_tokens_kept,
      len(b.w) - coalesce(a.n_kept, 0) AS n_tokens_removed
    FROM base b LEFT JOIN agg a USING (doc_id)
    """,
)
def dedup_excise_spans(spark, sf_dir):
    """ExactSubstr EXCISION: drop every token covered by a cross-document
    duplicated trigram and re-join the survivors in order — the step
    that actually produces the deduplicated corpus from
    ``dedup_duplicate_spans``'s findings."""
    return dedup.excise_duplicate_spans(
        corpus(spark, sf_dir), "text", "doc_id", n=3, min_docs=2,
        toks_col="toks",
    )


# --- CCNet-style perplexity bucketing: head / middle / tail per language --------------
@register(
    "ccnet_perplexity_buckets",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS term FROM documents),
    freq AS (
      SELECT term, count(*) AS n_occurrences FROM toks GROUP BY 1),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    score AS (
      SELECT t.doc_id,
             CAST(SUM(CAST(f.n_occurrences * t.tf AS DECIMAL(38,0))) AS DOUBLE)
               / CAST(SUM(t.tf) AS BIGINT) AS mean_term_freq
      FROM tf t JOIN freq f USING (term)
      GROUP BY t.doc_id),
    bucketed AS (
      SELECT s.doc_id, d.lang, s.mean_term_freq,
             ntile(3) OVER (PARTITION BY d.lang
                            ORDER BY s.mean_term_freq DESC, s.doc_id) AS nt
      FROM score s JOIN documents d USING (doc_id))
    SELECT doc_id, lang, mean_term_freq,
      CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
        AS ppl_bucket
    FROM bucketed
    """,
)
def ccnet_perplexity_buckets(spark, sf_dir):
    """CCNet's head/middle/tail split, per language: rank documents by
    the transcendental-free perplexity proxy (occurrence-weighted mean
    corpus term frequency — higher = more 'expected' text) and cut each
    language into score terciles.  Head feeds training as-is, middle is
    candidate, tail is dropped or LM-rescored.

    Scale: the score is two combinable groupBys + a distinct-(doc,term)
    join; the tercile is a lang-PARTITIONED ntile — at 100 TB a single
    language's partition is still one task's sort, so the scale path
    swaps in operators/ranking.distributed_ntile applied per language
    (same two-phase rank, no semantics change).
    """
    docs = corpus(spark, sf_dir)
    scores = textstats.corpus_frequency_score(
        docs, "text", "doc_id", rare_threshold=2, toks_col="toks"
    ).select("doc_id", "mean_term_freq")
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(
        F.desc("mean_term_freq"), F.asc("doc_id")
    )
    nt = F.ntile(3).over(w)
    return (
        scores.join(docs.select("doc_id", "lang"), on="doc_id")
        .select(
            "doc_id",
            "lang",
            "mean_term_freq",
            F.when(nt == 1, "head")
            .when(nt == 2, "middle")
            .otherwise("tail")
            .alias("ppl_bucket"),
        )
    )


# --- token-budget mixture plan: per-source draw sizes under temperature weights -------
@register(
    "mixture_token_plan",
    oracle=f"""
    WITH per AS (
      SELECT source,
             CAST(sum(len(string_split({_NORM}, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    tot AS (
      SELECT list_reduce(list_sort(list(sqrt(CAST(n_tokens AS DOUBLE)))),
                         (a, b) -> a + b) AS S
      FROM per)
    SELECT source, n_tokens,
      ROUND(sqrt(CAST(n_tokens AS DOUBLE)) / S, 9) AS weight,
      CAST(floor(ROUND(1000000.0 * sqrt(CAST(n_tokens AS DOUBLE)) / S, 6))
           AS BIGINT)
        AS target_tokens,
      ROUND(1000000.0 * sqrt(CAST(n_tokens AS DOUBLE)) / S / n_tokens, 9)
        AS epochs
    FROM per, tot
    """,
)
def mixture_token_plan(spark, sf_dir):
    """Data-mixture planning: per-source token targets for a 1M-token
    budget under T=2 temperature weights, with implied epochs (repeat
    factor) per source."""
    from processo_etl_spark.ml import splits
    docs = t(spark, sf_dir, "documents")
    out = splits.mixture_token_plan(
        docs,
        "source",
        F.size(dedup.tokens_ws("text")),
        budget=1_000_000,
    )
    # emitted weight/epochs are ROUND(·, 9) both sides (raw-double-fold
    # guard: the normalizer S is a value-sorted fold of per-source
    # sqrt terms; both are O(1)-magnitude values, where scale 9's
    # 5e-10 radius dominates the ~1e-14-relative drift); target_tokens
    # floors the ROUND(·,6) quotient on both sides (a raw
    # floor is the same fold hazard wearing an integer type; scale 6
    # because the snap radius must dominate ABSOLUTE drift at the
    # quotient's ~1e6 magnitude).
    return out.withColumn("weight", F.round("weight", 9)).withColumn(
        "epochs", F.round("epochs", 9)
    )


@register(
    "sample_unimax_budget",
    oracle="""
    WITH per AS (
      SELECT lang AS source,
             CAST(sum((n_chars + 3) // 4) AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1),
    caps AS (SELECT source, n_tokens, n_tokens * 2 AS capacity FROM per),
    ord AS (
      SELECT source, n_tokens, capacity,
        CAST(row_number() OVER (ORDER BY capacity, source) AS BIGINT) AS i,
        CAST(count(*) OVER () AS BIGINT) AS r,
        COALESCE(sum(capacity) OVER (ORDER BY capacity, source
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s_prev
      FROM caps),
    flags AS (
      SELECT *, capacity * (r - i + 1) <= 50000 - s_prev AS is_capped
      FROM ord),
    sol AS (
      SELECT count(*) FILTER (is_capped) AS k,
             COALESCE(sum(capacity) FILTER (is_capped), 0) AS sc,
             max(r) AS r
      FROM flags),
    alloc AS (
      SELECT f.source, f.n_tokens, f.capacity,
        CASE WHEN s.k = s.r THEN CAST(f.capacity AS DOUBLE)
             ELSE least(CAST(f.capacity AS DOUBLE),
                        CAST(50000 - s.sc AS DOUBLE) / CAST(s.r - s.k AS DOUBLE))
        END AS alloc_tokens
      FROM flags f, sol s)
    SELECT source, n_tokens, capacity, alloc_tokens,
           alloc_tokens / CAST(n_tokens AS DOUBLE) AS epochs,
           alloc_tokens >= CAST(capacity AS DOUBLE) AS capped
    FROM alloc
    """,
)
def sample_unimax_budget(spark, sf_dir):
    """UniMax language sampling: water-fill a 50k-token budget across
    languages with a 2-epoch cap per language (ml/splits.unimax_token_plan)
    — head languages level off at θ, tail languages cap at 2 epochs.
    Token counts use the n_chars/4 estimator (identical on both engines);
    the waterfall is an exact int64 fold, no unpartitioned window."""
    from processo_etl_spark.ml import splits

    docs = t(spark, sf_dir, "documents")
    return splits.unimax_token_plan(
        docs,
        "lang",
        F.floor((F.col("n_chars") + 3) / F.lit(4)).cast("long"),
        budget=50_000,
        max_epochs=2,
    )


@register(
    "link_fuzzy_pairs_part",
    oracle="""
    WITH p AS (SELECT p_partkey, p_name, p_brand FROM part)
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist,
           1.0 - CAST(levenshtein(a.p_name, b.p_name) AS DOUBLE)
               / CAST(greatest(length(a.p_name), length(b.p_name), 1) AS DOUBLE)
             AS similarity
    FROM p a JOIN p b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE abs(length(a.p_name) - length(b.p_name)) <= 2
      AND levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def link_fuzzy_pairs_part(spark, sf_dir):
    """Record-linkage candidate pairs (ml/linkage.blocked_fuzzy_pairs):
    part names within a brand block matched at edit distance ≤ 2, with
    the length lower bound pruning before the levenshtein DP.  Blocking
    bounds the pair space to Σ_b |b|² — never corpus²."""
    from processo_etl_spark.ml import linkage

    return linkage.blocked_fuzzy_pairs(
        t(spark, sf_dir, "part"), "p_partkey", "p_name", ["p_brand"], max_edit=2
    )


@register(
    "join_bloom_pruned_orders",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           count(*) AS n_orders,
           CAST(sum(CAST(ROUND(o.o_totalprice, 2) AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_acctbal > 9000
    GROUP BY 1
    """,
)
def join_bloom_pruned_orders(spark, sf_dir):
    """Bloom semi-join reduction (ml/bloom.join_bloom_pruned): orders
    prune at scan speed against an m-bit filter of the high-balance
    customer keys BEFORE the join shuffle; the exact join removes the
    filter's false positives, so the result equals the plain join — the
    oracle IS the plain join.  The at-scale win: when neither side
    broadcasts, only (probably-)matching orders enter the exchange."""
    from processo_etl_spark.ml import bloom

    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    joined = bloom.join_bloom_pruned(
        orders, cust, "o_custkey", "c_custkey", n_bits=1 << 16, k=4
    )
    return joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


# --- feature-hashed bag-of-words (HashingTF featurizer) --------------------------------
@register(
    "text_hashed_bow",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok FROM documents)
    SELECT doc_id,
      CAST({_md5_long_sql('tok')} % 64 AS BIGINT) AS bucket,
      count(*) AS tf
    FROM toks GROUP BY 1, 2
    """,
)
def text_hashed_bow(spark, sf_dir):
    """Feature-hashed bag-of-words (HashingTF): the model-free
    text→vector featurizer.  The operator assembles a dense 64-wide
    ``features`` array in ONE groupBy(doc) of conditional sums; the
    registered projection explodes it back to nonzero (doc, bucket, tf)
    scalars, exercising the full assembly while keeping the graded
    output array-free."""
    dense = textstats.hashed_bow_features(
        t(spark, sf_dir, "documents"), "text", "doc_id", dim=64
    )
    return (
        dense.select("doc_id", F.posexplode("features").alias("bucket", "tf"))
        .filter(F.col("tf") > 0)
        .select("doc_id", F.col("bucket").cast("long").alias("bucket"), "tf")
    )


# --- dedup method agreement: lexical (MinHash) vs semantic (embedding) pairs ----------
@register(
    "dedup_lexical_semantic_agreement",
    oracle=f"""
    WITH {_LSH_CTES},
    lex AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.2),
    ebase AS (
      SELECT vec_id, embedding, {_bkt_sql("embeddings", 6, 0)} AS bkt
      FROM embeddings),
    sem AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM ebase a JOIN ebase b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
      WHERE {_COS_AB} >= 0.4)
    SELECT coalesce(l.id_a, s.id_a) AS id_a,
           coalesce(l.id_b, s.id_b) AS id_b,
           l.id_a IS NOT NULL AS lexical,
           s.id_a IS NOT NULL AS semantic
    FROM lex l FULL OUTER JOIN sem s
      ON l.id_a = s.id_a AND l.id_b = s.id_b
    """,
)
def dedup_lexical_semantic_agreement(spark, sf_dir):
    """Method-agreement audit: the full outer join of MinHash-LSH
    (lexical) and embedding-cosine (semantic) near-dup pair sets, with a
    flag per method — the tuning view that shows where surface overlap
    and meaning overlap disagree (paraphrases: semantic-only;
    boilerplate with substitutions: lexical-only).  Embeddings are keyed
    by the document id (vec_id == doc_id in the testdata).  Both inputs
    are the already-verified bucketed pair generators; the agreement
    join itself is a slim equi-join on id pairs."""
    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")
    lex = _lsh_pairs(docs).select("id_a", "id_b", F.lit(True).alias("lexical"))
    sem = similarity.embedding_cosine_pairs(
        emb, "vec_id", "embedding", threshold=0.4, bits=6
    ).select("id_a", "id_b", F.lit(True).alias("semantic"))
    return (
        lex.join(sem, on=["id_a", "id_b"], how="full_outer")
        .select(
            "id_a",
            "id_b",
            F.coalesce("lexical", F.lit(False)).alias("lexical"),
            F.coalesce("semantic", F.lit(False)).alias("semantic"),
        )
    )


# --- leakage-safe split: whole near-dup clusters share a split ------------------------
_CLUSTER_BUCKET = f"{_md5_long_sql('CAST(cluster AS VARCHAR)')} % 10000"


@register(
    "split_leakage_safe",
    oracle=f"""
    WITH RECURSIVE {_CLUSTER_CTES},
    labeled AS (
      SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster
      FROM documents d LEFT JOIN cl c ON c.doc = d.doc_id)
    SELECT doc_id, cluster,
           CASE WHEN {_CLUSTER_BUCKET} < 9800 THEN 'train'
                WHEN {_CLUSTER_BUCKET} < 9900 THEN 'val'
                ELSE 'test' END AS split
    FROM labeled
    """,
)
def split_leakage_safe(spark, sf_dir):
    """Near-dup-aware train/val/test split: hash the CLUSTER id, not the
    document id, so every member of a near-duplicate cluster lands in
    the same split — the guard against test-set leakage that a per-doc
    hash split cannot give.  Clusters come from the same LSH pair graph
    as ``dedup_clusters``; singletons hash as themselves, so untouched
    docs keep the plain split behavior.  Corpus-side cost over
    ``split_train_val_test``: the one broadcast left join of
    ``dedup.label_clusters``."""
    from processo_etl_spark.ml import splits

    docs = t(spark, sf_dir, "documents")
    labeled = dedup.label_clusters(
        docs.select("doc_id"), _lsh_pairs(docs), "doc_id"
    )
    return splits.with_split(labeled, "cluster").select(
        "doc_id", "cluster", "split"
    )


# --- vocabulary coverage curve (tokenizer budget tuning) ------------------------------
@register(
    "vocab_coverage_curve",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split({_NORM}, ' ')) AS term FROM documents),
    counts AS (SELECT term, count(*) AS c FROM toks GROUP BY 1),
    ranked AS (
      SELECT term, c, row_number() OVER (ORDER BY c DESC, term) AS rnk
      FROM counts),
    tot AS (SELECT sum(c) AS t FROM counts),
    cov AS (
      SELECT n.n,
             sum(CASE WHEN rnk <= n.n THEN c ELSE 0 END) AS covered
      FROM ranked, (SELECT unnest([10, 100, 1000]) AS n) n
      GROUP BY n.n)
    SELECT CAST(n AS BIGINT) AS budget,
           CAST(covered AS BIGINT) AS covered_tokens,
           CAST(covered AS DOUBLE) / t AS coverage
    FROM cov, tot
    """,
)
def vocab_coverage_curve(spark, sf_dir):
    """Tokenizer-budget tuning curve: the fraction of all token
    occurrences covered by the top-N terms, at N ∈ {10, 100, 1000}.
    Term ranking uses the two-phase distributed rank (range partition +
    local row_number + broadcast offsets) — never a single-partition
    global window; the three coverages are conditional sums in ONE
    aggregate over the ranked term table (|vocab| rows, not corpus
    rows)."""
    from processo_etl_spark.operators import ranking

    docs = t(spark, sf_dir, "documents")
    counts = (
        docs.select(
            F.explode(dedup.tokens_ws("text")).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ranked = ranking.distributed_rank(
        counts, [F.desc("c"), F.asc("term")], out_col="rnk"
    )
    agg = ranked.agg(
        *[
            F.sum(F.when(F.col("rnk") <= n, F.col("c")).otherwise(0)).alias(
                f"_c{n}"
            )
            for n in (10, 100, 1000)
        ],
        F.sum("c").alias("_t"),
    )
    tiers = F.array(
        *[
            F.struct(
                F.lit(n).cast("long").alias("budget"),
                F.col(f"_c{n}").cast("long").alias("covered_tokens"),
            )
            for n in (10, 100, 1000)
        ]
    )
    return agg.select(F.explode(tiers).alias("x"), "_t").select(
        F.col("x.budget").alias("budget"),
        F.col("x.covered_tokens").alias("covered_tokens"),
        (F.col("x.covered_tokens").cast("double") / F.col("_t")).alias(
            "coverage"
        ),
    )


@register(
    "sample_weighted_aes",
    oracle="""
    WITH scored AS (
      SELECT source, doc_id, n_chars,
             ln((CAST(('0x' || substr(md5('aes:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 0.5)
                / 1152921504606846976.0) / CAST(n_chars AS DOUBLE) AS aes
      FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
    ranked AS (
      SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source ORDER BY aes DESC, doc_id) AS rnk
      FROM scored)
    SELECT source, doc_id, n_chars, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 8
    """,
)
def sample_weighted_aes(spark, sf_dir):
    """Weighted sampling without replacement, k=8 docs per source with
    inclusion ∝ n_chars (ml/splits.weighted_sample_aes — Efraimidis-
    Spirakis exponential keys over hash-uniform draws): the curation
    primitive for "keep the best k per source, biased by quality
    weight", deterministic with no RNG state.  The oracle replays the
    md5-uniform, the ln key, and the (key, doc_id) tiebreak; the salted
    two-stage top-k is exactly the global per-source top-k, so the
    single-window SQL twin is value-identical."""
    from processo_etl_spark.ml import splits

    docs = t(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    return splits.weighted_sample_aes(docs, "doc_id", "n_chars", "source", k=8)


@register(
    "text_compression_ratio",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           octet_length(encode(text)) > 0 AS ratio_defined,
           TRUE AS within_bounds
    FROM documents
    """,
)
def text_compression_ratio(spark, sf_dir):
    """Compression-ratio curation signal (ml/textstats.compression_ratio):
    zlib(text)/len(text) per document via Arrow-batched mapInPandas —
    the justified-Python hot path (DEFLATE has no Column form).

    Partial oracle: DuckDB ships no zlib, so the graded
    projection emits what IS predictable without one — the exact utf-8
    byte count plus two guarantee booleans the oracle can assert
    unconditionally: ``ratio_defined`` (non-empty input) and
    ``within_bounds``, which checks the REAL compressed size against
    zlib's published deflateBound upper limit
    (len + len/4096 + len/16384 + len/2^25 + 13) and the structural
    lower limit (8-byte empty-stream skeleton; ≥9 for non-empty input).
    A broken compress pass (truncation, double-compression, wrong
    level-framing) lands outside the bracket and breaks the hash.  The
    raw ratio/keep columns stay available via
    ``ml/textstats.compression_ratio``; monotonicity on planted
    repetition is pinned by unit tests."""
    cr = textstats.compression_ratio(
        t(spark, sf_dir, "documents"), "text", "doc_id"
    )
    nb = F.col("n_bytes")
    upper = (
        nb
        + F.floor(nb / 4096).cast("long")
        + F.floor(nb / 16384).cast("long")
        + F.floor(nb / 33554432).cast("long")
        + F.lit(13)
    )
    lower = F.lit(8) + (nb > 0).cast("long")
    within = (F.col("n_compressed") >= lower) & (F.col("n_compressed") <= upper)
    return cr.select(
        "doc_id",
        "n_bytes",
        (nb > 0).alias("ratio_defined"),
        within.alias("within_bounds"),
    )


@register(
    "target_encode_brand_price",
    oracle="""
    WITH j AS (
      SELECT l_orderkey, l_linenumber,
             CAST(ROUND(l_extendedprice, 2) AS DECIMAL(12,2)) AS y, p_brand
      FROM lineitem JOIN part ON l_partkey = p_partkey),
    c AS (SELECT p_brand, SUM(y) AS s, count(*) AS n FROM j GROUP BY p_brand),
    g AS (SELECT CAST(SUM(y) AS DOUBLE) / count(*) AS gmean FROM j)
    SELECT j.l_orderkey, j.l_linenumber, j.p_brand,
      (CAST(c.s - j.y AS DOUBLE) + 20.0 * g.gmean)
        / (CAST(c.n - 1 AS DOUBLE) + 20.0) AS target_enc
    FROM j JOIN c USING (p_brand) CROSS JOIN g
    """,
)
def target_encode_brand_price(spark, sf_dir):
    """Leakage-safe smoothed target encoding of p_brand against
    l_extendedprice (ml/encoding.target_encode_loo): leave-one-out
    m-estimate per ROW from one combinable per-category aggregate
    broadcast back by equi-join — the standard GBM feature for
    high-cardinality categoricals, exact-decimal deterministic."""
    from processo_etl_spark.ml import encoding

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice"
    )
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return encoding.target_encode_loo(
        j, "p_brand", "l_extendedprice", smoothing=20.0
    ).select("l_orderkey", "l_linenumber", "p_brand", "target_enc")


@register(
    "phrase_query_hash_join",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents),
    tok AS (
      SELECT doc_id, CAST(i - 1 AS INT) AS pos, w[i] AS t
      FROM base, UNNEST(generate_series(1, len(w))) AS s(i))
    SELECT a.doc_id AS doc, CAST(count(*) AS INT) AS n_phrase
    FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    WHERE a.t = 'hash' AND b.t = 'join'
    GROUP BY 1
    """,
)
def phrase_query_hash_join(spark, sf_dir):
    """Positional-index phrase query (ml/invindex): documents where
    'hash join' occurs adjacently, answered from the inverted index —
    the index is built once (two combinable groupBys, postings capped
    with an explicit truncated flag) and the query reads exactly two
    posting rows.  The oracle replays adjacency over raw token
    positions; counts match because posting positions are exact."""
    from processo_etl_spark.ml import invindex

    docs = t(spark, sf_dir, "documents")
    postings = invindex.build_postings(docs, "doc_id", "text")
    out = invindex.phrase_query(postings, "hash", "join")
    return out.select("doc", F.col("n_phrase").cast("int").alias("n_phrase"))


@register(
    "bm25_topk_hash_join_scan",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents),
    tok AS (
      SELECT doc_id, w[i] AS t
      FROM base, UNNEST(generate_series(1, len(w))) AS s(i)),
    lens AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY 1),
    tot AS (SELECT count(*) AS n,
                   CAST(sum(len) AS DOUBLE) / count(*) AS avglen FROM lens),
    tfs AS (SELECT doc_id, t, count(*) AS tf FROM tok
            WHERE t IN ('hash', 'join', 'scan') GROUP BY 1, 2),
    dfs AS (SELECT t, count(*) AS df FROM tfs GROUP BY t)
    SELECT tfs.doc_id AS doc,
      ROUND(SUM(
        ln((CAST(tot.n AS DOUBLE) - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0)
          * tfs.tf * 2.2
          / (tfs.tf + 1.2 * (0.25 + 0.75 * lens.len / tot.avglen))
      ), 10) AS score,
      count(*) AS n_terms_hit
    FROM tfs JOIN dfs USING (t) JOIN lens USING (doc_id) CROSS JOIN tot
    GROUP BY 1 ORDER BY score DESC, doc LIMIT 10
    """,
)
def bm25_topk_hash_join_scan(spark, sf_dir):
    """BM25 top-10 for the query {hash, join, scan} answered from the
    positional inverted index (ml/invindex.bm25_topk): only the three
    posting rows are read for scoring; doc lengths are the index's
    side table; N/avglen enter as exact-integer two-pass scalars.
    Scores round at 10 decimals — idf's ln may differ in the last ulp
    across engines, ~5 orders below the grid."""
    from processo_etl_spark.ml import invindex

    docs = t(spark, sf_dir, "documents")
    postings = invindex.build_postings(docs, "doc_id", "text")
    return invindex.bm25_topk(
        docs, postings, "doc_id", "text", ["hash", "join", "scan"], k=10
    )
