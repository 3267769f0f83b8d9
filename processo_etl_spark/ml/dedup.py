"""Document deduplication at scale: exact, MinHash+LSH, SimHash, n-gram
Jaccard.

Design for 100 TB:

- Exact dedup = hash → groupBy(hash) — one shuffle on a 128-bit key,
  map-side combinable.
- Near-dup never compares all pairs: MinHash signatures are computed
  per-row (narrow), LSH banding turns similarity search into an
  equi-join on (band_index, band_hash) — Spark's bread-and-butter
  shuffle join — and only bucket-mates are verified with exact Jaccard.
- All hashes are md5-prefix integers (deterministic, engine-portable,
  no JVM-specific murmur seeds) so results are reproducible anywhere
  and oracle-comparable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from processo_etl_spark.session import persist_once


def md5_long(c: Column) -> Column:
    """Deterministic 60-bit integer hash: first 15 hex chars of md5."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def normalize_text(c: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, collapsed whitespace."""
    col = F.col(c) if isinstance(c, str) else c
    return F.lower(F.regexp_replace(F.trim(col), r"\s+", " "))


def tokens_ws(text: Column | str, toks_col: str | None = None) -> Column:
    """Whitespace tokens of the normalized text — the one tokenizer of
    the text operators.  ``toks_col`` names a precomputed token array
    (the plans/common.corpus tokenize-once relation): identical values,
    but the shared lineage is persisted once and matched by the cache
    manager across queries."""
    return F.col(toks_col) if toks_col else F.split(normalize_text(text), " ")


def fingerprint(c: Column | str) -> Column:
    """128-bit content fingerprint of normalized text (hex string)."""
    return F.md5(normalize_text(c))


def exact_dedup(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Exact dedup: keep the min-id row per content fingerprint.

    One shuffle on the fingerprint; survivors + duplicate counts.
    """
    return (
        df.withColumn("fp", fingerprint(text_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def word_chunks(toks: Column, chunk_tokens: int) -> Column:
    """Consecutive ``chunk_tokens``-word chunks of a token array, each
    re-joined with single spaces (the last one may be shorter) — narrow
    sequence + slice HOFs, no shuffle."""
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(toks, i * chunk_tokens + 1, chunk_tokens), " "
        ),
    )


def _reassemble(flagged: DataFrame, id_col: str, counter: Column) -> DataFrame:
    """One row per document from ``(id_col, pos, chunk, kept)`` rows:
    n_chunks, ``counter`` and clean_text — the kept chunks re-joined in
    position order."""
    kept_struct = F.when(F.col("kept"), F.struct(F.col("pos"), F.col("chunk")))
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        counter,
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("clean_text"),
    )


def chunk_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 10,
) -> DataFrame:
    """C4/CCNet-style sub-document dedup: split each document into
    consecutive ``chunk_tokens``-word chunks, keep only the globally
    FIRST occurrence of each chunk (ordered by (doc, position)), and
    reassemble the cleaned text.  Catches boilerplate paragraphs that
    whole-document dedup misses.

    Plan: narrow chunking (sequence + slice HOFs, no explode shuffle
    cost beyond the rows themselves) → posexplode → ONE shuffle
    partitioned by the chunk content to rank occurrences → groupBy doc
    to reassemble.  The corpus crosses the wire exactly twice (rank +
    regroup), each time as (id, pos, chunk) rows — no all-pairs work, no
    driver state, so the plan holds at 100 TB.  The occurrence rank is a
    per-chunk window (partitioned — bounded state per key), never a
    global window.

    Returns one row per document: n_chunks, n_kept, clean_text.
    """
    chunks = word_chunks(tokens_ws(text_col), chunk_tokens)
    exploded = df.select(
        F.col(id_col), F.posexplode(chunks).alias("pos", "chunk")
    )
    w = Window.partitionBy("chunk").orderBy(id_col, "pos")
    flagged = exploded.withColumn("kept", F.row_number().over(w) == 1)
    return _reassemble(
        flagged, id_col, F.sum(F.col("kept").cast("long")).alias("n_kept")
    )


def boilerplate_chunk_removal(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 10,
    min_docs: int = 2,
    toks_col: str | None = None,
) -> DataFrame:
    """CCNet/RefinedWeb-style boilerplate excision: drop EVERY
    occurrence of any ``chunk_tokens``-word chunk that appears in at
    least ``min_docs`` distinct documents (nav bars, cookie banners,
    license footers).  Complements ``chunk_dedup``, which keeps the
    first occurrence — boilerplate is noise in its first document too.

    Plan: the same narrow chunking as ``chunk_dedup`` → ONE
    content-keyed shuffle computing each chunk's document frequency
    (two-stage distinct-count, map-side partials) → the boilerplate
    chunk set (repeated chunks only — corpus × duplication-rate, slim)
    comes back via a left join on the chunk key → groupBy doc to
    reassemble.  No all-pairs work, no global window; at 100 TB the
    df-table join stays an equi-join on the content hash and the
    boilerplate relation is orders of magnitude smaller than the
    corpus.

    Returns one row per document: n_chunks, n_dropped, clean_text.
    """
    chunks = word_chunks(tokens_ws(text_col, toks_col), chunk_tokens)
    # Materialized once: the document-frequency aggregation and the
    # flag join otherwise each re-run the normalize/split/chunk HOF
    # pipeline over the whole corpus.
    exploded = df.select(
        F.col(id_col), F.posexplode(chunks).alias("pos", "chunk")
    ).transform(persist_once)
    boiler = (
        exploded.groupBy("chunk")
        .agg(F.count_distinct(F.col(id_col)).alias("df_docs"))
        .filter(F.col("df_docs") >= F.lit(min_docs))
        .select("chunk", F.lit(True).alias("_boiler"))
    )
    flagged = exploded.join(boiler, "chunk", "left").withColumn(
        "kept", F.col("_boiler").isNull()
    )
    return _reassemble(
        flagged, id_col, F.sum((~F.col("kept")).cast("long")).alias("n_dropped")
    )


def word_shingles(
    text_col: Column | str, n: int = 3, toks_col: str | None = None
) -> Column:
    """Word n-gram shingles as an array<string> — pure array expressions.

    tokens[i..i+n-1] for i in 1..len-n+1; rows shorter than n yield the
    whole text as a single shingle so they still participate.  A NULL
    and an empty text both shingle to ``['']`` (as in the DuckDB
    oracles), so a NULL and an empty document pair at Jaccard 1.0.
    ``toks_col`` is as in :func:`tokens_ws`.
    """
    toks = tokens_ws(text_col, toks_col)

    # Bind the token array ONCE as a lambda value: higher-order functions
    # bypass codegen subexpression elimination, so referencing the
    # split/normalize subtree inside the per-shingle lambda would re-run
    # the regex pipeline ~3·|shingles| times per row (measured 20×
    # slowdown at sf0.1).  transform over a 1-element array is the
    # expression-level `let`.
    def make(tk: Column) -> Column:
        idx = F.sequence(F.lit(1), F.greatest(F.size(tk) - (n - 1), F.lit(1)))
        # try_element_at: rows with < n tokens read past the end — NULL
        # (skipped by concat_ws) matches DuckDB's out-of-bounds list index,
        # where plain element_at throws under ANSI semantics.
        return F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.try_element_at(tk, i + j) for j in range(n)]
            ),
        )

    return F.element_at(F.transform(F.array(toks), make), 1)


def shingle_set(
    text_col: Column | str, n: int = 3, toks_col: str | None = None
) -> Column:
    """The distinct word n-gram set of a text (:func:`word_shingles`)."""
    return F.array_distinct(word_shingles(text_col, n, toks_col))


def _shingle_sets(
    df: DataFrame, id_col: str, text_col: str, n: int, toks_col: str | None = None
) -> DataFrame:
    """(doc, sh): each document's distinct shingle set."""
    return df.select(
        F.col(id_col).alias("doc"), shingle_set(text_col, n, toks_col).alias("sh")
    )


def _overlap(sh_a: str, sh_b: str) -> Column:
    """|A ∩ B| of two distinct-shingle-set columns."""
    return F.size(F.array_intersect(sh_a, sh_b))


def _jaccard(sh_a: str, sh_b: str) -> Column:
    """Exact Jaccard |A ∩ B| / |A ∪ B| of two distinct-shingle-set columns."""
    inter = _overlap(sh_a, sh_b)
    union = F.size(sh_a) + F.size(sh_b) - inter
    return inter.cast("double") / union.cast("double")


def _verify_jaccard(
    cand: DataFrame,
    sets_a: DataFrame,
    sets_b: DataFrame,
    threshold: float,
    keys: tuple[str, str] = ("id_a", "id_b"),
    sh: tuple[str, str] = ("sh_a", "sh_b"),
) -> DataFrame:
    """Exact verify of candidate pairs: attach each side's ``(doc, sh)``
    set to ``cand``'s two key columns and keep ``jaccard`` ≥
    ``threshold``.  The sets re-attach per surviving pair, so shingle
    arrays never enter the candidate shuffle."""
    pairs = cand
    for key, sets, name in zip(keys, (sets_a, sets_b), sh):
        pairs = pairs.join(
            sets.select(F.col("doc").alias(key), F.col("sh").alias(name)), on=key
        )
    return pairs.withColumn("jaccard", _jaccard(*sh)).filter(
        F.col("jaccard") >= threshold
    )


# Universal-hash family over one md5 per shingle: h = md5_long(s) % P, then
# family i is (A[i]*h + B[i]) % P with P = 2^31-1 (Mersenne).  One md5 per
# shingle total (not per family) — the k families are integer arithmetic,
# fully mirrored in the DuckDB oracle.  A[i]*h < 2^62 fits in int64.
MERSENNE_P = (1 << 31) - 1


def perm_constants(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for k affine hash families (a odd, nonzero)."""
    out = []
    for i in range(k):
        a = ((i + 1) * 2654435761) % MERSENNE_P | 1
        b = ((i + 1) * 40503) % MERSENNE_P
        out.append((a, b))
    return out


def affine_hashes(h: Column, k: int, m: int | None = None) -> list[Column]:
    """The k family values ``(a_i·h + b_i) % P`` of base hash ``h`` (an
    ``md5_long(key) % P``), each taken ``% m`` when ``m`` is given —
    the one hash family under MinHash (no ``m``), the Bloom filter
    (``m`` = bits) and Count-Min (``m`` = width).  ``plans/mlops._affine_sql``
    spells the same values as DuckDB text.  h < P and a < P keep the int64
    product under 2^62 — no overflow."""
    out = []
    for a, b in perm_constants(k):
        v = (h * F.lit(a) + F.lit(b)) % F.lit(MERSENNE_P)
        out.append(v if m is None else v % F.lit(m))
    return out


def shingle_hashes(shingles: Column) -> Column:
    """One 31-bit base hash per shingle: md5_long(s) % P (single md5 pass)."""
    return F.transform(shingles, lambda s: md5_long(s) % F.lit(MERSENNE_P))


def minhash_signature(shingles: Column, k: int = 16) -> Column:
    """k independent min-hashes via affine permutations of one base hash.

    A single ``aggregate`` pass: the base hash ``h`` binds once as the
    lambda value, so each shingle pays ONE md5 plus k integer ops.
    (Higher-order functions bypass codegen subexpression elimination, so
    k separate ``array_min(transform(...))`` trees would recompute the
    md5 pass k times.)  Per-row and narrow — no shuffle; at 100 TB this
    is |shingles| md5 calls per row, not k·|shingles|.
    """

    def merge(acc: Column, h: Column) -> Column:
        fams = F.array(*affine_hashes(h, k))
        return F.zip_with(acc, fams, lambda x, y: F.least(x, y))

    init = F.array_repeat(F.lit(MERSENNE_P).cast("long"), k)
    return F.aggregate(shingle_hashes(shingles), init, merge)


def _band_hash(sig: Column, band: int, rows_per_band: int) -> Column:
    start = band * rows_per_band + 1  # slice is 1-based
    return F.md5(
        F.concat_ws(",", *[
            F.element_at(sig, start + j).cast("string") for j in range(rows_per_band)
        ])
    )


def _minhash_base(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    shingle_n: int,
    toks_col: str | None = None,
) -> DataFrame:
    """(doc, sh, sig): distinct shingle set plus its k-wide MinHash,
    persisted — the band join and the verify re-read it (4× in the
    self-join).  At cluster scale this is a parquet signature table."""
    return (
        _shingle_sets(df, id_col, text_col, shingle_n, toks_col)
        .withColumn("sig", minhash_signature(F.col("sh"), k))
        .transform(persist_once)
    )


def _lsh_bands(base: DataFrame, k: int, bands: int) -> DataFrame:
    """(doc, band, bh): one row per document and LSH band of its
    signature — the equi-join keys of candidate generation."""
    rows_per_band = k // bands
    return base.select(
        "doc",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    _band_hash(F.col("sig"), b, rows_per_band).alias("bh"),
                )
                for b in range(bands)
            ])
        ).alias("lsh"),
    ).select("doc", "lsh.band", "lsh.bh")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    toks_col: str | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding + exact verify.

    1. signature: k minhashes per doc (narrow map).
    2. banding: b bands of k/b rows; docs sharing any band hash are
       candidates — an equi-join on (band, band_hash), never all-pairs.
    3. verify: exact Jaccard over distinct shingle sets ≥ threshold.

    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    base = _minhash_base(df, id_col, text_col, k, shingle_n, toks_col)
    banded = _lsh_bands(base, k, bands)
    # Candidate generation joins ONLY (doc, band, bh) — shingle arrays never
    # enter this shuffle; the verify re-attaches them per surviving pair.
    left = banded.select(F.col("doc").alias("id_a"), "band", "bh")
    right = banded.select(F.col("doc").alias("id_b"), "band", "bh")
    cand = (
        left.join(right, on=["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return _verify_jaccard(cand, base, base, threshold).select(
        "id_a", "id_b", "jaccard"
    )


def _neighbours(edges: DataFrame) -> DataFrame:
    """(u, lo, hi, m) per node of an edge set of (v, p) rows, p <= v: its
    smaller and larger neighbours, and m = min(u, lo).  A (u, u) row only
    keeps u in the graph."""
    both = edges.select(F.col("v").alias("u"), F.col("p").alias("w")).union(
        edges.select("p", "v")
    )
    return (
        both.groupBy("u")
        .agg(
            F.collect_set(F.when(F.col("w") < F.col("u"), F.col("w"))).alias("lo"),
            F.collect_set(F.when(F.col("w") > F.col("u"), F.col("w"))).alias("hi"),
        )
        .withColumn("m", F.least(F.col("u"), F.array_min("lo")))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Each node hangs its larger neighbours on m; a node with no smaller
    neighbour also keeps itself, as (u, u)."""
    g = _neighbours(edges)
    hung = F.when(F.size("lo") > 0, F.col("hi")).otherwise(
        F.array_union("hi", F.array("u"))
    )
    return g.select(F.explode(hung).alias("v"), F.col("m").alias("p"))


def _small_star(edges: DataFrame) -> DataFrame:
    """Each node hangs itself and its smaller neighbours on m, and says
    whether its input was not yet a star: two smaller neighbours, or a
    smaller and a larger one."""
    g = _neighbours(edges)
    n_lo = F.size("lo")
    hung = F.array_union(F.array_remove("lo", F.col("m")), F.array("u"))
    return g.select(
        F.explode(hung).alias("v"),
        F.col("m").alias("p"),
        ((n_lo > 1) | ((n_lo == 1) & (F.size("hi") > 0))).alias("unsettled"),
    )


def connected_components(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Duplicate CLUSTERS from near-dup ``(id_a, id_b)`` pairs: connected
    components by alternating Large-Star and Small-Star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014).

    The graph is kept as (v, p) rows with p < v, plus one (u, u) row for
    a node with no smaller neighbour, so every node stays in it.
    Large-Star hangs every node's larger neighbours on the smallest id
    it sees; Small-Star hangs every node and its smaller neighbours on
    the smallest of them.  Both keep the components; the paper bounds the
    alternation by O(log² n) rounds, and paths take 6 (61 nodes) to 10
    (1000 nodes).  A round is one ``groupBy`` per star plus one
    ``localCheckpoint``.  The loop ends once the Large-Star output is a
    set of stars (no node has two smaller neighbours, or a smaller and a
    larger one), which Small-Star counts in its own aggregate: each star
    is then a component, and its centre its minimum.

    Returns (doc, cluster) where cluster = min doc id of the component
    — the canonical survivor for keep-one dedup.  The nodes are every
    endpoint of a pair, a node whose only pair is (x, x) included; a
    pair with a NULL endpoint is dropped, so NULL is never a node.

    Raises ``ValueError`` when round ``max_iterations`` still left a
    node unsettled: the labels may not be components yet, and returning
    them would split one cluster into several without an error.
    """
    edges = pairs.dropna(subset=["id_a", "id_b"]).select(
        F.greatest("id_a", "id_b").alias("v"), F.least("id_a", "id_b").alias("p")
    )
    for _ in range(max_iterations):
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        if edges.filter("unsettled").limit(1).count() == 0:
            return edges.select(F.col("v").alias("doc"), F.col("p").alias("cluster"))
    raise ValueError(
        f"connected_components did not converge in max_iterations="
        f"{max_iterations} rounds; raise max_iterations"
    )


def _block_pairs(
    df: DataFrame, id_col: str, text_col: str, block_col: str, shingle_n: int
) -> DataFrame:
    """(blk, id_a, sh_a, id_b, sh_b): every id_a < id_b pair sharing a
    blocking key, with both distinct shingle sets."""
    base = df.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("doc"),
        shingle_set(text_col, shingle_n).alias("sh"),
    )
    a = base.select("blk", F.col("doc").alias("id_a"), F.col("sh").alias("sh_a"))
    b = base.select("blk", F.col("doc").alias("id_b"), F.col("sh").alias("sh_b"))
    return a.join(b, on="blk").filter(F.col("id_a") < F.col("id_b"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    shingle_n: int = 3,
    threshold: float = 0.3,
) -> DataFrame:
    """Blocked exact n-gram Jaccard: all pairs *within a blocking key*.

    The block join keeps the candidate set linear-ish (never global
    all-pairs); use MinHash-LSH when no natural blocking key exists.
    """
    pairs = _block_pairs(df, id_col, text_col, block_col, shingle_n)
    return (
        pairs.withColumn("jaccard", _jaccard("sh_a", "sh_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Blocked n-gram CONTAINMENT: pairs where the smaller document's
    shingle set is ≥ ``threshold`` contained in the other's —
    containment(A→B) = |A∩B| / |A|.

    Why it's a separate operator from Jaccard: a short document quoted
    verbatim inside a long one has containment ≈ 1 but Jaccard ≈
    |A|/|B| ≈ 0 — symmetric similarity NEVER finds quote/excerpt
    duplication (Lee et al. 2022 §4 discuss exactly this asymmetry).
    Emits both directions' containments plus Jaccard so the caller can
    distinguish excerpt (high max_containment, low jaccard) from
    near-dup (both high).

    Scale shape: identical to ``ngram_jaccard_pairs`` — block equi-join
    bounds candidates to Σ_b |b|², one array_intersect per candidate;
    compose with MinHash banding when no blocking key exists.
    """
    pairs = _block_pairs(df, id_col, text_col, block_col, shingle_n)
    inter = _overlap("sh_a", "sh_b")
    c_ab = inter.cast("double") / F.size("sh_a").cast("double")
    c_ba = inter.cast("double") / F.size("sh_b").cast("double")
    return (
        pairs.withColumn("containment_ab", c_ab)
        .withColumn("containment_ba", c_ba)
        .withColumn("jaccard", _jaccard("sh_a", "sh_b"))
        .filter(
            F.greatest("containment_ab", "containment_ba") >= F.lit(threshold)
        )
        .select("id_a", "id_b", "containment_ab", "containment_ba", "jaccard")
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT all-pairs Jaccard join via prefix filtering — the
    SSJoin/PPJoin family (Chaudhuri et al. ICDE'06; Xiao et al.
    WWW'08), the deterministic complement to MinHash-LSH: zero false
    negatives by construction instead of probabilistic recall.

    Pigeonhole guarantee: order every set by a GLOBAL total order
    (ascending document frequency, rarest first — ties by token); for
    Jaccard ≥ t, a pair must share at least one token within each
    side's PREFIX of length |s| − ⌈t·|s|⌉ + 1 (if the prefixes were
    disjoint, the overlap is too small to reach t).  So an equi-join on
    prefix tokens finds EVERY qualifying pair, and the exact verify
    makes precision 1 — the output is identical to the naive all-pairs
    join, which is exactly what the DuckDB oracle computes.

    Plan shape: shingle doc-frequency (1 shuffle) → df-attach + per-doc
    (df, token)-sort (explode + vocab join + groupBy) → candidate
    equi-join on the exploded prefix (rarest-token blocking: fan-out is
    bounded by token df, and the rarest tokens have the smallest df) →
    slim verify re-attach, as in MinHash.  At 100 TB the prefix join is
    the cost and it is linear in Σ df(prefix tokens) — the reason the
    frequency order matters: prefixes hold the RAREST tokens.
    """
    base = _shingle_sets(df, id_col, text_col, shingle_n)
    ex = base.select("doc", F.explode("sh").alias("tok"))
    dfreq = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # Per-doc token list sorted by the global (df, tok) order; struct
    # sort gives the total order, then we keep the token strings.
    ordered = (
        ex.join(dfreq, on="tok")
        .groupBy("doc")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df", "tok"))),
                lambda s: s["tok"],
            ).alias("toks")
        )
    )
    prefix_len = (
        F.size("toks") - F.ceil(F.lit(threshold) * F.size("toks")) + 1
    ).cast("int")
    prefixes = ordered.select(
        "doc",
        F.size("toks").alias("sz"),
        F.explode(F.slice("toks", 1, prefix_len)).alias("tok"),
    )
    # Length filter (the PPJoin companion prune): Jaccard ≥ t forces
    # t·|A| ≤ |B| ≤ |A|/t, checked ON the token join before the
    # dedup/verify — cut verified candidates 409k → 310k (−24%) at
    # sf0.1 on this worst-case (shared-vocab, high-df) corpus; on
    # Zipfian text the prefix+length pair prunes far harder.
    cand = (
        prefixes.alias("a")
        .join(prefixes.alias("b"), on="tok")
        .filter(
            (F.col("a.doc") < F.col("b.doc"))
            & (F.col("b.sz") >= F.lit(threshold) * F.col("a.sz"))
            & (F.col("a.sz") >= F.lit(threshold) * F.col("b.sz"))
        )
        .select(
            F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return _verify_jaccard(cand, base, base, threshold).select(
        "id_a", "id_b", "jaccard"
    )


def simhash64(tokens: Column) -> Column:
    """64-bit SimHash of a token array — pure expressions, no UDF.

    For each bit i: sum over tokens of (+1 if bit set in md5_long(token)
    else -1); bit i of the result = (sum > 0).  Near-dups have small
    Hamming distance between signatures.

    Note: md5_long yields 60 bits (15 hex chars), so bits 60-63 are
    always 'unset' votes; with 60 informative bits the signature keeps
    its locality properties (documented deviation from a full 64).
    """
    th = F.transform(tokens, md5_long)

    # ONE aggregate pass with a 60-wide vote vector (HOFs bypass codegen
    # CSE, so 60 separate aggregates would re-hash every token 60×).  The
    # token hash ``h`` binds once per element; votes fold into the final
    # signature via a let-bound zip with the bit-weight array.
    def merge(acc: Column, h: Column) -> Column:
        bits = F.array(
            *[
                F.when(h.bitwiseAND(F.lit(1 << i)) != 0, 1).otherwise(-1)
                for i in range(60)
            ]
        )
        return F.zip_with(acc, bits, lambda a, b: a + b)

    votes = F.aggregate(th, F.array_repeat(F.lit(0), 60), merge)
    weights = F.array(*[F.lit(1 << i).cast("long") for i in range(60)])

    def fold(v: Column) -> Column:
        contrib = F.zip_with(
            v, weights, lambda x, w: F.when(x > 0, w).otherwise(F.lit(0).cast("long"))
        )
        return F.aggregate(contrib, F.lit(0).cast("long"), lambda a, x: a + x)

    return F.element_at(F.transform(F.array(votes), fold), 1)


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def _simhash_base(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, sig): one SimHash signature per document."""
    return df.select(
        F.col(id_col).alias("doc"), simhash64(tokens_ws(text_col)).alias("sig")
    )


def simhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 8,
    prefix_bits: int = 12,
) -> DataFrame:
    """SimHash near-dup pairs, blocked by the top signature bits.

    Single-prefix blocking is FAST but approximate: pairs whose
    differing bits straddle the prefix are missed.  For the
    guaranteed-recall scale path use ``simhash_dedup_pairs_banded``
    (pigeonhole over max_hamming+1 bands).
    """
    # Materialize once: the self-join would otherwise run the signature
    # lineage twice (and project-collapse re-inlines `sig` into `blk`).
    base = (
        _simhash_base(df, id_col, text_col)
        .withColumn("blk", F.shiftright("sig", 60 - prefix_bits))
        .transform(persist_once)
    )
    a = base.select(F.col("doc").alias("id_a"), F.col("sig").alias("sig_a"), "blk")
    b = base.select(F.col("doc").alias("id_b"), F.col("sig").alias("sig_b"), "blk")
    return (
        a.join(b, on="blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming64(F.col("sig_a"), F.col("sig_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _band_layout(sig_bits: int, n_bands: int) -> list[tuple[int, int, int]]:
    """(band, shift, mask) triples splitting ``sig_bits`` into ``n_bands``
    contiguous bands, widest first."""
    widths = [
        sig_bits // n_bands + (1 if i < sig_bits % n_bands else 0)
        for i in range(n_bands)
    ]
    out, shift = [], 0
    for band, w in enumerate(widths):
        out.append((band, shift, (1 << w) - 1))
        shift += w
    return out


def simhash_dedup_pairs_banded(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 8,
) -> DataFrame:
    """SimHash near-dup pairs with GUARANTEED recall at ``max_hamming``.

    Pigeonhole (Manku et al., WWW'07 fingerprint blocking, generalized):
    split the 60-bit signature into ``max_hamming + 1`` contiguous
    bands; a pair differing in ≤ max_hamming bits can corrupt at most
    max_hamming bands, so it agrees EXACTLY on at least one — an
    equi-join on (band, band_value) finds every such pair.  (4 rotated 16-bit prefix tables would
    not do: 4 tables pigeonhole only hamming ≤ 3; hamming ≤ 8 needs 9
    bands.)

    Scale shape: signatures are computed once (one narrow fold per doc,
    persisted), exploded 9× into (band, val) keys, self-equi-joined —
    never all-pairs.  Cost vs the single-prefix variant: 9× key rows
    and ~6-7-bit band keys, so band-join fan-out is the price of exact
    recall; at 100 TB compose with a coarse blocking key (e.g. length
    bucket or language) or drop to ``simhash_dedup_pairs`` where
    approximate recall is acceptable.
    """
    base = _simhash_base(df, id_col, text_col).transform(persist_once)
    return banded_hamming_pairs(base, sig_bits=60, max_hamming=max_hamming)


def banded_hamming_pairs(
    base: DataFrame, sig_bits: int, max_hamming: int
) -> DataFrame:
    """Exact-recall Hamming-neighbor pairs over a ``(doc, sig)`` relation.

    The signature-agnostic core of ``simhash_dedup_pairs_banded`` —
    same pigeonhole guarantee (split ``sig_bits`` into ``max_hamming+1``
    bands; a pair within ``max_hamming`` agrees exactly on ≥ 1 band, so
    the (band, value) equi-join finds every such pair), reusable for
    any ≤64-bit fingerprint: 60-bit text SimHash, 56-bit image dHash
    (``ml/multimodal.image_dhash``), …  Callers persist ``base`` when
    its lineage is expensive (the self-join evaluates it twice
    otherwise).  Never all-pairs; scale notes on the SimHash wrapper.
    """
    layout = _band_layout(sig_bits, max_hamming + 1)
    bands = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                F.shiftright("sig", shift).bitwiseAND(F.lit(mask)).alias("val"),
            )
            for band, shift, mask in layout
        ]
    )
    ex = base.select("doc", "sig", F.explode(bands).alias("bv")).select(
        "doc", "sig", F.col("bv.band").alias("band"), F.col("bv.val").alias("val")
    )
    a = ex.select(
        F.col("doc").alias("id_a"), F.col("sig").alias("sig_a"), "band", "val"
    )
    b = ex.select(
        F.col("doc").alias("id_b"), F.col("sig").alias("sig_b"), "band", "val"
    )
    return (
        a.join(b, on=["band", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming64(F.col("sig_a"), F.col("sig_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def _positional_grams(
    df: DataFrame, text_col: str, id_col: str, n: int, toks_col: str | None = None
) -> DataFrame:
    """(doc_id, pos, g): word n-grams with their 1-based start position."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(word_shingles(text_col, n, toks_col)).alias("pos0", "g"),
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "g")


def _dup_gram_keys(grams: DataFrame, min_docs: int) -> DataFrame:
    """Grams occurring in ≥ min_docs distinct docs — the shuffle that
    finds cross-document repetition."""
    if min_docs == 2:
        # "≥2 distinct docs" ⟺ min(doc) ≠ max(doc): min/max partial-
        # aggregate map-side for pennies, where count_distinct builds a
        # per-gram hash set before it can combine.  Measured 15–20%
        # off the whole operator at sf0.1.
        return (
            grams.groupBy("g")
            .agg(F.min("doc_id").alias("_mn"), F.max("doc_id").alias("_mx"))
            .filter(F.col("_mn") != F.col("_mx"))
            .select("g")
        )
    return (
        grams.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("g")
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    min_docs: int = 2,
    toks_col: str | None = None,
) -> DataFrame:
    """Exact duplicate TEXT-SPAN detection — word-granular ExactSubstr
    (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): the maximal runs of token positions whose word n-gram
    occurs in ≥ ``min_docs`` distinct documents.  Finer-grained than
    ``chunk_dedup`` (fixed blocks): spans start and end exactly where
    the cross-document repetition does, so a downstream pass can excise
    boilerplate without clipping unique text.

    Returns (doc_id, span_start, span_end, n_dup_grams), token-indexed
    (1-based, inclusive).

    Plan shape — two slim shuffles, never all-pairs: positional shingle
    (narrow, PERSISTED — both the doc-frequency branch and the hits
    re-join read it, and Spark caches partitions as the first branch
    computes them, so even a single cold action pays the explode once;
    measured 3× off the whole operator at sf0.1) → one shuffle on the
    gram for a partial-aggregated distinct-doc count → hits re-join
    (the dup-gram side is the filtered minority) → ONE groupBy(doc_id)
    shuffle collecting each doc's hit positions, merged into maximal
    token spans by a sorted left fold (``F.aggregate``): two gram
    starts whose gap is ≤ n cover overlapping-or-touching token ranges,
    so the fold closes a span only when ``pos - prev > n`` (a plain
    ``pos - row_number()`` grouping would emit overlapping spans for
    starts that are near but not adjacent).  The fold replaces the
    previous lag()+running-sum window pair, whose doc_id repartition +
    sort + SECOND groupBy shuffle measured ~20% slower; per-doc list
    size is bounded by document length — the bound the text column
    itself already imposes on a row.
    At 100 TB the gram join is the cost; its key is content-hashed and
    uniform, and the hits relation is corpus-size × duplication-rate,
    not quadratic.  The persist becomes a materialized gram table at
    cluster scale (MEMORY_AND_DISK spills rather than OOMs); there,
    also switch the join key to ``md5_long(g)`` to cut shuffle bytes
    ~2.5× (not worth it at bench scale where grams are ~20 bytes).
    """
    grams = _positional_grams(df, text_col, id_col, n, toks_col).transform(
        persist_once, StorageLevel.MEMORY_AND_DISK
    )
    dup = _dup_gram_keys(grams, min_docs)
    return (
        grams.join(dup, on="g")
        .groupBy("doc_id")
        .agg(_merge_positions_to_spans(n).alias("spans"))
        .select("doc_id", F.explode("spans").alias("sp"))
        .select("doc_id", "sp.span_start", "sp.span_end", "sp.n_dup_grams")
    )


def _merge_positions_to_spans(n: int) -> Column:
    """Fold a doc's sorted dup-gram start positions into maximal token
    spans: array<struct<span_start, span_end, n_dup_grams>>.

    Pure JVM higher-order fold over ``sort_array(collect_list(pos))`` —
    no window, no second shuffle.  The accumulator carries the closed
    spans plus the open span's (start, prev-start, gram-count); the
    finisher closes the last span.  ``span_end = prev + n - 1`` (the
    last token the final gram covers), matching the window formulation
    bit-for-bit (differential-tested against it).
    """
    ps = F.sort_array(F.collect_list("pos"))
    init = F.struct(
        F.array()
        .cast("array<struct<span_start:long,span_end:long,n_dup_grams:long>>")
        .alias("spans"),
        F.lit(-1).cast("long").alias("s"),
        F.lit(-1).cast("long").alias("prev"),
        F.lit(0).cast("long").alias("c"),
    )

    def closed(acc):
        return F.concat(
            acc.spans,
            F.array(
                F.struct(
                    acc.s.alias("span_start"),
                    (acc.prev + n - 1).alias("span_end"),
                    acc.c.alias("n_dup_grams"),
                )
            ),
        )

    def step(acc, p):
        fresh = F.struct(
            acc.spans.alias("spans"),
            p.alias("s"),
            p.alias("prev"),
            F.lit(1).cast("long").alias("c"),
        )
        extend = F.struct(
            acc.spans.alias("spans"),
            acc.s.alias("s"),
            p.alias("prev"),
            (acc.c + 1).alias("c"),
        )
        close_open = F.struct(
            closed(acc).alias("spans"),
            p.alias("s"),
            p.alias("prev"),
            F.lit(1).cast("long").alias("c"),
        )
        return (
            F.when(acc.c == 0, fresh)
            .when(p - acc.prev <= n, extend)
            .otherwise(close_open)
        )

    def fin(acc):
        return F.when(acc.c == 0, acc.spans).otherwise(closed(acc))

    return F.aggregate(ps, init, step, fin)


def excise_duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    min_docs: int = 2,
    toks_col: str | None = None,
) -> DataFrame:
    """Remove cross-document duplicated spans from the text — the
    excision half of ExactSubstr dedup (Lee et al. 2022): every token
    covered by a word n-gram that occurs in ≥ ``min_docs`` distinct
    documents is dropped; the survivors are re-joined in order.

    Returns (doc_id, clean_text, n_tokens_kept, n_tokens_removed); a
    fully-boilerplate document survives as an empty ``clean_text`` row
    rather than vanishing, so downstream counts reconcile.

    Plan shape: the same gram doc-frequency shuffle as
    :func:`duplicate_spans` (grams likewise PERSISTED — the frequency
    branch and the hit branch both read them), then the dup-gram START
    positions aggregate per doc (one shuffle carrying ONLY hit rows —
    corpus-size × duplication-rate) and the excision itself happens
    ARRAY-LOCALLY on the token array: covered positions expand n-ways
    inside the row, ``array_except(sequence(1, len), covered)`` keeps
    the survivors in order (hash-set difference — linear in document
    length, not len×hits), and the survivors re-assemble with one
    ``transform`` + ``concat_ws``.  This replaces the previous
    token-STREAM plan — posexplode of every token, a LEFT ANTI join of
    all tokens against the exploded covered positions, and a
    collect-and-sort re-assembly shuffle of every (pos, token) struct —
    whose two heavy exchanges moved the whole corpus token-by-token;
    the only corpus-wide relations now shuffled are grams (already
    required for doc-frequency) and the hit starts.  Per-row state is
    bounded by document length, the same bound the text column itself
    already imposes.
    """
    base = df.select(
        F.col(id_col).alias("doc_id"), tokens_ws(text_col, toks_col).alias("w")
    )
    grams = _positional_grams(df, text_col, id_col, n, toks_col).transform(
        persist_once, StorageLevel.MEMORY_AND_DISK
    )
    dup = _dup_gram_keys(grams, min_docs)
    starts = (
        grams.join(dup, on="g")
        .groupBy("doc_id")
        .agg(F.collect_list("pos").alias("starts"))
    )
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                F.col("starts"),
                lambda s: F.sequence(s, s + F.lit(n - 1)),
            )
        )
    )
    # NULL-text guard: size(NULL) is -1 and Spark's sequence(1, -1)
    # DESCENDS, so an unguarded kept_pos would read [1, 0, -1] for a
    # NULL text; the empty array preserves the previous plan's exact
    # output for that row (no tokens kept, clean_text '').
    kept_pos = F.when(
        F.col("w").isNull(), F.array().cast("array<long>")
    ).otherwise(
        F.array_except(
            F.sequence(F.lit(1).cast("long"), F.size("w").cast("long")),
            F.coalesce(covered, F.array().cast("array<long>")),
        )
    )
    return (
        base.join(starts, on="doc_id", how="left")
        .select(
            "doc_id",
            F.concat_ws(
                " ",
                F.transform(
                    kept_pos, lambda p: F.element_at(F.col("w"), p.cast("int"))
                ),
            ).alias("clean_text"),
            F.size(kept_pos).cast("long").alias("n_tokens_kept"),
            (F.size("w").cast("long") - F.size(kept_pos)).cast("long").alias(
                "n_tokens_removed"
            ),
        )
    )


def minhash_lsh_incremental(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    bands: int = 2,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental dedup: match an APPEND BATCH against an existing
    corpus — the production daily-ingest shape.  Candidates only ever
    cross batch × corpus (an equi-join on (band, band_hash) between the
    two sides); the quadratic-ish within-corpus work happened once when
    the corpus was first deduplicated, and at cluster scale the
    corpus's banded signature relation is a persisted parquet "index"
    table that each day's batch probes.

    Returns one row per batch doc: (id, dup_of, jaccard) where
    ``dup_of`` is the LOWEST corpus id whose verified Jaccard ≥
    threshold (NULL for genuinely-new docs, which are safe to append).
    """
    corpus_base = _minhash_base(corpus, id_col, text_col, k, shingle_n)
    batch_base = _minhash_base(batch, id_col, text_col, k, shingle_n)
    cand = (
        _lsh_bands(batch_base, k, bands)
        .select(F.col("doc").alias("bid"), "band", "bh")
        .join(
            _lsh_bands(corpus_base, k, bands).select(
                F.col("doc").alias("cid"), "band", "bh"
            ),
            on=["band", "bh"],
        )
        .select("bid", "cid")
        .dropDuplicates(["bid", "cid"])
    )
    verified = _verify_jaccard(
        cand, batch_base, corpus_base, threshold,
        keys=("bid", "cid"), sh=("sh_b", "sh_c"),
    )
    # Lowest matching corpus id per batch doc — min over (cid, jaccard)
    # structs is deterministic because cid is unique within a bid group.
    best = verified.groupBy("bid").agg(
        F.min(F.struct("cid", "jaccard")).alias("m")
    )
    return batch_base.select(F.col("doc").alias(id_col)).join(
        best.select(
            F.col("bid").alias(id_col),
            F.col("m.cid").alias("dup_of"),
            F.col("m.jaccard").alias("jaccard"),
        ),
        on=id_col,
        how="left",
    )


def label_clusters(
    rows: DataFrame, pairs: DataFrame, id_col: str, cluster_col: str = "cluster"
) -> DataFrame:
    """``rows`` plus ``cluster_col``: the :func:`connected_components`
    cluster of each row's ``id_col``, or the id itself for a row no pair
    touches (a singleton cluster).  The cluster map covers only
    pair-touched ids, orders of magnitude fewer than the rows, so the
    corpus-wide step is one broadcast left join.

    Raises ``ValueError`` when ``rows`` already has ``cluster_col``: the
    label would be ambiguous with the caller's column."""
    if cluster_col in rows.columns:
        raise ValueError(
            f"input already has a column {cluster_col!r}; "
            "rename it before clustering"
        )
    clusters = connected_components(pairs).select(
        F.col("doc").alias(id_col), F.col("cluster").alias(cluster_col)
    )
    return rows.join(F.broadcast(clusters), on=id_col, how="left").withColumn(
        cluster_col, F.coalesce(F.col(cluster_col), F.col(id_col))
    )


def cluster_representatives(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    score_col: str,
) -> DataFrame:
    """Keep-one dedup: pick the best-scoring document per duplicate
    cluster (the step that turns pair/cluster output into an actual
    deduplicated corpus — RefinedWeb/C4-style "keep longest/best").

    ``pairs`` is any near-dup pair set (MinHash-LSH, SimHash, ...);
    clusters come from :func:`connected_components`.  Docs untouched by
    any pair are their own singleton cluster and always kept.  Winner =
    max ``score_col``, ties broken by min id — fully deterministic.

    Scale shape: components are a few distributed rounds over the
    (tiny) pair graph only; the corpus-wide work is the
    :func:`label_clusters` broadcast join plus one window shuffle on
    cluster.  Skew-safe: a pathological mega-cluster is itself the
    signal to fix upstream thresholds, and the window state per cluster
    is one row_number counter, not a buffer.
    """
    labeled = label_clusters(docs, pairs, id_col)
    w = Window.partitionBy("cluster").orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    return labeled.select(
        id_col,
        "cluster",
        F.col(score_col),
        (F.row_number().over(w) == 1).alias("kept"),
    )
