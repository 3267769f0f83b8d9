"""Mergeable Bloom filters: fixed-size set membership over arbitrary keys.

Bloom 1970 ("Space/time trade-offs in hash coding with allowable
errors", CACM 13): an m-bit array; each key sets k hashed bit
positions; a probe answers "definitely absent" or "probably present".
Guarantees: ZERO false negatives, and false-positive probability
≈ (1 − e^(−kn/m))^k for n inserted keys.

Why this matters at 100 TB: decontamination / membership probes against
a reference set (benchmark n-grams, a blocklist, yesterday's key space)
normally broadcast the reference's DISTINCT key set — fine at MBs,
dead at GBs.  The Bloom filter is a FIXED m-bit relation no matter the
reference cardinality, built by one map-side-combinable groupBy whose
key space is the m/32-word grid (hot keys collapse map-side — the same
skew-proof shape as ``ml.sketches.cms_build``).  Filters MERGE by
OR-ing words cell-wise, so per-suite / per-day filters compose without
raw data.

One probe path: ``bloom_words_relation`` folds the filter into a
one-row dense word array (``WORDS_COL``, m/32 longs — 16 KiB at
m = 2^16) that consumers attach with a broadcast ``crossJoin``, and
``bloom_hit_expr`` tests a key against it as k flat codegen checks —
never a shuffle of probe-side keys.  That one broadcast row is m/4
bytes, so m is bounded by what a broadcast can carry.

This is the same structure Spark itself injects for runtime join
pruning (Bloom-filtered sort-merge joins); here it is a first-class,
persistable operator.

Hash family: the deterministic md5-affine family shared with
MinHash/CMS (``dedup.md5_long`` → ``dedup.affine_hashes`` mod P mod m)
— no randomness to ship, and a DuckDB oracle replays the ENTIRE filter
bit-for-bit, so the registered query is exact-hash graded.

NULL keys are not members: the build skips them and a NULL probe reads
False.

Words are 32-bit (stored in BIGINT): masks stay positive on engines
whose ``<<`` checks BIGINT overflow, and bit_or/& semantics are
engine-portable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from processo_etl_spark.columns import internal
from processo_etl_spark.ml.dedup import MERSENNE_P, affine_hashes, md5_long
from processo_etl_spark.session import persist_once

WORD_BITS = 32


def _word_masks(key: Column, k: int, n_bits: int) -> list[tuple[Column, Column]]:
    """The key's k filter bits as (word index, 32-bit mask) pairs; the
    index is the unrounded ``pos / 32`` each caller casts."""
    h = md5_long(key) % F.lit(MERSENNE_P)
    return [
        (
            pos / F.lit(WORD_BITS),
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                (pos % F.lit(WORD_BITS)).cast("int"),
            ),
        )
        for pos in affine_hashes(h, k, n_bits)
    ]


def bloom_build(
    df: DataFrame, key_col: str | Column, n_bits: int = 1 << 16, k: int = 4
) -> DataFrame:
    """Build the filter: (word, bits), ≤ m/32 rows total.  Rows whose
    key is NULL are skipped: they set no bit.

    One explode (bounded k× fan-out) + one map-side-combinable groupBy
    — the only shuffle, and its key space is the fixed word grid, so a
    skewed key domain CANNOT skew the shuffle.  Cost is independent of
    the key set's cardinality; only the FP rate depends on it.  The
    build is a plain aggregate, so it runs unchanged over a streaming
    source (state is at most m/32 words).
    """
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    masks = F.array(
        *[
            F.struct(word.cast("long").alias("word"), mask.alias("mask"))
            for word, mask in _word_masks(key, k, n_bits)
        ]
    )
    return (
        df.filter(key.isNotNull())
        .select(F.explode(masks).alias("c"))
        .groupBy(F.col("c.word").alias("word"))
        .agg(F.bit_or(F.col("c.mask")).alias("bits"))
    )


def bloom_merge(*filters: DataFrame) -> DataFrame:
    """Merge filters built with the same (n_bits, k, hash family):
    word-wise OR — per-day / per-suite filters compose without raw
    data, exactly like CMS counter sums."""
    from functools import reduce

    u = reduce(DataFrame.unionByName, filters)
    return u.groupBy("word").agg(F.bit_or("bits").alias("bits"))


# Column of the one-row filter relation.  Reserved (``columns.internal``):
# it is cross-joined onto caller frames, so a plain name such as ``words``
# would be ambiguous with — and then dropped along with — a caller column.
WORDS_COL = internal("bloom_words")


def bloom_words_relation(
    df: DataFrame, key_col: str | Column, n_bits: int = 1 << 16, k: int = 4
) -> DataFrame:
    """The filter as a ONE-ROW relation (``WORDS_COL``: dense array<long>,
    length m/32, a word the build never touched read as 0), built by
    :func:`bloom_build`'s fixed-grid groupBy.  It stays IN the plan and
    attaches to consumers as a broadcast one-row scalar
    (``crossJoin(F.broadcast(...))``) instead of a driver ``collect``:
    the filter build is one more broadcast-exchange job inside the
    consuming query, overlapping its other builds."""
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    n_words = n_bits // WORD_BITS
    return (
        bloom_build(df, key, n_bits=n_bits, k=k)
        .agg(
            F.map_from_arrays(
                F.collect_list("word"), F.collect_list("bits")
            ).alias("_m")
        )
        .select(
            F.transform(
                F.sequence(
                    F.lit(0).cast("long"), F.lit(n_words - 1).cast("long")
                ),
                lambda i: F.coalesce(
                    F.element_at("_m", i), F.lit(0).cast("long")
                ),
            ).alias(WORDS_COL)
        )
    )


def bloom_hit_expr(words: Column, key: Column, n_bits: int, k: int) -> Column:
    """Map-side membership test of ``key`` against ``words``, the
    ``WORDS_COL`` array of a :func:`bloom_words_relation` row attached
    by a broadcast crossJoin: k flat (word, mask) checks — no join, no
    shuffle, whole-stage-codegen friendly (constant-table loops are
    unrolled, not HOF-folded; see SCALE.md on HOFs over constants).
    A NULL key reads False, never NULL."""
    hit = key.isNotNull()
    for word_idx, mask in _word_masks(key, k, n_bits):
        word = F.element_at(words, word_idx.cast("int") + F.lit(1))
        hit = hit & (word.bitwiseAND(mask) == mask)
    return hit


def join_bloom_pruned(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    n_bits: int = 1 << 16,
    k: int = 4,
) -> DataFrame:
    """Equi-join with Bloom semi-join reduction of the LEFT side
    (sideways information passing / LIP): build a filter over the
    right side's keys, prune left rows at SCAN speed with the map-side
    membership expression, then run the exact join — false positives
    are eliminated by the join itself, so the result is IDENTICAL to
    the plain join by construction.

    When this matters: both sides too big to broadcast.  The plain
    plan shuffles ALL left rows into the sort-merge exchange; the
    pruned plan shuffles only rows whose key (probably) exists on the
    right — for selective joins (TPC-H q9-style part-slice ⋈ lineitem)
    that is a 10–100× exchange-payload cut for the price of one m-bit
    broadcast.  Spark's AQE injects this only in limited shapes
    (runtime bloom pruning); this operator makes it explicit and
    composable.  The filter build is one combinable groupBy over the
    right side's keys; driver state is m/32 longs regardless of key
    cardinality.
    """
    # keys hash as strings (md5 is a string/binary hash); both sides use
    # the same canonical form so the zero-false-negative guarantee holds.
    # The filter enters the plan as a broadcast one-row scalar —
    # no driver collect; the probe expression itself is unchanged.
    filt = bloom_words_relation(
        right.select(F.col(right_key).cast("string").alias(right_key)),
        right_key,
        n_bits=n_bits,
        k=k,
    )
    pruned = (
        left.crossJoin(F.broadcast(filt))
        .filter(
            bloom_hit_expr(
                F.col(WORDS_COL), F.col(left_key).cast("string"), n_bits, k
            )
        )
        .drop(WORDS_COL)
    )
    return pruned.join(right, pruned[left_key] == right[right_key])


def bloom_contamination(
    corpus: DataFrame,
    eval_set: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    n_bits: int = 1 << 16,
    k: int = 4,
    toks_col: str | None = None,
) -> DataFrame:
    """Benchmark decontamination through a Bloom filter of the eval
    set's word n-grams, with the exact probe alongside for audit.

    Returns per corpus document: ``n_grams`` (distinct n-grams),
    ``n_bloom_hits`` (grams the filter flags), ``n_exact_hits`` (grams
    truly in the eval set), ``contaminated`` (any bloom hit).  The
    zero-false-negative guarantee means ``n_bloom_hits ≥ n_exact_hits``
    row-by-row — the registered query exposes both so the guarantee is
    hash-graded, and ``n_bloom_hits − n_exact_hits`` measures the FP
    cost of the m-bit compression.  ``id_col`` must be UNIQUE per
    corpus row (the same precondition the dedup operators state): the per-document aggregate emits one row per distinct id,
    so duplicate ids would collapse into one merged row where the old
    restore-join plan emitted one output row per corpus row.

    Scale shape vs ``decontaminate.ngram_contamination``: the filter is
    m/32 words instead of the eval set's distinct-gram relation —
    constant-size no matter how many benchmark suites merge in — and it
    enters the corpus scan as ONE broadcast word array
    (``bloom_words_relation`` + ``bloom_hit_expr``), so the per-gram
    membership test is a flat codegen expression with ZERO probe-side
    shuffle; the only corpus shuffles are the gram explode's
    per-document aggregation (map-side combinable).  The broadcast row
    is m/4 bytes, whatever the eval set's size.  Keep the exact side
    only while auditing; the production path drops it and with it the
    gram-set broadcast entirely.
    """
    from processo_etl_spark.ml.dedup import shingle_set

    # Materialized once: the filter build and the exact-audit broadcast
    # otherwise each re-run the shingle pipeline + distinct.
    eval_grams = (
        eval_set.select(F.explode(shingle_set(text_col, n)).alias("gram"))
        .distinct()
        .transform(persist_once)
    )
    # The filter attaches IN-PLAN as a broadcast one-row scalar: its
    # build overlaps the query's other exchange builds and the query
    # path holds zero driver collects.  The probed word array
    # is read off the joined row and immediately dropped by the
    # projection under the per-doc aggregate, so the 16 KiB array never
    # enters the exchange.
    filt = bloom_words_relation(eval_grams, "gram", n_bits=n_bits, k=k)
    # explode_outer, not explode: word_shingles yields >= 1 gram
    # for every text, NULL included (['']), and the outer explode would
    # keep even an empty array's row, so EVERY corpus document survives
    # into the aggregate and the old restore join (corpus ids left-joined
    # back onto the hit counts — one more join + corpus re-scan) is
    # provably a no-op and is gone.  NULL-gram rows contribute zero to
    # all three counters.
    corpus_grams = corpus.select(
        id_col,
        F.explode_outer(shingle_set(text_col, n, toks_col)).alias("gram"),
    ).crossJoin(F.broadcast(filt))
    flagged = corpus_grams.withColumn(
        "bloom_hit", bloom_hit_expr(F.col(WORDS_COL), F.col("gram"), n_bits, k)
    ).drop(WORDS_COL)
    exact = flagged.join(
        F.broadcast(eval_grams.withColumn("exact_hit", F.lit(1))), "gram", "left"
    )
    return exact.groupBy(id_col).agg(
        F.count("gram").alias("n_grams"),
        F.coalesce(
            F.sum(F.col("bloom_hit").cast("long")), F.lit(0).cast("long")
        ).alias("n_bloom_hits"),
        F.coalesce(
            F.sum(F.when(F.col("gram").isNotNull(), F.coalesce("exact_hit", F.lit(0))).cast("long")),
            F.lit(0).cast("long"),
        ).alias("n_exact_hits"),
        F.coalesce(
            F.sum(F.col("bloom_hit").cast("long")) > 0, F.lit(False)
        ).alias("contaminated"),
    )
