"""Sequence packing: assign documents to fixed-size context windows.

LLM pretraining consumes fixed-length token windows; the packing step
maps each (shuffled) document to a window id and an offset — the
"concat-and-chunk" scheme: documents are laid end-to-end in a
deterministic order and the stream is cut every ``max_tokens``.  A
document may straddle a cut (standard GPT-style pretraining behavior);
``offset`` tells the consumer where in its first window the document
starts.

Design for 100 TB:

- **Shard first, pack within shards.** A single global running sum is a
  one-partition window — the canonical Spark scale bug.  Here documents
  hash into ``n_shards`` independent streams; each shard's cumsum is a
  bounded per-partition sort, and (shard, pack_id) is globally unique.
  With 100k+ shards every executor packs in parallel and no window state
  exceeds |rows|/n_shards.
- **Deterministic order** inside a shard: md5-hash order (pre-shuffled
  for free — no separate shuffle pass), tie-broken by the key.
- All arithmetic is integer and engine-portable (md5-prefix hashes), so
  the whole operator is SQL-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from processo_etl_spark.columns import internal
from processo_etl_spark.ml.dedup import md5_long


def pack_sequences(
    df: DataFrame,
    key: str,
    token_col: str,
    max_tokens: int = 2048,
    n_shards: int = 64,
) -> DataFrame:
    """Concat-and-chunk packing: adds ``shard``, ``pack_id``, ``offset``.

    ``pack_id`` = which fixed-size window (within the shard) the document
    *starts* in; ``offset`` = token position within that window.  The
    running total before each document is
    ``sum(tokens) OVER (PARTITION BY shard ORDER BY h ROWS UNBOUNDED
    PRECEDING AND 1 PRECEDING)`` — a map-side-combinable prefix sum per
    shard, one shuffle total.
    """
    c = F.col(key).cast("string")
    h = internal("h")
    df = df.withColumn(h, md5_long(c)).withColumn(
        "shard", (md5_long(F.concat(F.lit("pack:"), c)) % F.lit(n_shards)).cast("int")
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(h, key)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.coalesce(F.sum(token_col).over(w), F.lit(0))
    return (
        df.withColumn("pack_id", F.floor(prev / F.lit(max_tokens)).cast("long"))
        .withColumn("offset", (prev % F.lit(max_tokens)).cast("long"))
        .drop(h)
    )


def packing_stats(packed: DataFrame, token_col: str, max_tokens: int) -> DataFrame:
    """Fill-rate audit per shard: windows used vs. ideal (= ceil of the
    token total / window size).  For concat-and-chunk the two are equal by
    construction — the audit's value is catching a broken upstream token
    count (NULL/negative) rather than packing loss."""
    return packed.groupBy("shard").agg(
        F.sum(token_col).alias("tokens"),
        (F.count_distinct("pack_id")).alias("packs_started"),
        F.ceil(F.sum(token_col) / F.lit(max_tokens)).alias("packs_ideal"),
    )


def concat_split_stats(
    df: DataFrame,
    id_col: str,
    token_count,
    window: int,
) -> DataFrame:
    """One row: (n_docs, total_tokens, n_sequences, n_docs_split,
    tail_padding) — the GLOBAL-ORDER fragmentation audit that
    complements :func:`pack_sequences` (which assigns docs to sharded
    windows) and :func:`packing_stats` (which audits fill per shard):
    concatenating the corpus in ``id_col`` order and cutting every
    ``window`` tokens, how many documents cross a cut (they need EOD
    attention masking) and how much tail padding remains (this mode's
    only waste).  Doc i is split iff
    floor((cum_i − 1)/W) > floor((cum_i − n_i)/W) — a pure integer
    function of the exact global cumulative sum, which runs as
    :func:`operators.ranking.distributed_cumsum` (range partition +
    per-partition offset broadcast, no single-partition window).  Empty
    documents count toward n_docs but can never split.  All-integer
    output — immune to the fold-portability class by construction."""
    if window <= 0:
        raise ValueError(f"window must be positive, got {window}")
    from processo_etl_spark.operators.ranking import distributed_cumsum

    w = int(window)
    doc, n, c = internal("id"), internal("n"), internal("c")
    per = df.select(F.col(id_col).alias(doc), token_count.cast("long").alias(n))
    cum = distributed_cumsum(
        per, order_by=[F.col(doc).asc()], value_col=n, out_col=c
    )
    split = (F.col(n) > 0) & (
        F.expr(f"({c} - 1) div {w}") > F.expr(f"({c} - {n}) div {w}")
    )
    agg = cum.agg(
        F.count(F.lit(1)).alias("n_docs"),
        # coalesce: F.sum over zero rows is NULL — an empty frame must
        # still honor the all-integer contract (0 tokens, 0 sequences)
        F.coalesce(F.sum(n), F.lit(0)).alias("total_tokens"),
        F.coalesce(F.sum(F.when(split, 1).otherwise(0)), F.lit(0)).alias(
            "n_docs_split"
        ),
    )
    n_seq = F.expr(f"(total_tokens + {w - 1}) div {w}")
    return agg.select(
        "n_docs",
        "total_tokens",
        n_seq.cast("long").alias("n_sequences"),
        F.col("n_docs_split").cast("long").alias("n_docs_split"),
        (n_seq * w - F.col("total_tokens"))
        .cast("long")
        .alias("tail_padding"),
    )


def length_bucketed_packing(
    df: DataFrame,
    token_count,
    window: int,
) -> DataFrame:
    """Per length class: (len_class, n_docs, docs_per_pack, n_packs,
    fill_permille, truncated) — NO-SPLIT packing, the mode
    :func:`pack_sequences` deliberately isn't: group documents by exact
    token length ℓ, a ``window``-token sequence holds exactly ⌊W/ℓ⌋
    same-length docs, so no document ever crosses a boundary and the
    per-class padding waste is the closed form (⌊W/ℓ⌋·ℓ·1000) div W
    per-mille (the length-bucketed batching used by encoder/seq2seq
    trainers, and the deterministic distributed alternative to
    first-fit — FFD's greedy scan is sequential; class-local packing is
    ONE map-side-combinable groupBy bounded by the distinct-length
    domain).  Docs longer than the window form the ``truncated`` class
    (one per pack, window fully used); empty docs are excluded."""
    if window <= 0:
        raise ValueError(f"window must be positive, got {window}")
    w = int(window)
    per = df.select(token_count.cast("long").alias("len_class")).filter(
        F.col("len_class") > 0
    )
    cls = per.groupBy("len_class").agg(F.count(F.lit(1)).alias("n_docs"))
    trunc = F.col("len_class") > w
    dpp = F.when(trunc, F.lit(1)).otherwise(F.expr(f"{w} div len_class"))
    cls = cls.withColumn("docs_per_pack", dpp.cast("long"))
    return cls.select(
        "len_class",
        "n_docs",
        "docs_per_pack",
        F.expr("(n_docs + docs_per_pack - 1) div docs_per_pack")
        .cast("long")
        .alias("n_packs"),
        F.when(trunc, F.lit(1000))
        .otherwise(F.expr(f"(docs_per_pack * len_class * 1000) div {w}"))
        .cast("long")
        .alias("fill_permille"),
        trunc.alias("truncated"),
    )
