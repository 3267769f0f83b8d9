"""BPE tokenizer training and corpus encoding.

Sennrich, Haddow, Birch 2016 ("Neural Machine Translation of Rare Words
with Subword Units", ACL) — byte-pair encoding trained on the corpus's
WORD-FREQUENCY table, not the corpus:

1. ``word_frequencies``: ONE corpus scan + one shuffle produces
   (word, freq) — at 100 TB this is the only corpus-scale pass, and
   the result is vocabulary-sized (≪ corpus, Zipf's law), so
2. ``train_bpe_merges`` runs the classic merge loop DRIVER-SIDE on the
   (bounded top-V) frequency dict — the same train-on-summary pattern
   as the IVF/PQ codebook trainers: iteration count × vocab size is
   decoupled from corpus size, and a distributed merge loop would
   shuffle the corpus once per merge for no benefit.
3. ``bpe_encode`` applies the learned merges corpus-wide in an
   Arrow-batched pandas UDF (``mapInPandas``) — the sanctioned escape
   hatch: per-word encoding loops until no merge applies, a
   data-dependent iteration no native expression expresses.  Unique
   words are memoized per batch, so cost ~ distinct words per batch,
   not tokens.

Determinism: merge selection is max by (count, pair) with the pair's
LEXICOGRAPHIC order breaking count ties — no hash-map iteration order
leaks into the result, so the same corpus always yields the same merge
table on any engine or partitioning.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from processo_etl_spark.ml.dedup import tokens_ws


def word_frequencies(df: DataFrame, text_col: str) -> DataFrame:
    """(word, freq): the corpus's word-frequency table — one explode +
    one map-side-combinable groupBy; empty-string tokens dropped."""
    return (
        df.select(
            F.explode(tokens_ws(text_col)).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def train_bpe_merges(
    word_freqs: list[tuple[str, int]],
    n_merges: int = 64,
) -> list[tuple[str, str]]:
    """Classic BPE merge loop over a (word, freq) list; returns the
    ordered merge table.  Words are sequences of single characters plus
    the end-of-word marker ``</w>`` (so merges never cross words).
    Pure Python on the bounded vocabulary — deterministic.
    """
    symseqs: dict[tuple[str, ...], int] = {}
    for w, f in word_freqs:
        seq = tuple(list(w) + ["</w>"])
        symseqs[seq] = symseqs.get(seq, 0) + f
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        for seq, f in symseqs.items():
            for i in range(len(seq) - 1):
                p = (seq[i], seq[i + 1])
                pair_counts[p] = pair_counts.get(p, 0) + f
        if not pair_counts:
            break
        # max count, ties to the lexicographically SMALLEST pair —
        # deterministic regardless of dict iteration order.
        best_count = max(pair_counts.values())
        if best_count < 2:
            break  # nothing left that actually repeats
        best_pair = min(p for p, c in pair_counts.items() if c == best_count)
        merges.append(best_pair)
        a, b = best_pair
        merged = a + b
        nxt: dict[tuple[str, ...], int] = {}
        for seq, f in symseqs.items():
            out = []
            i = 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            key = tuple(out)
            nxt[key] = nxt.get(key, 0) + f
        symseqs = nxt
    return merges


def train_bpe_from_corpus(
    df: DataFrame,
    text_col: str,
    n_merges: int = 64,
    max_vocab: int = 50_000,
) -> list[tuple[str, str]]:
    """End-to-end trainer: frequency table (distributed) → bounded top-V
    collect (freq desc, word asc — deterministic) → driver merge loop."""
    rows = (
        word_frequencies(df, text_col)
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(max_vocab)
        .collect()
    )
    return train_bpe_merges([(r["word"], r["freq"]) for r in rows], n_merges)


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy lowest-rank-first BPE encoding of one word (the standard
    inference rule: always apply the EARLIEST-learned applicable merge)."""
    seq = list(word) + ["</w>"]
    while len(seq) > 1:
        best_rank, best_i = None, None
        for i in range(len(seq) - 1):
            r = ranks.get((seq[i], seq[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        seq[best_i : best_i + 2] = [seq[best_i] + seq[best_i + 1]]
    return seq


def bpe_encode(
    df: DataFrame,
    text_col: str,
    id_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """(doc_id, pieces, n_words, n_pieces): the whole corpus encoded with
    the learned merge table — Arrow-batched ``mapInPandas`` with a
    per-batch word memo (cost ~ distinct words, not tokens).  The merge
    table ships in the closure (vocabulary-sized — the broadcast-small
    side by construction)."""
    import pandas as pd  # noqa: F401 (typing only; imported on executors)

    ranks = {p: i for i, p in enumerate(merges)}
    norm = df.select(
        F.col(id_col).alias("doc_id"),
        tokens_ws(text_col).alias("words"),
    )

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        memo: dict[str, list[str]] = {}
        for pdf in it:
            out_pieces, out_nw, out_np = [], [], []
            for words in pdf["words"]:
                pieces: list[str] = []
                nw = 0
                for w in words:
                    if w == "":
                        continue
                    nw += 1
                    enc = memo.get(w)
                    if enc is None:
                        enc = encode_word(w, ranks)
                        memo[w] = enc
                    pieces.extend(enc)
                out_pieces.append(pieces)
                out_nw.append(nw)
                out_np.append(len(pieces))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "pieces": out_pieces,
                    "n_words": out_nw,
                    "n_pieces": out_np,
                }
            )

    schema = (
        "doc_id long, pieces array<string>, n_words long, n_pieces long"
    )
    return norm.mapInPandas(batches, schema=schema)
