"""Text analysis for training-data pipelines: language ID, quality
scoring, token counting, fingerprinting — all native expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from processo_etl_spark.ml.dedup import fingerprint, tokens_ws, word_chunks

# Minimal function-word lists for the n-gram/stopword language heuristic.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "los", "se", "no"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une", "du", "est"),
    "de": ("der", "die", "das", "und", "in", "den", "von", "zu", "mit", "ist"),
}


def token_count_ws(c: Column | str) -> Column:
    return F.size(tokens_ws(c))


def token_count_bpe_regex(c: Column | str) -> Column:
    """BPE-ish token count: words, digit runs, and punctuation pieces.

    A regex proxy for subword tokenizers (letters run | digits run |
    single non-space symbol) — counts pieces, JVM-side.
    """
    col = F.col(c) if isinstance(c, str) else c
    return F.size(F.regexp_extract_all(col, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0))


def stopword_ratio(
    c: Column | str, lang: str = "en", toks_col: str | None = None
) -> Column:
    toks = tokens_ws(c, toks_col)
    hits = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS[lang])))
    return hits.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def detect_language(c: Column | str) -> Column:
    """Pick the language whose function words dominate; 'und' if none hit.

    An n-gram-free heuristic good enough to route documents; swap in a
    proper model via a Pandas UDF when libraries are available.
    """
    toks = tokens_ws(c)
    langs = list(STOPWORDS)

    def _in_list(sw: tuple[str, ...]):
        # unary lambda factory: a two-param lambda would receive the HOF
        # element index as its second argument (PySpark semantics).
        return lambda x: x.isin(*sw)

    # Let-bind the token array, then the score vector: HOFs bypass codegen
    # CSE, so naming these subtrees once avoids re-tokenizing per language
    # and re-scoring per CASE branch.
    def _scores(tk: Column) -> Column:
        return F.array(
            *[F.size(F.filter(tk, _in_list(STOPWORDS[lang]))) for lang in langs]
        )

    scores = F.element_at(F.transform(F.array(toks), _scores), 1)

    def _decide(s: Column) -> Column:
        best = F.array_max(s)
        expr = F.when(best == 0, "und")
        for i, lang in enumerate(langs):  # insertion order breaks ties
            expr = expr.when(F.element_at(s, i + 1) == best, lang)
        return expr

    return F.element_at(F.transform(F.array(scores), _decide), 1)


def quality_features(
    df: DataFrame, text_col: str, toks_col: str | None = None
) -> DataFrame:
    """Per-document quality features + a composite score in [0,1].

    Score terms use ``floor`` scaling (not round) so every engine agrees
    bit-for-bit; a single narrow projection, no shuffle.
    """
    toks = tokens_ws(text_col, toks_col)
    n_tok = F.size(toks)
    n_char = F.length(F.col(text_col))
    punct = F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"[^\w\s]"), 0))
    mean_tok_len = (n_char.cast("double") / F.greatest(n_tok, F.lit(1)).cast("double"))
    sw_ratio = stopword_ratio(text_col, "en", toks_col=toks_col)
    score = (
        F.least(n_tok.cast("double") / F.lit(100.0), F.lit(1.0)) * F.lit(0.4)
        + F.least(sw_ratio * F.lit(5.0), F.lit(1.0)) * F.lit(0.3)
        + (F.lit(1.0) - F.least(punct.cast("double") / F.greatest(n_char, F.lit(1)).cast("double") * F.lit(10.0), F.lit(1.0))) * F.lit(0.3)
    )
    return df.select(
        "*",
        n_tok.alias("n_tokens"),
        n_char.alias("n_chars_m"),
        mean_tok_len.alias("mean_token_len"),
        sw_ratio.alias("stopword_ratio"),
        (F.floor(score * 1000) / 1000).alias("quality_score"),
    )


def _max_run(sorted_arr: Column) -> Column:
    """Longest run of equal adjacent elements in a SORTED array — i.e. the
    max multiplicity of any value — via a single HOF fold (no shuffle)."""
    return F.aggregate(
        sorted_arr,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
    )["best"]


def word_bigrams(tk: Column) -> Column:
    """Adjacent word pairs from a token array (empty when <2 tokens)."""
    n = F.size(tk)
    return F.when(n < 2, F.array().cast("array<string>")).otherwise(
        F.zip_with(
            F.slice(tk, 1, n - 1),
            F.slice(tk, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    )


def repetition_ratios(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Gopher/MassiveText repetition signals per document:

    - dup_token_frac:  fraction of tokens that are repeat occurrences
      (1 − distinct/total) — the "duplicate word fraction" rule
    - dup_bigram_frac: same over adjacent word 2-grams
    - top_bigram_frac: occurrences of the most frequent 2-gram / total
      2-grams — catches boilerplate loops exact-dedup misses

    Entirely per-row HOF expressions over let-bound arrays: a narrow
    projection with NO shuffle, so at 100 TB it runs at scan speed and
    feeds the downstream quality filter without a single exchange.
    Denominators use greatest(n, 1) on both engines so the doubles are
    bit-identical IEEE divisions.
    """
    toks = tokens_ws(text_col)

    def _feats(tk: Column) -> Column:
        n = F.size(tk)
        bg = word_bigrams(tk)
        nb = F.size(bg)
        d = F.greatest(n, F.lit(1)).cast("double")
        db = F.greatest(nb, F.lit(1)).cast("double")
        return F.struct(
            n.alias("n_tokens"),
            ((n - F.size(F.array_distinct(tk))).cast("double") / d).alias(
                "dup_token_frac"
            ),
            ((nb - F.size(F.array_distinct(bg))).cast("double") / db).alias(
                "dup_bigram_frac"
            ),
            (_max_run(F.array_sort(bg)).cast("double") / db).alias(
                "top_bigram_frac"
            ),
        )

    feats = F.element_at(F.transform(F.array(toks), _feats), 1)
    return df.select(F.col(id_col), feats.alias("f")).select(id_col, "f.*")


def gopher_quality_flags(
    df: DataFrame, text_col: str, id_col: str, toks_col: str | None = None
) -> DataFrame:
    """Gopher-rules-style quality signals per document (public heuristics
    from the Gopher/MassiveText filtering literature):

    - n_tokens, mean_word_len
    - frac_alpha_words: fraction of tokens containing a letter
    - top_token_frac:   most frequent token / n_tokens (repetition)
    - keep: the conjunctive rule-of-thumb filter

    One narrow projection; the token array is let-bound (HOFs skip CSE).
    """
    toks = tokens_ws(text_col, toks_col)

    def _feats(tk: Column) -> Column:
        n = F.size(tk)
        alpha = F.size(F.filter(tk, lambda x: x.rlike("[A-Za-zÀ-ÿ]")))
        total_len = F.aggregate(
            F.transform(tk, F.length), F.lit(0), lambda a, x: a + x
        )
        # top token frequency via aggregate over a map would need UDF;
        # sort + adjacent-run max is native: count max run in sorted array.
        runs = _max_run(F.array_sort(tk))
        return F.struct(
            n.alias("n_tokens"),
            (total_len.cast("double") / F.greatest(n, F.lit(1)).cast("double")).alias(
                "mean_word_len"
            ),
            (alpha.cast("double") / F.greatest(n, F.lit(1)).cast("double")).alias(
                "frac_alpha_words"
            ),
            (runs.cast("double") / F.greatest(n, F.lit(1)).cast("double")).alias(
                "top_token_frac"
            ),
        )

    feats = F.element_at(F.transform(F.array(toks), _feats), 1)
    out = df.select(F.col(id_col), feats.alias("f")).select(id_col, "f.*")
    keep = (
        (F.col("n_tokens") >= 5)
        & (F.col("mean_word_len") >= 2)
        & (F.col("mean_word_len") <= 12)
        & (F.col("frac_alpha_words") >= 0.6)
        & (F.col("top_token_frac") <= 0.3)
    )
    return out.withColumn("keep", keep)


EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9()\s.-]{7,}[0-9]"


def scrub_pii(c: Column | str) -> Column:
    """Replace email addresses and phone-number-shaped runs with typed
    placeholders — regex is RE2-safe (no backreferences) so the exact
    same patterns run on any engine."""
    col = F.col(c) if isinstance(c, str) else c
    return F.regexp_replace(
        F.regexp_replace(col, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )


def doc_fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Stable md5 content fingerprint over normalized text."""
    return df.select(F.col(id_col), fingerprint(text_col).alias("fp"))


def vocab_counts(
    df: DataFrame,
    text_col: str,
    min_count: int = 1,
    toks_col: str | None = None,
) -> DataFrame:
    """Corpus vocabulary: term → document frequency + total occurrences.

    The tokenizer-training precursor (vocab/merges start from exactly
    this table).  One explode + one map-side-combinable groupBy on the
    term — the canonical word-count shape; at 100 TB the only shuffle
    carries (term, partial counts), never documents.
    """
    toks = F.explode(tokens_ws(text_col, toks_col)).alias("term")
    return (
        df.select(toks)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= min_count)
    )


def doc_frequency(
    df: DataFrame, text_col: str, id_col: str, toks_col: str | None = None
) -> DataFrame:
    """term → number of documents containing it (distinct per doc first,
    so the shuffle carries at most |vocab| × |docs| *distinct* pairs)."""
    return (
        df.select(
            id_col,
            F.explode(F.array_distinct(tokens_ws(text_col, toks_col))).alias("term"),
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    scale: int = 10_000,
    toks_col: str | None = None,
) -> DataFrame:
    """Top-k characteristic terms per document by tf-idf.

    tf = in-doc occurrences, idf = ln(N/df) over the corpus.  The idf
    table is |vocab|-sized → broadcast back onto the exploded terms, so
    the corpus side shuffles only for the per-(doc, term) count.  Scores
    are floor-scaled to 1/``scale`` before ranking so the tie-break
    (then term asc) is reproducible across engines and partitionings.
    """
    n_docs = df.count()  # one cheap metadata-only count (parquet rowcount)
    tf = (
        df.select(id_col, F.explode(tokens_ws(text_col, toks_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = doc_frequency(df, text_col, id_col, toks_col=toks_col).withColumn(
        "idf", F.log(F.lit(float(n_docs)) / F.col("df"))
    )
    scored = tf.join(F.broadcast(idf), "term").withColumn(
        "tfidf",
        F.floor(F.col("tf") * F.col("idf") * scale) / scale,
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
        .select(id_col, "term", "tfidf", "rk")
    )


def corpus_frequency_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
    rare_threshold: int = 2,
    toks_col: str | None = None,
) -> DataFrame:
    """Per-document corpus-statistics quality score — the count-based
    proxy for LM-perplexity filtering (CCNet/Gopher pipelines score docs
    by how "expected" their tokens are; rare-token-heavy docs are noise,
    all-boilerplate docs sit at the other extreme).

    Emits per doc: ``n_tokens``, ``mean_term_freq`` (occurrence-weighted
    mean corpus frequency of the doc's tokens) and ``rare_frac``
    (fraction of token occurrences whose term appears ≤ rare_threshold
    times in the corpus).  Deliberately transcendental-free (no ln/exp):
    integer sums + one IEEE division, so the DuckDB oracle matches
    bit-for-bit — a real log-perplexity would differ in the last ulp
    across libm implementations.

    Scale shape: term frequencies and per-(doc, term) tf are both
    map-side-combinable groupBys; the join carries DISTINCT (doc, term)
    pairs (not raw token occurrences) against the |vocab|-sized
    frequency table; one final groupBy on the doc id.  freq·tf products
    are summed as DECIMAL(38,0) (a 100 TB corpus puts freq ~1e11 × tf
    ~1e3 past int64) then emitted as DOUBLE.
    """
    # Two independent explode passes, deliberately (the alternatives
    # were measured): deriving freq from the (doc, term) tf partials —
    # either persisted or via exchange reuse — reads/ships the WIDER
    # pair relation and lost 35–65% on the operator at sf0.1, because a
    # re-explode over the cached corpus is a near-free narrow pass while
    # the per-term partial aggregation already collapses it map-side.
    freq = vocab_counts(df, text_col, toks_col=toks_col)
    tf = (
        df.select(F.col(id_col), F.explode(tokens_ws(text_col, toks_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    joined = tf.join(freq, "term")
    weighted = (F.col("n_occurrences") * F.col("tf")).cast("decimal(38,0)")
    rare_occ = F.when(
        F.col("n_occurrences") <= rare_threshold, F.col("tf")
    ).otherwise(F.lit(0))
    return (
        joined.groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_tokens"),
            (F.sum(weighted).cast("double") / F.sum("tf")).alias("mean_term_freq"),
            (F.sum(rare_occ).cast("double") / F.sum("tf")).alias("rare_frac"),
        )
    )


def mixed_language_flags(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 10,
    min_agreement: float = 0.8,
) -> DataFrame:
    """Code-switching / mixed-language detection: run the language
    heuristic per CHUNK and flag documents whose chunks disagree —
    whole-document langid silently mislabels half-and-half documents
    (embedded quotes, bilingual boilerplate, concatenation bugs), a
    standard multilingual-corpus curation check.

    Per document: ``n_chunks``, ``dominant_lang`` (most chunks;
    count-desc then lang-asc tiebreak, so deterministic), ``agreement``
    (dominant fraction), ``n_langs`` (distinct chunk labels, 'und'
    included) and ``mixed`` (≥2 labels AND agreement below
    ``min_agreement``).

    Scale shape: narrow chunking (``dedup.word_chunks``, as in
    chunk_dedup) → one combinable groupBy on (doc, lang) — at most
    |langs|+1 rows per doc — then ONE groupBy on the doc whose
    dominant-pick is a sorted struct-array fold over those ≤|langs|+1
    rows (no window at all, partitioned or otherwise).  The heuristic
    is the same pure-Column ``detect_language`` the text_langid oracle
    replays, so the composition stays SQL-checkable.
    """
    chunks = word_chunks(tokens_ws(text_col), chunk_tokens)
    ch = df.select(F.col(id_col), F.explode(chunks).alias("chunk"))
    counts = (
        ch.select(F.col(id_col), detect_language(F.col("chunk")).alias("chunk_lang"))
        .groupBy(id_col, "chunk_lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # dominant = (count desc, lang asc): sort (-cnt, lang) ascending and
    # take the head — a fold over ≤ |langs|+1 structs per doc.
    top = F.element_at(
        F.sort_array(
            F.collect_list(
                F.struct((-F.col("cnt")).alias("neg"), F.col("chunk_lang").alias("lg"))
            )
        ),
        1,
    )
    agg = counts.groupBy(id_col).agg(
        F.sum("cnt").alias("n_chunks"),
        F.count(F.lit(1)).alias("n_langs"),
        top["lg"].alias("dominant_lang"),
        (-top["neg"]).alias("top_cnt"),
    )
    agreement = F.col("top_cnt").cast("double") / F.col("n_chunks").cast("double")
    return agg.select(
        F.col(id_col),
        F.col("n_chunks"),
        F.col("dominant_lang"),
        agreement.alias("agreement"),
        F.col("n_langs"),
        ((F.col("n_langs") > 1) & (agreement < F.lit(min_agreement))).alias("mixed"),
    )


def bigram_coherence_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Per-document bigram-LM coherence — the order-sensitive companion
    to ``corpus_frequency_score``: a KenLM-style bigram model's
    count-based proxy.  Garbled or shuffled text has plausible unigrams
    but bigrams the corpus has never seen; boilerplate is the opposite
    extreme.

    Emits per doc (with ≥ 2 tokens): ``n_bigrams`` (adjacent-pair
    occurrences), ``mean_bigram_freq`` (occurrence-weighted mean corpus
    frequency of the doc's bigrams) and ``novel_frac`` (fraction of
    bigram occurrences appearing in NO other document — corpus count ==
    in-doc count).  Transcendental-free like the unigram scorer, so
    both engines agree bit-for-bit.

    Scale shape: identical to the unigram scorer — two map-side
    combinable groupBys (corpus bigram counts, per-(doc, bigram) tf), a
    join carrying DISTINCT (doc, bigram) pairs, one final groupBy on
    the doc id.  Bigram construction is a let-bound HOF over the token
    array (no re-normalization per pair); products sum as
    DECIMAL(38,0) before the DOUBLE emit.
    """
    toks = tokens_ws(text_col)
    # let-bind the token array once; pairs i..len-1 (1-based slice).
    # Guard len<2 explicitly: Spark's sequence(1, 0) is DESCENDING
    # ([1,0]), not empty, so the degenerate doc needs its own branch
    # (slice(ts,1,0) is the typed empty array).
    bigrams = F.element_at(
        F.transform(
            F.array(toks),
            lambda ts: F.when(
                F.size(ts) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.size(ts) - 1, F.lit(1))),
                    lambda i: F.concat_ws(
                        " ", F.element_at(ts, i), F.element_at(ts, i + 1)
                    ),
                ),
            ).otherwise(F.slice(ts, 1, 0)),
        ),
        1,
    )
    pairs = df.select(F.col(id_col), F.explode(bigrams).alias("bigram"))
    freq = pairs.groupBy("bigram").agg(F.count(F.lit(1)).alias("n_occurrences"))
    tf = pairs.groupBy(id_col, "bigram").agg(F.count(F.lit(1)).alias("tf"))
    joined = tf.join(freq, "bigram")
    weighted = (F.col("n_occurrences") * F.col("tf")).cast("decimal(38,0)")
    novel_occ = F.when(
        F.col("n_occurrences") == F.col("tf"), F.col("tf")
    ).otherwise(F.lit(0))
    return (
        joined.groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_bigrams"),
            (F.sum(weighted).cast("double") / F.sum("tf")).alias(
                "mean_bigram_freq"
            ),
            (F.sum(novel_occ).cast("double") / F.sum("tf")).alias("novel_frac"),
        )
    )


def hashed_bow_features(
    df: DataFrame,
    text_col: str,
    id_col: str,
    dim: int = 64,
) -> DataFrame:
    """Feature-hashed bag-of-words vector per document (the HashingTF
    featurizer): token → md5 bucket → per-bucket counts assembled into a
    dense ``features`` array — the model-free text→vector bridge
    (dedup/ANN prototypes, linear probes, drift monitors).

    One explode + ONE groupBy(doc): every bucket is a conditional SUM
    aggregated in the same pass — map-side combinable, no per-bucket
    shuffle, no sparse-to-dense reassembly join.  ``dim`` is a compile-
    time width (64 agg columns), the standard small-probe size; raise it
    and the plan just grows columns, not stages.
    """
    from processo_etl_spark.ml.dedup import md5_long

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens_ws(text_col)).alias("tok"),
    ).withColumn("b", md5_long(F.col("tok")) % dim)
    counts = [
        F.sum(F.when(F.col("b") == i, 1).otherwise(0))
        .cast("long")
        .alias(f"_f{i}")
        for i in range(dim)
    ]
    return (
        toks.groupBy("doc_id")
        .agg(*counts)
        .select(
            "doc_id",
            F.array(*[F.col(f"_f{i}") for i in range(dim)]).alias("features"),
        )
    )


def compression_ratio(
    df: DataFrame,
    text_col: str,
    id_col: str,
    level: int = 6,
    max_ratio_keep: float = 0.95,
    min_ratio_keep: float = 0.10,
) -> DataFrame:
    """Compression-ratio quality signal: ``zlib(text) / len(text)`` per
    document — the cheap information-density probe used by large-corpus
    curation pipelines (e.g. the C4/MassiveText lineage): near-zero
    ratios mean machine-generated repetition (boilerplate loops, keyword
    stuffing) and ratios near/above 1 mean high-entropy non-text (hex
    dumps, base64, binary pasted as text); both ends are poor training
    data.  Complements the n-gram repetition ratios (same family,
    different blind spots: zlib sees long-range and non-token structure).

    This is the engine's canonical JUSTIFIED Python hot-path: a DEFLATE
    pass has no Column-expression form, so it runs as an Arrow-batched
    ``mapInPandas`` (one Python call per batch, zero JVM↔Python
    per-row chatter) — the same boundary discipline as the multimodal
    decoders (ml/multimodal), never a row-at-a-time UDF.  No SQL oracle
    by design (DuckDB ships no zlib); semantics are pinned by unit
    tests instead, and the output is deterministic for a fixed zlib
    level (RFC 1950 stream, no timestamps).

    Output: (id, n_bytes, n_compressed, ratio, keep) — ``keep`` brackets
    the ratio in [min_ratio_keep, max_ratio_keep].  Empty/NULL text
    compresses to the 8-byte zlib skeleton; ratio is defined as 0 there
    (n_bytes 0) and fails ``keep``.
    """

    def batches(it):
        import zlib

        import pandas as pd

        for pdf in it:
            raw = pdf[text_col].map(
                lambda t: b"" if t is None else t.encode("utf-8")
            )
            n_bytes = raw.map(len).astype("int64")
            n_comp = raw.map(
                lambda b: len(zlib.compress(b, level))
            ).astype("int64")
            ratio = (n_comp / n_bytes.where(n_bytes > 0, 1)).where(
                n_bytes > 0, 0.0
            )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": n_bytes,
                    "n_compressed": n_comp,
                    "ratio": ratio,
                    "keep": (ratio >= min_ratio_keep)
                    & (ratio <= max_ratio_keep),
                }
            )

    out_schema = (
        f"{id_col} long, n_bytes long, n_compressed long, "
        "ratio double, keep boolean"
    )
    return df.select(id_col, text_col).mapInPandas(batches, schema=out_schema)
