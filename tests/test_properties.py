"""Property-based tests (hypothesis): arbitrary text never breaks the
text operators, and their structural invariants hold.

Spark jobs are expensive per example, so each property draws a BATCH of
strings and runs one job over the whole batch."""

from __future__ import annotations

import math
import re

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from processo_etl_spark.functions import text as ftext
from processo_etl_spark.ml import dedup

# Printable-ish text incl. accents, semicolons, slashes, whitespace runs.
TEXTS = st.lists(
    st.text(
        alphabet=st.characters(
            whitelist_categories=("L", "N", "P", "Zs"), max_codepoint=0x2FF
        ),
        max_size=80,
    ),
    min_size=1,
    max_size=50,
)


@settings(max_examples=5, deadline=None)
@given(TEXTS)
def test_shingles_never_crash_and_count_correct(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    out = df.select(
        "id",
        F.size(F.split(dedup.normalize_text("text"), " ")).alias("n_tok"),
        F.size(dedup.word_shingles("text", 3)).alias("n_sh"),
    ).collect()
    for r in out:
        # |shingles| == max(n_tokens - 2, 1) by construction.
        assert r["n_sh"] == max(r["n_tok"] - 2, 1)


@settings(max_examples=5, deadline=None)
@given(TEXTS)
def test_minhash_in_range_and_permutation_independent_of_order(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    sig = df.select(
        "id",
        dedup.minhash_signature(
            F.array_distinct(dedup.word_shingles("text", 3)), k=4
        ).alias("sig"),
        dedup.minhash_signature(
            F.reverse(F.array_distinct(dedup.word_shingles("text", 3))), k=4
        ).alias("sig_rev"),
    ).collect()
    for r in sig:
        assert all(0 <= v <= dedup.MERSENNE_P for v in r["sig"])
        # min over a set is order-invariant.
        assert r["sig"] == r["sig_rev"]


# NULL, empty and blank texts beside short word texts over a tiny
# vocabulary, so near-duplicates, exact repeats and sub-trigram
# documents all occur.
HOSTILE_TEXTS = st.lists(
    st.one_of(
        st.none(),
        st.sampled_from(["", " ", "  a  B "]),
        st.lists(st.sampled_from(["a", "b", "c", "B"]), min_size=1, max_size=7).map(
            " ".join
        ),
    ),
    min_size=0,
    max_size=12,
)


def _py_shingle_set(text: str | None, n: int = 3) -> set[str]:
    """dedup.shingle_set for space-separated text: NULL reads as ''."""
    toks = re.sub(r" +", " ", (text or "").strip(" ")).lower().split(" ")
    return {" ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 1))}


@settings(max_examples=5, deadline=None)
@given(HOSTILE_TEXTS, st.sampled_from([0.3, 0.5, 0.8, 1.0]))
def test_jaccard_pair_operators_match_naive_all_pairs(spark, texts, threshold):
    """On hostile input (NULL, '', blank and repeated texts, the empty
    relation) under ANSI mode, the exact pair operators equal a naive
    all-pairs Jaccard over the same shingle sets, and MinHash-LSH
    returns a subset of it with the same values.  NULL and '' both
    shingle to {''}, so they pair with each other at Jaccard 1.0."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    texts = texts + texts[: len(texts) // 2]  # exact repeats
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    sets = [_py_shingle_set(t) for t in texts]
    naive = {}
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            inter = len(sets[a] & sets[b])
            jac = inter / (len(sets[a]) + len(sets[b]) - inter)
            if jac >= threshold:
                naive[(a, b)] = jac

    def pairs(out):
        rows = out.collect()
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows}
        assert len(got) == len(rows)  # no duplicate pairs
        return got

    assert pairs(
        dedup.prefix_filter_jaccard_pairs(df, "doc_id", "text", threshold=threshold)
    ) == naive
    one_block = df.withColumn("blk", F.lit(0))
    assert pairs(
        dedup.ngram_jaccard_pairs(
            one_block, "doc_id", "text", "blk", threshold=threshold
        )
    ) == naive
    lsh = pairs(
        dedup.minhash_lsh_pairs(
            df, "doc_id", "text", k=8, bands=4, threshold=threshold
        )
    )
    assert lsh.items() <= naive.items()


@settings(max_examples=5, deadline=None)
@given(st.lists(st.text(max_size=30), min_size=1, max_size=30))
def test_multilabel_flags_never_crash(spark, labels_text):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(labels_text)], "id long, tracado_via string"
    )
    out = ftext.multilabel_flags(df, "tracado_via")
    rows = out.collect()
    assert len(rows) == len(labels_text)
    # Flags are booleans (never null) for non-null inputs.
    for r in rows:
        for label in ftext.TRACADO_LABELS:
            assert r[label] in (True, False)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=10**12), min_size=1, max_size=60,
             unique=True),
    st.lists(st.floats(min_value=0.05, max_value=0.9), min_size=2, max_size=4),
)
def test_split_partitions_any_keys_any_fractions(spark, keys, fracs):
    """with_split is exhaustive + disjoint for arbitrary keys/fractions
    (normalized to sum ≤ 1), and re-assignment is stable."""
    from processo_etl_spark.ml import splits

    total = sum(fracs)
    fractions = {f"s{i}": f / total for i, f in enumerate(fracs)}
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    out = splits.with_split(df, "k", fractions).collect()
    assert len(out) == len(keys)
    assert all(r["split"] in fractions for r in out)
    again = {r["k"]: r["split"] for r in splits.with_split(df, "k", fractions).collect()}
    assert all(again[r["k"]] == r["split"] for r in out)


@settings(max_examples=5, deadline=None)
@given(st.lists(st.integers(min_value=1, max_value=500), min_size=1, max_size=60))
def test_packing_conserves_tokens_any_sizes(spark, token_sizes):
    """For arbitrary token counts: offsets stay inside the window, packs
    are contiguous from 0 per shard, and the prefix-sum conserves the
    shard's token total (concat-and-chunk loses nothing)."""
    from pyspark.sql import functions as F

    from processo_etl_spark.ml import packing

    max_tokens = 128
    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(token_sizes)], "doc_id long, tokens long"
    )
    rows = packing.pack_sequences(df, "doc_id", "tokens", max_tokens, n_shards=3).collect()
    by_shard: dict[int, list] = {}
    for r in rows:
        assert 0 <= r["offset"] < max_tokens
        by_shard.setdefault(r["shard"], []).append(r)
    for shard_rows in by_shard.values():
        # Every window up to the last byte is COVERED by some doc's span
        # (docs longer than the window straddle several windows — they
        # cover middle windows without starting in them).
        covered: set[int] = set()
        for r in shard_rows:
            start = r["pack_id"] * max_tokens + r["offset"]
            covered.update(range(r["pack_id"], (start + r["tokens"] - 1) // max_tokens + 1))
        assert covered == set(range(max(covered) + 1))
        # Stream conservation: last doc ends exactly at the token total.
        total = sum(r["tokens"] for r in shard_rows)
        last = max(shard_rows, key=lambda r: (r["pack_id"], r["offset"]))
        assert last["pack_id"] * max_tokens + last["offset"] + last["tokens"] == total


@settings(max_examples=5, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=40), min_size=0, max_size=60))
def test_concat_split_stats_matches_simulation(spark, sizes):
    """concat_split_stats equals a direct pure-Python simulation of the
    token stream for arbitrary doc lengths (zeros and an empty corpus
    included — the empty-frame contract)."""
    from pyspark.sql import functions as F

    from processo_etl_spark.ml import packing

    w = 16
    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(sizes)], "doc_id long, n long"
    )
    r = packing.concat_split_stats(df, "doc_id", F.col("n"), window=w).collect()[0]
    total = sum(sizes)
    cum = 0
    splits = 0
    for n in sizes:
        if n > 0 and (cum + n - 1) // w > cum // w:
            splits += 1
        cum += n
    n_seq = (total + w - 1) // w
    assert r["n_docs"] == len(sizes)
    assert r["total_tokens"] == total
    assert r["n_sequences"] == n_seq
    assert r["n_docs_split"] == splits
    assert r["tail_padding"] == n_seq * w - total


@settings(max_examples=5, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=60))
def test_length_bucketed_packing_matches_simulation(spark, sizes):
    """length_bucketed_packing equals the per-class closed form for
    arbitrary lengths (truncated class, zero exclusion, exact fill)."""
    from collections import Counter

    from pyspark.sql import functions as F

    from processo_etl_spark.ml import packing

    w = 12
    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(sizes)], "doc_id long, n long"
    )
    got = {
        r["len_class"]: r
        for r in packing.length_bucketed_packing(df, F.col("n"), window=w).collect()
    }
    want = Counter(n for n in sizes if n > 0)
    assert set(got) == set(want)
    for ln, cnt in want.items():
        dpp = 1 if ln > w else w // ln
        assert got[ln]["n_docs"] == cnt
        assert got[ln]["docs_per_pack"] == dpp
        assert got[ln]["n_packs"] == (cnt + dpp - 1) // dpp
        fill = 1000 if ln > w else (dpp * ln * 1000) // w
        assert got[ln]["fill_permille"] == fill
        assert got[ln]["truncated"] == (ln > w)


WORDS = st.lists(
    st.text(alphabet=st.sampled_from("abcdef"), min_size=1, max_size=5),
    min_size=1,
    max_size=40,
)


@settings(max_examples=5, deadline=None)
@given(st.lists(WORDS, min_size=1, max_size=8))
def test_chunking_partitions_reconstruct_document(spark, docs):
    """With stride == size (no overlap), concatenating a doc's chunks in
    chunk_id order reproduces the token stream exactly — chunking loses
    and duplicates nothing."""
    from processo_etl_spark.ml import chunking

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = chunking.chunk_documents(df, "doc_id", "text", size=7, stride=7).collect()
    got = {}
    for r in sorted(out, key=lambda r: (r["doc_id"], r["chunk_id"])):
        got.setdefault(r["doc_id"], []).append(r["chunk_text"])
    for i, ws in enumerate(rows):
        assert " ".join(got[i]) == rows[i][1]


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)), min_size=1, max_size=20
    )
)
def test_cluster_representatives_exactly_one_kept_per_cluster(spark, edges):
    """Every cluster elects exactly one representative; membership covers
    every input doc exactly once, for ANY pair graph."""
    from processo_etl_spark.ml import dedup as D

    docs = spark.createDataFrame(
        [(i, i % 7) for i in range(16)], ["doc_id", "score"]
    )
    pairs = spark.createDataFrame(
        [(a, b, 1.0) for a, b in edges if a != b] or [(0, 0, 1.0)],
        ["id_a", "id_b", "jaccard"],
    ).filter("id_a != id_b")
    rows = D.cluster_representatives(docs, pairs, "doc_id", "score").collect()
    assert sorted(r["doc_id"] for r in rows) == list(range(16))
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], []).append(r["kept"])
    for c, kept in by_cluster.items():
        assert sum(kept) == 1, f"cluster {c} kept {sum(kept)}"


def _union_find(pairs):
    """{node: min id of its component} over the non-NULL pairs."""
    parent = {}

    def root(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in pairs:
        if a is None or b is None:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = root(a), root(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: root(x) for x in parent}


@st.composite
def _graphs(draw):
    """Pairs of a forest of paths, stars, cycles and random trees on
    shuffled ids, plus self pairs, duplicate pairs and reversed pairs, in
    shuffled order."""
    shapes = draw(
        st.lists(
            st.tuples(
                st.sampled_from(["path", "star", "cycle", "tree"]),
                st.integers(1, 9),
            ),
            min_size=1,
            max_size=5,
        )
    )
    ids = draw(st.permutations(range(sum(k for _, k in shapes))))
    pairs, at = [], 0
    for shape, k in shapes:
        c, at = ids[at : at + k], at + k
        if shape == "path":
            pairs += zip(c, c[1:])
        elif shape == "cycle":
            pairs += zip(c, c[1:] + c[:1])
        elif shape == "star":
            pairs += [(c[0], x) for x in c[1:]]
        else:
            pairs += [(c[draw(st.integers(0, i - 1))], c[i]) for i in range(1, k)]
    pairs += [(x, x) for x in draw(st.lists(st.sampled_from(ids), max_size=3))]
    if pairs:
        pairs += draw(st.lists(st.sampled_from(pairs), max_size=4))
    flips = draw(st.lists(st.booleans(), min_size=len(pairs), max_size=len(pairs)))
    pairs = [(b, a) if f else (a, b) for (a, b), f in zip(pairs, flips)]
    return draw(st.permutations(pairs))


def _shuffled(pairs, seed):
    import random

    ids = list(range(max(max(p) for p in pairs) + 1))
    random.Random(seed).shuffle(ids)
    return [(ids[a], ids[b]) for a, b in pairs]


@settings(max_examples=5, deadline=None)
@given(_graphs())
@example(_shuffled([(i, i + 1) for i in range(60)], 61))
@example(_shuffled([(i, (i + 1) % 300) for i in range(300)], 300))
def test_connected_components_equal_union_find(spark, pairs):
    """Under ANSI mode, on any forest of paths, stars, cycles and trees
    with self, duplicate and reversed pairs (and a 61-node path and a
    300-node cycle on shuffled ids), ``connected_components`` labels
    every endpoint with its component's minimum, as a union-find does."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = dedup.connected_components(df).collect()
    assert len(got) == len({r["doc"] for r in got})
    assert {r["doc"]: r["cluster"] for r in got} == _union_find(pairs)


@settings(max_examples=5, deadline=None)
@given(HOSTILE_TEXTS, TEXTS)
@example(["日本語 テキスト", "emoji 🙂 text", "\t", "ß Ω ﬁ"], ["", " "])
def test_hash_family_spark_equals_duckdb(spark, hostile, texts):
    """Under ANSI mode, on arbitrary keys (NULL, empty, blank, unicode)
    the Spark owner of the md5-affine family (``dedup.affine_hashes``)
    and its SQL owner (``plans/mlops._affine_sql``, run in DuckDB) give
    the same k values bit for bit: the MinHash family (no ``% m``),
    Bloom positions (``% bits``) and Count-Min buckets (``% width``)."""
    import duckdb

    from processo_etl_spark.plans.mlops import _affine_sql, _base_hash_sql

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    keys = list(enumerate(hostile + texts))
    shapes = [("minhash", 8, None), ("bloom", 4, 1 << 14), ("cms", 4, 256)]
    h = dedup.md5_long(F.col("k")) % F.lit(dedup.MERSENNE_P)
    got = {
        r["i"]: tuple(tuple(r[name]) for name, _, _ in shapes)
        for r in spark.createDataFrame(keys, "i long, k string")
        .select(
            "i",
            *[
                F.array(*dedup.affine_hashes(h, k, m)).alias(name)
                for name, k, m in shapes
            ],
        )
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE keys (i BIGINT, k VARCHAR)")
    con.executemany("INSERT INTO keys VALUES (?, ?)", keys)
    lists = ", ".join(
        f"[{', '.join(_affine_sql(_base_hash_sql('k'), k, m))}]" for _, k, m in shapes
    )
    want = {
        row[0]: tuple(tuple(v) for v in row[1:])
        for row in con.execute(f"SELECT i, {lists} FROM keys").fetchall()
    }
    con.close()
    assert got == want


@settings(max_examples=5, deadline=None)
@given(TEXTS)
def test_bloom_never_false_negative(spark, texts):
    """Zero false negatives for ARBITRARY key strings: every inserted
    key probes True, at any fill level hypothesis produces."""
    from processo_etl_spark.ml import bloom

    keys = spark.createDataFrame([(t,) for t in texts], ["k"])
    filt = bloom.bloom_words_relation(keys, "k", n_bits=1 << 10, k=3)
    probed = keys.crossJoin(F.broadcast(filt)).select(
        "k",
        bloom.bloom_hit_expr(F.col(bloom.WORDS_COL), F.col("k"), 1 << 10, 3).alias(
            "hit"
        ),
    )
    assert all(r["hit"] for r in probed.collect())


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2"]),
            st.integers(min_value=-50, max_value=50),
        ),
        min_size=1,
        max_size=80,
    ),
    st.sampled_from([0.1, 0.5, 0.9]),
)
def test_grouped_exact_quantiles_property(spark, rows, q):
    import math

    from processo_etl_spark.operators import ranking

    df = spark.createDataFrame(
        [(g, float(v)) for g, v in rows], "g string, x double"
    )
    got = {
        r["g"]: (r["k"], r["value"])
        for r in ranking.grouped_exact_quantiles(
            df, "g", "x", [q], accuracy=100
        ).collect()
    }
    by_g: dict[str, list[float]] = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(float(v))
    for g, vals in by_g.items():
        vals.sort()
        k = max(1, math.ceil(q * len(vals)))
        assert got[g] == (k, vals[k - 1])


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),
            st.integers(min_value=0, max_value=12),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_skyline_2d_property_matches_bruteforce(spark, pts):
    from processo_etl_spark.operators import ranking

    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "id long, x double, y double",
    )
    got = sorted(r["id"] for r in ranking.skyline_2d(df, "x", "y").collect())
    want = sorted(
        i
        for i, (x, y) in enumerate(pts)
        if not any(
            qx <= x and qy <= y and (qx < x or qy < y) for qx, qy in pts
        )
    )
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.sampled_from(["keep", "drop", "edit"]),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    )
)
def test_table_diff_reconstructs_edits(spark, plan):
    """Apply a random edit plan to a snapshot; table_diff must recover
    exactly the planned inserts/deletes/updates — no phantom rows."""
    from processo_etl_spark.operators import cdc

    old_rows = [(k, float(k)) for k, _ in plan]
    new_rows = [(k, float(k) + (1.0 if op == "edit" else 0.0))
                for k, op in plan if op != "drop"]
    new_rows += [(1000 + k, 0.5) for k, op in plan if op == "drop"]  # inserts
    old = spark.createDataFrame(old_rows, "k long, v double")
    new = spark.createDataFrame(new_rows, "k long, v double")
    got = {(r["k"], r["change_type"]) for r in cdc.table_diff(old, new, ["k"]).collect()}
    want = set()
    for k, op in plan:
        if op == "drop":
            want.add((k, "delete"))
            want.add((1000 + k, "insert"))
        elif op == "edit":
            want.add((k, "update"))
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=1,
        max_size=50,
    )
)
def test_ewma_per_key_property_matches_sequential_fold(spark, xs):
    from processo_etl_spark.operators import temporal

    df = spark.createDataFrame(
        [("k", i, float(x)) for i, x in enumerate(xs)],
        "g string, seq long, x double",
    )
    got = {
        r["seq"]: r["ewma"]
        for r in temporal.ewma_per_key(df, "g", ["seq"], "x", alpha=0.25).collect()
    }
    s = None
    for i, x in enumerate(xs):
        s = x if s is None else s * 0.75 + x * 0.25
        assert got[i] == s, i


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=1,
        max_size=50,
    ),
    st.sampled_from([0.25, 0.5, 0.9]),
)
def test_ewma_chunked_property_matches_sequential_fold(spark, xs, alpha):
    """The O(L) chunked affine-composition EWMA (the long-key scale
    path) matches the pure-Python sequential recurrence to float
    noise, with chunk=3 so every example crosses several chunk
    boundaries and exercises the (a, b) chain fold.  Two keys verify
    the per-key isolation of the chunk grid."""
    from processo_etl_spark.operators import temporal

    data = [("k", i, float(x)) for i, x in enumerate(xs)] + [
        ("k2", i, float(x) * 0.5 - 1.0) for i, x in enumerate(xs)
    ]
    df = spark.createDataFrame(data, "g string, seq long, x double")
    got = {
        (r["g"], r["seq"]): r["ewma"]
        for r in temporal.ewma_per_key_chunked(
            df, "g", ["seq"], "x", alpha=alpha, chunk=3
        ).collect()
    }
    assert len(got) == len(data)
    for key, scale, shift in (("k", 1.0, 0.0), ("k2", 0.5, -1.0)):
        s = None
        for i, x in enumerate(xs):
            v = float(x) * scale + shift
            s = v if s is None else s * (1.0 - alpha) + v * alpha
            assert abs(got[(key, i)] - s) <= 1e-9 * max(1.0, abs(s)), (
                key,
                i,
                got[(key, i)],
                s,
            )


@settings(max_examples=50, deadline=None)
@given(
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=24),
    st.randoms(use_true_random=False),
)
def test_png_codec_roundtrip_any_shape(w, h, rng):
    """Pure-Python property (no Spark job): encode_gray→decode_gray is
    the identity for ANY width/height/pixel contents, and the decoded
    header always reports the encoded dimensions."""
    from processo_etl_spark.ml import png

    px = bytes(rng.randrange(256) for _ in range(w * h))
    assert png.decode_gray(png.encode_gray(px, w, h)) == (w, h, px)


@settings(max_examples=25, deadline=None)
@given(
    st.integers(min_value=1, max_value=16),
    st.integers(min_value=1, max_value=16),
    st.integers(min_value=1, max_value=6),
    st.randoms(use_true_random=False),
)
def test_png_decode_features_bounded_and_exact_on_flat(w, h, n, rng):
    """decode_image_png features stay in [0, 1] for any image shape, and
    a constant-intensity image yields exactly v/255 in every feature
    (the 2-D box average of a flat field is the field)."""
    from processo_etl_spark.ml import multimodal, png

    px = bytes(rng.randrange(256) for _ in range(w * h))
    feats = multimodal.decode_image_png(png.encode_gray(px, w, h), n)
    assert len(feats) == n
    assert all(0.0 <= f <= 1.0 for f in feats)
    v = rng.randrange(256)
    flat = multimodal.decode_image_png(
        png.encode_gray(bytes([v]) * (w * h), w, h), n
    )
    assert all(abs(f - v / 255.0) < 1e-12 for f in flat)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.integers(min_value=-32768, max_value=32767), max_size=64),
    st.lists(st.binary(min_size=0, max_size=9), max_size=3),
)
def test_wav_walker_recovers_pcm_through_any_ancillary_chunks(samples, junk):
    """Pure-Python property: wav_pcm16 recovers the exact PCM stream
    from a canonical PCM16 WAV regardless of interleaved ancillary
    chunks (incl. odd-sized ones — word alignment), and returns None
    when the data chunk precedes fmt (spec ordering) or the format
    isn't PCM16."""
    import struct

    from processo_etl_spark.ml.multimodal import wav_pcm16

    pcm = b"".join(struct.pack("<h", s) for s in samples)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)

    def chunk(tag, body):
        return tag + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    chunks = chunk(b"fmt ", fmt)
    for j in junk:
        chunks += chunk(b"LIST", j)
    chunks += chunk(b"data", pcm)
    wav = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    got = wav_pcm16(wav)
    if len(wav) < 44:  # tiny clips below the minimal-header guard
        assert got is None
    else:
        assert got == pcm
    # data before fmt -> ordering violation -> None
    bad = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" \
        + chunk(b"data", pcm) + chunk(b"fmt ", fmt)
    assert wav_pcm16(bad) is None or len(bad) < 44


# Ranked lists: per ranker, a permutation of distinct doc ids (rank =
# 1-based position).  Drawn as a dict of ranker name -> id list.
RANKED = st.dictionaries(
    keys=st.sampled_from(["a", "b", "c"]),
    values=st.lists(
        st.integers(min_value=0, max_value=30), unique=True, min_size=1, max_size=12
    ),
    min_size=1,
    max_size=3,
)


@settings(max_examples=5, deadline=None)
@given(RANKED)
def test_rrf_fuse_matches_python_reference(spark, ranked_ids):
    """rrf_fuse over arbitrary ranked lists equals the pure-Python RRF:
    score(d) = Σ_r 1/(k0 + rank_r(d)), union of all ids, NULL rank where
    a ranker missed the id."""
    from processo_etl_spark.ml import fusion

    k0 = 60
    dfs = {
        name: spark.createDataFrame(
            [(d, i + 1) for i, d in enumerate(ids)], "doc long, rank int"
        )
        for name, ids in ranked_ids.items()
    }
    got = {
        r["doc"]: r["rrf_score"]
        for r in fusion.rrf_fuse(dfs, k0=k0).collect()
    }
    expect = {}
    for name, ids in ranked_ids.items():
        for i, d in enumerate(ids):
            expect[d] = expect.get(d, 0.0) + 1.0 / (k0 + i + 1)
    assert set(got) == set(expect)
    for d, s in expect.items():
        assert got[d] == round(s, 10)


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=1, max_value=20),
    st.integers(min_value=1, max_value=20),
    st.randoms(use_true_random=False),
)
def test_pixel_grid_box_average_any_shape(w, h, rng):
    """Pure-Python property (no Spark job): ``_pixel_grid`` round-trips
    real PNG bytes for ANY image shape — the exact path returns the raw
    pixels at 8x8, and every other shape matches an independent naive
    integer-boundary box average (the same contract decode_image_png
    documents, here verified cell-wise rather than per-column)."""
    from processo_etl_spark.ml import multimodal, png

    px = bytes(rng.randrange(256) for _ in range(w * h))
    grid = multimodal._pixel_grid(png.encode_gray(px, w, h), 8)
    assert len(grid) == 8 and all(len(row) == 8 for row in grid)
    if (w, h) == (8, 8):
        assert grid == [
            [float(px[r * 8 + c]) for c in range(8)] for r in range(8)
        ]
        return
    for r in range(8):
        r0, r1 = r * h // 8, max((r + 1) * h // 8, r * h // 8 + 1)
        for c in range(8):
            c0, c1 = c * w // 8, max((c + 1) * w // 8, c * w // 8 + 1)
            cells = [
                px[rr * w + cc]
                for rr in range(r0, min(r1, h))
                for cc in range(c0, min(c1, w))
            ]
            exp = sum(cells) / len(cells) if cells else 0.0
            assert grid[r][c] == exp, (w, h, r, c)


@settings(max_examples=40, deadline=None)
@given(st.binary(min_size=0, max_size=64))
def test_pixel_grid_total_on_arbitrary_bytes(payload):
    """``_pixel_grid`` is total: None only for empty payloads, the
    deterministic stub grid for any non-PNG bytes (including truncated
    or corrupted PNG signatures), never an exception."""
    from processo_etl_spark.ml import multimodal

    grid = multimodal._pixel_grid(payload, 8)
    if len(payload) == 0:
        assert grid is None
    else:
        assert len(grid) == 8 and all(len(row) == 8 for row in grid)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),
            st.integers(min_value=0, max_value=12),
            st.integers(min_value=1, max_value=9),
        ),
        min_size=1,
        max_size=40,
    ),
    st.integers(min_value=1, max_value=3),
)
def test_label_propagation_matches_pure_python(spark, edge_list, iters):
    """Distributed LPA ≡ a pure-Python synchronous replay on arbitrary
    small weighted graphs (self-loops dropped on both sides): vote
    sums, the (max votes, min label) tie-break, and the round schedule
    agree exactly."""
    from processo_etl_spark.operators import graph

    edges = [(a, b, w) for a, b, w in edge_list if a != b]
    if not edges:
        return
    # pure-Python reference
    nb: dict[int, dict[int, int]] = {}
    for a, b, w in edges:
        nb.setdefault(a, {}).setdefault(b, 0)
        nb.setdefault(b, {}).setdefault(a, 0)
        nb[a][b] += w
        nb[b][a] += w
    labels = {v: v for v in nb}
    for _ in range(iters):
        new = {}
        for v in nb:
            votes: dict[int, int] = {}
            for u, w in nb[v].items():
                votes[labels[u]] = votes.get(labels[u], 0) + w
            best = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))
            new[v] = best[0]
        labels = new
    got = {
        r["node"]: r["community"]
        for r in graph.label_propagation(
            spark.createDataFrame(edges, ["src", "dst", "w"]),
            iterations=iters,
        ).collect()
    }
    assert got == labels


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=5),
        ),
        min_size=1,
        max_size=30,
    ),
    st.randoms(use_true_random=False),
)
def test_pagerank_exact_combine_is_bit_equal_on_any_layout(spark, edges, rnd):
    """Under ANSI mode, on small weighted digraphs with dangling nodes
    (ids 8 and 9 only receive), zero-out-weight nodes, self loops and
    duplicate edges, fed in shuffled row order over a random number of
    input partitions: ``pagerank_distributed`` equals the driver twin
    bit for bit in the broadcast layout and in the shuffle layout, every
    rank is positive and the ranks sum to 1."""
    from processo_etl_spark.operators import graph

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    ref = graph.pagerank_from_edges(nodes, edges, 0.85, 4)
    assert all(v > 0.0 for v in ref.values())
    assert abs(sum(ref.values()) - 1.0) < 1e-9
    rows = list(edges)
    rnd.shuffle(rows)
    edf = spark.createDataFrame(rows, "src long, dst long, w long").repartition(
        rnd.randint(1, 4)
    )

    def run():
        return {
            r["node"]: r["pagerank"]
            for r in graph.pagerank_distributed(edf, 0.85, 4).collect()
        }

    assert run() == ref  # broadcast layout, bit for bit
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert run() == ref  # shuffle layout
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.binary(min_size=0, max_size=4096),
        min_size=1,
        max_size=12,
    )
)
def test_audio_silence_trim_matches_pure_python(spark, payloads):
    """Silence-trim spans ≡ a pure-Python reference on ARBITRARY bytes
    (odd lengths, empty, longer than the minimum grid): byte decode,
    zero-fill, grid extension, |s| energies and the threshold gate all
    agree."""
    import numpy as np

    from processo_etl_spark.ml import multimodal

    frames, flen, thr = 4, 8, 50

    def ref(p: bytes):
        raw = np.frombuffer(p[: len(p) // 2 * 2], dtype="<i2").astype(
            np.int64
        )
        nf = max(frames, -(-raw.size // flen))
        s = np.zeros(nf * flen, dtype=np.int64)
        s[: raw.size] = raw
        e = np.abs(s).reshape(nf, flen).sum(axis=1)
        idx = [i for i, x in enumerate(e) if x > thr]
        if not idx:
            return (0, None, None)
        return (
            len(idx),
            idx[0] * flen,
            (idx[-1] - idx[0] + 1) * flen,
        )

    rows = [
        (i, "audio/pcm16", p, None, None) for i, p in enumerate(payloads)
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {
        r["media_id"]: (
            r["n_frames_voiced"],
            r["trim_start_samples"],
            r["kept_samples"],
        )
        for r in multimodal.audio_silence_trim(
            media, frames=frames, frame_len=flen, threshold=thr
        ).collect()
    }
    assert got == {i: ref(p) for i, p in enumerate(payloads)}


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.floats(min_value=0.0, max_value=1e5, allow_nan=False),
        min_size=1,
        max_size=40,
    )
)
def test_ewma_fixed_point_property_matches_integer_reference(spark, xs):
    """The fixed-point EWMA path replays the pure-Python scaled-long
    recurrence exactly for arbitrary non-negative inputs (the graded
    head's determinism contract)."""
    from processo_etl_spark.operators import temporal

    df = spark.createDataFrame(
        [("k", i, float(x)) for i, x in enumerate(xs)],
        "g string, seq long, x double",
    )
    got = {
        r["seq"]: r["ewma"]
        for r in temporal.ewma_per_key(
            df, "g", ["seq"], "x", alpha=0.25, fixed_point_scale=8
        ).collect()
    }
    e = None
    for i, x in enumerate(xs):
        # half-away-from-zero to match Spark F.round / DuckDB ROUND on
        # non-negative inputs; Python round() is half-even
        v = math.floor(x * 10**8 + 0.5)
        e = v if e is None else (3 * e + v) >> 2
        assert got[i] == e / 10**8, (i, x)


@settings(max_examples=5, deadline=None)
@given(st.randoms(use_true_random=False))
def test_kcore_peel_property_matches_python_fixpoint(spark, rnd):
    """On random graphs, kcore_peel with enough rounds equals the
    pure-Python peel-to-fixpoint reference (and never keeps a node
    below degree k once converged)."""
    from processo_etl_spark.operators import graph

    n = 14
    edges = sorted(
        {
            (a, b)
            for _ in range(30)
            for a, b in [sorted(rnd.sample(range(n), 2))]
        }
    )
    k = rnd.choice([2, 3])
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["degree"]
        for r in graph.kcore_peel(df, k=k, rounds=n).collect()
    }

    es = set(edges)
    while True:
        deg = {}
        for a, b in es:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        alive = {v for v, d in deg.items() if d >= k}
        ns = {(a, b) for a, b in es if a in alive and b in alive}
        if ns == es:
            break
        es = ns
    ref = {}
    for a, b in es:
        ref[a] = ref.get(a, 0) + 1
        ref[b] = ref.get(b, 0) + 1
    assert got == ref
    assert all(d >= k for d in got.values()) or not got


# Caller columns named like the scratch columns operators used to add
# (before every engine-internal name moved under ``columns.internal``).
GHOSTS = ("__rn", "__pid", "__grank", "__k", "__pos", "__x", "__n")


def _collision_frame(spark, ghosts: bool):
    """Keyed rows with NULL keys/values, key groups of several rows and
    a unique ``seq`` per key; ``ghosts`` adds one string column per
    GHOSTS name whose value is a function of the row id."""
    rows = [
        (0, 1, 4, 1.5, "I"),
        (1, 1, 7, None, "U"),
        (2, 1, 2, 0.5, "D"),
        (3, 2, 3, 2.0, "I"),
        (4, 2, 9, 2.0, "D"),
        (5, None, 1, 3.0, "I"),
        (6, 3, 5, -1.0, "U"),
        (7, 3, 0, 4.0, "I"),
        (8, 3, 8, None, "U"),
        (9, 3, 6, 0.0, "D"),
        (10, None, 2, 1.0, "U"),
        (11, 4, 3, 7.5, "I"),
    ]
    df = spark.createDataFrame(
        rows, "id long, k long, seq long, v double, op string"
    )
    if ghosts:
        df = df.select(
            "*",
            *[
                F.concat(F.lit(g + ":"), F.col("id").cast("string")).alias(g)
                for g in GHOSTS
            ],
        )
    return df


def _star_fks(df):
    from processo_etl_spark.operators import star

    keys = {"k_id": ["k"], "kop_id": ["k", "op"]}
    dims = star.build_dimensions(df, keys)
    return star.attach_fks(df, {c: (dims[c], keys[c]) for c in keys})


def _asof(df):
    from processo_etl_spark.operators import temporal

    right = df.sparkSession.createDataFrame(
        [(1, 0, 10.0), (1, 5, 11.0), (2, 3, 20.0), (3, 1, 30.0), (3, 8, None)],
        "k long, seq long, rv double",
    )
    return temporal.asof_join(df, right, ["k"], "seq", ["rv"])


def _collision_ops():
    from processo_etl_spark.ml import encoding
    from processo_etl_spark.operators import cdc, ranking, relational

    return {
        "dedup_keep_first": lambda df: relational.dedup_keep_first(
            df, ["k"], [F.desc("seq"), "id"]
        ),
        "cdc.latest_changes": lambda df: cdc.latest_changes(
            df, ["k"], "seq", "op"
        ),
        "ranking.distributed_rank": lambda df: ranking.distributed_rank(
            df, [F.col("v").asc_nulls_first(), "id"], out_col="r"
        ),
        "ranking.distributed_ntile": lambda df: ranking.distributed_ntile(
            df, ["seq", "id"], 3
        ),
        "ranking.skyline_2d": lambda df: ranking.skyline_2d(df, "seq", "v"),
        "ranking.distributed_cumsum": lambda df: ranking.distributed_cumsum(
            df, ["seq", "id"], "k"
        ),
        "ranking.grouped_topk": lambda df: ranking.grouped_topk(
            df, ["k"], [F.col("seq").desc(), F.col("id").asc()], 2
        ),
        "star.build_dimensions": _star_fks,
        "temporal.asof_join": _asof,
        "encoding.target_encode_loo": lambda df: encoding.target_encode_loo(
            df, "k", "v"
        ),
    }


@pytest.mark.parametrize("op_name", list(_collision_ops()))
def test_caller_columns_named_like_internals_survive(spark, op_name):
    """A caller column may carry any name outside the reserved prefix:
    every such column comes back with its values unchanged, and the
    operator's own output equals a run on the frame without them."""
    from collections import Counter

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    op = _collision_ops()[op_name]
    plain = op(_collision_frame(spark, ghosts=False))
    out = op(_collision_frame(spark, ghosts=True))
    missing = [g for g in GHOSTS if g not in out.columns]
    assert not missing, f"{op_name} dropped caller columns {missing}"
    rows = out.collect()
    assert rows, op_name
    for r in rows:
        for g in GHOSTS:
            assert r[g] == f"{g}:{r['id']}", (op_name, g, r)
    got = out.drop(*GHOSTS)
    assert got.columns == plain.columns
    assert Counter(tuple(r) for r in got.collect()) == Counter(
        tuple(r) for r in plain.collect()
    )
