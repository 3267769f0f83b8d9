"""LLM-pipeline operators: dedup families, similarity, text stats,
multimodal plumbing — invariants that the SQL oracle can't see."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from processo_etl_spark.ml import dedup, multimodal, similarity, textstats


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again", "en"),
        (2, "the quick brown fox jumps over the lazy dog again and again", "en"),  # dup of 1
        (3, "the quick brown fox jumps over the lazy cat again and again", "en"),  # near-dup
        (4, "el perro come la comida que le dan en la casa de los abuelos", "es"),
        (5, "completely different content about spark distributed computing engines", "en"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"])


def test_word_shingles_short_docs_regression(spark):
    # Docs shorter than the shingle width crashed with ANSI element_at.
    df = spark.createDataFrame([(1, ""), (2, "word"), (3, "two words")], ["doc_id", "text"])
    out = df.select(F.array_distinct(dedup.word_shingles("text", 3)).alias("sh")).collect()
    assert [r["sh"] for r in out] == [[""], ["word"], ["two words"]]


def test_minhash_deterministic_and_bounded(spark):
    df = _docs(spark)
    sig = df.select(
        "doc_id",
        dedup.minhash_signature(
            F.array_distinct(dedup.word_shingles("text", 3)), k=8
        ).alias("sig"),
    )
    a = {r["doc_id"]: r["sig"] for r in sig.collect()}
    b = {r["doc_id"]: r["sig"] for r in sig.collect()}
    assert a == b                                    # deterministic
    assert all(len(s) == 8 for s in a.values())
    assert all(0 <= v < dedup.MERSENNE_P for s in a.values() for v in s)
    assert a[1] == a[2]                              # identical docs, identical sig
    assert a[1] != a[5]                              # different docs differ


def test_minhash_lsh_finds_exact_and_near_dups(spark):
    pairs = dedup.minhash_lsh_pairs(
        _docs(spark), "doc_id", "text", k=8, bands=4, threshold=0.5
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got                             # exact dup found
    jac = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert jac[(1, 2)] == 1.0
    assert all(r["id_a"] < r["id_b"] for r in pairs)  # canonical ordering
    assert not any(a == b for a, b in got)            # no self-pairs


def test_exact_dedup_counts(spark):
    out = dedup.exact_dedup(_docs(spark), "text", "doc_id").collect()
    by_id = {r["doc_id"]: r["n_copies"] for r in out}
    assert by_id[1] == 2          # doc 2 collapsed into doc 1 (min id kept)
    assert 2 not in by_id
    assert by_id[3] == 1


def test_simhash_invariants(spark):
    df = _docs(spark)
    sigs = {r["doc_id"]: r["s"] for r in df.select(
        "doc_id",
        dedup.simhash64(F.split(dedup.normalize_text("text"), " ")).alias("s"),
    ).collect()}
    assert sigs[1] == sigs[2]                        # identical text
    ham = df.sparkSession.createDataFrame(
        [(sigs[1], sigs[3]), (sigs[1], sigs[5])], ["a", "b"]
    ).select(dedup.hamming64(F.col("a"), F.col("b")).alias("h")).collect()
    near, far = ham[0]["h"], ham[1]["h"]
    assert near < far                                # near-dup closer than unrelated
    assert 0 <= near <= 64 and 0 <= far <= 64


def test_similarity_bruteforce_topk(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]), (4, [-1.0, 0.0])],
        ["vec_id", "embedding"],
    )
    out = similarity.brute_force_topk(emb, emb.filter(F.col("vec_id") == 1), k=2).collect()
    assert [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])] == [2, 3]
    assert all(r["query_id"] == 1 for r in out)


def test_multiprobe_lsh_recall_not_worse(spark):
    from processo_etl_spark import catalog

    emb = catalog.load(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = {(r["query_id"], r["neighbor_id"]) for r in
             similarity.brute_force_topk(emb, queries, k=5).collect()}

    def recall(probes):
        got = {(r["query_id"], r["neighbor_id"]) for r in
               similarity.lsh_topk(emb, queries, k=5, bits=6, probes=probes).collect()}
        return len(got & exact) / len(exact)

    r1, r3 = recall(1), recall(3)
    assert r3 >= r1                      # more tables never lose recall
    # Absolute recall on near-orthogonal random vectors is intrinsically
    # low (p ≈ agree^bits per table); assert it's far above the ~1%
    # chance level, not a correlated-data figure.
    assert r3 >= 0.15


def test_build_dimension_auto_strategies(spark):
    from processo_etl_spark.operators import star

    df = spark.createDataFrame([(i % 4, f"v{i}") for i in range(100)], ["k1", "k2"])
    # Small domain -> ordered, contiguous, deterministic ids.
    small = star.build_dimension_auto(df.select("k1").distinct(), ["k1"], "id")
    assert sorted(r["id"] for r in small.collect()) == [1, 2, 3, 4]
    # Force the scalable path with a tiny threshold: still contiguous,
    # ordered, deterministic 1..N (the distributed rank path).
    big = star.build_dimension_auto(df, ["k1", "k2"], "id", max_agg_rows=10)
    ids = sorted(r["id"] for r in big.collect())
    assert ids == list(range(1, 101))
    # Order parity with the small-domain aggregate build.
    agg_ids = {(r["k1"], r["k2"]): r["id"] for r in
               star.build_dimension(df, ["k1", "k2"], "id").collect()}
    rank_ids = {(r["k1"], r["k2"]): r["id"] for r in big.collect()}
    assert agg_ids == rank_ids


def test_langid_and_quality(spark):
    df = _docs(spark)
    pred = {r["doc_id"]: r["p"] for r in
            df.select("doc_id", textstats.detect_language("text").alias("p")).collect()}
    assert pred[1] == "en" and pred[4] == "es"
    q = textstats.quality_features(df, "text").collect()
    assert all(0.0 <= r["quality_score"] <= 1.0 for r in q)


def test_connected_components_clusters(spark):
    # Two components: {1,2,3} chained (1-2, 2-3) and {10,11}; singleton 99
    # absent.  A pair with a NULL endpoint is dropped, so NULL is never a
    # node (3 stays one through its other pair); the self pair makes 5
    # its own cluster.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (None, 3), (12, None), (5, 5)],
        "id_a long, id_b long",
    )
    out = {r["doc"]: r["cluster"] for r in dedup.connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 5: 5}


def test_connected_components_long_chain(spark):
    # Diameter > 1 round: a 9-node path must still converge to min=0.
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], ["id_a", "id_b"]
    )
    out = dedup.connected_components(pairs).collect()
    assert {r["cluster"] for r in out} == {0}
    assert len(out) == 9


def test_connected_components_raises_when_the_bound_cuts_it_short(spark):
    # A 61-node path converges in 6 star rounds, inside the default bound
    # of 20; stopped after 3, its labels would not be components yet.
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], ["id_a", "id_b"]
    )
    out = dedup.connected_components(pairs).collect()
    assert {r["cluster"] for r in out} == {0}
    assert sorted(r["doc"] for r in out) == list(range(61))
    with pytest.raises(ValueError, match="max_iterations=3"):
        dedup.connected_components(pairs, max_iterations=3)


def test_gopher_flags_and_pii(spark):
    df = spark.createDataFrame(
        [
            (1, "a normal english sentence with several reasonable words here"),
            (2, "spam spam spam spam spam spam spam spam spam spam"),
            (3, "x"),
        ],
        ["doc_id", "text"],
    )
    from processo_etl_spark.ml import textstats

    flags = {r["doc_id"]: r for r in
             textstats.gopher_quality_flags(df, "text", "doc_id").collect()}
    assert flags[1]["keep"] is True
    assert flags[2]["keep"] is False          # top_token_frac == 1.0
    assert flags[3]["keep"] is False          # too short
    scrub = df.sparkSession.createDataFrame(
        [(1, "mail me at jo.doe+x@mail.co or call +1 (555) 010-2222 now")],
        ["id", "t"],
    ).select(textstats.scrub_pii("t").alias("s")).first()["s"]
    assert "<EMAIL>" in scrub and "<PHONE>" in scrub
    assert "@" not in scrub and "555" not in scrub


def test_multimodal_plumbing(spark):
    df = _docs(spark)
    media = multimodal.synthesize_media(df, "doc_id", "text")
    feats = multimodal.extract_features(media, n_features=4)
    rows = feats.collect()
    assert len(rows) == 5
    assert all(len(r["feature"]) == 4 for r in rows)
    # Deterministic fake decode: same payload → same features.
    again = {r["media_id"]: r["feature"] for r in feats.collect()}
    first = {r["media_id"]: r["feature"] for r in rows}
    assert first == again


def test_ivf_topk_recall_beats_sign_lsh(spark):
    """IVF with a data-adaptive quantizer should far out-recall sign-LSH
    at a comparable candidate budget (8 cells × 4 probes ≈ 64-bucket
    1-probe); assert a conservative floor and the exact row contract."""
    from processo_etl_spark import catalog

    emb = catalog.load(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    centers = similarity.train_ivf_centroids(emb, nlist=8)
    assert len(centers) == 8 and len(centers[0]) == 64
    got_rows = similarity.ivf_topk(emb, queries, centers, k=5, nprobe=4).collect()
    assert len(got_rows) == 8 * 5  # every query fills k slots
    got = {(r.query_id, r.neighbor_id) for r in got_rows}
    assert len(got & truth) / len(truth) >= 0.5


def test_ivf_assign_covers_all_rows_deterministically(spark):
    from processo_etl_spark import catalog

    emb = catalog.load(spark, "/root/testdata/sf0.001", "embeddings")
    centers = similarity.train_ivf_centroids(emb, nlist=4)
    a1 = similarity.ivf_assign(emb, centers).select("vec_id", "cell")
    assert a1.filter((F.col("cell") < 0) | (F.col("cell") >= 4)).count() == 0
    assert a1.count() == emb.count()
    a2 = similarity.ivf_assign(emb, centers).select("vec_id", "cell")
    assert a1.exceptAll(a2).count() == 0  # map-side assignment is stable


def test_int8_quantization_roundtrip_and_recall(spark):
    """Reconstruction error bounded by scale/2 per dim; quantized
    brute-force recall@5 vs exact float search stays high."""
    from processo_etl_spark import catalog
    from processo_etl_spark.ml import embeddings as emb_ops

    emb = catalog.load(spark, "/root/testdata/sf0.001", "embeddings")
    qdf = emb_ops.quantize_int8(emb)
    err = (
        qdf.join(emb, "vec_id")
        .select(
            F.array_max(
                F.zip_with(
                    F.col("embedding"),
                    emb_ops.dequantize(F.col("q"), F.col("q_scale")),
                    lambda x, r: F.abs(x.cast("double") - r),
                )
            ).alias("max_err"),
            F.col("q_scale"),
        )
        .filter(F.col("max_err") > F.col("q_scale") * 0.5 + 1e-12)
        .count()
    )
    assert err == 0
    rng = qdf.select(
        F.array_min(F.col("q")).alias("lo"), F.array_max(F.col("q")).alias("hi")
    ).agg(F.min("lo").alias("lo"), F.max("hi").alias("hi")).collect()[0]
    assert rng["lo"] >= -127 and rng["hi"] <= 127

    queries = emb.filter(F.col("vec_id") < 8)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in emb_ops.brute_force_topk_quantized(
            qdf, qdf.filter(F.col("vec_id") < 8), k=5
        ).collect()
    }
    assert len(got & truth) / len(truth) >= 0.8


def test_l2_normalize(spark):
    from processo_etl_spark.ml import embeddings as emb_ops

    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0])], "id int, v array<double>"
    ).select("id", emb_ops.l2_normalize(F.col("v")).alias("n"))
    rows = {r["id"]: r["n"] for r in df.collect()}
    assert rows[1] == [0.6, 0.8]
    assert rows[2] == [0.0, 0.0]


# --- deterministic splits / sampling / shuffle / packing ---------------------


def test_split_disjoint_exhaustive_and_stable(spark):
    from processo_etl_spark import catalog
    from processo_etl_spark.ml import splits

    docs = catalog.load(spark, "/root/testdata/sf0.001", "documents")
    out = splits.with_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == docs.count()  # exhaustive (no NULL split)
    assert 0.7 <= counts["train"] / docs.count() <= 0.9  # ~80%
    # Append-consistency: assignment of a subset == assignment in the full set.
    sub = splits.with_split(
        docs.filter(F.col("doc_id") < 100), "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1})
    full = {r["doc_id"]: r["split"] for r in out.select("doc_id", "split").collect()}
    for r in sub.select("doc_id", "split").collect():
        assert full[r["doc_id"]] == r["split"]


def test_stratified_sample_rates(spark):
    from processo_etl_spark import catalog
    from processo_etl_spark.ml import splits

    docs = catalog.load(spark, "/root/testdata/sf0.01", "documents")
    out = splits.stratified_sample_by_hash(
        docs, "doc_id", "lang", {"en": 0.5, "de": 0.1}, default_fraction=0.0)
    got = {r["lang"]: r["n"] for r in
           out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    base = {r["lang"]: r["n"] for r in
            docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(got) <= {"en", "de"}  # default 0 drops every other stratum
    assert abs(got["en"] / base["en"] - 0.5) < 0.1
    assert abs(got["de"] / base["de"] - 0.1) < 0.1


def test_shuffle_rank_total_order_and_uniformity(spark):
    from processo_etl_spark import catalog
    from processo_etl_spark.ml import splits

    docs = catalog.load(spark, "/root/testdata/sf0.001", "documents")
    out = splits.shuffle_rank(docs, "doc_id", n_shards=4).collect()
    # (shard, rank) is a total order: ranks are 1..n_shard contiguous.
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shuffle_shard"], []).append(r["shuffle_rank"])
    assert set(by_shard) == {0, 1, 2, 3}
    for ranks in by_shard.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    # Shuffled, not sorted: doc_ids in rank order differ from id order.
    shard0 = [r["doc_id"] for r in sorted(
        (r for r in out if r["shuffle_shard"] == 0), key=lambda r: r["shuffle_rank"])]
    assert shard0 != sorted(shard0)


def test_pack_sequences_invariants(spark):
    from processo_etl_spark import catalog
    from processo_etl_spark.ml import packing

    docs = (
        catalog.load(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", F.floor((F.col("n_chars") + 3) / F.lit(4)).alias("tokens"))
    )
    max_tokens = 256
    out = packing.pack_sequences(docs, "doc_id", "tokens", max_tokens, n_shards=4)
    rows = out.collect()
    # Every offset is inside its window; pack_ids per shard are contiguous
    # from 0 (concat-and-chunk leaves no empty window).
    for r in rows:
        assert 0 <= r["offset"] < max_tokens
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], set()).add(r["pack_id"])
    for packs in by_shard.values():
        assert packs == set(range(max(packs) + 1))
    stats = packing.packing_stats(out, "tokens", max_tokens).collect()
    for s in stats:
        assert s["packs_started"] <= s["packs_ideal"]


def test_concat_split_stats_hand_computed(spark):
    """Window 10, doc lengths (id order) 4,6,3,0,12,5: cuts at 10,20,30…
    over cumsums 4,10,13,13,25,30 — doc2 ends exactly ON the boundary
    (no split), doc3 and doc6 stay inside, doc4 is empty, doc5 spans
    13→25 (crosses 20 — split); total 30 → 3 sequences, 0 tail pad."""
    from processo_etl_spark.ml import packing

    df = spark.createDataFrame(
        [(1, 4), (2, 6), (3, 3), (4, 0), (5, 12), (6, 5)], "doc_id long, n long"
    )
    r = packing.concat_split_stats(df, "doc_id", F.col("n"), window=10).collect()[0]
    assert r["n_docs"] == 6
    assert r["total_tokens"] == 30
    assert r["n_sequences"] == 3
    assert r["n_docs_split"] == 1
    assert r["tail_padding"] == 0
    # non-multiple total: one more token => 4 sequences, 9 pad
    df2 = df.union(spark.createDataFrame([(7, 1)], "doc_id long, n long"))
    r2 = packing.concat_split_stats(df2, "doc_id", F.col("n"), window=10).collect()[0]
    assert r2["n_sequences"] == 4 and r2["tail_padding"] == 9


def test_length_bucketed_packing_hand_computed(spark):
    """Window 10: 7 docs of len 3 -> 3/pack, 3 packs, 900 permille;
    2 docs of len 10 -> 1/pack full; 1 doc of len 25 -> truncated;
    empty docs excluded."""
    from processo_etl_spark.ml import packing

    rows = [(i, 3) for i in range(7)]
    rows += [(10, 10), (11, 10), (12, 25), (13, 0)]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    got = {
        r["len_class"]: r
        for r in packing.length_bucketed_packing(
            df, F.col("n"), window=10
        ).collect()
    }
    assert set(got) == {3, 10, 25}
    assert (got[3]["docs_per_pack"], got[3]["n_packs"]) == (3, 3)
    assert got[3]["fill_permille"] == 900 and not got[3]["truncated"]
    assert (got[10]["docs_per_pack"], got[10]["n_packs"]) == (1, 2)
    assert got[10]["fill_permille"] == 1000 and not got[10]["truncated"]
    assert got[25]["truncated"] and got[25]["fill_permille"] == 1000
    assert got[25]["n_packs"] == 1


def test_scd2_history_intervals(spark):
    from processo_etl_spark import catalog
    from processo_etl_spark.operators.temporal import scd2_history_from_log

    ev = catalog.load(spark, "/root/testdata/sf0.001", "events")
    hist = scd2_history_from_log(ev, "user_id", "event_type", "ts", "event_id").collect()
    by_user = {}
    for r in hist:
        by_user.setdefault(r["user_id"], []).append(r)
    n_events = ev.count()
    assert sum(r["n_events"] for r in hist) == n_events  # every event in one run
    for runs in by_user.values():
        runs.sort(key=lambda r: r["version"])
        assert [r["version"] for r in runs] == list(range(1, len(runs) + 1))
        for a, b in zip(runs, runs[1:]):
            assert a["valid_to"] == b["valid_from"]  # seamless intervals
            assert a["event_type"] != b["event_type"]  # runs are maximal
        assert runs[-1]["valid_to"] is None  # current version open-ended


def test_scd2_history_refuses_a_caller_version_column(spark):
    from processo_etl_spark.operators.temporal import scd2_history_from_log

    ev = spark.createDataFrame(
        [(1, "view", 1, 1, "v7")],
        ["user_id", "event_type", "ts", "event_id", "version"],
    )
    with pytest.raises(ValueError, match="'version'"):
        scd2_history_from_log(ev, "user_id", "event_type", "ts", "event_id")


def test_registered_lsh_config_recall_floor(spark):
    """The registered similarity_topk_lsh config (8 rotated 4-bit tables)
    must stay a usable ANN: recall@5 ≥ 0.6 vs brute force at sf0.01
    while probing only probes/2^bits = 1/2 of the corpus per query."""
    from processo_etl_spark import catalog

    emb = catalog.load(spark, "/root/testdata/sf0.01", "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = {(r["query_id"], r["neighbor_id"]) for r in
             similarity.brute_force_topk(emb, queries, k=5).collect()}
    got = {(r["query_id"], r["neighbor_id"]) for r in
           similarity.lsh_topk(emb, queries, k=5, bits=4, probes=8).collect()}
    assert len(got & exact) / len(exact) >= 0.6


def test_repetition_ratios_hand_computed(spark):
    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),          # heavy bigram repetition
            (2, "one two three four"),    # no repetition
            (3, "x"),                     # single token: no bigrams
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in textstats.repetition_ratios(df, "text", "doc_id").collect()
    }
    # doc 1: tokens a,b ×3 → dup_token_frac=(6-2)/6; bigrams: ab,ba,ab,ba,ab
    #        → dup=(5-2)/5, top run "a b"×3 → 3/5
    assert out[1]["n_tokens"] == 6
    assert out[1]["dup_token_frac"] == pytest.approx(4 / 6)
    assert out[1]["dup_bigram_frac"] == pytest.approx(3 / 5)
    assert out[1]["top_bigram_frac"] == pytest.approx(3 / 5)
    assert out[2]["dup_token_frac"] == 0.0
    assert out[2]["dup_bigram_frac"] == 0.0
    # single-token doc: zero bigrams, guarded denominators
    assert out[3]["n_tokens"] == 1
    assert out[3]["dup_bigram_frac"] == 0.0
    assert out[3]["top_bigram_frac"] == 0.0


def test_chunk_dedup_keeps_first_occurrence(spark):
    boiler = "terms of service apply to all users of this site every"
    df = spark.createDataFrame(
        [
            (1, boiler + " unique alpha content here now"),
            (2, boiler + " unique beta content here now"),
            (3, "totally original document with no shared chunks at all ok"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in dedup.chunk_dedup(df, "text", "doc_id", chunk_tokens=11).collect()
    }
    # doc 1 keeps everything (first occurrence of the boilerplate chunk)
    assert out[1]["n_chunks"] == out[1]["n_kept"] == 2
    # doc 2 loses exactly the 11-token boilerplate chunk, keeps its tail
    assert out[2]["n_chunks"] == 2 and out[2]["n_kept"] == 1
    assert out[2]["clean_text"] == "unique beta content here now"
    assert "terms of service" not in out[2]["clean_text"]
    # untouched doc reassembles to its normalized self
    assert out[3]["n_kept"] == out[3]["n_chunks"]
    assert out[3]["clean_text"] == "totally original document with no shared chunks at all ok"


def test_simhash_banded_recall_guarantee(spark):
    """Pigeonhole guarantee (banding must lose no pair): the 9-band
    blocked join finds EVERY pair at hamming <= 8 — zero missed vs the
    all-pairs truth."""
    from processo_etl_spark import catalog

    docs = catalog.load(spark, "/root/testdata/sf0.001", "documents")
    sigs = docs.select(
        F.col("doc_id").alias("doc"),
        dedup.simhash64(F.split(dedup.normalize_text("text"), " ")).alias("sig"),
    ).persist()
    a = sigs.select(F.col("doc").alias("id_a"), F.col("sig").alias("sig_a"))
    b = sigs.select(F.col("doc").alias("id_b"), F.col("sig").alias("sig_b"))
    truth = {
        (r["id_a"], r["id_b"])
        for r in a.crossJoin(b)  # all-pairs TRUTH — test-only, tiny fixture
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(dedup.hamming64(F.col("sig_a"), F.col("sig_b")) <= 8)
        .collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_dedup_pairs_banded(
            docs, "doc_id", "text", max_hamming=8
        ).collect()
    }
    sigs.unpersist()
    assert truth, "fixture must contain at least one hamming<=8 pair"
    assert got == truth  # exact recall AND no false extras


def test_real_image_decode_runs_without_pillow(spark):
    """REAL decode executes with no imaging library installed (no
    stub output where a real decoder can run): every payload goes
    through the vendored stdlib PNG codec (ml/png), which decodes real
    DEFLATE-compressed pixels.  Decoder contract, row by row: a PNG
    yields the column means of its decoded pixels; a non-PNG, empty or
    NULL payload — or a PNG whose CRC-valid IDAT chunk is not a DEFLATE
    stream — yields ``_decode_image_stub``."""
    import struct

    from processo_etl_spark.ml import png

    n = 4
    px = bytes((r * 53 + c * 29) % 256 for r in range(n) for c in range(n))
    ihdr = png._chunk(b"IHDR", struct.pack(">IIBBBBB", n, n, 8, 0, 0, 0, 0))
    payloads = {
        1: png.encode_gray(bytes([128]) * (32 * 32), 32, 32),
        2: png.encode_gray(px, n, n),
        3: b"plain text, not an image",
        4: png.SIGNATURE + ihdr + png._chunk(b"IDAT", b"not deflate")
        + png._chunk(b"IEND", b""),
        5: b"",
        6: None,
    }
    media = spark.createDataFrame(
        [(k, "image/png", v, None, None) for k, v in payloads.items()],
        schema=multimodal.MEDIA_SCHEMA,
    )
    got = {
        r["media_id"]: r["feature"]
        for r in multimodal.extract_features(media, n_features=n).collect()
    }
    assert sorted(got) == sorted(payloads)
    # uniform mid-gray image -> every column mean ~= 128/255
    assert all(abs(v - 128.0 / 255.0) < 0.02 for v in got[1])
    assert got[2] == [
        sum(px[r * n + c] for r in range(n)) / (n * 255.0) for c in range(n)
    ]
    for k in (3, 4, 5, 6):
        assert got[k] == multimodal._decode_image_stub(payloads[k], n), k


def test_png_decode_nonsquare_box_average():
    """Non-n×n inputs must be box-resized in BOTH dimensions
    (2-D integer-boundary box average), matching the documented
    '(box-resized) n_features square' contract — the old path averaged
    each column band over the full image height, so any vertical
    structure leaked unresized."""
    from processo_etl_spark.ml import png

    n = 4
    for w, h in [(16, 8), (8, 16), (7, 5), (4, 4)]:
        px = bytes((r * 31 + c * 17) % 256 for r in range(h) for c in range(w))
        got = multimodal.decode_image_png(png.encode_gray(px, w, h), n)
        # independent reference: explicit 2-D box average, then column means
        exp = []
        for c in range(n):
            c0, c1 = c * w // n, max((c + 1) * w // n, c * w // n + 1)
            cells = []
            for r in range(n):
                r0, r1 = r * h // n, max((r + 1) * h // n, r * h // n + 1)
                box = [
                    px[rr * w + cc]
                    for rr in range(r0, min(r1, h))
                    for cc in range(c0, min(c1, w))
                ]
                cells.append(sum(box) / len(box))
            exp.append(sum(cells) / (n * 255.0))
        assert len(got) == n
        assert all(abs(g - e) < 1e-12 for g, e in zip(got, exp))
    # vertical-gradient image: top half 0, bottom half 200 — a correct
    # 2-D resize yields identical column features; the pre-fix code also
    # did, but ONLY a 2-D resize keeps them equal after transposing
    w, h = 4, 16
    vert = bytes((200 if r >= h // 2 else 0) for r in range(h) for _ in range(w))
    f_vert = multimodal.decode_image_png(png.encode_gray(vert, w, h), n)
    assert all(abs(v - f_vert[0]) < 1e-12 for v in f_vert)
    assert abs(f_vert[0] - 100.0 / 255.0) < 1e-12
    # transposed (horizontal gradient, width h=16 × height w=4, left
    # half 0 right half 200): features must now step 0 -> 200
    horiz = bytes(
        (200 if c >= h // 2 else 0) for _ in range(w) for c in range(h)
    )
    f_horiz = multimodal.decode_image_png(png.encode_gray(horiz, h, w), n)
    assert f_horiz[0] == 0.0 and abs(f_horiz[-1] - 200.0 / 255.0) < 1e-12


def test_binary_file_source_to_real_decode_end_to_end(spark, tmp_path):
    """The full multimodal loop over REAL FILES: PNGs written to disk →
    Spark ``binaryFile`` scan (the object-store ingestion shape) →
    MEDIA_SCHEMA → vendored real decode → per-column means matching the
    encoded pixel pattern.  Also checks the JVM-side IHDR header parse
    (width/height without any Python boundary) and the glob filter."""
    from processo_etl_spark.ml import multimodal, png

    w, h = 8, 8
    expected = {}
    for i in (3, 7, 11):
        px = bytes((i * 31 + r * 7 + c * 13) % 256 for r in range(h) for c in range(w))
        (tmp_path / f"img_{i}.png").write_bytes(png.encode_gray(px, w, h))
        expected[f"img_{i}.png"] = [
            sum((i * 31 + r * 7 + c * 13) % 256 for r in range(h)) / (h * 255.0)
            for c in range(w)
        ]
    (tmp_path / "notes.txt").write_text("not an image")  # glob must skip

    media = multimodal.read_binary_media(spark, str(tmp_path), glob="*.png")
    rows = media.collect()
    assert len(rows) == 3  # txt filtered out at the listing level
    assert all(r["width"] == w and r["height"] == h for r in rows)
    assert all(r["media_type"] == "image/png" for r in rows)
    assert len({r["media_id"] for r in rows}) == 3  # deterministic, distinct

    feats = multimodal.extract_features(media, n_features=8)
    got = {r["media_id"]: r["feature"] for r in feats.collect()}
    # map media_id back to file: same md5-of-path key over a raw scan
    from processo_etl_spark.ml.dedup import md5_long

    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.png")
        .load(str(tmp_path))
    )
    id_by_name = {
        r["path"].rsplit("/", 1)[-1]: r["mid"]
        for r in raw.select(
            "path", md5_long(F.col("path")).alias("mid")
        ).collect()
    }
    for name, exp in expected.items():
        vec = got[id_by_name[name]]
        assert all(abs(a - b) < 1e-12 for a, b in zip(vec, exp))


def test_binary_media_truncated_png_null_dims(spark, tmp_path):
    """Truncated-header guard: a signature-valid PNG truncated to 9–23 bytes
    must yield NULL width/height (the pre-fix parse ran substring() over
    1–3 bytes and conv(hex(...)) produced a garbage small integer)."""
    from processo_etl_spark.ml import multimodal, png

    full = png.encode_gray(bytes(range(64)), 8, 8)
    (tmp_path / "trunc9.png").write_bytes(full[:9])
    (tmp_path / "trunc23.png").write_bytes(full[:23])
    (tmp_path / "exact24.png").write_bytes(full[:24])  # boundary: parses
    (tmp_path / "ok.png").write_bytes(full)

    rows = {
        r["media_id"]: r
        for r in multimodal.read_binary_media(
            spark,
            str(tmp_path),
            id_from_path=lambda p: F.regexp_extract(p, r"([a-z0-9]+)\.png$", 1)
            .isin("ok", "exact24")
            .cast("int"),
        ).collect()
    }
    # keyed 1 = ok/exact24 (full header present), 0 = truncated
    dims = {(r["width"], r["height"]) for mid, r in rows.items() if mid == 0}
    assert dims == {(None, None)}
    assert all(
        (r["width"], r["height"]) == (8, 8)
        for mid, r in rows.items()
        if mid == 1
    )


def test_write_png_corpus_idempotent_scan_keyed_by_filename(spark, tmp_path):
    """The multimodal_binary_ingest fixture path: write_png_corpus is
    idempotent, and read_binary_media(id_from_path=regex) keys rows by
    the filename-embedded id with IHDR dims parsed JVM-side."""
    from processo_etl_spark.ml import multimodal

    d = str(tmp_path / "corpus")
    multimodal.write_png_corpus(d, n=5, size=8)
    before = {p.name: p.read_bytes() for p in (tmp_path / "corpus").iterdir()}
    multimodal.write_png_corpus(d, n=5, size=8)  # no-op second pass
    after = {p.name: p.read_bytes() for p in (tmp_path / "corpus").iterdir()}
    assert before == after and len(before) == 5

    media = multimodal.read_binary_media(
        spark,
        d,
        id_from_path=lambda p: F.regexp_extract(p, r"img_(\d+)\.png$", 1),
    )
    rows = media.collect()
    assert sorted(r["media_id"] for r in rows) == [0, 1, 2, 3, 4]
    assert all((r["width"], r["height"]) == (8, 8) for r in rows)
    feats = multimodal.extract_features(media, n_features=8)
    got = {r["media_id"]: r["feature"] for r in feats.collect()}
    for i in range(5):
        exp = [
            sum((i * 31 + r * 7 + c * 13) % 256 for r in range(8)) / (8 * 255.0)
            for c in range(8)
        ]
        assert all(abs(a - b) < 1e-12 for a, b in zip(got[i], exp))


def test_wav_pcm16_differential_vs_stdlib_wave():
    """Cross-decoder differential (an independent referee, the WAV analogue of
    the Pillow PNG differential): files written by the INDEPENDENT
    stdlib ``wave`` writer must unwrap to exactly the samples written,
    and our walker must agree with ``wave``'s own reader on params and
    payload; non-PCM16 variants produced via ``wave`` (8-bit) must be
    rejected with None."""
    import io
    import struct
    import wave

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from processo_etl_spark.ml import multimodal

    @settings(max_examples=50, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=-32768, max_value=32767),
            min_size=0,
            max_size=200,
        ),
        st.sampled_from([1, 2]),
        st.sampled_from([8000, 16000, 44100]),
    )
    def check(samples, nchannels, rate):
        pcm = b"".join(struct.pack("<h", s) for s in samples)
        if nchannels == 2 and len(samples) % 2:
            pcm += struct.pack("<h", 0)  # wave requires whole frames
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(nchannels)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(pcm)
        payload = buf.getvalue()
        got = multimodal.wav_pcm16(payload)
        assert got == pcm  # byte-exact: stdlib writer → our walker
        with wave.open(io.BytesIO(payload), "rb") as r:
            assert got == r.readframes(r.getnframes())

    check()

    # 8-bit file from the stdlib writer → rejected (PCM16-only contract)
    buf8 = io.BytesIO()
    with wave.open(buf8, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(bytes([0, 128, 255]))
    assert multimodal.wav_pcm16(buf8.getvalue()) is None


def test_wav_files_to_audio_features_end_to_end(spark, tmp_path):
    """Real audio loop: canonical PCM16 WAV files on disk → binaryFile
    scan → RIFF unwrap (strip_wav_headers) → extract_audio_features,
    with rms/peak/zero-crossings matching a direct computation; non-PCM
    and malformed payloads unwrap to NULL (the zero row downstream)."""
    import math
    import struct

    from processo_etl_spark.ml import multimodal

    def wav_bytes(samples, extra_chunk=False):
        pcm = b"".join(struct.pack("<h", s) for s in samples)
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
        if extra_chunk:  # ancillary LIST chunk the walker must skip
            chunks += b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
        chunks += b"data" + struct.pack("<I", len(pcm)) + pcm
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    clips = {
        "a.wav": [0, 1000, -1000, 32767, -32768, 5],
        "b.wav": [100] * 8,
    }
    for name, s in clips.items():
        (tmp_path / name).write_bytes(wav_bytes(s, extra_chunk=name == "a.wav"))

    media = multimodal.strip_wav_headers(
        multimodal.read_binary_media(
            spark, str(tmp_path), glob="*.wav", media_type="audio/wav"
        )
    )
    rows = multimodal.extract_audio_features(media).collect()
    assert len(rows) == 2
    got = sorted(
        ((r["n_samples"], r["rms"], r["peak"], r["zero_crossings"]) for r in rows)
    )
    exp = []
    for s in clips.values():
        n = len(s)
        rms = math.sqrt(sum(x * x for x in s) / n) / 32768.0
        peak = max(abs(x) for x in s) / 32768.0
        zc = sum((s[i] * s[i + 1]) < 0 for i in range(n - 1))
        exp.append((n, rms, peak, zc))
    assert got == sorted(exp)
    # unwrap contract: non-WAV and truncated payloads -> None
    assert multimodal.wav_pcm16(b"not audio") is None
    assert multimodal.wav_pcm16(None) is None
    bad_fmt = wav_bytes([1, 2, 3]).replace(
        struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16),
        struct.pack("<HHIIHH", 3, 1, 8000, 16000, 2, 16),  # float fmt
    )
    assert multimodal.wav_pcm16(bad_fmt) is None


def test_png_codec_roundtrip_and_filters():
    """The vendored codec round-trips its own streams and unfilters all
    five standard scanline filter types (hand-encoded stream)."""
    import struct
    import zlib

    from processo_etl_spark.ml import png

    for w, h in [(8, 8), (3, 5), (1, 1), (16, 2)]:
        px = bytes((r * 7 + c * 13) % 256 for r in range(h) for c in range(w))
        assert png.decode_gray(png.encode_gray(px, w, h)) == (w, h, px)

    # hand-encode each row with a different filter type (0..4)
    w, h = 9, 6
    px = bytes((r * 31 + c * 17) % 256 for r in range(h) for c in range(w))
    rows, prev = [], bytes(w)
    for r in range(h):
        line = px[r * w : (r + 1) * w]
        ft = r % 5
        enc = bytearray(w)
        for i in range(w):
            left = line[i - 1] if i else 0
            ul = prev[i - 1] if i else 0
            up = prev[i]
            pred = [0, left, up, (left + up) // 2, png._paeth(left, up, ul)][ft]
            enc[i] = (line[i] - pred) & 0xFF
        rows.append(bytes([ft]) + bytes(enc))
        prev = line
    stream = (
        png.SIGNATURE
        + png._chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
        + png._chunk(b"IDAT", zlib.compress(b"".join(rows)))
        + png._chunk(b"IEND", b"")
    )
    assert png.decode_gray(stream) == (w, h, px)

    with pytest.raises(ValueError):
        png.decode_gray(b"not a png at all")
    corrupt = bytearray(png.encode_gray(bytes(64), 8, 8))
    corrupt[20] ^= 0xFF  # flip an IHDR byte -> CRC mismatch
    with pytest.raises(ValueError):
        png.decode_gray(bytes(corrupt))


def test_png_inflate_bounded_by_ihdr_size():
    """A deflated zero-bomb behind a 1x1 IHDR (16 MiB of zeros in ~16
    KiB of IDAT) is rejected after inflating at most one byte past the
    IHDR's 2-byte image: the decode falls back to None with a traced
    allocation peak of a few MiB, not the 16 MiB an unbounded inflate
    holds.  A truncated stream of the right size is rejected too."""
    import struct
    import tracemalloc
    import zlib

    from processo_etl_spark.ml import png

    def gray_png(idat: bytes) -> bytes:
        return (
            png.SIGNATURE
            + png._chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0))
            + png._chunk(b"IDAT", idat)
            + png._chunk(b"IEND", b"")
        )

    bomb = gray_png(zlib.compress(bytes(16 << 20), 9))
    assert len(bomb) < 64 << 10
    tracemalloc.start()
    try:
        assert png.try_decode_gray(bomb) is None
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 4 << 20, peak
    with pytest.raises(ValueError, match="size mismatch"):
        png.decode_gray(bomb)
    assert png.decode_gray(gray_png(zlib.compress(b"\x00\x2a"))) == (1, 1, b"\x2a")
    with pytest.raises(ValueError, match="truncated"):
        png.decode_gray(gray_png(zlib.compress(b"\x00\x2a")[:-4]))


def test_binary_file_media_null_key_named_error(spark):
    """``media_id`` must be non-NULL: an ``id_from_path`` returning NULL
    fails at the source with an error naming the path, instead of an
    opaque PythonException inside a media operator's worker."""
    from processo_etl_spark.ml import multimodal, png

    raw = spark.createDataFrame(
        [("file:/corpus/img_x.png", png.encode_gray(bytes(4), 2, 2))],
        "path string, content binary",
    )
    keyed = multimodal.binary_file_media(
        raw,
        id_from_path=lambda p: F.when(p.endswith("_1.png"), F.lit(1)),
    )
    with pytest.raises(Exception, match=(
        "binary_file_media: id_from_path returned NULL for file:/corpus/img_x.png"
    )):
        keyed.collect()
    ok = multimodal.binary_file_media(
        raw, id_from_path=lambda p: F.length(p).cast("long")
    ).collect()
    assert [(r["media_id"], r["width"], r["height"]) for r in ok] == [(22, 2, 2)]


def test_png_decoder_independent_encoder_shapes():
    """Spec-valid stream shapes an INDEPENDENT encoder may emit but our
    own ``encode_gray`` never does (a decoder must not be tested only on
    its own encoder's output): the zlib
    stream split across multiple IDAT chunks, stored-block (level-0)
    zlib, maximum compression, and ancillary chunks between IHDR and
    IDAT.  Where Pillow exists the same streams are also cross-decoded
    against it (extra differential, no environment skip)."""
    import importlib.util
    import struct
    import zlib

    from processo_etl_spark.ml import png

    w, h = 11, 7
    px = bytes((r * 53 + c * 29) % 256 for r in range(h) for c in range(w))
    raw = b"".join(
        b"\x00" + px[r * w : (r + 1) * w] for r in range(h)
    )
    ihdr = png._chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))

    variants = []
    # multi-IDAT: compressed stream chopped into 5-byte chunks
    comp = zlib.compress(raw, 6)
    idats = b"".join(
        png._chunk(b"IDAT", comp[i : i + 5]) for i in range(0, len(comp), 5)
    )
    variants.append(png.SIGNATURE + ihdr + idats + png._chunk(b"IEND", b""))
    # stored-block zlib (level 0) and max compression (level 9)
    for lvl in (0, 9):
        variants.append(
            png.SIGNATURE
            + ihdr
            + png._chunk(b"IDAT", zlib.compress(raw, lvl))
            + png._chunk(b"IEND", b"")
        )
    # ancillary tEXt chunk between IHDR and IDAT (decoder must skip it)
    variants.append(
        png.SIGNATURE
        + ihdr
        + png._chunk(b"tEXt", b"Software\x00independent-encoder")
        + png._chunk(b"IDAT", zlib.compress(raw, 6))
        + png._chunk(b"IEND", b"")
    )

    for v in variants:
        assert png.decode_gray(v) == (w, h, px)
        if importlib.util.find_spec("PIL"):  # cross-decoder differential
            import io

            from PIL import Image

            img = Image.open(io.BytesIO(v)).convert("L")
            assert (img.width, img.height) == (w, h)
            assert bytes(img.getdata()) == px


def test_corpus_frequency_score_invariants(spark):
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a rare1"), (3, "rare2")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in textstats.corpus_frequency_score(
        df, "text", "doc_id", rare_threshold=1
    ).collect()}
    # corpus counts: a=3, b=1, rare1=1, rare2=1
    assert out[1]["n_tokens"] == 3
    assert out[1]["mean_term_freq"] == pytest.approx((3 + 3 + 1) / 3)
    assert out[1]["rare_frac"] == pytest.approx(1 / 3)      # only 'b' is rare
    assert out[3]["rare_frac"] == 1.0                        # all-rare doc
    assert out[2]["mean_term_freq"] == pytest.approx((3 + 1) / 2)


def test_semantic_dedup_collapses_planted_group(spark):
    """A planted trio of near-identical vectors collapses to its lowest
    id; orthogonal vectors all survive — for both quantizers."""
    from processo_etl_spark.ml import semdedup

    dim = 8
    base = [1.0, 0.2, 0.1, 0.0, 0.0, 0.0, 0.0, 0.0]
    near1 = [1.0, 0.21, 0.1, 0.0, 0.0, 0.0, 0.0, 0.01]
    near2 = [0.99, 0.2, 0.11, 0.0, 0.0, 0.0, 0.0, 0.0]
    # Distinct directions: negative leading dims put them in other cells;
    # even same-cell they are far below the threshold.
    other1 = [-1.0, 0.0, 0.5, 0.0, 0.0, 0.0, 0.0, 0.0]
    other2 = [0.0, -1.0, 0.0, 0.8, 0.0, 0.0, 0.0, 0.0]
    rows = [
        (10, base), (11, near1), (12, near2), (20, other1), (21, other2),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    kept_cells = {
        r["vec_id"]
        for r in semdedup.semantic_dedup_cells(
            df, "vec_id", "embedding", threshold=0.95, bits=4
        ).collect()
    }
    assert kept_cells == {10, 20, 21}

    kept_km = {
        r["vec_id"]
        for r in semdedup.semantic_dedup_kmeans(
            df, "vec_id", "embedding", threshold=0.95, nlist=2
        ).collect()
    }
    assert kept_km == {10, 20, 21}


def test_duplicate_spans_hand_computed(spark):
    """Two docs sharing a 5-token run + one unique doc: the shared run
    yields one maximal span per doc covering exactly those tokens
    (trigrams at positions p..p+2 merge via gaps-and-islands)."""
    shared = "the quick brown fox jumps"
    rows = [
        (1, f"alpha beta {shared} gamma delta"),
        (2, f"{shared} omega psi chi phi"),
        (3, "nothing here repeats at all ever once"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_dup_grams"])
        for r in dedup.duplicate_spans(df, "text", "doc_id", n=3).collect()
    }
    # doc 1: shared tokens at 3..7 -> trigram positions 3,4,5 -> span 3..7
    # doc 2: shared tokens at 1..5 -> trigram positions 1,2,3 -> span 1..5
    assert spans == {1: (3, 7, 3), 2: (1, 5, 3)}


def test_dsir_importance_direction_and_counts(spark):
    """Docs made of target-corpus tokens score above docs of off-target
    tokens; n_tokens is the whitespace token count."""
    from processo_etl_spark.ml import selection

    rows = [
        (1, "alpha beta alpha beta alpha", True),
        (2, "alpha beta gamma alpha beta", True),
        (3, "zeta eta theta zeta eta", False),
        (4, "zeta eta theta theta zeta", False),
        (5, "alpha beta alpha beta gamma", False),  # target-like but raw
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "is_t"])
    out = {
        r["doc_id"]: (r["n_tokens"], r["importance"])
        for r in selection.importance_weights(
            df, "text", "doc_id", target=F.col("is_t"), n_buckets=64
        ).collect()
    }
    assert all(out[d][0] == 5 for d in out)
    # Target-vocabulary docs (1, 2, 5) outrank off-target docs (3, 4).
    for d_hi in (1, 2, 5):
        for d_lo in (3, 4):
            assert out[d_hi][1] > out[d_lo][1]


def test_incremental_lsh_flags_dups_and_passes_new(spark):
    """A batch doc near-identical to a corpus doc gets dup_of set to
    that corpus id; a genuinely new doc comes back NULL (safe to
    append); batch docs never match each other."""
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different corpus text about spark engines"),
        ],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog"),
            (11, "entirely novel content never seen before anywhere"),
            (12, "entirely novel content never seen before anywhere"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["dup_of"]
        for r in dedup.minhash_lsh_incremental(
            corpus, batch, "doc_id", "text", k=8, bands=2, threshold=0.5
        ).collect()
    }
    assert out == {10: 1, 11: None, 12: None}


def test_chunking_windows_hand_computed(spark):
    """Sliding windows: exact starts/lengths on a known token stream;
    short doc emits one full-copy chunk; no input row dropped."""
    from processo_etl_spark.ml import chunking

    words = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, words), (2, "solo")], ["doc_id", "text"]
    )
    out = {
        (r["doc_id"], r["chunk_id"]): r
        for r in chunking.chunk_documents(
            df, "doc_id", "text", size=4, stride=3
        ).collect()
    }
    # doc 1: 10 tokens, starts 0,3,6,9 -> lengths 4,4,4,1
    assert [out[(1, i)]["chunk_start"] for i in range(4)] == [0, 3, 6, 9]
    assert [out[(1, i)]["n_tokens"] for i in range(4)] == [4, 4, 4, 1]
    assert out[(1, 0)]["chunk_text"] == "w0 w1 w2 w3"
    assert out[(1, 3)]["chunk_text"] == "w9"
    # doc 2: single token -> exactly one chunk, the whole text
    assert {(d, c) for (d, c) in out if d == 2} == {(2, 0)}
    assert out[(2, 0)]["chunk_text"] == "solo"


def test_cluster_representatives_keeps_best_and_singletons(spark):
    """Keep-one dedup: winner by score desc then min id; docs outside
    every pair survive as their own singleton cluster."""
    from processo_etl_spark.ml import dedup

    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 7)], ["doc_id", "score"]
    )
    # 1-2-3 form one component (via 1-2 and 2-3); 4 untouched.
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.9)], ["id_a", "id_b", "jaccard"]
    )
    rows = dedup.cluster_representatives(docs, pairs, "doc_id", "score").collect()
    kept = {r["doc_id"]: r["kept"] for r in rows}
    cluster = {r["doc_id"]: r["cluster"] for r in rows}
    # score tie 2 vs 3 -> min id 2 wins; singleton 4 kept.
    assert kept == {1: False, 2: True, 3: False, 4: True}
    assert cluster == {1: 1, 2: 1, 3: 1, 4: 4}


def test_cluster_representatives_refuses_a_caller_cluster_column(spark):
    from processo_etl_spark.ml import dedup

    docs = spark.createDataFrame(
        [(1, 10, 7), (2, 30, 7)], ["doc_id", "score", "cluster"]
    )
    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    with pytest.raises(ValueError, match="'cluster'"):
        dedup.cluster_representatives(docs, pairs, "doc_id", "score")


def test_hard_negatives_exclude_anchor_label(spark):
    """Hard-negative mining returns nearest DIFFERENT-label vectors:
    a same-label near-twin is skipped in favor of the best cross-label
    candidate, and every emitted neighbor disagrees with its anchor."""
    from processo_etl_spark.ml import similarity

    # All four share the sign pattern (+,-,+,-) so sign-LSH puts them in
    # one bucket and the test isolates the label-exclusion logic.
    rows = [
        (0, [1.0, -1.0, 1.0, -1.0], "a"),  # anchor
        (1, [0.9, -0.9, 1.1, -1.2], "a"),  # same-label twin: excluded
        (2, [0.8, -0.7, 0.9, -1.5], "b"),  # best valid negative
        (3, [0.1, -2.0, 0.5, -0.1], "b"),  # weaker negative
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = similarity.lsh_topk(
        emb,
        emb.filter("vec_id = 0"),
        k=2,
        bits=4,
        probes=1,
        exclude_equal="label",
    ).collect()
    assert [r["neighbor_id"] for r in out] == [2, 3]
    assert all(r["neighbor_label"] == "b" for r in out)


def test_label_centroids_hand_computed(spark):
    """Element-wise per-label mean, floor-pinned at 9 decimals."""
    from processo_etl_spark.ml import embeddings as E

    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0], "a"),
            (2, [3.0, 6.0], "a"),
            (3, [10.0, -10.0], "b"),
        ],
        ["vec_id", "embedding", "label"],
    )
    out = {
        (r["label"], r["dim"]): (r["n_vecs"], r["centroid"])
        for r in E.label_centroids(df).collect()
    }
    assert out == {
        ("a", 0): (2, 2.0),
        ("a", 1): (2, 4.0),
        ("b", 0): (1, 10.0),
        ("b", 1): (1, -10.0),
    }


def test_excise_spans_hand_computed(spark):
    """Excision removes exactly the tokens covered by shared trigrams;
    untouched docs pass through whole."""
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta unique1 tail1"),
            (2, "alpha beta gamma delta unique2 tail2"),
            (3, "totally different words here now ok"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in dedup.excise_duplicate_spans(df, "text", "doc_id").collect()
    }
    # Shared grams start at pos 1 and 2 -> covered positions 1..4.
    assert out[1]["clean_text"] == "unique1 tail1"
    assert out[1]["n_tokens_kept"] == 2 and out[1]["n_tokens_removed"] == 4
    assert out[2]["clean_text"] == "unique2 tail2"
    assert out[3]["clean_text"] == "totally different words here now ok"
    assert out[3]["n_tokens_removed"] == 0


def test_excise_spans_reads_precomputed_tokens(spark):
    """With ``toks_col`` the kept-token array reads the precomputed
    tokens too, so the plan never splits the text, and the output
    equals the tokenize-from-text run."""
    texts = [
        (1, "alpha beta gamma delta unique1 tail1"),
        (2, "alpha beta gamma delta unique2 tail2"),
        (3, "totally different words here now ok"),
        (4, None),
    ]
    df = spark.createDataFrame(
        [(i, t, t.split(" ") if t is not None else None) for i, t in texts],
        "doc_id long, text string, toks array<string>",
    )
    pre = dedup.excise_duplicate_spans(df, "text", "doc_id", toks_col="toks")
    assert "split(" not in pre._jdf.queryExecution().optimizedPlan().toString()
    raw = dedup.excise_duplicate_spans(df, "text", "doc_id")
    assert sorted(pre.collect()) == sorted(raw.collect())


def test_mixture_token_plan_invariants(spark):
    """Weights sum to 1, targets fill the budget (to floor rounding),
    and temperature flattens: smaller sources get > proportional share."""
    from processo_etl_spark.ml import splits

    df = spark.createDataFrame(
        [("a", 100), ("b", 400)], ["source", "toks"]
    )
    rows = {
        r["source"]: r
        for r in splits.mixture_token_plan(
            df, "source", F.col("toks"), budget=1000
        ).collect()
    }
    assert abs(sum(r["weight"] for r in rows.values()) - 1.0) < 1e-12
    got = sum(r["target_tokens"] for r in rows.values())
    assert 998 <= got <= 1000
    # sqrt weighting: a has 1/5 of tokens but sqrt share 10/30 = 1/3.
    assert abs(rows["a"]["weight"] - 1 / 3) < 1e-12
    assert rows["a"]["epochs"] > rows["b"]["epochs"]


def test_hashed_bow_dense_assembly(spark):
    """Dense array sums to the token count; same token maps to the same
    bucket across docs; width is the requested dim."""
    df = spark.createDataFrame(
        [(1, "spark spark hadoop"), (2, "spark flink")], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r["features"]
        for r in textstats.hashed_bow_features(df, "text", "doc_id", dim=16).collect()
    }
    assert all(len(v) == 16 for v in out.values())
    assert sum(out[1]) == 3 and sum(out[2]) == 2
    spark_bucket = [i for i, c in enumerate(out[1]) if c == 2]  # 'spark' twice
    assert len(spark_bucket) == 1
    assert out[2][spark_bucket[0]] >= 1  # same token, same bucket in doc 2


def test_leakage_safe_split_keeps_clusters_together(spark):
    """All members of a near-dup cluster receive the same split label."""
    from processo_etl_spark import plans

    rows = plans.all_queries()["split_leakage_safe"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], set()).add(r["split"])
    multi = {c: s for c, s in by_cluster.items() if len(s) > 1}
    assert not multi
    assert any(len([r for r in rows if r["cluster"] == c]) > 1 for c in by_cluster)


def test_duplicate_spans_merge_near_but_nonadjacent_starts(spark):
    """Dup-gram starts within n of each other cover overlapping token
    ranges and must merge into ONE span (regression: the old
    pos - row_number islands emitted overlapping spans (1,3) and (3,5)
    here, double-counting token 3)."""
    rows = [
        (1, "a b c d e"),        # 'a b c' shared with 2, 'c d e' with 3
        (2, "a b c x y z"),
        (3, "q w c d e"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = {}
    for r in dedup.duplicate_spans(df, "text", "doc_id", n=3).collect():
        spans.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"], r["n_dup_grams"])
        )
    assert spans[1] == [(1, 5, 2)]
    assert spans[2] == [(1, 3, 1)]
    assert spans[3] == [(3, 5, 1)]


def test_chunking_null_text_degenerates_cleanly(spark):
    """NULL text folds into the empty-string single chunk instead of
    size(NULL) = -1 poisoning the counts."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from processo_etl_spark.ml import chunking

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    df = spark.createDataFrame([(1, None), (2, "a b")], schema)
    out = {
        (r["doc_id"], r["chunk_id"]): r
        for r in chunking.chunk_documents(df, "doc_id", "text", 4, 4).collect()
    }
    assert set(out) == {(1, 0), (2, 0)}
    assert out[(1, 0)]["n_tokens"] == 1 and out[(1, 0)]["chunk_text"] == ""


def test_hard_negatives_null_label_is_distinct(spark):
    """NULL-labeled rows act as their own label: kept against a labeled
    anchor, dropped against another NULL."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StringType, StructField, StructType,
    )

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
        StructField("label", StringType()),
    ])
    rows = [
        (0, [1.0, -1.0, 1.0, -1.0], "a"),
        (1, [0.9, -0.9, 1.1, -1.2], None),   # unlabeled: valid negative
        (2, [0.8, -0.7, 0.9, -1.5], "a"),    # same label: excluded
    ]
    emb = spark.createDataFrame(rows, schema)
    out = similarity.lsh_topk(
        emb, emb.filter("vec_id = 0"), k=3, bits=4, probes=1,
        exclude_equal="label",
    ).collect()
    assert [r["neighbor_id"] for r in out] == [1]
    # NULL anchor vs NULL candidate agree -> dropped.
    out2 = similarity.lsh_topk(
        emb.withColumn("label", F.lit(None).cast("string")),
        emb.filter("vec_id = 0").withColumn("label", F.lit(None).cast("string")),
        k=3, bits=4, probes=1, exclude_equal="label",
    ).collect()
    assert out2 == []


def test_pq_encode_shape_determinism_and_reconstruction(spark):
    """PQ codes: m tinyints in [0, ksub); deterministic under the seeded
    trainer; reconstruction beats the trivial zero-vector baseline
    (i.e., the codebooks carry real signal, mean err < 1.0 on unit
    vectors)."""
    from processo_etl_spark import catalog
    from processo_etl_spark.ml import pq

    emb = catalog.load(spark, "/root/testdata/sf0.001", "embeddings")
    books = pq.train_pq_codebooks(emb, m=16, ksub=16)
    assert len(books) == 16 and len(books[0]) == 16 and len(books[0][0]) == 4
    books2 = pq.train_pq_codebooks(emb, m=16, ksub=16)
    assert books == books2  # seeded numpy trainer is deterministic

    rows = pq.pq_encode(emb, books).select("vec_id", "embedding", "codes").collect()
    import numpy as np

    codes = np.array([r["codes"] for r in rows])
    assert codes.shape[1] == 16 and codes.min() >= 0 and codes.max() < 16
    # mean squared reconstruction error on the normalized vectors must
    # beat the zero-code baseline (‖v̂‖²=1): codebooks explain variance.
    # (numpy on the collected rows: the Spark-side decode path is
    # pq_reconstruct, exercised for one row below.)
    v = np.array([r["embedding"] for r in rows], dtype="float64")
    v /= np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-12)
    b = np.array(books)  # (m, ksub, dsub)
    recon = np.concatenate(
        [b[s][codes[:, s]] for s in range(16)], axis=1
    )
    err = ((v - recon) ** 2).sum(axis=1).mean()
    assert err < 1.0
    # Spark-side decode agrees with the numpy decode on a sample row.
    one = (
        pq.pq_encode(emb.filter(F.col("vec_id") == rows[0]["vec_id"]), books)
        .select(pq.pq_reconstruct(F.col("codes"), books).alias("r"))
        .collect()[0]["r"]
    )
    assert np.allclose(one, recon[0], atol=1e-12)


def test_ivfpq_rerank_recall_floor(spark):
    """The registered IVF-PQ config (m=16 ksub=16 nprobe=4 rerank=50)
    must hold its recall floor — the same deterministic number the
    self-validating query gates on (0.875 at sf0.001)."""
    from processo_etl_spark import catalog
    from processo_etl_spark.ml import pq

    emb = catalog.load(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    books = pq.train_pq_codebooks(emb, m=16, ksub=16)
    centers = similarity.train_ivf_centroids(emb, nlist=8)
    got_rows = pq.ivfpq_topk_rerank(
        emb, queries, centers, books, k=5, nprobe=4, rerank=50
    ).collect()
    assert len(got_rows) == 8 * 5
    got = {(r.query_id, r.neighbor_id) for r in got_rows}
    assert len(got & truth) / len(truth) >= 0.6


def test_cms_build_estimate_and_merge(spark):
    """CMS invariants: estimates are one-sided (>= exact) and exact for
    keys with no hash collisions at tiny N; merging two half-sketches
    equals building one sketch over the union."""
    from processo_etl_spark.ml import sketches

    rows = [(w,) for w in ["a"] * 50 + ["b"] * 30 + ["c"] * 5 + ["d"] * 1]
    df = spark.createDataFrame(rows, ["k"])
    sk = sketches.cms_build(df, "k", depth=4, width=64)
    # fixed-size summary: never more than d*w cells, at most d*|keys| here
    assert sk.count() <= 4 * 4
    items = spark.createDataFrame([("a", 50), ("b", 30), ("c", 5), ("d", 1), ("zz", 0)],
                                  ["k", "exact"])
    est = {r["k"]: r["est_cnt"] for r in
           sketches.cms_estimate(items, sk, "k", depth=4, width=64).collect()}
    for k, exact in [("a", 50), ("b", 30), ("c", 5), ("d", 1), ("zz", 0)]:
        assert est[k] >= exact  # one-sided guarantee
    assert est["a"] >= 50 and est["a"] <= 86  # <= N bound, trivially
    # merge(two halves) == build(whole): cell-wise counter addition
    s1 = sketches.cms_build(df.limit(40), "k", depth=4, width=64)
    s2 = sketches.cms_build(df.offset(40), "k", depth=4, width=64)
    merged = sketches.cms_merge(s1, s2)
    whole = sketches.cms_build(df, "k", depth=4, width=64)
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


def test_cms_build_skips_null_keys(spark):
    """A NULL key increments no cell: the sketch of ["a", NULL, "b",
    "a"] is the sketch of its non-NULL keys, every cell has a bucket,
    and a NULL key estimates as 0."""
    from processo_etl_spark.ml import sketches

    df = spark.createDataFrame([("a",), (None,), ("b",), ("a",)], "k string")
    got = sketches.cms_build(df, "k", depth=4, width=64).collect()
    want = sketches.cms_build(df.na.drop(), "k", depth=4, width=64).collect()
    assert all(r["bucket"] is not None for r in got)
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert sum(r["cnt"] for r in got) == 4 * 3
    nulls = spark.createDataFrame([(None,)], "k string")
    est = sketches.cms_estimate(
        nulls, spark.createDataFrame(got), "k", depth=4, width=64
    )
    assert [r["est_cnt"] for r in est.collect()] == [0]


def test_text_classifier_learns_separable_vocab(spark):
    """LR over hashed BoW must learn a perfectly separable vocabulary
    split (distinct token sets per class) and score unseen docs from
    the same vocabularies correctly."""
    from processo_etl_spark.ml import classifier

    pos_words, neg_words = ["good", "great", "fine"], ["bad", "awful", "poor"]
    rows = []
    for i in range(30):
        w = pos_words if i % 2 == 0 else neg_words
        rows.append((i, " ".join(w[j % 3] for j in range(i % 5 + 3))))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    label = F.col("doc_id") % 2 == 0
    model = classifier.train_text_classifier(
        df, "text", "doc_id", label, dim=32, max_iter=25
    )
    unseen = spark.createDataFrame(
        [(100, "good great good fine"), (101, "awful bad poor bad")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in classifier.score_text_classifier(
        unseen, model, "text", "doc_id", dim=32).collect()}
    assert got[100]["pred"] == 1 and got[101]["pred"] == 0
    assert got[100]["p_positive"] > 0.5 > got[101]["p_positive"]


def test_bpe_merges_hand_computed():
    """Classic BPE on a tiny freq table: 'low'x5 + 'lower'x2 —
    the first merges must build up the shared stem, deterministically."""
    from processo_etl_spark.ml import tokenizer

    merges = tokenizer.train_bpe_merges([("low", 5), ("lower", 2)], n_merges=3)
    # pair counts round 1: (l,o)=7, (o,w)=7, (w,</w>)=5, (w,e)=2, ...
    # tie 7/7 broken lexicographically: ('l','o') < ('o','w').
    assert merges[0] == ("l", "o")
    assert merges[1] == ("lo", "w")          # now (lo,w)=7 dominates
    assert merges[2] == ("low", "</w>")      # (low,</w>)=5 beats (low,e)=2
    assert tokenizer.train_bpe_merges([("low", 5), ("lower", 2)], 3) == merges


def test_bpe_encode_roundtrip_and_greedy_rank(spark):
    from processo_etl_spark.ml import tokenizer

    merges = [("l", "o"), ("lo", "w"), ("low", "</w>")]
    ranks = {p: i for i, p in enumerate(merges)}
    assert tokenizer.encode_word("low", ranks) == ["low</w>"]
    assert tokenizer.encode_word("lower", ranks) == ["low", "e", "r", "</w>"]
    assert tokenizer.encode_word("unseen", ranks) == list("unseen") + ["</w>"]

    df = spark.createDataFrame(
        [(1, "low lower low"), (2, ""), (3, "low")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in
           tokenizer.bpe_encode(df, "text", "doc_id", merges).collect()}
    assert out[1]["n_words"] == 3
    assert out[1]["pieces"] == ["low</w>", "low", "e", "r", "</w>", "low</w>"]
    assert out[2]["n_words"] == 0 and out[2]["pieces"] == []
    assert out[3]["n_pieces"] == 1


def test_prefix_filter_jaccard_exact_vs_naive(spark):
    """Prefix filtering must return EXACTLY the naive all-pairs result
    (lossless by pigeonhole) while generating fewer candidates than
    all-pairs on the fixture."""
    df = _docs(spark)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           dedup.prefix_filter_jaccard_pairs(df, "doc_id", "text",
                                             threshold=0.5).collect()}
    # naive ground truth driver-side
    rows = df.select(
        "doc_id", F.array_distinct(dedup.word_shingles("text", 3)).alias("sh")
    ).collect()
    sets = {r["doc_id"]: set(r["sh"]) for r in rows}
    ids = sorted(sets)
    naive = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            jac = inter / (len(sets[a]) + len(sets[b]) - inter)
            if jac >= 0.5:
                naive[(a, b)] = jac
    assert set(got) == set(naive)
    for k in naive:
        assert abs(got[k] - naive[k]) < 1e-12
    assert (1, 2) in got and got[(1, 2)] == 1.0   # exact dup pair survives


def test_chi2_drift_detects_planted_shift(spark):
    from processo_etl_spark.ml import drift

    same = spark.createDataFrame(
        [(i, "alpha beta gamma delta", i % 2 == 0) for i in range(40)],
        ["i", "text", "ref"],
    )
    r = drift.chi2_token_drift(same, "text", F.col("ref"), n_buckets=64).collect()[0]
    assert r["drift_detected"] is False     # identical distributions
    assert r["n_ref"] == 20 * 4 and r["n_cand"] == 20 * 4
    assert r["chi2_micros"] == 0            # equal slices: every d_b = 0
    shifted = spark.createDataFrame(
        [(i, "alpha beta gamma delta" if i % 2 == 0 else "zz yy xx ww",
          i % 2 == 0) for i in range(40)],
        ["i", "text", "ref"],
    )
    r2 = drift.chi2_token_drift(shifted, "text", F.col("ref"), n_buckets=64).collect()[0]
    assert r2["chi2"] > r["chi2"]
    assert r2["drift_detected"] is True     # disjoint vocab = maximal drift
    # integer/float twin identity (the two must not drift apart):
    # chi2_micros is the exact
    # per-bucket-floored Sum (1e6*d^2) DIV (na*nb*rb); it trails 1e6*chi2
    # by at most 1 micro per hit bucket (+1 for the chi2 ROUND itself).
    # A broken algebraic collapse would diverge by orders of magnitude
    # while Spark and the oracle still agreed with each other.
    deficit = 1e6 * r2["chi2"] - r2["chi2_micros"]
    # lower bound −1, not 0 (floor noise may go either way): every
    # per-bucket term happens
    # to be exactly double-representable in THIS fixture, but a fixture
    # whose exact micros sit on an integer boundary could see float-
    # fold/ROUND error of ~0.5 micro push the deficit slightly negative.
    assert -1 <= deficit <= r2["n_buckets_hit"] + 1, deficit


def test_chi2_drift_overflow_guard_raises(spark):
    """The decimal(38,0) chi2_micros intermediate overflows once
    na·nb ≥ 1e16, where Spark's non-ANSI decimal arithmetic NULLs the
    product and F.sum would silently drop the bucket.  The
    runtime guard must raise instead — exercised via a tiny threshold
    (the real 1e16 default needs ~1e8 tokens/slice)."""
    import pytest as _pytest

    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from processo_etl_spark.ml import drift

    df = spark.createDataFrame(
        [(i, "alpha beta gamma delta", i % 2 == 0) for i in range(40)],
        ["i", "text", "ref"],
    )
    with _pytest.raises(SparkRuntimeException, match="magnitude guard"):
        drift.chi2_token_drift(
            df, "text", F.col("ref"), n_buckets=64, overflow_guard=1.0
        ).collect()
    # default guard: same data runs clean (na*nb = 80*80 << 1e16)
    ok = drift.chi2_token_drift(df, "text", F.col("ref"), n_buckets=64)
    assert ok.first()["chi2_micros"] == 0


def test_pca_project_reduces_dim_and_preserves_neighbors(spark):
    """PCA to k=16: output dim, contraction invariant, and a planted
    exact-duplicate pair stays nearest in the projected space."""
    from processo_etl_spark import catalog
    from processo_etl_spark.ml import embeddings as emb_ops

    emb = catalog.load(spark, "/root/testdata/sf0.001", "embeddings")
    # plant an exact duplicate of vec 0 under a fresh id
    dup = emb.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    full = emb.unionByName(dup)
    projected, ev = emb_ops.pca_project(full, "embedding", "vec_id", k=16)
    rows = projected.collect()
    assert all(len(r["pca"]) == 16 for r in rows)
    assert 0.0 < sum(ev) <= 1.0 + 1e-9
    by_id = {r["vec_id"]: r["pca"] for r in rows}
    import numpy as np

    a, b = np.array(by_id[0]), np.array(by_id[100000])
    assert np.allclose(a, b, atol=1e-9)   # identical inputs project identically


def test_pagerank_hand_graphs(spark):
    from processo_etl_spark.operators import graph

    # symmetric 2-cycle: stationary = (0.5, 0.5) at any damping
    r = graph.pagerank_from_edges(["a", "b"], [("a", "b", 1), ("b", "a", 1)])
    assert abs(r["a"] - 0.5) < 1e-12 and abs(r["b"] - 0.5) < 1e-12
    # hub: everything points at 'c'; c must outrank the spokes, and the
    # dangling redistribution keeps total mass == 1
    r2 = graph.pagerank_from_edges(
        ["a", "b", "c"], [("a", "c", 1), ("b", "c", 1)]
    )
    assert r2["c"] > r2["a"] == r2["b"]
    assert abs(sum(r2.values()) - 1.0) < 1e-9
    # end-to-end over a toy event log: 'stop' only receives, never emits
    ev = spark.createDataFrame(
        [(i, i, 1, "go" if i % 2 == 0 else "stop") for i in range(10)],
        ["event_id", "ts", "user_id", "event_type"],
    )
    out = {r["event_type"]: r["pagerank"]
           for r in graph.event_type_pagerank(ev).collect()}
    assert set(out) == {"go", "stop"}
    assert abs(sum(out.values()) - 1.0) < 1e-9


def test_pagerank_distributed_matches_driver_twin(spark):
    """The Pregel loop and the driver power method are the SAME math
    (exact integer sums, identical bracketing): bit-equal ranks on a
    skewed graph with dangling nodes."""
    from processo_etl_spark.operators import graph

    # hub-and-chain with dangling leaves and a weighted edge
    es = [
        ("a", "b", 1), ("a", "c", 2), ("b", "c", 1), ("c", "d", 1),
        ("d", "a", 1), ("c", "e", 3), ("b", "f", 1),
    ]
    nodes = sorted({s for s, _, _ in es} | {d for _, d, _ in es})
    ref = graph.pagerank_from_edges(nodes, es, 0.85, 7)
    edf = spark.createDataFrame(es, ["src", "dst", "w"])
    dist = {
        r["node"]: r["pagerank"]
        for r in graph.pagerank_distributed(edf, 0.85, 7).collect()
    }
    assert dist == ref  # bit-for-bit, not approx
    assert abs(sum(dist.values()) - 1.0) < 1e-9


def test_pagerank_distributed_no_dangling_node_keeps_every_rank(spark):
    """A sum of longs over an empty set is NULL: on a graph with no
    dangling node the dangling-mass scalar must coalesce to 0.0 in both
    layouts instead of propagating NULL through every rank update."""
    from processo_etl_spark.operators import graph

    # strongly-connected triangle + chord: every node has out-edges
    es = [("a", "b", 1), ("b", "c", 1), ("c", "a", 1), ("a", "c", 1)]
    edf = spark.createDataFrame(es, ["src", "dst", "w"])
    bcast = {
        r["node"]: r["pagerank"]
        for r in graph.pagerank_distributed(edf, 0.85, 5).collect()
    }
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        shuf = {
            r["node"]: r["pagerank"]
            for r in graph.pagerank_distributed(edf, 0.85, 5).collect()
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert set(bcast) == {"a", "b", "c"}
    assert all(v is not None and v > 0.0 for v in bcast.values())
    assert abs(sum(bcast.values()) - 1.0) < 1e-9
    assert bcast == shuf == graph.pagerank_from_edges(["a", "b", "c"], es, 0.85, 5)


def test_pagerank_from_edges_rejects_a_negative_weight():
    """A negative weight would give negative ranks (c = -0.394 here)
    and break the exact combine's 2^53 bound: it raises, naming it."""
    from processo_etl_spark.operators import graph

    es = [("a", "b", 2), ("a", "c", -1), ("b", "a", 1), ("c", "a", 1)]
    with pytest.raises(ValueError, match="weight -1 is negative"):
        graph.pagerank_from_edges(["a", "b", "c"], es)


def test_pagerank_distributed_rejects_a_negative_weight(spark):
    """The distributed path raises the same error, found by the
    node-count action it already runs; NULL weights stay dangling."""
    from processo_etl_spark.operators import graph

    es = [("a", "b", 2), ("a", "c", -1), ("b", "a", 1), ("c", "a", 1)]
    edf = spark.createDataFrame(es, "src string, dst string, w long")
    with pytest.raises(ValueError, match="weight -1 is negative"):
        graph.pagerank_distributed(edf, 0.85, 3)
    nulls = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", None)], "src string, dst string, w long"
    )
    ranks = {
        r["node"]: r["pagerank"]
        for r in graph.pagerank_distributed(nulls, 0.85, 3).collect()
    }
    assert set(ranks) == {"a", "b", "c"}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9


def test_shared_corpus_relation_caches_and_matches(spark):
    """plans/common.corpus returns ONE persisted relation per
    (session, sf_dir) — same object on repeat calls — whose toks column
    equals the inline tokens_ws derivation bit-for-bit."""
    from processo_etl_spark.ml.dedup import tokens_ws
    from processo_etl_spark.plans import common

    sf = "/root/testdata/sf0.001"
    c1 = common.corpus(spark, sf)
    c2 = common.corpus(spark, sf)
    assert c1 is c2  # cached: tokenize-once per session+sf_dir
    inline = (
        common.t(spark, sf, "documents")
        .select("doc_id", tokens_ws("text").alias("toks"))
    )
    shared = c1.select("doc_id", "toks")
    assert shared.exceptAll(inline).count() == 0
    assert inline.exceptAll(shared).count() == 0


def test_semantic_contamination_planted_leak(spark):
    """A corpus vector nearly identical to an eval vector must be
    flagged; an orthogonal one must not."""
    from processo_etl_spark.ml import decontaminate

    dim = 16
    base = [1.0] + [0.0] * (dim - 1)
    near = [0.99] + [0.05] + [0.0] * (dim - 2)
    ortho = [0.0] * (dim - 1) + [1.0]
    corpus = spark.createDataFrame(
        [(1, near), (2, ortho)], ["vec_id", "embedding"]
    )
    ev = spark.createDataFrame([(100, base)], ["vec_id", "embedding"])
    out = {
        r["vec_id"]: r
        for r in decontaminate.semantic_contamination(
            corpus, ev, "vec_id", "embedding", threshold=0.9, bits=4, probes=4
        ).collect()
    }
    assert out[1]["contaminated"] and out[1]["n_matches"] == 1
    assert out[1]["max_cos"] > 0.99
    assert not out[2]["contaminated"] and out[2]["n_matches"] == 0
    assert len(out) == 2  # every corpus row present (left join)


def test_margin_bitext_mining_prefers_true_pair_over_hub(spark):
    """The planted translation pair must mine; a hub vector close to
    everything must not beat it (the margin normalizes hubness that an
    absolute cosine threshold cannot)."""
    from processo_etl_spark.ml import similarity

    d = 8
    def v(*nz):
        out = [0.0] * d
        for i, x in nz:
            out[i] = x
        return out

    left = spark.createDataFrame(
        [(1, v((0, 1.0))), (2, v((1, 1.0)))], ["vec_id", "embedding"]
    )
    right = spark.createDataFrame(
        [
            (10, v((0, 0.98), (1, 0.05))),      # true partner of 1
            (11, v((0, 0.6), (1, 0.6), (2, 0.5))),  # hub: close to both
            (12, v((1, 0.97), (0, 0.04))),      # true partner of 2
        ],
        ["vec_id", "embedding"],
    )
    got = {
        r["src_id"]: r
        for r in similarity.margin_bitext_pairs(
            left, right, "vec_id", "embedding",
            k=2, bits=4, probes=2, margin_threshold=0.0,
        ).collect()
    }
    assert got[1]["tgt_id"] == 10 and got[2]["tgt_id"] == 12
    assert got[1]["margin"] > 1.0 and got[2]["margin"] > 1.0


def _bloom_hits(items, keys, n_bits, k):
    """Probe ``items.k`` against the filter of ``keys.k`` through the one
    probe path: the one-row word relation and ``bloom_hit_expr``."""
    from processo_etl_spark.ml import bloom

    filt = bloom.bloom_words_relation(keys, "k", n_bits=n_bits, k=k)
    hit = bloom.bloom_hit_expr(F.col(bloom.WORDS_COL), F.col("k"), n_bits, k)
    return [
        r["hit"]
        for r in items.crossJoin(F.broadcast(filt)).select(hit.alias("hit")).collect()
    ]


def test_bloom_zero_false_negatives_and_merge(spark):
    from processo_etl_spark.ml import bloom

    keys = spark.createDataFrame([(f"key-{i}",) for i in range(200)], ["k"])
    filt = bloom.bloom_build(keys, "k", n_bits=1 << 12, k=4)
    # every word fits the grid and every mask is a positive 32-bit bit
    for r in filt.collect():
        assert 0 <= r["word"] < (1 << 12) // 32
        assert 0 < r["bits"] < (1 << 32)
    # zero false negatives: every inserted key must probe True
    assert all(_bloom_hits(keys, keys, 1 << 12, 4))
    # merge == build over the union (bit-for-bit)
    a = spark.createDataFrame([(f"key-{i}",) for i in range(100)], ["k"])
    b = spark.createDataFrame([(f"key-{i}",) for i in range(100, 200)], ["k"])
    merged = bloom.bloom_merge(
        bloom.bloom_build(a, "k", n_bits=1 << 12, k=4),
        bloom.bloom_build(b, "k", n_bits=1 << 12, k=4),
    )
    whole = {(r["word"], r["bits"]) for r in filt.collect()}
    assert {(r["word"], r["bits"]) for r in merged.collect()} == whole
    # absent keys mostly miss (FP rate far below 50% at this load factor)
    absent = spark.createDataFrame([(f"other-{i}",) for i in range(200)], ["k"])
    fp = sum(_bloom_hits(absent, keys, 1 << 12, 4))
    assert fp < 50


def test_bloom_build_skips_null_keys_and_null_probe_reads_false(spark):
    """A NULL key sets no bit: the filter of ["a", NULL, "b"] is the
    filter of its non-NULL keys, with no NULL word, and probing a NULL
    key reads False rather than NULL."""
    from processo_etl_spark.ml import bloom

    keys = spark.createDataFrame([("a",), (None,), ("b",)], "k string")
    got = bloom.bloom_build(keys, "k", n_bits=1 << 12, k=4).collect()
    want = bloom.bloom_build(keys.na.drop(), "k", n_bits=1 << 12, k=4).collect()
    assert all(r["word"] is not None for r in got)
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    nulls = spark.createDataFrame([(None,)], "k string")
    assert _bloom_hits(nulls, keys, 1 << 12, 4) == [False]
    assert _bloom_hits(keys.na.drop(), keys, 1 << 12, 4) == [True, True]


def test_excise_spans_fully_covered_doc_empty(spark):
    """Array-local excision: a document whose every token is covered
    by cross-document duplicated trigrams survives as an EMPTY
    clean_text row (the old token-stream plan restored it via a join;
    the array plan must keep it through the left join + array_except)."""
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha beta gamma"),
            (3, "unrelated filler words beyond reach"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in dedup.excise_duplicate_spans(df, "text", "doc_id").collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1]["clean_text"] == "" and out[1]["n_tokens_kept"] == 0
    assert out[1]["n_tokens_removed"] == 3
    assert out[3]["n_tokens_removed"] == 0


def test_bloom_contamination_null_text_row_survives(spark):
    """explode_outer rewrite: the corpus-id restore join is gone, so
    every corpus document — including a NULL-text one — must still
    surface exactly once from the per-doc aggregate alone.  (A NULL
    text shingles to the single empty-string gram via concat_ws's
    null-skipping, identical before and after the rewrite, so the
    invariant is row SURVIVAL with zero exact hits, not zero grams.)"""
    from processo_etl_spark.ml import bloom

    corpus = spark.createDataFrame(
        [(1, "shared five gram text here today ok"), (2, None)],
        ["doc_id", "text"],
    )
    eval_set = spark.createDataFrame(
        [(100, "shared five gram text here today ok")], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r
        for r in bloom.bloom_contamination(
            corpus, eval_set, "text", "doc_id", n=5, n_bits=1 << 12, k=4
        ).collect()
    }
    assert set(out) == {1, 2}
    assert out[1]["n_exact_hits"] > 0 and out[1]["contaminated"]
    assert out[2]["n_grams"] == 1  # the "" gram of a NULL text
    assert out[2]["n_exact_hits"] == 0
    assert out[2]["contaminated"] == (out[2]["n_bloom_hits"] > 0)


def test_bloom_reserved_filter_column_keeps_caller_words(spark):
    """The one-row filter relation's column is reserved: a caller column
    named ``words`` survives the pruned join and can be the corpus id of
    bloom_contamination (a plain ``words`` filter column was ambiguous
    with it, and its ``drop`` removed the caller's column too)."""
    from processo_etl_spark.ml import bloom

    left = spark.createDataFrame(
        [(1, "a b"), (2, "c d"), (3, "e f")], ["k", "words"]
    )
    right = spark.createDataFrame([(1, "x"), (3, "y")], ["rk", "v"])
    out = bloom.join_bloom_pruned(left, right, "k", "rk", n_bits=1 << 12, k=4)
    assert out.columns == ["k", "words", "rk", "v"]
    assert sorted((r["k"], r["words"], r["v"]) for r in out.collect()) == [
        (1, "a b", "x"), (3, "e f", "y"),
    ]

    corpus = spark.createDataFrame(
        [(1, "shared five gram text here today ok"), (2, "nothing in common")],
        ["words", "text"],
    )
    eval_set = spark.createDataFrame(
        [(100, "shared five gram text here today ok")], ["doc_id", "text"]
    )

    def run(df, id_col):
        res = bloom.bloom_contamination(
            df, eval_set, "text", id_col, n=5, n_bits=1 << 12, k=4
        )
        return {r[id_col]: tuple(r)[1:] for r in res.collect()}

    by_words = run(corpus, "words")
    assert by_words == run(corpus.withColumnRenamed("words", "doc_id"), "doc_id")
    assert by_words[1][-1] and set(by_words) == {1, 2}


def test_pagerank_broadcast_and_shuffle_modes_bitequal(spark):
    """Vertex-mirroring dispatch: the broadcast-mode superstep
    (rank vector mirrored to dst-partitioned edges, zero shuffle) and
    the shuffle-mode superstep (src-partitioned edges) must produce
    BIT-IDENTICAL ranks — the exact integer combine is
    order-insensitive, so mode choice may never change output."""
    from processo_etl_spark.operators import graph

    es = [
        ("a", "b", 1), ("a", "c", 2), ("b", "c", 1), ("c", "d", 1),
        ("d", "a", 1), ("c", "e", 3), ("b", "f", 1),
    ]
    edf = spark.createDataFrame(es, ["src", "dst", "w"])
    bcast = {
        r["node"]: r["pagerank"]
        for r in graph.pagerank_distributed(edf, 0.85, 5).collect()
    }
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        shuf = {
            r["node"]: r["pagerank"]
            for r in graph.pagerank_distributed(edf, 0.85, 5).collect()
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert bcast == shuf  # bit-for-bit, not approx
    assert abs(sum(bcast.values()) - 1.0) < 1e-9


def test_pagerank_zero_out_weight_node_is_dangling(spark):
    """A node whose out-weights sum to 0 is dangling, like a sink: no
    ANSI DIVIDE_BY_ZERO, ranks sum to 1, broadcast ≡ shuffle bit for
    bit, and ``pagerank_from_edges`` agrees with both."""
    from processo_etl_spark.operators import graph

    # 'c' has two out-edges, both of weight 0
    es = [
        ("a", "b", 1), ("b", "c", 2), ("a", "c", 1),
        ("c", "a", 0), ("c", "b", 0),
    ]
    edf = spark.createDataFrame(es, "src string, dst string, w long")
    bcast = {
        r["node"]: r["pagerank"]
        for r in graph.pagerank_distributed(edf, 0.85, 5).collect()
    }
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        shuf = {
            r["node"]: r["pagerank"]
            for r in graph.pagerank_distributed(edf, 0.85, 5).collect()
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert bcast == shuf  # bit-for-bit, not approx
    assert set(bcast) == {"a", "b", "c"}
    assert abs(sum(bcast.values()) - 1.0) < 1e-9
    assert graph.pagerank_from_edges(["a", "b", "c"], es, 0.85, 5) == bcast
    # same ranks as the graph where 'c' simply has no out-edges
    sink = [e for e in es if e[0] != "c"]
    assert graph.pagerank_from_edges(["a", "b", "c"], sink, 0.85, 5) == bcast


def test_bloom_contamination_bounds_exact(spark):
    from processo_etl_spark.ml import bloom

    corpus = _docs(spark)
    eval_set = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog today", "en")],
        ["doc_id", "text", "lang"],
    )
    out = {
        r["doc_id"]: r
        for r in bloom.bloom_contamination(
            corpus, eval_set, "text", "doc_id", n=5, n_bits=1 << 12, k=4
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    for r in out.values():
        assert r["n_bloom_hits"] >= r["n_exact_hits"]  # no false negatives
        assert r["n_grams"] >= r["n_bloom_hits"]
        assert r["contaminated"] == (r["n_bloom_hits"] > 0)
    # docs 1/2 share 5-grams with the eval doc; doc 4 (Spanish) shares none
    assert out[1]["n_exact_hits"] > 0 and out[2]["n_exact_hits"] > 0
    assert out[4]["n_exact_hits"] == 0


def test_unimax_water_filling_hand_computed(spark):
    from processo_etl_spark.ml import splits

    # tokens: a=100, b=1000, c=10000; caps (2 epochs): 200, 2000, 20000
    rows = [("a",)] * 1 + [("b",)] * 10 + [("c",)] * 100
    df = spark.createDataFrame(
        [(s, i, 100 * (1 if s == "a" else 1)) for i, (s,) in enumerate(rows)],
        ["src", "i", "toks"],
    )
    out = {
        r["source"]: r
        for r in splits.unimax_token_plan(
            df, "src", F.col("toks"), budget=5000, max_epochs=2
        ).collect()
    }
    # greedy: R=3, t1=5000/3=1666.67 ≥ 200 → a capped (200);
    # t2=(5000-200)/2=2400 ≥ 2000 → b capped; θ=(5000-2200)/1=2800 → c=2800
    assert out["a"]["alloc_tokens"] == 200.0 and out["a"]["capped"]
    assert out["b"]["alloc_tokens"] == 2000.0 and out["b"]["capped"]
    assert out["c"]["alloc_tokens"] == 2800.0 and not out["c"]["capped"]
    assert abs(out["c"]["epochs"] - 0.28) < 1e-12
    total = sum(r["alloc_tokens"] for r in out.values())
    assert total == 5000.0                       # budget exactly spent
    # budget above total capacity: everyone caps, leftover unspent
    out2 = {
        r["source"]: r
        for r in splits.unimax_token_plan(
            df, "src", F.col("toks"), budget=10**9, max_epochs=2
        ).collect()
    }
    assert all(r["capped"] for r in out2.values())
    assert sum(r["alloc_tokens"] for r in out2.values()) == 22200.0


def test_boilerplate_chunk_removal_drops_all_occurrences(spark):
    # chunk size 3: "cookie banner text" appears in docs 1,2 → dropped
    # from BOTH (unlike chunk_dedup, which keeps the first occurrence).
    rows = [
        (1, "cookie banner text unique alpha words here aaa"),
        (2, "cookie banner text unique beta words there bbb"),
        (3, "entirely fresh content nothing shared at all ccc"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in dedup.boilerplate_chunk_removal(
            df, "text", "doc_id", chunk_tokens=3, min_docs=2
        ).collect()
    }
    assert out[1]["n_dropped"] == 1 and out[2]["n_dropped"] == 1
    assert "cookie banner text" not in out[1]["clean_text"]
    assert "cookie banner text" not in out[2]["clean_text"]
    assert "unique alpha words" in out[1]["clean_text"]
    assert out[3]["n_dropped"] == 0
    assert out[3]["clean_text"] == rows[2][1]
    # chunk order preserved after excision
    assert out[1]["clean_text"] == "unique alpha words here aaa"


def test_fuzzy_linkage_blocks_and_resolves(spark):
    from processo_etl_spark.ml import linkage

    rows = [
        (1, "acme corp", "US"),
        (2, "acme corp.", "US"),     # dist 1 → same entity
        (3, "acme korp", "US"),      # dist 1 from #1 → transitively same
        (4, "acme corp", "DE"),      # different block: never compared
        (5, "zenith ltd", "US"),     # singleton
    ]
    df = spark.createDataFrame(rows, ["rid", "name", "country"])
    pairs = linkage.blocked_fuzzy_pairs(df, "rid", "name", ["country"], max_edit=1)
    got = {(r["id_a"], r["id_b"]): r for r in pairs.collect()}
    assert (1, 2) in got and (1, 3) in got
    assert not any(4 in p for p in got)          # cross-block pair impossible
    assert got[(1, 2)]["edit_dist"] == 1
    assert abs(got[(1, 2)]["similarity"] - (1 - 1 / 10)) < 1e-12
    resolved = {
        r["rid"]: r["entity_id"]
        for r in linkage.resolve_entities(
            df, "rid", "name", ["country"], max_edit=1
        ).collect()
    }
    assert resolved[1] == resolved[2] == resolved[3] == 1  # transitive closure
    assert resolved[4] == 4 and resolved[5] == 5           # singletons self-resolve


def test_resolve_entities_refuses_a_caller_entity_id_column(spark):
    from processo_etl_spark.ml import linkage

    df = spark.createDataFrame(
        [(1, "acme corp", "US"), (2, "acme corp.", "US")],
        ["rid", "name", "entity_id"],
    )
    with pytest.raises(ValueError, match="'entity_id'"):
        linkage.resolve_entities(df, "rid", "name", ["entity_id"], max_edit=1)


def test_join_bloom_pruned_equals_plain_join(spark):
    from processo_etl_spark.ml import bloom

    left = spark.createDataFrame(
        [(i, f"row{i}") for i in range(500)], ["lk", "payload"]
    )
    right = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(0, 500, 25)], ["rk", "attr"]
    )
    plain = left.join(right, left["lk"] == right["rk"])
    pruned = bloom.join_bloom_pruned(left, right, "lk", "rk", n_bits=1 << 12, k=4)
    assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, plain.collect()))
    # the filter really prunes: far fewer left rows survive than entered
    kept = sum(
        _bloom_hits(
            left.selectExpr("CAST(lk AS STRING) AS k"),
            right.selectExpr("CAST(rk AS STRING) AS k"),
            1 << 12,
            4,
        )
    )
    assert 20 <= kept < 100  # 20 true keys + few FPs, ≪ 500


def test_bigram_coherence_hand_computed(spark):
    rows = [
        (1, "a b c"),        # bigrams: "a b", "b c"
        (2, "a b d"),        # bigrams: "a b", "b d"
        (3, "solo"),         # <2 tokens → no output row
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in textstats.bigram_coherence_score(df, "text", "doc_id").collect()
    }
    assert set(out) == {1, 2}
    # "a b" occurs 2× corpus-wide, "b c"/"b d" once each
    assert out[1]["n_bigrams"] == 2
    assert out[1]["mean_bigram_freq"] == pytest.approx((2 + 1) / 2)
    assert out[1]["novel_frac"] == pytest.approx(0.5)   # "b c" unique to doc 1
    assert out[2]["novel_frac"] == pytest.approx(0.5)


def test_containment_catches_quote_jaccard_misses(spark):
    long = "alpha beta gamma delta epsilon zeta eta theta " * 8 + "iota kappa"
    short = "alpha beta gamma delta epsilon zeta"  # verbatim prefix quote
    df = spark.createDataFrame(
        [(1, long, "s"), (2, short, "s"), (3, "totally different words entirely", "s")],
        ["doc_id", "text", "src"],
    )
    out = dedup.ngram_containment_pairs(
        df, "doc_id", "text", block_col="src", shingle_n=3, threshold=0.8
    ).collect()
    got = {(r["id_a"], r["id_b"]): r for r in out}
    assert (1, 2) in got and len(got) == 1
    r = got[(1, 2)]
    # the SHORT side is fully contained; the long side is not; Jaccard is low
    assert r["containment_ba"] == 1.0
    assert r["containment_ab"] < 0.5
    assert r["jaccard"] < 0.5


def test_audio_pcm16_decode_hand_computed(spark):
    import struct

    # alternating +1000/-1000 → 3 zero crossings, rms=1000/32768, peak same
    wave = struct.pack("<4h", 1000, -1000, 1000, -1000)
    odd = struct.pack("<2h", 500, 300) + b"\x7f"   # trailing odd byte ignored
    rows = [(1, wave), (2, odd), (3, None), (4, b"")]
    df = spark.createDataFrame(rows, ["media_id", "payload"])
    out = {r["media_id"]: r for r in multimodal.extract_audio_features(df).collect()}
    assert out[1]["n_samples"] == 4
    assert out[1]["zero_crossings"] == 3
    assert out[1]["rms"] == pytest.approx(1000 / 32768.0)
    assert out[1]["peak"] == pytest.approx(1000 / 32768.0)
    assert out[2]["n_samples"] == 2 and out[2]["zero_crossings"] == 0
    assert out[2]["peak"] == pytest.approx(500 / 32768.0)
    for mid in (3, 4):
        assert out[mid]["n_samples"] == 0
        assert out[mid]["rms"] == 0.0 and out[mid]["peak"] == 0.0


def test_mixed_language_flags_codeswitching(spark):
    en = "the cat is in the house and it is the best of all for sure"
    es = "el perro que se come la comida en un plato de los abuelos no"
    rows = [
        (1, en + " " + en),             # pure English
        (2, en + " " + es + " " + es),  # half-and-half → mixed
        (3, "xyzzy qwerty plugh"),      # no stopwords → und
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in textstats.mixed_language_flags(
            df, "text", "doc_id", chunk_tokens=10, min_agreement=0.9
        ).collect()
    }
    assert out[1]["dominant_lang"] == "en" and not out[1]["mixed"]
    assert out[1]["agreement"] == 1.0 and out[1]["n_langs"] == 1
    assert out[2]["n_langs"] >= 2 and out[2]["mixed"]
    assert out[3]["dominant_lang"] == "und"
    # agreement is dominant-count / total chunks, in (0, 1]
    for r in out.values():
        assert 0.0 < r["agreement"] <= 1.0


def test_weighted_sample_aes_topk_and_weight_bias(spark):
    from processo_etl_spark.ml import splits

    rows = [(f"d{i}", "g1", 1.0 if i else 1e9) for i in range(30)]
    rows += [(f"e{i}", "g2", 1.0) for i in range(3)]  # group smaller than k
    rows += [("bad1", "g1", 0.0), ("bad2", "g1", None)]
    df = spark.createDataFrame(rows, "id string, grp string, w double")
    out = splits.weighted_sample_aes(df, "id", "w", "grp", k=5).collect()
    g1 = [r for r in out if r["grp"] == "g1"]
    g2 = [r for r in out if r["grp"] == "g2"]
    assert len(g1) == 5 and len(g2) == 3  # exactly k, or all when |group|<k
    assert {r["rnk"] for r in g1} == {1, 2, 3, 4, 5}
    # the 1e9-weight row ("d0") must dominate: ln(u)/1e9 ≈ 0 beats any
    # unit-weight key with overwhelming margin
    assert g1[0]["id"] == "d0" or [r for r in g1 if r["rnk"] == 1][0]["id"] == "d0"
    assert not any(r["id"].startswith("bad") for r in out)


def test_weighted_sample_aes_two_stage_equals_single_window(spark):
    from pyspark.sql import Window

    from processo_etl_spark.ml import splits
    from processo_etl_spark.ml.dedup import md5_long

    df = spark.createDataFrame(
        [(f"k{i}", f"g{i % 3}", float(1 + i % 7)) for i in range(200)],
        "id string, grp string, w double",
    )
    fast = splits.weighted_sample_aes(df, "id", "w", "grp", k=4, salt_buckets=8)
    u = (md5_long(F.concat(F.lit("aes:"), F.col("id"))) + F.lit(0.5)) / F.lit(
        float(1 << 60)
    )
    key = F.log(u) / F.col("w")
    w = Window.partitionBy("grp").orderBy(key.desc(), "id")
    ref = (
        df.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 4)
        .select("id", "grp", "rnk")
    )
    assert sorted(map(tuple, fast.select("id", "grp", "rnk").collect())) == sorted(
        map(tuple, ref.collect())
    )


def test_compression_ratio_flags_both_tails(spark):
    import os
    import zlib

    repetitive = "spam ham " * 500
    normal = (
        "The quick brown fox jumps over the lazy dog while seventeen "
        "magistrates debated compression entropy in Geneva. " * 8
    )
    high_entropy = os.urandom(4096).hex()  # hex of random bytes ≈ max entropy
    df = spark.createDataFrame(
        [(1, repetitive), (2, normal), (3, high_entropy), (4, None), (5, "")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in textstats.compression_ratio(df, "text", "doc_id").collect()
    }
    assert out[1]["ratio"] < 0.05 and not out[1]["keep"]
    assert 0.10 <= out[2]["ratio"] <= 0.95 and out[2]["keep"]
    assert out[3]["ratio"] > 0.5
    for d in (4, 5):  # NULL and empty: ratio defined as 0, fails keep
        assert out[d]["n_bytes"] == 0 and out[d]["ratio"] == 0.0
        assert not out[d]["keep"]
    # exact parity with local zlib on one row
    assert out[2]["n_compressed"] == len(zlib.compress(normal.encode(), 6))


def test_target_encode_loo_hand_computed(spark):
    from processo_etl_spark.ml import encoding

    # cat A: y = 10, 20, 30; cat B (singleton): y = 100
    df = spark.createDataFrame(
        [(1, "A", 10.0), (2, "A", 20.0), (3, "A", 30.0), (4, "B", 100.0)],
        "id long, c string, y double",
    )
    m = 2.0
    gmean = 160.0 / 4
    out = {
        r["id"]: r["target_enc"]
        for r in encoding.target_encode_loo(df, "c", "y", smoothing=m).collect()
    }
    assert out[1] == (50.0 + m * gmean) / (2 + m)  # (60-10 + m*40)/(3-1+m)
    assert out[2] == (40.0 + m * gmean) / (2 + m)
    assert out[3] == (30.0 + m * gmean) / (2 + m)
    # singleton category reduces exactly to the smoothed global mean
    assert out[4] == (0.0 + m * gmean) / (0 + m) == gmean


def test_inverted_index_phrase_query_hand_computed(spark):
    from processo_etl_spark.ml import invindex

    docs = spark.createDataFrame(
        [
            (1, "big data hash join wins"),      # one adjacency
            (2, "hash join hash join"),          # two adjacencies
            (3, "join hash"),                    # reversed → no match
            (4, "hash miss join"),               # gap → no match
        ],
        "doc_id long, text string",
    )
    postings = invindex.build_postings(docs, "doc_id", "text")
    p = {r["term"]: r for r in postings.collect()}
    assert p["hash"]["df_count"] == 4 and not p["hash"]["truncated"]
    # positions are 0-based within the normalized token stream
    assert [x["positions"] for x in p["join"]["postings"] if x["doc"] == 2] == [[1, 3]]
    out = {
        r["doc"]: r["n_phrase"]
        for r in invindex.phrase_query(postings, "hash", "join").collect()
    }
    assert out == {1: 1, 2: 2}


def test_inverted_index_posting_cap_flags_truncation(spark):
    from processo_etl_spark.ml import invindex

    docs = spark.createDataFrame(
        [(i, "the common term") for i in range(10)], "doc_id long, text string"
    )
    p = {
        r["term"]: r
        for r in invindex.build_postings(
            docs, "doc_id", "text", max_docs_per_term=3
        ).collect()
    }
    assert p["common"]["df_count"] == 10 and p["common"]["truncated"]
    assert [x["doc"] for x in p["common"]["postings"]] == [0, 1, 2]  # doc-sorted slice


def test_bm25_ranking_properties(spark):
    import math

    from processo_etl_spark.ml import invindex

    docs = spark.createDataFrame(
        [
            (1, "hash join hash join hash"),   # high tf, short
            (2, "hash " + "filler " * 40),     # one hit, long doc
            (3, "join"),                       # one hit, shortest
            (4, "nothing relevant here"),      # no hit → absent
        ],
        "doc_id long, text string",
    )
    postings = invindex.build_postings(docs, "doc_id", "text")
    out = invindex.bm25_topk(
        docs, postings, "doc_id", "text", ["hash", "join"], k=10
    ).collect()
    by_doc = {r["doc"]: r for r in out}
    assert 4 not in by_doc
    assert by_doc[1]["n_terms_hit"] == 2
    # doc 1 hits both terms with high tf and short length → top rank
    assert out[0]["doc"] == 1
    # length normalization: doc 3's single 'join' in a 1-token doc must
    # outscore doc 2's single 'hash' diluted in 41 tokens (equal idf by
    # symmetry: df=2 for both terms)
    assert by_doc[3]["score"] > by_doc[2]["score"]
    # hand-check doc 3: idf = ln((4-2+0.5)/(2+0.5)+1), tf=1, len=1
    n, df, k1, b, avglen = 4, 2, 1.2, 0.75, (5 + 41 + 1 + 3) / 4
    idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
    want = idf * 1 * 2.2 / (1 + k1 * (0.25 + b * 1 / avglen))
    assert abs(by_doc[3]["score"] - want) < 1e-9


def test_merge_postings_equals_full_rebuild(spark):
    from processo_etl_spark.ml import invindex

    rows = [(i, f"hash join doc{i} " + ("scan " * (i % 3))) for i in range(20)]
    full = spark.createDataFrame(rows, "doc_id long, text string")
    a = full.filter(F.col("doc_id") < 12)
    b = full.filter(F.col("doc_id") >= 12)
    merged = invindex.merge_postings(
        invindex.build_postings(a, "doc_id", "text"),
        invindex.build_postings(b, "doc_id", "text"),
    )
    rebuilt = invindex.build_postings(full, "doc_id", "text")
    as_map = lambda df: {  # noqa: E731
        r["term"]: (r["df_count"], [(x["doc"], list(x["positions"])) for x in r["postings"]], r["truncated"])
        for r in df.collect()
    }
    assert as_map(merged) == as_map(rebuilt)
    # and the cap stays truthful post-merge
    capped = invindex.merge_postings(
        invindex.build_postings(a, "doc_id", "text", max_docs_per_term=5),
        invindex.build_postings(b, "doc_id", "text", max_docs_per_term=5),
        max_docs_per_term=5,
    )
    h = {r["term"]: r for r in capped.collect()}["hash"]
    assert h["df_count"] == 20 and h["truncated"] and len(h["postings"]) == 5


def test_image_dhash_exact_and_resized(spark):
    """dHash bit order matches the documented spec on the 8x8 exact
    path, and a 16x16 upscale of the same pattern box-averages back to
    an identical hash (2x2 blocks of a per-cell-constant upscale
    average to the original pixels)."""
    from processo_etl_spark.ml import png

    px8 = bytes((r * 7 + c * 13) % 256 for r in range(8) for c in range(8))
    exp = 0
    for r in range(8):
        for c in range(7):
            if px8[r * 8 + c + 1] > px8[r * 8 + c]:
                exp |= 1 << (r * 7 + c)
    px16 = bytes(
        px8[(r // 2) * 8 + (c // 2)] for r in range(16) for c in range(16)
    )
    media = spark.createDataFrame(
        [
            (1, "image/png", bytearray(png.encode_gray(px8, 8, 8)), 8, 8),
            (2, "image/png", bytearray(png.encode_gray(px16, 16, 16)), 16, 16),
            (3, "image/png", None, None, None),  # NULL payload -> NULL hash
            (4, "text/plain", bytearray(b"not a png"), None, None),  # stub grid
        ],
        schema=multimodal.MEDIA_SCHEMA,
    )
    rows = {
        r["media_id"]: r["dhash"]
        for r in multimodal.image_dhash(media).collect()
    }
    assert rows[1] == exp
    assert rows[2] == exp
    assert rows[3] is None
    b = b"not a png"
    stub_exp = 0
    for r in range(8):
        for c in range(7):
            if b[(r * 8 + c + 1) % len(b)] > b[(r * 8 + c) % len(b)]:
                stub_exp |= 1 << (r * 7 + c)
    assert rows[4] == stub_exp


def test_phash_variant_corpus_separation(spark):
    """The synthesized near-dup PNG corpus separates as documented:
    within-group dHash Hamming <= 2, cross-group >= 7 — so the plan's
    Hamming-4 banded cut returns exactly the true variant pairs, with
    recall verified against the all-pairs truth."""
    media = multimodal.synthesize_png_variants(spark, n_groups=8, variants=3)
    sigs = {
        r["media_id"]: r["dhash"]
        for r in multimodal.image_dhash(media).collect()
    }
    assert len(sigs) == 24 and all(v is not None for v in sigs.values())
    import itertools

    for a, b in itertools.combinations(sorted(sigs), 2):
        h = bin(sigs[a] ^ sigs[b]).count("1")
        if a // 3 == b // 3:
            assert h <= 2, (a, b, h)
        else:
            assert h >= 7, (a, b, h)
    sig_df = (
        multimodal.image_dhash(media)
        .select(F.col("media_id").alias("doc"), F.col("dhash").alias("sig"))
        .persist()
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.banded_hamming_pairs(
            sig_df, sig_bits=56, max_hamming=4
        ).collect()
    }
    sig_df.unpersist()
    truth = {
        (a, b)
        for a, b in itertools.combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 4
    }
    assert got == truth and len(got) == 8 * 3


def test_audio_fingerprint_spec(spark):
    """Fingerprint bits match the documented integer frame-energy-delta
    spec; NULL payloads yield NULL; short payloads zero-fill the frame
    grid (trailing zero-energy frames compare deterministically)."""
    import struct

    frames, flen = 5, 4
    samples = [100, -200, 3, 4, 5000, -5000, 1, 2, 7, 7, 7, 7]  # 3 of 5 frames
    payload = struct.pack(f"<{len(samples)}h", *samples)
    media = spark.createDataFrame(
        [
            (1, "audio/pcm16", bytearray(payload), None, None),
            (2, "audio/pcm16", None, None, None),
        ],
        schema=multimodal.MEDIA_SCHEMA,
    )
    rows = {
        r["media_id"]: r["afp"]
        for r in multimodal.audio_fingerprint(
            media, frames=frames, frame_len=flen
        ).collect()
    }
    padded = samples + [0] * (frames * flen - len(samples))
    e = [
        sum(s * s for s in padded[i * flen : (i + 1) * flen])
        for i in range(frames)
    ]
    exp = 0
    for i in range(frames - 1):
        if e[i + 1] > e[i]:
            exp |= 1 << i
    assert rows[1] == exp
    assert rows[2] is None


def test_pcm_variant_corpus_separation(spark):
    """The synthesized PCM near-dup corpus separates as documented
    (within-group Hamming <= 4, cross-group >= 11) and the Hamming-5
    banded cut returns exactly the all-pairs truth."""
    import itertools

    media = multimodal.synthesize_pcm_variants(spark, n_groups=8, variants=3)
    sigs = {
        r["media_id"]: r["afp"]
        for r in multimodal.audio_fingerprint(media).collect()
    }
    assert len(sigs) == 24 and all(v is not None for v in sigs.values())
    for a, b in itertools.combinations(sorted(sigs), 2):
        h = bin(sigs[a] ^ sigs[b]).count("1")
        if a // 3 == b // 3:
            assert h <= 4, (a, b, h)
        else:
            assert h >= 11, (a, b, h)
    sig_df = (
        multimodal.audio_fingerprint(media)
        .select(F.col("media_id").alias("doc"), F.col("afp").alias("sig"))
        .persist()
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.banded_hamming_pairs(
            sig_df, sig_bits=56, max_hamming=5
        ).collect()
    }
    sig_df.unpersist()
    truth = {
        (a, b)
        for a, b in itertools.combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 5
    }
    assert got == truth and len(got) == 8 * 3


def test_resize_images_box_floor_and_passthrough(spark):
    """resize_images floor-box-averages PNGs (every output pixel is the
    integer mean of its source block), is a no-op re-emit at the target
    size, and passes non-PNG / NULL payloads through untouched."""
    from processo_etl_spark.ml import png

    px16 = bytes((k * 7 + 3) % 256 for k in range(256))
    px8 = bytes(range(0, 256, 4))
    media = spark.createDataFrame(
        [
            (1, "image/png", bytearray(png.encode_gray(px16, 16, 16)), 16, 16),
            (2, "image/png", bytearray(png.encode_gray(px8, 8, 8)), 8, 8),
            (3, "text/plain", bytearray(b"opaque"), None, None),
            (4, "image/png", None, None, None),
        ],
        schema=multimodal.MEDIA_SCHEMA,
    )
    rows = {
        r["media_id"]: r
        for r in multimodal.resize_images(media, 8, 8).collect()
    }
    w1, h1, out1 = png.decode_gray(bytes(rows[1]["payload"]))
    assert (w1, h1) == (8, 8) == (rows[1]["width"], rows[1]["height"])
    for r in range(8):
        for c in range(8):
            block = [
                px16[(2 * r + dr) * 16 + (2 * c + dc)]
                for dr in (0, 1)
                for dc in (0, 1)
            ]
            assert out1[r * 8 + c] == sum(block) // 4
    assert bytes(rows[2]["payload"]) == png.encode_gray(px8, 8, 8)
    assert bytes(rows[3]["payload"]) == b"opaque"
    assert rows[3]["width"] is None
    assert rows[4]["payload"] is None


def test_decode_pixels_roundtrip_and_skip(spark):
    """decode_pixels emits exactly one row per pixel with the encoded
    values, and silently skips undecodable payloads."""
    from processo_etl_spark.ml import png

    px = bytes((k * 11) % 256 for k in range(12))
    media = spark.createDataFrame(
        [
            (7, "image/png", bytearray(png.encode_gray(px, 4, 3)), 4, 3),
            (8, "text/plain", bytearray(b"junk"), None, None),
        ],
        schema=multimodal.MEDIA_SCHEMA,
    )
    rows = multimodal.decode_pixels(media).collect()
    assert {r["media_id"] for r in rows} == {7}
    got = {(r["r"], r["c"]): r["v"] for r in rows}
    assert len(got) == 12
    for r in range(3):
        for c in range(4):
            assert got[(r, c)] == px[r * 4 + c]


def test_keyframe_detect_spec(spark):
    """Keyframe rules: frame 0 is always a keyframe with NULL energy,
    energies are exact |delta| sums vs the previous frame, a trailing
    partial frame is ignored, and NULL/short payloads emit nothing."""
    fb = 4
    frames = [
        [10, 20, 30, 40],
        [10, 20, 30, 41],   # diff 1
        [200, 20, 30, 41],  # diff 190
        [0, 0, 0, 0],       # diff 200+20+30+41 = 291
    ]
    payload = bytes(b for f in frames for b in f) + b"\x07\x07"  # partial tail
    media = spark.createDataFrame(
        [
            (1, "video/raw", bytearray(payload), None, None),
            (2, "video/raw", None, None, None),
            (3, "video/raw", bytearray(b"\x01"), None, None),  # < one frame
        ],
        schema=multimodal.MEDIA_SCHEMA,
    )
    rows = {
        r["frame_index"]: r
        for r in multimodal.keyframe_detect(
            media, frame_bytes=fb, threshold=100
        ).collect()
    }
    assert set(rows) == {0, 1, 2, 3}
    assert all(r["media_id"] == 1 for r in rows.values())
    assert rows[0]["diff_energy"] is None and rows[0]["is_key"] is True
    assert rows[1]["diff_energy"] == 1 and rows[1]["is_key"] is False
    assert rows[2]["diff_energy"] == 190 and rows[2]["is_key"] is True
    assert rows[3]["diff_energy"] == 291 and rows[3]["is_key"] is True


@pytest.mark.parametrize(
    "op",
    [
        pytest.param(
            lambda m: multimodal.keyframe_detect(m, frame_bytes=0, threshold=1),
            id="keyframe_detect-frame_bytes0",
        ),
        pytest.param(
            lambda m: multimodal.audio_silence_trim(m, frame_len=0),
            id="audio_silence_trim-frame_len0",
        ),
        pytest.param(
            lambda m: multimodal.frame_sample(m, every_n_bytes=0),
            id="frame_sample-every_n_bytes0",
        ),
        pytest.param(
            lambda m: multimodal.audio_fingerprint(m, frames=1),
            id="audio_fingerprint-frames1",
        ),
        pytest.param(
            lambda m: multimodal.audio_fingerprint(m, frame_len=0),
            id="audio_fingerprint-frame_len0",
        ),
        pytest.param(
            lambda m: multimodal.image_dhash(m, grid=1),
            id="image_dhash-grid1",
        ),
        pytest.param(
            lambda m: multimodal.resize_images(m, 0, 0),
            id="resize_images-0x0",
        ),
        pytest.param(
            lambda m: multimodal.resize_images(m, 8, -1),
            id="resize_images-negative",
        ),
    ],
)
def test_media_size_parameters_rejected_at_call_time(spark, op):
    """A size that would divide by zero on an executor, silently yield
    all-zero signatures, or emit spec-breaking 0×0 PNGs raises
    ValueError when the operator is called — before any job runs."""
    media = spark.createDataFrame(
        [(1, "image/png", bytearray(64), None, None)],
        schema=multimodal.MEDIA_SCHEMA,
    )
    with pytest.raises(ValueError, match="must be >="):
        op(media)


def test_png_text_chunks_roundtrip_and_decode_interop():
    """tEXt chunks round-trip; a metadata-carrying PNG still decodes
    pixel-identically (decoder skips ancillary chunks); CRC corruption
    is caught."""
    import pytest

    from processo_etl_spark.ml import png

    px = bytes(range(64))
    p = png.encode_gray(px, 8, 8, text={"b": "2", "a": "1"})
    assert png.text_chunks(p) == [("a", "1"), ("b", "2")]  # sorted-key order
    assert png.decode_gray(p) == (8, 8, px)
    assert png.text_chunks(png.encode_gray(px, 8, 8)) == []
    # flip a byte inside the first tEXt body -> CRC mismatch
    i = p.index(b"tEXt") + 4
    bad = p[:i] + bytes([p[i] ^ 0xFF]) + p[i + 1 :]
    with pytest.raises(ValueError, match="CRC"):
        png.text_chunks(bad)


def test_audio_silence_trim_edge_cases(spark):
    """All-silent -> voiced count 0 with NULL span; NULL payload ->
    all-NULL; short payload zero-fills the frame grid."""
    from processo_etl_spark.ml import multimodal

    schema = multimodal.MEDIA_SCHEMA
    loud_frame = (b"\x00\x40" * 32)  # 32 samples of 16384
    rows = [
        (0, "audio/pcm16", bytes(2048), None, None),  # all zeros
        (1, "audio/pcm16", None, None, None),  # null payload
        (2, "audio/pcm16", loud_frame, None, None),  # 1 frame, then pad
    ]
    media = spark.createDataFrame(rows, schema)
    got = {
        r["media_id"]: r
        for r in multimodal.audio_silence_trim(media).collect()
    }
    assert got[0]["n_frames_voiced"] == 0
    assert got[0]["trim_start_samples"] is None
    assert got[1]["n_frames_voiced"] is None
    assert got[1]["kept_samples"] is None
    assert got[2]["n_frames_voiced"] == 1
    assert got[2]["trim_start_samples"] == 0
    assert got[2]["kept_samples"] == 32


def test_png_chunk_walk_truncation_always_valueerror():
    """Any truncation — mid-header, mid-body, or inside the CRC
    trailer — raises ValueError (never struct.error, never a silent
    partial parse)."""
    import pytest

    from processo_etl_spark.ml import png

    p = png.encode_gray(bytes(range(64)), 8, 8, text={"k": "v"})
    for cut in (len(p) - 2, len(p) - 6, 13, 10):
        with pytest.raises(ValueError):
            list(png.iter_chunks(p[:cut]))
    with pytest.raises(ValueError):
        png.text_chunks(p[: len(p) - 1])
    # a cut at an EXACT chunk boundary before IEND is still a
    # truncation — a full walk must end at IEND
    with pytest.raises(ValueError, match="IEND"):
        list(png.iter_chunks(p[: len(p) - 12]))  # drop the IEND chunk
    with pytest.raises(ValueError, match="IEND"):
        png.text_chunks(p[: len(p) - 12])


def test_png_encode_rejects_invalid_text_keywords():
    import pytest

    from processo_etl_spark.ml import png

    px = bytes(64)
    for bad in ("", "a" * 80, "a\x00b"):
        with pytest.raises(ValueError, match="keyword"):
            png.encode_gray(px, 8, 8, text={bad: "v"})


def test_png_ihdr_dims_requires_first_chunk_ihdr():
    """A signature-valid stream whose FIRST chunk is tEXt must not
    mis-read metadata bytes as dimensions."""
    import struct
    import zlib

    import pytest

    from processo_etl_spark.ml import png

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    rogue = (
        png.SIGNATURE
        + chunk(b"tEXt", b"k\x00v")
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="IHDR"):
        png.ihdr_dims(rogue)
    ok = png.encode_gray(bytes(64), 8, 8, text={"k": "v"})
    assert png.ihdr_dims(ok) == (8, 8)


def test_audio_silence_trim_voiced_tail_past_grid(spark):
    """A clip longer than the minimum frame grid with voiced audio in
    the tail reports the tail instead of silently cutting it."""
    from processo_etl_spark.ml import multimodal

    # 40 frames of 32 samples: frames 0-38 silent, frame 39 loud
    payload = bytes(39 * 32 * 2) + b"\x00\x40" * 32
    media = spark.createDataFrame(
        [(0, "audio/pcm16", payload, None, None)], multimodal.MEDIA_SCHEMA
    )
    r = multimodal.audio_silence_trim(media).collect()[0]
    assert r["n_frames_voiced"] == 1
    assert r["trim_start_samples"] == 39 * 32
    assert r["kept_samples"] == 32


def test_dedup_incremental_batch_exercises_all_three_paths(spark):
    """The incremental-dedup certificate is only meaningful if every
    phase carries rows (the first fixture split left the
    anti-join vacuous — nothing ever straddled it, so a broken join key
    would still have passed).  On sf0.001: batch = 100 new + 72
    re-crawls; 57 re-crawls hit the store (anti-join drops), 15
    re-crawls collapse within-batch (n_batch_copies = 2), 100 clean
    survivors remain."""
    from processo_etl_spark.plans.incremental import dedup_incremental_batch

    out = dedup_incremental_batch(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert len(rows) == 100
    collapsed = [r for r in rows if r["n_batch_copies"] == 2]
    assert len(collapsed) == 15          # within-batch phase fired
    assert all(r["n_batch_copies"] in (1, 2) for r in rows)
    # anti-join phase fired: 172-row batch -> 115 kept rows (100 fps)
    assert sum(r["n_batch_copies"] for r in rows) == 115
