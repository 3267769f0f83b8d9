"""Privacy-audit operator tests (quality/privacy.py)."""

from __future__ import annotations

from processo_etl_spark.quality import privacy


def _qi_df(spark):
    # QI = (region, band).  Groups: ('n', 0) size 1 — unique row;
    # ('s', 0) size 3, segments {a, b}; ('s', 1) size 5, segment {a}.
    rows = [
        (1, "n", 0, "a"),
        (2, "s", 0, "a"),
        (3, "s", 0, "a"),
        (4, "s", 0, "b"),
        (5, "s", 1, "a"),
        (6, "s", 1, "a"),
        (7, "s", 1, "a"),
        (8, "s", 1, "a"),
        (9, "s", 1, "a"),
    ]
    return spark.createDataFrame(rows, ["id", "region", "band", "seg"])


def test_k_anonymity_histogram_hand_computed(spark):
    got = {
        r["k_bucket"]: (r["n_groups"], r["n_rows"])
        for r in privacy.k_anonymity_histogram(
            _qi_df(spark), ["region", "band"]
        ).collect()
    }
    assert got == {"1": (1, 1), "2-4": (1, 3), "5-9": (1, 5)}


def test_l_diversity_histogram_flags_homogeneous_groups(spark):
    got = {
        r["l_distinct"]: (r["n_groups"], r["n_rows"])
        for r in privacy.l_diversity_histogram(
            _qi_df(spark), ["region", "band"], "seg"
        ).collect()
    }
    # ('n',0) and ('s',1) are homogeneous (l=1); ('s',0) carries {a,b}.
    assert got == {1: (2, 6), 2: (1, 3)}


def test_suppress_small_groups_nulls_qi_only_below_k(spark):
    out = privacy.suppress_small_groups(
        _qi_df(spark), ["region", "band"], k=4
    ).collect()
    by_id = {r["id"]: r for r in out}
    assert len(by_id) == 9
    # groups of size 1 and 3 are suppressed; size-5 group survives
    for i in (1, 2, 3, 4):
        r = by_id[i]
        assert r["suppressed"] is True
        assert r["region"] is None and r["band"] is None
        assert r["seg"] is not None  # non-QI columns pass through
    for i in (5, 6, 7, 8, 9):
        r = by_id[i]
        assert r["suppressed"] is False
        assert r["region"] == "s" and r["band"] == 1


def test_suppress_small_groups_keeps_null_qi_rows(spark):
    """Rows with NULL quasi-identifiers survive the size re-attach
    (null-safe join): groupBy treats NULL QI as one group, so the
    release must account for those rows, not drop them."""
    rows = [
        (1, None, 0, "a"),
        (2, None, 0, "a"),
        (3, None, 0, "b"),
        (4, None, 0, "b"),
        (5, "s", None, "a"),  # its own NULL-band group, size 1
    ]
    df = spark.createDataFrame(rows, ["id", "region", "band", "seg"])
    out = privacy.suppress_small_groups(df, ["region", "band"], k=3)
    by_id = {r["id"]: r for r in out.collect()}
    assert len(by_id) == 5  # nothing dropped
    for i in (1, 2, 3, 4):  # (NULL, 0) group has 4 members >= k
        assert by_id[i]["suppressed"] is False
    assert by_id[5]["suppressed"] is True
    assert by_id[5]["region"] is None and by_id[5]["band"] is None


def test_dp_binomial_noisy_counts_replayable(spark):
    """The binomial noise replays from the group identity: hand-derive
    popcount(md5 60-bit prefix) - 30 and match the released count."""
    import hashlib

    df = spark.createDataFrame(
        [("a", 1)] * 7 + [("b", 2)] * 3, ["g", "x"]
    )
    got = {
        r["g"]: r["noisy_count"]
        for r in privacy.dp_binomial_noisy_counts(
            df, ["g"], salt="dp-v1"
        ).collect()
    }
    for g, n in (("a", 7), ("b", 3)):
        h = int(hashlib.md5(f"{g}|dp-v1".encode()).hexdigest()[:15], 16)
        assert got[g] == n + bin(h).count("1") - 30


def test_dp_binomial_noisy_counts_null_keys_independent(spark):
    """NULL-bearing group keys get DISTINCT, non-null noise: ('a', NULL)
    and (NULL, 'a') must not share a noise key (concat_ws would have
    collapsed both to 'a'), and each replays from the
    chr(0)-sentinel encoding."""
    import hashlib

    rows = [("a", None)] * 4 + [(None, "a")] * 2 + [(None, None)] * 5
    df = spark.createDataFrame(rows, "g1 string, g2 string")
    got = {
        (r["g1"], r["g2"]): r["noisy_count"]
        for r in privacy.dp_binomial_noisy_counts(
            df, ["g1", "g2"], salt="s0"
        ).collect()
    }
    assert len(got) == 3
    nul = "\x00NULL"
    for (g1, g2), n in ((("a", None), 4), ((None, "a"), 2), ((None, None), 5)):
        key = f"{g1 or nul}|{g2 or nul}|s0"
        h = int(hashlib.md5(key.encode()).hexdigest()[:15], 16)
        assert got[(g1, g2)] == n + bin(h).count("1") - 30, (g1, g2)


def test_suppress_small_groups_rejects_degenerate_args(spark):
    import pytest

    df = _qi_df(spark)
    with pytest.raises(ValueError, match="quasi-identifier"):
        privacy.suppress_small_groups(df, [], k=5)
    with pytest.raises(ValueError, match="k=1"):
        privacy.suppress_small_groups(df, ["region"], k=1)
