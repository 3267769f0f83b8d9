"""The streaming⇔batch equivalence certificates (plans/stream_equiv):
registration contract, the null-safe disagreement predicate, the shared
``certify`` fold, and one executed certificate per state shape (the
full family is differentially graded by tools/check_oracles.py)."""

import pytest
from pyspark.sql import functions as F

from processo_etl_spark import plans

SF_DIR = "/root/testdata/sf0.001"

CERT_HEADS = [
    "stream_batch_equiv_dedup",
    "stream_batch_equiv_interval_join",
    "stream_batch_equiv_enrich",
    "stream_batch_equiv_curate",
    "stream_batch_equiv_bloom",
    "stream_batch_equiv_cms",
    "stream_batch_equiv_ewma",
    "stream_batch_equiv_sessionize_tws",
    # the binaryFile-stream ingest/decode surface, with a
    # closed-form pixel-mass oracle binding the decoded content.
    "stream_batch_equiv_media",
]


def test_certificates_registered_and_oracle_backed():
    """All eight certificates are registered WITH oracles, so the
    differential sweep grades them against DuckDB."""
    queries = plans.all_queries()
    oracles = plans.all_oracles()
    for name in CERT_HEADS:
        assert name in queries, name
        assert name in oracles, f"{name} must be oracle-backed"
        assert "n_mismatch" in oracles[name]


def test_disagree_counts_one_sided_nulls(spark):
    """One-sided NULL regression, generalized: a row where exactly one
    side's VALUE is NULL while the join key matched must count as a
    mismatch — plain `!=` yields NULL there, the OR stays NULL, and
    sum() would silently skip the exact corruption class the
    certificates exist to catch."""
    from processo_etl_spark.plans.common import disagree

    df = spark.createDataFrame(
        [
            (1, 1, 1.0, 1.0),    # agree
            (2, 2, None, 2.0),   # one-sided NULL value: MUST mismatch
            (3, 3, 3.0, None),   # other side NULL: MUST mismatch
            (4, 5, 4.0, 4.0),    # plain value difference
            (None, 6, 6.0, 6.0), # row missing from stream side
            (7, 7, None, None),  # both NULL: agree (eqNullSafe)
        ],
        "s_n int, b_n int, s_v double, b_v double",
    )
    n = df.agg(
        F.sum(
            disagree(("s_n", "b_n"), ("s_v", "b_v")).cast("long")
        ).alias("n")
    ).first()["n"]
    assert n == 4


def test_certify_counts_one_sided_rows_with_null_values(spark):
    """A key present on one side only counts once in n_mismatch and in
    exactly one side's row count, even when its compared values are
    NULL — counting the first compared column instead would score it
    as present on neither side and agreeing."""
    from processo_etl_spark.plans.common import certify

    stream = spark.createDataFrame(
        [(1, 10, 1.0), (2, None, None)], "k int, n int, v double"
    )
    batch = spark.createDataFrame(
        [(1, 10, 1.0), (3, None, None)], "k int, n int, v double"
    )
    row = certify(
        stream, batch, ["k"], ["n", "v"], "keys", {"total_n": F.col("n")}
    ).first()
    assert row.asDict() == {
        "n_keys_stream": 2,
        "n_keys_batch": 2,
        "total_n": 10,
        "n_mismatch": 2,
    }


@pytest.mark.parametrize(
    "name",
    [
        # one certificate per state shape: stateless broadcast join,
        # bounded-sketch streaming aggregate, applyInPandasWithState.
        "stream_batch_equiv_enrich",
        "stream_batch_equiv_cms",
        "stream_batch_equiv_ewma",
    ],
)
def test_certificate_reports_zero_mismatch(spark, name):
    row = plans.all_queries()[name](spark, SF_DIR).first()
    assert row["n_mismatch"] == 0
    # both engines produced work, and the stream/batch key counts agree
    stream_n, batch_n = row[0], row[1]
    assert stream_n == batch_n > 0
