"""Privacy-audit queries (quality/privacy.py).

The quasi-identifier projection for all three heads is the classic
linkage-attack triple over ``customer``: (nation, market segment,
account-balance band) — the kind of attribute combination that
survives ``text_scrub_pii``-style inline scrubbing yet still joins
to an external dataset.  The balance band is ``floor(acctbal/1000)``
— an exact double op both engines agree on bit-for-bit."""

from __future__ import annotations

from pyspark.sql import functions as F

from processo_etl_spark.plans import register
from processo_etl_spark.plans.common import t
from processo_etl_spark.quality import privacy

_QI = ["c_nationkey", "c_mktsegment", "bal_band"]


def _customers_qi(spark, sf_dir):
    return t(spark, sf_dir, "customer").withColumn(
        "bal_band", F.floor(F.col("c_acctbal") / 1000.0).cast("int")
    )


_QI_SQL = "c_nationkey, c_mktsegment, CAST(floor(c_acctbal / 1000.0) AS INT)"


@register(
    "k_anonymity_audit",
    oracle=f"""
    WITH g AS (
      SELECT CAST(count(*) AS BIGINT) AS k
      FROM customer GROUP BY {_QI_SQL}
    )
    SELECT CASE WHEN k = 1 THEN '1' WHEN k <= 4 THEN '2-4'
                WHEN k <= 9 THEN '5-9' ELSE '10+' END AS k_bucket,
      CAST(count(*) AS BIGINT) AS n_groups,
      CAST(sum(k) AS BIGINT) AS n_rows
    FROM g GROUP BY 1
    """,
)
def k_anonymity_audit(spark, sf_dir):
    """k-anonymity audit (Sweeney 2002) over the customer QI triple:
    the size distribution of quasi-identifier groups — bucket '1' rows
    are unique on (nation, segment, balance band) and re-identifiable
    by linkage.  Scale shape: one combinable QI groupBy + one
    histogram over the ≤|QI-domain| group table; no windows."""
    return privacy.k_anonymity_histogram(_customers_qi(spark, sf_dir), _QI)


@register(
    "l_diversity_audit",
    oracle="""
    WITH g AS (
      SELECT count(DISTINCT c_mktsegment) AS l,
        CAST(count(*) AS BIGINT) AS n
      FROM customer
      GROUP BY c_nationkey, CAST(floor(c_acctbal / 1000.0) AS INT)
    )
    SELECT CAST(l AS INT) AS l_distinct,
      CAST(count(*) AS BIGINT) AS n_groups,
      CAST(sum(n) AS BIGINT) AS n_rows
    FROM g GROUP BY 1
    """,
)
def l_diversity_audit(spark, sf_dir):
    """l-diversity audit (Machanavajjhala et al. 2007): distinct
    SENSITIVE values (market segment) per (nation, balance-band) QI
    group — ``l_distinct = 1`` groups leak the segment outright, the
    homogeneity attack k-anonymity alone cannot see.  Same two-shuffle
    shape as the k audit, with a distinct-count in the first pass."""
    qi = _customers_qi(spark, sf_dir)
    return privacy.l_diversity_histogram(
        qi, ["c_nationkey", "bal_band"], "c_mktsegment"
    )


@register(
    "k_suppress_small_groups",
    oracle="""
    WITH s AS (
      SELECT c_custkey, c_nationkey, c_mktsegment,
        CAST(floor(c_acctbal / 1000.0) AS INT) AS bal_band,
        count(*) OVER (PARTITION BY c_nationkey, c_mktsegment,
                       CAST(floor(c_acctbal / 1000.0) AS INT)) AS n
      FROM customer
    )
    SELECT c_custkey,
      CASE WHEN n < 5 THEN NULL ELSE c_nationkey END AS c_nationkey,
      CASE WHEN n < 5 THEN NULL ELSE c_mktsegment END AS c_mktsegment,
      CASE WHEN n < 5 THEN NULL ELSE bal_band END AS bal_band,
      n < 5 AS suppressed
    FROM s
    """,
)
def k_suppress_small_groups(spark, sf_dir):
    """k-anonymity ENFORCEMENT: rows whose QI group has < 5 members get
    every quasi-identifier suppressed (NULLed), so no released tuple is
    shared by fewer than 5 rows.  Spark re-attaches group sizes by
    equi-join (quality/privacy.suppress_small_groups — a celebrity QI
    group never serializes into one task the way the oracle's
    partitioned window would); the oracle IS that single window, so the
    hash certifies the join rewrite row-for-row."""
    qi = _customers_qi(spark, sf_dir).select(
        "c_custkey", "c_nationkey", "c_mktsegment", "bal_band"
    )
    return privacy.suppress_small_groups(qi, _QI, k=5)


@register(
    "dp_noisy_counts",
    oracle="""
    SELECT c_nationkey, c_mktsegment,
      CAST(count(*)
        + bit_count(CAST(('0x' || substr(md5(
            coalesce(CAST(c_nationkey AS VARCHAR), chr(0) || 'NULL')
            || '|' || coalesce(c_mktsegment, chr(0) || 'NULL')
            || '|dp-v1'), 1, 15)) AS BIGINT))
        - 30 AS BIGINT) AS noisy_count
    FROM customer
    GROUP BY 1, 2
    """,
)
def dp_noisy_counts(spark, sf_dir):
    """Differentially-private histogram release (binomial mechanism,
    Dwork et al. 2006) over (nation, market segment): exact counts plus
    centered Binomial(60, 1/2) noise derived from the md5 of the
    NULL-SAFELY encoded group identity + salt (each column coalesces
    NULL to a chr(0) sentinel before concat), so the
    oracle replays every coin — the release step that completes the
    privacy family (k/l AUDIT → suppression ENFORCEMENT → noisy
    RELEASE).  The fixture salt stands in for the production secret
    seed, which the API requires per release; the plan is one
    combinable groupBy plus a projection either way."""
    return privacy.dp_binomial_noisy_counts(
        t(spark, sf_dir, "customer"),
        ["c_nationkey", "c_mktsegment"],
        salt="dp-v1",
    )
