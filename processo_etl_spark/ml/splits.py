"""Deterministic dataset splitting, sampling, and shuffling for
training-data pipelines.

The reference pipeline (dag.py) materializes every row into the warehouse
and has no split/sample stage; these operators are part of the
LLM-training-data extension surface (same family as ml/dedup, ml/textstats).

Design for 100 TB:

- **Split assignment is a pure per-row hash function** — md5-prefix
  integer (`dedup.md5_long`, engine-portable, no JVM murmur seeds) modulo
  ``N_BUCKETS`` — so it is narrow (no shuffle, no state), stable across
  reruns, engines, and repartitionings, and *append-consistent*: adding
  new data never reassigns an existing key's split.
- **Hash the grouping key, not the row.** Splitting on ``doc_id`` (or a
  URL/site key) keeps all shards/near-versions of one document in one
  split — the standard guard against train/test contamination.
- **Sampling by hash threshold** (keep iff ``bucket < f * N_BUCKETS``)
  gives an exact, reproducible per-stratum rate with zero coordination.
  ``df.sample()`` is seeded per partition-split and silently resamples
  when the partitioning changes; the hash threshold never does.
- **Shuffling for training order** is expressed as ranking by the hash
  *within hash-assigned shards*: each shard sorts independently (bounded
  sort, no global single-partition window), and (shard, rank) is a total,
  deterministic order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from processo_etl_spark.columns import internal
from processo_etl_spark.ml.dedup import md5_long

#: Split/sample granularity: 10_000 buckets = 0.01% resolution.
N_BUCKETS = 10_000


def hash_bucket(key: Column | str, n_buckets: int = N_BUCKETS) -> Column:
    """Stable bucket in ``[0, n_buckets)`` from the md5-prefix integer of
    the key's string form.  ``md5_long`` is 60-bit non-negative, so plain
    ``%`` suffices (no pmod)."""
    c = F.col(key) if isinstance(key, str) else key
    return (md5_long(c.cast("string")) % F.lit(n_buckets)).cast("int")


def with_split(
    df: DataFrame,
    key: str,
    fractions: dict[str, float] | None = None,
    out_col: str = "split",
) -> DataFrame:
    """Assign each row to a named split by hash-bucket thresholding.

    ``fractions`` maps split name → fraction, in priority order; they must
    sum to ≤ 1 (any remainder falls into the last split).  Default is the
    conventional 98/1/1 train/val/test.  Assignment is exhaustive and
    disjoint: bucket ranges ``[0, t1), [t1, t2), …`` partition
    ``[0, N_BUCKETS)``.
    """
    fractions = fractions or {"train": 0.98, "val": 0.01, "test": 0.01}
    b = hash_bucket(key)
    expr = None
    cum = 0.0
    names = list(fractions)
    for name in names[:-1]:
        cum += fractions[name]
        cond = b < int(round(cum * N_BUCKETS))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(names[-1])
    return df.withColumn(out_col, expr)


def stratified_sample_by_hash(
    df: DataFrame,
    key: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic stratified sample: per-stratum keep-fractions.

    The threshold is looked up from a literal MAP (JVM-side, no UDF, no
    join); strata not in ``fractions`` get ``default_fraction``.  This is
    the reproducible equivalent of ``df.sampleBy`` for building data
    mixtures (e.g. up-weight rare languages, down-weight crawl dupes).
    """
    pairs: list[Column] = []
    for k, v in fractions.items():
        pairs.append(F.lit(k))
        pairs.append(F.lit(int(round(v * N_BUCKETS))))
    thresholds = F.create_map(*pairs) if pairs else F.create_map()
    thr = F.coalesce(
        thresholds[F.col(strata_col)],
        F.lit(int(round(default_fraction * N_BUCKETS))),
    )
    return df.filter(hash_bucket(key) < thr)


def shuffle_rank(
    df: DataFrame, key: str, n_shards: int = 1024, out_prefix: str = "shuffle"
) -> DataFrame:
    """Deterministic global shuffle for training order, sharded.

    Adds ``{prefix}_shard`` (= hash % n_shards) and ``{prefix}_rank``
    (row_number by a *second* hash within the shard — rank order is
    independent of shard assignment).  Consumers iterate shards in order,
    rows by rank: a total deterministic order that is uniformly shuffled.

    Scale: one hash-partition shuffle + per-shard sort of |rows|/n_shards
    each.  Never use ``row_number() OVER (ORDER BY …)`` with no PARTITION
    BY at scale — that is a single-partition window.
    """
    c = F.col(key).cast("string")
    shard_col, rank_col = f"{out_prefix}_shard", f"{out_prefix}_rank"
    # Independent second hash for in-shard order: salt the string rather
    # than reusing the shard hash (reuse would sort each shard by a value
    # congruent mod n_shards — correlated, not shuffled).
    h2 = md5_long(F.concat(F.lit("shuffle:"), c))
    w = Window.partitionBy(shard_col).orderBy(h2, F.col(key))
    return (
        df.withColumn(shard_col, (md5_long(c) % F.lit(n_shards)).cast("int"))
        .withColumn(rank_col, F.row_number().over(w))
    )


def temperature_mixture_sample(
    df: DataFrame,
    key: str,
    source_col: str,
    temperature: float = 2.0,
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """Temperature-weighted source rebalancing (multilingual-training
    style): keep-rate_s = (n_s / n_max)^(1/T), so the largest source
    keeps everything and smaller sources are *relatively* up-weighted as
    T grows (T=1 ⇒ proportional i.e. keep-all; T→∞ ⇒ uniform mixture).

    Two-pass: a tiny per-source count aggregate (collect of |sources|
    rows + one scalar max — the legitimate literal-inject pattern, same
    as exact_median) computes per-source hash thresholds; the corpus
    pass is then a narrow broadcast-join + hash filter — deterministic,
    append-consistent, no shuffle of the corpus.

    With the default T=2 the rate is ``sqrt``, which IEEE-754 defines as
    exactly rounded — so Spark and any SQL oracle engine compute
    bit-identical thresholds (a generic ``pow`` is NOT guaranteed
    identical across libms; keep T=2 for oracle-checked paths).
    """
    n, thr_col = internal("n"), internal("thr")
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias(n))
    n_max = counts.agg(F.max(n)).first()[0]
    if temperature == 2.0:
        rate = F.sqrt(F.col(n).cast("double") / F.lit(float(n_max)))
    else:
        rate = F.pow(
            F.col(n).cast("double") / F.lit(float(n_max)),
            1.0 / temperature,
        )
    thr = counts.select(
        source_col, F.floor(F.lit(n_buckets) * rate).cast("long").alias(thr_col)
    )
    return (
        df.join(F.broadcast(thr), on=source_col)
        .filter(hash_bucket(key, n_buckets) < F.col(thr_col))
        .drop(thr_col)
    )


def mixture_token_plan(
    df: DataFrame,
    source_col: str,
    token_count: Column,
    budget: int,
    temperature: float = 2.0,
) -> DataFrame:
    """Token-budget mixture plan: how many tokens to draw from each
    source to fill ``budget`` under temperature-weighted rebalancing
    (w_s ∝ n_s^(1/T) — T=1 is proportional, T→∞ uniform; the
    multilingual-mixture standard).  ``epochs`` > 1 means the source
    repeats — the signal to cap or upweight elsewhere.

    T=2 keeps the engine/oracle twins bit-identical (sqrt is IEEE
    correctly-rounded on both; a general pow is not), and the Σ over
    sources is a value-sorted left fold — the DSIR summation trick —
    so the tiny source-count aggregate is order-insensitive too.

    Scale: one combinable groupBy over the corpus, then arithmetic on
    |sources| rows with the ONE-ROW Σ aggregate broadcast underneath —
    the linear scalar-attach shape (Spark plans a condition-less
    one-row broadcast as BroadcastNestedLoopJoin; with a single build
    row that is a scalar attach, not an all-pairs blowup).
    """
    if temperature != 2.0:
        raise NotImplementedError("oracle-parity path pins T=2 (sqrt)")
    return _mixture_plan_body(df, source_col, token_count, budget)


def unimax_token_plan(
    df: DataFrame,
    source_col: str,
    token_count: Column,
    budget: int,
    max_epochs: int = 2,
) -> DataFrame:
    """UniMax sampling plan (Chung et al., ICLR 2023): spread a token
    budget as UNIFORMLY as possible across sources, capping each source
    at ``max_epochs`` repeats of its data — the multilingual-mixture
    answer to temperature sampling's head-language bias.

    Closed form (water-filling): with capacities c_s = n_s·max_epochs
    sorted ascending, a source is capped iff
    c_i·(R−i+1) ≤ B − Σ_{j<i} c_j  (the predicate is prefix-monotone,
    so per-row evaluation equals the sequential greedy), and every
    uncapped source receives the common water level
    θ = (B − Σ_capped c) / #uncapped.  alloc_s = min(c_s, θ) exactly.

    Engine shape: the corpus collapses to |sources| rows via ONE
    map-side-combinable groupBy; the waterfall itself is a single
    ``aggregate`` fold over the value-sorted capacity array (ties
    commute — equal capacities always share a capped flag), so there is
    NO unpartitioned window, and the one-row solution broadcasts back
    onto the |sources| table (linear scalar attach).  All comparisons
    are exact int64 (c·(R−i) ≤ B−S); the only division producing θ is
    one IEEE double op, bit-identical on Spark and DuckDB.
    """
    per = (
        df.groupBy(F.col(source_col).alias("source"))
        .agg(F.sum(token_count).cast("long").alias("n_tokens"))
        .withColumn("capacity", F.col("n_tokens") * F.lit(int(max_epochs)))
    )
    B = F.lit(int(budget)).cast("long")
    zero = F.lit(0).cast("long")
    state0 = F.struct(
        zero.alias("i"), zero.alias("s"), zero.alias("k"), zero.alias("sc")
    )
    caps = per.agg(F.sort_array(F.collect_list("capacity")).alias("caps"))

    def step(acc: Column, c: Column) -> Column:
        r = F.size(F.col("caps")).cast("long")
        capped = c * (r - acc["i"]) <= B - acc["s"]
        one = F.lit(1).cast("long")
        return F.struct(
            (acc["i"] + one).alias("i"),
            (acc["s"] + c).alias("s"),
            (acc["k"] + F.when(capped, one).otherwise(zero)).alias("k"),
            (acc["sc"] + F.when(capped, c).otherwise(zero)).alias("sc"),
        )

    solved = caps.select(
        F.size("caps").cast("long").alias("R"),
        F.aggregate("caps", state0, step).alias("st"),
    ).select("R", F.col("st.k").alias("k"), F.col("st.sc").alias("sc"))
    theta = (B - F.col("sc")).cast("double") / (F.col("R") - F.col("k")).cast(
        "double"
    )
    alloc = F.when(
        F.col("k") == F.col("R"), F.col("capacity").cast("double")
    ).otherwise(F.least(F.col("capacity").cast("double"), theta))
    return (
        per.crossJoin(F.broadcast(solved))
        .select(
            "source",
            "n_tokens",
            "capacity",
            alloc.alias("alloc_tokens"),
            (alloc / F.col("n_tokens").cast("double")).alias("epochs"),
            (alloc >= F.col("capacity").cast("double")).alias("capped"),
        )
    )


def _mixture_plan_body(
    df: DataFrame, source_col: str, token_count: Column, budget: int
) -> DataFrame:
    per = (
        df.groupBy(F.col(source_col).alias("source"))
        .agg(F.sum(token_count).cast("long").alias("n_tokens"))
        .withColumn("_r", F.sqrt(F.col("n_tokens").cast("double")))
    )
    tot = per.agg(
        F.aggregate(
            F.sort_array(F.collect_list("_r")),
            F.lit(0.0).cast("double"),
            lambda a, x: a + x,
        ).alias("_S")
    )
    share = F.lit(float(budget)) * F.col("_r") / F.col("_S")
    # target_tokens floors the ROUND(·,6) quotient, not the raw one:
    # the quotient's denominator _S is a value-sorted float
    # fold, and a floor over the raw value flips on cross-build ULP
    # drift exactly when the quotient sits at an integer boundary — the
    # same hazard class the raw-double-fold guard bans for float
    # outputs, which an integer output would otherwise dodge.  The snap
    # scale must dominate the ABSOLUTE drift at the share's magnitude
    # (~budget = 1e6 here): fold drift of a few ULPs relative (~1e-14)
    # is ~1e-8 absolute at 1e6, so scale 9's 5e-10 radius would NOT
    # cover it — scale 6's 5e-7 radius does, with decades
    # to spare.  The oracle mirrors floor(ROUND(·, 6)).
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_tokens",
            (F.col("_r") / F.col("_S")).alias("weight"),
            F.floor(F.round(share, 6)).cast("long").alias("target_tokens"),
            (share / F.col("n_tokens")).alias("epochs"),
        )
    )


def weighted_sample_aes(
    df: DataFrame,
    key: str,
    weight_col: str | Column,
    group_col: str,
    k: int,
    salt_buckets: int = 64,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, exactly k rows per group
    (Efraimidis & Spirakis 2006, "Weighted random sampling with a
    reservoir" — the A-ES scheme): each row draws a hash-uniform
    u ∈ (0,1) and competes on the exponential key ln(u)/w; the k
    LARGEST keys per group are a weight-proportional sample without
    replacement (u^(1/w) is Exp(w) under -ln, and the race between
    exponentials selects i first with probability w_i / Σw).  This is
    the standard way to subsample a corpus ∝ quality weight (curation:
    keep k docs per source, favoring high-quality ones) while staying
    deterministic and append-consistent for re-runs.

    Determinism: u comes from the salted md5 of the row key — no RNG
    state, identical on every engine.  The only transcendental is
    ``ln``; engines may differ in the last ulp, which can flip an
    ordering only when two keys collide within ~2^-52 relative — with
    n rows the collision mass is ~n²·2^-52 (≈1e-7 at n=60k), and the
    (key, row-key) tiebreak makes equal doubles stable.  Rows with
    NULL or non-positive weight never qualify (ln(u)/w flips sign for
    w<0) and are filtered.

    Scale shape: a naive ``row_number() OVER (PARTITION BY group)``
    sorts whole groups — a skewed source stalls one task.  Instead the
    top-k is taken in two bounded stages: (1) rank within (group,
    salt) — 64-way split caps per-task sort size regardless of group
    skew — and keep ranks ≤ k; (2) rank the ≤ 64·k survivors per
    group.  Both windows shuffle ONCE each and stage 2's input is
    bounded at salt_buckets·k·|groups| rows, so the plan survives a
    source holding half the corpus.  The two-stage result is exactly
    the global top-k: a row outside its salt's top-k is dominated by k
    rows in the same group and cannot be in the group's top-k.
    """
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    kc = F.col(key).cast("string")
    u = (md5_long(F.concat(F.lit("aes:"), kc)) + F.lit(0.5)) / F.lit(
        float(1 << 60)
    )
    aes_key = F.log(u) / w.cast("double")
    salt = md5_long(F.concat(F.lit("salt:"), kc)) % F.lit(salt_buckets)
    aes, salt_col, r1 = internal("aes"), internal("salt"), internal("r1")
    base = (
        df.filter(w.isNotNull() & (w > 0))
        .withColumn(aes, aes_key)
        .withColumn(salt_col, salt)
    )
    w1 = Window.partitionBy(group_col, salt_col).orderBy(
        F.col(aes).desc(), F.col(key)
    )
    survivors = (
        base.withColumn(r1, F.row_number().over(w1))
        .filter(F.col(r1) <= k)
        .drop(r1, salt_col)
    )
    w2 = Window.partitionBy(group_col).orderBy(F.col(aes).desc(), F.col(key))
    return (
        survivors.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= k)
        .drop(aes)
    )


def with_group_fold(
    df: DataFrame, group_col: str, n_folds: int = 5, out_col: str = "fold"
) -> DataFrame:
    """GroupKFold assignment: every row of one GROUP lands in the same
    fold — fold = md5-prefix(group) % n_folds.  The cross-validation
    split that keeps correlated rows (all chunks of one document, all
    events of one user, all pages of one domain) out of each other's
    train/test sides; splitting such rows row-wise leaks near-duplicates
    across the boundary and inflates eval scores.

    Deterministic, append-consistent (new rows of an old group join its
    fold), shuffle-free — the ``with_split`` idiom at group grain.
    Fold sizes are as balanced as the group-size distribution allows
    (hash-uniform over groups, not rows)."""
    if n_folds < 2:
        raise ValueError(f"n_folds must be >= 2, got {n_folds}")
    return df.withColumn(out_col, hash_bucket(group_col, n_folds))
