"""Graph analytics over aggregated transition structure.

PageRank (Brin & Page 1998) as the stationary distribution of user
journeys: the CORPUS-SCALE work is extracting transition edges from the
event log (one lag window per user — the sessionize shuffle shape); the
resulting graph aggregates to |event_types|² rows, so the power
iteration runs driver-side on that summary — the same
train-on-summary pattern as the k-means/PQ/BPE trainers.  (For graphs
whose NODE set scales with the data, :func:`pagerank_distributed`,
:func:`label_propagation` and :func:`kcore_peel` run a driver loop of
distributed supersteps, each truncated by ``localCheckpoint``;
``ml/dedup.connected_components`` clusters document near-dup graphs the
same way.)

Bit-determinism (oracle replays every double): every sum of doubles —
a node's incoming contributions, the dangling mass — is an EXACT
integer sum, ``sum(floor(x·2^52)) / 2^52`` (:func:`_exact_sum`).
Integer addition does not depend on order, so the same bits come out
on any partitioning, in either distributed layout, in Python and in
DuckDB; every other arithmetic step mirrors the oracle's operator
order exactly.  Dangling-node mass is redistributed uniformly each
iteration, so ranks sum to 1 up to the truncation (at most one 2^-52
quantum per summed term, per iteration).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# 2^52: a term x in [0, 2) maps to the integer floor(x·2^52) < 2^53,
# and the scaling itself is exact (a power of two).
_SCALE = 4503599627370496.0


def _exact_sum(c, over=None):
    """The order-free exact combine over a double column (as a window
    aggregate when ``over`` is given): each term is truncated to a
    multiple of 2^-52 and summed as a long.  With non-negative weights
    every term is at most its source's rank and the ranks sum to about
    1, so a sum stays below 2^53 and the long→double conversion is
    exact.  NULL over an empty set, like ``F.sum``."""
    total = F.sum(F.floor(c * F.lit(_SCALE)))
    if over is not None:
        total = total.over(over)
    return total / F.lit(_SCALE)


def _exact_sum_py(xs) -> float:
    """:func:`_exact_sum` in Python, the same bits (0.0 when empty)."""
    return sum(math.floor(x * _SCALE) for x in xs) / _SCALE


def _negative_weight(w) -> ValueError:
    return ValueError(
        f"pagerank: edge weight {w} is negative; weights must be >= 0"
    )


def transition_edges(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
) -> DataFrame:
    """(src, dst, w): counts of consecutive event-type transitions per
    user — one lag window per user (deterministic tie-break on the
    full ``order_cols``), one combinable groupBy.  This is the only
    corpus-scale pass; output is |types|² rows."""
    w = Window.partitionBy(user_col).orderBy(*order_cols)
    return (
        events.withColumn("src", F.lag(type_col).over(w))
        .filter(F.col("src").isNotNull())
        .groupBy("src", F.col(type_col).alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
    )


def pagerank_from_edges(
    nodes: list[str],
    edges: list[tuple[str, str, int]],
    damping: float = 0.85,
    iterations: int = 10,
) -> dict[str, float]:
    """Fixed-iteration power method on the (tiny) aggregated graph.

    Weights must be non-negative (a negative one raises ``ValueError``);
    a node whose out-weights sum to 0 is dangling, the same as a node
    without out-edges.  Every float op mirrors the SQL oracle exactly:
    ``contrib = (rank * w) / out`` left-associated, per-node and
    dangling sums are :func:`_exact_sum_py`, and the update is
    ``(1−d)/n + d·(S + dang/n)`` with that literal bracketing.
    """
    n = float(len(nodes))
    out: dict[str, float] = {}
    for s, _, w in edges:
        if w < 0:
            raise _negative_weight(w)
        out[s] = out.get(s, 0.0) + float(w)
    # a node whose out-weights sum to 0 is dangling, like a sink
    out = {s: w for s, w in out.items() if w != 0.0}
    edges = [e for e in edges if e[0] in out]
    rank = {v: 1.0 / n for v in nodes}
    base = (1.0 - damping) / n
    for _ in range(iterations):
        contribs: dict[str, list[float]] = {v: [] for v in nodes}
        for s, d_, w in edges:
            contribs[d_].append((rank[s] * float(w)) / out[s])
        dang = _exact_sum_py(rank[v] for v in nodes if v not in out)
        rank = {
            v: base + damping * (_exact_sum_py(contribs[v]) + dang / n)
            for v in nodes
        }
    return rank


def event_type_pagerank(
    events: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
) -> DataFrame:
    """(event_type, pagerank): stationary importance of each event type
    in the user-journey Markov chain.  Distributed edge extraction →
    driver iteration → 5-row result."""
    spark = events.sparkSession
    nodes = sorted(
        r["event_type"]
        for r in events.select("event_type").distinct().collect()
    )
    edges = [
        (r["src"], r["dst"], r["w"])
        for r in transition_edges(events).collect()
    ]
    ranks = pagerank_from_edges(nodes, edges, damping, iterations)
    return spark.createDataFrame(
        [(v, ranks[v]) for v in nodes], ["event_type", "pagerank"]
    )


def _broadcast_threshold_bytes(df: DataFrame) -> int:
    """spark.sql.autoBroadcastJoinThreshold as an int (bytes); suffixed
    forms fall back to the 10 MiB default (be conservative).  ≤ 0 means
    broadcasting is disabled and every vertex-mirroring dispatch below
    must pick the shuffle layout."""
    thresh = df.sparkSession.conf.get(
        "spark.sql.autoBroadcastJoinThreshold", "10485760"
    )
    try:
        return int(thresh)
    except ValueError:
        return 10 * 1024 * 1024


def pagerank_distributed(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
) -> DataFrame:
    """Pregel-style distributed PageRank: join + aggregate
    per superstep, each ``localCheckpoint``ed — NO
    driver-side node/edge collect, so the plan holds when the node set
    scales with the data (billion-node graphs), unlike
    ``pagerank_from_edges``' driver power method.

    ``edges`` is (src, dst, w) with NON-NEGATIVE weights: a negative
    ``w`` raises ``ValueError`` naming it (checked inside the node-count
    action, so no extra job).  The fused node aggregate classifies a
    node as dangling iff its summed out-weight is NULL or 0, and drops
    its edges from the routing join.  So a node whose out-edges all
    weigh 0 redistributes its mass uniformly like a sink (instead of
    dividing by zero), and a node whose every out-edge carries a NULL
    ``w`` is treated the same way — coalesce weights to a default
    upstream if your graph can contain NULLs.  Per iteration:
    contributions
    ``(rank·w)/out_w`` route along edges via ONE equi-join on src and
    combine per dst; the update is ``(1−d)/n + d·(S + dang/n)`` with
    the same bracketing as the driver twin.  ``localCheckpoint`` (the
    superstep's single job) truncates lineage each round — the lazier alternatives were
    measured (full unroll with exchange reuse; persist-chained
    supersteps) and both LOST to the eager checkpoint
    on fixed overhead, because the dangling-mass branch forks the
    lineage every superstep and nested cache materialization serializes
    the stage graph anyway.

    Every sum — a node's contributions and the dangling mass — is the
    module's :func:`_exact_sum`: a map-side-combinable ``sum`` of longs,
    so the result is the same bits on any partitioning, in both layouts,
    as the driver twin and as a DuckDB fixed-iteration replay.

    Dangling mass (nodes without out-edges): in the broadcast
    (vertex-mirrored) layout the scalar rides the rank state itself —
    each checkpointed rank relation but the last carries a ``d`` column
    (its own dangling-rank total, computed by one unpartitioned window
    at the superstep's tail, INSIDE the checkpoint job), and one zero-weight
    self-edge per node in the static edge cache guarantees the combine
    covers every node, so the next superstep reads the scalar off the
    same broadcast it already ships — no separate dangling aggregate,
    no second broadcast-exchange build per superstep (the earlier
    shape spent 1 aggregate job + 1 broadcast build per superstep on
    it).  A 0.0 contribution adds the integer 0, so the self-edges
    never change a bit of output.  The single-partition
    window is bounded by the same n ≤ threshold/64 that justifies the
    broadcast itself.  In the big-graph shuffle layout the dangling
    scalar stays a tiny in-plan aggregate re-attached as a broadcast
    one-row scalar — no per-superstep driver action in either mode.

    Returns (node, pagerank); ranks sum to 1 less the truncation of
    the exact sums, at most one 2^-52 quantum per summed term per
    iteration.
    """
    # Node universe + out-weights in ONE shuffle (previously a
    # distinct over the endpoint union PLUS a separate out-weight
    # groupBy PLUS a left join to flag dangling nodes — three exchanges
    # where one combinable aggregate suffices): every edge emits its src
    # with weight and its dst with NULL; sum(w) per node is the
    # out-weight, NULL or 0 out-weight ⟺ dangling.
    # The raw edge relation is consumed TWICE (the fused node aggregate
    # below and the routed join) — un-persisted, its whole lineage (for
    # the bench graph: an orders scan plus a lineitem pre-aggregation)
    # executed once per consumer (measured ~0.9 s of the steady
    # pass at sf0.1).  MEMORY_AND_DISK is the standard iterative-graph
    # edge-cache posture (GraphX persists the edge RDD); released at
    # function exit with the other statics.
    from pyspark import StorageLevel

    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    ends = edges.select(
        F.col("src").alias("node"), F.col("w").alias("ow")
    ).unionAll(
        edges.select(F.col("dst").alias("node"), F.lit(None).cast("long"))
    )
    node_info = (
        ends.groupBy("node")
        .agg(F.sum("ow").alias("out_w"), F.min("ow").alias("min_w"))
        .repartition("node")
        .persist()
    )
    has_out = F.coalesce(F.col("out_w") != 0, F.lit(False))
    outs = node_info.filter(has_out).select(
        F.col("node").alias("src"), "out_w"
    )
    flagged = node_info.select("node", (~has_out).alias("dangling"))
    n, min_w = node_info.agg(F.count(F.lit(1)), F.min("min_w")).first()
    if min_w is not None and min_w < 0:
        node_info.unpersist()
        edges.unpersist()
        raise _negative_weight(min_w)
    base = (1.0 - damping) / n
    # Vertex-mirroring dispatch (the GraphX small-vertex-state
    # optimization): when the WHOLE rank vector fits under the broadcast
    # threshold, ship it to the edge partitions each superstep and keep
    # the edges partitioned by DST — the contribution join then streams
    # the static edge cache and the per-node combine is ALREADY
    # node-partitioned, so a superstep runs with ZERO shuffle (measured:
    # the src-partitioned shape's partial aggregate emitted 539 k
    # partial groups into an exchange every superstep at sf0.1, ~75% of
    # the operator's CPU).  Past the threshold (billion-node graphs)
    # ranks cannot broadcast: fall back to the src-partitioned layout
    # where each superstep shuffles only the slim evolving rank side.
    # Both paths run the same arithmetic on the same per-node value
    # multisets — the exact integer combine is order-insensitive, so
    # the choice never changes a bit of output.
    thresh_b = _broadcast_threshold_bytes(edges)
    broadcast_ranks = thresh_b > 0 and n * 64 <= thresh_b
    # Static relations are persisted PRE-PARTITIONED on the key their
    # superstep consumer needs (dst for the local combine in broadcast
    # mode, src for the rank join in shuffle mode), so the planner never
    # re-exchanges the edges (measured 2× off the superstep at sf0.1).
    rt = edges.join(outs, "src").select("src", "dst", "w", "out_w")
    if broadcast_ranks:
        # One zero-weight self-edge per node (broadcast mode only):
        # guarantees every node receives ≥ 1 contribution row, so the
        # superstep collapses to ONE join — the combine aggregate reads
        # the node's own dangling flag and the global dangling scalar
        # off the self row's broadcast-side columns, and the earlier shape's
        # second join (flagged ⨝ sums) plus the per-superstep dangling
        # aggregate + broadcast-exchange build are gone.  The self
        # contribution is (rank·0)/1 = 0.0, which adds the integer 0.
        tmap = {f.name: f.dataType for f in rt.schema.fields}
        ntype = node_info.schema["node"].dataType
        rt = rt.select(
            F.col("src").cast(ntype).alias("src"),
            F.col("dst").cast(ntype).alias("dst"),
            "w",
            "out_w",
            F.lit(False).alias("is_self"),
        ).unionByName(
            node_info.select(
                F.col("node").alias("src"),
                F.col("node").alias("dst"),
                F.lit(0).cast(tmap["w"]).alias("w"),
                F.lit(1).cast(tmap["out_w"]).alias("out_w"),
                F.lit(True).alias("is_self"),
            )
        )
    routed = rt.repartition(
        F.col("dst") if broadcast_ranks else F.col("src")
    ).persist()
    # No checkpoint on the seed state: flagged is a projection of the
    # persisted node_info relation, so iteration 1's consumers read
    # the cache — the old eager checkpoint here was one more full
    # materialization job for data that already sits in the block store.
    ranks = flagged.select(
        "node", "dangling", F.lit(1.0 / n).alias("rank")
    )
    # The unpartitioned window that puts the dangling-mass scalar ON the
    # rank state (broadcast mode): one Exchange SinglePartition over ≤
    # threshold/64 rows, executed inside the superstep's checkpoint job.
    # Same value multiset as the shuffle layout's filter+aggregate, so
    # the exact sum is the same bits.
    w_all = Window.partitionBy()
    # coalesce: a sum of longs over no dangling node is NULL, which
    # would wipe every rank in the next update.
    dang_mass = F.coalesce(
        _exact_sum(F.when(F.col("dangling"), F.col("rank")), over=w_all),
        F.lit(0.0),
    )

    # Measured and rejected: two-supersteps-per-checkpoint in
    # broadcast mode (every other superstep left lazy — sound now that
    # the single-join shape references the previous rank state exactly
    # once, under its broadcast).  Interleaved min-of-7 at sf0.1: 3.59 s
    # lazy vs 3.51 s eager, and the REST job count did not move (23
    # both ways — the lazy superstep's window stage still materializes
    # as its own AQE stage job inside the next broadcast build, so no
    # driver round-trip is actually saved).  Kept the eager checkpoint.
    if broadcast_ranks:
        ranks = ranks.withColumn("d", dang_mass)
    for i in range(iterations):
        if broadcast_ranks:
            # ONE broadcast hash join per superstep: the rank vector
            # (with its dangling scalar) ships to the dst-partitioned
            # edge cache; the combine is node-local (zero shuffle) and
            # re-derives the node's dangling flag from its self row and
            # the global scalar from any row (d is constant across the
            # broadcast side).
            b_ranks = F.broadcast(ranks)
            ranks = (
                routed.join(b_ranks, routed["src"] == b_ranks["node"])
                .select(
                    F.col("dst").alias("node"),
                    ((F.col("rank") * F.col("w")) / F.col("out_w")).alias(
                        "c"
                    ),
                    "is_self",
                    "dangling",
                    "d",
                )
                .groupBy("node")
                .agg(
                    _exact_sum(F.col("c")).alias("s"),
                    F.max(
                        F.when(F.col("is_self"), F.col("dangling"))
                    ).alias("dangling"),
                    F.first("d").alias("d"),
                )
                .select(
                    "node",
                    "dangling",
                    (
                        F.lit(base)
                        + F.lit(damping)
                        * (F.col("s") + F.col("d") / F.lit(float(n)))
                    ).alias("rank"),
                )
            )
            # The last superstep's scalar would go unread, and its
            # single-partition window would leave the result in one
            # partition for every consumer downstream.
            if i + 1 < iterations:
                ranks = ranks.withColumn("d", dang_mass)
            ranks = ranks.localCheckpoint()
            continue
        # Shuffle layout (big graphs): dangling mass stays IN-PLAN as a
        # broadcast one-row scalar attach (the module's documented
        # crossJoin allow-list shape) — no per-superstep driver action;
        # the checkpoint is the one job.  coalesce: as in the window.
        dang = ranks.filter("dangling").agg(
            F.coalesce(_exact_sum(F.col("rank")), F.lit(0.0)).alias("d")
        )
        rank_side = ranks.withColumnRenamed("node", "src")
        sums = (
            rank_side.join(routed, "src")
            .select(
                F.col("dst").alias("node"),
                ((F.col("rank") * F.col("w")) / F.col("out_w")).alias("c"),
            )
            .groupBy("node")
            .agg(_exact_sum(F.col("c")).alias("s"))
        )
        ranks = (
            flagged.join(sums, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                "dangling",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (
                        F.coalesce("s", F.lit(0.0))
                        + F.col("d") / F.lit(float(n))
                    )
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    routed.unpersist()
    node_info.unpersist()
    edges.unpersist()
    return ranks.select("node", F.col("rank").alias("pagerank"))


def label_propagation(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
    w: str = "w",
) -> DataFrame:
    """Community detection by SYNCHRONOUS weighted label propagation
    (Raghavan et al. 2007), made fully deterministic: every node starts
    labeled with itself; each round every node adopts the label with
    the highest total incident edge weight among its neighbors' current
    labels, ties broken by the SMALLEST label.  Fixed iteration count —
    like the PageRank replay, determinism comes from pinning the
    schedule (synchronous, k rounds), not from convergence detection,
    so a SQL oracle can replay every round exactly.

    Scale shape (a driver loop of distributed supersteps): the
    undirected neighbor view is built once, weight-combined and
    persisted; each round is ONE equi-join (labels onto the neighbor
    side) + TWO combinable groupBys (vote sum per (node, label), then
    argmax per node as ``min(struct(-votes, label))`` — no windows, no
    per-round driver collect, all-integer arithmetic; the one driver
    action is the dispatch probe below).  ``localCheckpoint``
    truncates lineage per round.  Votes are exact int64 sums, so any
    engine agrees bit-for-bit.

    Vertex-mirroring dispatch (ported from
    ``pagerank_distributed``): when the label vector fits under the
    broadcast threshold (probed with one ``approx_count_distinct`` over
    the raw endpoints, 80 B/row — pagerank's 64 B/row sizing plus a
    1.25× margin for the ±5 % probe error), the labels broadcast each
    round and the neighbor view persists partitioned by **node**, so
    the vote join streams the static cache and BOTH groupBys are
    already node-clustered — a round runs with ZERO shuffle (the earlier
    shape exchanged labels into the join plus two aggregate exchanges
    per round).  Past the threshold that layout stays: neighbor view
    partitioned by **nbr** (the join key), shuffled vote aggregation.
    The probe is a DISPATCH probe: one eager
    ``approx_count_distinct(...).first()`` job runs while the plan is
    being BUILT, before any action on the result (and even when the
    result is never executed), because the layout it picks is part of
    the plan.
    The seed's eager ``localCheckpoint`` is gone in both modes (it
    re-materialized a projection of the persisted neighbor view; the
    same change to pagerank measured that job as pure overhead).  Both
    layouts run identical exact-integer arithmetic, so the dispatch
    never changes a bit of output.

    Returns (node, community) — community = the converged label.
    Self-loop edges are ignored (the standard LPA convention); a node
    whose ONLY edges are self-loops is isolated and absent from the
    output, like a node absent from the edge list.
    """
    probe = edges.agg(
        (
            F.approx_count_distinct(src) + F.approx_count_distinct(dst)
        ).alias("n")
    ).first()["n"]
    thresh_b = _broadcast_threshold_bytes(edges)
    broadcast_labels = thresh_b > 0 and probe * 80 <= thresh_b
    nb = (
        edges.select(
            F.col(src).alias("node"),
            F.col(dst).alias("nbr"),
            F.col(w).cast("long").alias("wt"),
        )
        .unionAll(
            edges.select(
                F.col(dst).alias("node"),
                F.col(src).alias("nbr"),
                F.col(w).cast("long").alias("wt"),
            )
        )
        # standard LPA ignores self-loops: a kept (a, a) edge would
        # appear in BOTH union branches (doubled weight) and let the
        # node vote for its own label, freezing it out of its true
        # community whenever the loop outweighs its strongest neighbor
        .filter(F.col("node") != F.col("nbr"))
        .groupBy("node", "nbr")
        .agg(F.sum("wt").alias("wt"))
        .repartition(F.col("node") if broadcast_labels else F.col("nbr"))
        .persist()
    )
    labels = nb.select("node").distinct().withColumn(
        "label", F.col("node")
    )
    for _ in range(iterations):
        lab_side = labels.withColumnRenamed("node", "nbr")
        if broadcast_labels:
            lab_side = F.broadcast(lab_side)
        votes = (
            nb.join(lab_side, "nbr")
            .groupBy("node", "label")
            .agg(F.sum("wt").alias("v"))
        )
        labels = (
            votes.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("v")).alias("nv"), F.col("label").alias("l")
                    )
                ).alias("m")
            )
            .select("node", F.col("m.l").alias("label"))
            .localCheckpoint()
        )
    nb.unpersist()
    return labels.select("node", F.col("label").alias("community"))


def cooccurrence_edges(
    df: DataFrame, group_col: str, item_col: str
) -> DataFrame:
    """Undirected distinct edge list (a < b) between items sharing a
    group (co-purchase graph: parts sharing an order).  The self-join
    fans out only WITHIN a group, so cost is Σ|group|² — linear when
    group sizes are bounded (lineitem: ≤ 7 lines per order), and the
    groups never shuffle against each other (equi-join on the group
    key).  Output is distinct edges, so multiplicity never inflates
    downstream triangle counts."""
    a = df.select(
        F.col(group_col).alias("g"), F.col(item_col).alias("a")
    ).distinct()
    b = a.select("g", F.col("a").alias("b"))
    return (
        a.join(b, "g")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    undirected graph given as distinct (a < b) edges.

    Degree-ORIENTED enumeration (the MapReduce-era standard: Suri &
    Vassilvitskii, WWW'11 "Counting triangles and the curse of the
    last reducer"): orient every edge from the (degree, id)-smaller
    endpoint to the larger, build wedges only from each node's
    OUT-neighbors, and close them against the oriented edge set.  Under
    this orientation every out-degree is O(√m) regardless of how
    skewed the raw degree distribution is — the celebrity node's
    Σdeg² wedge explosion (the "last reducer") cannot happen, which is
    what makes the plan survive a power-law graph at 100 TB.  Each
    triangle is enumerated exactly once.

    Shuffles: one degree agg, one wedge self-join on the apex, one
    close join on (v, w), one per-node count.  All equi-joins on ids —
    no crossJoin, no windows.  lcc = 2T / (d·(d−1)) as IEEE doubles
    (both factors exact integers ≪ 2^52, so any engine agrees
    bit-for-bit)."""
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("db"))
    ranked = edges.join(da, "a").join(db, "b")
    lower_is_a = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ranked.select(
        F.when(lower_is_a, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(lower_is_a, F.col("b")).otherwise(F.col("a")).alias("dst"),
    )
    e1 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    e2 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    wedges = e1.join(e2, "u").filter(F.col("v") < F.col("w"))
    closer = oriented.select(
        F.col("src").alias("cv"), F.col("dst").alias("cw")
    ).unionAll(
        # the closing edge may be oriented either way relative to (v, w)
        oriented.select(F.col("dst").alias("cv"), F.col("src").alias("cw"))
    )
    tris = wedges.join(
        closer,
        (F.col("v") == F.col("cv")) & (F.col("w") == F.col("cw")),
    ).select("u", "v", "w")
    per_node = (
        tris.select(F.explode(F.array("u", "v", "w")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return deg.join(per_node, "v", "left").select(
        F.col("v").alias("node"),
        F.col("deg").alias("degree"),
        F.coalesce("triangles", F.lit(0)).alias("triangles"),
        F.when(
            F.col("deg") >= 2,
            (F.lit(2.0) * F.coalesce("triangles", F.lit(0)))
            / (F.col("deg") * (F.col("deg") - 1)).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("lcc"),
    )


def association_rules(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_pair_count: int = 2,
) -> DataFrame:
    """Pairwise association rules (market-basket support / confidence /
    lift) from a (basket, item) relation — Agrawal & Srikant's Apriori
    restricted to 2-itemsets, which is the part that matters at scale
    (longer itemsets prune FROM these pairs).

    For each directional rule a→b over N baskets:
    ``support = n_ab/N``, ``confidence = n_ab/n_a``,
    ``lift = (n_ab·N)/(n_a·n_b)``.

    Scale shape: the pair generation fans out Σ|basket|² — linear for
    bounded baskets (lineitem: ≤7 lines/order) — and ``min_pair_count``
    prunes the pair table BEFORE the item-frequency joins (Apriori's
    support-threshold anti-monotonicity), so the joined relation is
    frequent-pairs-sized.  Item frequencies are one combinable groupBy,
    joined twice by equi-key (broadcastable while |items| is
    dimension-sized).  All ratios are double divisions of exact counts
    — any engine agrees bit-for-bit."""
    baskets = df.select(
        F.col(group_col).alias("g"), F.col(item_col).alias("i")
    ).distinct()
    n_baskets = baskets.select("g").distinct().count()
    item_n = baskets.groupBy("i").agg(F.count(F.lit(1)).alias("n_i"))
    b2 = baskets.select("g", F.col("i").alias("j"))
    pairs = (
        baskets.join(b2, "g")
        .filter(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= min_pair_count)
    )
    directed = pairs.select("i", "j", "n_both").unionAll(
        pairs.select(
            F.col("j").alias("i"), F.col("i").alias("j"), "n_both"
        )
    )
    na = item_n.select(F.col("i"), F.col("n_i").alias("n_ant"))
    nb = item_n.select(
        F.col("i").alias("j"), F.col("n_i").alias("n_cons")
    )
    nN = float(n_baskets)
    return (
        directed.join(na, "i")
        .join(nb, "j")
        .select(
            F.col("i").alias("antecedent"),
            F.col("j").alias("consequent"),
            "n_both",
            "n_ant",
            "n_cons",
            (F.col("n_both").cast("double") / F.lit(nN)).alias("support"),
            (
                F.col("n_both").cast("double")
                / F.col("n_ant").cast("double")
            ).alias("confidence"),
            (
                F.col("n_both").cast("double") * F.lit(nN)
                / (F.col("n_ant") * F.col("n_cons")).cast("double")
            ).alias("lift"),
        )
    )


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-core decomposition by SYNCHRONOUS peeling (Batagelj &
    Zaveršnik 2003): each round removes every node whose current
    degree is below ``k`` (and the edges touching it), simultaneously.
    Fixed round count — like the PageRank replay and LPA, determinism
    comes from pinning the schedule, not from convergence detection,
    so a SQL oracle can replay every round exactly; production runs
    loop until a fixpoint (each round strictly shrinks the edge set or
    the loop is done, so rounds ≤ the graph's degeneracy ordering
    depth, typically small).

    Scale shape (the :func:`label_propagation` superstep loop):
    each round is ONE combinable degree groupBy over the endpoint view
    + TWO semi-joins filtering the edge list — no windows, no driver
    collect, all-integer arithmetic, ``localCheckpoint`` truncating
    lineage per round.  Self-loops are dropped (a self-loop would give
    its node 2 phantom degrees and survive peeling forever).

    Measured and rejected (both on REST counters + interleaved
    min-of-5 at sf0.1): (a) explicit broadcast hints on the alive set's
    two semi-join references — AQE's runtime join selection ALREADY
    rewrites them to broadcast form when the materialized alive set is
    small (identical 58.96 MB shuffle with and without the hint; the
    hint only added a node-count probe job, 25→27 jobs), and past the
    threshold the shuffled semi-join is the correct plan anyway;
    (b) persisting the per-round alive set so its two semi-join builds
    share one degree aggregate — the per-round cache materialize +
    release churn cost more jobs than the duplicated aggregate saves
    (25→43 jobs, wall 4.44→4.43 s — neutral).  The current shape stands.

    Returns (node, degree): the endpoints of the surviving edge set
    with their degree AFTER the final round (if the fixpoint was
    reached, every degree is ≥ k — the k-core; otherwise it is the
    round-``rounds`` peel state, identical on both engines).
    """
    if k < 1 or rounds < 1:
        raise ValueError(f"need k >= 1 and rounds >= 1, got k={k} rounds={rounds}")
    es = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )

    def degrees(e: DataFrame) -> DataFrame:
        ends = e.select(F.col("src").alias("node")).unionAll(
            e.select(F.col("dst").alias("node"))
        )
        return ends.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))

    for _ in range(rounds):
        alive = degrees(es).filter(F.col("degree") >= k).select("node")
        es = (
            es.join(alive.withColumnRenamed("node", "src"), "src", "left_semi")
            .join(alive.withColumnRenamed("node", "dst"), "dst", "left_semi")
            .localCheckpoint()
        )
    return degrees(es)
