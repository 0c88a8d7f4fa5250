"""Iterative graph analytics on DataFrames: PageRank, triangle counting,
BFS, k-core peeling, and the driver-local endgame shared by the graph
fixpoints that can finish on the driver.

Connected components (the dedup workhorse) lives in
``operators/dedup.py``; this module adds the rank-propagation family.
The loop shape is the canonical iterative-Spark pattern: per round one
join (ranks onto edges) + one keyed aggregation (contributions by
destination), lineage truncated with lazy ``localCheckpoint`` so the
plan doesn't grow by a join per round. At 100 TB: pre-partition edges
and ranks by node id so the per-round join is co-partitioned, swap
``localCheckpoint`` for reliable ``checkpoint``.

Fixpoints whose depth is data-dependent (:func:`k_core` and the two
connected-components operators in ``operators/dedup.py``) share one
size-gated endgame, :func:`_local_edges`: over the pinned 2-column edge
set, one bounded Arrow collect either brings the whole graph to the
driver (integral node ids, at most ``_CC_LOCAL_MAX_EDGES`` rows) and
the fixpoint finishes in numpy on :func:`_local_index` with the
distributed loop's exact semantics, or declines, and the shuffle rounds
run from the same pinned blocks. :func:`bfs_distances` keeps its
shuffle rounds at every size. Below the ceiling a round's cost is job scheduling, not
computation, so one collect replaces a few eager jobs per round.

Engine-parity contract (same recipe as the IVF codebook training):
per-destination contribution sums run in DECIMAL(30,18) — exact and
order-independent, so results are bit-identical in any engine that
follows the recipe — with the scalar damping arithmetic in double.
An external SQL oracle reproduces the iterations verbatim
(``queries/analyticsq.py``).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Edge-row ceiling for the driver-local graph endgame (_local_edges).
# Its three consumers are k_core, dedup.connected_components and
# dedup.connected_components_star. At the ceiling the collected rows
# are two 64 MB int64 arrays; the index built on them (_local_index)
# peaks at about 0.75 GB more, so the Python driver grows by about
# 1 GB in all. Measured on a random graph of 7.9M edges over 2M nodes,
# local[4] on a 4-core Xeon: k_core takes 22.6 s locally against
# 66.1 s distributed. Override with SPARK_GRAFT_CC_LOCAL_MAX_EDGES (0
# disables the endgame entirely).
_CC_LOCAL_MAX_EDGES = int(
    os.environ.get("SPARK_GRAFT_CC_LOCAL_MAX_EDGES", str(8_000_000))
)

_LOCAL_INT_TYPES = {"tinyint", "smallint", "int", "bigint"}


def _local_admits(edges: DataFrame, max_edges: int | None = None) -> bool:
    """The part of the endgame's gate the schema decides, without a
    job: a positive ceiling and integral ids in both columns. Callers
    whose distributed loop reads ``edges`` only once pin them only when
    this holds, because only then does the bounded collect read them
    first."""
    if max_edges is None:
        max_edges = _CC_LOCAL_MAX_EDGES
    return max_edges > 0 and all(
        f.dataType.simpleString() in _LOCAL_INT_TYPES for f in edges.schema
    )


def _local_edges(
    edges: DataFrame, max_edges: int | None = None
) -> tuple[np.ndarray, np.ndarray] | None:
    """Gate and collect of the driver-local endgame, as ONE job.

    ``edges`` is a 2-column edge set over blocks the caller pinned
    with ``localCheckpoint``. Returns its two columns as int64 numpy
    arrays when :func:`_local_admits` holds, no id is null and the set has at
    most ``max_edges`` rows (default ``_CC_LOCAL_MAX_EDGES``), else
    ``None``. The size gate is the collect itself —
    ``limit(max_edges + 1)`` over the pinned blocks — so a graph under
    the ceiling costs one Arrow collect. A graph above it costs that
    job too: up to ``max_edges + 1`` rows reach the driver and are
    discarded before the caller's distributed loop runs from the same
    pinned blocks. A lazy pin (``eager=False``) is materialized by this
    collect, which saves the count job an eager pin runs.
    """
    if max_edges is None:
        max_edges = _CC_LOCAL_MAX_EDGES
    if not _local_admits(edges, max_edges):
        return None
    pdf = (
        edges.select(
            *[F.col(c).cast("long").alias(a) for c, a in zip(edges.columns, "ab")]
        )
        .limit(max_edges + 1)
        .toPandas()
    )
    if len(pdf) > max_edges or pdf.isna().to_numpy().any():
        return None
    return (
        pdf["a"].to_numpy(dtype=np.int64),
        pdf["b"].to_numpy(dtype=np.int64),
    )


def _local_index(
    a: np.ndarray, b: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Node index of the collected endpoint arrays, for the numpy
    finishes. ``nodes`` is the sorted set of endpoints of every row,
    self-loop rows included. ``si``/``di`` index into ``nodes`` and
    hold the bidirectional, self-loop-free, distinct edge set, the set
    the distributed :func:`k_core` loop builds in Spark. Each pair is
    oriented and keyed as one int64 and deduplicated before it is
    mirrored, so the second sort runs over one key per collected row,
    not over mirrored row pairs. The inverse comes from the first sort: a binary search of
    every endpoint into ``nodes`` is several times slower once
    ``nodes`` outgrows the CPU caches."""
    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ia, ib = inv[: len(a)], inv[len(a) :]
    edge = ia != ib
    key = np.unique(
        np.minimum(ia, ib)[edge] * len(nodes) + np.maximum(ia, ib)[edge]
    )
    lo, hi = np.divmod(key, len(nodes))
    return nodes, np.concatenate([lo, hi]), np.concatenate([hi, lo])


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
    n_iter: int = 3,
    broadcast_ranks: bool = False,
    tol: float | None = None,
    dangling: str = "none",
) -> DataFrame:
    """PageRank over a directed edge list, up to ``n_iter`` synchronous
    iterations from the uniform start: r₀ = 1/N and

        r_{t+1}(v) = (1−d)/N + d · (Σ_{u→v} r_t(u) / outdeg(u) [+ m_t/N]).

    ``dangling`` picks the treatment of nodes with no out-edges:

    * ``"none"`` (default): a dangling node absorbs rank (total mass
      < 1) — callers add reverse edges or a sink node when they want
      conservation. This is the oracle-mirrored mode.
    * ``"redistribute"``: the stochastic-matrix variant — each round
      the dangling mass m_t (DECIMAL sum of dangling nodes' ranks, so
      order-independent) is spread uniformly, the ``m_t/N`` term
      above. Total mass stays 1 every round; one bounded scalar
      collect per round (same cost class as the tol check).

    ``tol`` (optional) adds convergence termination: iteration stops
    early once the L1 delta Σ|r_{t+1} − r_t| drops below ``tol``.
    Costs one keyed self-join + scalar collect per round — a driver
    round-trip a fixed-iteration loop doesn't pay, which is why it's
    opt-in; ``n_iter`` remains the hard cap either way.

    Deterministic: the contribution sum is DECIMAL
    (order-independent), every other step is double arithmetic on
    identical inputs.

    Per iteration: one equi-join of the 2-column rank table onto the
    edges and one sum keyed by destination — both shuffles keyed by
    node id, so bucketing both tables by node makes the loop
    exchange-free on a cluster. Node payloads never enter the loop.

    ``broadcast_ranks=True`` ships the rank table to every executor
    instead of shuffling the edge list each round — strictly better
    WHEN |V| fits the broadcast threshold (a 16-byte-row rank table:
    ~10M nodes per 160 MB); the shuffle-join default is the path that
    scales to arbitrary |V|.
    """
    if dangling not in ("none", "redistribute"):
        raise ValueError(f"dangling must be 'none'|'redistribute': {dangling}")
    # The 2-column edge list is consumed three times before the loop
    # (out-degree build, degree-join probe, node set); each un-pinned
    # consumption replays the caller's edge construction — for the
    # purchase graph a 60 M-row join + distinct + union, ~25 s per
    # replay at sf10. Pinning it here was MEASURED AND REJECTED for
    # the local profile: localCheckpoint holds deserialized rows, and
    # 117 M edges in the 8 GB local heap spill-thrashed the whole
    # query 152 s → 736 s (SCALE.md round-9 stage accounting). On a
    # real cluster the same replay cost is what bucketing or a
    # reliable ``checkpoint`` to distributed storage removes — pin
    # there, not here.
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # Degree rides the edge table through the loop (computed once).
    ed = e.join(deg, "src").localCheckpoint()
    # The node set reads the PINNED ed, not e: every node appears as a
    # src or dst of some edge (nodes are defined by the edge list), so
    # the sets are identical — and deriving it downstream of the
    # checkpoint drops one full replay of the caller's edge
    # construction (round-9 stage accounting: the un-pinned e is the
    # expensive input, consumed by the deg build and the join probe;
    # this was its third consumption).
    nodes = (
        ed.select(F.col("src").alias("node"))
        .union(ed.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:  # empty edge list: empty rank table, not a ZeroDivision
        return nodes.withColumn("rank", F.lit(0.0))
    if dangling == "redistribute":
        # Node-level dangling flag, computed once (nodes absent from
        # the out-degree table).
        dang = nodes.join(
            deg.withColumnRenamed("src", "node"), "node", "left_anti"
        ).localCheckpoint()

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    for _ in range(n_iter):
        prev = ranks
        r = ranks.withColumnRenamed("node", "src")
        if broadcast_ranks:
            r = F.broadcast(r)
        contrib = (
            ed.join(r, "src")
            .select(
                "dst",
                (F.col("rank") / F.col("outdeg"))
                .cast("decimal(30,18)")
                .alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        extra = 0.0
        if dangling == "redistribute":
            row = (
                dang.join(ranks, "node")
                .agg(F.sum(F.col("rank").cast("decimal(30,18)")).alias("m"))
                .first()
            )
            m = float(row["m"]) if row["m"] is not None else 0.0
            extra = damping * m / n
        ranks = (
            nodes.join(contrib.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                (
                    F.lit(base + extra)
                    + F.lit(damping)
                    * F.coalesce(F.col("s").cast("double"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
        if tol is not None:
            delta = (
                ranks.withColumnRenamed("rank", "r_new")
                .join(prev.withColumnRenamed("rank", "r_old"), "node")
                .agg(F.sum(F.abs(F.col("r_new") - F.col("r_old"))).alias("d"))
                .first()["d"]
            )
            if delta is not None and delta < tol:
                break
    return ranks


def cooccurrence_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_support: int = 2,
    max_group_size: int | None = 100_000,
    on_oversize: str = "error",
) -> DataFrame:
    """Weighted co-occurrence edge list: ``(u, v, w)`` where u < v are
    items sharing a group and ``w`` counts the shared groups, kept at
    ``w >= min_support``. Built by collecting each group's distinct
    sorted item set and exploding its C(n,2) combinations — one keyed
    shuffle, versus two for the naive distinct + self-join on the
    group key (and the array form never materializes the join's hash
    table of the whole item set per key). Per-group work is C(n,2);
    ``max_group_size`` caps it in the operator itself (same contract
    as the LSH ``max_bucket_size`` guard): a pathological mega-group
    — one group containing 1% of all items would materialize ~10^9
    pair structs in a single task — must not OOM an executor. Pass
    ``None`` to disable (only when the group domain is known-bounded).

    No silent caps: ``on_oversize`` picks what happens when the cap
    would engage, evaluated inside the normal pass (no extra job):

    - ``"error"`` (default): fail the job via a plan-embedded
      ``raise_error`` — the assert-not-engaged contract the production
      graph queries rely on (results are never quietly incomplete).
    - ``"observe"``: drop over-cap groups but count them with
      ``DataFrame.observe``; the ``Observation`` is exposed as
      ``result.oversize_observation`` (metric key
      ``oversize_groups_dropped``) so callers can alert after the
      action completes.
    - ``"drop"``: documented silent drop — explicit opt-in only.
    """
    if on_oversize not in ("error", "observe", "drop"):
        raise ValueError(f"on_oversize: {on_oversize!r}")
    sets = (
        df.select(F.col(group_col).alias("g"), F.col(item_col).alias("it"))
        .groupBy("g")
        .agg(F.array_sort(F.collect_set("it")).alias("items"))
        .where(F.size("items") >= 2)
    )
    observation = None
    if max_group_size is not None:
        if on_oversize == "error":
            # The filter predicate is evaluated for every group during
            # the normal pass; an over-cap group detonates the job
            # instead of silently vanishing from the edge list.
            sets = sets.where(
                F.when(
                    F.size("items") > max_group_size,
                    F.raise_error(
                        F.concat(
                            F.lit(
                                "cooccurrence_edges: group exceeds "
                                f"max_group_size={max_group_size}: "
                            ),
                            F.col("g").cast("string"),
                            F.lit(" size="),
                            F.size("items").cast("string"),
                        )
                    ).cast("boolean"),
                ).otherwise(F.lit(True))
            )
        else:
            if on_oversize == "observe":
                from pyspark.sql import Observation

                observation = Observation()
                sets = sets.observe(
                    observation,
                    F.sum(
                        (F.size("items") > max_group_size).cast("long")
                    ).alias("oversize_groups_dropped"),
                )
            sets = sets.where(F.size("items") <= max_group_size)
    pairs = sets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("items"),
                    lambda x, i: F.transform(
                        F.slice(
                            F.col("items"), i + 2, F.size(F.col("items"))
                        ),
                        lambda y: F.struct(
                            x.alias("u"), y.alias("v")
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.u", "p.v")
    out = (
        pairs.groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("w") >= min_support)
    )
    if observation is not None:
        out.oversize_observation = observation
    return out


def oriented_triangles(
    edges: DataFrame, u_col: str = "u", v_col: str = "v"
) -> tuple[DataFrame, DataFrame]:
    """Enumerate each triangle of an undirected edge list exactly once
    via the degree-ordered orientation (the triangles_per_node core,
    extracted in round 11 so edge-support can reuse it): returns
    ``(tri, canonical)`` where ``tri`` has one row (a, b, c) per
    triangle and ``canonical`` is the deduped self-loop-free u<v edge
    set the triangles were found over. See triangles_per_node for the
    complexity argument."""
    e = (
        edges.select(
            F.least(u_col, v_col).alias("u"),
            F.greatest(u_col, v_col).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # Orient by (deg, id): lower endpoint → higher endpoint.
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    oriented = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("d")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("d")))
            .alias("o")
        )
        .select(F.col("o.s").alias("s"), F.col("o.d").alias("d"))
        .localCheckpoint()
    )
    w1 = oriented.select(F.col("s").alias("a"), F.col("d").alias("b"))
    w2 = oriented.select(F.col("s").alias("a"), F.col("d").alias("c"))
    wedges = w1.join(w2, "a").where(F.col("b") < F.col("c"))
    # NB: union is positional — keep both branches in (b, c) column order.
    closing = oriented.select(F.col("s").alias("b"), F.col("d").alias("c")).union(
        oriented.select(F.col("d").alias("b"), F.col("s").alias("c"))
    )
    tri = wedges.join(closing, ["b", "c"])
    return tri.select("a", "b", "c"), e


def triangles_per_node(
    edges: DataFrame, u_col: str = "u", v_col: str = "v"
) -> DataFrame:
    """Per-node triangle counts over an undirected edge list, via the
    degree-ordered orientation (Suri & Vassilvitskii's MR triangle
    counting): orient every edge from the endpoint with smaller
    ``(degree, id)`` to the larger, so each node's out-degree is
    O(√m) and the wedge join (out-edges ⋈ out-edges on the pivot)
    touches Σ outdeg(a)² = O(m^1.5) rows instead of Σ deg(a)² — the
    bound that makes triangle counting feasible on a 100 TB edge set.
    A wedge a→b, a→c closes iff the oriented edge b→c exists; each
    triangle is found exactly once, then exploded to its 3 vertices.
    Self-loops are dropped up front (an oriented u→u would otherwise
    fabricate a wedge that "closes" through any real neighbor).

    All three steps are equi-joins / keyed aggregations (shuffle on
    node id); no cross join, no driver-side collection. The canonical
    edge set and the oriented set are each consumed by several plan
    branches, so both are lineage-truncated with ``localCheckpoint``
    (otherwise the upstream edge construction replays per branch).
    Returns ``(node, n_triangles)`` for nodes in ≥1 triangle.
    """
    tri, _ = oriented_triangles(edges, u_col, v_col)
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def triangle_support_per_edge(
    edges: DataFrame, u_col: str = "u", v_col: str = "v"
) -> DataFrame:
    """Per-EDGE triangle counts (the k-truss "support"): each triangle
    (a, b, c) found once by the oriented enumeration contributes to its
    three canonical u<v edges; edges in no triangle keep support 0 via
    a left join from the canonical edge set. Support >= k-2 is exactly
    the k-truss membership condition, so this is the peel-step primitive
    — same O(m^1.5) wedge bound and all-equi-join shape as
    triangles_per_node."""
    tri, canonical = oriented_triangles(edges, u_col, v_col)
    tri_edges = tri.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("a", "b").alias("u"),
                    F.greatest("a", "b").alias("v"),
                ),
                F.struct(
                    F.least("a", "c").alias("u"),
                    F.greatest("a", "c").alias("v"),
                ),
                F.struct(
                    F.least("b", "c").alias("u"),
                    F.greatest("b", "c").alias("v"),
                ),
            )
        ).alias("e")
    ).select("e.u", "e.v")
    sup = tri_edges.groupBy("u", "v").agg(
        F.count(F.lit(1)).alias("support")
    )
    return canonical.join(sup, ["u", "v"], "left").select(
        "u", "v", F.coalesce("support", F.lit(0)).cast("long").alias("support")
    )


def bfs_distances(
    edges: DataFrame,
    source,
    u_col: str = "u",
    v_col: str = "v",
    max_hops: int = 6,
) -> DataFrame:
    """Single-source shortest hop-distances over an undirected edge
    list, bounded at ``max_hops`` — synchronous frontier BFS, the
    Pregel iteration as DataFrames. Per round: one equi-join of the
    current frontier onto the (bidirectional) edge list + one
    left-anti join against the visited set; both shuffle on node id,
    so pre-partitioning edges by node makes rounds exchange-free.
    Work per round is O(edges touched by the frontier), never O(V²);
    ``localCheckpoint`` truncates lineage so the plan stays flat.

    Returns ``(node, dist)`` for every node within ``max_hops``.
    """
    bidir = edges.select(
        F.col(u_col).alias("s"), F.col(v_col).alias("d")
    ).union(edges.select(F.col(v_col).alias("s"), F.col(u_col).alias("d")))
    bidir = bidir.where(F.col("s") != F.col("d")).distinct().localCheckpoint()

    visited = (
        bidir.sparkSession.range(1)
        .select(F.lit(source).alias("node"), F.lit(0).cast("int").alias("dist"))
        .localCheckpoint()
    )
    frontier = visited
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(bidir, frontier["node"] == bidir["s"])
            .select(F.col("d").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .withColumn("dist", F.lit(hop).cast("int"))
        )
        nxt = nxt.localCheckpoint()
        if nxt.isEmpty():
            break
        visited = visited.union(nxt).localCheckpoint()
        frontier = nxt
    return visited


def k_core(
    edges: DataFrame,
    k: int,
    u_col: str = "u",
    v_col: str = "v",
    max_rounds: int = 50,
) -> DataFrame:
    """Nodes of the ``k``-core of an undirected graph: iteratively peel
    every node with degree < k until a fixpoint (Matula & Beck's
    peeling, the degeneracy primitive behind dense-community and spam
    detection).

    The edge list is made bidirectional, self-loops dropped and
    duplicates removed (in numpy on the local path, by one shuffle on
    the distributed one). Each round peels EVERY node whose degree is
    below ``k`` at the same time (synchronous rounds), for at most
    ``max_rounds`` rounds; the loop exits early the first round
    nothing peels. Two paths run that same rule:

    * under the driver-local ceiling (:func:`_local_edges`: integral
      node ids, at most ``_CC_LOCAL_MAX_EDGES`` rows), one bounded
      collect brings the edge list to the driver and the peel runs in
      numpy — a fixed few jobs whatever the number of rounds;
    * above it, each round is one grouped degree count (pinned once,
      then probed for emptiness on the pinned blocks) + two anti-joins
      removing the peeled endpoints — every step an equi-shuffle on
      node id, so bucketing edges by node makes rounds exchange-free,
      and ``localCheckpoint`` truncates the growing lineage. Work per
      round is O(remaining edges), never O(V²).

    When the ids are integral the edge list is pinned lazily first, so
    a graph that turns out to be above the ceiling builds its
    distributed set from the blocks the collect materialized instead
    of replaying the caller's plan. That path therefore holds one more
    pinned copy of the edge list and pays for the discarded collect of
    up to ``_CC_LOCAL_MAX_EDGES`` rows.

    Returns ``(node, degree)`` for the surviving core (degree within
    the core, >= k at the fixpoint); ``node`` keeps the input's node
    type and ``degree`` is bigint. ``kcore_rounds`` on the result is
    the number of rounds that peeled something, identical on both
    paths.
    """
    st = edges.select(F.col(u_col).alias("s"), F.col(v_col).alias("d"))
    if _local_admits(st):
        st = st.localCheckpoint(eager=False)
    rounds_used = 0
    local = _local_edges(st)
    if local is not None:
        nodes, si, di = _local_index(*local)
        alive = np.ones(len(si), dtype=bool)
        deg = np.bincount(si, minlength=len(nodes))
        for _ in range(max_rounds):
            # deg == 0 nodes have left the graph (or only ever had
            # self-loops); the distributed degree count never sees them
            low = (deg > 0) & (deg < k)
            if not low.any():
                break
            rounds_used += 1
            alive &= ~(low[si] | low[di])
            deg = np.bincount(si[alive], minlength=len(nodes))
        keep = deg > 0
        out = st.sparkSession.createDataFrame(
            pd.DataFrame({"node": nodes[keep], "degree": deg[keep]}),
            "node bigint, degree bigint",
        ).select(F.col("node").cast(st.schema["s"].dataType), "degree")
    else:
        cur = (
            st.union(st.select(F.col("d").alias("s"), F.col("s").alias("d")))
            .where(F.col("s") != F.col("d"))
            .distinct()
            .localCheckpoint()
        )
        for _ in range(max_rounds):
            low = (
                cur.groupBy("s")
                .agg(F.count(F.lit(1)).alias("deg"))
                .filter(F.col("deg") < k)
                .select("s")
                .localCheckpoint()
            )
            if low.isEmpty():
                break
            rounds_used += 1
            lx = low.withColumnRenamed("s", "x")
            cur = (
                cur.join(lx, cur.s == lx.x, "left_anti")
                .join(lx, F.col("d") == lx.x, "left_anti")
                .localCheckpoint()
            )
        out = cur.groupBy(F.col("s").alias("node")).agg(
            F.count(F.lit(1)).alias("degree")
        )
    # Peeling rounds actually executed (fixpoint depth) — exposed so
    # callers with a fixed-unroll oracle can assert a safety margin.
    out.kcore_rounds = rounds_used
    return out


def adamic_adar(
    edges: DataFrame,
    max_neighbor_degree: int | None = None,
    on_overcap: str = "error",
) -> DataFrame:
    """Adamic-Adar link-prediction scores for all non-adjacent pairs:
    ``(u, v, common_neighbors, aa_score)`` with
    score(u,v) = Σ_{w ∈ N(u)∩N(v)} 1/ln(deg(w)).

    ``edges`` is an undirected edge list ``(u, v)`` with u < v, no
    duplicates. Candidate pairs come from the wedge equi-join on the
    shared-neighbor key — never an all-pairs comparison; degrees
    attach to the adjacency rows BEFORE the wedge join so no
    post-explosion lookup is needed. Every shared neighbor has
    deg ≥ 2 by construction, so ln(deg) > 0.

    Scale guard: the wedge fan-out is Σ_w deg(w)² — a hub-skewed
    graph (one celebrity node adjacent to 1% of a 100 TB corpus)
    detonates it quadratically. ``max_neighbor_degree`` bounds the
    blow-up by dropping SHARED-NEIGHBOR roles above the cap (each
    contributes ≤ 1/ln(cap) per pair, so high-degree hubs carry the
    least per-pair signal — the standard mitigation). Like
    :func:`cooccurrence_edges`, the cap is never silent:

    - ``"error"`` (default): a plan-embedded ``raise_error`` fails the
      job if any neighbor exceeds the cap — the assert-not-engaged
      contract for queries whose oracle mirrors the cap.
    - ``"observe"``: drop over-cap wedge centers but count the wedges
      that vanish with ``DataFrame.observe``; exposed as
      ``result.overcap_observation`` (metric key
      ``capped_wedges_dropped`` = Σ_{deg(w)>cap} C(deg(w), 2)).
    - ``"drop"``: documented silent drop — explicit opt-in only.

    Float parity (for cross-engine oracles): the per-pair score folds
    cnt/ln(deg) over the degree-sorted (deg, cnt) list in pinned order
    and rounds to 6 decimals to absorb ln() ulp differences.
    """
    if on_overcap not in ("error", "observe", "drop"):
        raise ValueError(f"on_overcap: {on_overcap!r}")
    edges = edges.select("u", "v").localCheckpoint()  # adjacency ×2 + anti-join
    adj = edges.select(
        F.col("u").alias("node"), F.col("v").alias("nbr")
    ).unionAll(edges.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("k"))
    observation = None
    if max_neighbor_degree is not None:
        cap = int(max_neighbor_degree)
        if on_overcap == "error":
            deg = deg.where(
                F.when(
                    F.col("k") > cap,
                    F.raise_error(
                        F.concat(
                            F.lit(
                                "adamic_adar: neighbor degree exceeds "
                                f"max_neighbor_degree={cap}: node="
                            ),
                            F.col("node").cast("string"),
                            F.lit(" deg="),
                            F.col("k").cast("string"),
                        )
                    ).cast("boolean"),
                ).otherwise(F.lit(True))
            )
        else:
            if on_overcap == "observe":
                from pyspark.sql import Observation

                observation = Observation()
                deg = deg.observe(
                    observation,
                    F.sum(
                        F.when(
                            F.col("k") > cap,
                            F.col("k") * (F.col("k") - 1) / 2,
                        ).otherwise(F.lit(0)).cast("long")
                    ).alias("capped_wedges_dropped"),
                )
            # dropping the DEGREE row removes the node only in its
            # wedge-center (shared-neighbor) role; it still appears as
            # an endpoint of other wedges, which is the semantics the
            # oracle mirror (WHERE k <= cap in the degree CTE) has.
            deg = deg.where(F.col("k") <= cap)
    adjd = adj.join(
        deg.select(F.col("node").alias("nbr"), F.col("k").alias("kw")),
        "nbr",
    )
    a, b = adjd.alias("a"), adjd.alias("b")
    wedge = a.join(
        b,
        (F.col("a.nbr") == F.col("b.nbr"))
        & (F.col("a.node") < F.col("b.node")),
    ).select(
        F.col("a.node").alias("u"),
        F.col("b.node").alias("v"),
        F.col("a.kw").alias("kw"),
    )
    cand = wedge.join(edges, ["u", "v"], "left_anti")
    gt = cand.groupBy("u", "v", "kw").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    out = gt.groupBy("u", "v").agg(
        F.sum("cnt").cast("long").alias("common_neighbors"),
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("kw", "cnt"))),
                F.lit(0.0),
                lambda acc, s: acc
                + s["cnt"].cast("double") / F.log(s["kw"].cast("double")),
            ),
            6,
        ).alias("aa_score"),
    )
    out.overcap_observation = observation
    return out


def label_propagation(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Community detection by synchronous label propagation with a
    FIXED round count and deterministic tie-breaking: labels start as
    node ids; each round every node adopts the MODE of its neighbors'
    labels, ties to the SMALLEST label. The fixed unroll is the
    determinism contract (the k_core posture) — synchronous LPA can
    oscillate on bipartite-ish structure, and a convergence loop would
    make the result run-dependent; R rounds from the id start is a
    pure function of the graph on every engine.

    ``edges`` is the canonical undirected (u < v) list. Per round: one
    equi-join (adjacency ⋈ labels on the neighbor key) + one grouped
    count + one per-node argmax — all hash exchanges on node keys, the
    shape that bucketed edges make exchange-free at 100 TB. Labels are
    lazily checkpointed per round to cut lineage growth.

    Returns ``(node, community)`` — the community id is the label that
    survived round R (a node id, stable across runs).
    """
    edges = edges.select("u", "v").localCheckpoint()
    adj = edges.select(
        F.col("u").alias("node"), F.col("v").alias("nbr")
    ).unionAll(edges.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
    labels = adj.select("node").distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(int(rounds)):
        cnt = (
            adj.join(
                labels.select(F.col("node").alias("nbr"), "lbl"), "nbr"
            )
            .groupBy("node", "lbl")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        # argmax by (count DESC, label ASC): max over (cnt, -lbl)
        labels = (
            cnt.groupBy("node")
            .agg(
                F.max(
                    F.struct(F.col("cnt"), (-F.col("lbl")).alias("nl"))
                ).alias("m")
            )
            .select("node", (-F.col("m.nl")).alias("lbl"))
            .localCheckpoint(eager=False)
        )
    return labels.select("node", F.col("lbl").alias("community"))


def ktruss_decomposition(
    edges: DataFrame,
    u_col: str = "u",
    v_col: str = "v",
    k_max: int = 5,
    max_rounds: int = 6,
) -> list[tuple[int, int, int]]:
    """Sequential k-truss peel over an undirected edge list: for each
    k = 3..``k_max``, iteratively remove edges with triangle support
    < k−2 (recomputing support each round) until a fixpoint, starting
    each level from the previous level's truss (valid because the
    (k+1)-truss is a subset of the k-truss). Returns bounded driver
    rows ``(k, truss_edges, truss_nodes)`` — the trained-codebook
    posture: the loop runs distributed (each round is one oriented
    triangle enumeration, the O(m^1.5) equi-join shape of
    :func:`triangle_support_per_edge`), only the per-level COUNTS come
    back to the driver.

    ``max_rounds`` bounds the per-level peel and is MIRRORED by the
    oracle's unrolled CTE chain — not a silent cap: both engines stop
    after the same round count, so the contract stays exact even if a
    pathological cascade outruns the bound (measured fixpoints on the
    co-purchase graph: ≤ 3 rounds per level at sf0.01/sf0.1, bound 6).
    Each round's survivor set is lineage-truncated (localCheckpoint) —
    an un-truncated peel replays every prior round's triangle join
    per action, going quadratic in rounds.
    """
    e = (
        edges.select(
            F.least(u_col, v_col).alias("u"),
            F.greatest(u_col, v_col).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    # Orient ONCE by the initial graph's (degree, id) order and reuse
    # the orientation for every peel round: any acyclic orientation
    # enumerates each triangle of any SUBGRAPH exactly once, and the
    # initial degree order keeps the wedge bound at the first round's
    # O(m^1.5) (it can only loosen as edges leave). Re-orienting per
    # round (the triangle_support_per_edge path) re-derives degrees,
    # re-canonicalizes, and double-checkpoints every round — measured
    # ~2x the whole peel's cost at sf1.
    deg = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    cur = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("d")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("d")))
            .alias("o")
        )
        .select(F.col("o.s").alias("s"), F.col("o.d").alias("d"))
        .localCheckpoint()
    )
    n = cur.count()
    out: list[tuple[int, int, int]] = []
    for k in range(3, k_max + 1):
        for _ in range(max_rounds):
            if n == 0:
                break
            w1 = cur.select(F.col("s").alias("a"), F.col("d").alias("b"))
            w2 = cur.select(F.col("s").alias("a"), F.col("d").alias("c"))
            wedges = w1.join(w2, "a").where(F.col("b") < F.col("c"))
            closing = cur.select(
                F.col("s").alias("b"), F.col("d").alias("c")
            ).union(cur.select(F.col("d").alias("b"), F.col("s").alias("c")))
            tri = wedges.join(closing, ["b", "c"]).select("a", "b", "c")
            tri_edges = tri.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.least("a", "b").alias("s"),
                            F.greatest("a", "b").alias("d"),
                        ),
                        F.struct(
                            F.least("a", "c").alias("s"),
                            F.greatest("a", "c").alias("d"),
                        ),
                        F.struct(
                            F.least("b", "c").alias("s"),
                            F.greatest("b", "c").alias("d"),
                        ),
                    )
                ).alias("t")
            ).select("t.s", "t.d")
            sup = tri_edges.groupBy("s", "d").agg(
                F.count(F.lit(1)).alias("support")
            )
            # an oriented edge (s, d) has s < d OR s > d depending on
            # the degree rule; canonical support rows are (min, max),
            # so probe both orders with one keyed join on the
            # canonical pair
            keep = (
                cur.withColumn("cs", F.least("s", "d"))
                .withColumn("cd", F.greatest("s", "d"))
                .join(
                    sup.withColumnRenamed("s", "cs").withColumnRenamed(
                        "d", "cd"
                    ),
                    ["cs", "cd"],
                )
                .filter(F.col("support") >= k - 2)
                .select("s", "d")
                .localCheckpoint()
            )
            n_new = keep.count()
            cur = keep
            if n_new == n:
                break
            n = n_new
        n_nodes = (
            cur.select(F.col("s").alias("nd"))
            .union(cur.select(F.col("d").alias("nd")))
            .distinct()
            .count()
            if n
            else 0
        )
        out.append((k, n, n_nodes))
    return out
