"""Graph analytics over edge DataFrames.

Connected components (min-label propagation) lives in operators/dedup.py
where near-dup clustering consumes it; this module carries the other
classic iterative graph op — PageRank — in the standard Spark
formulation: ranks as a (node, rank) DataFrame, one contribution
shuffle per iteration.

Scale design (100 TB):
- Per iteration: ranks ⋈ out-degrees (broadcast when the node table is
  small, shuffle otherwise), explode contributions along edges, one
  map-side-combined groupBy(dst). Iterations are driver-coordinated but
  each is a fully distributed pass — the standard Pregel-style loop.
- ``localCheckpoint`` every ``PAGERANK_CHECKPOINT_EVERY`` rounds cuts the
  lineage chain that would otherwise grow linearly with iterations (the
  other iterative operators checkpoint per round via ``fixpoint.iterate``).
- Dangling nodes (no out-edges) leak rank mass by design in the simple
  formulation; ``redistribute_dangling=True`` adds the textbook
  correction (dangling mass spread uniformly) at the cost of one extra
  tiny aggregate per iteration.

No counterpart in the reference (pandas/psycopg2 pipeline); part of the
engine's iterative-algorithm surface alongside k-means and CC.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .fixpoint import iterate

__all__ = [
    "pagerank",
    "degree_stats",
    "triangle_counts",
    "triangle_estimate",
    "kcore_members",
    "clustering_coefficients",
    "kcore_oracle_sql",
    "triangle_estimate_oracle_sql",
    "label_propagation",
    "lpa_oracle_sql",
    "seed_distances",
    "bfs_oracle_sql",
    "community_modularity",
    "modularity_oracle_sql",
    "link_prediction",
    "link_prediction_oracle_sql",
]

#: pagerank checkpoints its ranks every this many iterations and after the
#: last one (a per-round checkpoint measured more jobs and more wall time)
PAGERANK_CHECKPOINT_EVERY = 4


def degree_stats(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node (node, out_degree, in_degree) — two map-side-combined
    aggs + one outer join on the node id."""
    out_d = edges.groupBy(F.col(src).alias("node")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    in_d = edges.groupBy(F.col(dst).alias("node")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        out_d.join(in_d, "node", "full_outer")
        .na.fill({"out_degree": 0, "in_degree": 0})
    )


def pagerank(
    edges: DataFrame,
    iters: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    redistribute_dangling: bool = True,
) -> DataFrame:
    """PageRank over a directed edge list: returns (node, rank) with
    ranks summing to the node count (uniform start = 1.0 each); an empty
    edge list gives an empty (node, rank) frame.

    Deterministic given a partitioning; across partitionings ranks agree
    to float tolerance (contribution sums reduce in partition order).
    """
    # materialize the (possibly expensive) edge plan ONCE: the
    # contribution join re-reads the edge set every iteration and the
    # out-degree build scans it again, so an un-pinned derived edges
    # plan (supplier_pagerank's lineitem⋈orders + distinct) would
    # re-execute ~2x per iteration — ~17 executions over 8 rounds
    # (the connected_components materialize-once discipline)
    edges = edges.select(src, dst).localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.withColumn("rank", F.lit(1.0))
    # node-cardinality; pinned once for the same reason — every
    # iteration's rank⋈degree join reads it
    out_deg = edges.groupBy(F.col(src).alias("node")).agg(
        F.count(F.lit(1)).alias("out_degree")
    ).localCheckpoint(eager=True)
    ranks = nodes.withColumn("rank", F.lit(1.0))
    pinned: list[DataFrame] = []
    for i in range(iters):
        with_deg = ranks.join(out_deg, "node", "left")
        if redistribute_dangling:
            # persist: the dangling-mass aggregate and the contribution
            # join both consume with_deg — uncached, the aggregate would
            # recompute the whole rank lineage (every join since the last
            # checkpoint) as a second full job per iteration. Kept pinned
            # until the next localCheckpoint cuts the lineage (unpersisting
            # sooner would force the contribution join to recompute it).
            with_deg = with_deg.persist()
            pinned.append(with_deg)
            dangling = (
                with_deg.filter(F.col("out_degree").isNull())
                .agg(F.sum("rank"))
                .first()[0]
                or 0.0
            )
        else:
            dangling = 0.0
        contribs = (
            with_deg.join(edges, F.col("node") == F.col(src))
            .select(
                F.col(dst).alias("node"),
                (F.col("rank") / F.col("out_degree")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        base = (1.0 - damping) + damping * dangling / n_nodes
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        if (i + 1) % PAGERANK_CHECKPOINT_EVERY == 0 or i + 1 == iters:
            ranks = ranks.localCheckpoint()
            for df in pinned:
                df.unpersist()
            pinned.clear()
    return ranks


def _undirected(
    edges: DataFrame, src: str, dst: str, assume_normalized: bool
) -> DataFrame:
    """The distinct undirected ``(lo, hi)`` edge set without self-loops,
    materialized ONCE: every consumer (degree builds, orientation and
    closing joins, per-round adjacency) reads the checkpoint instead of
    re-running the caller's lineage (the minhash/jaccard house pattern;
    blocks free on GC). ``assume_normalized``: the input already IS such
    a materialized set (e.g. ``graph_store.store_edges`` — parquet-backed,
    so re-reads hit columnar storage): rename only, skipping the
    normalize shuffle and the re-materialization."""
    if assume_normalized:
        return edges.select(F.col(src).alias("lo"), F.col(dst).alias("hi"))
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("lo"),
            F.greatest(F.col(src), F.col(dst)).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
        .localCheckpoint(eager=True)
    )


def _degrees(und: DataFrame, name: str) -> DataFrame:
    """(node, ``name``): each node's degree in a ``(lo, hi)`` edge set."""
    return (
        und.select(F.col("lo").alias("node"))
        .unionAll(und.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias(name))
    )


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    broadcast_edges: int = 2_000_000,
    assume_normalized: bool = False,
    degrees: DataFrame | None = None,
) -> DataFrame:
    """Per-node triangle participation counts over an undirected simple
    graph given as an edge DataFrame (direction and duplicates are
    normalized away first). Returns (node, n_triangles) for nodes in at
    least one triangle.

    Algorithm: compact-forward / node-iterator with DEGREE ORIENTATION
    (Latapy 2008; the standard distributed-triangle trick, cf. Suri &
    Vassilvitskii's MapReduce formulation): orient every edge from the
    lower-(degree, id) endpoint to the higher one, build wedges by
    self-joining oriented edges on their source, and close each wedge
    with a hash join against the oriented edge set. Orientation bounds
    per-node wedge fan-out by the node's ORIENTED out-degree, which is
    O(sqrt(E)) for any graph — without it a single hub of degree d
    contributes d^2 wedges and the self-join explodes on skew. All three
    steps are shuffle hash joins on node keys; nothing is collected.

    Output is exact: each triangle {a,b,c} appears as exactly one
    oriented wedge + closing edge, and contributes 1 to each member.

    ``assume_normalized``: the input already IS the materialized
    (lo, hi) distinct no-self-loop edge set (a caller like
    clustering_coefficients that normalized + checkpointed it once) —
    skip re-normalizing and re-materializing the identical relation.
    ``degrees``: a precomputed, materialized (node, deg) frame over that
    same edge set — skip the internal degree build."""
    und = _undirected(edges, src, dst, assume_normalized)
    tris = _oriented_triangles(und, degrees=degrees, broadcast_edges=broadcast_edges)
    return (
        tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def _oriented_triangles(
    und: DataFrame,
    degrees: DataFrame | None = None,
    broadcast_edges: int = 2_000_000,
) -> DataFrame:
    """One (a, b, c) row per triangle of a MATERIALIZED (lo, hi) edge set
    (lo < hi, distinct, no self-loops, already checkpointed) — the
    degree-oriented wedge-closure core shared by ``triangle_counts`` and
    ``triangle_estimate``."""
    if degrees is not None:
        deg = degrees.select("node", F.col(degrees.columns[1]).alias("deg"))
    else:
        # one row per node — checkpoint so the 2|E|-row union + shuffle
        # aggregate runs ONCE (dl and dh below are two independent join
        # branches; Spark does no cross-branch subtree reuse, so without
        # this the degree build executes twice per run)
        deg = _degrees(und, "deg").localCheckpoint(eager=True)
    # orient by (deg, id): u -> v iff (deg_u, u) < (deg_v, v)
    dl = deg.select(F.col("node").alias("lo"), F.col("deg").alias("deg_lo"))
    dh = deg.select(F.col("node").alias("hi"), F.col("deg").alias("deg_hi"))
    oriented = (
        und.join(dl, "lo")
        .join(dh, "hi")
        .select(
            F.when(
                (F.col("deg_lo") < F.col("deg_hi"))
                | ((F.col("deg_lo") == F.col("deg_hi")) & (F.col("lo") < F.col("hi"))),
                F.struct(F.col("lo").alias("u"), F.col("hi").alias("v")),
            )
            .otherwise(F.struct(F.col("hi").alias("u"), F.col("lo").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
        .localCheckpoint(eager=True)
    )
    w1 = oriented.select(F.col("u").alias("a"), F.col("v").alias("b"))
    w2 = oriented.select(F.col("u").alias("a"), F.col("v").alias("c"))
    wedges = w1.join(w2, "a").filter(F.col("b") < F.col("c"))
    # a wedge (a; b, c) closes iff {b, c} is an edge; und already holds
    # exactly the undirected (lo < hi) edge set the wedge's b < c needs
    closing = und.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    # the wedge stream is the big side (sum of oriented out-deg^2 — often
    # 50-100x the edge count on dense graphs); when the edge set itself
    # is broadcastable, probing it map-side avoids shuffling every wedge
    # (part co-purchase graph at sf0.1, 1.2M edges / 1.9M triangles:
    # 10.8s shuffled -> 8.8s broadcast). und.count() is cheap here —
    # und is already checkpoint-materialized.
    if und.count() <= broadcast_edges:
        closing = F.broadcast(closing)
    return wedges.join(closing, ["b", "c"]).select("a", "b", "c")


def triangle_estimate(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    sample_num: int = 1,
    sample_den: int = 4,
    broadcast_edges: int = 2_000_000,
    assume_normalized: bool = False,
) -> DataFrame:
    """DOULION-style (Tsourakakis et al., KDD'09) edge-sampled GLOBAL
    triangle estimate — the declared scale path past exact
    ``triangle_counts``: keep each undirected edge independently with
    probability p = sample_num/sample_den, count triangles exactly on
    the sampled graph (same degree-oriented closure), scale by 1/p³.
    Wedge volume drops ×p² and the closing set ×p, so at p=1/4 the
    dominant join shrinks ~16× — the lever that makes 100×-scale graphs
    tractable where exact counting shuffles every wedge.

    DETERMINISTIC and oracle-replayable like every sketch in the repo:
    the sampling predicate is ``xxhash64(lo, hi) & (den-1) < num``
    (low bits of Spark's seed-42 chained long hash; ``den`` must be a
    power of two so the DuckDB replay's ``uh % den`` sees the same
    bits), and the estimate is pure integer:
    ``est = sampled_tris * den³ div num³``.

    Returns ONE row: (n_edges, n_sampled_edges, sampled_triangles,
    est_triangles) — all BIGINT. The estimator is unbiased with
    Var ≈ T(1/p³ − 1) + wedge-covariance terms; accuracy floors pinned
    in tests/test_graph.py against the exact count."""
    if sample_den & (sample_den - 1) or not (0 < sample_num <= sample_den):
        raise ValueError(
            f"sample_den must be a power of two and 0 < num <= den, got "
            f"{sample_num}/{sample_den}"
        )
    und = _undirected(edges, src, dst, assume_normalized)
    n_edges = und.count()
    sampled = und.filter(
        F.expr(f"(xxhash64(lo, hi) & {sample_den - 1}) < {sample_num}")
    ).localCheckpoint(eager=True)
    tris = _oriented_triangles(sampled, broadcast_edges=broadcast_edges)
    scale = sample_den**3
    inv = sample_num**3
    return tris.agg(
        F.lit(n_edges).cast("long").alias("n_edges"),
        F.lit(sampled.count()).cast("long").alias("n_sampled_edges"),
        F.count(F.lit(1)).alias("sampled_triangles"),
        # integer scale-up: exact in BIGINT while sampled*den^3 < 2^63
        F.expr(
            f"CAST(count(1) * CAST({scale} AS DECIMAL(38,0)) "
            f"div {inv} AS BIGINT)"
        ).alias("est_triangles"),
    )


def kcore_members(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 12,
    assume_normalized: bool = False,
) -> DataFrame:
    """The k-core of an undirected simple graph: iteratively peel nodes
    of degree < k until fixpoint; return (node, core_deg) — each
    surviving node with its degree WITHIN the core. The classic corpus /
    interaction-graph densest-region filter (e.g. keep only products
    co-purchased inside a dense cluster).

    Distributed shape: each round is one map-side-combined degree
    aggregate + two left-semi hash joins over the current edge set —
    O(E) per round, driver-coordinated like pagerank above. All deg < k
    nodes drop SIMULTANEOUSLY each round, so rounds = peel depth (6 on
    the co-purchase graph at both test SFs), not node count; the edge
    set only shrinks. Each round's edge set is checkpointed and the
    previous one freed (``fixpoint.iterate``).

    Convergence is checked by edge count (filtering only removes rows,
    so an unchanged count IS the fixpoint). Up to ``max_rounds``
    SHRINKING rounds are allowed — matching the oracle's unroll depth
    (``kcore_oracle_sql``) exactly, including a peel that converges in
    round ``max_rounds`` itself (one extra no-op round only CONFIRMS
    the fixpoint; if that confirming round still shrinks, the graph is
    deeper than the bound and this raises — the oracle would be wrong
    there too, so divergence is loud, never silent).
    """
    cur = _undirected(edges, src, dst, assume_normalized)
    n_edges = cur.count()

    def _peel(cur: DataFrame, _r: int) -> DataFrame:
        keep = _degrees(cur, "deg").filter(F.col("deg") >= k).select("node")
        return cur.join(
            keep.withColumnRenamed("node", "lo"), "lo", "leftsemi"
        ).join(keep.withColumnRenamed("node", "hi"), "hi", "leftsemi")

    def _peeled(nxt: DataFrame) -> int:
        nonlocal n_edges
        n_prev, n_edges = n_edges, nxt.count()
        return n_prev - n_edges

    cur = iterate(
        cur,
        _peel,
        max_rounds + 1,
        changed=_peeled,
        # the round past the bound still shrank: peel depth exceeds what
        # the oracle unrolls
        stuck=lambda *_: ValueError(
            f"kcore_members: no fixpoint within max_rounds="
            f"{max_rounds} (edge count still shrinking). Raise "
            f"max_rounds AND the oracle's unroll depth together."
        ),
    )
    return _degrees(cur, "core_deg")


def clustering_coefficients(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    assume_normalized: bool = False,
    degrees: DataFrame | None = None,
) -> DataFrame:
    """Per-node local clustering coefficient over an undirected simple
    graph: coeff = 2·triangles / (deg·(deg−1)), 0 for degree-1 nodes.
    Returns (node, degree, n_triangles, coeff).

    Exactness: deg·(deg−1) and 2·tri are exact BIGINTs (< 2^53 for any
    real degree), the coefficient is ONE correctly-rounded IEEE divide
    rounded to 6 dp — no multi-term float sum, so any engine reproduces
    it bit-for-bit (the tfidf convention, not the integer-grid one).
    Plan: ONE normalize+materialize and ONE degree aggregate, both
    shared with triangle_counts via its assume_normalized / degrees
    fast path, + the oriented wedge closure + one left join on node.
    ``assume_normalized``/``degrees``: the graph-store fast path —
    skip both builds when the caller supplies the materialized
    normalized edge set and its (node, deg) relation.
    """
    und = _undirected(edges, src, dst, assume_normalized)
    if degrees is not None:
        deg = degrees.select(
            "node", F.col(degrees.columns[1]).alias("degree")
        ).localCheckpoint(eager=True)
    else:
        deg = _degrees(und, "degree").localCheckpoint(eager=True)
    tri = triangle_counts(
        und, src="lo", dst="hi", assume_normalized=True, degrees=deg
    )
    return (
        deg.join(tri, "node", "left")
        .na.fill({"n_triangles": 0})
        .select(
            "node",
            "degree",
            "n_triangles",
            F.when(F.col("degree") < 2, F.lit(0.0))
            .otherwise(
                F.round(
                    (2 * F.col("n_triangles")).cast("double")
                    / (F.col("degree") * (F.col("degree") - 1)),
                    6,
                )
            )
            .alias("coeff"),
        )
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 4,
    assume_normalized: bool = False,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan 2007)
    with a fully DETERMINISTIC spec so an unrolled-CTE oracle replays it
    exactly: labels start as node ids; each round every node adopts the
    most frequent label over its CLOSED neighborhood (neighbors + its
    own current label — the self-vote damps the classic synchronous
    two-coloring oscillation), ties broken by MINIMUM label; exactly
    ``rounds`` synchronous rounds — no convergence detection, the round
    count IS the spec (a fixed point is a no-op round, and a
    non-converged mid-state is still bit-identical on both engines).

    Returns (node, community) — community = the round-``rounds`` label.
    The corpus use case k-core can't serve: overlapping-density
    community labels for topic-balanced sampling.

    Scale: per round one (2|E|+|V|)-row join against the |V|-row label
    table + two map-side-combinable aggregates — O(E) per round like the
    k-core peel; labels checkpoint each round (``fixpoint.iterate``)."""
    und = _undirected(edges, src, dst, assume_normalized)
    nodes = (
        und.select(F.col("lo").alias("node"))
        .unionAll(und.select(F.col("hi").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    adj = (
        und.select(F.col("lo").alias("node"), F.col("hi").alias("nbr"))
        .unionAll(und.select(F.col("hi").alias("node"), F.col("lo").alias("nbr")))
        .unionAll(nodes.select("node", F.col("node").alias("nbr")))
        .localCheckpoint(eager=True)
    )

    def _vote(labels: DataFrame, _r: int) -> DataFrame:
        cnts = (
            adj.join(labels.select(F.col("node").alias("nbr"), "label"), "nbr")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # argmax by (cnt DESC, label ASC) as one map-side-combinable min
        return cnts.groupBy("node").agg(
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("nc"),
                    F.col("label").alias("lb"),
                )
            ).alias("best")
        ).select("node", F.col("best.lb").alias("label"))

    labels = iterate(
        nodes.select("node", F.col("node").alias("label")), _vote, rounds
    )
    return labels.select("node", F.col("label").alias("community"))


def seed_distances(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    max_hops: int = 4,
    assume_normalized: bool = False,
) -> DataFrame:
    """Multi-source BFS over the undirected graph: (node, dist) for every
    node within ``max_hops`` of ANY seed, dist = hop count to the nearest
    seed (seeds themselves at 0). The corpus shape: distance from a
    curated seed set (benchmark docs, trusted sources) as a sampling /
    quality feature.

    Frontier-propagation formulation — each round joins only the NEWLY
    discovered frontier against the adjacency (anti-join keeps distances
    final once assigned), which for unweighted BFS equals the min-dist
    fixpoint the oracle replays. Exactly ``max_hops`` rounds is the spec
    (the oracle unrolls the same count; an exhausted frontier makes the
    remaining rounds no-ops on both engines). O(frontier-degree) work
    per round, all integer. The frontier of hop h is read back from the
    previous round's checkpoint as the rows at dist h-1."""
    und = _undirected(edges, src, dst, assume_normalized)
    adj = (
        und.select(F.col("lo").alias("node"), F.col("hi").alias("nbr"))
        .unionAll(und.select(F.col("hi").alias("node"), F.col("lo").alias("nbr")))
        .localCheckpoint(eager=True)
    )
    dist = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )

    def _hop(dist: DataFrame, h: int) -> DataFrame:
        frontier = dist.filter(F.col("dist") == h - 1).select(
            F.col("node").alias("nbr")
        )
        reached = adj.join(frontier, "nbr").select("node").distinct()
        new = reached.join(dist, "node", "left_anti").withColumn(
            "dist", F.lit(h).cast("long")
        )
        return dist.unionAll(new)

    return iterate(dist, _hop, max_hops)


def bfs_oracle_sql(
    ctes: str, max_hops: int = 4, node_alias: str = "node"
) -> str:
    """DuckDB replay of ``seed_distances``: ``ctes`` must define
    ``e(lo, hi)`` (normalized undirected distinct edges) and
    ``seeds(node)``. Each unrolled round takes the min over the previous
    distances and every neighbor's distance + 1 — the textbook
    min-plus fixpoint, which equals the engine's frontier BFS for
    unit weights. All levels MATERIALIZED (iteration chain rule)."""
    parts = [
        ctes,
        """adj AS MATERIALIZED (
  SELECT lo AS node, hi AS nbr FROM e
  UNION ALL SELECT hi, lo FROM e
),
d0 AS MATERIALIZED (
  SELECT DISTINCT node, CAST(0 AS BIGINT) AS dist FROM seeds
)""",
    ]
    for r in range(1, max_hops + 1):
        parts.append(
            f"""d{r} AS MATERIALIZED (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM d{r - 1}
    UNION ALL
    SELECT a.node, d.dist + 1
    FROM adj a JOIN d{r - 1} d ON d.node = a.nbr
  ) GROUP BY node
)"""
        )
    ctes_sql = ",\n".join(parts)
    return f"""
WITH {ctes_sql}
SELECT CAST(node AS BIGINT) AS {node_alias}, CAST(dist AS BIGINT) AS dist
FROM d{max_hops}
"""


def lpa_oracle_sql(
    edges_ctes: str, rounds: int = 4, node_alias: str = "node"
) -> str:
    """DuckDB replay of ``label_propagation``: ``edges_ctes`` must define
    a CTE ``e(lo, hi)`` (normalized undirected distinct edges). Each
    unrolled round recounts closed-neighborhood labels and takes the
    (cnt DESC, label ASC) argmax via row_number — the same total order
    as the engine's min(struct(-cnt, label)). Every level MATERIALIZED
    (c{r} and l{r} are each read by the next level; the CLAUDE.md
    inlining rule for iteration chains)."""
    parts = [
        edges_ctes,
        """nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT lo AS node FROM e UNION ALL SELECT hi FROM e)
),
adj AS MATERIALIZED (
  SELECT lo AS node, hi AS nbr FROM e
  UNION ALL SELECT hi, lo FROM e
  UNION ALL SELECT node, node FROM nodes
),
l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes)""",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""c{r} AS MATERIALIZED (
  SELECT a.node, l.label, count(*) AS cnt
  FROM adj a JOIN l{r - 1} l ON l.node = a.nbr
  GROUP BY a.node, l.label
),
l{r} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label, row_number() OVER (
      PARTITION BY node ORDER BY cnt DESC, label) AS rn
    FROM c{r}) WHERE rn = 1
)"""
        )
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT CAST(node AS BIGINT) AS {node_alias},
       CAST(label AS BIGINT) AS community
FROM l{rounds}
"""


def triangle_estimate_oracle_sql(
    edges_ctes: str, sample_num: int = 1, sample_den: int = 4
) -> str:
    """DuckDB replay of ``triangle_estimate``: ``edges_ctes`` must define
    a CTE ``e(lo, hi)`` (normalized undirected distinct edges, BIGINT
    endpoints — negative keys are handled by the shared two's-complement
    reinterpret ``xxh64_sql.unsigned``, exactly matching Spark's signed
    xxhash64 input bits). The sampled edge set keeps rows whose chained
    xxhash64(lo, hi) has low bits < num (``uh % den`` == Spark's
    ``& (den-1)`` for power-of-two den), triangles are enumerated by the
    orientation-free triple join (exact on the sampled graph), and the
    scale-up is integer: tris * den³ // num³ in HUGEINT."""
    from .. import xxh64_sql as X

    edge_hash = X.render_select(
        X.chain_cols("ehash", [X.unsigned("lo"), X.unsigned("hi")]),
        ["ehash"],
        "e",
        passthrough=["lo", "hi"],
    )
    scale, inv = sample_den**3, sample_num**3
    return f"""
WITH {edges_ctes},
eh AS MATERIALIZED ({edge_hash}),
se AS MATERIALIZED (
  SELECT lo, hi FROM eh WHERE ehash % {sample_den} < {sample_num}
),
tri AS MATERIALIZED (
  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
  FROM se e1
  JOIN se e2 ON e2.lo = e1.hi
  JOIN se e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
)
SELECT
  CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
  CAST((SELECT count(*) FROM se) AS BIGINT) AS n_sampled_edges,
  CAST((SELECT count(*) FROM tri) AS BIGINT) AS sampled_triangles,
  CAST(CAST((SELECT count(*) FROM tri) AS HUGEINT) * {scale} // {inv}
       AS BIGINT) AS est_triangles
"""


def kcore_oracle_sql(
    edges_ctes: str, k: int, rounds: int = 12, node_alias: str = "node"
) -> str:
    """DuckDB replay of ``kcore_members``: ``edges_ctes`` must define a
    CTE ``e0(lo, hi)`` (normalized undirected distinct edges); each
    unrolled round recomputes degrees and keeps only edges whose both
    endpoints pass — rounds past the fixpoint are no-ops, so this
    matches the engine for any graph that converges within ``rounds``
    (the engine RAISES past its identical bound, so divergence is loud,
    never silent). Every level is MATERIALIZED: e{r} is referenced by
    both d{r+1} and e{r+1} (the CLAUDE.md inlining rule)."""
    parts = [edges_ctes]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f"""d{r} AS MATERIALIZED (
  SELECT node, count(*) AS deg FROM (
    SELECT lo AS node FROM e{p} UNION ALL SELECT hi FROM e{p}) GROUP BY node
),
k{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE deg >= {k}),
e{r} AS MATERIALIZED (
  SELECT lo, hi FROM e{p}
  WHERE lo IN (SELECT node FROM k{r}) AND hi IN (SELECT node FROM k{r})
)"""
        )
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT CAST(node AS BIGINT) AS {node_alias}, count(*) AS core_deg FROM (
  SELECT lo AS node FROM e{rounds} UNION ALL SELECT hi FROM e{rounds})
GROUP BY node
"""


def community_modularity(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    assume_normalized: bool = False,
) -> DataFrame:
    """Per-community Newman modularity contributions — the QUALITY
    metric for a community labeling (Newman & Girvan 2004):
    Q = Σ_c [e_c/m − (d_c/2m)²], computed per community in EXACT
    INTEGER MICRO-UNITS so the oracle replays it at any scale:

      q_micro_c = (num·1e6 + OFF·den) div den − OFF,
      num = 4m·e_c − d_c²,  den = 4m²,  OFF = 2·1e6

    (the positivity shift because num may be negative and Spark's div
    truncates while DuckDB's // floors — the FK-readability rule). All
    terms run in DECIMAL(38,0) / HUGEINT: at 100× (1.2e8 edges) the
    shifted numerator reaches ~1e19, past BIGINT but far under 38
    digits.

    ``labels`` is a (node, community) frame (e.g. label_propagation
    output). Returns (community, n_members, intra_edges, degree_sum,
    q_micro); Σ q_micro / 1e6 ≈ global Q (each term truncated to the
    micro-grid). Scale shape: two label joins over the edge set, three
    tiny per-community aggregates, the global m attached via a window
    over the per-community frame — no scalar collect, no cartesian."""
    und = _undirected(edges, src, dst, assume_normalized)
    la = labels.select(F.col("node").alias("lo"), F.col("community").alias("ca"))
    lb = labels.select(F.col("node").alias("hi"), F.col("community").alias("cb"))
    el = und.join(la, "lo").join(lb, "hi").select("ca", "cb")
    # every edge counted once under its lo-endpoint's community -> the
    # window sum over the per-community frame recovers the global m
    anyc = el.groupBy(F.col("ca").alias("community")).agg(
        F.count(F.lit(1)).alias("ec_any")
    )
    intra = (
        el.filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count(F.lit(1)).alias("intra_edges"))
    )
    deg = _degrees(und, "d")
    degc = (
        deg.join(labels, "node")
        .groupBy("community")
        .agg(F.sum("d").alias("degree_sum"))
    )
    mem = labels.groupBy("community").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    base = (
        mem.join(intra, "community", "left")
        .join(degc, "community")
        .join(anyc, "community", "left")
        .na.fill({"intra_edges": 0, "ec_any": 0})
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    withm = base.withColumn("m", F.sum("ec_any").over(w_all))
    q = F.expr(
        "CAST(((CAST(4 AS DECIMAL(38,0)) * m * intra_edges"
        "   - CAST(degree_sum AS DECIMAL(38,0)) * degree_sum)"
        "  * 1000000"
        "  + CAST(2000000 AS DECIMAL(38,0)) * (CAST(4 AS DECIMAL(38,0)) * m * m))"
        " div (CAST(4 AS DECIMAL(38,0)) * m * m) AS BIGINT) - 2000000"
    )
    return withm.select(
        "community",
        "n_members",
        "intra_edges",
        "degree_sum",
        q.alias("q_micro"),
    )


def modularity_oracle_sql(
    edges_ctes: str, rounds: int = 4, labels_sql: str | None = None
) -> str:
    """DuckDB replay of ``community_modularity`` over LPA labels:
    wraps the full ``lpa_oracle_sql`` statement as a CTE (DuckDB allows
    a complete WITH…SELECT inside a parenthesized CTE body — the
    composed-oracle pattern), rebuilds the same per-community integer
    sums, and applies the identical shifted HUGEINT division.
    ``edges_ctes`` must define ``e(lo, hi)`` and is used BOTH inside the
    LPA replay and for the edge/degree sums here (same text, so the two
    views of the graph can never diverge)."""
    labels = labels_sql or lpa_oracle_sql(edges_ctes, rounds=rounds, node_alias="node")
    return f"""
WITH labels AS MATERIALIZED ({labels}),
{edges_ctes},
el AS MATERIALIZED (
  SELECT la.community AS ca, lb.community AS cb
  FROM e JOIN labels la ON la.node = e.lo
         JOIN labels lb ON lb.node = e.hi
),
anyc AS MATERIALIZED (
  SELECT ca AS community, count(*) AS ec_any FROM el GROUP BY ca
),
intra AS MATERIALIZED (
  SELECT ca AS community, count(*) AS intra_edges FROM el
  WHERE ca = cb GROUP BY ca
),
deg AS MATERIALIZED (
  SELECT node, count(*) AS d FROM (
    SELECT lo AS node FROM e UNION ALL SELECT hi FROM e
  ) GROUP BY node
),
degc AS MATERIALIZED (
  SELECT l.community, sum(d.d) AS degree_sum
  FROM deg d JOIN labels l ON l.node = d.node GROUP BY l.community
),
mem AS MATERIALIZED (
  SELECT community, count(*) AS n_members FROM labels GROUP BY community
),
tot AS MATERIALIZED (SELECT sum(ec_any) AS m FROM anyc),
base AS MATERIALIZED (
  SELECT mem.community, mem.n_members,
         coalesce(intra.intra_edges, 0) AS intra_edges,
         degc.degree_sum, tot.m
  FROM mem
  LEFT JOIN intra USING (community)
  JOIN degc USING (community), tot
)
SELECT community,
       CAST(n_members AS BIGINT) AS n_members,
       CAST(intra_edges AS BIGINT) AS intra_edges,
       CAST(degree_sum AS BIGINT) AS degree_sum,
       CAST(((CAST(4 AS HUGEINT) * m * intra_edges
              - CAST(degree_sum AS HUGEINT) * degree_sum) * 1000000
             + CAST(2000000 AS HUGEINT)
               * (CAST(4 AS HUGEINT) * m * m))
            // (CAST(4 AS HUGEINT) * m * m) - 2000000 AS BIGINT)
         AS q_micro
FROM base
"""


def link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    sample_num: int = 1,
    sample_den: int = 4,
    top_n: int = 50,
    assume_normalized: bool = False,
    degrees: DataFrame | None = None,
) -> DataFrame:
    """Common-neighbor link prediction ("parts that SHOULD be
    co-purchased but aren't yet"): rank non-adjacent node pairs by how
    many neighbors they share — the classic recommendation/completion
    score whose exact computation is the Σ deg² wedge join.

    The wedge volume is tamed the same way as ``triangle_estimate``
    (DOULION, Tsourakakis et al. KDD'09): sample UNDIRECTED EDGES with
    the deterministic ``xxhash64(lo, hi) & (den-1) < num`` predicate
    (p = num/den), count common neighbors exactly on the sampled graph
    (a wedge survives iff BOTH its edges do -> p²), and scale up in
    pure integers ``cn_est = cn_sampled * den² div num²``. At p=1/4
    the dominant self-join shrinks 16x. Non-adjacency is checked
    against the FULL edge set (exact — the candidate filter never
    samples), and the context degrees are full-graph degrees.

    Deterministic and oracle-replayable end to end; the top-``top_n``
    is totally ordered by (cn_sampled DESC, part_a, part_b). Beside the
    raw count, ``ra_micro`` is the resource-allocation index
    sum_m 1e6 div deg_sampled(m) over the shared middles — Adamic-Adar's
    rare-shared-neighbor weighting with an integer floor per term
    instead of a float log, so the sum stays order-independent. Returns
    (part_a, part_b, deg_a, deg_b, cn_sampled, cn_est, ra_micro).

    Scale: wedge generation is the p²-discounted Σ deg² equi-join; the
    candidate anti-join and the two degree joins are key equi-joins.
    On hub-heavy graphs lower p (den is a power of two) — the same
    lever, measured on the triangle twin, that holds at 100x."""
    if sample_den & (sample_den - 1) or not (0 < sample_num <= sample_den):
        raise ValueError(
            f"sample_den must be a power of two and 0 < num <= den, got "
            f"{sample_num}/{sample_den}"
        )
    und = _undirected(edges, src, dst, assume_normalized)
    if degrees is not None:
        # graph-store fast path: full-graph degrees come from the store's
        # additive degree partials (never re-aggregating the edge set)
        deg = degrees.select("node", F.col(degrees.columns[1]).alias("deg"))
    else:
        deg = _degrees(und, "deg")
    sampled = und.filter(
        F.expr(f"(xxhash64(lo, hi) & {sample_den - 1}) < {sample_num}")
    )
    adj = sampled.select(
        F.col("lo").alias("m"), F.col("hi").alias("n")
    ).unionAll(sampled.select(F.col("hi").alias("m"), F.col("lo").alias("n")))
    # middle-node degrees ON THE SAMPLED GRAPH feed the resource-
    # allocation score: each wedge contributes 1e6 div deg(m) — an exact
    # integer term, so the sum is order-independent (Adamic-Adar's
    # rare-shared-neighbor idea without a float log)
    sdeg = adj.groupBy("m").agg(F.count(F.lit(1)).alias("dm"))
    adj_d = adj.join(sdeg, "m")
    a, b = adj_d.alias("a"), adj_d.alias("b")
    cn = (
        a.join(
            b,
            (F.col("a.m") == F.col("b.m")) & (F.col("a.n") < F.col("b.n")),
        )
        .groupBy(F.col("a.n").alias("u"), F.col("b.n").alias("v"))
        .agg(
            F.count(F.lit(1)).alias("cn_sampled"),
            F.sum(F.expr("CAST(1000000 AS BIGINT) div a.dm")).alias(
                "ra_micro"
            ),
        )
    )
    nonadj = cn.join(
        und,
        (cn["u"] == und["lo"]) & (cn["v"] == und["hi"]),
        "left_anti",
    )
    # cut to the top-n FIRST (TakeOrdered over the pair frame), so the
    # two degree lookups join a top_n-row broadcast side instead of the
    # full candidate frame — the same join-after-cut discipline as the
    # retrieval top-k family
    top = nonadj.orderBy(F.desc("cn_sampled"), "u", "v").limit(top_n)
    scale, inv = sample_den * sample_den, sample_num * sample_num
    da, db = deg.alias("da"), deg.alias("db")
    return (
        F.broadcast(top)
        .join(da, F.col("u") == F.col("da.node"))
        .join(db, F.col("v") == F.col("db.node"))
        .select(
            F.col("u").alias("part_a"),
            F.col("v").alias("part_b"),
            F.col("da.deg").alias("deg_a"),
            F.col("db.deg").alias("deg_b"),
            "cn_sampled",
            F.expr(
                f"(cn_sampled * CAST({scale} AS BIGINT)) div {inv}"
            ).alias("cn_est"),
            "ra_micro",
        )
        .orderBy(F.desc("cn_sampled"), "part_a", "part_b")
    )


def link_prediction_oracle_sql(
    edges_ctes: str,
    sample_num: int = 1,
    sample_den: int = 4,
    top_n: int = 50,
) -> str:
    """DuckDB replay of ``link_prediction``: ``edges_ctes`` must define
    a CTE ``e(lo, hi)`` (normalized undirected distinct edges). Sampling
    replays the chained xxhash64 low bits exactly (``uh % den`` ==
    Spark's ``& (den-1)`` for power-of-two den, negative keys via the
    shared two's-complement reinterpret)."""
    from .. import xxh64_sql as X

    edge_hash = X.render_select(
        X.chain_cols("ehash", [X.unsigned("lo"), X.unsigned("hi")]),
        ["ehash"],
        "e",
        passthrough=["lo", "hi"],
    )
    scale, inv = sample_den * sample_den, sample_num * sample_num
    return f"""
WITH {edges_ctes},
eh AS MATERIALIZED ({edge_hash}),
se AS MATERIALIZED (
  SELECT lo, hi FROM eh WHERE ehash % {sample_den} < {sample_num}
),
adj AS MATERIALIZED (
  SELECT lo AS m, hi AS n FROM se UNION ALL SELECT hi, lo FROM se
),
sdeg AS MATERIALIZED (
  SELECT m, count(*) AS dm FROM adj GROUP BY m
),
adj_d AS MATERIALIZED (
  SELECT adj.m, adj.n, sdeg.dm FROM adj JOIN sdeg USING (m)
),
cn AS MATERIALIZED (
  SELECT a.n AS u, b.n AS v, count(*) AS cn_sampled,
         sum(1000000 // a.dm) AS ra_micro
  FROM adj_d a JOIN adj_d b ON a.m = b.m AND a.n < b.n
  GROUP BY a.n, b.n
),
nonadj AS MATERIALIZED (
  SELECT u, v, cn_sampled, ra_micro FROM cn
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.lo = cn.u AND e.hi = cn.v)
),
deg AS MATERIALIZED (
  SELECT node, count(*) AS deg FROM (
    SELECT lo AS node FROM e UNION ALL SELECT hi FROM e) GROUP BY node
)
SELECT u AS part_a, v AS part_b,
       CAST(da.deg AS BIGINT) AS deg_a, CAST(db.deg AS BIGINT) AS deg_b,
       CAST(cn_sampled AS BIGINT) AS cn_sampled,
       CAST((cn_sampled * {scale}) // {inv} AS BIGINT) AS cn_est,
       CAST(ra_micro AS BIGINT) AS ra_micro
FROM nonadj
JOIN deg da ON da.node = nonadj.u
JOIN deg db ON db.node = nonadj.v
ORDER BY cn_sampled DESC, part_a, part_b
LIMIT {top_n}
"""
