"""Iterative graph analytics — PageRank in exact scaled-integer
arithmetic.

PageRank is the canonical "many rounds of join + aggregate" workload
(Page et al., 1999; the Pregel/GraphX reference algorithm). The engine
concern at 100 TB is the ITERATION SHAPE: each round must be one
edge-keyed join plus one destination-keyed aggregate, with a
materialization barrier so the plan does not grow with the round count
— the same posture as the connected-components and k-means loops in
this repo.

The determinism concern is subtler: textbook float PageRank
accumulates contributions in shuffle order, so two runs (or two
engines) disagree in the last ulp and a value-hash oracle can never
pass. Here every quantity lives on a 1e-12 integer grid (the PCA
covariance trick): ranks are scaled longs, edge probabilities are
floor-scaled longs, and each update is integer multiply / floor-divide
— associative, order-free, and reproduced bit-for-bit by the
pure-Python replica that serves as the oracle.

Overflow bounds (documented, asserted nowhere hot): per-edge weight
must stay ≤ ~9.2e12 (weight × 1e6 in a long) and per-node rank is ≤
the total scale 1e12, so rank × prob ≤ 1e18 < 2⁶³.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["hits", "pagerank", "triangle_count"]

RANK_SCALE = 10**12  # rank grid: sum of all ranks ≈ 1e12 ("1.0")
PROB_SCALE = 10**6  # edge-probability grid


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    iters: int = 15,
    damping_pct: int = 85,
) -> DataFrame:
    """Weighted PageRank over a directed edge list, ``iters`` fixed
    rounds (fixed-round, not convergence-tested: deterministic work,
    and 15 rounds is past practical convergence for damping 0.85).

    Returns ``(node, rank_scaled, pagerank)`` — ``rank_scaled`` on the
    1e-12 integer grid, ``pagerank`` its exact double image. Dangling
    mass (nodes without out-edges) redistributes uniformly each round,
    so total rank is conserved up to per-node floor truncation.

    Scale shape per round: one hash join of ranks onto edges (both
    keyed by src), one dst-keyed sum, one broadcast 1-row dangling
    aggregate, and an eager localCheckpoint as the iteration barrier.
    Node/edge tables never leave the executors; nothing driver-side
    grows with the graph.
    """
    if not 0 < damping_pct < 100:
        raise ValueError(f"damping_pct must be in (0, 100), got {damping_pct}")
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")

    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("long").alias("w"),
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # n_nodes is LOOP-INVARIANT: one bounded 1-row collect here, inlined
    # as an integer literal below (r12; was a 1-row broadcast join
    # re-materialized inside every iteration's job — same long value,
    # same integer div, one fewer broadcast stage × iters)
    n = max(int(nodes.count()), 1)  # max(,1): empty graph → empty frame

    out_w = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    probs = (
        e.join(out_w, "src")
        .select(
            "src",
            "dst",
            F.expr(f"w * {PROB_SCALE} div out_w").alias("p_scaled"),
        )
        .localCheckpoint(eager=True)
    )
    # Dangling MEMBERSHIP is loop-invariant (only rank VALUES change):
    # pin it once (r12). Un-pinned, every iteration's dangling
    # aggregate re-derived has_out from the RAW edge lineage — at
    # query grain that recomputed the whole upstream (events scan,
    # JSON extraction, session window, edge groupBy) 15 times over.
    dang_nodes = (
        nodes.join(
            out_w.select(F.col("src").alias("node")), "node", "left_anti"
        )
        .localCheckpoint(eager=True)
    )

    ranks = nodes.select(
        "node", F.lit(RANK_SCALE // n).cast("long").alias("rank_scaled")
    ).localCheckpoint(eager=True)

    teleport_pct = 100 - damping_pct
    for _ in range(iters):
        inflow = (
            probs.join(ranks, probs.src == ranks.node)
            .select(
                "dst",
                F.expr(f"rank_scaled * p_scaled div {PROB_SCALE}").alias(
                    "contrib"
                ),
            )
            .groupBy("dst")
            .agg(F.sum("contrib").alias("inflow"))
        )
        dangling = (
            ranks.join(dang_nodes, "node", "left_semi")
            .agg(F.coalesce(F.sum("rank_scaled"), F.lit(0)).alias("__dang"))
        )
        ranks = (
            ranks.select("node")
            .join(inflow, ranks.node == inflow.dst, "left")
            .join(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit(
                        (RANK_SCALE * teleport_pct) // (100 * n)
                    ).cast("long")
                    + F.expr(
                        f"{damping_pct} * (coalesce(inflow, 0)"
                        f" + (__dang div {n})) div 100"
                    )
                ).alias("rank_scaled"),
            )
            .localCheckpoint(eager=True)
        )

    return ranks.select(
        "node",
        F.col("rank_scaled").cast("long").alias("rank_scaled"),
        (F.col("rank_scaled").cast("double") / F.lit(float(RANK_SCALE))).alias(
            "pagerank"
        ),
    ).orderBy(F.col("rank_scaled").desc(), "node")


def triangle_count(
    pairs: DataFrame, a_col: str = "src", b_col: str = "dst"
) -> DataFrame:
    """Exact triangle count + global clustering coefficient of the
    undirected simple graph induced by ``pairs`` (direction and
    duplicates collapse; self-loops drop).

    The classic degree-ordered orientation (the MapReduce triangle
    algorithm of Suri & Vassilvitskii, WWW 2011): orient every edge
    from its lower-(degree, id) endpoint to the higher one, build
    wedges by joining oriented edges head-to-tail, and close each
    wedge against the oriented edge set. Orientation bounds each
    node's oriented out-degree by O(√E), so the wedge intermediate is
    O(E^{3/2}) worst-case instead of Σdeg² — the difference between a
    hub exploding the join and not.

    Output is one row: nodes, edges, triangles, wedges (unordered
    2-paths, Σ deg·(deg−1)/2 — exact integers) and the global
    clustering coefficient 3·T/W floor-truncated — all of which a
    plain SQL oracle reproduces exactly.
    """
    und = (
        pairs.select(
            F.least(F.col(a_col), F.col(b_col)).alias("u"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .union(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    # orient low-(deg, id) → high-(deg, id)
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    oriented = (
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("lo"), F.col("v").alias("hi")),
            )
            .otherwise(
                F.struct(F.col("v").alias("lo"), F.col("u").alias("hi"))
            )
            .alias("e")
        )
        .select(F.col("e.lo").alias("lo"), F.col("e.hi").alias("hi"))
        .localCheckpoint(eager=False)
    )
    e1 = oriented.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = oriented.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    closing = oriented.select(
        F.col("lo").alias("a"), F.col("hi").alias("c")
    )
    tri = (
        e1.join(e2, "b")
        .join(closing, ["a", "c"], "left_semi")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    counts = und.agg(F.count("*").cast("long").alias("n_edges"))
    wedges = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        # deg·(deg−1) is even — integer div keeps the sum exact (a
        # double /2 sum would lose exactness on large-degree graphs)
        F.sum(F.expr("deg * (deg - 1) div 2")).cast("long").alias("n_wedges"),
    )
    cc = F.when(
        F.col("n_wedges") > 0,
        F.floor(
            F.lit(3.0)
            * F.col("n_triangles").cast("double")
            / F.col("n_wedges").cast("double")
            * 1e6
        )
        / 1e6,
    ).otherwise(F.lit(0.0))
    return (
        wedges.join(F.broadcast(counts))
        .join(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            cc.alias("clustering_coeff"),
        )
    )


def hits(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 8,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) in the same exact
    scaled-integer regime as :func:`pagerank` — the OTHER classic
    iterative graph kernel, exercising per-round NORMALIZATION where
    PageRank exercises mass conservation.

    Each round: authority(v) = Σ hub(u) over in-edges, hub(u) =
    Σ authority(v) over out-edges, each rescaled so scores sum to the
    1e-12 grid total. The rescale multiply runs in decimal(38,0) with
    integral ``div`` (raw·10¹² overflows int64), so every score is an
    exact integer and the pure-Python replica oracle matches
    bit-for-bit. Fixed ``iters`` rounds (HITS converges geometrically;
    8 is past practical convergence), eager checkpoint per round.

    Output: ``(node, hub_scaled, auth_scaled, hub, authority)``.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct().localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # loop-invariant node count inlined as a literal (same rationale
    # and bit-identity as pagerank's r12 change)
    n = max(int(nodes.count()), 1)
    scores = nodes.select(
        "node",
        F.lit(RANK_SCALE // n).cast("long").alias("hub"),
        F.lit(RANK_SCALE // n).cast("long").alias("auth"),
    ).localCheckpoint(eager=True)

    def _normalize(df: DataFrame, col: str) -> DataFrame:
        total = df.agg(F.sum(col).alias("__t"))
        return df.join(F.broadcast(total)).select(
            "node",
            F.expr(
                f"(cast({col} as decimal(26,0)) * {RANK_SCALE}) div __t"
            ).alias(col),
        )

    for _ in range(iters):
        auth_raw = (
            e.join(scores.select("node", "hub"), e.src == F.col("node"))
            .groupBy("dst")
            .agg(F.sum("hub").alias("auth"))
            .select(F.col("dst").alias("node"), "auth")
        )
        # lazy pin (one ACTION per round, the CC/minhash discipline):
        # hub's eager checkpoint below is the round's only action and
        # materializes auth's blocks on first read; the end-of-round
        # scores join then reads the SAME pinned blocks instead of
        # paying a second materialization. Under AQE the pin is not
        # job-free: planning its RDD runs auth's shuffle and broadcast
        # stages here, and only auth's final stage waits for hub
        # (pinned by test_hits_runs_one_action_per_round). Dataflow
        # (hence every score) is unchanged.
        auth = _normalize(
            nodes.join(auth_raw, "node", "left").select(
                "node", F.coalesce("auth", F.lit(0)).alias("auth")
            ),
            "auth",
        ).localCheckpoint(eager=False)
        hub_raw = (
            e.join(auth.select(F.col("node").alias("dst"), "auth"), "dst")
            .groupBy("src")
            .agg(F.sum("auth").alias("hub"))
            .select(F.col("src").alias("node"), "hub")
        )
        hub = _normalize(
            nodes.join(hub_raw, "node", "left").select(
                "node", F.coalesce("hub", F.lit(0)).alias("hub")
            ),
            "hub",
        ).localCheckpoint(eager=True)
        # hub and auth are each checkpointed; their join needs no
        # third materialization per round
        scores = hub.join(auth, "node")

    return scores.select(
        "node",
        F.col("hub").cast("long").alias("hub_scaled"),
        F.col("auth").cast("long").alias("auth_scaled"),
        (F.col("hub").cast("double") / F.lit(float(RANK_SCALE))).alias(
            "hub_score"
        ),
        (F.col("auth").cast("double") / F.lit(float(RANK_SCALE))).alias(
            "authority_score"
        ),
    ).orderBy(F.col("auth_scaled").desc(), "node")
