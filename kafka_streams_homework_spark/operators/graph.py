"""Graph analytics over DataFrame edge lists.

Companions to the graph ops that live elsewhere in the engine:
connected components (min-label propagation, ``dedup.dedup_clusters``)
and weighted PageRank (unrolled power iterations,
``queries.q_copurchase_pagerank``). This module holds the
neighborhood-structure ops, starting with triangle counting — the
standard cohesion/clustering-coefficient primitive (and a spam/bot
signal in web-graph curation pipelines).

No reference twin: the reference (kafka-streams-homework) has no graph
surface; this is a §7 engine extension alongside PageRank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kafka_streams_homework_spark.caching import tracked_persist
from kafka_streams_homework_spark.session import bounded_loop


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle counts over an undirected simple graph.

    Input: one row per undirected edge with ``src < dst`` (dedup'd).
    Output: (node, n_triangles) for every node in ≥1 triangle.

    Plan — the degree-orientation algorithm (Cohen's MapReduce
    formulation): orient every edge from its lower-(degree, id)
    endpoint to the higher one, making the out-degree of EVERY node
    O(sqrt(m)) regardless of skew; wedges are the self-join of the
    oriented list on its source, and a final equi-join against the
    oriented edges closes them. Work is O(m^1.5) worst case — the
    theoretical optimum for exact counting — and every shuffle is an
    equi-join keyed on node ids, so it scales out like any other join.
    A hub node with degree 10^6 (the web-graph reality) contributes
    wedges only through its LOW-degree neighbors, which is what makes
    this survive skew where the naive orientation (src < dst) builds
    10^12 wedges on that one hub.

    The exploded (node-per-triangle-corner, count) aggregation is a
    map-side-combinable groupBy on node id.
    """
    # the edge list is read 4x (degree x2, orientation, wedge closing)
    # and the oriented list 2x (wedge self-join) — persist both or the
    # DAG re-derives the upstream edge aggregation once per reference
    # (the PLANS.md audit showed 66 scans unpersisted). Both are edge
    # aggregates, orders of magnitude smaller than the fact input.
    und = tracked_persist(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    )
    deg = (
        und.select(F.col("a").alias("n"))
        .unionAll(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient by (degree, id): u -> v iff (d(u), u) < (d(v), v)
    withdeg = (
        und.join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), "b")
    )
    fwd = F.struct("da", "a") < F.struct("db", "b")
    oriented = tracked_persist(
        withdeg.select(
            F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("lo"),
            F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("hi"),
        )
    )
    wedges = (
        oriented.alias("e1")
        .join(oriented.alias("e2"), F.col("e1.lo") == F.col("e2.lo"))
        .filter(F.col("e1.hi") < F.col("e2.hi"))
        .select(
            F.col("e1.lo").alias("u"),
            F.col("e1.hi").alias("v"),
            F.col("e2.hi").alias("w"),
        )
    )
    # close the wedge: (v, w) must be an edge; und already holds each
    # edge once as (a < b), so it is the canonical closing set
    closing = und.select(F.col("a").alias("cv"), F.col("b").alias("cw"))
    # v < w already holds (the wedge filter orders e1.hi < e2.hi), so
    # the closing match is a plain equi-join on (v, w)
    tris = wedges.join(
        closing,
        (F.col("v") == F.col("cv")) & (F.col("w") == F.col("cw")),
    ).select("u", "v", "w")
    # explode, not a 3-way unionAll: a union of three selects over
    # `tris` re-executes the wedge+closing joins once per branch
    # (plan-audit showed the whole subtree tripled); explode emits the
    # three corners in the same single pass
    corners = tris.select(
        F.explode(F.array("u", "v", "w")).alias("node")
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )


def neighbor_jaccard(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Structural link prediction: Jaccard similarity of neighbor sets
    for every node pair at distance <= 2 (pairs sharing at least one
    neighbor) — the classic "people/products you may also like"
    candidate scorer, and the graph twin of the document-shingle
    Jaccard in ``dedup.ngram_jaccard_pairs``.

    Input: one row per undirected edge with ``src < dst`` (dedup'd).
    Output: (node_a, node_b, n_common, jaccard, is_edge) with
    node_a < node_b, for pairs with n_common >= 1.

    Plan: symmetrize the edge list into adjacency (node, neighbor),
    self-join on the shared NEIGHBOR (the wedge center) to count
    common neighbors — one equi-join plus a partial-agg count, never
    an all-pairs set comparison — then join per-node degrees (a
    bounded aggregate) and probe the edge list itself with a left
    semi-style flag join for `is_edge`. jaccard = common /
    (deg_a + deg_b - common), an integer ratio rounded identically in
    the oracle.

    Scale: the wedge self-join costs sum over centers of d(c)^2 —
    inherent to EXACT common-neighbor counting (every common neighbor
    must witness its pair once). Hub centers dominate that sum, so at
    web scale the standard moves are (a) cap/exclude centers with
    d(c) > t (a hub connecting millions contributes ~no signal per
    pair — the same argument as stop-word removal in AllPairs
    prefix filtering), or (b) switch the neighbor sets to the MinHash
    substrate already in ``operators/dedup.py`` and estimate Jaccard
    from banded signatures. Both are one-line preludes to this exact
    operator; the exact form stays the oracle-checkable ground truth.
    """
    und = tracked_persist(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    )
    adj = und.unionAll(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # (center, spoke) adjacency — wedge pairs share the center c
    deg = adj.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    l = adj.select(F.col("b").alias("c"), F.col("a").alias("na"))
    r = adj.select(F.col("b").alias("c"), F.col("a").alias("nb"))
    common = (
        l.join(r, "c")
        .filter(F.col("na") < F.col("nb"))
        .groupBy("na", "nb")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    withdeg = common.join(
        F.broadcast(deg.select(F.col("a").alias("na"), F.col("d").alias("da"))),
        "na",
    ).join(
        F.broadcast(deg.select(F.col("a").alias("nb"), F.col("d").alias("db"))),
        "nb",
    )
    flagged = withdeg.join(
        und.select(
            F.col("a").alias("na"), F.col("b").alias("nb"), F.lit(True).alias("is_edge")
        ),
        ["na", "nb"],
        "left",
    )
    return flagged.select(
        F.col("na").alias("node_a"),
        F.col("nb").alias("node_b"),
        F.col("n_common").cast("bigint").alias("n_common"),
        F.round(
            F.col("n_common") / (F.col("da") + F.col("db") - F.col("n_common")), 6
        ).alias("jaccard"),
        F.coalesce(F.col("is_edge"), F.lit(False)).alias("is_edge"),
    )


def bfs_hops(
    edges: DataFrame, seed: DataFrame, max_hops: int, reliable: bool = False
) -> DataFrame:
    """Multi-source BFS hop distance, bounded at ``max_hops`` rounds.

    ``edges``: directed (src, dst) — pass both directions for an
    undirected graph. ``seed``: rows with a ``node`` column (hop 0).
    Each round is one frontier-to-edges equi-join + anti-join against
    the visited set — rounds = min(diameter, max_hops), never the
    transitive closure (the oracle twin replays the closure because
    SQL recursion cannot re-aggregate; the engine path stays linear
    in reached edges per round).

    Plan shape (round 6, the kcore discipline): frontier and visited
    are NODE-dimension-bounded, so both ride broadcasts — the edge set
    is never shuffled by the loop (map-side BroadcastHashJoin per hop);
    and each hop localCheckpoints so lineage stays flat instead of
    compounding across hops.

    Fault-tolerance / footprint (r6 advice, closed r8 per VERDICT r7
    task 6): superseded hop checkpoints are RELEASED inside the loop —
    after the new ``visited`` union materializes (eager checkpoint),
    the old visited blocks and the previous frontier's blocks are
    unpersisted via ``release_checkpoint``, so the block-manager
    footprint is O(1) frames (current visited + current frontier) at
    any hop count instead of O(hops); pinned by
    ``test_bfs_checkpoint_footprint_bounded``. localCheckpoint blocks
    remain UNREPLICATED — an executor lost mid-loop fails the job
    rather than recomputing. That is the right trade for this
    interactive/bench engine; a long-running production BFS at
    cluster scale passes ``reliable=True`` (requires
    ``sc.setCheckpointDir``) to substitute RELIABLE ``checkpoint()``
    writes — same loop, survives executor loss.
    """
    from kafka_streams_homework_spark.caching import release_checkpoint

    def _ckpt(df: DataFrame) -> DataFrame:
        return df.checkpoint() if reliable else df.localCheckpoint()

    # AQE off for the hop loop (r12, bpe_train/kcore finding): every
    # hop's joins are broadcasts over node-bounded frames — AQE only
    # adds per-action stage-job decomposition and driver gaps.
    with bounded_loop(edges.sparkSession):
        return _bfs_loop(_ckpt, edges, seed, max_hops, release_checkpoint)


def _bfs_loop(_ckpt, edges: DataFrame, seed: DataFrame, max_hops: int, release_checkpoint):
    visited = _ckpt(seed.select("node", F.lit(0).cast("long").alias("hops")))
    frontier = visited
    for h in range(1, max_hops + 1):
        nxt = _ckpt(
            edges.join(
                F.broadcast(frontier), frontier["node"] == edges["src"],
                "left_semi",
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(
                F.broadcast(visited.select(F.col("node").alias("vn"))),
                F.col("node") == F.col("vn"),
                "left_anti",
            )
            .select("node", F.lit(h).cast("long").alias("hops"))
        )
        if not nxt.take(1):
            release_checkpoint(nxt)  # empty frontier: nothing reads it
            break
        new_visited = _ckpt(visited.unionAll(nxt))
        # new_visited is materialized (eager checkpoint), so the old
        # visited blocks are fully superseded; the old frontier
        # (folded into visited one hop ago) was only still live as
        # this hop's join probe. Keep exactly {new_visited, nxt}.
        release_checkpoint(visited)
        if frontier is not visited:  # hop 1: frontier IS visited
            release_checkpoint(frontier)
        visited = new_visited
        frontier = nxt
    if frontier is not visited:  # last frontier: folded into visited
        release_checkpoint(frontier)
    return visited


RA_SCALE = 1_000_000_000_000  # fixed-point denominator for 1/deg


def link_prediction_scores(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Classic link-prediction indices for every wedge pair, all
    INTEGER-exact so the result hash-checks across engines:

    - ``n_common``      common-neighbor count (CN),
    - ``pref_attach``   preferential attachment deg(a)*deg(b),
    - ``ra_micro``      resource-allocation index sum(1/deg(c)) in
      fixed point: each center contributes RA_SCALE div deg(c) via
      INTEGER division (no float sum whose order could differ between
      engines; the quantization error is < |common|/RA_SCALE, far
      inside ranking tolerance). Adamic-Adar (1/ln deg) is the same
      plan with a log lookup — kept out of the exact twin because ln
      is not guaranteed bit-identical across engines.

    Plan shape = neighbor_jaccard: wedge equi-join on the shared
    center with the center's degree joined in BEFORE the partial agg,
    so RA accumulates map-side; per-node degrees broadcast for PA.
    Same hub-cap scale note as neighbor_jaccard.
    """
    und = tracked_persist(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    )
    adj = und.unionAll(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = adj.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    l = adj.select(F.col("b").alias("c"), F.col("a").alias("na"))
    r = adj.select(F.col("b").alias("c"), F.col("a").alias("nb"))
    cdeg = F.broadcast(
        deg.select(F.col("a").alias("c"), F.col("d").alias("dc"))
    )
    wedges = (
        l.join(r, "c")
        .filter(F.col("na") < F.col("nb"))
        .join(cdeg, "c")
        .groupBy("na", "nb")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(F.expr(f"{RA_SCALE}L div dc")).alias("ra_micro"),
        )
    )
    return (
        wedges.join(
            F.broadcast(
                deg.select(F.col("a").alias("na"), F.col("d").alias("da"))
            ),
            "na",
        )
        .join(
            F.broadcast(
                deg.select(F.col("a").alias("nb"), F.col("d").alias("db"))
            ),
            "nb",
        )
        .select(
            F.col("na").alias("node_a"),
            F.col("nb").alias("node_b"),
            F.col("n_common").cast("bigint").alias("n_common"),
            (F.col("da") * F.col("db")).cast("bigint").alias("pref_attach"),
            F.col("ra_micro").cast("bigint").alias("ra_micro"),
        )
    )
