"""Iterative graph algorithms as pure DataFrame aggregations.

Companion to the connected-components operator (``operators.dedup``):
PageRank with a FIXED iteration count, built for cross-engine
determinism the same way the k-means trainer is — every floating-point
reduction is an explicit in-neighbor-id-order left fold, never a
parallel SUM whose partition order would wiggle the last ulp.

Scale shape per iteration: one join of the edge list against the
(vertex, rank) table on src (both keyed by vertex id — AQE picks the
strategy), then one groupBy(dst) whose per-vertex state is the sorted
contribution list (bounded by in-degree). Rank state is 2 columns per
vertex. ``iters`` linear rounds, same as any Pregel superstep loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from demo_apache_flink_streaming_mode_spark.operators.scale import (
    cut_lineage, ordered_sum)


def pagerank(edges: DataFrame, iters: int = 3, damping: float = 0.85,
             src: str = "src", dst: str = "dst") -> DataFrame:
    """PageRank over a directed edge list, ``iters`` exact rounds.

    pr_{t+1}(v) = (1-d)/N + d * sum_{(u,v) in E} pr_t(u) / outdeg(u),
    with the sum folded in ascending-u order (``ordered_sum``:
    bit-stable across partitionings and engines; it buffers each
    vertex's in-neighbor contributions, O(in-degree) at a hub).
    Vertices with no in-edges keep the base term. Dangling mass is NOT
    redistributed — callers whose edge lists are symmetric (every edge
    has a reverse) have no dangling vertices, and that is the
    documented contract here.

    Returns (vertex, pagerank) for every vertex appearing in the edge
    list.
    """
    # materialize the edge list once, WITH the out-degree already
    # attached (r12): every iteration joins against it, and without the
    # cut the caller's edge-derivation lineage (often a self-join +
    # distinct) re-executes per round — measured 18s -> 4s warm at
    # sf0.1 on the co-occurrence graph. Folding outdeg into the same
    # materialization (instead of a separate lazy aggregate) stops
    # every round's job from re-aggregating degrees over the cached
    # edges: one groupBy + join runs once, in the job the cut pays
    # anyway.
    e0 = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    e = (e0.join(e0.groupBy("u").agg(F.count("*").alias("odeg")), "u")
         .transform(cut_lineage))
    verts = (e.select(F.col("u").alias("vertex"))
             .unionByName(e.select(F.col("v").alias("vertex")))
             .distinct())
    n1 = verts.agg(F.count("*").alias("n"))
    # rank state rides with N so the per-iteration expressions stay
    # driver-free; the 1-row N attaches once via broadcast. The seed
    # ranks are NOT cut (r12): round 1 references them twice, but each
    # reference is a distinct + broadcast over the already-cached edge
    # blocks, and round 1's checkpoint replaces them — same economics
    # as connected_components' seed labels.
    pr = (verts.crossJoin(F.broadcast(n1))
          .select("vertex", "n",
                  (F.lit(1.0) / F.col("n").cast("double")).alias("pr")))
    for _ in range(iters):
        contribs = (e.join(pr.select(F.col("vertex").alias("u"),
                                     F.col("pr").alias("pr_u")), "u")
                    .select(F.col("v").alias("vertex"), "u",
                            (F.col("pr_u") / F.col("odeg").cast("double"))
                            .alias("c")))
        summed = contribs.groupBy("vertex").agg(
            ordered_sum("u", "c").alias("s"))
        pr = (pr.select("vertex", "n").join(summed, "vertex", "left")
              .select("vertex", "n",
                      ((F.lit(1.0 - damping) / F.col("n").cast("double"))
                       + F.lit(damping) * F.coalesce("s", F.lit(0.0)))
                      .alias("pr"))
              .transform(cut_lineage))
    return pr.select("vertex", F.col("pr").alias("pagerank"))


def triangle_count(edges: DataFrame, src: str = "src",
                   dst: str = "dst") -> DataFrame:
    """Count triangles in an undirected graph given as a (possibly
    symmetric/duplicated) directed edge list, degree-oriented
    (the Suri–Vassilvitskii / Cohen MapReduce refinement):

    1. canonicalize low-id -> high-id and dedupe (each undirected edge
       exactly once);
    2. compute every vertex's degree, then RE-orient each edge from its
       lower-(degree, id) endpoint to its higher one — a total order,
       so each triangle {x<y<z} exists exactly once as the out-edge
       pair (x->y, x->z) plus the closing edge y->z;
    3. self-join the oriented edges on the SOURCE (wedge build, one
       pair per unordered out-edge pair via the (dw, w) tie-break),
       then semi-close each wedge against the oriented edge list.

    Why degree orientation matters at 100 TB: wedge fan-out is
    out-degree-squared per vertex, and under (degree, id) orientation a
    vertex's out-degree is bounded by ~sqrt(2m) (a vertex only points
    at neighbors of >= its own degree), so one hub vertex can no longer
    create a straggler wedge partition the way id-orientation allows —
    the hub's edges point INTO it and build no wedges there. Costs one
    extra degree aggregate + join before the wedge build.

    Integer-only — no float portability concerns. The triangle COUNT is
    orientation-invariant, so the id-oriented SQL oracle twin remains a
    valid cross-check. Returns a single row (n_triangles).
    """
    und = (edges.select(F.least(src, dst).alias("a"),
                        F.greatest(src, dst).alias("b"))
           .filter(F.col("a") != F.col("b"))
           .distinct())
    deg = (und.select(F.col("a").alias("v"))
           .unionByName(und.select(F.col("b").alias("v")))
           .groupBy("v").agg(F.count("*").alias("d")))
    # attach both endpoint degrees, then orient by (degree, id)
    low_is_a = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    oriented = (und
                .join(deg.select(F.col("v").alias("a"),
                                 F.col("d").alias("da")), "a")
                .join(deg.select(F.col("v").alias("b"),
                                 F.col("d").alias("db")), "b")
                .select(F.when(low_is_a, F.col("a")).otherwise(F.col("b"))
                        .alias("u"),
                        F.when(low_is_a, F.col("b")).otherwise(F.col("a"))
                        .alias("w"),
                        F.when(low_is_a, F.col("db")).otherwise(F.col("da"))
                        .alias("dw"))
                # referenced three times below (e1/e2/e3); materialize
                # once instead of replaying the caller's edge
                # derivation + degree joins per reference
                .transform(cut_lineage))
    # wedges at the source: each unordered out-edge pair once, ordered
    # by the same (degree, id) total order so the closing edge's
    # orientation (lower endpoint -> higher) is known to be y -> z
    pair_lt = (F.col("e1.dw") < F.col("e2.dw")) | (
        (F.col("e1.dw") == F.col("e2.dw")) & (F.col("e1.w") < F.col("e2.w")))
    wedge = (oriented.alias("e1")
             .join(oriented.alias("e2"),
                   (F.col("e1.u") == F.col("e2.u")) & pair_lt)
             .select(F.col("e1.w").alias("y"), F.col("e2.w").alias("z")))
    closed = wedge.join(oriented.alias("e3"),
                        (F.col("y") == F.col("e3.u"))
                        & (F.col("z") == F.col("e3.w")), "left_semi")
    return closed.agg(F.count("*").alias("n_triangles"))
