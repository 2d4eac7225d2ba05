"""Connected components over near-duplicate pair graphs.

The dedup operators emit PAIRS (jaccard_pairs, minhash_lsh_dedup); a
pipeline that drops duplicates needs GROUPS — one canonical survivor per
component of the pair graph (pairs are not transitive-closed: LSH
chained pairing deliberately emits a path, not a clique, for oversized
buckets; see dedup.py bucket_cap).

Algorithm (distributed path): the large-star / small-star alternation
(Kiveris et al., "Connected Components in MapReduce and Beyond",
public algorithm): each round rewires every node's larger neighbors to
its local minimum (large-star), then contracts each node's smaller
neighborhood onto that minimum (small-star). Converges in O(log^2 n)
rounds worst-case — in practice a handful — INDEPENDENT of graph
diameter, which matters precisely here: chained-LSH pairing
deliberately emits path-shaped components whose diameter scales with
bucket size, the one shape that makes per-round min-label propagation
O(diameter). Each half-round is one aggregation + one join on node id.

Scale notes:
- the iterated DataFrames are EDGES (pair-graph sized — orders of
  magnitude smaller than the corpus; only near-duplicates appear);
- localCheckpoint per round truncates the logical plan, otherwise the
  lineage doubles each iteration and planning time explodes;
- non-convergence within ``max_iter`` RAISES (never a silently wrong
  grouping): at the default max_iter=25 the alternation handles any
  graph the pair generators can emit (2^25 nodes per component is far
  beyond any bucket-cap bound).

Not SQL-expressible without recursion, so no DuckDB oracle: the gate is
a pytest equivalence against a driver-side union-find on the collected
pair list (tests/test_components.py), plus determinism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(pairs: DataFrame, src: str = "d1",
                         dst: str = "d2", max_iter: int = 25,
                         driver_max_edges: int = 2_000_000) -> DataFrame:
    """(node, component) for every node that appears in ``pairs``;
    ``component`` is the minimum node id in the node's component.

    Hybrid execution: the near-dup pair graph is metadata-sized relative
    to the corpus (only near-duplicates appear), so up to
    ``driver_max_edges`` edges the exact union-find runs on the driver —
    one collect of the (already materialized) edge list, microseconds of
    CPU, zero iterative Spark jobs (the distributed loop costs ~3 jobs
    PER ROUND in scheduling alone, 18s for a 233-group graph at sf0.1).
    Same shape as IVF's driver-side quantizer training: driver work on a
    bounded, sub-sampled artifact, never on the data path. Larger graphs
    take the distributed min-label loop below.
    """
    edges = (pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
             .unionByName(pairs.select(F.col(dst).alias("a"),
                                       F.col(src).alias("b")))
             .distinct()
             .localCheckpoint(eager=True))

    if driver_max_edges and edges.count() <= driver_max_edges:
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for r in edges.collect():
            ra, rb = find(r.a), find(r.b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        rows = sorted((x, find(x)) for x in parent)
        node_t = edges.schema["a"].dataType.simpleString()
        return pairs.sparkSession.createDataFrame(
            rows, f"node {node_t}, component {node_t}")

    # large-star/small-star alternation. Edge invariant between rounds:
    # E holds directed edges (u, v) with v < u (pointing at the smaller
    # id); the converged fixpoint is a star per component rooted at its
    # minimum id.
    E = (edges.filter(F.col("a") > F.col("b"))
         .select(F.col("a").alias("u"), F.col("b").alias("v"))
         .distinct()
         .localCheckpoint(eager=True))

    converged = False
    for _ in range(max_iter):
        # LARGE-STAR: for each node u, m = min(neighbors ∪ {u}); every
        # STRICTLY LARGER neighbor re-points at m.
        sym = E.select("u", "v").unionByName(
            E.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (sym.groupBy("u").agg(F.min("v").alias("_mv"))
                .select("u", F.least("u", "_mv").alias("m")))
        large = (sym.filter(F.col("v") > F.col("u"))
                 .join(mins, "u")
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .filter(F.col("u") != F.col("v"))
                 .distinct())
        # SMALL-STAR: for each node u over its SMALLER neighbors L(u),
        # m = min(L(u)); u and every member of L(u) re-point at m.
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        e1 = mins2.select("u", F.col("m").alias("v"))
        e2 = (large.join(mins2, "u")
              .filter(F.col("v") != F.col("m"))
              .select(F.col("v").alias("u"), F.col("m").alias("v")))
        E2 = (e1.unionByName(e2)
              .filter(F.col("u") != F.col("v"))
              .distinct()
              .localCheckpoint(eager=True))
        # fixpoint test on the (pair-graph-sized) edge sets
        if (E2.exceptAll(E).limit(1).count() == 0
                and E.exceptAll(E2).limit(1).count() == 0):
            E = E2
            converged = True
            break
        E = E2
    if not converged:
        raise ValueError(
            f"connected_components: star alternation did not converge in "
            f"{max_iter} rounds — refusing to emit a possibly-split "
            "grouping; raise max_iter")

    roots = E.select(F.col("v").alias("node")).distinct() \
        .withColumn("component", F.col("node"))
    return (E.select(F.col("u").alias("node"),
                     F.col("v").alias("component"))
            .unionByName(roots)
            .distinct())


def dedup_groups(pairs: DataFrame, src: str = "d1", dst: str = "d2",
                 max_iter: int = 25) -> DataFrame:
    """Duplicate groups from a near-dup pair list: one row per group with
    the canonical (minimum) id, the member count, and the sorted members
    — the keep-one-drop-rest artifact of a dedup pipeline."""
    cc = connected_components(pairs, src, dst, max_iter)
    return (cc.groupBy(F.col("component").alias("canonical_id"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sort_array(F.collect_list("node")).alias("members"))
            .filter(F.col("n_docs") > 1)
            .orderBy("canonical_id"))


def keep_best(pairs: DataFrame, scores: DataFrame,
              id_col: str = "doc_id", score_col: str = "quality_bp",
              src: str = "d1", dst: str = "d2",
              max_iter: int = 25) -> DataFrame:
    """Quality-aware canonical selection: for every duplicate group in
    the near-dup pair graph, KEEP the highest-``score_col`` member
    (ties -> smallest id) instead of the naive min-id canonical — the
    curation policy a training-data dedup actually wants ("of N copies,
    keep the cleanest one"). Output one row per multi-member group:
    (canonical_id, n_docs, keep_id, keep_score, n_dropped); singleton
    nodes never appear (nothing to drop).

    The argmax is a map-side ``max(struct(score, -id))`` aggregate —
    never a per-group sort or window — so group state is one scalar
    pair regardless of group size. Join shape at 100 TB: the component
    map is dup-graph-sized (sparse vs the corpus); the score side is
    pruned to (id, score) before the equi-join, and AQE broadcasts the
    component map when it fits."""
    cc = connected_components(pairs, src, dst, max_iter)
    sc = scores.select(F.col(id_col).alias("node"),
                       F.col(score_col).cast("bigint").alias("_score"))
    best = F.max(F.struct(F.col("_score").alias("s"),
                          (-F.col("node")).alias("neg_id")))
    return (cc.join(sc, "node")
            .groupBy(F.col("component").alias("canonical_id"))
            .agg(F.count(F.lit(1)).alias("n_docs"), best.alias("_b"))
            .filter(F.col("n_docs") > 1)
            .select("canonical_id",
                    F.col("n_docs").cast("bigint").alias("n_docs"),
                    (-F.col("_b.neg_id")).cast("bigint").alias("keep_id"),
                    F.col("_b.s").alias("keep_" + score_col),
                    (F.col("n_docs") - 1).cast("bigint").alias("n_dropped")))
