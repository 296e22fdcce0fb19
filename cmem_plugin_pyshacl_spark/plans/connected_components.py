"""Distributed connected components (SURVEY.md C5). Callers: owl:sameAs
closure (plans/inference.py), near-duplicate clustering
(operators/dedup.py) and the `connected_components` oracle. Entity
canonicalization does not need it: its surface -> normal-form graph is a
star forest, which plans/pipeline.py::canonicalize_stage labels with one
window.

Algorithm: alternating large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14 — public literature). Each
round is two shuffle joins + aggregations on the edge set; convergence in
O(log^2 n) rounds. Deterministic tie-breaking by lexicographic min id —
no rand(), so resumes/re-runs converge to identical labelings.

Scale posture:
  * every round ends with localCheckpoint() to cut lineage (a 20-round
    fixpoint otherwise builds a 40-join plan that kills the optimizer);
  * head entities (celebrity URLs) create skewed neighbor lists — the
    groupBy(min) aggregation is a partial+final hash agg so skew appears
    only in the final stage; AQE skew-join handles the join side, and the
    star-contraction structure itself bounds per-key fanout growth;
  * convergence check is one count() per round on the changed-edge set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# upper bound on star-contraction rounds; the loop exits as soon as the
# edge set stops changing
_MAX_ROUNDS = 50


def _canonical_edges(edges: DataFrame) -> DataFrame:
    """Undirected edge set as (src>dst) ordered pairs, deduped."""
    e = edges.selectExpr("src", "dst").filter(F.col("src") != F.col("dst"))
    return (
        e.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """large-star: connect every strictly-larger neighbor of u to
    min(neighborhood(u) ∪ {u})."""
    nbrs = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = nbrs.groupBy("src").agg(F.min("dst").alias("min_nbr"))
    m = m.select("src", F.least("min_nbr", "src").alias("mn"))
    joined = nbrs.join(m, on="src")
    return (
        joined.filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """small-star: connect all smaller-or-equal neighbors to the minimum."""
    # orient edges small->large: (src<=dst) pairs as (dst as center)
    oriented = edges.select(
        F.greatest("src", "dst").alias("center"), F.least("src", "dst").alias("nbr")
    )
    m = oriented.groupBy("center").agg(F.min("nbr").alias("mn"))
    joined = oriented.join(m, on="center")
    out = joined.select(F.col("nbr").alias("src"), F.col("mn").alias("dst")).filter(
        F.col("src") != F.col("dst")
    )
    centers = joined.select(F.col("center").alias("src"), F.col("mn").alias("dst")).filter(
        F.col("src") != F.col("dst")
    )
    return out.unionByName(centers).distinct()


def _driver_cc(spark, edge_rows, node_rows, node_type) -> DataFrame:
    """Union-find over a COLLECTED small edge set — produces the exact
    labeling of the distributed fixpoint (component = min member id)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    members: dict = {}
    all_nodes = {n for n, in node_rows}
    for n in all_nodes:
        members.setdefault(find(n), []).append(n)
    out = []
    for group in members.values():
        comp = min(group)
        out.extend((n, comp) for n in group)
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("node", node_type), T.StructField("component", node_type)]
    )
    return spark.createDataFrame(sorted(out), schema=schema)


def connected_components(
    edges: DataFrame, small_graph_threshold: int = 100_000
) -> DataFrame:
    """Returns DataFrame[node, component] where component = min node id of
    the node's connected component. `edges` needs columns (src, dst).

    Driver-loop fixpoint (SURVEY.md §4): iterate large-star/small-star until
    the edge set stops changing, then emit node->min labels.

    ADAPTIVE small-graph path: when the deduped edge set fits under
    `small_graph_threshold` rows, the fixpoint's ~8 rounds of paired
    shuffle jobs cost more than the data — union-find over the collected
    edges produces the identical labeling in two jobs. At 100 TB the edge
    set blows past the threshold and the distributed star-contraction
    runs; the pytest suite pins both paths to the same output."""
    def _checksum(df: DataFrame) -> tuple[int, int]:
        """(count, order-independent content checksum) in ONE job —
        the cheapest sound fixpoint test (vs exceptAll: 1 agg vs 2
        shuffles + 2 jobs per round)."""
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("src", "dst")).alias("h"),
        ).collect()[0]
        return (row.n, row.h if row.h is not None else 0)

    cur = _canonical_edges(edges).localCheckpoint()
    prev_sig = _checksum(cur)

    if small_graph_threshold and prev_sig[0] <= small_graph_threshold:
        node_df = (
            edges.select(F.col("src").alias("node"))
            .unionByName(edges.select(F.col("dst").alias("node")))
            .distinct()
        )
        return _driver_cc(
            edges.sparkSession,
            [(r.src, r.dst) for r in cur.collect()],
            [(r.node,) for r in node_df.collect()],
            edges.schema["src"].dataType,
        )
    for _ in range(_MAX_ROUNDS):
        nxt = _small_star(_large_star(cur))
        nxt = nxt.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        ).distinct().localCheckpoint()
        sig = _checksum(nxt)
        cur = nxt
        if sig == prev_sig:
            break
        prev_sig = sig
    # after convergence every surviving edge is (node -> component_min)
    nodes = edges.select(F.col("src").alias("node")).unionByName(
        edges.select(F.col("dst").alias("node"))
    ).distinct()
    labels = cur.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    # a node may appear with several labels mid-structure; take the min,
    # and isolated/self-rooted nodes label themselves.
    labels = labels.groupBy("node").agg(F.min("component").alias("component"))
    return (
        nodes.join(labels, on="node", how="left")
        .select(
            "node", F.coalesce("component", F.col("node")).alias("component")
        )
    )
