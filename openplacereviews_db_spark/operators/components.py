"""Distributed connected components over a pair/edge list.

The end step of every dedup pipeline: near-duplicate PAIRS (from
minhash/simhash/ngram/embedding operators) become duplicate GROUPS, and
each group elects a canonical representative (min id).  The reference's
G2 greedy clustering is its small-scale, tile-local cousin; this is the
corpus-scale version.

Algorithm: iterated partition-local contraction (the Hash-to-Min scheme
of Rastogi et al., "Finding Connected Components in Map-Reduce in
Logarithmic Rounds"):

1. hash-partition the symmetrized edges on the source node — a node's
   whole neighborhood lands in one partition — and run union-find
   inside each Arrow batch.  Every node collapses to a star edge
   (node → min id of its partition-local component);
2. components that span partitions leave chained stars; symmetrize the
   (now much smaller) star graph and contract again.  Each pass merges
   whole local components, so passes = O(log diameter); near-dup
   components are almost-cliques and 2 passes is typical;
3. converged when every node maps to a single root and every root maps
   to itself — checked with ONE scalar action per pass (no data is
   ever collected to the driver).

Per-partition union-find memory is O(nodes in the partition), bounded
by the shuffle partition size — raise the partition count to scale.
``localCheckpoint`` truncates lineage each pass (iterative plans
otherwise double per round).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _contract_star_edges(sym: DataFrame) -> DataFrame:
    """(node, root) star edges from partition-local union-find over the
    (directionally doubled) edge list; root = min id of the node's
    partition-local component.  A node split across partitions emits one
    star edge per partition, chaining its local roots — connectivity is
    preserved exactly.  Duplicate input edges are harmless (no distinct
    pass needed: union-find is idempotent)."""
    import pandas as pd

    def contract(batches):
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for pdf in batches:
            for a, b in zip(pdf["a"].to_numpy(), pdf["b"].to_numpy()):
                a, b = int(a), int(b)
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[ra] = rb
        if not parent:
            return
        roots = {n: find(n) for n in parent}
        root_min: dict[int, int] = {}
        for n, r in roots.items():
            if n < root_min.get(r, n + 1):
                root_min[r] = n
        yield pd.DataFrame({
            "a": list(roots.keys()),
            "b": [root_min[r] for r in roots.values()],
        })

    # hash-partition on the node WITHOUT an explicit count: an explicit
    # N pins the exchange and AQE cannot coalesce it, so a tiny star
    # graph would still spawn shuffle-partition-many Python tasks; with
    # AQE the count adapts from spark.sql.shuffle.partitions down (or
    # raise the conf up at 100 TB)
    return (sym.repartition("a")
            .mapInPandas(contract, schema="a long, b long"))


def _symmetrize(df: DataFrame) -> DataFrame:
    return df.unionByName(
        df.select(F.col("b").alias("a"), F.col("a").alias("b")))


def connected_components(edges: DataFrame, src: str = "id_a",
                         dst: str = "id_b", max_iter: int = 20) -> DataFrame:
    """(node, component) for every node in the edge list; component =
    min node id of its connected component."""
    # materialize the (possibly expensive) pair pipeline once — the
    # symmetrize-union references it twice
    edges = edges.localCheckpoint()
    sym = _symmetrize(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b")))
    labels = None
    for _ in range(max_iter):
        star = _contract_star_edges(sym).localCheckpoint()
        # m derives from the CHECKPOINTED star, so its lineage is one
        # aggregate deep — no checkpoint of its own (saves one job per
        # round; the viol action below and the final labels consumer
        # each recompute the cheap agg over star's stored blocks)
        m = (star.groupBy("a")
             .agg(F.count_distinct("b").alias("nr"),
                  F.min("b").alias("comp")))
        # converged ⇔ every node has ONE root and every root self-maps;
        # one scalar action (roots are nodes, so the self-lookup is an
        # equi-join of m with itself — nothing collected)
        viol = (
            m.alias("c")
            .join(m.select(F.col("a").alias("ra"),
                           F.col("comp").alias("rcomp")).alias("p"),
                  F.col("c.comp") == F.col("p.ra"), "left")
            .agg(F.sum(((F.col("nr") > 1)
                        | (F.col("rcomp") != F.col("ra"))
                        | F.col("rcomp").isNull()).cast("int")))
            .collect()[0][0] or 0)
        labels = m.select(F.col("a").alias("node"), "comp")
        if viol == 0:
            break
        sym = _symmetrize(star)
    return labels


def dedup_groups(pairs: DataFrame, src: str = "id_a", dst: str = "id_b",
                 max_iter: int = 20) -> DataFrame:
    """Duplicate groups from near-dup pairs: (node, canonical_id,
    group_size); canonical = min id of the component (the row a
    keep-one-per-group pipeline retains)."""
    comp = connected_components(pairs, src, dst, max_iter)
    sizes = comp.groupBy("comp").agg(F.count(F.lit(1)).alias("group_size"))
    return (comp.join(sizes, on="comp")
            .select("node", F.col("comp").alias("canonical_id"),
                    "group_size"))
