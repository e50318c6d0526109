"""Canonicalization: connected components → canonical entity/doc IDs.

Every doc maps to the minimum id of its near-duplicate component. The path
is chosen from the input, never from a setting:

* **At or below** :data:`DRIVER_CC_CAP` pairs the pair list is collected and
  labelled by union-find on the driver. The near-dup graph is tiny on every
  input the package builds (23 pairs for kg_build's 500 docs, 256 at sf0.1,
  2,279 for the 50k-doc determinism corpus), and there a distributed
  algorithm pays per-job overhead for each of its rounds: the former
  min-label path ran 21 jobs for kg_build's 23 pairs, the driver path 4.
* **Above** it, alternating large-star / small-star label propagation
  (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14
  — the algorithm GraphFrames uses internally) expressed as plain DataFrame
  joins/aggregations. It converges in O(log² n) rounds on any graph shape
  and is the one path that runs on a graph too big for the driver.

Both paths label a component by its minimum id, so the choice changes cost,
never results. Python orders ``str`` by code point and Spark orders strings
by their UTF-8 bytes; UTF-8 preserves code-point order, so the driver's
minimum is the one Spark computes.

Reference analog: none — the importer delegates identity resolution to the
server; canonicalization is a north-rule addition (SURVEY.md §2.4).
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from nebula_importer_spark.operators.checkpointing import materialize

#: Largest pair list labelled on the driver. Measured with canonical_mapping
#: on dedup-shaped pairs (components of 2-4 docs, 12-character string ids
#: like the pipeline's doc_id), local[4], 8 shuffle partitions, warm runs,
#: peak Python RSS by ``resource.getrusage`` (table in PLANS.md): 10^5 pairs
#: driver 2.3 s / 0.20 GB, star 57 s; 10^6 driver 11.4 s / 0.51 GB, star
#: 133 s; 3×10^6 driver 30 s / 1.07 GB, star 298 s. The driver wins at
#: every size; the cap is the largest measured size whose driver RSS stays
#: under 1 GB.
DRIVER_CC_CAP = 1_000_000

#: Round cap of the star path; it needs O(log² n) rounds, so hitting the cap
#: means a bug or a graph far beyond any measured size, and it raises.
STAR_MAX_ROUNDS = 30


def _driver_labels(pairs: Iterable[tuple]) -> dict:
    """{id: component minimum} for every id in ``pairs``, by union-find
    whose root is always the smaller id (so each root is its set's min)."""
    parent: dict = {}

    def find(x):
        root = parent.setdefault(x, x)
        while parent[root] != root:
            parent[root] = parent[parent[root]]  # path halving
            root = parent[root]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra < rb:
            parent[rb] = ra
        elif rb < ra:
            parent[ra] = rb
    return {x: find(x) for x in parent}


def _neighborhood_min(edges: DataFrame) -> DataFrame:
    """(u, m): m = min of Γ(u) ∪ {u} over a directed edge list."""
    return (
        edges.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least(F.col("mv"), F.col("u")).alias("m"))
    )


def connected_components_star(pairs: DataFrame) -> DataFrame:
    """Alternating large-star / small-star connected components.

    The O(log² n)-round algorithm of Kiveris et al. (SoCC'14) — each round
    is two shuffles and the intermediate edge count is bounded, which is
    what survives 10^12-node graphs where plain label propagation needs
    O(diameter) rounds. Expressed purely as groupBy/join (no neighbor-list
    collection, so hot nodes never materialize their adjacency in one task).

    Rules per round (Γ(u) = neighbors of u, m(u) = min(Γ(u) ∪ {u})):

    * large-star: for every neighbor v > u, emit (v, m(u));
    * small-star: for every neighbor v ≤ u (v ≠ m), emit (v, m(u)),
      plus (u, m(u)).

    ``pairs`` is an undirected (id_a, id_b) edge list; self-loops and
    duplicates in either direction are allowed. Returns (id, component) with
    component = the component's minimum id. Every round's edges are
    lineage-cut: a round's plan reads the previous edges several times, so
    without the cut the plan multiplies per round and the driver OOMs at
    scale. Cutting every round rather than every third (persisting the
    others) measured 6.6 s against 56.5 s warm for a 31-node chain and
    19.3 s against 60.6 s for 10^5 dedup-shaped pairs (local[4]). Raises
    ``RuntimeError`` when no fixpoint is reached within
    :data:`STAR_MAX_ROUNDS` rounds.
    """
    # the union embeds the pair plan on BOTH legs, and the legs race within
    # one job before any cache exists: cut a computed pair list once here
    pairs = materialize(pairs.select("id_a", "id_b"))
    edges = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .union(pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
        .where(F.col("u") != F.col("v"))
        .dropDuplicates()
        .persist()
    )

    fixpoint = False
    for i in range(STAR_MAX_ROUNDS):
        # large-star
        mins = _neighborhood_min(edges)
        large = (
            edges.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .dropDuplicates()
        )
        # small-star over the large-star output:
        # emit (v, m) for every neighbor v ≤ u, AND (u, m) itself — without
        # the (u, m) edge a 2-node star dissolves and connectivity is lost
        mins2 = _neighborhood_min(large)
        small_nbrs = (
            large.join(mins2, "u")
            .where(F.col("v") <= F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        small_self = mins2.select(F.col("u"), F.col("m").alias("v"))
        small = (
            small_nbrs.union(small_self)
            .where(F.col("u") != F.col("v"))
            .dropDuplicates()
        )
        new_edges = materialize(
            small.union(
                small.select(F.col("v").alias("u"), F.col("u").alias("v"))
            ).dropDuplicates()
        )
        # both edge sets are duplicate-free: tagged 1 (new) and 2 (old), an
        # edge in both sums to 3, so one aggregate decides set equality
        converged = (
            new_edges.withColumn("t", F.lit(1))
            .union(edges.withColumn("t", F.lit(2)))
            .groupBy("u", "v")
            .agg(F.sum("t").alias("t"))
            .where(F.col("t") != 3)
            .limit(1)
            .count()
            == 0
        )
        edges.unpersist()
        edges = new_edges
        if converged:
            fixpoint = True
            break

    if not fixpoint:
        edges.unpersist()  # release the last round's cache before raising
        raise RuntimeError(
            f"connected_components_star did not reach a fixpoint within "
            f"{STAR_MAX_ROUNDS} rounds"
        )
    # fixpoint is a star per component (plus mirror edges): every node's
    # minimum neighbor is the center; centers map to themselves
    labels = _neighborhood_min(edges).select(
        F.col("u").alias("id"), F.col("m").alias("component")
    )
    centers = labels.select(F.col("component").alias("id")).dropDuplicates().withColumn(
        "component", F.col("id")
    )
    out = materialize(
        labels.unionByName(centers).groupBy("id").agg(
            F.min("component").alias("component")
        )
    )
    edges.unpersist()  # self-clean: out no longer references the loop cache
    return out


def canonical_mapping(ids: DataFrame, pairs: DataFrame) -> DataFrame:
    """(doc_id, canonical_id) for ALL ``ids.doc_id``: the component minimum
    for ids linked by the (id_a, id_b) ``pairs``, the id itself otherwise.

    Labels the components on the driver when there are at most
    :data:`DRIVER_CC_CAP` pairs, with :func:`connected_components_star`
    above that (the module docstring has the measurement).
    """
    # the limited collect computes every partition of the pair list: cache
    # it so the star path does not compute the pairs a second time
    pairs = pairs.select("id_a", "id_b").persist()
    try:
        # Arrow both ways: at 10^6 pairs toPandas took 1.7 s against
        # collect's 4.5 s, and a pandas frame became a DataFrame in 1.5 s
        # against 7.9 s from a list of tuples
        head = pairs.limit(DRIVER_CC_CAP + 1).toPandas()
        if len(head) > DRIVER_CC_CAP:
            comp = connected_components_star(pairs)
        else:
            labels = _driver_labels(zip(head["id_a"].tolist(), head["id_b"].tolist()))
            id_type = pairs.schema["id_a"].dataType
            comp = ids.sparkSession.createDataFrame(
                pd.DataFrame({"id": list(labels), "component": list(labels.values())}),
                StructType([StructField("id", id_type), StructField("component", id_type)]),
            )
    finally:
        pairs.unpersist()
    return (
        ids.select("doc_id")
        .dropDuplicates()
        .join(comp, ids["doc_id"] == comp["id"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("canonical_id"),
        )
    )
