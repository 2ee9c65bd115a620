"""Connected components over near-dup pair graphs.

Pair generators (MinHash-LSH, embedding-LSH, blocked Jaccard) emit
EDGES; deduplication needs CLUSTERS — one canonical document per
component.  This is min-label propagation expressed as DataFrame
joins:

    label(v) <- min(label(v), min over neighbors' labels)

iterated to a fixed point, with POINTER JUMPING between rounds
(label(v) <- label(label(v)) — a self-join on the label table) so a
chain's depth halves each round: convergence is O(log diameter), not
O(diameter).  Each round is three shuffles (edge-label join + min-agg,
label self-join, convergence count); `max_iter` bounds pathological
graphs.  Lineage is cut per round with localCheckpoint — without it the
plan doubles every iteration and the driver dies at round ~15 long
before the executors feel anything.

At 10^12-doc scale the same loop holds because label propagation only
ships (id, label) pairs — the documents themselves never move; the
min-propagation + pointer-jumping pair is the two-phase core of
large-star/small-star (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(id_a, id_b) edges -> (id, component); component = min id reachable.

    Only ids that appear in at least one edge are returned (isolated
    docs are their own components by definition — callers union them in
    when needed)."""
    edges = pairs.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    )
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    edges = edges.localCheckpoint()

    labels = (
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint()
    )

    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("comp").alias("ncomp"))
            .withColumnRenamed("src", "id")
        )
        relaxed = labels.join(neighbor_min, "id", "left").select(
            "id",
            F.least(F.col("comp"), F.coalesce("ncomp", "comp")).alias("comp"),
        )
        # pointer jumping: follow comp one more hop through the label
        # table itself — chain depth halves per round
        parents = relaxed.select(
            F.col("id").alias("comp"), F.col("comp").alias("_cc")
        )
        new_labels = (
            relaxed.join(parents, "comp", "left")
            .select("id", F.coalesce("_cc", "comp").alias("comp"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels

