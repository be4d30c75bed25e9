"""Synchronous label propagation (community detection), deterministic.

Not in the reference (BASELINE.json addition). Classic LPA is randomized;
per SURVEY.md §7.3 we pin deterministic semantics so results are exact and
partitioning-independent, and the pytest oracle runs the SAME rule in NumPy:

    label0(v) = v
    label'(v) = the neighbor label with max Σ incident edge weight,
                ties broken by SMALLEST label; isolated vertices keep theirs
    stop when no label changes or after max_iter rounds (default 10 — LPA
    may oscillate on bipartite structure; a bounded round count is part of
    the pinned semantics)

Physical plan per round: join(adj, labels on src) → two-phase aggregate
groupBy(dst, label) — the (dst,label) composite key spreads hub-dst rows
across reducers like a salt — → per-dst argmax via max_by struct ordering
(weight desc, label asc) with NO window/sort.

QUALITY CAVEAT: the deterministic min-label tie-break (chosen for
exactness and oracle replayability, SURVEY.md §7.3) systematically
favors small ids, which fragments community structure that randomized
LPA would coalesce — measured Newman modularity −0.088 across 4,902
communities on the sf0.1 repo graph. Treat the output as a
deterministic partition primitive; score it with :mod:`.modularity`
(the diagnostic) before treating it as communities.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import supersteps
from ..supersteps import Superstep, block_stats


def label_propagation(
    spark: SparkSession,
    adj: DataFrame,
    vertex_ids: DataFrame,
    max_iter: int = 10,
    num_blocks: int | None = None,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Return (``labels(id, label)``, lineage)."""
    P = num_blocks or spark.sparkContext.defaultParallelism
    # pre-partitioned on src: vote joins never re-exchange O(E)
    edges = adj.select("src", "dst", "weight").repartition(F.col("src")).persist()

    def step(labels: DataFrame, k: int) -> Superstep:
        votes = (
            edges.join(labels, edges.src == labels.id)
            .groupBy("dst", "label")
            .agg(F.sum("weight").alias("w"))
        )
        # argmax by (w desc, label asc): max_by over struct(w, -label) — no sort
        best = votes.groupBy("dst").agg(
            F.max(F.struct(F.col("w"), (-F.col("label")).alias("nl"))).alias("m")
        ).select(F.col("dst").alias("id"), (-F.col("m.nl")).alias("winner"))

        new_labels = (
            labels.join(best, "id", "left_outer")
            .select("id", F.coalesce(F.col("winner"), F.col("label")).alias("label"))
            # lazy checkpoint + metrics in the SAME action (one Spark
            # action per superstep; see components.py)
            .localCheckpoint(eager=False)
        )
        stats = block_stats(
            labels.select("id", F.col("label").alias("old"))
            .join(new_labels.select("id", F.col("label").alias("new")), "id"),
            P,
            changed=F.sum((F.col("old") != F.col("new")).cast("long")),
        )
        return Superstep(new_labels, stats, sum(r["changed"] for r in stats))

    labels, lineage, _ = supersteps.run(
        spark, vertex_ids.select("id", F.col("id").alias("label")), step,
        algorithm="label_propagation", metric="changed", max_iter=max_iter,
        checkpoint_dir=checkpoint_dir, run_id=run_id,
    )
    edges.unpersist()
    return labels, lineage
