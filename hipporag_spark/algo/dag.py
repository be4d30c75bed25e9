"""Topological layering / longest-path depth over a DAG, with cycle
detection — an iterative max-plus relaxation job.

Not in the reference (its graph is undirected); added because DAG
processing (dependency graphs between source files, build targets, data
lineage) is a first-class workload for a link-graph engine over
source-code repositories, and the layering doubles as a scalable cycle
DETECTOR: a max-plus relaxation converges within longest-path+1 rounds on
a DAG and grows forever on a cycle, so exceeding ``max_iter`` (chosen >
any plausible depth) is a positive cycle signal, raised — never a silent
partial result (the scc.py lesson).

Algorithm: bulk-synchronous Bellman-Ford in the (max, +) semiring.
layer(v) = 0 for sources (no in-edges); layer(v) = 1 + max over
in-neighbors, reached at fixpoint. Frontier-sparse: only vertices whose
layer GREW last round feed the next join, so late supersteps touch the
deep tail only, not O(E). Integer-only updates → EXACT and identical at
any parallelism.

Scale shape per round: one frontier-to-edges equi-join against the
(static, persisted, src-pre-partitioned) edge list + one
map-side-combinable max agg + one full_outer state merge keyed on id;
convergence read from the same O(P) metrics action that materializes the
round. Supersteps checkpoint and resume through :mod:`..supersteps`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import supersteps
from ..supersteps import Superstep, block_stats


def longest_path_layers(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 100,
    num_blocks: int | None = None,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Return (``layers(id, layer)``, lineage) for the directed graph
    ``edges(src, dst)``: ``layer`` = length of the longest path ending at
    the vertex (0 for sources). Every vertex incident to an edge appears.
    Raises RuntimeError when ``max_iter`` rounds pass without fixpoint —
    on a graph with a reachable cycle this is guaranteed to fire (the
    relaxation grows without bound), making the raise the cycle verdict."""
    P = num_blocks or spark.sparkContext.defaultParallelism
    e = edges.select("src", "dst").distinct().repartition(F.col("src")).persist()

    verts = (
        e.select(F.col("src").alias("id"))
        .unionAll(e.select(F.col("dst").alias("id")))
        .distinct()
    )

    def step(state: DataFrame, k: int) -> Superstep:
        frontier = state.filter("grew").select("id", "layer")
        cand = (
            e.join(frontier, e.src == frontier.id)
            .groupBy(e.dst.alias("id"))
            .agg(F.max(frontier.layer + 1).alias("cand"))
        )
        new_state = (
            state.select("id", "layer")
            .join(cand, "id", "left_outer")
            .select(
                "id",
                F.greatest(
                    F.col("layer"), F.coalesce(F.col("cand"), F.lit(0).cast("long"))
                ).alias("layer"),
                (F.coalesce(F.col("cand"), F.lit(0).cast("long")) > F.col("layer"))
                .alias("grew"),
            )
            .localCheckpoint(eager=False)
        )
        stats = block_stats(new_state, P, changed=F.sum(F.col("grew").cast("long")))
        return Superstep(new_state, stats, sum(r["changed"] for r in stats))

    state, lineage, converged = supersteps.run(
        spark,
        verts.select("id", F.lit(0).cast("long").alias("layer"), F.lit(True).alias("grew")),
        step,
        algorithm="longest_path_layers", metric="changed", max_iter=max_iter,
        checkpoint_dir=checkpoint_dir, run_id=run_id,
    )
    e.unpersist()
    if not converged:
        raise RuntimeError(
            f"longest_path_layers did not converge within max_iter={max_iter}: "
            "the graph contains a cycle reachable from a source, or its "
            "longest path exceeds max_iter"
        )
    return state.select("id", "layer"), lineage
