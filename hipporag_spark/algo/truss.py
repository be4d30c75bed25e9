"""k-truss decomposition (fixed-k edge membership) as an iterative job.

Not in the reference (igraph answers trussness single-node); added on the
same edge-table infrastructure as the BASELINE.json algorithms because
truss extraction is the standard *edge*-granular cleanup (denser than
k-core: every edge of a k-truss closes ≥ k−2 triangles inside it), used
to strip noisy co-occurrence edges before community work at scale.

Algorithm: synchronous peeling (Cohen 2008, bulk-synchronous form). Each
round recomputes per-edge triangle support on the surviving subgraph via
the same degree-oriented wedge join as :mod:`.triangles` (out-degree
O(sqrt m) — the hub-skew mitigation), drops edges with support < k−2,
repeats to fixpoint. Integer-only updates → EXACT and identical at any
parallelism.

Scale shape per round: one wedge self-join on the (shrinking, persisted)
oriented edge list + one closing semi-equi-join + one map-side-combinable
support agg, all keyed on vertex/edge ids; convergence is read from the
SAME O(P) metrics action that materializes the round (one action/round).
Rounds = peel depth (tiny on power-law graphs). Non-fixpoint exhaustion
RAISES rather than emitting a partial truss (the scc.py lesson: silent
iteration caps corrupt output).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import supersteps
from ..supersteps import Superstep, block_stats


def _support(edges: DataFrame) -> DataFrame:
    """Per-edge triangle support of the simple undirected graph given as
    sorted pairs ``(a, b)`` with a < b. Degree-oriented enumeration: each
    triangle is found exactly once at its wedge vertex, then credited to
    its three edges in sorted form."""
    deg = (
        edges.select(F.col("a").alias("id"))
        .unionAll(edges.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    e = (
        edges.join(deg.select(F.col("id").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("id").alias("b"), F.col("deg").alias("db")), "b")
    )
    fwd = F.struct(F.col("da"), F.col("a")) < F.struct(F.col("db"), F.col("b"))
    o = e.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
    )
    w1 = o.select(F.col("u").alias("x"), F.col("v").alias("p"))
    w2 = o.select(F.col("u").alias("x"), F.col("v").alias("q"))
    wedges = w1.join(w2, "x").filter(F.col("p") < F.col("q"))
    closed = wedges.join(
        o.select(F.col("u").alias("p"), F.col("v").alias("q")), ["p", "q"], "left_semi"
    ).unionAll(
        wedges.join(
            o.select(F.col("v").alias("p"), F.col("u").alias("q")), ["p", "q"],
            "left_semi",
        )
    )
    tri_edges = (
        closed.select(F.least("x", "p").alias("a"), F.greatest("x", "p").alias("b"))
        .unionAll(
            closed.select(F.least("x", "q").alias("a"), F.greatest("x", "q").alias("b"))
        )
        .unionAll(
            closed.select(F.least("p", "q").alias("a"), F.greatest("p", "q").alias("b"))
        )
    )
    return tri_edges.groupBy("a", "b").agg(F.count("*").alias("support"))


def k_truss(
    spark: SparkSession,
    edges: DataFrame,
    k: int = 4,
    max_iter: int = 100,
    num_blocks: int | None = None,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Return (``truss(a, b, support)``, lineage): the edges of the
    k-truss (maximal subgraph where every edge participates in ≥ k−2
    triangles within it) with their in-truss support. ``edges`` is any
    (src, dst) edge list; self-loops dropped, direction/multiplicity
    collapsed to sorted simple pairs. Raises RuntimeError if ``max_iter``
    rounds pass without reaching the fixpoint."""
    P = num_blocks or spark.sparkContext.defaultParallelism

    def step(cur: DataFrame, _: int) -> Superstep:
        sup = _support(cur)
        new_cur = (
            cur.join(sup, ["a", "b"], "left_outer")
            .filter(F.coalesce(F.col("support"), F.lit(0)) >= k - 2)
            .select("a", "b")
        ).localCheckpoint(eager=False)
        stats = block_stats(
            cur.join(new_cur.withColumn("keep", F.lit(1)), ["a", "b"], "left_outer"),
            P,
            key="a",
            removed=F.sum(F.col("keep").isNull().cast("long")),
        )
        return Superstep(new_cur, stats, sum(r["removed"] for r in stats))

    init = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    cur, lineage, converged = supersteps.run(
        spark, init, step,
        algorithm="k_truss", metric="removed", max_iter=max_iter,
        checkpoint_dir=checkpoint_dir, run_id=run_id, params={"k": k},
    )
    if not converged:
        raise RuntimeError(
            f"k_truss did not reach fixpoint within max_iter={max_iter} rounds"
        )
    return _final(cur), lineage


def _final(cur: DataFrame) -> DataFrame:
    """Surviving edges with their in-truss support (0 for a truss that is
    empty of triangles — only possible when k <= 2, where every edge
    trivially belongs)."""
    sup = _support(cur)
    return (
        cur.join(sup, ["a", "b"], "left_outer")
        .select(
            "a", "b", F.coalesce(F.col("support"), F.lit(0)).alias("support")
        )
    )
