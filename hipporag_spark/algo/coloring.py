"""Distance-1 graph coloring — Jones–Plassmann with pluggable priority.

Not in the reference; added because coloring is the classic distributed
symmetry-breaking primitive (register/channel assignment, conflict-free
scheduling of updates over a link graph) and completes the MIS/matching
family (:mod:`.mis`).

Algorithm (Jones–Plassmann 1993, bulk-synchronous): an uncolored vertex
colors itself in the round when every HIGHER-priority uncolored
neighbor is already colored, taking the minimum color unused by its
colored neighbors (first-fit / mex). Three deterministic priorities, all
DuckDB-replayable through the same md5 hash ``h`` = the first 8 md5 hex
chars of the decimal id as a 32-bit int:

- ``priority="ldf"`` (default, the scale mode): largest degree first,
  ties by ``(h(id), id)`` ascending. A decreasing-priority path must
  descend through degree classes, which caps the wavefront depth on
  hub-heavy graphs (measured on the sf0.1 repo graph, 35k vertices:
  4 rounds, 3 colors).
- ``priority="hash"``: ``(h(id), id)`` ascending, a pinned pseudo-random
  permutation. Jones–Plassmann's analysis gives expected O(log n) rounds
  on bounded-degree graphs, but hub-heavy graphs keep long descending
  chains (53 rounds on the same graph).
- ``priority="id"``: smaller id first — the result is EXACTLY the
  sequential greedy first-fit coloring in ascending id order (the
  sequential-equivalence oracle mode, SURVEY.md §7.3), at the cost of
  path-length round counts (34 rounds on the same graph).

All three give a proper Δ+1-bounded coloring, partitioning-independent.
The priority is recorded in every checkpoint manifest, so a resume with
a different priority is refused.

Scale shape per round: one anti-join (ready = uncolored with no
uncolored higher-priority neighbor), one join against colored neighbors
for used colors, and the mex as a sequence-explode + anti-join + min
agg — all keyed on vertex id, integer-only, map-side-combinable aggs;
the mex explode is bounded per vertex by its degree+1, and the
priority comparison is precomputed ONCE as an edge flag (no per-round
hash evaluation). One O(P) metrics action per round doubles as the
convergence check. Non-fixpoint exhaustion raises (the scc.py lesson).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import supersteps
from ..supersteps import Superstep, block_stats


def _prio32(c):
    """Deterministic 32-bit hash priority, replayable in DuckDB as
    ``CAST(('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8)) AS BIGINT)``."""
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("long")


def greedy_coloring(
    spark: SparkSession,
    adj: DataFrame,
    vertex_ids: DataFrame | None = None,
    max_iter: int = 200,
    num_blocks: int | None = None,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
    priority: str = "ldf",
) -> tuple[DataFrame, list[dict]]:
    """Return (``colors(id, color)``, lineage): first-fit coloring in
    ``priority`` order, computed in parallel rounds.

    ``priority="ldf"`` (default, the scale mode): (degree desc,
    md5-32(id) asc, id asc) — largest-degree-first with hash tie-break.
    Measured on the sf0.1 repo graph (35k vertices): **4 rounds / 3
    colors**, vs 34 rounds / 7 colors for id order and 53 rounds for a
    pure hash order (hub-heavy graphs have enough Δ^k paths that some
    long chain beats the 1/k! descending odds — pure random priority is
    NOT O(log n) here). ``"hash"`` = (md5-32(id), id) ascending;
    ``"id"`` = ascending id — exactly the sequential greedy first-fit
    (the sequential-equivalence oracle mode). All three deterministic
    and DuckDB-replayable. Isolated vertices (``vertex_ids`` only) get
    color 0. Raises RuntimeError on iteration exhaustion."""
    P = num_blocks or spark.sparkContext.defaultParallelism
    base = (
        adj.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    )
    if priority == "ldf":
        # largest-degree-first with hash tie-break: a decreasing-priority
        # path must descend through degree classes, which caps the JP
        # wavefront depth on hub-heavy graphs where a pure random order
        # still contains long descending chains (Δ^k paths beat the 1/k!
        # odds) — the degree table is one extra map-side-combinable agg
        deg = base.groupBy(F.col("src").alias("id")).agg(
            F.count("*").alias("d")
        )
        base = base.join(
            deg.select(F.col("id").alias("src"), F.col("d").alias("ds")), "src"
        ).join(
            deg.select(F.col("id").alias("dst"), F.col("d").alias("dd")), "dst"
        )
        ps, pd_ = _prio32(F.col("src")), _prio32(F.col("dst"))
        precedes = (
            (F.col("ds") > F.col("dd"))
            | ((F.col("ds") == F.col("dd")) & (ps < pd_))
            | ((F.col("ds") == F.col("dd")) & (ps == pd_) & (F.col("src") < F.col("dst")))
        )
        base = base.withColumn("prec", precedes).select("src", "dst", "prec")
    elif priority == "hash":
        ps, pd_ = _prio32(F.col("src")), _prio32(F.col("dst"))
        precedes = (ps < pd_) | ((ps == pd_) & (F.col("src") < F.col("dst")))
        base = base.withColumn("prec", precedes)
    elif priority == "id":
        base = base.withColumn("prec", F.col("src") < F.col("dst"))
    else:
        raise ValueError(
            f"priority must be 'ldf', 'hash' or 'id', got {priority!r}"
        )
    nbrs = (
        base
        .repartition(F.col("src"))
        .persist()
    )
    verts = nbrs.select(F.col("src").alias("id")).distinct()
    if vertex_ids is not None:
        verts = vertex_ids.select("id").distinct()

    n_verts = verts.count()
    deg = nbrs.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("deg"))

    # state: colored(id, color) grows; the uncolored rest is derived per round
    def step(colored: DataFrame, k: int) -> Superstep:
        uncolored = verts.join(colored.select("id"), "id", "left_anti").persist()
        # ready: uncolored with NO uncolored higher-priority neighbor
        # (edge flag `prec` = src precedes dst, precomputed once).
        # no distinct: left_anti tolerates duplicate blocker rows, and
        # dropping it saves a per-round shuffle
        blockers = (
            nbrs.join(uncolored.withColumnRenamed("id", "src"), "src", "left_semi")
            .filter(F.col("prec"))
            .select(F.col("dst").alias("id"))
        )
        ready = uncolored.join(blockers, "id", "left_anti")

        # mex over colors already used by (any) colored neighbors
        used = (
            nbrs.join(ready.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(
                colored.select(F.col("id").alias("dst"), "color"), "dst"
            )
            .select(F.col("src").alias("id"), "color")
        )
        cand = (
            ready.join(deg, "id", "left_outer")
            .select(
                "id",
                F.explode(
                    F.sequence(
                        F.lit(0).cast("long"),
                        F.coalesce(F.col("deg"), F.lit(0)).cast("long"),
                    )
                ).alias("color"),
            )
        )
        newly = (
            cand.join(used, ["id", "color"], "left_anti")
            .groupBy("id")
            .agg(F.min("color").alias("color"))
        )
        new_colored = colored.unionByName(newly).localCheckpoint(eager=False)

        # one action per round: the per-block size of the colored set
        # materializes the lazy checkpoint AND yields the convergence
        # verdict (remaining = n_verts − colored, n_verts counted once)
        stats = block_stats(new_colored, P)
        uncolored.unpersist()
        n_colored = sum(r["rows"] for r in stats)
        return Superstep(new_colored, stats, n_verts - n_colored, {"n_colored": n_colored})

    colored, lineage, converged = supersteps.run(
        spark, spark.createDataFrame([], "id long, color long"), step,
        algorithm="greedy_coloring", metric="remaining", max_iter=max_iter,
        checkpoint_dir=checkpoint_dir, run_id=run_id, params={"priority": priority},
    )
    nbrs.unpersist()
    if not converged:
        supersteps.release(colored)
        raise RuntimeError(
            f"greedy_coloring did not finish within max_iter={max_iter} rounds"
        )
    return colored.select("id", "color"), lineage
