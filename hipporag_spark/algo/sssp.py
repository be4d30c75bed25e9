"""Multi-source shortest paths as an iterative DataFrame job (exact).

Not in the reference (its igraph object answers distances trivially
single-node; BASELINE.json's algorithm family — PageRank, components,
labels, triangles — gets the same from-scratch distributed treatment
here). Algorithm: min-plus Bellman-Ford supersteps —
``dist(v) ← min(dist(v), min_{u→v}(dist(u) + w(u,v)))``, init
``dist(s)=0`` for every source — with two scale-critical representation
choices:

- **Frontier-sparse state.** The state holds only REACHED vertices, and
  each superstep relaxes only edges out of the FRONTIER (vertices whose
  distance improved in the previous round). On real link graphs nearly
  all vertices settle within a few rounds, so per-round work tracks the
  active frontier's out-degree, not O(E); unreached vertices never
  materialize at all (on a 10^12-file graph, a seed query touches a
  vanishing fraction of the corpus).
- **One action per superstep.** The per-block stats collect is the same
  action that materializes the lazily local-checkpointed new state —
  identical discipline to :mod:`.components`.

Determinism: ``min`` over doubles is order-independent, so results are
identical at any parallelism. With unit weights distances are small
integers represented exactly in doubles. Weights are assumed
non-negative (standard shortest-path contract; bounded ``max_iter``
still terminates otherwise but without the settled-frontier guarantee).

Supersteps checkpoint and resume through :mod:`..supersteps`; the
checkpointed state carries the ``improved`` flag, so
a killed job resumes with the TRUE frontier of its last completed round,
not a conservative full-state restart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import supersteps
from ..supersteps import Superstep, block_stats


def shortest_paths(
    spark: SparkSession,
    adj: DataFrame,
    sources: DataFrame,
    max_iter: int = 100,
    num_blocks: int | None = None,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Return (``dist(id, dist)``, lineage) — one row per REACHED vertex,
    ``dist`` = length of the cheapest path from any source. ``adj`` is a
    directed ``(src, dst, weight)`` edge table (pass the symmetric
    adjacency for undirected semantics); ``sources`` is a DataFrame with
    an ``id`` column (all sources start at distance 0)."""
    P = num_blocks or spark.sparkContext.defaultParallelism
    # pre-partitioned on src: frontier joins never re-exchange O(E)
    edges = adj.select("src", "dst", "weight").repartition(F.col("src")).persist()

    def step(state: DataFrame, k: int) -> Superstep:
        frontier = state.filter("improved").select("id", "dist")
        cand = (
            edges.join(frontier, edges.src == frontier.id)
            .groupBy(edges.dst.alias("id"))
            .agg(F.min(frontier.dist + edges.weight).alias("cand"))
        )
        new_state = (
            state.select("id", "dist")
            .join(cand, "id", "full_outer")
            .select(
                "id",
                F.least(
                    F.coalesce(F.col("dist"), F.lit(float("inf"))),
                    F.coalesce(F.col("cand"), F.lit(float("inf"))),
                ).alias("dist"),
                (
                    F.col("dist").isNull()
                    | (F.coalesce(F.col("cand"), F.lit(float("inf"))) < F.col("dist"))
                ).alias("improved"),
            )
            .localCheckpoint(eager=False)
        )
        stats = block_stats(new_state, P, changed=F.sum(F.col("improved").cast("long")))
        return Superstep(new_state, stats, sum(r["changed"] for r in stats))

    # distinct: duplicate source ids would otherwise seed duplicate state
    # rows that survive every full_outer superstep, breaking the
    # documented "one row per reached vertex" contract
    init = sources.select("id").distinct().select(
        "id", F.lit(0.0).alias("dist"), F.lit(True).alias("improved")
    )
    state, lineage, _ = supersteps.run(
        spark, init, step,
        algorithm="shortest_paths", metric="changed", max_iter=max_iter,
        checkpoint_dir=checkpoint_dir, run_id=run_id,
    )
    edges.unpersist()
    return state.select("id", "dist"), lineage


def landmark_harmonic(
    spark: SparkSession,
    adj: DataFrame,
    seeds: list[int],
    max_iter: int = 100,
    num_blocks: int | None = None,
) -> DataFrame:
    """Landmark harmonic centrality: ``harmonic(id, harmonic)`` with
    ``harmonic = Σ_{s ∈ seeds, 0 < d(s,id) < ∞} 1 / d(s,id)`` — the
    standard landmark/pivot approximation of harmonic centrality (exact
    harmonic needs all-pairs distances, quadratic at web scale; a fixed
    landmark set is the classic scalable estimator). Only vertices reached
    by at least one seed at positive distance appear.

    One :func:`shortest_paths` run per seed — per-seed distances cannot be
    recovered from one multi-source run (that returns the min over seeds).
    Each run is frontier-sparse over the same pre-partitioned edge table;
    the per-seed results are tiny (reached set) and union cheaply.
    """
    per_seed = []
    for s in seeds:
        src = spark.createDataFrame([(int(s),)], "id long")
        dist, _ = shortest_paths(spark, adj, src, max_iter=max_iter, num_blocks=num_blocks)
        per_seed.append(dist.filter(F.col("dist") > 0))
    alld = per_seed[0]
    for d in per_seed[1:]:
        alld = alld.unionByName(d)
    return alld.groupBy("id").agg(
        F.round(F.sum(1.0 / F.col("dist")), 6).alias("harmonic")
    )


def double_sweep_diameter(
    spark: SparkSession,
    adj: DataFrame,
    start: DataFrame,
    max_iter: int = 100,
    num_blocks: int | None = None,
) -> tuple[DataFrame, list[dict], list[dict]]:
    """Double-sweep diameter lower bound (the classic BFS heuristic,
    Magnien/Latapy/Habib): BFS from ``start``, hop to the farthest
    reached vertex (tie-break: smallest id — pinned, deterministic), BFS
    again; the second eccentricity is a lower bound on the graph's
    diameter that is exact on trees and empirically tight on real
    graphs — the only diameter estimate that exists at 10^12 edges
    (exact diameter is all-pairs).

    ``adj`` must carry weight 1.0 rows for hop semantics. Returns a
    1-row DataFrame ``(start_id, far_id, ecc_start, diameter_lb)`` plus
    both sweeps' lineages (each sweep is a frontier-sparse
    :func:`shortest_paths` run over the same pre-partitioned edge
    table)."""
    d1, lin1 = shortest_paths(spark, adj, start, max_iter=max_iter, num_blocks=num_blocks)
    # the farthest vertex is ONE row — materialize it driver-side instead of
    # persisting a frame that would otherwise live for the session (advice r4)
    far_schema = d1.select("id", "dist").schema
    far_row = (
        d1.orderBy(F.col("dist").desc(), F.col("id").asc())
        .limit(1)
        .collect()[0]
    )
    far = spark.createDataFrame(
        [(far_row["id"], far_row["dist"])], far_schema
    )
    d2, lin2 = shortest_paths(
        spark, adj, far.select("id"), max_iter=max_iter, num_blocks=num_blocks
    )
    out = (
        start.select(F.col("id").alias("start_id")).limit(1)
        .crossJoin(
            F.broadcast(
                far.select(
                    F.col("id").alias("far_id"),
                    F.col("dist").cast("long").alias("ecc_start"),
                )
            )
        )
        .crossJoin(
            F.broadcast(
                d2.agg(F.max(F.col("dist").cast("long")).alias("diameter_lb"))
            )
        )
    )
    return out, lin1, lin2
