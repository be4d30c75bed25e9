"""HITS (hubs & authorities) as an iterative DataFrame job.

Kleinberg's link-analysis power iteration — the authority/hub dual of
PageRank, completing the classic link-graph family (PPR, CC, LP,
triangles, k-core, SSSP, link prediction). Not in the reference (igraph
exposes it single-node); same from-scratch distributed treatment as
:mod:`.components`.

Per superstep, over the directed weighted edge table:

    auth(v) ← Σ_{u→v} w(u,v) · hub(u)
    hub(u)  ← Σ_{u→v} w(u,v) · auth(v)      then L1-normalize both

Representation choices, and one measured Spark pathology they dodge:

- **Norms are driver scalars applied as literals, not a dataflow join.**
  HITS is scale-invariant (per-step normalization only controls numeric
  range; the direction after k updates is identical under any positive
  rescaling), so the state carries RAW sums and each superstep rescales
  its input by ``lit(1/norm)`` using the norm collected in the previous
  superstep's aggregate. The obvious alternative — crossJoin the 1-row
  ``agg(sum)`` back onto the state — is CATASTROPHIC over many
  supersteps: Catalyst estimates a cross join's ``sizeInBytes`` as the
  BigInt PRODUCT of its children, ``Dataset.localCheckpoint`` carries
  the optimized plan's stats into the next step's ``LogicalRDD`` leaf,
  so the estimate compounds superstep over superstep and its DIGIT COUNT
  multiplies per round — measured here as exponential driver-side
  planning time (~1s/step through step 15, 94s at step 19, minutes
  after), with jstack pinned inside ``BigInteger.multiplyToomCook3``
  under the stats visitor's ``children.map(sizeInBytes).product``.
  Conditioned equi-joins do NOT show the compounding (components/sssp
  run 40+ rounds with flat per-step wall, measured) — it is the
  condition-less cross join that hits the product path; this module
  avoids cross joins entirely and additionally uses union+aggregate
  instead of state self-joins as belt-and-braces.
  ``tests/test_algorithms.py`` pins flat per-step wall over 25 rounds.
- **Two small actions per superstep** (vs the one-action discipline of
  components/sssp): (1) the per-block aggregate that materializes the
  lazily local-checkpointed raw state and returns the new L1 norms,
  (2) a V-row join of the two checkpointed leaves for the convergence
  delta on NORMALIZED hubs (needs both steps' norms, which only exist
  after action 1). Both are leaf-to-leaf jobs; at scale the E-sized
  update in action 1 dominates and action 2 is one V-row shuffle.
- **Determinism:** float sums vary at ~1e-16 with partitioning; all
  comparisons use allclose-style tolerances (the driver oracle rounds
  to 6 dp), never exact float equality.

Convergence: L1 delta of the normalized hub vector < ``tol`` (NetworkX's
criterion); ``tol=0`` forces exactly ``max_iter`` rounds (what the
fixed-round unrolled-CTE oracle needs). Supersteps checkpoint and resume
through :mod:`..supersteps` (raw state + norms in the manifest), so a
killed job resumes mid-iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import supersteps
from ..supersteps import Superstep, block_stats


def hits(
    spark: SparkSession,
    edges: DataFrame,
    vertex_ids: DataFrame,
    max_iter: int = 100,
    tol: float = 1e-8,
    num_blocks: int | None = None,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Return (``scores(id, authority, hub)``, lineage) over the DIRECTED
    weighted edge table ``edges(src, dst, weight)`` (parallel edges summed
    here). ``vertex_ids`` fixes the vertex set: vertices with no in/out
    edges keep score 0 but stay present (dense state). Scores are
    L1-normalized (each vector sums to 1 on any graph with edges)."""
    P = num_blocks or spark.sparkContext.defaultParallelism
    # two cached copies of the edge table, each pre-partitioned on the key
    # its per-superstep join probes (the GraphX-style price of a directed
    # two-sided update): neither join ever re-exchanges the O(E) side
    adj = edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    adj_src = adj.repartition(F.col("src")).persist()
    adj_dst = adj.repartition(F.col("dst")).persist()

    # raw (unnormalized) state + its L1 norms as driver scalars; scale
    # invariance makes init all-ones ≡ init 1/n after the first rescale.
    # The norms travel in the manifest, so a resumed run restores them.
    norms = {"norm_auth": 1.0, "norm_hub": 1.0}

    def restore_norms(manifest: dict) -> None:
        for key in norms:
            norms[key] = float(manifest.get(key, 1.0))

    def step(state: DataFrame, k: int) -> Superstep:
        nh = norms["norm_hub"]
        # The previous state is read normalized via LITERAL norms — no
        # cross joins, no state self-joins (see module docstring); the
        # state leaf joins only the fixed pre-partitioned adj leaves, and
        # densification/assembly are UNION + aggregate.
        hub_in = state.select(
            F.col("id").alias("src"), (F.col("hub") / F.lit(nh)).alias("h")
        )
        auth_raw = (
            adj_src.join(hub_in, "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("weight") * F.col("h")).alias("authority"))
        )
        dense_auth = (
            auth_raw.unionByName(
                vertex_ids.select("id", F.lit(0.0).alias("authority"))
            )
            .groupBy("id")
            .agg(F.sum("authority").alias("authority"))
        )
        # hub update consumes the UNNORMALIZED new authorities — the scale
        # factor rides into this step's hub norm (scale invariance)
        hub_raw = (
            adj_dst.join(
                dense_auth.select(F.col("id").alias("dst"), F.col("authority").alias("a")),
                "dst",
            )
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum(F.col("weight") * F.col("a")).alias("hub"))
        )
        new_state = (
            dense_auth.select("id", "authority", F.lit(0.0).alias("hub"))
            .unionByName(
                hub_raw.select("id", F.lit(0.0).alias("authority"), "hub")
            )
            .unionByName(
                vertex_ids.select(
                    "id", F.lit(0.0).alias("authority"), F.lit(0.0).alias("hub")
                )
            )
            .groupBy("id")
            .agg(F.sum("authority").alias("authority"), F.sum("hub").alias("hub"))
            .localCheckpoint(eager=False)
        )

        # action 1: per-block metrics + the new norms; materializes the
        # lazy checkpoint in the same job
        stats = block_stats(
            new_state, P, sum_auth=F.sum("authority"), sum_hub=F.sum("hub")
        )
        new_na = float(sum(r["sum_auth"] for r in stats)) or 1.0
        new_nh = float(sum(r["sum_hub"] for r in stats)) or 1.0

        # action 2: L1 delta of normalized hubs (both norms are literals
        # now) — one V-row join of two checkpointed leaves
        delta = float(
            state.select("id", (F.col("hub") / F.lit(nh)).alias("old"))
            .join(
                new_state.select("id", (F.col("hub") / F.lit(new_nh)).alias("new")),
                "id",
            )
            .agg(F.sum(F.abs(F.col("new") - F.col("old"))).alias("d"))
            .collect()[0]["d"]
        )
        norms.update(norm_auth=new_na, norm_hub=new_nh)
        return Superstep(new_state, stats, delta, dict(norms))

    state, lineage, _ = supersteps.run(
        spark,
        vertex_ids.select("id", F.lit(1.0).alias("authority"), F.lit(1.0).alias("hub")),
        step,
        algorithm="hits", metric="delta", max_iter=max_iter,
        checkpoint_dir=checkpoint_dir, run_id=run_id,
        params={"tol": tol}, tol=tol, on_resume=restore_norms,
    )
    adj_src.unpersist()
    adj_dst.unpersist()
    return _normalized(state, norms["norm_auth"], norms["norm_hub"]), lineage


def _normalized(state: DataFrame, na: float, nh: float) -> DataFrame:
    return state.select(
        "id",
        (F.col("authority") / F.lit(na)).alias("authority"),
        (F.col("hub") / F.lit(nh)).alias("hub"),
    )
