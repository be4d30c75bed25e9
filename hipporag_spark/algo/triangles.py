"""Triangle counting via degree orientation (exact, one-pass joins).

Not in the reference (BASELINE.json addition). Standard distributed scheme
(cf. the classic MapReduce node-iterator++): orient each undirected edge
from the endpoint with (degree, id) smaller to larger — a total order, so
every triangle has exactly ONE wedge vertex whose two oriented out-edges
span it — then count wedges closed by an oriented edge:

    oriented(u→v)  iff (deg(u), u) < (deg(v), v)
    triangles      = |{(u,v,w): u→v, u→w, v→w}|

Orientation bounds out-degree by O(sqrt(m)) even on power-law hubs, which is
exactly the skew mitigation this operator needs at scale: the wedge
self-join fans out from low-degree endpoints only. No iteration — Catalyst
plans the two joins (AQE handles residual skew).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _oriented(adj: DataFrame) -> DataFrame:
    und = adj.select("src", "dst").filter(F.col("src") < F.col("dst")).distinct()
    deg = (
        und.select(F.col("src").alias("id")).unionAll(und.select(F.col("dst").alias("id")))
        .groupBy("id").count().withColumnRenamed("count", "deg")
    )
    e = (
        und.join(deg.select(F.col("id").alias("src"), F.col("deg").alias("dsrc")), "src")
        .join(deg.select(F.col("id").alias("dst"), F.col("deg").alias("ddst")), "dst")
    )
    fwd = F.struct(F.col("dsrc"), F.col("src")) < F.struct(F.col("ddst"), F.col("dst"))
    return e.select(
        F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("v"),
    )


def triangle_count(adj: DataFrame) -> tuple[DataFrame, int]:
    """Return (per-vertex triangle counts ``(id, triangles)``, global count).

    Per-vertex semantics match ``networkx.triangles``: each triangle
    increments all three corners, so the global count is their sum / 3.
    ONE action computes both: it sums the per-vertex counts while filling
    the local checkpoint that backs the returned frame. Nothing else is
    cached, so repeated calls leave no cached plan behind. The three uses
    of the oriented edges are one subplan whose exchanges Spark reuses;
    caching it instead made adaptive execution launch ~3x the jobs.
    """
    o = _oriented(adj)
    e1 = o.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = o.select(F.col("u").alias("a"), F.col("v").alias("c"))
    wedges = e1.join(e2, "a").filter(F.col("b") < F.col("c"))
    closed = wedges.join(
        o.select(F.col("u").alias("b"), F.col("v").alias("c")), ["b", "c"], "left_semi"
    ).unionAll(
        wedges.join(
            o.select(F.col("v").alias("b"), F.col("u").alias("c")), ["b", "c"], "left_semi"
        )
    )

    per_vertex = (
        closed.select(F.col("a").alias("id"))
        .unionAll(closed.select(F.col("b").alias("id")))
        .unionAll(closed.select(F.col("c").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("triangles"))
    ).localCheckpoint(eager=False)
    corners = per_vertex.agg(F.sum("triangles")).first()[0] or 0
    return per_vertex, int(corners) // 3


def global_triangle_count(adj: DataFrame) -> DataFrame:
    """Global count as a 1-row DataFrame (SQL-oracle-friendly form)."""
    o = _oriented(adj)
    e1 = o.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = o.select(F.col("u").alias("a"), F.col("v").alias("c"))
    wedges = e1.join(e2, "a").filter(F.col("b") < F.col("c"))
    closed = wedges.join(
        o.select(F.col("u").alias("b"), F.col("v").alias("c")), ["b", "c"], "left_semi"
    ).unionAll(
        wedges.join(
            o.select(F.col("v").alias("b"), F.col("u").alias("c")), ["b", "c"], "left_semi"
        )
    )
    return closed.agg(F.count("*").alias("triangles"))


def clustering_coefficient(adj: DataFrame) -> DataFrame:
    """Local clustering coefficient per vertex: ``2·T(v) / (d(v)·(d(v)−1))``
    on the simple undirected graph, 0 where d < 2 (``networkx.clustering``
    semantics). Returns ``(id, deg, coeff)`` for EVERY vertex of the simple
    graph, not only triangle corners.

    Scale shape: the triangle pass is the degree-oriented wedge join above
    (out-degree O(sqrt m), hub-skew-safe); the coefficient itself is one
    map-side-combinable degree agg + a broadcast-size-agnostic left join —
    no new shuffle class beyond what counting already pays."""
    und = (
        adj.select("src", "dst").filter(F.col("src") < F.col("dst")).distinct()
    )
    deg = (
        und.select(F.col("src").alias("id"))
        .unionAll(und.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    per_vertex, _ = triangle_count(adj)
    return (
        deg.join(per_vertex, "id", "left_outer")
        .select(
            "id",
            "deg",
            F.when(
                F.col("deg") < 2, F.lit(0.0)
            ).otherwise(
                2.0 * F.coalesce(F.col("triangles"), F.lit(0)).cast("double")
                / (F.col("deg") * (F.col("deg") - 1))
            ).alias("coeff"),
        )
    )
