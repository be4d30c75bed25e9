#!/usr/bin/env python
"""Decompose the blocked-PPR superstep cost at one parallelism level.

Builds the scaling workload graph (E, V, Q from env like ppr_scale_worker),
compiles blocks once, then times:

- spmv_only:   stage-1 kernel + count (no combine shuffle)
- full_step:   one real superstep (SpMV -> shuffle -> combine -> collect)
- full run:    per-superstep walls from lineage, AQE on vs off

Prints ONE JSON line. Diagnostic only — not part of bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    E = int(os.environ.get("SCALE_E", "8000000"))
    V = int(os.environ.get("SCALE_V", "500000"))
    Q = int(os.environ.get("SCALE_Q", "8"))

    from pyspark.sql import functions as F

    from hipporag_spark.algo.ppr import (
        _EMPTY_PARTIALS,  # noqa: F401  (import check)
        _PARTIAL_SCHEMA,
        _make_spmv_kernel,
        personalized_pagerank_batch,
    )
    from hipporag_spark.graph.blocked import compile_blocks, default_num_blocks
    from hipporag_spark.session import get_spark

    spark = get_spark(parallelism=cpus, app_name="ppr_profile")
    df = spark.range(E)
    edges = df.select(
        (F.abs(F.xxhash64(F.lit("s"), "id")) % V).alias("src"),
        (F.abs(F.xxhash64(F.lit("d"), "id")) % V).alias("dst"),
        F.lit(1.0).alias("weight"),
    )
    strength = edges.groupBy(F.col("src").alias("id")).agg(
        F.sum("weight").alias("strength")
    )
    verts = spark.range(V).select("id")
    breset = spark.createDataFrame(
        [(f"q{j:04d}", j % V, 1.0) for j in range(Q)],
        "query_id string, id long, weight double",
    )

    P = default_num_blocks(E)
    bg = compile_blocks(edges, strength, verts, P)
    bg.subblocks.count()

    out = {"cpus": cpus, "E": E, "V": V, "Q": Q, "P": P}

    # --- stage-1 in isolation: SpMV kernel output size + wall ---
    nq = Q
    ranks = bg.vstate.select(
        "block",
        F.array_repeat(F.lit(1.0 / V), (F.size("ids") * nq).cast("int")).alias("vals"),
    ).localCheckpoint()
    spmv = _make_spmv_kernel(0.5, nq, bg.spill_dir, bg.fanout_labels())
    partials = ranks.groupby("block").applyInPandas(spmv, _PARTIAL_SCHEMA)
    for tag in ("warm", "timed"):
        t0 = time.time()
        stats = partials.select(
            F.count("*").alias("rows"),
            F.sum(F.size("vals")).alias("nvals"),
        ).collect()[0]
        out[f"spmv_only_{tag}_sec"] = round(time.time() - t0, 2)
    out["partial_rows"] = stats["rows"]
    out["partial_mb"] = round(stats["nvals"] * 8 / 1e6, 1)

    # --- full runs: per-superstep walls, AQE on vs off ---
    for aqe in ("true", "false"):
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        # warmup pass for this conf
        personalized_pagerank_batch(
            spark, edges, strength, verts, breset, n_vertices=V,
            damping=0.5, max_iter=2, graph=bg, engine="csr",
        )[0].count()
        t0 = time.time()
        ranks_df, lin = personalized_pagerank_batch(
            spark, edges, strength, verts, breset, n_vertices=V,
            damping=0.5, max_iter=100, graph=bg, engine="csr",
        )
        ranks_df.count()
        out[f"aqe_{aqe}_wall_sec"] = round(time.time() - t0, 2)
        out[f"aqe_{aqe}_step_ms"] = [round(m["wall_ms"]) for m in lin]
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
