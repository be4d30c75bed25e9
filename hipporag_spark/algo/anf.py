"""Approximate Neighborhood Function (ANF) + effective diameter.

Not in the reference; added because the neighborhood function
``N(h) = Σ_v |ball(v, h)|`` and its 90th-percentile effective diameter
are THE distance-distribution statistics of web-scale graph analysis
(Palmer/Gibbons/Faloutsos ANF 2002; Boldi/Rosa/Vigna HyperANF 2011 —
the Facebook "four degrees of separation" measurement). Exact distance
distributions are all-pairs BFS — quadratic, nonexistent at 10^12
edges; sketch propagation costs O(E·k) bit-ORs per round and is the
only thing that runs.

Construction (classic Flajolet–Martin ANF, made DETERMINISTIC and
cross-engine replayable per SURVEY.md §7.3):

- every vertex draws ``k`` independent 32-bit hashes
  ``h_j(v) = md5-32(j ‖ ':' ‖ v)`` (or xxhash64 at the 100 TB default);
  ``rho_j(v)`` = index of the lowest set bit (trailing zeros — the
  geometric variable), sketch ``M_j(v, 0) = 1 << rho_j``.
- round h: ``M_j(v, h) = M_j(v, h-1)  OR  OR_{u ∈ N(v)} M_j(u, h-1)``
  — a join + ``bit_or`` grouped aggregate per sketch column, all-JVM
  integer ops, map-side combinable, one action per round (the changed
  count doubles as the convergence check: masks are monotone, so a
  fixpoint round means every ball stopped growing = h reached the
  component radii).
- estimate: ``|ball(v, h)| ≈ 2^R̄ / 0.77351`` with ``R̄`` the mean over
  j of the lowest UNSET bit index of ``M_j(v, h)`` — Flajolet–Martin's
  estimator, a pure function of the masks.

Because the "randomness" is a pinned hash, the APPROXIMATION ITSELF is
deterministic at any parallelism and the DuckDB oracle replays it
bit-for-bit (same md5 prefix, same ``x & -x`` trailing-zero trick, same
``bit_or``): an approximate algorithm with an exact replay oracle. The
pytest oracle separately checks the estimate tracks the TRUE
neighborhood function within FM error on small graphs.

Accuracy is the standard FM bound (σ/N ≈ 0.78/√k); k is a column-count
knob — sketches ride in k long columns, so memory is k·8 bytes/vertex.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_FM_PHI = 0.77351


def _rho(j: int, idcol, hash_fn: str):
    """Trailing-zero count of a 32-bit per-(sketch, vertex) hash: the
    lowest set bit isolated via ``h & -h`` is an exact power of two, so
    ``log2`` of it is integer-exact in doubles."""
    salted = F.concat_ws(":", F.lit(str(j)), idcol.cast("string"))
    if hash_fn == "md5":
        h = F.conv(F.substring(F.md5(salted), 1, 8), 16, 10).cast("long")
    elif hash_fn == "xxhash64":
        h = F.pmod(F.xxhash64(salted), F.lit(2**32)).cast("long")
    else:
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    # h == 0 (probability 2^-32 per draw): every bit "trails" — clamp to 32
    return F.when(h == 0, F.lit(32)).otherwise(
        F.log2((h.bitwiseAND(-h)).cast("double")).cast("int")
    )


def _lowest_zero_idx(mcol):
    """Index of the lowest UNSET bit of a mask: ``~m & (m+1)`` isolates
    it as a power of two; integer-exact log2 again. (``F.bitwise_not``,
    not Python ``~`` — that maps to boolean NOT on Columns.)"""
    return F.log2(
        (F.bitwise_not(mcol).bitwiseAND(mcol + 1)).cast("double")
    ).cast("int")


def anf(
    spark: SparkSession,
    adj: DataFrame,
    vertex_ids: DataFrame,
    max_h: int = 16,
    k: int = 32,
    hash_fn: str = "xxhash64",
    stop_early: bool = True,
) -> tuple[DataFrame, list[dict]]:
    """Return (``nf(h, reach_est, frac_of_final)``, lineage): the
    estimated neighborhood function ``N(h) = Σ_v |ball(v, h)|``
    (including v itself) for h = 0..convergence (≤ ``max_h``), with
    ``frac_of_final`` = N(h)/N(h_last) — the effective-diameter curve.
    ``adj`` is the symmetric adjacency; sketches propagate over its
    edges. Deterministic for a given (k, hash_fn) at any parallelism.

    ``N(0) = |V|`` is emitted EXACTLY (every 0-ball is {v}; the FM
    estimator cannot count a 1-element set). ``stop_early=False`` runs
    all ``max_h`` rounds even past the mask fixpoint (monotone, so the
    tail rows repeat the converged value) — the fixed-depth mode the
    DuckDB replay oracle compares against. Accuracy of the h ≥ 1
    estimates is the FM band σ/N ≈ 0.78/√k; the frac curve (what the
    effective diameter reads) is ratio-based and much tighter."""
    mcols = [f"m{j}" for j in range(k)]
    verts = vertex_ids.select("id").distinct()
    # initial sketches: 1 << rho_j(v) (built in one select; the shift
    # amount is a column, so spell it as exact double pow — rho ≤ 32)
    sketch = verts.select(
        "id",
        *[
            F.pow(F.lit(2.0), _rho(j, F.col("id"), hash_fn))
            .cast("long")
            .alias(mcols[j])
            for j in range(k)
        ],
    ).localCheckpoint(eager=True)
    edges = (
        adj.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
        .repartition(F.col("dst"))
        .persist()
    )

    lineage: list[dict] = []
    series: list[float] = [float(verts.count())]  # N(0) = |V|, exact
    from ..lifecycle import free_local_checkpoint

    for h in range(1, max_h + 1):
        t0 = time.time()
        nbr = (
            edges.join(
                sketch.select(F.col("id").alias("src"), *mcols), "src"
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(*[F.bit_or(c).alias(c) for c in mcols])
        )
        merged = (
            sketch.alias("s")
            .join(nbr.alias("n"), "id", "left_outer")
            .select(
                "id",
                *[
                    (
                        F.col(f"s.{c}").bitwiseOR(
                            F.coalesce(F.col(f"n.{c}"), F.lit(0))
                        )
                    ).alias(c)
                    for c in mcols
                ],
                sum(
                    (
                        F.col(f"s.{c}")
                        != F.col(f"s.{c}").bitwiseOR(
                            F.coalesce(F.col(f"n.{c}"), F.lit(0))
                        )
                    ).cast("int")
                    for c in mcols
                ).alias("_chg"),
            )
        )
        new_sketch = merged.localCheckpoint(eager=False)
        # one action: total reach estimate + changed-mask count together
        rbar = sum(_lowest_zero_idx(F.col(c)) for c in mcols) / float(k)
        row = (
            new_sketch.select(
                (F.pow(F.lit(2.0), rbar) / F.lit(_FM_PHI)).alias("est"), "_chg"
            )
            .agg(F.sum("est").alias("reach"), F.sum("_chg").alias("changed"))
            .collect()[0]
        )
        changed = int(row["changed"] or 0)
        series.append(float(row["reach"]))
        wall_ms = (time.time() - t0) * 1000
        old = sketch
        sketch = new_sketch.drop("_chg")
        free_local_checkpoint(old)
        lineage.append(
            {"superstep": h, "changed_masks": changed,
             "reach_est": series[-1], "converged": changed == 0,
             "wall_ms": wall_ms}
        )
        if changed == 0 and stop_early:
            break
    edges.unpersist()
    # the output is built from the collected series — the final sketch's
    # checkpoint blocks are not part of any returned lineage
    free_local_checkpoint(sketch)
    final = series[-1]
    rows = [
        (h, round(v, 6), round(v / final, 6)) for h, v in enumerate(series)
    ]
    out = spark.createDataFrame(
        rows, "h int, reach_est double, frac_of_final double"
    )
    return out, lineage


def effective_diameter(nf_rows: list[tuple], q: float = 0.9) -> float:
    """Interpolated q-effective diameter from (h, reach, frac) rows —
    the smallest (fractional) h with N(h) ≥ q·N(final), linearly
    interpolated between integer hops (the standard ANF convention)."""
    pts = sorted((r[0], r[2]) for r in nf_rows)
    if pts[0][1] >= q:  # met at the first point: nothing to interpolate from
        return float(pts[0][0])
    for (h0, f0), (h1, f1) in zip(pts, pts[1:]):
        if f1 >= q:
            if f1 == f0:
                return float(h1)
            return h0 + (q - f0) / (f1 - f0)
    return float(pts[-1][0])
