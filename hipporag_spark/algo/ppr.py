"""Personalized PageRank as an iterative DataFrame job.

Semantics are the reference's own explicit spec of what igraph prpack
computes for HippoRAG (``/root/reference/kotlin/src/main/kotlin/hipporag/
graph/SimpleGraph.kt:130-182``; invocation ``HippoRAG.py:1599-1606``,
damping default 0.5 ``config_utils.py:180-183``):

    reset  sanitized (NaN/neg → 0, HippoRAG.py:1598), normalized to Σ=1,
           uniform if Σ=0
    r0[v]  = 1/n
    r'[v]  = (1-d)·reset[v] + d·danglingMass·reset[v]
             + d·Σ_u r[u]·W[u,v]/strength(u)
    stop   when Σ|r'-r| < tol   (tol 1e-6, ≤100 iters)

Two physical engines, same math, chosen by where the data fits:

- ``engine="csr"`` (default): the packed block engine
  (:mod:`..graph.blocked`). A superstep is a per-block SpMV with in-block
  dst pre-aggregation (the src block is the salt of a two-phase
  aggregate, so hub skew never concentrates on one task), then a
  per-block combine that applies reset/teleport and computes L1 delta +
  dangling mass + per-partition metrics in the same pass. A chunk of C
  chained supersteps is ONE Spark job of C+1 pandas stages: an SpMV
  stage, C-1 stages that each run block b's combine and then block b's
  next SpMV in one Python call, and a final combine stage — one Python
  crossing per superstep, since each such stage has a fixed cost on a
  4-core host even when it does no work. Measured on a 10-stage
  ``applyInPandas`` chain, that cost was 180-240 ms per stage, of which
  105-200 ms per task was the Python worker re-reading the central
  directories of pyspark.zip, the py4j zip and the spark-core jar
  (:mod:`hipporag_spark.pyworker` removes it); the remaining 100-140 ms is
  JVM-side scheduling and Arrow I/O. State is O(P) packed rows, not
  O(V) scalar rows: round-1 profiling showed the row-per-vertex
  formulation spent ~2.5 s/superstep on scheduling + Arrow overhead and
  ANTI-scaled with cores. Works at any graph size; per-task memory is
  bounded by block size.
- ``engine="broadcast"`` (batch): when the graph's COO arrays fit in
  executor memory (the HippoRAG retrieval regime — millions of vertices,
  thousands of queries), broadcast the graph ONCE and partition by query:
  each task runs whole power iterations for its queries with zero
  per-superstep scheduling or shuffle. Embarrassingly parallel in Q; the
  scaling-efficiency workhorse. Falls back to "csr" when a checkpoint dir
  is requested (per-superstep durability needs the superstep loop).

For interactive SINGLE-query scoring on graphs too large to iterate over
per query, see :mod:`.ppr_push` — approximate local PPR by synchronous
forward push, whose work tracks the walk's touched neighborhood instead
of O(E)·iterations (exact engines here remain the batch/convergence
ground truth).

Float64 throughout; scores sum to 1 at convergence like the reference.
Checkpoint contract (north rule): each superstep of the csr engine persists
the packed rank vector + per-partition lineage metrics; a killed run
resumes from the latest complete superstep bit-for-bit.
"""

from __future__ import annotations

import os
import time
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..checkpointing import CheckpointManager, SuperstepCheckpoint
from ..fsio import spill_df
from ..graph.blocked import BlockGraph, build_runstate, compile_blocks, default_num_blocks
from ..lifecycle import free_local_checkpoint

__all__ = [
    "personalized_pagerank",
    "personalized_pagerank_batch",
    "default_num_blocks",
    "sanitize_reset",
]


def sanitize_reset(reset_df: DataFrame) -> DataFrame:
    """NaN / negative reset entries → 0 (``HippoRAG.py:1598``)."""
    v = F.col("weight").cast("double")
    clean = F.when(F.isnan(v) | v.isNull() | (v < 0), F.lit(0.0)).otherwise(v)
    return reset_df.select("id", clean.alias("weight"))


def _normalize_resets(
    spark: SparkSession, reset_df: DataFrame
) -> tuple[DataFrame, list[str], set[str]]:
    """Batch reset prep: sanitize per query, normalize to Σ=1, detect
    all-zero queries (→ uniform). Returns (sparse reset rows, qids,
    uniform query set)."""
    clean = reset_df.select(
        "query_id",
        "id",
        F.when(
            F.isnan(F.col("weight").cast("double"))
            | F.col("weight").isNull()
            | (F.col("weight") < 0),
            F.lit(0.0),
        ).otherwise(F.col("weight").cast("double")).alias("weight"),
    ).filter(F.col("weight") > 0)
    totals = clean.groupBy("query_id").agg(F.sum("weight").alias("total"))
    reset_rows = clean.join(totals, "query_id").select(
        "query_id", "id", (F.col("weight") / F.col("total")).alias("reset")
    )
    qids = sorted(r["query_id"] for r in reset_df.select("query_id").distinct().collect())
    nonzero = {r["query_id"] for r in totals.collect()}
    uniform_q = {q for q in qids if q not in nonzero}
    return reset_rows, qids, uniform_q


# --------------------------------------------------------------------------
# packed block engine (engine="csr")
# --------------------------------------------------------------------------

# PARTIAL WIRE FORMAT: float32. The superstep's dominant data movement is
# the kind=1 partial-rank shuffle — bytes ≈ P_src × nq × V × width — and
# partials are pure addends: every consumer immediately widens to float64
# and all accumulation (combine's Σ partials, the delta/mass metrics, the
# packed rank rows themselves in _OUT_SCHEMA) stays float64, so the only
# loss is one rounding of each addend (~6e-8 relative). Fixed-point
# perturbation is O(1e-7)·value — inside the allclose(1e-6) reference
# contract and the tol=1e-6 stopping rule (measured on a 400-vertex
# multigraph: same 12 supersteps, per-vertex max |Δ| vs the float64
# NumPy reference 8.8e-10). Halves the inter-executor shuffle volume
# that gates real-cluster N→4N scaling.
_PARTIAL_SCHEMA = (
    "dblk int, kind int, src int, idx array<int>, vals array<float>"
)
_OUT_SCHEMA = (
    "block int, vals array<double>, delta array<double>, "
    "dmass array<double>, mass array<double>, nrows long"
)
# above this many blocks the SpMV kernel stops emitting P kind=2
# (dangling-mass) rows per source block (P² total) and the loop switches
# to a JVM aggregate + broadcast fan-out of the global sum
_K2_FANOUT_MAX = 512

_EMPTY_PARTIALS = pd.DataFrame(
    {
        "dblk": pd.Series(dtype="int32"),
        "kind": pd.Series(dtype="int32"),
        "src": pd.Series(dtype="int32"),
        "idx": pd.Series(dtype="object"),
        "vals": pd.Series(dtype="object"),
    }
)

# worker-side cache of a src block's mmap'd graph arrays, keyed by
# (spill_dir, block): one np.load(mmap_mode="r") set per worker process,
# every worker sharing the same physical page-cache pages (the blocked
# engine's analog of _MMAP_CACHE below)
_BLOCK_MMAP_CACHE: dict = {}

# worker-side scratch buffers reused across supersteps, keyed by
# (spill_dir, role): kernels run every superstep on identically-shaped
# data — see nputil.scratch for why fresh large allocations are poison on
# this host. Shared with the blocked-KNN kernel (retrieval/knn.py).
from ..nputil import make_spill_dir, scratch as _scratch  # noqa: E402


def _load_block(spill_dir: str, blk: int):
    """Worker-side: mmap the packed arrays of src block ``blk`` (layout in
    ``graph.blocked._spill_blocks``). None when the block has no out-edges."""
    key = (spill_dir, blk)
    if key in _BLOCK_MMAP_CACHE:
        return _BLOCK_MMAP_CACHE[key]
    from ..graph.blocked import BLOCK_SPILL_ARRAYS

    first = f"{spill_dir}/blk{blk}.dblks.npy"
    g = None
    if os.path.exists(first):
        g = {
            name: np.load(f"{spill_dir}/blk{blk}.{name}.npy", mmap_mode="r")
            for name in BLOCK_SPILL_ARRAYS
        }
    _BLOCK_MMAP_CACHE[key] = g
    return g


def _load_dang(spill_dir: str, blk: int) -> np.ndarray:
    """Worker-side: the block's dangling local indices (written by
    ``graph.blocked._spill_dangling``); cached like the edge arrays."""
    key = (spill_dir, blk, "dang")
    d = _BLOCK_MMAP_CACHE.get(key)
    if d is None:
        path = f"{spill_dir}/blk{blk}.dang.npy"
        d = (
            np.load(path, mmap_mode="r")
            if os.path.exists(path)
            else np.empty(0, dtype=np.int32)
        )
        _BLOCK_MMAP_CACHE[key] = d
    return d


def _make_spmv_kernel(damping: float, nq: int, spill_dir: str, fanout_labels: list[int]):
    """Stage-1 kernel over the PACKED rank rows (one row per block carrying
    the (nq, n_b) matrix flattened query-major): per src-block SpMV for all
    queries in one shot, emitting ONE pre-aggregated partial row per dst
    block (vals = (nq, nu) flattened) plus the old rank row forwarded to
    its own block (kind=0) so stage 2 computes the L1 delta join-free. The
    static graph arrays come from the worker-side mmap cache, NOT a cogroup
    — only O(Q·V) rank data moves per superstep.

    kind=2 rows carry the block's dangling rank mass to EVERY dst block
    (O(P²) tiny rows), so the combine computes the global teleport base
    locally — no per-superstep driver synchronization, which is what lets
    ``check_every`` supersteps chain into one Spark job."""

    def kernel(r_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(r_pdf) == 0:
            return _EMPTY_PARTIALS
        blk = int(r_pdf["block"].iloc[0])
        v_flat = np.asarray(r_pdf["vals"].iloc[0], dtype=np.float64)
        # wire rows are float32 (see _PARTIAL_SCHEMA); math stays float64
        rows: list[tuple] = [(blk, 0, blk, None, v_flat.astype(np.float32))]
        dang = _load_dang(spill_dir, blk)
        dmass = (
            v_flat.reshape(nq, -1)[:, np.asarray(dang, dtype=np.int64)].sum(axis=1)
            if len(dang)
            else np.zeros(nq)
        )
        dmass32 = dmass.astype(np.float32)
        for lbl in fanout_labels:
            rows.append((lbl, 2, blk, None, dmass32))
        g = _load_block(spill_dir, blk)
        if g is not None:
            V = v_flat.reshape(nq, -1)
            dblks, eoff, uoff = g["dblks"], g["eoff"], g["uoff"]
            max_e = int(np.diff(eoff).max()) if len(dblks) else 0
            # per-query gather buffer: edge-sized, reused across dst blocks,
            # queries, and supersteps (see nputil.scratch) — the working set per
            # bincount pass is one (n_edges_j,) stream, never (nq, n_edges)
            ebuf = _scratch((spill_dir, "spmv_e"), (max(1, max_e),))
            for j in range(len(dblks)):
                a, b = int(eoff[j]), int(eoff[j + 1])
                ua, ub = int(uoff[j]), int(uoff[j + 1])
                nu = ub - ua
                src_idx = np.asarray(g["src_idx"][a:b], dtype=np.int64)
                w = np.asarray(g["w"][a:b])
                inv = np.asarray(g["inv"][a:b], dtype=np.int64)
                eb = ebuf[: b - a]
                sums = _scratch((spill_dir, "spmv_out", j), (nq, nu))
                for q in range(nq):
                    np.take(V[q], src_idx, out=eb)
                    np.multiply(eb, w, out=eb)
                    sums[q] = np.bincount(inv, weights=eb, minlength=nu)
                sums *= damping
                # astype(float32) both narrows to the wire format and COPIES
                # out of the scratch buffer keyed by the dst-block INDEX j —
                # two src-block groups in the same applyInPandas task share
                # j keys, so emitting a view would rely on PySpark
                # Arrow-converting each group's result before the next
                # group's kernel call reuses the buffer (an undocumented
                # serializer invariant)
                rows.append(
                    (
                        int(dblks[j]), 1, blk,
                        np.asarray(g["uniq"][ua:ub]),
                        sums.ravel().astype(np.float32),
                    )
                )
        return pd.DataFrame(
            rows, columns=["dblk", "kind", "src", "idx", "vals"]
        )

    return kernel


def _make_combine_kernel(damping: float, nq: int, uniform_mask: np.ndarray, n: int):
    """Stage-2 kernel: per dst-block combine over ALL queries at once.
    base_q = (1-d) + d·Σ_blocks dmass_q (from the kind=2 partial rows);
    new = base·reset + Σ kind=1 partials; emits the next packed rank row
    plus the per-query metric arrays (L1 delta, dangling mass, total mass)
    in the same pass — no extra join, no extra action, and no driver-fed
    state, so supersteps compose into one lazy plan."""

    def kernel(p_pdf: pd.DataFrame, rs_pdf: pd.DataFrame) -> pd.DataFrame:
        cols = ["block", "vals", "delta", "dmass", "mass", "nrows"]
        if len(rs_pdf) == 0 or len(p_pdf) == 0:
            return pd.DataFrame(columns=cols)
        rs = rs_pdf.iloc[0]
        blk = int(rs["block"])
        n_b = len(rs["ids"])
        dang = np.asarray(rs["dang"], dtype=np.int64)
        # deterministic accumulation order: sort by (kind, src block)
        p_pdf = p_pdf.sort_values(["kind", "src"], kind="mergesort")
        kinds = p_pdf["kind"].to_numpy()
        base_arr = np.full(nq, 0.0)
        for row in p_pdf[kinds == 2].itertuples(index=False):
            base_arr += np.asarray(row.vals, dtype=np.float64)
        base_arr = (1.0 - damping) + damping * base_arr
        new = _scratch(("combine", blk), (nq, n_b))
        new.fill(0.0)
        if uniform_mask.any():
            new[uniform_mask, :] = (base_arr[uniform_mask] / n)[:, None]
        for qi, ix, rv in zip(rs["qidx"], rs["ridx"], rs["rval"]):
            qi = int(qi)
            new[qi, np.asarray(ix, dtype=np.int64)] = base_arr[qi] * np.asarray(
                rv, dtype=np.float64
            )
        old = np.asarray(
            p_pdf["vals"].iloc[int(np.nonzero(kinds == 0)[0][0])], dtype=np.float64
        ).reshape(nq, n_b)
        for row in p_pdf[kinds == 1].itertuples(index=False):
            uniq = np.asarray(row.idx, dtype=np.int64)
            new[:, uniq] += np.asarray(row.vals, dtype=np.float64).reshape(
                nq, len(uniq)
            )
        diff = _scratch(("combine_diff", blk), (nq, n_b))
        np.subtract(new, old, out=diff)
        np.abs(diff, out=diff)
        delta = diff.sum(axis=1)
        dmass = new[:, dang].sum(axis=1) if len(dang) else np.zeros(nq)
        mass = new.sum(axis=1)
        # new.ravel() is a scratch view, but its key includes the block id
        # and groupby("dblk") hands each block to exactly ONE group per
        # task; across tasks a worker fully serializes one task's results
        # before the next starts — so no copy is needed here (unlike the
        # SpMV kernel's per-dst-block buffers, which DO collide in-task)
        return pd.DataFrame(
            [(blk, new.ravel(), delta, dmass, mass, n_b)], columns=cols
        )

    return kernel


def _make_combine_then_spmv_kernel(combine, spmv):
    """Interior-superstep kernel: block b's combine, then block b's SpMV of
    the NEXT superstep on the new rank row, in one Python call. The rank
    row never crosses the Arrow boundary between the two, so a chunk of C
    supersteps runs C+1 pandas stages instead of 2C. The combine's metrics
    are dropped — interior supersteps record none (see ``_ppr_blocked``) —
    and the arithmetic is exactly the two kernels run back to back."""

    def kernel(p_pdf: pd.DataFrame, rs_pdf: pd.DataFrame) -> pd.DataFrame:
        return spmv(combine(p_pdf, rs_pdf)[["block", "vals"]])

    return kernel


def _make_fused_kernel(
    damping: float, nq: int, spill_dir: str, uniform_mask: np.ndarray, n: int
):
    """Single-block fast path (P == 1, the small-graph regime of the
    shuffle engine): SpMV + teleport + L1-delta in ONE cogrouped kernel.
    Valid because with one block every edge is block-local — the
    cross-block exchange the general path shuffles partials through is
    provably empty — so a superstep needs one pandas stage instead of two,
    halving both the fixed stage cost and the Arrow traffic (the packed
    rank row otherwise crosses the Python boundary twice per step). Math
    is identical to _make_spmv_kernel + _make_combine_kernel."""

    def kernel(r_pdf: pd.DataFrame, rs_pdf: pd.DataFrame) -> pd.DataFrame:
        cols = ["block", "vals", "delta", "dmass", "mass", "nrows"]
        if len(rs_pdf) == 0 or len(r_pdf) == 0:
            return pd.DataFrame(columns=cols)
        rs = rs_pdf.iloc[0]
        blk = int(rs["block"])
        n_b = len(rs["ids"])
        old = np.asarray(r_pdf["vals"].iloc[0], dtype=np.float64).reshape(nq, n_b)
        dang = np.asarray(rs["dang"], dtype=np.int64)
        dmass_old = old[:, dang].sum(axis=1) if len(dang) else np.zeros(nq)
        base_arr = (1.0 - damping) + damping * dmass_old
        new = _scratch(("fused", blk), (nq, n_b))
        new.fill(0.0)
        if uniform_mask.any():
            new[uniform_mask, :] = (base_arr[uniform_mask] / n)[:, None]
        for qi, ix, rv in zip(rs["qidx"], rs["ridx"], rs["rval"]):
            qi = int(qi)
            new[qi, np.asarray(ix, dtype=np.int64)] = base_arr[qi] * np.asarray(
                rv, dtype=np.float64
            )
        g = _load_block(spill_dir, blk)
        if g is not None:
            eoff, uoff = g["eoff"], g["uoff"]
            max_e = int(np.diff(eoff).max()) if len(g["dblks"]) else 0
            ebuf = _scratch((spill_dir, "spmv_e"), (max(1, max_e),))
            for j in range(len(g["dblks"])):
                a, b = int(eoff[j]), int(eoff[j + 1])
                ua, ub = int(uoff[j]), int(uoff[j + 1])
                src_idx = np.asarray(g["src_idx"][a:b], dtype=np.int64)
                w = np.asarray(g["w"][a:b])
                inv = np.asarray(g["inv"][a:b], dtype=np.int64)
                uniq = np.asarray(g["uniq"][ua:ub], dtype=np.int64)
                eb = ebuf[: b - a]
                for q in range(nq):
                    np.take(old[q], src_idx, out=eb)
                    np.multiply(eb, w, out=eb)
                    new[q, uniq] += damping * np.bincount(
                        inv, weights=eb, minlength=ub - ua
                    )
        diff = _scratch(("fused_diff", blk), (nq, n_b))
        np.subtract(new, old, out=diff)
        np.abs(diff, out=diff)
        delta = diff.sum(axis=1)
        dmass = new[:, dang].sum(axis=1) if len(dang) else np.zeros(nq)
        mass = new.sum(axis=1)
        return pd.DataFrame(
            [(blk, new.ravel(), delta, dmass, mass, n_b)], columns=cols
        )

    return kernel


def _unpack_ranks(
    ranks_packed: DataFrame, vstate: DataFrame, qids: list[str]
) -> DataFrame:
    """(block, vals[nq·n_b]) + block ids → (query_id, id, value), JVM-side:
    posexplode + div/mod on the flat position recovers (query, vertex)."""
    qarr = F.array(*[F.lit(q) for q in qids])
    return (
        ranks_packed.join(vstate.select("block", "ids"), "block")
        .select("ids", F.posexplode("vals").alias("pos", "value"))
        .select(
            F.element_at(qarr, (F.col("pos") / F.size("ids")).cast("int") + 1).alias(
                "query_id"
            ),
            F.element_at(
                F.col("ids"), (F.col("pos") % F.size("ids")).cast("int") + 1
            ).alias("id"),
            "value",
        )
    )


def _ppr_blocked(
    spark: SparkSession,
    bg: BlockGraph,
    reset_rows: DataFrame,
    qids: list[str],
    uniform_q: set[str],
    damping: float,
    tol: float,
    max_iter: int,
    checkpoint_dir: str | None,
    run_id: str | None,
    check_every: int | None,
    ck_holder: list | None = None,
) -> tuple[DataFrame, list[dict]]:
    """The shared superstep loop of the packed block engine.

    ``check_every`` supersteps run as ONE Spark job: the dangling-mass
    teleport correction flows through the data (kind=2 partial rows from
    the SpMV, summed in the combine), so interior supersteps need no
    driver action at all — the chunk's single action materializes the
    final packed vectors executor-side and pulls only the per-block metric
    arrays (O(P·Q) scalars). A chunk of C supersteps is C+1 pandas stages
    (SpMV, C-1 × combine-then-SpMV, combine; P == 1: C fused stages), so
    interior supersteps also keep no metrics of their own; the chunk
    boundary always holds plain ``(block, vals)`` ranks, the unit the
    durable checkpoint writes. Convergence is therefore detected at chunk
    granularity (a converged run does ≤ check_every-1 extra supersteps,
    which only tightens the fixed point). With ``checkpoint_dir`` the same
    cadence is the durable-checkpoint cadence, default every superstep
    (the north-rule resume contract); in-memory runs default to chunks of
    4.
    """
    n = bg.n_vertices
    P = bg.num_blocks
    nq = len(qids)
    chunk_size = check_every if check_every else (1 if checkpoint_dir else 4)
    uniform_mask = np.array([q in uniform_q for q in qids], dtype=bool)
    runstate = build_runstate(bg, reset_rows, qids, uniform_q, n)
    if bg.spill_dir is None:
        raise ValueError("BlockGraph has no spill_dir; recompile with compile_blocks")
    # P² kind=2 rows are cheap up to a few hundred blocks (the superstep's
    # rank rows dominate); past that the kernel emits ONE kind=2 row per
    # src block (num_blocks=1, NOT 0 — zero rows would both drop the
    # dangling teleport mass and crash the combine on an empty aggregate)
    # and a JVM-side aggregate + broadcast fans the global sum back out —
    # same dataflow, one extra (tiny) stage, no driver barrier either way
    fanout = P <= _K2_FANOUT_MAX
    all_labels = bg.fanout_labels()
    # non-fanout emits ONE kind=2 row per src block; its dblk value is
    # discarded (filtered on kind==2 and re-fanned via the JVM aggregate)
    k2_labels = all_labels if fanout else all_labels[:1]
    spmv = _make_spmv_kernel(damping, nq, bg.spill_dir, k2_labels)
    combine = _make_combine_kernel(damping, nq, uniform_mask, n)
    combine_then_spmv = _make_combine_then_spmv_kernel(combine, spmv)
    fused = (
        _make_fused_kernel(damping, nq, bg.spill_dir, uniform_mask, n)
        if P == 1
        else None
    )

    ranks = bg.vstate.select(
        "block",
        F.array_repeat(F.lit(1.0 / n), (F.size("ids") * nq).cast("int")).alias("vals"),
    )

    ckpt = None
    start_step = 0
    lineage: list[dict] = []
    if checkpoint_dir is not None:
        ckpt = CheckpointManager(checkpoint_dir, run_id or uuid.uuid4().hex[:12])
        latest = ckpt.latest_complete()
        if latest is not None:
            ranks, manifest = ckpt.load(spark, latest)
            # the packed rows fit only the same queries, blocks and vertex
            # count; another damping would mix two computations in one run
            recorded = {"qids": list(qids), "damping": damping, "num_blocks": P, "n_vertices": n}
            for key, value in recorded.items():
                if manifest.get(key) != value:
                    raise ValueError(
                        f"cannot resume run {ckpt.run_id!r}: {key}={value!r} "
                        f"differs from the checkpointed {key}={manifest.get(key)!r}"
                    )
            lineage = ckpt.lineage()
            if manifest.get("converged"):
                free_local_checkpoint(runstate)
                return ranks, lineage
            start_step = latest + 1
    ranks = ranks.localCheckpoint(eager=True)

    def route(partials: DataFrame) -> DataFrame:
        """SpMV output → combine input. With fan-out the kind=2 rows are
        already addressed to every dst block; otherwise their global sum
        is computed JVM-side and broadcast back out as one row per block."""
        if fanout:
            return partials
        k2 = partials.filter(F.col("kind") == 2)
        dm = (
            k2.select(F.posexplode("vals").alias("qi", "v"))
            .groupBy("qi")
            .agg(F.sum("v").alias("v"))
        )
        arr = dm.agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("qi", "v"))),
                lambda s: s["v"],
            ).alias("vals")
        )
        bcast_rows = (
            bg.vstate.select(F.col("block").alias("dblk"))
            .crossJoin(F.broadcast(arr))
            .select(
                "dblk",
                F.lit(2).alias("kind"),
                F.lit(-1).alias("src"),
                F.lit(None).cast("array<int>").alias("idx"),
                # the JVM aggregate sums in double; narrow to the
                # float32 wire type for the union with the partials
                F.col("vals").cast("array<float>").alias("vals"),
            )
        )
        return partials.filter(F.col("kind") != 2).unionByName(bcast_rows)

    def with_runstate(df: DataFrame, key: str, kernel, schema: str) -> DataFrame:
        return (
            df.groupby(key)
            .cogroup(runstate.groupby("block"))
            .applyInPandas(kernel, schema)
        )

    def supersteps(cur: DataFrame, count: int) -> DataFrame:
        """``count`` chained supersteps from packed ranks ``cur`` to the
        combine's ``_OUT_SCHEMA`` rows: one SpMV stage, count-1
        combine-then-SpMV stages, one final combine — count+1 pandas
        stages (P == 1: ``count`` fused stages)."""
        if fused is not None:
            out = with_runstate(cur, "block", fused, _OUT_SCHEMA)
            for _ in range(count - 1):
                out = with_runstate(
                    out.select("block", "vals"), "block", fused, _OUT_SCHEMA
                )
            return out
        partials = route(cur.groupby("block").applyInPandas(spmv, _PARTIAL_SCHEMA))
        for _ in range(count - 1):
            partials = route(
                with_runstate(partials, "dblk", combine_then_spmv, _PARTIAL_SCHEMA)
            )
        return with_runstate(partials, "dblk", combine, _OUT_SCHEMA)

    converged = False
    # scope shuffle partitions to the block count for the superstep loop:
    # every exchange here keys on block/dblk (≤ P distinct values), so the
    # session-wide setting (= core count) schedules (cores − P) provably
    # EMPTY tasks per stage of every chained job. At sf0.1 (P=1) that was
    # 31 empty tasks × 8 stages × 5 jobs of pure scheduling latency.
    # On a cluster P ≫ cores and this is a no-op.
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(P))
    # AQE has nothing to improve here — every exchange is already P-wide
    # and data-sized — but re-plans each chained chunk at runtime, which
    # profiling shows adds ~40% to the loop (scripts/ppr_profile.py:
    # 41.3s with AQE vs 29.0s without on the identical run)
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    prev_ck: DataFrame | None = ranks
    step = start_step
    try:
        while step < max_iter and not converged:
            t0 = time.time()
            chunk = min(chunk_size, max_iter - step)
            out = supersteps(ranks, chunk).localCheckpoint(eager=False)
            # the chunk's ONE action
            mrows = out.select("block", "delta", "dmass", "mass", "nrows").collect()

            deltas = {q: 0.0 for q in qids}
            dangling_mass = {q: 0.0 for q in qids}
            for r in mrows:
                for qi, q in enumerate(qids):
                    deltas[q] += r["delta"][qi]
                    dangling_mass[q] += r["dmass"][qi]
            delta = max(deltas.values()) if deltas else 0.0
            converged = delta < tol
            last = step + chunk - 1
            wall_ms = (time.time() - t0) * 1000
            meta = SuperstepCheckpoint(
                run_id=ckpt.run_id if ckpt else "in-memory",
                superstep=last,
                delta=delta,
                converged=converged,
                wall_ms=wall_ms,
                partitions=[
                    {
                        "query_id": q,
                        "block": r["block"],
                        "rows": r["nrows"],
                        "delta": r["delta"][qi],
                        "mass": r["mass"][qi],
                    }
                    for r in mrows
                    for qi, q in enumerate(qids)
                ],
                extra={
                    "engine": "blocked-csr",
                    "damping": damping,
                    "n_vertices": n,
                    "num_blocks": P,
                    "n_queries": len(qids),
                    "qids": qids,
                    "dangling_mass": dangling_mass,
                    "per_query_delta": deltas,
                },
            )
            new_ranks = out.select("block", "vals")
            if ckpt is not None:
                new_ranks = ckpt.write(new_ranks, meta)  # parquet-backed copy
                free_local_checkpoint(out)
                cur_ck = None
            else:
                cur_ck = out
            free_local_checkpoint(prev_ck)
            prev_ck = cur_ck
            ranks = new_ranks
            for s in range(step, last):  # interior steps: no individual metrics
                lineage.append(
                    {
                        "run_id": meta.run_id,
                        "superstep": s,
                        "delta": None,
                        "converged": False,
                        "wall_ms": wall_ms / chunk,
                        "partitions": [],
                    }
                )
            lineage.append(
                {
                    "run_id": meta.run_id,
                    "superstep": last,
                    "delta": delta,
                    "converged": converged,
                    "wall_ms": wall_ms / chunk,
                    "partitions": meta.partitions,
                }
            )
            step += chunk
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)

    free_local_checkpoint(runstate)
    if ckpt is None and prev_ck is not None:
        if ck_holder is not None:
            # a query-group run inside a split batch: the CALLER spills the
            # unioned result once and then frees these blocks — per-group
            # spills would churn fsio's result LRU (SPILL_KEEP) and evict
            # sibling groups' still-unread results mid-batch
            ck_holder.append(prev_ck)
        else:
            # the final superstep's localCheckpoint blocks back the returned
            # ranks: re-home the result to a parquet spill (valid regardless
            # of later runs — see fsio.spill_df's retention contract) and
            # free the blocks NOW, instead of round 2's deferred free that
            # invalidated the PREVIOUS caller's still-lazy result
            ranks = spill_df(ranks.select("block", "vals"), "hipporag_ranks_")
            free_local_checkpoint(prev_ck)
    return ranks, lineage


# --------------------------------------------------------------------------
# broadcast-graph engine (engine="broadcast", batch)
# --------------------------------------------------------------------------

# worker-side cache of memory-mapped graph arrays, keyed by directory: one
# np.load(mmap_mode="r") per worker process, all workers sharing the same
# physical page-cache pages
_MMAP_CACHE: dict = {}

_COO_ARRAYS = ("src", "w", "inv_strength", "uniq_dst", "rel_seg", "edge_lo", "seg_lo", "dang", "ids")

# arrays of the executor-spilled ("parts") layout: V-sized / chunk-metadata
# only — the E-sized src/w streams live in per-partition files written BY
# the executors (part{p}.src.npy / part{p}.w.npy)
_COO_V2_ARRAYS = (
    "inv_strength", "uniq_dst", "rel_seg", "dang",
    "chunk_part", "chunk_elo", "chunk_ehi", "chunk_slo", "chunk_shi",
)

# above this many edges the COO build switches from a driver Arrow-collect
# to the executor-spill path (the driver pull at 2e8 edges is ~4 GB —
# survivable but the wrong shape; graph.blocked._spill_blocks already
# writes from executors and this mirrors it)
COO_EXECUTOR_SPILL_MIN = 2_000_000

# spill-dir lifecycle (atexit removal + dead-owner orphan sweep) lives in
# nputil.make_spill_dir


def _resolve_coo(g: dict) -> dict:
    """Materialize a COO dict in a worker: mmap-backed arrays load lazily
    and are cached per process."""
    mdir = g.get("mmap_dir")
    if not mdir:
        return g
    cached = _MMAP_CACHE.get(mdir)
    if cached is None:
        cached = dict(g)
        names = _COO_V2_ARRAYS if g.get("layout") == "parts" else _COO_ARRAYS
        for name in names:
            p = f"{mdir}/{name}.npy"
            cached[name] = np.load(p, mmap_mode="r") if os.path.exists(p) else None
        _MMAP_CACHE[mdir] = cached
    return cached


def _load_part(mdir: str, part: int):
    """Worker-side: mmap one edge partition's src/w files (parts layout);
    cached per process like the v1 arrays."""
    key = (mdir, "part", int(part))
    cached = _MMAP_CACHE.get(key)
    if cached is None:
        src = np.load(f"{mdir}/part{part}.src.npy", mmap_mode="r")
        wp = f"{mdir}/part{part}.w.npy"
        w = np.load(wp, mmap_mode="r") if os.path.exists(wp) else None
        cached = (src, w)
        _MMAP_CACHE[key] = cached
    return cached


def _spill_coo(g: dict, mmap_dir: str) -> dict:
    """Write the big arrays to ``mmap_dir`` as .npy and return a lightweight
    dict for broadcasting. Every worker then maps the SAME read-only pages
    instead of unpickling a private multi-hundred-MB copy each (32 private
    copies measured as multi-second allocation stalls on first touch; on a
    multi-executor cluster the same pattern is broadcast-to-disk + mmap per
    host)."""
    os.makedirs(mmap_dir, exist_ok=True)
    out = {k: v for k, v in g.items() if k not in _COO_ARRAYS}  # scalar metadata
    out["mmap_dir"] = mmap_dir
    for name in _COO_ARRAYS:
        arr = g.get(name)
        if arr is not None:
            np.save(f"{mmap_dir}/{name}.npy", arr)
        out[name] = None
    return out


def collect_graph_coo(
    adj: DataFrame,
    strength_df: DataFrame,
    vertex_ids: DataFrame,
    weight_dtype: str = "float64",
    mmap_dir: str | None = "auto",
) -> dict:
    """Build the broadcast-engine COO representation. Only valid when the
    arrays fit in executor memory — the caller (or ``engine="auto"``) must
    gate on edge count; beyond that the packed block engine is the scale
    path.

    Two builders, chosen by size: past :data:`COO_EXECUTOR_SPILL_MIN` edges
    (dense ids, the engine's normal case) the sorted edge stream is written
    to per-partition ``.npy`` files BY the executors and the driver merges
    only O(V) metadata (``_collect_coo_executor`` — mirrors
    ``graph.blocked._spill_blocks``); below it, a driver Arrow-collect
    (the pull is a few MB there and non-dense id spaces need the vids
    array driver-side anyway).
    """
    spark = adj.sparkSession
    vstats = vertex_ids.agg(
        F.min("id").alias("lo"), F.max("id").alias("hi"), F.count("id").alias("cnt")
    ).collect()[0]
    n_v = int(vstats["cnt"] or 0)
    dense_ids = n_v > 0 and vstats["lo"] == 0 and vstats["hi"] == n_v - 1
    if mmap_dir is not None and dense_ids:
        n_edges = adj.count()
        if n_edges >= COO_EXECUTOR_SPILL_MIN:
            mdir = mmap_dir if mmap_dir != "auto" else make_spill_dir("hipporag_coo_")
            return _collect_coo_executor(
                adj, strength_df, n_v, n_edges, weight_dtype, mdir
            )
    vids = np.sort(
        vertex_ids.select("id").toPandas()["id"].to_numpy(dtype=np.int64)
    )
    n = len(vids)
    dense = n > 0 and vids[0] == 0 and vids[-1] == n - 1
    e_pdf = (
        adj.join(strength_df, adj.src == strength_df.id)
        .select("src", "dst", F.col("weight").cast("double").alias("w"))
        .toPandas()
    )
    src = e_pdf["src"].to_numpy(dtype=np.int64)
    dst = e_pdf["dst"].to_numpy(dtype=np.int64)
    w = e_pdf["w"].to_numpy(dtype=np.float64)
    if not dense:
        src = np.searchsorted(vids, src)
        dst = np.searchsorted(vids, dst)
    # sort by (dst, src): deterministic accumulation AND a sequential write
    # pattern — the kernel segment-reduces per dst (add.reduceat) so the
    # only random memory stream left is the r[src] gather
    order = np.lexsort((src, dst))
    src, dst, w = src[order], dst[order], w[order]
    uniq_dst, seg_starts = np.unique(dst, return_index=True)
    # cache-block the edge stream: chunks cut at segment boundaries so each
    # dst's edges stay in one chunk; the per-chunk temporary then lives in
    # L2 and the kernel's DRAM traffic drops to the src/w streams alone
    # (full-size temporaries measured 3-4× the traffic → the whole socket
    # saturates and 32 workers run each 15× slower than one)
    CH = 1 << 18
    n_edges = len(src)
    if len(seg_starts) and n_edges > CH:
        cut = np.searchsorted(seg_starts, np.arange(CH, n_edges, CH))
        cut = np.unique(cut[cut < len(seg_starts)])
        edge_lo = np.concatenate([[0], seg_starts[cut], [n_edges]])
        seg_lo = np.concatenate([[0], cut, [len(seg_starts)]])
        keep = np.nonzero(np.diff(edge_lo) > 0)[0]  # drop empty chunks
        edge_lo = np.concatenate([edge_lo[keep], [n_edges]])
        seg_lo = np.concatenate([seg_lo[keep], [len(seg_starts)]])
    else:
        edge_lo = np.array([0, n_edges], dtype=np.int64)
        seg_lo = np.array([0, len(seg_starts)], dtype=np.int64)
    # per-segment start relative to its chunk's first edge
    chunk_of_seg = np.searchsorted(seg_lo[1:], np.arange(len(seg_starts)), side="right")
    rel_seg = seg_starts - edge_lo[chunk_of_seg]
    s_pdf = strength_df.filter(F.col("strength") > 0).select("id", "strength").toPandas()
    pos_ids = s_pdf["id"].to_numpy(dtype=np.int64)
    pos_str = s_pdf["strength"].to_numpy(dtype=np.float64)
    if not dense:
        pos_ids = np.searchsorted(vids, pos_ids)
    mask = np.ones(n, dtype=bool)
    mask[pos_ids] = False
    dang = np.nonzero(mask)[0].astype(np.int64)
    # strength factored into a V-sized vector: the kernel gathers from
    # rr = r/strength, so an unweighted/constant-weight graph needs NO
    # per-edge weight array at all — the dominant DRAM stream drops to the
    # 4-byte src ids alone
    inv_strength = np.zeros(n)
    inv_strength[pos_ids] = 1.0 / pos_str
    w_const = float(w[0]) if len(w) and np.all(w == w[0]) else None
    idt = np.int32 if n < 2**31 else np.int64
    out = {
        "n": n,
        "src": src.astype(idt),
        # per-edge weights only when they actually vary; float32 halves the
        # stream (products still accumulate in float64, within ~1e-7 of the
        # all-float64 path)
        "w": None if w_const is not None else (
            w.astype(np.float32) if weight_dtype == "float32" else w
        ),
        "w_const": w_const,
        "inv_strength": inv_strength,
        "uniq_dst": uniq_dst.astype(idt),
        "rel_seg": rel_seg.astype(np.int64),
        "edge_lo": edge_lo.astype(np.int64),
        "seg_lo": seg_lo.astype(np.int64),
        "dang": dang,
        "ids": None if dense else vids,
    }
    if mmap_dir == "auto":
        mmap_dir = (
            make_spill_dir("hipporag_coo_") if len(src) >= 2_000_000 else None
        )
    if mmap_dir:
        out = _spill_coo(out, mmap_dir)
    return out


def _collect_coo_executor(
    adj: DataFrame,
    strength_df: DataFrame,
    n: int,
    n_edges: int,
    weight_dtype: str,
    mdir: str,
) -> dict:
    """Parts-layout COO: the E-sized streams never transit the driver.

    The normalized edge stream is range-partitioned by ``dst`` (equal dst
    never spans partitions) and sorted ``(dst, src)`` within — so the
    concatenation of partitions in pid order IS the global ``(dst, src)``
    sort the kernel's segment reduction needs, with the same deterministic
    accumulation order as the driver builder. Each partition's task writes
    its packed ``src``/``w`` arrays as ``part{pid}.*.npy`` and returns only
    its distinct-dst / chunk metadata (O(V) total); the driver assembles
    global chunk descriptors, spills the V-sized arrays next to the part
    files, and broadcasts a scalars-only dict.
    """
    spark = adj.sparkSession
    os.makedirs(mdir, exist_ok=True)
    e = adj.join(strength_df, adj.src == strength_df.id).select(
        "dst", "src", F.col("weight").cast("double").alias("w")
    )
    wstats = e.agg(F.min("w").alias("lo"), F.max("w").alias("hi")).collect()[0]
    w_const = float(wstats["lo"]) if wstats["lo"] == wstats["hi"] else None
    idt = np.int32 if n < 2**31 else np.int64
    wdt = np.float32 if weight_dtype == "float32" else np.float64
    # partition count from DATA ONLY (~8M edges ≈ 200 MB of task working
    # set). Deliberately NOT floored at the cluster width: the layout must
    # be identical at every parallelism level (scaling comparisons and
    # cross-session reuse both depend on it), and at real scale the data
    # term dominates any core count anyway — only the one-time build write
    # is less parallel on a small graph
    R = n_edges // 8_000_000 + 1
    CH = 1 << 18  # cache-blocked chunks, cut at segment boundaries (see v1)

    def write_part(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        pdfs = [b for b in batches]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        dst = pdf["dst"].to_numpy(dtype=np.int64)
        src = pdf["src"].to_numpy(dtype=np.int64).astype(idt)
        ne = len(src)
        # dst is sorted → unique's first-occurrence indices are the
        # ascending segment starts
        uniq, seg_starts = np.unique(dst, return_index=True)
        if len(seg_starts) and ne > CH:
            cut = np.searchsorted(seg_starts, np.arange(CH, ne, CH))
            cut = np.unique(cut[cut < len(seg_starts)])
            edge_lo = np.concatenate([[0], seg_starts[cut], [ne]])
            seg_lo = np.concatenate([[0], cut, [len(seg_starts)]])
            keep = np.nonzero(np.diff(edge_lo) > 0)[0]
            edge_lo = np.concatenate([edge_lo[keep], [ne]]).astype(np.int64)
            seg_lo = np.concatenate([seg_lo[keep], [len(seg_starts)]]).astype(np.int64)
        else:
            edge_lo = np.array([0, ne], dtype=np.int64)
            seg_lo = np.array([0, len(seg_starts)], dtype=np.int64)
        chunk_of_seg = np.searchsorted(
            seg_lo[1:], np.arange(len(seg_starts)), side="right"
        )
        rel_seg = (seg_starts - edge_lo[chunk_of_seg]).astype(np.int64)

        def save(name, arr):
            # shared-FS dirs exist from the driver mkdir; executor-local
            # roots (multi-node without a shared spill mount) need it here
            os.makedirs(mdir, exist_ok=True)
            tmp = f"{mdir}/.part{pid}.{name}.npy.tmp"
            with open(tmp, "wb") as fh:
                np.save(fh, arr)
            os.replace(tmp, f"{mdir}/part{pid}.{name}.npy")

        save("src", src)
        if w_const is None:
            save("w", pdf["w"].to_numpy(dtype=np.float64).astype(wdt))
        yield pd.DataFrame(
            {
                "pid": [pid],
                "n_edges": [ne],
                "uniq": [uniq.astype(np.int64)],
                "rel_seg": [rel_seg],
                "chunk_elo": [edge_lo],
                "chunk_slo": [seg_lo],
            }
        )

    meta = sorted(
        e.repartitionByRange(R, "dst")
        .sortWithinPartitions("dst", "src")
        .mapInPandas(
            write_part,
            "pid int, n_edges long, uniq array<long>, rel_seg array<long>, "
            "chunk_elo array<long>, chunk_slo array<long>",
        )
        .collect(),
        key=lambda r: r["pid"],
    )
    uniq_dst, rel_seg = [], []
    chunk_part, chunk_elo, chunk_ehi, chunk_slo, chunk_shi = [], [], [], [], []
    seg_off = 0
    for r in meta:
        uniq_dst.append(np.asarray(r["uniq"], dtype=idt))
        rel_seg.append(np.asarray(r["rel_seg"], dtype=np.int64))
        elo = np.asarray(r["chunk_elo"], dtype=np.int64)
        slo = np.asarray(r["chunk_slo"], dtype=np.int64)
        for ci in range(len(elo) - 1):
            chunk_part.append(r["pid"])
            chunk_elo.append(elo[ci])
            chunk_ehi.append(elo[ci + 1])
            chunk_slo.append(slo[ci] + seg_off)
            chunk_shi.append(slo[ci + 1] + seg_off)
        seg_off += len(r["uniq"])
    # strength → inv_strength + dangling ids: V-sized driver pulls (the
    # round-2 finding was only about the E-sized edge pull)
    s_pdf = strength_df.filter(F.col("strength") > 0).select("id", "strength").toPandas()
    pos_ids = s_pdf["id"].to_numpy(dtype=np.int64)
    inv_strength = np.zeros(n)
    inv_strength[pos_ids] = 1.0 / s_pdf["strength"].to_numpy(dtype=np.float64)
    mask = np.ones(n, dtype=bool)
    mask[pos_ids] = False
    arrays = {
        "inv_strength": inv_strength,
        "uniq_dst": np.concatenate(uniq_dst) if uniq_dst else np.empty(0, dtype=idt),
        "rel_seg": np.concatenate(rel_seg) if rel_seg else np.empty(0, dtype=np.int64),
        "dang": np.nonzero(mask)[0].astype(np.int64),
        "chunk_part": np.asarray(chunk_part, dtype=np.int32),
        "chunk_elo": np.asarray(chunk_elo, dtype=np.int64),
        "chunk_ehi": np.asarray(chunk_ehi, dtype=np.int64),
        "chunk_slo": np.asarray(chunk_slo, dtype=np.int64),
        "chunk_shi": np.asarray(chunk_shi, dtype=np.int64),
    }
    for name, arr in arrays.items():
        tmp = f"{mdir}/.{name}.npy.tmp"
        with open(tmp, "wb") as fh:
            np.save(fh, arr)
        os.replace(tmp, f"{mdir}/{name}.npy")
    out = {k: None for k in _COO_V2_ARRAYS}
    out.update(
        {"layout": "parts", "n": n, "mmap_dir": mdir, "w_const": w_const, "ids": None}
    )
    return out


def _reset_vector(n: int, ids, rid: np.ndarray, wt: np.ndarray) -> np.ndarray:
    """One query's reset vector over the COO's index space: NaN/negative
    weights → 0 (``HippoRAG.py:1598``), normalized to Σ=1, uniform when
    nothing is left (SimpleGraph.kt:139-140). ``ids`` (sorted vertex ids,
    or None for a dense id space) maps vertex ids to positions; repeated
    ids accumulate."""
    wt = np.where(np.isnan(wt) | (wt < 0), 0.0, wt)
    if ids is not None:
        rid = np.searchsorted(ids, rid)
    tot = wt.sum()
    reset = np.zeros(n)
    if tot > 0:
        np.add.at(reset, rid, wt / tot)
    else:
        reset[:] = 1.0 / n
    return reset


def _iterate_lockstep(g: dict, resets: list[np.ndarray], d: float, tol: float, max_iter: int):
    """Power iterations of several queries over one resolved COO (``g``
    from :func:`_resolve_coo`) → ``(ranks, iters, deltas, converged)``,
    one entry per reset vector.

    All queries iterate in LOCKSTEP so each edge chunk (the dominant DRAM
    stream) is read once per iteration and reused from cache for every
    query — per-query traffic shrinks by the queries-per-task factor;
    converged queries drop out individually."""
    parts_layout = g.get("layout") == "parts"
    n, dang = g["n"], g["dang"]
    w_const, inv_s = g["w_const"], g["inv_strength"]
    uniq_dst, rel_seg = g["uniq_dst"], g["rel_seg"]
    mdir = g.get("mmap_dir")
    if parts_layout:
        src = w = None
        chunk_part = g["chunk_part"]
        chunk_elo, chunk_ehi = g["chunk_elo"], g["chunk_ehi"]
        chunk_slo, chunk_shi = g["chunk_slo"], g["chunk_shi"]
        n_chunks = len(chunk_part)
        max_chunk = (
            int((np.asarray(chunk_ehi) - np.asarray(chunk_elo)).max())
            if n_chunks
            else 0
        )
        has_edges = n_chunks > 0
        weighted = w_const is None
    else:
        src, w = g["src"], g["w"]
        edge_lo, seg_lo = g["edge_lo"], g["seg_lo"]
        n_chunks = len(edge_lo) - 1
        max_chunk = int(np.diff(edge_lo).max()) if n_chunks else 0
        has_edges = len(src) > 0
        weighted = w is not None
    # preallocated per-call buffer (chunk-sized, L2-resident): fresh
    # full-size temporaries per iteration both churn the page allocator
    # and quadruple DRAM traffic
    ebuf = np.empty(max(1, max_chunk), dtype=np.float64)
    rrbuf = np.empty(n, dtype=np.float64)
    T = len(resets)
    Rs = [np.full(n, 1.0 / n) for _ in range(T)]
    Ns = [np.empty(n) for _ in range(T)]
    SEG = np.empty((T, max(1, len(uniq_dst))), dtype=np.float64)
    iters = [0] * T
    deltas = [0.0] * T
    convs = [False] * T
    active = list(range(T))
    while active:
        for t in active:
            dm = Rs[t][dang].sum() if len(dang) else 0.0
            np.multiply(resets[t], (1.0 - d) + d * dm, out=Ns[t])
        if has_edges:
            # gather from rr = r/strength (V-sized, cache-resident);
            # edges sorted by dst → per-dst segment sums sequential;
            # the rr[src] gather is the only random memory stream
            RRs = {}
            for t in active:
                np.multiply(Rs[t], inv_s, out=rrbuf)
                RRs[t] = rrbuf.copy() if len(active) > 1 else rrbuf
            for ci in range(n_chunks):
                if parts_layout:
                    psrc, pw = _load_part(mdir, chunk_part[ci])
                    elo, ehi = chunk_elo[ci], chunk_ehi[ci]
                    slo, shi = chunk_slo[ci], chunk_shi[ci]
                    sc = psrc[elo:ehi]
                    wc = pw[elo:ehi] if pw is not None else None
                else:
                    elo, ehi = edge_lo[ci], edge_lo[ci + 1]
                    slo, shi = seg_lo[ci], seg_lo[ci + 1]
                    sc = src[elo:ehi]
                    wc = w[elo:ehi] if w is not None else None
                eb = ebuf[: ehi - elo]
                for t in active:
                    np.take(RRs[t], sc, out=eb)
                    if wc is not None:
                        np.multiply(eb, wc, out=eb)
                    np.add.reduceat(eb, rel_seg[slo:shi], out=SEG[t, slo:shi])
            scale = d if weighted else d * w_const
            for t in active:
                seg_t = SEG[t]
                seg_t *= scale
                Ns[t][uniq_dst] += seg_t
        still = []
        for t in active:
            delta = float(np.abs(Ns[t] - Rs[t]).sum())
            Rs[t], Ns[t] = Ns[t], Rs[t]
            iters[t] += 1
            deltas[t] = delta
            if delta < tol:
                convs[t] = True
            elif iters[t] < max_iter:
                still.append(t)
        active = still
    return Rs, iters, deltas, convs


def _ppr_broadcast_batch(
    spark: SparkSession,
    graph_coo,
    reset_df: DataFrame,
    damping: float,
    tol: float,
    max_iter: int,
    num_partitions: int | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Graph broadcast once; queries partitioned; each task runs its
    queries' whole power iterations locally — zero per-superstep shuffle or
    scheduling (the reference loops queries the same way,
    ``HippoRAG.py:409-426``). Returns ranks with only nonzero entries
    (exact zeros = unreachable vertices) plus a single-entry lineage whose
    partitions carry per-query iterations/delta/convergence."""
    t0 = time.time()
    # accept a pre-made Broadcast: re-broadcasting a multi-hundred-MB COO
    # per call costs a driver pickle + a per-worker unpickle every time;
    # long-lived callers (engine facade, benches) broadcast once
    from pyspark import Broadcast

    bc = graph_coo if isinstance(graph_coo, Broadcast) else spark.sparkContext.broadcast(graph_coo)
    n_vertices_bc = bc.value["n"]
    d = float(damping)

    def run(batches):
        pdfs = [b for b in batches]
        if not pdfs:
            return
        g = _resolve_coo(bc.value)
        ids = g["ids"]
        pdf = pd.concat(pdfs, ignore_index=True)
        # all queries of this task share one lockstep iteration
        groups = list(pdf.groupby("query_id", sort=True))
        qlist = [q for q, _ in groups]
        resets = [
            _reset_vector(
                g["n"], ids,
                grp["id"].to_numpy(dtype=np.int64),
                grp["weight"].to_numpy(dtype=np.float64),
            )
            for _, grp in groups
        ]
        Rs, iters, deltas, convs = _iterate_lockstep(g, resets, d, tol, max_iter)
        for t, q in enumerate(qlist):
            r = Rs[t]
            nz = np.nonzero(r)[0]
            out_ids = ids[nz] if ids is not None else nz
            # ONE packed row per query (exploded JVM-side by the caller):
            # emitting V scalar rows would push V python strings per query
            # through Arrow — measured 10× slower than the iterations
            yield pd.DataFrame(
                {
                    "query_id": [q],
                    "ids": [out_ids.astype(np.int64)],
                    "vals": [r[nz].copy()],
                    "iters": [iters[t]],
                    "delta": [deltas[t]],
                    "conv": [convs[t]],
                }
            )

    qids = sorted(r["query_id"] for r in reset_df.select("query_id").distinct().collect())
    nq = max(1, len(qids))
    # partitions < queries packs several queries per task; their lockstep
    # iteration then shares each edge-chunk read (see kernel)
    nparts = min(nq, num_partitions) if num_partitions else nq
    # spill, don't persist: the ONE job that writes the parquet runs all
    # iterations; the re-read backs the returned ranks durably (a persisted
    # frame unpersisted by a later run would silently RE-RUN the whole
    # iteration — or fail outright once the graph broadcast is destroyed —
    # on the previous caller's first action; round 2 leaked executor
    # storage per call to avoid exactly that)
    out = spill_df(
        reset_df.repartitionByRange(nparts, "query_id").mapInPandas(
            run,
            "query_id string, ids array<long>, vals array<double>, "
            "iters int, delta double, conv boolean",
        ),
        "hipporag_branks_",
    )
    meta = out.select("query_id", "iters", "delta", "conv").collect()
    iters_q = {r["query_id"]: int(r["iters"]) for r in meta}
    delta_q = {r["query_id"]: r["delta"] for r in meta}
    conv_q = {r["query_id"]: bool(r["conv"]) for r in meta}
    ranks = (
        out.select("query_id", F.explode(F.arrays_zip("ids", "vals")).alias("z"))
        .select("query_id", F.col("z.ids").alias("id"), F.col("z.vals").alias("value"))
    )
    lineage = [
        {
            "run_id": "broadcast",
            "superstep": max(iters_q.values(), default=1) - 1,
            "delta": max(delta_q.values(), default=0.0),
            "converged": all(conv_q.values()) if conv_q else True,
            "wall_ms": (time.time() - t0) * 1000,
            "total_iterations": sum(iters_q.values()),
            "partitions": [
                {
                    "query_id": q,
                    "rows": n_vertices_bc,
                    "iters": iters_q.get(q),
                    "delta": delta_q.get(q),
                    "converged": conv_q.get(q),
                }
                for q in qids
            ],
        }
    ]
    return ranks, lineage


# --------------------------------------------------------------------------
# public API
# --------------------------------------------------------------------------

def _check_engine(engine: str) -> None:
    if engine not in ("csr", "broadcast"):
        raise ValueError(f"engine must be 'csr' or 'broadcast', got {engine!r}")


def personalized_pagerank(
    spark: SparkSession,
    adj: DataFrame,
    strength_df: DataFrame,
    vertex_ids: DataFrame,
    n_vertices: int | None = None,
    reset_df: DataFrame | None = None,
    damping: float = 0.5,
    tol: float = 1e-6,
    max_iter: int = 100,
    num_blocks: int | None = None,
    engine: str = "csr",
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
    graph: BlockGraph | None = None,
    check_every: int | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Run PPR to convergence; returns (ranks ``(id, value)``, lineage).

    ``checkpoint_dir`` enables per-superstep durability + resume: if a prior
    run under the same ``run_id`` left complete supersteps, iteration
    continues from the latest one (csr engine).

    Result lifetime: returned ranks are parquet-backed under the scratch
    root (``fsio.spill_df``) and stay valid across at least the next
    ``fsio.SPILL_KEEP - 1`` PPR runs; collect or persist results you need
    to hold across more runs than that.
    """
    _check_engine(engine)
    n = n_vertices if n_vertices is not None else vertex_ids.count()
    if n == 0:
        return spark.createDataFrame([], "id long, value double"), []
    if engine == "broadcast" and checkpoint_dir is None:
        coo = collect_graph_coo(adj, strength_df, vertex_ids)
        rdf = (
            reset_df.select(F.lit("_").alias("query_id"), "id", "weight")
            if reset_df is not None
            else spark.createDataFrame([("_", 0, 0.0)], "query_id string, id long, weight double")
        )
        ranks_q, lineage = _ppr_broadcast_batch(spark, coo, rdf, damping, tol, max_iter)
        return ranks_q.select("id", "value"), lineage

    bg = graph
    if bg is None:
        P = num_blocks or default_num_blocks(adj.count())
        bg = compile_blocks(adj, strength_df, vertex_ids.select("id"), P)
    qids = ["_"]
    if reset_df is not None:
        rdf = reset_df.select(F.lit("_").alias("query_id"), "id", "weight")
        reset_rows, seen_q, uniform_q = _normalize_resets(spark, rdf)
        if "_" not in seen_q:  # empty reset_df → uniform
            uniform_q = {"_"}
    else:
        reset_rows = spark.createDataFrame([], "query_id string, id long, reset double")
        uniform_q = {"_"}
    ranks_packed, lineage = _ppr_blocked(
        spark, bg, reset_rows, qids, uniform_q, damping, tol, max_iter,
        checkpoint_dir, run_id, check_every,
    )
    ranks = _unpack_ranks(ranks_packed, bg.vstate, qids).select("id", "value")
    if graph is None:
        # ad-hoc graph: spill the unpacked result BEFORE releasing the
        # block tables (vstate) the unpack join reads from
        ranks = spill_df(ranks, "hipporag_ranks_")
        bg.unpersist()
    return ranks, lineage


_GROUP_OVERRIDE: int | None = None
_MIN_QUERIES_PER_GROUP = 8


def personalized_pagerank_batch(
    spark: SparkSession,
    adj: DataFrame,
    strength_df: DataFrame,
    vertex_ids: DataFrame,
    reset_df: DataFrame,
    n_vertices: int | None = None,
    damping: float = 0.5,
    tol: float = 1e-6,
    max_iter: int = 100,
    num_blocks: int | None = None,
    graph: BlockGraph | None = None,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
    check_every: int | None = None,
    engine: str = "csr",
    num_partitions: int | None = None,
    weight_dtype: str = "float64",
    graph_coo=None,
) -> tuple[DataFrame, list[dict]]:
    """Multi-source PPR: Q queries scored in one run.

    ``reset_df``: ``(query_id, id, weight)``. Returns ranks
    ``(query_id, id, value)`` (broadcast engine: nonzero entries only).
    Each query's math is independent and matches
    :func:`personalized_pagerank` exactly (the reference loops per query,
    ``HippoRAG.py:409-426``).
    """
    _check_engine(engine)
    n = n_vertices if n_vertices is not None else vertex_ids.count()
    if n == 0:
        return spark.createDataFrame([], "query_id string, id long, value double"), []
    if engine == "broadcast" and checkpoint_dir is None:
        coo = graph_coo
        if coo is None:
            coo = collect_graph_coo(adj, strength_df, vertex_ids, weight_dtype=weight_dtype)
        return _ppr_broadcast_batch(
            spark, coo, reset_df, damping, tol, max_iter, num_partitions=num_partitions
        )

    bg = graph
    if bg is None:
        P = num_blocks or default_num_blocks(adj.count())
        bg = compile_blocks(adj, strength_df, vertex_ids.select("id"), P)
    reset_rows, qids, uniform_q = _normalize_resets(spark, reset_df)

    # query-dimension parallelism: the blocked engine's unit of parallelism
    # is the block, so a many-query batch on a small-P graph (the retrieval
    # regime that lands on this engine when the broadcast path is
    # unavailable) serializes onto P tasks. Split the batch into
    # cores//P groups and run them as CONCURRENT driver-thread jobs —
    # Spark interleaves their (block-wide) stages across the idle cores.
    # Per-query math is untouched: each query's kernel arithmetic is
    # independent of its batch-mates (the batch≡single tests pin this), so
    # the split is bitwise-neutral. Checkpointed runs stay single-run (one
    # run_id, one resume lineage — the durability contract).
    cores = spark.sparkContext.defaultParallelism
    # group fatness: the SpMV kernel is memory-bound on the graph stream,
    # so a group of 8 queries costs ~the same wall as 1 — and each group
    # pays ~5 chained-job latencies plus its share of the single-threaded
    # DAGScheduler event loop. Measured at sf0.1/local[32], 32 queries,
    # P=1: 32 groups 85.2s, 16 → 36.3s, 8 → 32.0s, 4 → 18.2s, 1 → 26.1s —
    # so split only down to ≥8 queries per group
    n_groups = min(
        len(qids),
        max(1, cores // bg.num_blocks),
        max(1, -(-len(qids) // _MIN_QUERIES_PER_GROUP)),
    )
    if _GROUP_OVERRIDE is not None:  # test/experiment hook
        n_groups = min(len(qids), _GROUP_OVERRIDE)
    if checkpoint_dir is None and n_groups > 1:
        groups = [list(g) for g in np.array_split(np.array(qids, dtype=object), n_groups)]
        from concurrent.futures import ThreadPoolExecutor

        old_sp = spark.conf.get("spark.sql.shuffle.partitions")
        old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
        # hoist the loop-scoped conf (see _ppr_blocked) above the threads:
        # each thread's own set/restore then writes the same values, so the
        # restore race between unequal-length groups is harmless
        spark.conf.set("spark.sql.shuffle.partitions", str(bg.num_blocks))
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            def run_group(g):
                holder: list = []
                rr = reset_rows.filter(F.col("query_id").isin(list(g)))
                packed, lin = _ppr_blocked(
                    spark, bg, rr, list(g), uniform_q & set(g), damping, tol,
                    max_iter, None, None, check_every, ck_holder=holder,
                )
                return _unpack_ranks(packed, bg.vstate, list(g)), lin, holder

            with ThreadPoolExecutor(max_workers=n_groups) as ex:
                results = list(ex.map(run_group, groups))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_sp)
            spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        ranks = results[0][0]
        for r, _, _ in results[1:]:
            ranks = ranks.unionByName(r)
        # ONE spill for the whole batch (all group checkpoint blocks are
        # still alive here), then release them
        ranks = spill_df(ranks, "hipporag_ranks_")
        for _, _, holder in results:
            for df in holder:
                free_local_checkpoint(df)
        lineage = _merge_group_lineages([lin for _, lin, _ in results])
        if graph is None:
            bg.unpersist()
        return ranks, lineage
    else:
        ranks_packed, lineage = _ppr_blocked(
            spark, bg, reset_rows, qids, uniform_q, damping, tol, max_iter,
            checkpoint_dir, run_id, check_every,
        )
        ranks = _unpack_ranks(ranks_packed, bg.vstate, qids)
    if graph is None:
        ranks = spill_df(ranks, "hipporag_ranks_")
        bg.unpersist()
    return ranks, lineage


def _merge_group_lineages(lineages: list[list[dict]]) -> list[dict]:
    """Merge per-group superstep lineages into one batch lineage.

    Entry i aggregates every group's superstep i; a group converged before
    i contributes its final (fixed-point) metrics, so the LAST merged entry
    always carries per-query partitions for the whole batch. wall_ms is the
    max across groups (they ran concurrently); delta is the max of the
    groups' deltas where reported.
    """
    length = max(len(lin) for lin in lineages)
    merged: list[dict] = []
    for i in range(length):
        parts: list = []
        deltas: list = []
        wall = 0.0
        for lin in lineages:
            e = lin[min(i, len(lin) - 1)]
            live = i < len(lin)
            if live or i == length - 1:
                # converged groups re-contribute their final partitions only
                # to the closing entry (their vectors are at fixed point)
                parts.extend(e["partitions"])
            if live:
                wall = max(wall, e["wall_ms"])
                if e["delta"] is not None:
                    deltas.append(e["delta"])
        merged.append(
            {
                "run_id": "batch-groups",
                "superstep": i,
                "delta": max(deltas) if deltas else None,
                "converged": (
                    all(lin[-1]["converged"] for lin in lineages)
                    if i == length - 1
                    else False
                ),
                "wall_ms": wall,
                "partitions": parts,
            }
        )
    return merged
