"""The benchmark's workloads: set-up, one closed-loop client, and the
correctness checks that run (untimed) in the same process.

Each workload is ``fn(ctx) -> None``; it records timed operations and check
outcomes on ``ctx`` (a :class:`perfbench.run.Run`).
"""

from __future__ import annotations

import re
import time

import numpy as np

N_FILES = 500  # corpus size (synth.repo_files ids 0..N_FILES-1)
SETUP_REPEATS = 3  # set-ups per run (serve: index builds, analytics: block compiles)
BATCH_SIZES = (1, 8)
DELETE_SAMPLE = 50  # chunks deleted per serve cycle
NUM_BLOCKS = 4  # analytics block count, a stated input property
RESET_ENTITIES = 5
LP_ROUNDS = 5
DAMPING = 0.5
TOL = 1e-6

_LIBS = ["libcore"] + [f"lib{i}" for i in range(47)]
_TEMPLATES = (
    "which modules import {lib}",
    "what does mod{m} define",
    "where is fn{m}v0 defined",
    "how is {lib} used by mod{m}",
    "which functions live next to fn{m}v1",
)


def make_query(rng) -> str:
    t = rng.choice(_TEMPLATES)
    return t.format(lib=rng.choice(_LIBS), m=rng.randrange(N_FILES))


# ---------------- set-up ----------------


def _repeat_setup(ctx, build, release):
    """Run ``build`` SETUP_REPEATS times, releasing each result but the
    last; setup_s is the median. With tracing on only the last build is
    traced, so the untraced build before it gives the tracing overhead."""
    out, times = None, []
    for i in range(SETUP_REPEATS):
        if out is not None:
            release(out)
        t0 = time.perf_counter()
        out = ctx.call(build, traced=i == SETUP_REPEATS - 1)
        times.append(time.perf_counter() - t0)
        ctx.sample_rss()
        ctx.log(f"set-up {i + 1}/{SETUP_REPEATS} {times[-1]:.2f}s")
    ctx.setup_times = times
    if ctx.trace:
        ctx.layer["trace.overhead_frac"] = (times[-1] - times[-2]) / times[-2]
    return out


def build_index(ctx):
    """Set-up for serve: index the corpus into a fresh engine."""
    from hipporag_spark.engine import LinkGraphEngine
    from hipporag_spark.synth import repo_files

    def build():
        eng = LinkGraphEngine(ctx.spark)
        eng.index(repo_files(ctx.spark, N_FILES))
        return eng

    eng = _repeat_setup(ctx, build, lambda e: e.state.unpersist())
    if ctx.trace:
        ctx.layer["engine.index.new_chunks"] = eng.state.extraction.count()
    ctx.inputs.update(files=N_FILES, vertices=eng.state.n_vertices, adj_rows=eng.state.n_edges)
    return eng


def _undirected(state) -> tuple[int, list]:
    """(n, [(u, v, w)]) — each symmetric adjacency pair once, as the
    oracles take it. Ids are dense 0..n-1 after a fresh build."""
    rows = state.adj.filter("src < dst").collect()
    return state.n_vertices, [(int(r["src"]), int(r["dst"]), float(r["weight"])) for r in rows]


# ---------------- serve ----------------


def _ranking_ok(rows, alive_chunks) -> bool:
    from hipporag_spark.retrieval.scoring import RETRIEVAL_TOP_K

    ranks = [r["rank"] for r in rows]
    ids = [r["chunk_id"] for r in rows]
    scores = [r["score"] for r in rows]
    return (
        0 < len(rows) <= RETRIEVAL_TOP_K
        and ranks == list(range(1, len(rows) + 1))
        and len(set(ids)) == len(ids)
        and set(ids) <= alive_chunks
        and all(a >= b for a, b in zip(scores, scores[1:]))
    )


def _by_query(rows) -> dict:
    out: dict = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append(r)
    return out


def _reference_ranking(ctx, eng, query, k):
    """The reset vector retrieve() builds for ``query``, via the public
    scoring functions, pushed through the NumPy oracle → passage top-k."""
    from oracles import ppr_reference

    from hipporag_spark.retrieval.embeddings import QUERY_TO_FACT, QUERY_TO_PASSAGE, embed_text
    from hipporag_spark.retrieval.scoring import (
        LINK_TOP_K, build_reset, passage_weights, phrase_weights, score_store, top_facts,
    )

    s = eng.state
    fact_q = [(query, embed_text(query, instruction=QUERY_TO_FACT).tolist())]
    dpr_q = [(query, embed_text(query, instruction=QUERY_TO_PASSAGE).tolist())]
    pw = phrase_weights(top_facts(score_store(s.fact_store, fact_q), LINK_TOP_K),
                        eng.fact_table(), s.chunk_counts, LINK_TOP_K)
    reset_rows = build_reset(pw, passage_weights(score_store(s.chunk_store, dpr_q)), s.verts).collect()
    n, edges = _undirected(s)
    reset = np.zeros(n)
    for r in reset_rows:
        reset[int(r["id"])] += max(float(r["weight"]), 0.0)
    t0 = time.perf_counter()
    ranks = ppr_reference(n, edges, reset, DAMPING, tol=TOL)
    ctx.layer["oracle.ppr_s"] = time.perf_counter() - t0
    passages = s.verts.filter("ntype = 'passage'").select("id", "name").collect()
    ref = {p["name"]: ranks[int(p["id"])] for p in passages}
    top = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return ref, [v for _, v in top]


def serve(ctx) -> None:
    """HippoRAG serving. Cycle: retrieve 1 query, retrieve 8 queries (the
    first query again among them), delete DELETE_SAMPLE chunks, retrieve 1
    query against the changed graph."""
    from pyspark.sql import functions as F

    from hipporag_spark.engine import LinkGraphEngine
    from hipporag_spark.synth import repo_files

    spark, rng = ctx.spark, ctx.rng
    eng = build_index(ctx)
    files, chunk_of = {}, {}
    for r in eng.state.extraction.select("chunk_id", "passage").collect():
        files[int(re.match(r"module mod(\d+)\n", r["passage"]).group(1))] = r["passage"]
        chunk_of[r["passage"]] = r["chunk_id"]
    alive = set(files)
    alive_chunks = {chunk_of[files[i]] for i in alive}
    ctx.timed("graph_coo", eng.graph_coo)
    ctx.inputs.update(batch_sizes=list(BATCH_SIZES), delete_sample=DELETE_SAMPLE)

    # warm-up call, checked against the oracle before any write
    q0 = make_query(rng)
    first = ctx.timed("first_retrieve", lambda: eng.retrieve([q0]).collect(), traced=False)
    ctx.check("ranking", _ranking_ok(first, alive_chunks))
    ref, ref_top = _reference_ranking(ctx, eng, q0, len(first))
    ctx.check("ppr_reference", bool(
        np.allclose([r["score"] for r in first], ref_top, atol=TOL)
        and np.allclose([r["score"] for r in first], [ref[r["chunk_id"]] for r in first], atol=TOL)
    ))

    n_queries, removed = 0, []
    t_loop = time.perf_counter()
    while ctx.more_cycles(t_loop):
        c0 = time.perf_counter()
        q1 = make_query(rng)
        batch = [q1] + [make_query(rng) for _ in range(BATCH_SIZES[1] - 1)]
        one = ctx.op("retrieve_1q", lambda: eng.retrieve([q1]).collect())
        many = ctx.op("retrieve_8q", lambda: eng.retrieve(batch).collect())
        by_q = _by_query(many)
        ctx.check("ranking", _ranking_ok(one, alive_chunks)
                  and all(_ranking_ok(v, alive_chunks) for v in by_q.values()))
        ctx.check("repeat_identical", [(r["chunk_id"], r["rank"]) for r in one]
                  == [(r["chunk_id"], r["rank"]) for r in by_q.get(q1, [])])
        doomed = rng.sample(sorted(alive), DELETE_SAMPLE)
        before = eng.state.n_vertices
        chunks_before = eng.state.extraction.count() if ctx.trace else 0
        ctx.op("delete", lambda: eng.delete([files[i] for i in doomed]))
        if ctx.trace:
            removed.append(chunks_before - eng.state.extraction.count())
        alive -= set(doomed)
        alive_chunks = {chunk_of[files[i]] for i in alive}
        ctx.check("delete_shrinks", eng.state.n_vertices < before)
        q2 = make_query(rng)
        after = ctx.op("retrieve_after_write", lambda: eng.retrieve([q2]).collect())
        ctx.check("ranking", _ranking_ok(after, alive_chunks))
        n_queries += 2 + len(batch)
        ctx.cycles.append(time.perf_counter() - c0)
    if ctx.trace:
        ctx.layer["engine.delete.removed_chunks"] = sum(removed) / len(removed)
    ctx.counts["queries"] = n_queries

    # the maintained graph equals a from-scratch index of the surviving files
    s = eng.state
    got = (s.n_vertices, s.n_edges, s.adj.agg(F.sum("weight")).collect()[0][0])
    fresh = LinkGraphEngine(spark)
    paths = [f"mod{i}.py" for i in sorted(alive)]
    fs = fresh.index(repo_files(spark, N_FILES).filter(
        F.regexp_extract("path", r"(mod\d+\.py)$", 1).isin(paths)))
    want = (fs.n_vertices, fs.n_edges, fs.adj.agg(F.sum("weight")).collect()[0][0])
    ctx.check("ingest_matches_rebuild", got[:2] == want[:2] and abs(got[2] - want[2]) < 1e-6)
    fresh.state.unpersist()


# ---------------- analytics ----------------


def analytics(ctx) -> None:
    """The BASELINE.json graph jobs on the multi-block shuffle path: blocked
    PPR, connected components, label propagation, triangle count, over a
    BlockGraph compiled with NUM_BLOCKS blocks. The traced run adds the
    durable (checkpointed) PPR."""
    import networkx as nx
    from oracles import cc_reference, lp_reference, ppr_reference

    from hipporag_spark.algo.components import connected_components
    from hipporag_spark.algo.labelprop import label_propagation
    from hipporag_spark.algo.ppr import personalized_pagerank
    from hipporag_spark.algo.triangles import triangle_count
    from hipporag_spark.engine import LinkGraphEngine
    from hipporag_spark.graph.blocked import compile_blocks
    from hipporag_spark.synth import repo_files

    spark, rng = ctx.spark, ctx.rng
    eng = LinkGraphEngine(spark)
    ctx.timed("index", lambda: eng.index(repo_files(spark, N_FILES)), traced=False)
    s = eng.state
    n = s.n_vertices
    vids = s.verts.select("id")
    ctx.inputs.update(files=N_FILES, vertices=n, adj_rows=s.n_edges)
    # the set-up repeated for setup_s is the BlockGraph compile
    bg = _repeat_setup(ctx, lambda: compile_blocks(s.adj, s.strength, vids, NUM_BLOCKS),
                       lambda g: g.unpersist())
    entities = sorted(int(r["id"]) for r in s.verts.filter("ntype = 'entity'").select("id").collect())
    seeds = rng.sample(entities, RESET_ENTITIES)
    reset_df = spark.createDataFrame([(i, 1.0) for i in seeds], "id long, weight double")
    ctx.inputs.update(num_blocks=bg.num_blocks, reset_entities=RESET_ENTITIES, lp_rounds=LP_ROUNDS)

    def ppr(ckpt):
        ranks, lineage = personalized_pagerank(
            spark, s.adj, s.strength, vids, n_vertices=n, reset_df=reset_df,
            damping=DAMPING, tol=TOL, graph=bg, checkpoint_dir=ckpt)
        return ranks.collect(), lineage

    results = None
    t_loop = time.perf_counter()
    while ctx.more_cycles(t_loop):
        c0 = time.perf_counter()
        ranks, lineage = ctx.op("ppr", lambda: ppr(None))
        comps = ctx.op("cc", lambda: connected_components(
            spark, s.adj, vids, num_blocks=NUM_BLOCKS)[0].collect())
        labels = ctx.op("lp", lambda: label_propagation(
            spark, s.adj, vids, max_iter=LP_ROUNDS, num_blocks=NUM_BLOCKS)[0].collect())
        tri = ctx.op("triangles", lambda: triangle_count(s.adj)[1])
        ctx.cycles.append(time.perf_counter() - c0)
        results = results or (ranks, lineage, comps, labels, tri)
    if ctx.trace:
        # the same PPR with and without a per-superstep checkpoint, both
        # after the loop's warm-up PPR, so the difference is the checkpoint
        ckpt = ctx.run_dir / "ckpt"
        durable, _ = ctx.timed("ppr_durable", lambda: ppr(str(ckpt)))
        ctx.timed("ppr_plain", lambda: ppr(None))
        plain = {r["id"]: r["value"] for r in results[0]}
        ctx.check("durable_ppr_matches", bool(np.allclose(
            [r["value"] for r in durable], [plain[r["id"]] for r in durable], atol=TOL)))
        ctx.layer["checkpointing.overhead_s"] = ctx.steps["ppr_durable"] - ctx.steps["ppr_plain"]
        ctx.layer["checkpointing.bytes_written"] = sum(
            f.stat().st_size for f in ckpt.rglob("*") if f.is_file())
    ranks, lineage, comps, labels, tri = results
    ctx.inputs["ppr_supersteps"] = len(lineage)

    n, edges = _undirected(s)
    reset = np.zeros(n)
    reset[seeds] = 1.0
    t0 = time.perf_counter()
    want = ppr_reference(n, edges, reset, DAMPING, tol=TOL)
    ctx.layer["oracle.ppr_s"] = time.perf_counter() - t0
    got = np.zeros(n)
    for r in ranks:
        got[int(r["id"])] = r["value"]
    ctx.check("ppr_reference", bool(np.allclose(got, want, atol=TOL)))
    cc = np.zeros(n, dtype=np.int64)
    for r in comps:
        cc[int(r["id"])] = r["component"]
    ctx.check("cc_reference", bool((cc == cc_reference(n, edges)).all()))
    lp = np.zeros(n, dtype=np.int64)
    for r in labels:
        lp[int(r["id"])] = r["label"]
    ctx.check("lp_reference", bool((lp == lp_reference(n, edges, max_iter=LP_ROUNDS)).all()))
    g = nx.Graph()
    g.add_edges_from((u, v) for u, v, _ in edges)
    ctx.check("triangles_networkx", tri == sum(nx.triangles(g).values()) // 3)


WORKLOADS = {"serve": serve, "analytics": analytics}

