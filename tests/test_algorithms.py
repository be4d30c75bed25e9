"""M2/M4 oracle tests: PPR vs reference spec (allclose 1e-6) + NetworkX;
CC/LP/TC exact. Runs the algorithms over both random multigraphs and the
KG built from the synthetic corpus."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from hipporag_spark.algo.components import connected_components
from hipporag_spark.algo.labelprop import label_propagation
from hipporag_spark.algo.ppr import personalized_pagerank
from hipporag_spark.algo.triangles import triangle_count
from hipporag_spark.extract import extract
from hipporag_spark.graph.build import adjacency, build_graph, strength

from oracles import cc_reference, lp_reference, ppr_reference, random_multigraph


def make_graph(spark, n, staged_edges):
    """staged directed (u,v,w) rows → (adj, strength, vertex_ids)."""
    e = spark.createDataFrame(staged_edges, "src long, dst long, weight double")
    adj = adjacency(e).persist()
    st = strength(adj).persist()
    vids = spark.range(n).select(F.col("id"))
    return adj, st, vids


def spark_ranks_to_np(ranks, n):
    out = np.zeros(n)
    for r in ranks.collect():
        out[r["id"]] = r["value"]
    return out


@pytest.mark.parametrize(
    "engine,num_blocks",
    # csr × num_blocks=1 exercises the fused single-block kernel
    [("csr", 4), ("csr", 1)],
)
def test_ppr_random_graph_vs_reference(spark, engine, num_blocks):
    n, m, seed = 60, 300, 7
    edges = random_multigraph(n, m, seed)
    adj, st, vids = make_graph(spark, n, edges)
    rng = np.random.default_rng(seed)
    reset = np.where(rng.random(n) < 0.1, rng.random(n), 0.0)
    reset_df = spark.createDataFrame(
        [(int(i), float(w)) for i, w in enumerate(reset) if w > 0], "id long, weight double"
    )
    ranks, lineage = personalized_pagerank(
        spark, adj, st, vids, n_vertices=n, reset_df=reset_df,
        damping=0.5, engine=engine, num_blocks=num_blocks,
    )
    got = spark_ranks_to_np(ranks, n)
    want = ppr_reference(n, edges, reset, 0.5)
    assert np.allclose(got, want, atol=1e-6)
    assert abs(got.sum() - 1.0) < 1e-6
    assert lineage[-1]["converged"]


def test_ppr_matches_algebraic_solve(spark):
    """Independent oracle: the exact fixed point via dense linear solve
    (the same algebraic route igraph's prpack takes, vs our power
    iteration) — r = (1-d)·reset + d·(Pᵀ + reset·1ᵈᵃⁿᵍᵀ)·r."""
    n, m, seed = 40, 160, 11
    edges = random_multigraph(n, m, seed)
    adj, st, vids = make_graph(spark, n, edges)
    reset = np.zeros(n)
    reset[3], reset[17] = 0.7, 0.3
    reset_df = spark.createDataFrame([(3, 0.7), (17, 0.3)], "id long, weight double")
    ranks, _ = personalized_pagerank(
        spark, adj, st, vids, n_vertices=n, reset_df=reset_df, damping=0.5, num_blocks=4,
        tol=1e-9,
    )
    got = spark_ranks_to_np(ranks, n)

    W = np.zeros((n, n))
    for u, v, w in edges:
        W[u, v] += w
        W[v, u] += w
    strength = W.sum(axis=1)
    P = np.zeros((n, n))
    nz = strength > 0
    P[nz] = W[nz] / strength[nz, None]
    r_norm = reset / reset.sum()
    d = 0.5
    # dangling rows teleport via reset: M = Pᵀ + r·e_dangᵀ
    M = P.T.copy()
    M[:, ~nz] += r_norm[:, None]
    want = np.linalg.solve(np.eye(n) - d * M, (1 - d) * r_norm)
    assert np.allclose(got, want, atol=1e-6)
    assert abs(want.sum() - 1.0) < 1e-9


def test_ppr_zero_reset_uniform_and_nan_sanitize(spark):
    n = 20
    edges = random_multigraph(n, 60, 3)
    adj, st, vids = make_graph(spark, n, edges)
    # all-zero reset → uniform (SimpleGraph.kt:139-140)
    zero = spark.createDataFrame([(0, 0.0)], "id long, weight double")
    ranks, _ = personalized_pagerank(spark, adj, st, vids, n_vertices=n, reset_df=zero, num_blocks=4)
    got = spark_ranks_to_np(ranks, n)
    want = ppr_reference(n, edges, np.zeros(n), 0.5)
    assert np.allclose(got, want, atol=1e-6)
    # NaN / negative entries → 0 (HippoRAG.py:1598)
    bad = spark.createDataFrame(
        [(1, float("nan")), (2, -5.0), (4, 2.0)], "id long, weight double"
    )
    ranks2, _ = personalized_pagerank(spark, adj, st, vids, n_vertices=n, reset_df=bad, num_blocks=4)
    got2 = spark_ranks_to_np(ranks2, n)
    clean = np.zeros(n)
    clean[4] = 2.0
    want2 = ppr_reference(n, edges, clean, 0.5)
    assert np.allclose(got2, want2, atol=1e-6)


def test_ppr_dangling_vertices(spark):
    # isolated vertices 8,9 (dangling); reset partly on a dangling vertex
    n = 10
    edges = [(0, 1, 1.0), (1, 2, 2.0), (2, 0, 1.0), (3, 4, 1.0), (5, 6, 1.0), (6, 7, 3.0)]
    adj, st, vids = make_graph(spark, n, edges)
    reset = np.zeros(n)
    reset[0], reset[8] = 0.5, 0.5
    reset_df = spark.createDataFrame([(0, 0.5), (8, 0.5)], "id long, weight double")
    ranks, _ = personalized_pagerank(spark, adj, st, vids, n_vertices=n, reset_df=reset_df, num_blocks=2)
    got = spark_ranks_to_np(ranks, n)
    want = ppr_reference(n, edges, reset, 0.5)
    assert np.allclose(got, want, atol=1e-6)


def test_ppr_on_synth_kg(spark, tiny_files):
    """End-to-end: corpus → graph → PPR, vs reference oracle."""
    ex = extract(tiny_files)
    verts, edges, adj = build_graph(ex)
    st = strength(adj)
    n = verts.count()
    vids = verts.select("id")
    # reset on the two lowest-id entity vertices (deterministic)
    ids = [r["id"] for r in verts.filter(F.col("ntype") == "entity").orderBy("id").limit(2).collect()]
    reset_df = spark.createDataFrame([(int(ids[0]), 0.8), (int(ids[1]), 0.2)], "id long, weight double")
    ranks, lineage = personalized_pagerank(spark, adj, st, vids, n_vertices=n, reset_df=reset_df, num_blocks=8)
    got = spark_ranks_to_np(ranks, n)

    und = [(r["src"], r["dst"], r["weight"]) for r in adj.filter(F.col("src") < F.col("dst")).collect()]
    reset = np.zeros(n)
    reset[ids[0]], reset[ids[1]] = 0.8, 0.2
    want = ppr_reference(n, und, reset, 0.5)
    assert np.allclose(got, want, atol=1e-6)
    # per-partition lineage recorded at every sync superstep (in-memory
    # runs chunk supersteps into one job; interior steps carry no metrics —
    # durable runs default to chunk=1, see test_checkpoint_resume)
    synced = [l for l in lineage if l["delta"] is not None]
    assert synced and all(len(l["partitions"]) >= 1 for l in synced)
    assert lineage[-1]["partitions"]


def test_connected_components_exact(spark):
    n = 50
    edges = random_multigraph(n, 55, 5)  # sparse → several components
    adj, st, vids = make_graph(spark, n, edges)
    comp, lineage = connected_components(spark, adj, vids, num_blocks=4)
    got = np.zeros(n, dtype=int)
    for r in comp.collect():
        got[r["id"]] = r["component"]
    want = cc_reference(n, edges)
    assert (got == want).all()
    assert lineage[-1]["converged"]


def test_connected_components_long_chain(spark):
    n = 64
    edges = [(i, i + 1, 1.0) for i in range(n - 1)]
    adj, st, vids = make_graph(spark, n, edges)
    comp, lineage = connected_components(spark, adj, vids, num_blocks=4)
    assert {r["component"] for r in comp.collect()} == {0}
    # pointer jumping must beat O(n) rounds
    assert len(lineage) < 20


def test_label_propagation_matches_pinned_semantics(spark):
    n = 30
    edges = random_multigraph(n, 90, 13)
    adj, st, vids = make_graph(spark, n, edges)
    labels, _ = label_propagation(spark, adj, vids, max_iter=10, num_blocks=4)
    got = np.zeros(n, dtype=int)
    for r in labels.collect():
        got[r["id"]] = r["label"]
    # oracle consumes the symmetric summed adjacency
    und = {}
    for u, v, w in edges:
        k = (min(u, v), max(u, v))
        und[k] = und.get(k, 0.0) + w
    want = lp_reference(n, [(u, v, w) for (u, v), w in und.items()], max_iter=10)
    assert (got == want).all()


def test_triangle_count_exact(spark):
    nx = pytest.importorskip("networkx")
    n = 40
    edges = random_multigraph(n, 200, 17)
    adj, st, vids = make_graph(spark, n, edges)
    per_vertex, total = triangle_count(adj)
    G = nx.Graph()
    G.add_nodes_from(range(n))
    for u, v, _ in edges:
        G.add_edge(u, v)
    want = nx.triangles(G)
    got = {r["id"]: r["triangles"] for r in per_vertex.collect()}
    for i in range(n):
        assert got.get(i, 0) == want[i]
    assert total == sum(want.values()) // 3


def test_blocked_ppr_restores_shuffle_partitions(spark):
    """The blocked engine scopes spark.sql.shuffle.partitions to the block
    count for its superstep loop; the session setting must be restored
    after the run (and the result still match the oracle)."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    before_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    n, m, seed = 30, 120, 23
    edges = random_multigraph(n, m, seed)
    adj, st, vids = make_graph(spark, n, edges)
    reset = np.zeros(n)
    reset[1] = 1.0
    reset_df = spark.createDataFrame([(1, 1.0)], "id long, weight double")
    ranks, _ = personalized_pagerank(
        spark, adj, st, vids, n_vertices=n, reset_df=reset_df,
        damping=0.5, engine="csr", num_blocks=3,
    )
    got = spark_ranks_to_np(ranks, n)
    assert np.allclose(got, ppr_reference(n, edges, reset, 0.5), atol=1e-6)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert spark.conf.get("spark.sql.adaptive.enabled") == before_aqe


def test_blocked_ppr_fused_interior_steps_bitwise(spark):
    """A chunk of C supersteps runs its C-1 interior steps as
    combine-then-SpMV stages; check_every=1 runs none. Over a fixed number
    of supersteps (tol=0) both must give bit-identical ranks, and the
    converged run still meets the oracle."""
    n, m, seed = 60, 300, 5
    edges = random_multigraph(n, m, seed)
    adj, st, vids = make_graph(spark, n, edges)
    reset = np.zeros(n)
    reset[2], reset[41] = 0.6, 0.4
    reset_df = spark.createDataFrame([(2, 0.6), (41, 0.4)], "id long, weight double")

    def run(**kw):
        ranks, lineage = personalized_pagerank(
            spark, adj, st, vids, n_vertices=n, reset_df=reset_df,
            damping=0.5, engine="csr", num_blocks=4, **kw,
        )
        return spark_ranks_to_np(ranks, n), lineage

    step1, lin1 = run(tol=0.0, max_iter=8, check_every=1)
    chunked, lin4 = run(tol=0.0, max_iter=8, check_every=4)
    assert len(lin1) == len(lin4) == 8 and not lin4[-1]["converged"]
    assert np.array_equal(chunked, step1)
    got, lineage = run(tol=1e-6)
    assert lineage[-1]["converged"]
    assert np.allclose(got, ppr_reference(n, edges, reset, 0.5), atol=1e-6)


def test_triangle_count_keeps_only_its_result_cached(spark):
    """Repeated triangle_count calls must leave no persisted RDD behind
    beyond the returned frame's own (each call used to leave its cached
    closed-wedge table)."""
    from hipporag_spark.lifecycle import free_local_checkpoint

    edges = random_multigraph(40, 200, 17)
    adj, _, _ = make_graph(spark, 40, edges)
    jsc = spark.sparkContext._jsc
    per_vertex, want = triangle_count(adj)  # also fills adj's own cache
    rows = sorted(per_vertex.collect())
    free_local_checkpoint(per_vertex)
    base = jsc.getPersistentRDDs().size()
    for _ in range(2):
        per_vertex, total = triangle_count(adj)
        assert total == want
        assert jsc.getPersistentRDDs().size() <= base + 1
        assert sorted(per_vertex.collect()) == rows
        free_local_checkpoint(per_vertex)
        # <=, not ==: the session's cleaner may free older tests' RDDs
        assert jsc.getPersistentRDDs().size() <= base


def test_kcore_matches_networkx(spark):
    nx = pytest.importorskip("networkx")
    from hipporag_spark.algo.kcore import k_core

    n = 40
    edges = random_multigraph(n, 160, 29)
    adj, st, vids = make_graph(spark, n, edges)
    G = nx.Graph()
    G.add_nodes_from(range(n))
    for u, v, _ in edges:
        G.add_edge(u, v)
    for k in (2, 3, 5):
        core, lineage = k_core(spark, adj, vids, k=k, num_blocks=4)
        got = {r["id"]: r["core_degree"] for r in core.collect()}
        want = nx.k_core(G, k)
        assert set(got) == set(want.nodes)
        for node in want.nodes:
            assert got[node] == want.degree(node)
        assert lineage[-1]["converged"]


def test_kcore_chain_cascade(spark):
    """Path graph, k=2: every round peels the two endpoints — the peel
    cascade runs ~n/2 rounds and ends empty (exercises multi-round
    convergence, unlike dense fixtures that peel in one round)."""
    from hipporag_spark.algo.kcore import k_core

    n = 10
    edges = [(i, i + 1, 1.0) for i in range(n - 1)]
    adj, st, vids = make_graph(spark, n, edges)
    core, lineage = k_core(spark, adj, vids, k=2, num_blocks=2)
    assert core.count() == 0
    peels = [e for e in lineage if e["removed"] > 0]
    assert len(peels) == 5  # endpoints shed pairwise: 10 → 8 → ... → 0
    assert lineage[-1]["converged"]


def test_kcore_triangle_with_tail(spark):
    """Triangle + pendant tail, k=2: tail peels over two rounds, the
    triangle survives with in-core degree 2 each."""
    from hipporag_spark.algo.kcore import k_core

    edges = [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0), (2, 3, 1.0), (3, 4, 1.0)]
    adj, st, vids = make_graph(spark, 5, edges)
    core, _ = k_core(spark, adj, vids, k=2, num_blocks=2)
    got = {r["id"]: r["core_degree"] for r in core.collect()}
    assert got == {0: 2, 1: 2, 2: 2}


def test_sssp_matches_networkx_weighted(spark):
    nx = pytest.importorskip("networkx")
    from hipporag_spark.algo.sssp import shortest_paths

    n = 30
    edges = random_multigraph(n, 120, 31)
    # deterministic positive weights derived from endpoints
    edges = [(u, v, 1.0 + ((u * 7 + v * 3) % 5)) for u, v, _ in edges]
    adj, st, vids = make_graph(spark, n, edges)
    G = nx.Graph()
    G.add_nodes_from(range(n))
    for u, v, w in edges:
        # adjacency() sums parallel edges per direction pair; mirror that
        if G.has_edge(u, v):
            G[u][v]["weight"] += w
        else:
            G.add_edge(u, v, weight=w)
    src = spark.createDataFrame([(0,), (7,)], "id long")
    dist, lineage = shortest_paths(spark, adj, src, num_blocks=4)
    got = {r["id"]: r["dist"] for r in dist.collect()}
    want = {}
    for node, d in nx.multi_source_dijkstra_path_length(G, {0, 7}, weight="weight").items():
        want[node] = d
    assert set(got) == set(want)  # reached set identical (sparse state)
    for node, d in want.items():
        assert abs(got[node] - d) < 1e-9
    assert lineage[-1]["converged"]


def test_sssp_hop_distance_and_unreachable(spark):
    from hipporag_spark.algo.sssp import shortest_paths

    # two components: a path 0-1-2-3 and an isolated pair 4-5
    edges = [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0), (4, 5, 1.0)]
    adj, st, vids = make_graph(spark, 6, edges)
    src = spark.createDataFrame([(0,)], "id long")
    dist, lineage = shortest_paths(spark, adj, src, num_blocks=2)
    got = {r["id"]: r["dist"] for r in dist.collect()}
    assert got == {0: 0.0, 1: 1.0, 2: 2.0, 3: 3.0}  # 4,5 never materialize
    # path graph: the frontier advances one hop per superstep (one new
    # vertex each round), then one no-change round to prove convergence
    assert [e["changed"] for e in lineage] == [1, 1, 1, 0]


def test_link_prediction_matches_networkx(spark):
    nx = pytest.importorskip("networkx")
    from hipporag_spark.algo.linkpred import link_prediction_scores

    n = 25
    edges = random_multigraph(n, 90, 17)
    adj, st, vids = make_graph(spark, n, edges)
    G = nx.Graph()
    G.add_nodes_from(range(n))
    G.add_edges_from((u, v) for u, v, _ in edges)

    out = link_prediction_scores(adj).collect()
    got = {(r["u"], r["v"]): r for r in out}

    # NetworkX defaults score ALL non-edges; ours emits only cn >= 1
    nonedges = [(u, v) for u, v in nx.non_edges(G) if u < v]
    want_cn = {
        (u, v): len(list(nx.common_neighbors(G, u, v))) for u, v in nonedges
    }
    want_jac = {(u, v): p for u, v, p in nx.jaccard_coefficient(G, nonedges)}
    want_aa = {(u, v): p for u, v, p in nx.adamic_adar_index(G, nonedges)}
    want_pa = {(u, v): p for u, v, p in nx.preferential_attachment(G, nonedges)}

    expect_pairs = {p for p, c in want_cn.items() if c >= 1}
    assert set(got) == expect_pairs
    for p in expect_pairs:
        r = got[p]
        assert r["common_neighbors"] == want_cn[p]
        assert abs(r["jaccard"] - want_jac[p]) < 1e-9
        assert abs(r["adamic_adar"] - want_aa[p]) < 1e-9
        assert r["preferential_attachment"] == want_pa[p]


def test_link_prediction_topk_and_hub_cap(spark):
    from hipporag_spark.algo.linkpred import link_prediction_scores

    # star center 0 with leaves 1..5, plus an edge 1-2: every leaf pair
    # shares hub 0; only (1,2) also... (1,2) is an EDGE so it's excluded.
    edges = [(0, i, 1.0) for i in range(1, 6)] + [(1, 2, 1.0)]
    adj, st, vids = make_graph(spark, 6, edges)

    full = link_prediction_scores(adj).collect()
    # non-adjacent leaf pairs: C(5,2)=10 minus the (1,2) edge = 9
    assert len(full) == 9
    by_pair = {(r["u"], r["v"]): r for r in full}
    assert all(r["common_neighbors"] == 1 for r in full)
    # capping out the hub (deg 5) removes every wedge -> empty result
    capped = link_prediction_scores(adj, max_center_degree=4).collect()
    assert capped == []

    # top_k per u: vertex 3 pairs with 1,2,4,5 (all cn=1) -> keep 2 smallest v
    topk = link_prediction_scores(adj, top_k=2).collect()
    v3 = sorted(r["v"] for r in topk if r["u"] == 3)
    assert v3 == [4, 5]
    u3 = sorted(r["u"] for r in topk if r["v"] == 3)  # 3 as the v-side still appears
    assert u3 == [1, 2]


def _hits_reference(n, edges, rounds):
    """NumPy mirror of algo/hits semantics: directed weighted adjacency
    (parallel edges summed), L1-normalized after each half-update."""
    A = np.zeros((n, n))
    for u, v, w in edges:
        A[u, v] += w
    h = np.full(n, 1.0 / n)
    a = np.full(n, 1.0 / n)
    for _ in range(rounds):
        a = A.T @ h
        if a.sum() > 0:
            a = a / a.sum()
        h = A @ a
        if h.sum() > 0:
            h = h / h.sum()
    return a, h


def test_hits_fixed_rounds_matches_numpy(spark):
    from hipporag_spark.algo.hits import hits

    n = 40
    edges = random_multigraph(n, 200, 23)
    e = spark.createDataFrame(edges, "src long, dst long, weight double")
    vids = spark.range(n).select(F.col("id"))
    scores, lineage = hits(spark, e, vids, max_iter=12, tol=0.0, num_blocks=4)
    got = {r["id"]: (r["authority"], r["hub"]) for r in scores.collect()}
    a, h = _hits_reference(n, edges, 12)
    assert len(lineage) == 12 and not lineage[-1]["converged"]
    for i in range(n):
        assert abs(got[i][0] - a[i]) < 1e-9
        assert abs(got[i][1] - h[i]) < 1e-9


def test_hits_converged_matches_fixed_point(spark):
    """At convergence the scores are the principal eigenvectors of AᵀA /
    AAᵀ — compare against a long-run NumPy power iteration (networkx's
    hits needs scipy, absent here; the NumPy mirror is the same math)."""
    from hipporag_spark.algo.hits import hits

    n = 30
    edges = random_multigraph(n, 150, 29)
    e = spark.createDataFrame(edges, "src long, dst long, weight double")
    vids = spark.range(n).select(F.col("id"))
    scores, lineage = hits(spark, e, vids, max_iter=150, tol=1e-10, num_blocks=4)
    assert lineage[-1]["converged"]
    got = {r["id"]: (r["authority"], r["hub"]) for r in scores.collect()}

    want_a, want_h = _hits_reference(n, edges, 3000)
    for i in range(n):
        assert abs(got[i][0] - want_a[i]) < 1e-7
        assert abs(got[i][1] - want_h[i]) < 1e-7


def test_hits_superstep_wall_stays_flat(spark):
    """Regression pin for the Catalyst sizeInBytes BigInt blowup: a
    crossJoin-based normalization compounds the cross-product size
    estimate through each localCheckpoint's LogicalRDD stats, doubling
    the estimate's DIGIT COUNT per superstep — planning went 1s/step at
    step 15 to 94s at step 19, jstack pinned in
    BigInteger.multiplyToomCook3. The literal-norm formulation must keep
    per-step wall flat through 25 rounds."""
    from hipporag_spark.algo.hits import hits

    n = 20
    edges = random_multigraph(n, 80, 41)
    e = spark.createDataFrame(edges, "src long, dst long, weight double")
    vids = spark.range(n).select(F.col("id"))
    scores, lineage = hits(spark, e, vids, max_iter=25, tol=0.0, num_blocks=2)
    scores.count()
    walls = [l["wall_ms"] for l in lineage]
    assert len(walls) == 25
    import statistics
    baseline = statistics.median(walls[2:10])
    # the bug shows >60x blowup by step 19; allow 10x for host noise
    assert max(walls[-5:]) < 10 * baseline, walls


def test_ppr_forward_push_approaches_exact(spark):
    """ACL invariant: at convergence |pi - estimate| <= ||residual||_1 <
    eps * touched; with tiny eps the push result matches the exact PPR
    reference. Also pins mass conservation (p + r sums to 1)."""
    from hipporag_spark.algo.ppr_push import ppr_forward_push

    n = 30
    edges = random_multigraph(n, 150, 37)
    adj, st, vids = make_graph(spark, n, edges)
    reset = np.zeros(n)
    reset[2], reset[11] = 0.6, 0.4
    reset_df = spark.createDataFrame([(2, 0.6), (11, 0.4)], "id long, weight double")
    scores, lineage = ppr_forward_push(
        spark, adj, st, reset_df, damping=0.5, eps=1e-7, num_blocks=4
    )
    rows = scores.collect()
    got = np.zeros(n)
    res = 0.0
    for r in rows:
        got[r["id"]] = r["estimate"]
        res += r["residual"]
    assert lineage[-1]["converged"]
    want = ppr_reference(n, edges, reset, 0.5)
    assert np.allclose(got, want, atol=n * 1e-7)
    assert abs(got.sum() + res - 1.0) < 1e-9  # invariant mass


def test_ppr_forward_push_stays_local(spark):
    """The state never touches a component the walk cannot reach."""
    from hipporag_spark.algo.ppr_push import ppr_forward_push

    # component A: 0-1-2 triangle; component B: 3-4 pair
    edges = [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0), (3, 4, 1.0)]
    adj, st, vids = make_graph(spark, 5, edges)
    reset_df = spark.createDataFrame([(0, 1.0)], "id long, weight double")
    scores, lineage = ppr_forward_push(
        spark, adj, st, reset_df, damping=0.5, eps=1e-9, num_blocks=2
    )
    ids = {r["id"] for r in scores.collect()}
    assert ids == {0, 1, 2}
    assert lineage[-1]["converged"]


def test_ppr_forward_push_dangling_seed(spark):
    """An isolated seed's pushed mass teleports to the reset distribution
    (re-injected as a literal next superstep) — matches the exact
    reference, which teleports dangling mass to reset."""
    from hipporag_spark.algo.ppr_push import ppr_forward_push

    n = 6
    edges = [(0, 1, 1.0), (1, 2, 2.0), (2, 0, 1.0)]  # 3,4,5 isolated
    adj, st, vids = make_graph(spark, n, edges)
    reset = np.zeros(n)
    reset[0], reset[4] = 0.5, 0.5  # half the seed mass on an isolated vertex
    reset_df = spark.createDataFrame([(0, 0.5), (4, 0.5)], "id long, weight double")
    scores, lineage = ppr_forward_push(
        spark, adj, st, reset_df, damping=0.5, eps=1e-9, num_blocks=2
    )
    got = np.zeros(n)
    for r in scores.collect():
        got[r["id"]] = r["estimate"]
    assert lineage[-1]["converged"]
    want = ppr_reference(n, edges, reset, 0.5)
    assert np.allclose(got, want, atol=n * 1e-8)


def test_ppr_push_localized_matches_exact(spark):
    """The local-CSR-kernel push reaches the same fixed point as exact
    PPR within the ACL bound, conserves mass, and needs far fewer outer
    rounds than the distributed loop needs supersteps."""
    from hipporag_spark.algo.ppr_push import ppr_push_localized

    n = 30
    edges = random_multigraph(n, 150, 37)
    adj, st, vids = make_graph(spark, n, edges)
    reset = np.zeros(n)
    reset[2], reset[11] = 0.6, 0.4
    reset_df = spark.createDataFrame([(2, 0.6), (11, 0.4)], "id long, weight double")
    scores, lineage = ppr_push_localized(
        spark, adj, st, reset_df, damping=0.5, eps=1e-7
    )
    got = np.zeros(n)
    res = 0.0
    for r in scores.collect():
        got[r["id"]] = r["estimate"]
        res += r["residual"]
    assert lineage[-1]["converged"]
    # prefetch shells compress the push radius into a handful of rounds
    assert len(lineage) <= 4
    want = ppr_reference(n, edges, reset, 0.5)
    assert np.allclose(got, want, atol=n * 1e-7)
    assert abs(got.sum() + res - 1.0) < 1e-9


def test_ppr_push_localized_stays_local_and_deterministic(spark):
    from hipporag_spark.algo.ppr_push import ppr_push_localized

    edges = [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0), (3, 4, 1.0)]
    adj, st, vids = make_graph(spark, 5, edges)
    reset_df = spark.createDataFrame([(0, 1.0)], "id long, weight double")
    a, _ = ppr_push_localized(spark, adj, st, reset_df, damping=0.5, eps=1e-9)
    b, _ = ppr_push_localized(spark, adj, st, reset_df, damping=0.5, eps=1e-9)
    rows_a = sorted((r["id"], r["estimate"]) for r in a.collect())
    rows_b = sorted((r["id"], r["estimate"]) for r in b.collect())
    assert {i for i, _ in rows_a} == {0, 1, 2}
    assert rows_a == rows_b  # bit-identical across runs


def test_ppr_push_localized_dangling_seed(spark):
    from hipporag_spark.algo.ppr_push import ppr_push_localized

    n = 6
    edges = [(0, 1, 1.0), (1, 2, 2.0), (2, 0, 1.0)]  # 3,4,5 isolated
    adj, st, vids = make_graph(spark, n, edges)
    reset = np.zeros(n)
    reset[0], reset[4] = 0.5, 0.5
    reset_df = spark.createDataFrame([(0, 0.5), (4, 0.5)], "id long, weight double")
    scores, lineage = ppr_push_localized(
        spark, adj, st, reset_df, damping=0.5, eps=1e-9
    )
    got = np.zeros(n)
    for r in scores.collect():
        got[r["id"]] = r["estimate"]
    assert lineage[-1]["converged"]
    want = ppr_reference(n, edges, reset, 0.5)
    assert np.allclose(got, want, atol=n * 1e-8)


def test_ppr_push_localized_falls_back_when_oversized(spark):
    """max_local_edges exceeded → the run delegates to the distributed
    superstep loop and still returns the right answer."""
    from hipporag_spark.algo.ppr_push import ppr_push_localized

    n = 30
    edges = random_multigraph(n, 150, 37)
    adj, st, vids = make_graph(spark, n, edges)
    reset = np.zeros(n)
    reset[2], reset[11] = 0.6, 0.4
    reset_df = spark.createDataFrame([(2, 0.6), (11, 0.4)], "id long, weight double")
    scores, lineage = ppr_push_localized(
        spark, adj, st, reset_df, damping=0.5, eps=1e-7, max_local_edges=10
    )
    assert any(l.get("fallback") == "distributed" for l in lineage)
    got = np.zeros(n)
    for r in scores.collect():
        got[r["id"]] = r["estimate"]
    want = ppr_reference(n, edges, reset, 0.5)
    assert np.allclose(got, want, atol=n * 1e-7)


def test_scc_matches_networkx(spark):
    nx = pytest.importorskip("networkx")
    from hipporag_spark.algo.scc import strongly_connected_components

    n = 40
    rng = np.random.default_rng(43)
    edges = [(int(rng.integers(0, n)), int(rng.integers(0, n)), 1.0) for _ in range(90)]
    edges = [(u, v, w) for u, v, w in edges if u != v]
    e = spark.createDataFrame(edges, "src long, dst long, weight double")
    vids = spark.range(n).select(F.col("id"))
    comp, lineage = strongly_connected_components(spark, e, vids, num_blocks=4)
    got = {r["id"]: r["component"] for r in comp.collect()}
    assert set(got) == set(range(n))

    G = nx.MultiDiGraph()
    G.add_nodes_from(range(n))
    G.add_edges_from((u, v) for u, v, _ in edges)
    for scc in nx.strongly_connected_components(G):
        root = min(scc)
        for v in scc:
            assert got[v] == root, (v, scc, got[v])
    assert lineage[-1]["converged"]


def test_scc_dag_and_cycles(spark):
    """A DAG of singletons resolves in ONE outer round; a cycle chained to
    a DAG tail separates correctly."""
    from hipporag_spark.algo.scc import strongly_connected_components

    # cycle {0,1,2}, path 2->3->4, back-edge 4->3 makes {3,4} a cycle,
    # 4->5 tail singleton; 6 isolated
    edges = [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0), (2, 3, 1.0),
             (3, 4, 1.0), (4, 3, 1.0), (4, 5, 1.0)]
    e = spark.createDataFrame(edges, "src long, dst long, weight double")
    vids = spark.range(7).select(F.col("id"))
    comp, lineage = strongly_connected_components(spark, e, vids, num_blocks=2)
    got = {r["id"]: r["component"] for r in comp.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5, 6: 6}
    outers = {l["outer"] for l in lineage}
    assert lineage[-1]["converged"]
    # round 0: trim removes the tail 5 and isolated 6, coloring roots at 0,
    # backward extracts SCC {0,1,2}; round 1: {3,4} becomes its own root
    assert outers == {0, 1}, outers
    trims = [l for l in lineage if l["phase"] == "trim" and l["changed"] < 0]
    assert trims and trims[0]["changed"] == -2  # 5 and 6 trimmed together


def test_scc_refuses_partial_emission(spark):
    """ADVICE r3: exhausting an inner/outer budget mid-propagation must
    raise, never emit a truncated SCC under multiple component ids."""
    from hipporag_spark.algo.scc import (
        SCCNonConvergenceError,
        strongly_connected_components,
    )

    # one big directed 24-cycle: forward coloring with pointer jumping
    # needs ~log2(24) rounds, so max_inner=2 cannot reach its fixpoint
    n = 24
    edges = [(i, (i + 1) % n, 1.0) for i in range(n)]
    e = spark.createDataFrame(edges, "src long, dst long, weight double")
    vids = spark.range(n).select(F.col("id"))
    with pytest.raises(SCCNonConvergenceError):
        strongly_connected_components(spark, e, vids, num_blocks=2, max_inner=2)

    # sane budgets solve it: one SCC rooted at 0
    comp, lineage = strongly_connected_components(spark, e, vids, num_blocks=2)
    assert {(r["id"], r["component"]) for r in comp.collect()} == {
        (i, 0) for i in range(n)
    }
    assert lineage[-1]["converged"]
    # forward jumps shortcut here (ids align with propagation); backward
    # degenerates to O(diameter) on this orientation — documented worst
    # case, bounded and loud, never silently partial
    fwd_rounds = len([l for l in lineage if l["phase"] == "forward"])
    bwd_rounds = len([l for l in lineage if l["phase"] == "backward"])
    assert fwd_rounds <= 10 and bwd_rounds <= n + 2, (fwd_rounds, bwd_rounds)


def test_sssp_duplicate_sources_dedup(spark):
    """ADVICE r3: duplicate ids in `sources` must not yield duplicate
    (id, dist) rows."""
    from hipporag_spark.algo.sssp import shortest_paths

    e = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0)], "src long, dst long, weight double"
    )
    src = spark.createDataFrame([(0,), (0,), (0,)], "id long")
    dist, _ = shortest_paths(spark, e, src, num_blocks=2)
    rows = sorted((r["id"], r["dist"]) for r in dist.collect())
    assert rows == [(0, 0.0), (1, 1.0), (2, 2.0)]


def _katz_reference(n, edges, alpha, beta, rounds):
    """NumPy mirror of algo/katz semantics: x ← β + α·Aᵀx, x₀ = β,
    directed weighted adjacency with parallel edges summed."""
    A = np.zeros((n, n))
    for u, v, w in edges:
        A[u, v] += w
    x = np.full(n, beta)
    for _ in range(rounds):
        x = beta + alpha * (A.T @ x)
    return x


def test_katz_fixed_rounds_matches_numpy(spark):
    from hipporag_spark.algo.katz import katz_centrality

    n = 40
    edges = random_multigraph(n, 200, 31)
    e = spark.createDataFrame(edges, "src long, dst long, weight double")
    vids = spark.range(n).select(F.col("id"))
    scores, lineage = katz_centrality(
        spark, e, vids, alpha=0.01, beta=1.0, max_iter=12, tol=0.0, num_blocks=4
    )
    got = {r["id"]: r["katz"] for r in scores.collect()}
    want = _katz_reference(n, edges, 0.01, 1.0, 12)
    assert len(lineage) == 12 and not lineage[-1]["converged"]
    for i in range(n):
        assert abs(got[i] - want[i]) < 1e-9


def test_katz_converged_matches_linear_solve(spark):
    """At convergence x = β·(I − αAᵀ)⁻¹·1 — compare to the direct dense
    solve (requires α < 1/λ_max, ensured by α = 0.5/max-in-strength)."""
    from hipporag_spark.algo.katz import katz_centrality

    n = 30
    edges = random_multigraph(n, 150, 37)
    A = np.zeros((n, n))
    for u, v, w in edges:
        A[u, v] += w
    alpha = 0.5 / A.sum(axis=0).max()
    e = spark.createDataFrame(edges, "src long, dst long, weight double")
    vids = spark.range(n).select(F.col("id"))
    scores, lineage = katz_centrality(
        spark, e, vids, alpha=alpha, beta=1.0, max_iter=200, tol=1e-12, num_blocks=4
    )
    assert lineage[-1]["converged"]
    want = np.linalg.solve(np.eye(n) - alpha * A.T, np.full(n, 1.0))
    got = {r["id"]: r["katz"] for r in scores.collect()}
    for i in range(n):
        assert abs(got[i] - want[i]) < 1e-8


def test_katz_isolated_vertex_scores_beta(spark):
    from hipporag_spark.algo.katz import katz_centrality

    e = spark.createDataFrame([(0, 1, 2.0)], "src long, dst long, weight double")
    vids = spark.range(3).select(F.col("id"))
    scores, _ = katz_centrality(
        spark, e, vids, alpha=0.1, beta=1.0, max_iter=50, tol=1e-12, num_blocks=2
    )
    got = {r["id"]: r["katz"] for r in scores.collect()}
    assert got[2] == 1.0          # no in-edges at all
    assert abs(got[1] - 1.2) < 1e-12  # 1 + 0.1·2.0·x(0), x(0)=1
    assert got[0] == 1.0


def test_random_walks_deterministic_and_valid(spark):
    """Walk corpus invariants: (a) identical output at different
    parallelism, (b) every consecutive hop is a real edge, (c) steps are
    contiguous from 0, (d) walk count = seeds × replicas, (e) replicas of
    one seed diverge (salted hash), (f) md5 and xxhash64 modes both yield
    valid (generally different) corpora."""
    from hipporag_spark.algo.walks import random_walks

    n = 25
    edges = random_multigraph(n, 120, 41)
    e = spark.createDataFrame(edges, "src long, dst long, weight double")
    seeds = spark.createDataFrame([(i,) for i in range(6)], "vertex long")
    edge_set = {(str(u), str(v)) for u, v, _ in edges}

    corpora = {}
    for fn in ("md5", "xxhash64"):
        w = random_walks(e, seeds, length=5, walks_per_seed=2, hash_fn=fn)
        rows = sorted((r["walk_id"], r["step"], r["vertex"]) for r in w.collect())
        corpora[fn] = rows

        by_walk = {}
        for wid, step, v in rows:
            by_walk.setdefault(wid, []).append((step, v))
        assert len(by_walk) == 12  # 6 seeds × 2 replicas
        for wid, path in by_walk.items():
            path.sort()
            assert [s for s, _ in path] == list(range(len(path)))  # contiguous
            for (s1, v1), (_s2, v2) in zip(path, path[1:]):
                assert (v1, v2) in edge_set, (wid, s1, v1, v2)

        # replicas of at least one seed must diverge
        p0 = {wid: tuple(v for _, v in sorted(p)) for wid, p in by_walk.items()}
        assert any(
            p0[f"{s}#0"] != p0[f"{s}#1"] for s in map(str, range(6))
        )

    # repartitioned input ⇒ identical corpus (determinism at any parallelism)
    w2 = random_walks(e.repartition(7), seeds.coalesce(1), length=5,
                      walks_per_seed=2, hash_fn="md5")
    rows2 = sorted((r["walk_id"], r["step"], r["vertex"]) for r in w2.collect())
    assert rows2 == corpora["md5"]
    assert corpora["md5"] != corpora["xxhash64"]  # different draw sequences


def test_random_walks_weighted_slot_draw(spark):
    """weighted=True: next hops replay the slot-expanded md5 draw exactly
    (Python mirror), frequencies respect the 3:1 weights, and
    non-integral weights raise."""
    import hashlib

    from hipporag_spark.algo.walks import random_walks

    e = spark.createDataFrame(
        [(0, 1, 3.0), (0, 2, 1.0)], "src long, dst long, weight double"
    )
    seeds = spark.createDataFrame([(0,)], "vertex long")
    out = random_walks(
        e, seeds, length=1, walks_per_seed=40, hash_fn="md5", weighted=True
    )
    got = {
        r["walk_id"]: r["vertex"]
        for r in out.filter(F.col("step") == 1).collect()
    }
    counts = {"1": 0, "2": 0}
    for rep in range(40):
        wid = f"0#{rep}"
        slot = int(hashlib.md5(f"{wid}:1".encode()).hexdigest()[:8], 16) % 4
        want = "1" if slot < 3 else "2"  # dst order: slots 0-2 -> 1, 3 -> 2
        assert got[wid] == want, (wid, slot, got[wid])
        counts[want] += 1
    # the 3:1 weighting shows in the draw distribution
    assert counts["1"] > counts["2"] > 0
    with pytest.raises(ValueError, match="integral"):
        random_walks(
            spark.createDataFrame(
                [(0, 1, 0.5)], "src long, dst long, weight double"
            ),
            seeds, length=1, weighted=True,
        )


def test_random_walks_dangling_truncates(spark):
    from hipporag_spark.algo.walks import random_walks

    # 0 → 1 → 2, and 2 is dangling: every walk is exactly 0,1,2 then stops
    e = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0)], "src long, dst long, weight double"
    )
    seeds = spark.createDataFrame([(0,)], "vertex long")
    w = random_walks(e, seeds, length=10, walks_per_seed=1, hash_fn="xxhash64")
    rows = sorted((r["step"], r["vertex"]) for r in w.collect())
    assert rows == [(0, "0"), (1, "1"), (2, "2")]


def test_mis_greedy_by_id_exact(spark):
    """MIS must equal the sequential greedy-by-id independent set (the
    lexicographically-first MIS the synchronous rounds are defined to
    compute), and be independent + maximal."""
    from hipporag_spark.algo.mis import maximal_independent_set

    n = 60
    edges = random_multigraph(n, 150, 11)
    adj, st, vids = make_graph(spark, n, edges)
    mis, lineage = maximal_independent_set(spark, adj, vids, num_blocks=4)
    got = {r["id"] for r in mis.collect()}

    nbrs = {}
    for u, v, _ in edges:
        if u != v:
            nbrs.setdefault(u, set()).add(v)
            nbrs.setdefault(v, set()).add(u)
    want = set()
    for v in range(n):  # sequential greedy by id
        if not (nbrs.get(v, set()) & want):
            want.add(v)
    assert got == want
    # independence + maximality directly
    for v in got:
        assert not (nbrs.get(v, set()) & (got - {v}))
    for v in set(range(n)) - got:
        assert nbrs.get(v, set()) & got
    assert lineage[-1]["converged"]


def test_mis_isolated_vertices_and_duplicates(spark):
    """Isolated vertices all enter in round 0; duplicate vertex ids do
    not duplicate output rows."""
    from hipporag_spark.algo.mis import maximal_independent_set

    adj, st, vids = make_graph(spark, 4, [(0, 1, 1.0)])
    dup = vids.unionAll(vids)  # ids 0..3, vertices 2,3 isolated
    mis, _ = maximal_independent_set(spark, adj, dup, num_blocks=2)
    rows = {(r["id"], r["round"]) for r in mis.collect()}
    assert rows == {(0, 0), (2, 0), (3, 0)}


def test_landmark_harmonic_matches_networkx(spark):
    nx = pytest.importorskip("networkx")
    from hipporag_spark.algo.sssp import landmark_harmonic

    n = 40
    edges = random_multigraph(n, 90, 13)
    adj, st, vids = make_graph(spark, n, edges)
    hop = adj.withColumn("weight", F.lit(1.0))
    seeds = [0, 1, 2]
    got = {r["id"]: r["harmonic"] for r in landmark_harmonic(spark, hop, seeds, num_blocks=4).collect()}

    g = nx.Graph()
    g.add_nodes_from(range(n))
    g.add_edges_from((u, v) for u, v, _ in edges if u != v)
    want = {}
    for s in seeds:
        for v, d in nx.single_source_shortest_path_length(g, s).items():
            if d > 0:
                want[v] = want.get(v, 0.0) + 1.0 / d
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-6


def test_degree_assortativity_matches_networkx(spark, tmp_path):
    """The driver query's explicit Pearson-r arithmetic must equal
    networkx.degree_assortativity_coefficient on the same word graph."""
    nx = pytest.importorskip("networkx")
    from hipporag_spark.driver_queries import q_degree_stats_words

    row = q_degree_stats_words(spark, "/root/testdata/sf0.001").collect()[0]
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM '/root/testdata/sf0.001/documents.parquet'"
    )
    pairs = con.execute(
        """WITH trips AS (
             SELECT DISTINCT doc_id, s, o FROM (
               SELECT doc_id, l[i] AS s, l[i+1] AS o
               FROM (SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents),
                    LATERAL unnest(generate_series(1, len(l) - 1)) AS t(i)
             ) WHERE length(s) > 0 AND length(o) > 0 AND s <> o
           ) SELECT DISTINCT least(s,o), greatest(s,o) FROM trips"""
    ).fetchall()
    g = nx.Graph()
    g.add_edges_from(pairs)
    want = nx.degree_assortativity_coefficient(g)
    assert abs(row["assortativity"] - want) < 1e-5
    assert row["n_vertices"] == g.number_of_nodes()
    assert row["n_edges"] == g.number_of_edges()
    assert row["max_degree"] == max(d for _, d in g.degree())


def _brandes_from_sources(n, edge_list, sources):
    """Pure-Python Brandes (unweighted) from a fixed source set — the
    exact oracle for seeded_betweenness."""
    from collections import deque

    nbrs = {}
    for u, v in edge_list:
        if u != v:
            nbrs.setdefault(u, set()).add(v)
            nbrs.setdefault(v, set()).add(u)
    bc = {}
    for s in sources:
        dist = {s: 0}
        sigma = {s: 1.0}
        order = []
        q = deque([s])
        while q:
            v = q.popleft()
            order.append(v)
            for w in nbrs.get(v, ()):
                if w not in dist:
                    dist[w] = dist[v] + 1
                    sigma[w] = 0.0
                    q.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
        delta = {v: 0.0 for v in order}
        for w in reversed(order):
            for v in nbrs.get(w, ()):
                if dist.get(v, -2) == dist[w] - 1:
                    delta[v] += sigma[v] / sigma[w] * (1.0 + delta[w])
            if w != s:
                bc[w] = bc.get(w, 0.0) + delta[w]
    return {v: x for v, x in bc.items() if x > 0}


def test_seeded_betweenness_matches_brandes(spark):
    from hipporag_spark.algo.betweenness import seeded_betweenness

    n = 40
    edges = random_multigraph(n, 80, 17)
    adj, st, vids = make_graph(spark, n, edges)
    seeds = [0, 5, 9]
    bc, lineage = seeded_betweenness(spark, adj, seeds, num_blocks=4)
    got = {r["id"]: r["betweenness"] for r in bc.collect()}
    want = _brandes_from_sources(n, [(u, v) for u, v, _ in edges], seeds)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9, (v, got[v], want[v])
    assert lineage[-1]["converged"] and len(lineage) == len(seeds)


def test_seeded_betweenness_path_graph_exact(spark):
    """On a path 0-1-2-3-4 from seed 0, delta is the textbook cascade:
    bc = (4, 3, 2, 1) interior-weighted — pins layering + accumulation."""
    from hipporag_spark.algo.betweenness import seeded_betweenness

    edges = [(i, i + 1, 1.0) for i in range(4)]
    adj, st, vids = make_graph(spark, 5, edges)
    bc, _ = seeded_betweenness(spark, adj, [0], num_blocks=2)
    got = {r["id"]: r["betweenness"] for r in bc.collect()}
    # delta(v) from seed 0 on a path: v=1 -> 3, v=2 -> 2, v=3 -> 1, v=4 -> 0
    assert got == {1: 3.0, 2: 2.0, 3: 1.0}


def test_seeded_betweenness_raises_on_truncated_bfs(spark):
    from hipporag_spark.algo.betweenness import seeded_betweenness

    edges = [(i, i + 1, 1.0) for i in range(6)]
    adj, st, vids = make_graph(spark, 7, edges)
    with pytest.raises(RuntimeError, match="max_depth"):
        seeded_betweenness(spark, adj, [0], max_depth=3, num_blocks=2)


def test_ktruss_matches_networkx(spark):
    nx = pytest.importorskip("networkx")
    from hipporag_spark.algo.truss import k_truss

    n = 30
    edges = random_multigraph(n, 140, 31)
    e = spark.createDataFrame(edges, "src long, dst long, weight double")
    G = nx.Graph()
    for u, v, _ in edges:
        if u != v:
            G.add_edge(u, v)
    for k in (3, 4, 5):
        truss, lineage = k_truss(spark, e, k=k, num_blocks=4)
        got = {(r["a"], r["b"]): r["support"] for r in truss.collect()}
        want = nx.k_truss(G, k)
        want_edges = {(min(u, v), max(u, v)) for u, v in want.edges}
        assert set(got) == want_edges
        # in-truss support: common neighbors within the truss
        for (a, b), sup in got.items():
            cn = len(set(want.neighbors(a)) & set(want.neighbors(b)))
            assert sup == cn
        assert lineage[-1]["converged"]


def test_ktruss_peels_bridge_between_cliques(spark):
    """Two 4-cliques joined by one bridge edge: the bridge closes no
    triangle, so the 4-truss is exactly the two cliques (support 2 on
    every surviving edge) — pins multi-round peeling semantics."""
    from hipporag_spark.algo.truss import k_truss

    k4a = [(u, v, 1.0) for u in range(4) for v in range(u + 1, 4)]
    k4b = [(u + 10, v + 10, 1.0) for u in range(4) for v in range(u + 1, 4)]
    bridge = [(3, 10, 1.0)]
    e = spark.createDataFrame(k4a + k4b + bridge, "src long, dst long, weight double")
    truss, _ = k_truss(spark, e, k=4, num_blocks=2)
    rows = truss.collect()
    assert len(rows) == 12 and all(r["support"] == 2 for r in rows)
    assert (3, 10) not in {(r["a"], r["b"]) for r in rows}


def test_ktruss_raises_on_iteration_exhaustion(spark):
    from hipporag_spark.algo.truss import k_truss

    # long peel cascade: a triangle strip (ladder of triangles) peels one
    # rung at a time under k=4
    strip = []
    for i in range(8):
        strip += [(i, i + 1, 1.0), (i, i + 2, 1.0)]
    e = spark.createDataFrame(strip, "src long, dst long, weight double")
    with pytest.raises(RuntimeError, match="max_iter"):
        k_truss(spark, e, k=4, max_iter=2, num_blocks=2)


def test_clustering_coefficient_matches_networkx(spark):
    nx = pytest.importorskip("networkx")
    from hipporag_spark.algo.triangles import clustering_coefficient

    n = 30
    edges = random_multigraph(n, 120, 37)
    adj, st, vids = make_graph(spark, n, edges)
    G = nx.Graph()
    for u, v, _ in edges:
        if u != v:
            G.add_edge(u, v)
    got = {r["id"]: (r["deg"], r["coeff"]) for r in clustering_coefficient(adj).collect()}
    want = nx.clustering(G)
    assert set(got) == set(G.nodes)
    for node in G.nodes:
        assert got[node][0] == G.degree(node)
        assert abs(got[node][1] - want[node]) < 1e-12


def test_dag_layers_longest_path(spark):
    from hipporag_spark.algo.dag import longest_path_layers

    # diamond + tail: 0->1, 0->2, 1->3, 2->3, 3->4
    e = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4)], "src long, dst long"
    )
    layers, lineage = longest_path_layers(spark, e, num_blocks=2)
    got = {r["id"]: r["layer"] for r in layers.collect()}
    assert got == {0: 0, 1: 1, 2: 1, 3: 2, 4: 3}
    assert lineage[-1]["converged"]


def test_dag_layers_matches_reference_random_dag(spark):
    from hipporag_spark.algo.dag import longest_path_layers

    rng = np.random.default_rng(43)
    n = 40
    pairs = set()
    while len(pairs) < 120:
        u, v = rng.integers(0, n, 2)
        if u < v:
            pairs.add((int(u), int(v)))
    e = spark.createDataFrame(sorted(pairs), "src long, dst long")
    layers, _ = longest_path_layers(spark, e, num_blocks=4)
    got = {r["id"]: r["layer"] for r in layers.collect()}
    # reference: dp in topological (numeric) order
    want = {}
    nodes = sorted({u for u, _ in pairs} | {v for _, v in pairs})
    for x in nodes:
        want[x] = 0
    for u, v in sorted(pairs):
        want[v] = max(want[v], want[u] + 1)
    assert got == want


def test_dag_layers_raises_on_cycle(spark):
    from hipporag_spark.algo.dag import longest_path_layers

    e = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "src long, dst long")
    with pytest.raises(RuntimeError, match="cycle"):
        longest_path_layers(spark, e, max_iter=10, num_blocks=2)


def test_modularity_matches_networkx(spark):
    nx = pytest.importorskip("networkx")
    from hipporag_spark.algo.modularity import modularity

    n = 30
    edges = random_multigraph(n, 120, 41)
    e = spark.createDataFrame(edges, "src long, dst long, weight double")
    G = nx.Graph()
    for u, v, _ in edges:
        if u != v:
            G.add_edge(u, v)
    # partition: id mod 3
    labels = spark.createDataFrame(
        [(i, i % 3) for i in range(n)], "id long, label long"
    )
    out = modularity(e.select("src", "dst"), labels).collect()[0]
    comms = [
        {x for x in G.nodes if x % 3 == c}
        for c in range(3)
        if any(x % 3 == c for x in G.nodes)
    ]
    want = nx.community.modularity(G, comms)
    assert abs(out["modularity"] - want) < 1e-9
    assert out["m"] == G.number_of_edges()


def test_coreness_matches_networkx(spark):
    nx = pytest.importorskip("networkx")
    from hipporag_spark.algo.coreness import coreness

    n = 40
    edges = random_multigraph(n, 160, 47)
    adj, st, vids = make_graph(spark, n, edges)
    G = nx.Graph()
    G.add_nodes_from(range(n))
    for u, v, _ in edges:
        if u != v:
            G.add_edge(u, v)
    core, lineage = coreness(spark, adj, vids, num_blocks=4)
    got = {r["id"]: r["coreness"] for r in core.collect()}
    assert got == nx.core_number(G)
    assert lineage[-1]["converged"]


def test_coreness_path_plus_clique(spark):
    """K5 with a pendant path: clique vertices have coreness 4, the path
    coreness 1 — and the h-operator needs >1 round to pull the path
    attachment point down (pins multi-round convergence)."""
    from hipporag_spark.algo.coreness import coreness

    k5 = [(u, v, 1.0) for u in range(5) for v in range(u + 1, 5)]
    path = [(4, 5, 1.0), (5, 6, 1.0), (6, 7, 1.0)]
    adj, st, vids = make_graph(spark, 8, k5 + path)
    core, lineage = coreness(spark, adj, vids, num_blocks=2)
    got = {r["id"]: r["coreness"] for r in core.collect()}
    assert got == {0: 4, 1: 4, 2: 4, 3: 4, 4: 4, 5: 1, 6: 1, 7: 1}


def test_two_hop_sizes_matches_networkx(spark):
    nx = pytest.importorskip("networkx")
    from hipporag_spark.algo.neighborhood import two_hop_sizes

    n = 35
    edges = random_multigraph(n, 120, 53)
    adj, st, vids = make_graph(spark, n, edges)
    G = nx.Graph()
    for u, v, _ in edges:
        if u != v:
            G.add_edge(u, v)
    got = {r["id"]: (r["n1"], r["n2"]) for r in two_hop_sizes(adj).collect()}
    for v in G.nodes:
        ball = nx.single_source_shortest_path_length(G, v, cutoff=2)
        want = (G.degree(v), len(ball) - 1)
        assert got[v] == want, (v, got[v], want)


def test_two_hop_mid_degree_cap_is_lower_bound(spark):
    """Star + triangle: capping out the hub middle removes exactly the
    leaf-to-leaf pairs that route through it, nothing else."""
    from hipporag_spark.algo.neighborhood import two_hop_sizes

    star = [(0, i, 1.0) for i in range(1, 6)]
    tri = [(1, 2, 1.0)]
    adj, st, vids = make_graph(spark, 6, star + tri)
    full = {r["id"]: r["n2"] for r in two_hop_sizes(adj).collect()}
    capped = {r["id"]: r["n2"] for r in two_hop_sizes(adj, max_mid_degree=3).collect()}
    # leaf 3 reaches all 5 others through the hub; with the hub (deg 5)
    # capped as middle it keeps only its direct neighbor
    assert full[3] == 5 and capped[3] == 1
    # vertex 1's two-hop through the (uncapped) triangle edge survives
    assert capped[1] >= 2
    assert all(capped[v] <= full[v] for v in full)


def test_two_hop_hub_exact_equals_uncapped(spark):
    """hub_exact=True restores exactness on the skew fixture: the capped
    run plus the hub-middle union branch equals the uncapped answer for
    EVERY vertex (r4 verdict stretch: the cap alone is a lower bound)."""
    from hipporag_spark.algo.neighborhood import two_hop_sizes

    # star hub 0 with 12 spokes + a triangle hanging off spoke 1
    edges = [(0, i, 1.0) for i in range(1, 13)]
    edges += [(1, 13, 1.0), (13, 14, 1.0), (14, 1, 1.0)]
    adj, st, vids = make_graph(spark, 15, edges)
    full = {
        (r["id"], r["n1"], r["n2"]) for r in two_hop_sizes(adj).collect()
    }
    hubbed = {
        (r["id"], r["n1"], r["n2"])
        for r in two_hop_sizes(adj, max_mid_degree=3, hub_exact=True).collect()
    }
    assert hubbed == full
    # and the cap WITHOUT the hub pass genuinely loses pairs here
    capped = {r["id"]: r["n2"] for r in two_hop_sizes(adj, max_mid_degree=3).collect()}
    fulld = {i: n2 for i, _, n2 in full}
    assert any(capped[v] < fulld[v] for v in capped)


def test_greedy_coloring_matches_sequential_first_fit(spark):
    from hipporag_spark.algo.coloring import greedy_coloring

    n = 35
    edges = random_multigraph(n, 150, 59)
    adj, st, vids = make_graph(spark, n, edges)
    nbrs = {}
    for u, v, _ in edges:
        if u != v:
            nbrs.setdefault(u, set()).add(v)
            nbrs.setdefault(v, set()).add(u)
    want = {}
    for v in range(n):
        used = {want[u] for u in nbrs.get(v, ()) if u in want}
        c = 0
        while c in used:
            c += 1
        want[v] = c
    colors, lineage = greedy_coloring(spark, adj, vids, num_blocks=4, priority="id")
    got = {r["id"]: r["color"] for r in colors.collect()}
    assert got == want
    # proper coloring
    for u, vs in nbrs.items():
        for v in vs:
            assert got[u] != got[v]
    assert lineage[-1]["converged"]
    # parallel depth << n on a sparse graph
    assert len(lineage) < n


@pytest.mark.parametrize("priority", ["ldf", "hash"])
def test_greedy_coloring_scale_priorities_proper_and_shallow(spark, priority):
    """'ldf' (default) and 'hash' priorities: still a proper
    deterministic coloring, but the round count follows descending runs
    of a hashed (degree-bucketed for ldf) order instead of the longest
    decreasing-id path. A 64-path pins the gap: id priority needs 63
    rounds, these need only a handful."""
    from hipporag_spark.algo.coloring import greedy_coloring

    n = 64
    edges = [(i, i + 1, 1.0) for i in range(n - 1)]
    adj, st, vids = make_graph(spark, n, edges)
    colors, lineage = greedy_coloring(
        spark, adj, vids, num_blocks=2, priority=priority
    )
    got = {r["id"]: r["color"] for r in colors.collect()}
    for i in range(n - 1):
        assert got[i] != got[i + 1]
    assert lineage[-1]["converged"]
    assert len(lineage) <= 12, f"{priority} priority took {len(lineage)} rounds"
    # deterministic across runs and partitionings
    colors2, _ = greedy_coloring(spark, adj, vids, num_blocks=4, priority=priority)
    assert got == {r["id"]: r["color"] for r in colors2.collect()}


def test_greedy_coloring_path_graph_two_colors(spark):
    """Path graph: first-fit by id alternates 0/1 and the JP wavefront
    needs one round per vertex prefix — pins multi-round behavior and
    the exhaustion raise."""
    from hipporag_spark.algo.coloring import greedy_coloring

    edges = [(i, i + 1, 1.0) for i in range(7)]
    adj, st, vids = make_graph(spark, 8, edges)
    colors, lineage = greedy_coloring(spark, adj, vids, num_blocks=2, priority="id")
    got = {r["id"]: r["color"] for r in colors.collect()}
    assert got == {i: i % 2 for i in range(8)}
    with pytest.raises(RuntimeError, match="max_iter"):
        greedy_coloring(spark, adj, vids, max_iter=2, num_blocks=2, priority="id")


def test_anf_tracks_true_neighborhood_function(spark):
    """FM-sketch ANF: N(0) exact, h >= 1 estimates inside the FM band at
    k=64, the effective-diameter curve near the true interpolated value,
    and the whole output bit-deterministic across partitionings."""
    nx = pytest.importorskip("networkx")
    from hipporag_spark.algo.anf import anf, effective_diameter

    n = 60
    edges = random_multigraph(n, 150, 17)
    adj, st, vids = make_graph(spark, n, edges)
    nf, lineage = anf(spark, adj, vids, max_h=10, k=64, hash_fn="md5")
    rows = [(r["h"], r["reach_est"], r["frac_of_final"]) for r in nf.collect()]
    assert lineage[-1]["converged"]
    G = nx.Graph()
    G.add_nodes_from(range(n))
    for u, v, _ in edges:
        G.add_edge(u, v)
    true = []
    for h, est, _ in rows:
        t = sum(
            len(nx.single_source_shortest_path_length(G, v, cutoff=h))
            for v in G.nodes
        )
        true.append(t)
        if h == 0:
            assert est == float(n)  # exact by construction
        else:
            assert abs(est - t) / t < 0.2, (h, est, t)
    # effective diameter vs the true interpolated 90% point
    fr = [(h, None, t / true[-1]) for (h, _, _), t in zip(rows, true)]
    assert abs(effective_diameter(rows) - effective_diameter(fr)) < 0.5
    # determinism at another partitioning
    nf2, _ = anf(
        spark, adj.repartition(7), vids, max_h=10, k=64, hash_fn="md5"
    )
    assert sorted(map(tuple, nf2.collect())) == sorted(map(tuple, nf.collect()))


def test_effective_diameter_met_at_first_point():
    """A curve already at q at its first hop has that hop as its effective
    diameter; interpolating below the first point went negative."""
    from hipporag_spark.algo.anf import effective_diameter

    assert effective_diameter([(0, 5.0, 0.95), (1, 5.0, 1.0)]) == 0.0


def test_maximal_matching_equals_sequential_greedy(spark):
    """Locally-dominant rounds with a pinned total order compute EXACTLY
    the sequential greedy matching in ascending (md5-32(a|b), a, b)
    order; the result is maximal (no live edge with two free
    endpoints)."""
    import hashlib

    from hipporag_spark.algo.matching import maximal_matching

    n = 40
    edges = random_multigraph(n, 170, 61)
    adj, st, vids = make_graph(spark, n, edges)

    def key(a, b):
        h = hashlib.md5(f"{a}|{b}".encode()).hexdigest()[:8]
        return (int(h, 16), a, b)

    simple = sorted(
        {(min(u, v), max(u, v)) for u, v, _ in edges if u != v},
        key=lambda e: key(*e),
    )
    used: set[int] = set()
    want = set()
    for a, b in simple:
        if a not in used and b not in used:
            want.add((a, b))
            used.update((a, b))
    out, lineage = maximal_matching(spark, adj)
    got = {(r["a"], r["b"]) for r in out.collect()}
    assert got == want
    assert lineage[-1]["converged"]
    # maximality: every unmatched edge touches a matched vertex
    mv = {v for e in got for v in e}
    for a, b in simple:
        assert a in mv or b in mv
    # hash order keeps rounds shallow on a path (id order would need ~n)
    path = [(i, i + 1, 1.0) for i in range(63)]
    padj, _, _ = make_graph(spark, 64, path)
    _, plin = maximal_matching(spark, padj)
    assert len(plin) <= 12, f"path matching took {len(plin)} rounds"


def test_msf_matches_networkx(spark):
    nx = pytest.importorskip("networkx")
    from hipporag_spark.algo.mst import minimum_spanning_forest

    rng = np.random.default_rng(61)
    n = 40
    # two components, distinct weights -> unique MSF
    edges = []
    seen = set()
    for lo, hi, m in [(0, 20, 60), (20, 40, 50)]:
        while sum(1 for a, b in seen if lo <= a < hi) < m:
            u, v = rng.integers(lo, hi, 2)
            if u != v and (min(u, v), max(u, v)) not in seen:
                seen.add((min(u, v), max(u, v)))
    for i, (u, v) in enumerate(sorted(seen)):
        # strictly distinct weights -> the MSF is unique, so the NetworkX
        # comparison is tie-break-free
        edges.append((int(u), int(v), float(i + 1)))
    e = spark.createDataFrame(edges, "src long, dst long, weight double")
    G = nx.Graph()
    for u, v, w in edges:
        G.add_edge(u, v, weight=w)
    forest, lineage = minimum_spanning_forest(spark, e, num_blocks=4)
    got = {(r["a"], r["b"], r["weight"]) for r in forest.collect()}
    want = {
        (min(u, v), max(u, v), d["weight"])
        for u, v, d in nx.minimum_spanning_edges(G, data=True)
    }
    assert got == want
    assert lineage[-1]["converged"]
    # Boruvka halves components: rounds well under log-linear
    assert len(lineage) <= 8


def test_msf_parallel_edges_and_chain(spark):
    """Parallel edges keep the min key; a weighted chain's MSF is the
    chain minus its heaviest edge per cycle (none here — tree in, tree
    out), and a duplicated edge never double-enters the forest."""
    from hipporag_spark.algo.mst import minimum_spanning_forest

    e = spark.createDataFrame(
        [(0, 1, 5.0), (1, 0, 3.0), (1, 2, 2.0), (2, 3, 9.0), (0, 2, 4.0)],
        "src long, dst long, weight double",
    )
    forest, _ = minimum_spanning_forest(spark, e, num_blocks=2)
    got = {(r["a"], r["b"], r["weight"]) for r in forest.collect()}
    # cycle 0-1-2: drop the max key edge (0,1,3.0 kept? keys: (0,1)->3.0
    # after parallel-min, (1,2)->2.0, (0,2)->4.0 -> drop (0,2))
    assert got == {(0, 1, 3.0), (1, 2, 2.0), (2, 3, 9.0)}


def test_msf_raises_on_exhaustion(spark):
    from hipporag_spark.algo.mst import minimum_spanning_forest

    e = spark.createDataFrame(
        [(i, i + 1, float(i + 1)) for i in range(16)],
        "src long, dst long, weight double",
    )
    with pytest.raises(RuntimeError, match="max_iter"):
        minimum_spanning_forest(spark, e, max_iter=1, num_blocks=2)


def test_double_sweep_diameter_tree_exact(spark):
    nx = pytest.importorskip("networkx")
    from hipporag_spark.algo.sssp import double_sweep_diameter

    # random tree: double sweep is EXACT on trees
    rng = np.random.default_rng(71)
    n = 30
    tree_edges = [(int(rng.integers(0, i)), i) for i in range(1, n)]
    sym = [(u, v, 1.0) for u, v in tree_edges] + [(v, u, 1.0) for u, v in tree_edges]
    e = spark.createDataFrame(sym, "src long, dst long, weight double")
    start = spark.createDataFrame([(0,)], "id long")
    out, lin1, lin2 = double_sweep_diameter(spark, e, start, num_blocks=2)
    row = out.collect()[0]
    G = nx.Graph(tree_edges)
    assert row["diameter_lb"] == nx.diameter(G)
    assert row["start_id"] == 0
    ecc0 = nx.eccentricity(G, 0)
    assert row["ecc_start"] == ecc0


def test_double_sweep_tie_break_smallest_id(spark):
    from hipporag_spark.algo.sssp import double_sweep_diameter

    # star from 0: every leaf at dist 1 -> farthest is the SMALLEST leaf
    sym = []
    for leaf in (3, 1, 2):
        sym += [(0, leaf, 1.0), (leaf, 0, 1.0)]
    e = spark.createDataFrame(sym, "src long, dst long, weight double")
    start = spark.createDataFrame([(0,)], "id long")
    out, _, _ = double_sweep_diameter(spark, e, start, num_blocks=2)
    row = out.collect()[0]
    assert row["far_id"] == 1 and row["diameter_lb"] == 2


def test_ppr_monte_carlo_approaches_exact(spark):
    """The walk-endpoint estimator converges on the exact PPR vector:
    total-variation distance shrinks with the walk budget and the big
    budget lands within 0.08 TV of exact (2k walks, 20 vertices)."""
    from hipporag_spark.algo.walks import ppr_monte_carlo

    n = 20
    edges = random_multigraph(n, 80, 23)
    adj, st, vids = make_graph(spark, n, edges)
    reset = np.zeros(n)
    reset[3] = 1.0
    want = ppr_reference(n, edges, reset, 0.5)

    seeds = spark.createDataFrame([(3,)], "vertex long")
    tv = {}
    for budget in (100, 2000):
        est = ppr_monte_carlo(
            adj.select("src", "dst"), seeds, walks_per_seed=budget,
            damping=0.5, max_length=24,
        )
        got = np.zeros(n)
        for r in est.collect():
            got[int(r["id"])] = r["est"]
        tv[budget] = 0.5 * np.abs(got - want).sum()
    assert tv[2000] < 0.08, tv
    assert tv[2000] <= tv[100] + 0.02, tv
    # deterministic: same budget -> identical estimate
    e1 = sorted(map(tuple, ppr_monte_carlo(
        adj.select("src", "dst"), seeds, walks_per_seed=100, damping=0.5,
        max_length=24).collect()))
    e2 = sorted(map(tuple, ppr_monte_carlo(
        adj.select("src", "dst"), seeds, walks_per_seed=100, damping=0.5,
        max_length=24).collect()))
    assert e1 == e2
