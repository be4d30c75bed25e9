"""F6 resume fixture: kill the PPR loop mid-iteration, restart from the
checkpoint, converge to scores identical to an uninterrupted run."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from hipporag_spark.algo.components import connected_components
from hipporag_spark.algo.ppr import personalized_pagerank
from hipporag_spark.checkpointing import CheckpointManager
from hipporag_spark.graph.build import adjacency, strength

from oracles import ppr_reference, random_multigraph


def _graph(spark, n, m, seed):
    edges = random_multigraph(n, m, seed)
    e = spark.createDataFrame(edges, "src long, dst long, weight double")
    adj = adjacency(e).persist()
    st = strength(adj).persist()
    vids = spark.range(n).select(F.col("id"))
    return edges, adj, st, vids


def _to_np(ranks, n):
    out = np.zeros(n)
    for r in ranks.collect():
        out[r["id"]] = r["value"]
    return out


def test_ppr_kill_and_resume(spark, tmp_path):
    n, m = 40, 160
    edges, adj, st, vids = _graph(spark, n, m, seed=23)
    reset_df = spark.createDataFrame([(1, 0.5), (7, 0.5)], "id long, weight double")
    ckdir = str(tmp_path / "ck")

    # uninterrupted reference run (no checkpointing; check_every=1 to match
    # the durable run's per-superstep convergence cadence bit-for-bit —
    # chunked in-memory runs may legitimately overshoot convergence by up
    # to chunk-1 supersteps)
    full, full_lineage = personalized_pagerank(
        spark, adj, st, vids, n_vertices=n, reset_df=reset_df, num_blocks=4,
        check_every=1,
    )
    want = _to_np(full, n)

    # killed run: stop after 4 supersteps (simulates a mid-job failure —
    # every completed superstep has state + manifest on disk)
    part1, lin1 = personalized_pagerank(
        spark, adj, st, vids, n_vertices=n, reset_df=reset_df, num_blocks=4,
        checkpoint_dir=ckdir, run_id="runA", max_iter=4,
    )
    assert not lin1[-1]["converged"]
    mgr = CheckpointManager(ckdir, "runA")
    assert mgr.latest_complete() == 3

    # resumed run: continues from superstep 4, converges
    part2, lin2 = personalized_pagerank(
        spark, adj, st, vids, n_vertices=n, reset_df=reset_df, num_blocks=4,
        checkpoint_dir=ckdir, run_id="runA",
    )
    got = _to_np(part2, n)
    assert lin2[-1]["converged"]
    # resumed supersteps continue the numbering (no recompute of done work)
    assert lin2[-1]["superstep"] == len(full_lineage) - 1
    assert np.allclose(got, want, atol=1e-12)
    assert np.allclose(got, ppr_reference(n, edges, np.array([0, 0.5, 0, 0, 0, 0, 0, 0.5] + [0] * 32), 0.5), atol=1e-6)

    # lineage carries per-partition metrics for every superstep
    lineage = mgr.lineage()
    assert [l["superstep"] for l in lineage] == list(range(len(lineage)))
    for l in lineage:
        assert l["partitions"] and all("rows" in p and "delta" in p for p in l["partitions"])


def test_ppr_resume_of_converged_run_is_noop(spark, tmp_path):
    n, m = 20, 60
    edges, adj, st, vids = _graph(spark, n, m, seed=31)
    ckdir = str(tmp_path / "ck2")
    r1, lin1 = personalized_pagerank(
        spark, adj, st, vids, n_vertices=n, num_blocks=4,
        checkpoint_dir=ckdir, run_id="runB",
    )
    r2, lin2 = personalized_pagerank(
        spark, adj, st, vids, n_vertices=n, num_blocks=4,
        checkpoint_dir=ckdir, run_id="runB",
    )
    assert lin2[-1]["converged"]
    a, b = _to_np(r1, n), _to_np(r2, n)
    assert (a == b).all()  # bitwise: state loaded straight from parquet


def test_cc_kill_and_resume(spark, tmp_path):
    n = 30
    edges, adj, st, vids = _graph(spark, n, 35, seed=41)
    ckdir = str(tmp_path / "ck3")
    full, _ = connected_components(spark, adj, vids, num_blocks=4)
    want = {r["id"]: r["component"] for r in full.collect()}

    part1, lin1 = connected_components(
        spark, adj, vids, num_blocks=4, checkpoint_dir=ckdir, run_id="cc1", max_iter=1
    )
    assert not lin1[-1]["converged"]
    part2, lin2 = connected_components(
        spark, adj, vids, num_blocks=4, checkpoint_dir=ckdir, run_id="cc1"
    )
    got = {r["id"]: r["component"] for r in part2.collect()}
    assert got == want and lin2[-1]["converged"]


def test_lp_kill_and_resume(spark, tmp_path):
    """Label propagation resumes mid-run from the superstep checkpoint and
    lands on labels identical to an uninterrupted run (pinned
    deterministic argmax semantics make this exact)."""
    from hipporag_spark.algo.labelprop import label_propagation

    n = 30
    edges, adj, st, vids = _graph(spark, n, 40, seed=43)
    ckdir = str(tmp_path / "ck4")
    full, _ = label_propagation(spark, adj, vids, max_iter=6)
    want = {r["id"]: r["label"] for r in full.collect()}

    part1, lin1 = label_propagation(
        spark, adj, vids, max_iter=2, checkpoint_dir=ckdir, run_id="lp1"
    )
    assert lin1[-1]["superstep"] == 1  # killed after round 2 of 6
    part2, lin2 = label_propagation(
        spark, adj, vids, max_iter=6, checkpoint_dir=ckdir, run_id="lp1"
    )
    got = {r["id"]: r["label"] for r in part2.collect()}
    assert got == want
    # resumed run executed only the remaining rounds
    assert lin2[-1]["superstep"] == lin1[-1]["superstep"] + (6 - 2) or lin2[-1]["converged"]


def test_kcore_kill_and_resume(spark, tmp_path):
    """k-core peeling resumes mid-cascade from the superstep checkpoint;
    the path-graph fixture guarantees 5 peel rounds, so max_iter=2 stops
    genuinely mid-run."""
    from hipporag_spark.algo.kcore import k_core

    n = 10
    e = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(n - 1)], "src long, dst long, weight double"
    )
    adj = adjacency(e).persist()
    vids = spark.range(n).select(F.col("id"))
    ckdir = str(tmp_path / "ck5")

    full, full_lin = k_core(spark, adj, vids, k=2, num_blocks=2)
    want = {(r["id"], r["core_degree"]) for r in full.collect()}

    part1, lin1 = k_core(
        spark, adj, vids, k=2, num_blocks=2, checkpoint_dir=ckdir,
        run_id="kc1", max_iter=2,
    )
    assert not lin1[-1]["converged"]
    part2, lin2 = k_core(
        spark, adj, vids, k=2, num_blocks=2, checkpoint_dir=ckdir, run_id="kc1"
    )
    got = {(r["id"], r["core_degree"]) for r in part2.collect()}
    assert got == want
    # resumed run executed only the remaining rounds
    assert lin2[-1]["superstep"] == len(full_lin) - 1


def test_sssp_kill_and_resume(spark, tmp_path):
    """Shortest paths resumes from the superstep checkpoint with the TRUE
    frontier (the persisted `improved` flag), not a full-state restart;
    the path graph guarantees one-hop-per-round so max_iter=2 stops
    genuinely mid-run."""
    from hipporag_spark.algo.sssp import shortest_paths

    n = 8
    e = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(n - 1)], "src long, dst long, weight double"
    )
    adj = adjacency(e).persist()
    src = spark.createDataFrame([(0,)], "id long")
    ckdir = str(tmp_path / "ck6")

    full, full_lin = shortest_paths(spark, adj, src, num_blocks=2)
    want = {(r["id"], r["dist"]) for r in full.collect()}

    part1, lin1 = shortest_paths(
        spark, adj, src, num_blocks=2, checkpoint_dir=ckdir,
        run_id="sp1", max_iter=2,
    )
    assert not lin1[-1]["converged"]
    part2, lin2 = shortest_paths(
        spark, adj, src, num_blocks=2, checkpoint_dir=ckdir, run_id="sp1"
    )
    got = {(r["id"], r["dist"]) for r in part2.collect()}
    assert got == want
    assert lin2[-1]["superstep"] == len(full_lin) - 1
    # the resumed frontier is the vertex improved in the killed run's last
    # completed round (persisted `improved` flag): each fresh round still
    # advances exactly one hop (replayed manifest entries carry `delta`,
    # freshly-executed rounds carry `changed`)
    fresh = [e["changed"] for e in lin2 if "changed" in e]
    assert fresh == [1, 1, 1, 1, 1, 0]


def test_hits_kill_and_resume(spark, tmp_path):
    """HITS resumes from the superstep checkpoint with the RAW state plus
    the L1 norms persisted in the manifest (the literal-rescale contract);
    a killed fixed-round run resumed to the same round count must equal
    the uninterrupted run."""
    from hipporag_spark.algo.hits import hits

    n = 16
    e = spark.createDataFrame(
        [(i, (i * 3 + 1) % n, 1.0 + (i % 3)) for i in range(n)]
        + [(i, (i * 5 + 2) % n, 1.0) for i in range(n)],
        "src long, dst long, weight double",
    )
    vids = spark.range(n).select(F.col("id"))
    ckdir = str(tmp_path / "ck7")

    full, full_lin = hits(spark, e, vids, max_iter=8, tol=0.0, num_blocks=2)
    want = {r["id"]: (r["authority"], r["hub"]) for r in full.collect()}

    part1, lin1 = hits(
        spark, e, vids, max_iter=4, tol=0.0, num_blocks=2,
        checkpoint_dir=ckdir, run_id="h1",
    )
    assert not lin1[-1]["converged"]
    part2, lin2 = hits(
        spark, e, vids, max_iter=8, tol=0.0, num_blocks=2,
        checkpoint_dir=ckdir, run_id="h1",
    )
    got = {r["id"]: (r["authority"], r["hub"]) for r in part2.collect()}
    assert lin2[-1]["superstep"] == 7
    for i in range(n):
        assert abs(got[i][0] - want[i][0]) < 1e-12
        assert abs(got[i][1] - want[i][1]) < 1e-12


def test_ppr_forward_push_kill_and_resume(spark, tmp_path):
    """Forward push resumes with the true frontier AND the pending
    dangling mass from the manifest; a run killed mid-iteration resumed
    to convergence equals the uninterrupted run."""
    from hipporag_spark.algo.ppr_push import ppr_forward_push
    from hipporag_spark.graph.build import strength as strength_of

    edges = [(0, 1, 1.0), (1, 2, 2.0), (2, 3, 1.0), (3, 0, 1.0)]
    e = spark.createDataFrame(edges, "src long, dst long, weight double")
    adj = adjacency(e).persist()
    st = strength_of(adj).persist()
    # half the seed mass on isolated vertex 5 → dangling path stays hot
    reset_df = spark.createDataFrame([(0, 0.5), (5, 0.5)], "id long, weight double")
    ckdir = str(tmp_path / "ck8")

    full, full_lin = ppr_forward_push(
        spark, adj, st, reset_df, damping=0.5, eps=1e-7, num_blocks=2
    )
    want = {r["id"]: (r["estimate"], r["residual"]) for r in full.collect()}

    part1, lin1 = ppr_forward_push(
        spark, adj, st, reset_df, damping=0.5, eps=1e-7, num_blocks=2,
        checkpoint_dir=ckdir, run_id="fp1", max_iter=3,
    )
    assert not lin1[-1]["converged"]
    part2, lin2 = ppr_forward_push(
        spark, adj, st, reset_df, damping=0.5, eps=1e-7, num_blocks=2,
        checkpoint_dir=ckdir, run_id="fp1",
    )
    got = {r["id"]: (r["estimate"], r["residual"]) for r in part2.collect()}
    assert lin2[-1]["converged"]
    assert set(got) == set(want)
    for i in got:
        assert abs(got[i][0] - want[i][0]) < 1e-12
        assert abs(got[i][1] - want[i][1]) < 1e-12
    assert lin2[-1]["superstep"] == len(full_lin) - 1


def test_scc_kill_and_resume(spark, tmp_path):
    """SCC checkpoints per outer round (assignments + active set); a run
    killed between outer rounds resumes and matches the uninterrupted
    run. A chain of 2-cycles forces one SCC extraction per outer round."""
    from hipporag_spark.algo.scc import strongly_connected_components

    # cycles {0,1} -> {2,3} -> {4,5}
    edges = [(0, 1, 1.0), (1, 0, 1.0), (2, 3, 1.0), (3, 2, 1.0),
             (4, 5, 1.0), (5, 4, 1.0), (1, 2, 1.0), (3, 4, 1.0)]
    e = spark.createDataFrame(edges, "src long, dst long, weight double")
    vids = spark.range(6).select(F.col("id"))
    ckdir = str(tmp_path / "ck9")

    full, full_lin = strongly_connected_components(spark, e, vids, num_blocks=2)
    want = {(r["id"], r["component"]) for r in full.collect()}
    assert want == {(0, 0), (1, 0), (2, 2), (3, 2), (4, 4), (5, 4)}
    n_outer_full = max(l["outer"] for l in full_lin) + 1
    assert n_outer_full >= 2  # the shape genuinely needs multiple rounds

    # max_outer=1 simulates a kill after the first outer round; the
    # engine refuses to emit the partial result (ADVICE r3) but has
    # already checkpointed round 0, so the rerun resumes from it
    from hipporag_spark.algo.scc import SCCNonConvergenceError

    with pytest.raises(SCCNonConvergenceError, match="max_outer"):
        strongly_connected_components(
            spark, e, vids, num_blocks=2, checkpoint_dir=ckdir, run_id="s1",
            max_outer=1,
        )
    part2, lin2 = strongly_connected_components(
        spark, e, vids, num_blocks=2, checkpoint_dir=ckdir, run_id="s1",
    )
    got = {(r["id"], r["component"]) for r in part2.collect()}
    assert got == want
    assert lin2[-1]["converged"]
    # resumed run starts at outer round 1 (round 0 is replayed from its
    # manifest, which carries no per-phase entries — only outer metadata)
    fresh = [l for l in lin2 if l.get("phase") == "emit"]
    assert fresh[-1]["outer"] == n_outer_full - 1


def test_katz_kill_and_resume(spark, tmp_path):
    """Katz resumes from the superstep checkpoint: a fixed-round run killed
    at round 4 and resumed to round 8 equals the uninterrupted 8-round
    run bit-for-bit (integer-count weights ⇒ identical float paths)."""
    from hipporag_spark.algo.katz import katz_centrality

    n = 16
    e = spark.createDataFrame(
        [(i, (i * 3 + 1) % n, 1.0 + (i % 3)) for i in range(n)]
        + [(i, (i * 5 + 2) % n, 1.0) for i in range(n)],
        "src long, dst long, weight double",
    )
    vids = spark.range(n).select(F.col("id"))
    ckdir = str(tmp_path / "ck_katz")

    full, _ = katz_centrality(
        spark, e, vids, alpha=0.05, beta=1.0, max_iter=8, tol=0.0, num_blocks=2
    )
    want = {r["id"]: r["katz"] for r in full.collect()}

    part1, lin1 = katz_centrality(
        spark, e, vids, alpha=0.05, beta=1.0, max_iter=4, tol=0.0, num_blocks=2,
        checkpoint_dir=ckdir, run_id="k1",
    )
    assert not lin1[-1]["converged"]
    part2, lin2 = katz_centrality(
        spark, e, vids, alpha=0.05, beta=1.0, max_iter=8, tol=0.0, num_blocks=2,
        checkpoint_dir=ckdir, run_id="k1",
    )
    got = {r["id"]: r["katz"] for r in part2.collect()}
    assert lin2[-1]["superstep"] == 7
    for i in range(n):
        assert abs(got[i] - want[i]) < 1e-12


def test_ktruss_kill_and_resume(spark, tmp_path):
    """Truss peeling checkpoints every round; iteration exhaustion RAISES
    (never a silent partial truss) but leaves the superstep checkpoints
    behind, so a resumed run finishes from where the cascade stopped."""
    from hipporag_spark.algo.truss import k_truss

    # triangle strip: peels one rung per round under k=4
    strip = []
    for i in range(8):
        strip += [(i, i + 1, 1.0), (i, i + 2, 1.0)]
    e = spark.createDataFrame(strip, "src long, dst long, weight double")
    ckdir = str(tmp_path / "ckt")

    full, full_lin = k_truss(spark, e, k=4, num_blocks=2)
    want = {(r["a"], r["b"], r["support"]) for r in full.collect()}
    assert len(full_lin) > 2

    with pytest.raises(RuntimeError, match="max_iter"):
        k_truss(
            spark, e, k=4, num_blocks=2, checkpoint_dir=ckdir,
            run_id="kt1", max_iter=2,
        )
    part2, lin2 = k_truss(
        spark, e, k=4, num_blocks=2, checkpoint_dir=ckdir, run_id="kt1"
    )
    got = {(r["a"], r["b"], r["support"]) for r in part2.collect()}
    assert got == want
    assert lin2[-1]["superstep"] == len(full_lin) - 1


def test_dag_layers_kill_and_resume(spark, tmp_path):
    """Longest-path relaxation resumes with the true frontier (persisted
    `grew` flag); the path DAG guarantees one layer per round so
    max_iter=3 stops genuinely mid-run (and raises, by the cycle-verdict
    contract)."""
    from hipporag_spark.algo.dag import longest_path_layers

    n = 9
    e = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "src long, dst long")
    ckdir = str(tmp_path / "ckd")

    full, full_lin = longest_path_layers(spark, e, num_blocks=2)
    want = {(r["id"], r["layer"]) for r in full.collect()}

    with pytest.raises(RuntimeError, match="converge"):
        longest_path_layers(
            spark, e, num_blocks=2, checkpoint_dir=ckdir, run_id="dg1", max_iter=3
        )
    part2, lin2 = longest_path_layers(
        spark, e, num_blocks=2, checkpoint_dir=ckdir, run_id="dg1"
    )
    got = {(r["id"], r["layer"]) for r in part2.collect()}
    assert got == want
    assert lin2[-1]["superstep"] == len(full_lin) - 1


def test_coreness_kill_and_resume(spark, tmp_path):
    """h-operator resumes from the persisted value table; K5-plus-path
    needs >2 rounds so max_iter=1 stops genuinely mid-run (raising, by
    the non-fixpoint contract)."""
    from hipporag_spark.algo.coreness import coreness

    k5 = [(u, v, 1.0) for u in range(5) for v in range(u + 1, 5)]
    path = [(4, 5, 1.0), (5, 6, 1.0), (6, 7, 1.0)]
    e = spark.createDataFrame(k5 + path, "src long, dst long, weight double")
    adj = adjacency(e).persist()
    vids = spark.range(8).select(F.col("id"))
    ckdir = str(tmp_path / "ckcore")

    full, full_lin = coreness(spark, adj, vids, num_blocks=2)
    want = {(r["id"], r["coreness"]) for r in full.collect()}
    assert len(full_lin) > 1

    with pytest.raises(RuntimeError, match="max_iter"):
        coreness(
            spark, adj, vids, num_blocks=2, checkpoint_dir=ckdir,
            run_id="cn1", max_iter=1,
        )
    part2, lin2 = coreness(
        spark, adj, vids, num_blocks=2, checkpoint_dir=ckdir, run_id="cn1"
    )
    got = {(r["id"], r["coreness"]) for r in part2.collect()}
    assert got == want
    assert lin2[-1]["superstep"] == len(full_lin) - 1


def test_coloring_kill_and_resume(spark, tmp_path):
    """The JP wavefront resumes from the persisted colored set; the path
    graph guarantees one newly-colored vertex per round so max_iter=3
    stops genuinely mid-run (raising, per the non-fixpoint contract)."""
    from hipporag_spark.algo.coloring import greedy_coloring

    n = 9
    e = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(n - 1)], "src long, dst long, weight double"
    )
    adj = adjacency(e).persist()
    vids = spark.range(n).select(F.col("id"))
    ckdir = str(tmp_path / "ckcol")

    # id priority: the path graph colors exactly one vertex prefix per
    # round, so max_iter=3 stops genuinely mid-run (ldf would finish in
    # <=3 rounds and never raise)
    full, full_lin = greedy_coloring(spark, adj, vids, num_blocks=2, priority="id")
    want = {(r["id"], r["color"]) for r in full.collect()}

    with pytest.raises(RuntimeError, match="max_iter"):
        greedy_coloring(
            spark, adj, vids, num_blocks=2, checkpoint_dir=ckdir,
            run_id="col1", max_iter=3, priority="id",
        )
    part2, lin2 = greedy_coloring(
        spark, adj, vids, num_blocks=2, checkpoint_dir=ckdir, run_id="col1",
        priority="id",
    )
    got = {(r["id"], r["color"]) for r in part2.collect()}
    assert got == want
    assert lin2[-1]["superstep"] == len(full_lin) - 1


def test_msf_kill_and_resume(spark, tmp_path):
    """Borůvka resumes from the merged (component-map + forest)
    checkpoint; a long weighted path needs several rounds so max_iter=1
    stops genuinely mid-run (raising, per the non-fixpoint contract)."""
    from hipporag_spark.algo.mst import minimum_spanning_forest

    # alternating light/heavy weights: round-1 picks pair vertices up
    # (the heavy edges are nobody's minimum), so contraction halves the
    # component count each round -> a genuine multi-round cascade
    e = spark.createDataFrame(
        [(i, i + 1, float(i + 1) if i % 2 == 0 else float(100 + i))
         for i in range(16)],
        "src long, dst long, weight double",
    )
    ckdir = str(tmp_path / "ckmsf")

    full, full_lin = minimum_spanning_forest(spark, e, num_blocks=2)
    want = {(r["a"], r["b"], r["weight"]) for r in full.collect()}
    assert len(full_lin) > 2

    with pytest.raises(RuntimeError, match="max_iter"):
        minimum_spanning_forest(
            spark, e, num_blocks=2, checkpoint_dir=ckdir,
            run_id="msf1", max_iter=1,
        )
    part2, lin2 = minimum_spanning_forest(
        spark, e, num_blocks=2, checkpoint_dir=ckdir, run_id="msf1"
    )
    got = {(r["a"], r["b"], r["weight"]) for r in part2.collect()}
    assert got == want
    assert lin2[-1]["superstep"] == len(full_lin) - 1


@pytest.mark.parametrize(
    "algo,param,original,changed",
    [("coloring", "priority", "id", "ldf"), ("kcore", "k", 2, 3), ("katz", "alpha", 0.05, 0.1)],
)
def test_resume_refuses_changed_parameter(spark, tmp_path, algo, param, original, changed):
    """A killed run resumed with a different result-affecting parameter
    raises ValueError naming it (it would otherwise mix two computations
    in one run); resuming with only ``max_iter`` changed continues the
    checkpointed run."""
    from hipporag_spark.algo.coloring import greedy_coloring
    from hipporag_spark.algo.katz import katz_centrality
    from hipporag_spark.algo.kcore import k_core

    n = 9
    e = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(n - 1)], "src long, dst long, weight double"
    )
    adj = adjacency(e).persist()
    vids = spark.range(n).select(F.col("id"))
    run = {
        "coloring": lambda **kw: greedy_coloring(spark, adj, vids, num_blocks=2, **kw),
        "kcore": lambda **kw: k_core(spark, adj, vids, num_blocks=2, **kw),
        "katz": lambda **kw: katz_centrality(spark, adj, vids, num_blocks=2, **kw),
    }[algo]
    ck = {"checkpoint_dir": str(tmp_path / algo), "run_id": "p1"}

    # killed after 2 supersteps (coloring raises on exhaustion, by contract)
    try:
        run(max_iter=2, **{param: original}, **ck)
    except RuntimeError:
        pass
    assert CheckpointManager(ck["checkpoint_dir"], "p1").latest_complete() == 1

    with pytest.raises(ValueError, match=param):
        run(max_iter=12, **{param: changed}, **ck)

    _, lin = run(max_iter=12, **{param: original}, **ck)
    assert [entry["superstep"] for entry in lin] == list(range(len(lin)))
    assert len(lin) > 2 and "algorithm" in lin[1]  # 0-1 replayed, then fresh


@pytest.mark.parametrize("param,original,changed", [("damping", 0.5, 0.85), ("num_blocks", 4, 2)])
def test_ppr_resume_refuses_changed_parameter(spark, tmp_path, param, original, changed):
    """Blocked PPR resumed with another damping (two computations in one
    run) or block count (packed rows that do not fit the new blocks)
    raises ValueError naming the parameter; the original values resume."""
    n = 40
    _, adj, st, vids = _graph(spark, n, 160, seed=23)
    kw = {"damping": 0.5, "num_blocks": 4, "checkpoint_dir": str(tmp_path / "ck"), "run_id": "p1"}
    run = lambda **over: personalized_pagerank(spark, adj, st, vids, n_vertices=n, **{**kw, **over})

    run(max_iter=2)
    assert CheckpointManager(kw["checkpoint_dir"], "p1").latest_complete() == 1

    with pytest.raises(ValueError, match=param):
        run(**{param: changed})

    _, lin = run(**{param: original})
    assert lin[-1]["converged"]
    assert [entry["superstep"] for entry in lin] == list(range(len(lin)))
