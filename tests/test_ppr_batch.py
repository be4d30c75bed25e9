"""Batched multi-source PPR must equal Q independent single-source runs."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from hipporag_spark.algo.ppr import personalized_pagerank, personalized_pagerank_batch
from hipporag_spark.graph.build import adjacency, strength

from oracles import ppr_reference, random_multigraph


def test_unknown_engine_raises():
    """Only "csr" and "broadcast" exist; any other engine value is refused
    before any Spark work starts."""
    for engine in ("dataframe", "auto"):
        with pytest.raises(ValueError, match=engine):
            personalized_pagerank(None, None, None, None, engine=engine)
        with pytest.raises(ValueError, match=engine):
            personalized_pagerank_batch(None, None, None, None, None, engine=engine)


@pytest.mark.parametrize(
    "engine,check_every,num_blocks",
    [
        ("csr", 1, 4),
        # num_blocks=1 exercises the fused single-block kernel, chained
        ("csr", 4, 1),
        ("broadcast", 1, 4),
    ],
)
def test_batch_matches_single_and_oracle(spark, engine, check_every, num_blocks):
    n, m = 50, 220
    edges = random_multigraph(n, m, seed=19)
    e = spark.createDataFrame(edges, "src long, dst long, weight double")
    adj = adjacency(e).persist()
    st = strength(adj).persist()
    vids = spark.range(n).select(F.col("id"))

    resets = {
        "q1": {2: 1.0},
        "q2": {5: 0.25, 9: 0.75},
        "q3": {},  # all-zero → uniform
    }
    rows = [(q, i, w) for q, rs in resets.items() for i, w in rs.items()]
    rows.append(("q3", 0, 0.0))  # zero entry only
    reset_df = spark.createDataFrame(rows, "query_id string, id long, weight double")

    ranks, lineage = personalized_pagerank_batch(
        spark, adj, st, vids, reset_df, n_vertices=n, num_blocks=num_blocks,
        engine=engine, check_every=check_every,
    )
    got = {q: np.zeros(n) for q in resets}
    for r in ranks.collect():
        got[r["query_id"]][r["id"]] = r["value"]

    for q, rs in resets.items():
        rvec = np.zeros(n)
        for i, w in rs.items():
            rvec[i] = w
        want = ppr_reference(n, edges, rvec, 0.5)
        assert np.allclose(got[q], want, atol=1e-6), q

    assert lineage[-1]["converged"]
    # per-query lineage present
    qs_in_metrics = {p["query_id"] for p in lineage[-1]["partitions"]}
    assert qs_in_metrics == set(resets)


def test_executor_spill_coo_matches_driver_build(spark, monkeypatch, tmp_path):
    """Forcing the parts layout (executor-written edge partitions, no
    driver edge pull) must produce byte-identical PPR to the driver-built
    COO — same (dst, src) global sort, same accumulation order."""
    import hipporag_spark.algo.ppr as pprmod

    n, m = 80, 700
    edges = random_multigraph(n, m, seed=23)
    e = spark.createDataFrame(edges, "src long, dst long, weight double")
    adj = adjacency(e).persist()
    st = strength(adj).persist()
    vids = spark.range(n).select(F.col("id"))

    monkeypatch.setattr(pprmod, "COO_EXECUTOR_SPILL_MIN", 1)
    coo = pprmod.collect_graph_coo(adj, st, vids, mmap_dir=str(tmp_path / "coo"))
    assert coo.get("layout") == "parts"
    # nothing E-sized crossed the driver: the returned dict carries only
    # scalars/None — the arrays live as .npy next to the part files
    assert coo["ids"] is None and "src" not in coo

    resets = {"a": {3: 1.0}, "b": {7: 0.5, 11: 0.5}}
    rows = [(q, i, w) for q, rs in resets.items() for i, w in rs.items()]
    reset_df = spark.createDataFrame(rows, "query_id string, id long, weight double")
    ranks, lineage = personalized_pagerank_batch(
        spark, adj, st, vids, reset_df, n_vertices=n,
        engine="broadcast", graph_coo=coo,
    )
    got = {q: np.zeros(n) for q in resets}
    for r in ranks.collect():
        got[r["query_id"]][r["id"]] = r["value"]
    for q, rs in resets.items():
        rvec = np.zeros(n)
        for i, w in rs.items():
            rvec[i] = w
        want = ppr_reference(n, edges, rvec, 0.5)
        assert np.allclose(got[q], want, atol=1e-6), q
    assert lineage[-1]["converged"]
