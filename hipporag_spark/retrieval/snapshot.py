"""Retrieval snapshot: the query-time inputs of one GraphState as NumPy
arrays, and the fused retrieve kernel that reads them.

In the broadcast regime ``LinkGraphEngine.retrieve`` runs ONE
``mapInPandas`` job over the query rows. Each task reads the snapshot and
the graph COO (both broadcast once per GraphState) and does, per query,
the whole reference pipeline of :mod:`.scoring` (``HippoRAG.py:363-449``):
fact scores, top ``link_top_k`` facts, the rerank hook, phrase and passage
weights, the reset vector, PPR to convergence, passage top-k — or the pure
DPR ranking when no fact is left (``HippoRAG.py:417-419``). The DataFrame
chain in :mod:`.scoring` does the same in about 40 jobs; at serving sizes
the jobs, not the arithmetic, were the cost.

The arithmetic and every tie-break equal the DataFrame chain's: each dot
product accumulates left to right over the dimensions in float64, like the
JVM ``aggregate(zip_with(...))`` of ``score_store``, so scores are bitwise
equal and top-k sets cannot drift; ties break on ``hash_id`` (facts,
DPR), ``entity_name`` (phrases) and ``chunk_id`` (passages), as the
DataFrame windows order them.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .embeddings import DIM
from .rerank import closest_match
from .scoring import PASSAGE_NODE_WEIGHT

RESULT_SCHEMA = "query_id string, chunk_id string, score double, rank int"
QUERY_SCHEMA = "query_id string, fact_q array<double>, dpr_q array<double>"
# PPR stopping rule: personalized_pagerank_batch's defaults, as the
# DataFrame chain runs it
PPR_TOL = 1e-6
PPR_MAX_ITER = 100


@dataclass
class RetrievalSnapshot:
    fact_content: np.ndarray  # (F,) fact text by ascending hash_id; the rerank hook sees it
    fact_subj: np.ndarray  # (F,) subject entity key, None if absent from fact_table()
    fact_obj: np.ndarray  # (F,) object entity key
    fact_emb: np.ndarray  # (DIM, F) float32: row j = dimension j of every fact
    chunk_ids: np.ndarray  # (C,) chunk hash_ids, ascending
    chunk_emb: np.ndarray  # (DIM, C) float32
    chunk_vid: np.ndarray  # (C,) vertex id of each chunk, -1 when it has none
    vertex_id: dict  # vertex name -> vertex id
    chunk_counts: dict  # entity name -> number of chunks containing it
    passage_ids: np.ndarray  # (P,) passage vertex ids, ordered by name
    passage_names: np.ndarray  # (P,) passage names (chunk ids), ascending


def _embedding_matrix(col: pd.Series) -> np.ndarray:
    if len(col) == 0:
        return np.empty((DIM, 0), dtype=np.float32)
    return np.ascontiguousarray(np.stack(col.to_numpy()).astype(np.float32).T)


def build_snapshot(state, fact_table: DataFrame) -> RetrievalSnapshot:
    """Collect the snapshot of ``state`` (an engine ``GraphState``);
    ``fact_table``: ``(hash_id, subj_key, obj_key)``."""
    facts = (
        state.fact_store.select("hash_id", "content", "embedding")
        .join(fact_table, "hash_id", "left")
        .toPandas()
        .sort_values("hash_id", kind="stable")
    )
    chunks = state.chunk_store.select("hash_id", "embedding").toPandas().sort_values(
        "hash_id", kind="stable"
    )
    verts = state.verts.select("id", "name", "ntype").toPandas()
    counts = state.chunk_counts.toPandas()

    vertex_id = dict(zip(verts["name"], verts["id"].astype(np.int64)))
    passages = verts[verts["ntype"] == "passage"].sort_values("name", kind="stable")
    chunk_ids = chunks["hash_id"].to_numpy(dtype=object)
    return RetrievalSnapshot(
        fact_content=facts["content"].to_numpy(dtype=object),
        fact_subj=facts["subj_key"].to_numpy(dtype=object),
        fact_obj=facts["obj_key"].to_numpy(dtype=object),
        fact_emb=_embedding_matrix(facts["embedding"]),
        chunk_ids=chunk_ids,
        chunk_emb=_embedding_matrix(chunks["embedding"]),
        chunk_vid=np.array([vertex_id.get(c, -1) for c in chunk_ids], dtype=np.int64),
        vertex_id=vertex_id,
        chunk_counts=dict(zip(counts["entity_name"], counts["num_chunks"].astype(int))),
        passage_ids=passages["id"].to_numpy(dtype=np.int64),
        passage_names=passages["name"].to_numpy(dtype=object),
    )


def _minmax_scores(emb: np.ndarray, qvecs: np.ndarray) -> np.ndarray:
    """``(Q, N)`` per-query min-max normalized dot products of ``qvecs``
    ``(Q, DIM)`` with the ``(DIM, N)`` embedding matrix — bitwise what
    ``scoring.score_store`` computes: float32 embeddings widened to
    float64, products summed left to right from 0.0, constant rows → 1."""
    raw = np.zeros((qvecs.shape[0], emb.shape[1]))
    for j in range(emb.shape[0]):
        raw = raw + emb[j].astype(np.float64)[None, :] * qvecs[:, j : j + 1]
    if raw.shape[1] == 0:
        return raw
    lo = raw.min(axis=1, keepdims=True)
    rng = raw.max(axis=1, keepdims=True) - lo
    safe = np.where(rng == 0, 1.0, rng)
    return np.where(rng == 0, 1.0, (raw - lo) / safe)


def _ranked(scores: np.ndarray, k: int) -> np.ndarray:
    """Indices of the top ``k`` scores, descending; ties keep index order
    (every snapshot array is sorted by the tie-break key)."""
    return np.argsort(-scores, kind="stable")[:k]


def _top_facts(snap: RetrievalSnapshot, scores: np.ndarray, link_top_k: int, rerank_filter):
    """Indices of the query's facts after top-k and the rerank hook, in
    rank order (``scoring.top_facts`` + ``rerank.rerank_facts``)."""
    top = _ranked(scores, link_top_k)
    if rerank_filter is None or len(top) == 0:
        return top
    cands = [snap.fact_content[i] for i in top]
    returned = rerank_filter([(snap.fact_content[i], float(scores[i])) for i in top])
    kept = set(closest_match(returned, cands))
    return np.array([i for i in top if snap.fact_content[i] in kept], dtype=np.int64)


def _reset_entries(
    snap: RetrievalSnapshot,
    facts: np.ndarray,
    fact_scores: np.ndarray,
    dpr_scores: np.ndarray,
    link_top_k: int,
) -> tuple[np.ndarray, np.ndarray]:
    """``(vertex ids, weights)`` of one query's reset: phrase weights
    (``scoring.phrase_weights``) then ``0.05 × DPR`` passage weights
    (``scoring.passage_weights``), resolved to vertices like
    ``scoring.build_reset`` (names without a vertex drop out)."""
    occ: dict = {}
    for i in facts:
        for key in (snap.fact_subj[i], snap.fact_obj[i]):
            if isinstance(key, str):  # facts missing from fact_table() add no phrase
                occ.setdefault(key, []).append(float(fact_scores[i]))
    weights = []
    for name, ss in occ.items():
        avg = sum(ss) / len(ss)
        nc = snap.chunk_counts.get(name, 0)
        weights.append((name, avg / nc if nc > 0 else avg))
    weights.sort(key=lambda nw: (-nw[1], nw[0]))
    phrase = [(snap.vertex_id[n], w) for n, w in weights[:link_top_k] if n in snap.vertex_id]
    has_v = snap.chunk_vid >= 0
    rid = np.concatenate(
        [np.array([v for v, _ in phrase], dtype=np.int64), snap.chunk_vid[has_v]]
    )
    wt = np.concatenate(
        [
            np.array([w for _, w in phrase], dtype=np.float64),
            dpr_scores[has_v] * PASSAGE_NODE_WEIGHT,
        ]
    )
    return rid, wt


def make_retrieve_kernel(
    snap_bc,
    coo_bc,
    link_top_k: int,
    retrieval_top_k: int,
    damping: float,
    rerank_filter=None,
):
    """The ``mapInPandas`` function over :data:`QUERY_SCHEMA` rows →
    :data:`RESULT_SCHEMA` rows. All PPR queries of a task iterate in
    lockstep (``algo.ppr._iterate_lockstep``); PPR rows keep only nonzero
    passage scores, like ``scoring.rank_docs`` over the broadcast engine's
    nonzero ranks."""
    from ..algo.ppr import _iterate_lockstep, _reset_vector, _resolve_coo

    def kernel(batches):
        pdfs = [b for b in batches if len(b)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        snap = snap_bc.value
        qids = pdf["query_id"].tolist()
        fs = _minmax_scores(snap.fact_emb, np.stack(pdf["fact_q"].to_numpy()).astype(np.float64))
        ds = _minmax_scores(snap.chunk_emb, np.stack(pdf["dpr_q"].to_numpy()).astype(np.float64))
        rows: list[tuple] = []
        ppr_q, resets = [], []
        g = None
        for i, q in enumerate(qids):
            facts = _top_facts(snap, fs[i], link_top_k, rerank_filter)
            if len(facts) == 0:
                for r, c in enumerate(_ranked(ds[i], retrieval_top_k)):
                    rows.append((q, snap.chunk_ids[c], float(ds[i][c]), r + 1))
                continue
            if g is None:
                g = _resolve_coo(coo_bc.value)
            rid, wt = _reset_entries(snap, facts, fs[i], ds[i], link_top_k)
            ppr_q.append(q)
            resets.append(_reset_vector(g["n"], g["ids"], rid, wt))
        if ppr_q:
            ranks, _, _, _ = _iterate_lockstep(g, resets, float(damping), PPR_TOL, PPR_MAX_ITER)
            pos = snap.passage_ids if g["ids"] is None else np.searchsorted(g["ids"], snap.passage_ids)
            for q, r in zip(ppr_q, ranks):
                vals = r[pos]
                nz = np.nonzero(vals)[0]
                for k, p in enumerate(nz[_ranked(vals[nz], retrieval_top_k)]):
                    rows.append((q, snap.passage_names[p], float(vals[p]), k + 1))
        out = pd.DataFrame(rows, columns=["query_id", "chunk_id", "score", "rank"])
        yield out.astype({"rank": np.int32})

    return kernel


def query_rows(spark, fact_q: list, dpr_q: list) -> DataFrame:
    """One local row per query: ``fact_q``/``dpr_q`` are the
    ``(query_id, vector)`` lists of the two query embeddings. A local
    relation splits into min(Q, default parallelism) tasks."""
    pdf = pd.DataFrame(
        {
            "query_id": [q for q, _ in fact_q],
            "fact_q": [np.asarray(v, dtype=np.float64) for _, v in fact_q],
            "dpr_q": [np.asarray(v, dtype=np.float64) for _, v in dpr_q],
        }
    )
    return spark.createDataFrame(pdf, QUERY_SCHEMA)
