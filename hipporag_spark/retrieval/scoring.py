"""Query-time scoring: facts, DPR, reset-vector build, doc ranking.

Reference pipeline (``/root/reference/src/hipporag/HippoRAG.py:363-449``):

1. fact scores = minmax(query · fact_embeddings)      (1290-1328)
2. rerank top ``link_top_k`` facts                    (1522-1570; the LLM
   filter is pluggable — deterministic default keeps all, §2.3)
3. reset vector: per top fact, subject & object phrase accumulate
   ``fact_score``, averaged over occurrences, then divided by the phrase's
   chunk count; only the top ``link_top_k`` phrases kept  (1437-1486)
   + every passage node gets ``0.05 × minmax(dpr_score)``  (1488-1501)
4. PPR with damping 0.5 → passage scores → top ``retrieval_top_k``  (1572-1611)

All steps are DataFrame ops; query embedding is a broadcast literal array.
Multi-query batching: every function takes/propagates a ``query_id`` column
so Q queries run as ONE lineage (the reference loops per query).

Which path runs: ``LinkGraphEngine.retrieve`` uses this chain only in the
csr/checkpointed regime (graphs above ``BROADCAST_EDGE_LIMIT``, a
``checkpoint_dir``, or an explicit non-broadcast ``engine``). In the
broadcast regime it runs :mod:`.snapshot`'s fused kernel instead: the same
steps, bitwise the same scores and tie-breaks, in one Spark job, with the
``rerank_filter`` running inside the task (so it must be picklable). These
functions stay public: they are the reference the fused path is tested
against.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

LINK_TOP_K = 5  # config_utils.py:172-175
RETRIEVAL_TOP_K = 200  # config_utils.py:176-179
PASSAGE_NODE_WEIGHT = 0.05  # config_utils.py:79-82


def dot_score(emb_col, qvec: list[float]):
    """JVM-side dot product: zip_with + aggregate (no Python)."""
    q = F.array(*[F.lit(float(x)) for x in qvec])
    return F.aggregate(
        F.zip_with(emb_col, q, lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def minmax(df: DataFrame, col: str, out: str, by: str | None = None) -> DataFrame:
    """Min-max normalize; constant input → all ones
    (``misc_utils.py:104-113``). ``by`` = per-group (per-query) normalize."""
    w = Window.partitionBy(by) if by else Window.partitionBy()
    lo, hi = F.min(col).over(w), F.max(col).over(w)
    rng = hi - lo
    return df.withColumn(
        out, F.when(rng == 0, F.lit(1.0)).otherwise((F.col(col) - lo) / rng)
    )


def score_store(store: DataFrame, queries: list[tuple[str, list[float]]]) -> DataFrame:
    """Score every row of an embedding store against each query.

    Returns ``(query_id, hash_id, content, score)`` with per-query min-max
    normalized scores. Queries enter as a broadcast literal table (tiny).
    """
    spark = store.sparkSession
    qdf = spark.createDataFrame(
        [(qid, [float(x) for x in vec]) for qid, vec in queries],
        "query_id string, qvec array<double>",
    )
    scored = store.crossJoin(F.broadcast(qdf)).withColumn(
        "raw",
        F.aggregate(
            F.zip_with(
                F.col("embedding"), F.col("qvec"), lambda a, b: a.cast("double") * b
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    return minmax(scored, "raw", "score", by="query_id").select(
        "query_id", "hash_id", "content", "score"
    )


def top_facts(fact_scores: DataFrame, link_top_k: int = LINK_TOP_K) -> DataFrame:
    """Per-query top-k facts by score (the rerank candidate set,
    ``HippoRAG.py:1528-1533``); deterministic tie-break on hash_id."""
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("hash_id"))
    return (
        fact_scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= link_top_k)
        .drop("rank")
    )


def phrase_weights(
    top_fact_df: DataFrame,
    fact_table: DataFrame,
    chunk_counts: DataFrame,
    link_top_k: int = LINK_TOP_K,
) -> DataFrame:
    """Reset weights for phrase (entity) vertices (``HippoRAG.py:1437-1481``).

    For each selected fact, subject and object phrases accumulate the fact
    score; each phrase's total is AVERAGED over its occurrences and divided
    by how many chunks contain the phrase (when > 0). Then only the global
    top ``link_top_k`` phrases per query are kept (``HippoRAG.py:1368-1405``
    — keeping top-k IS the dense zeroing re-expressed).

    fact_table: ``(hash_id, subj_key, obj_key)``;
    chunk_counts: ``(entity_name, num_chunks)`` from the passage-edge table.
    """
    pairs = (
        top_fact_df.join(fact_table, "hash_id")
        .select(
            "query_id",
            "score",
            F.explode(F.array("subj_key", "obj_key")).alias("entity_name"),
        )
    )
    acc = pairs.groupBy("query_id", "entity_name").agg(F.avg("score").alias("avg_score"))
    weighted = (
        acc.join(chunk_counts, "entity_name", "left_outer")
        .withColumn(
            "weight",
            F.when(
                F.coalesce(F.col("num_chunks"), F.lit(0)) > 0,
                F.col("avg_score") / F.col("num_chunks"),
            ).otherwise(F.col("avg_score")),
        )
        .select("query_id", "entity_name", "weight")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("weight"), F.asc("entity_name"))
    return (
        weighted.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= link_top_k)
        .drop("rank")
    )


def passage_weights(dpr_scores: DataFrame, passage_node_weight: float = PASSAGE_NODE_WEIGHT) -> DataFrame:
    """``0.05 × minmax(dpr)`` on every passage node (``HippoRAG.py:1488-1501``).
    dpr_scores already per-query min-max normalized by score_store."""
    return dpr_scores.select(
        "query_id",
        F.col("hash_id").alias("entity_name"),
        (F.col("score") * F.lit(passage_node_weight)).alias("weight"),
    )


def build_reset(
    phrase_w: DataFrame, passage_w: DataFrame, verts: DataFrame
) -> DataFrame:
    """Union phrase + passage weights, resolve names → vertex ids.

    Returns ``(query_id, id, weight)`` — the personalization table PPR
    broadcasts per query.
    """
    allw = phrase_w.unionByName(passage_w)
    return allw.join(
        verts.select(F.col("name").alias("entity_name"), "id"), "entity_name"
    ).select("query_id", "id", "weight")


def rank_docs(
    ranks: DataFrame, verts: DataFrame, retrieval_top_k: int = RETRIEVAL_TOP_K
) -> DataFrame:
    """PPR scores at passage vertices → per-query top-k docs
    (``HippoRAG.py:1608-1611``). ``ranks``: (query_id, id, value)."""
    passages = verts.filter(F.col("ntype") == "passage").select("id", F.col("name").alias("chunk_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("value"), F.asc("chunk_id"))
    return (
        ranks.join(passages, "id")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= retrieval_top_k)
        .select("query_id", "chunk_id", F.col("value").alias("score"), "rank")
    )
