"""Fact rerank — the reference's "recognition memory" stage, pluggable.

Reference: top ``link_top_k`` facts go to a DSPy LLM filter whose output is
matched back to candidates by closest string match
(``/root/reference/src/hipporag/HippoRAG.py:1522-1570``,
``rerank.py:15-131``). The LLM itself is outside engine scope; the engine
contract is the stage's dataflow: candidates in → (subset, order
preserved) out, with a difflib-style closest-match guard against filters
that return mutated strings.

``DeterministicFilter`` (default) keeps facts whose score clears a
threshold — deterministic, dependency-free. Any callable
``list[str] -> list[str]`` (e.g. a real LLM client) plugs in unchanged.
In the broadcast retrieval regime the engine calls the filter inside the
retrieve task (:mod:`.snapshot`), so it must pickle to the executors.
"""

from __future__ import annotations

import difflib
from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


class DeterministicFilter:
    """Keep candidates scoring ≥ threshold (all by default)."""

    def __init__(self, min_score: float = 0.0):
        self.min_score = min_score

    def __call__(self, facts_with_scores: list[tuple[str, float]]) -> list[str]:
        return [f for f, s in facts_with_scores if s >= self.min_score]


def closest_match(returned: list[str], candidates: list[str], cutoff: float = 0.6) -> list[str]:
    """Map possibly-mutated filter outputs back onto real candidates
    (difflib, mirroring ``rerank.py:108-131``); drops non-matches,
    preserves candidate identity."""
    out = []
    for r in returned:
        if r in candidates:
            out.append(r)
            continue
        m = difflib.get_close_matches(r, candidates, n=1, cutoff=cutoff)
        if m:
            out.append(m[0])
    # stable dedup
    seen: set[str] = set()
    return [x for x in out if not (x in seen or seen.add(x))]


def rerank_facts(
    top_fact_df: DataFrame,
    filter_fn: Callable[[list[tuple[str, float]]], list[str]] | None = None,
) -> DataFrame:
    """Apply the (driver-side, per-query) filter to the small top-k fact
    table. The candidate set is ≤ link_top_k rows per query by
    construction, so collecting it is a metadata-sized action — exactly the
    LLM-boundary shape of the reference."""
    if filter_fn is None:
        filter_fn = DeterministicFilter()
    rows = top_fact_df.select("query_id", "hash_id", "content", "score").collect()
    by_q: dict[str, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    keep: list[tuple[str, str]] = []
    for q, rs in by_q.items():
        cands = [r["content"] for r in rs]
        returned = filter_fn([(r["content"], r["score"]) for r in rs])
        kept = set(closest_match(returned, cands))
        keep.extend((q, r["hash_id"]) for r in rs if r["content"] in kept)
    spark = top_fact_df.sparkSession
    if not keep:
        return top_fact_df.limit(0)
    keep_df = spark.createDataFrame(keep, "query_id string, hash_id string")
    return top_fact_df.join(F.broadcast(keep_df), ["query_id", "hash_id"], "left_semi")
