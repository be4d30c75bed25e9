"""Cluster-portable storage routing.

Two concerns the north rule makes explicit ("resumable from checkpoint …
on a multi-executor cluster via spark-submit") that plain ``os.*`` IO
cannot serve:

1. **Small-file IO (checkpoint manifests) on any Hadoop-FS URI.** The
   rank/label state already goes through Spark readers/writers (works with
   ``hdfs://``, ``s3a://``, ``file://``, plain paths); the manifest JSONs
   previously used driver-local ``open``/``os.listdir`` and silently pinned
   the checkpoint dir to the driver's disk. The helpers here route the same
   operations through the JVM's ``org.apache.hadoop.fs.FileSystem`` —
   resolved per-path, so one run may mix schemes.

2. **A scratch root for materialized intermediate results.** Iterative
   engines return DataFrames whose backing ``localCheckpoint`` blocks the
   NEXT run would otherwise have to keep alive forever (or hard-free,
   invalidating the previous caller's still-lazy result — round-2 ADVICE).
   :func:`spill_df` re-homes a result to parquet under the scratch root and
   returns the re-read: lineage-truncated, valid regardless of later runs,
   and cluster-safe when ``SPARK_GRAFT_SCRATCH_DIR`` points at shared
   storage. Locally it falls back to the RAM-backed spill dirs of
   :mod:`.nputil`. A small LRU bounds scratch usage: the last
   ``SPILL_KEEP`` spills stay readable, older ones are deleted — callers
   holding results across more than ``SPILL_KEEP`` subsequent runs must
   collect or persist them (documented at the public PPR API).
"""

from __future__ import annotations

import os
import uuid
from collections import deque

from pyspark.sql import DataFrame, SparkSession

from .nputil import make_spill_dir, release_spill_dir

__all__ = [
    "fs_write_text",
    "fs_read_text",
    "fs_exists",
    "fs_list_names",
    "fs_delete",
    "fs_mkdirs",
    "scratch_dir",
    "spill_df",
    "SPILL_KEEP",
]


def _fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` — scheme-resolved, so hdfs:///s3a://
    /file:///plain paths all work with the cluster's Hadoop configuration."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def _spark(spark: SparkSession | None) -> SparkSession:
    s = spark or SparkSession.getActiveSession()
    if s is None:
        raise RuntimeError("no active SparkSession for filesystem IO")
    return s


def fs_write_text(spark: SparkSession | None, path: str, text: str) -> None:
    """Write ``text`` to ``path`` atomically (tmp file + rename — rename is
    the Hadoop-FS commit primitive; HDFS/local rename is atomic)."""
    spark = _spark(spark)
    fs, jpath = _fs(spark, path)
    tmp = spark._jvm.org.apache.hadoop.fs.Path(
        f"{os.path.dirname(path)}/.{os.path.basename(path)}.{uuid.uuid4().hex[:8]}.tmp"
    )
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    if fs.exists(jpath):
        fs.delete(jpath, False)
    fs.rename(tmp, jpath)


def fs_read_text(spark: SparkSession | None, path: str) -> str:
    spark = _spark(spark)
    fs, jpath = _fs(spark, path)
    stream = fs.open(jpath)
    try:
        # hadoop-common's IOUtils (always on Spark's classpath) drains the
        # stream fully regardless of FS block size
        jvm = spark._jvm
        baos = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 65536, False)
        data = baos.toByteArray()
    finally:
        stream.close()
    return bytes(data).decode("utf-8")


def fs_exists(spark: SparkSession | None, path: str) -> bool:
    spark = _spark(spark)
    fs, jpath = _fs(spark, path)
    return bool(fs.exists(jpath))


def fs_list_names(spark: SparkSession | None, path: str) -> list[str]:
    """Child names (not full paths) of a directory; [] if absent."""
    spark = _spark(spark)
    fs, jpath = _fs(spark, path)
    if not fs.exists(jpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(jpath)]


def fs_delete(spark: SparkSession | None, path: str, recursive: bool = True) -> None:
    spark = _spark(spark)
    fs, jpath = _fs(spark, path)
    if fs.exists(jpath):
        fs.delete(jpath, recursive)


def fs_mkdirs(spark: SparkSession | None, path: str) -> None:
    spark = _spark(spark)
    fs, jpath = _fs(spark, path)
    fs.mkdirs(jpath)


# ---------------------------------------------------------------------------
# scratch root + result spill
# ---------------------------------------------------------------------------

SPILL_KEEP = int(os.environ.get("SPARK_GRAFT_SPILL_KEEP", "4"))

# (spark-weakref-free) LRU of spilled result dirs; oldest evicted past
# SPILL_KEEP. Entries are (path,) — deletion routed through fs_delete so a
# remote scratch root is cleaned the same way.
_RANK_SPILLS: deque = deque()


def scratch_dir(prefix: str) -> str:
    """A unique scratch directory for one materialized result.

    ``SPARK_GRAFT_SCRATCH_DIR`` (any Hadoop-FS URI, e.g. an hdfs:// path
    shared by all executors) routes spills to cluster storage; without it,
    a local RAM-backed dir (atexit-removed, orphan-swept) stands in — valid
    because local mode's executors share the driver host.
    """
    root = os.environ.get("SPARK_GRAFT_SCRATCH_DIR")
    if root:
        return f"{root.rstrip('/')}/{prefix}{os.getpid()}_{uuid.uuid4().hex[:12]}"
    return make_spill_dir(prefix)


# separate registry from _RANK_SPILLS: iterative loops reset stats every
# few supersteps, and sharing the result-spill LRU would evict results a
# caller still holds under its documented SPILL_KEEP retention contract
_ITER_SPILLS: deque = deque()
ITER_SPILL_KEEP = int(os.environ.get("SPARK_GRAFT_ITER_SPILL_KEEP", "4"))


def truncate_stats(df: DataFrame, prefix: str = "hipporag_iterstate_") -> DataFrame:
    """Parquet round-trip through the scratch root to RESET carried plan
    statistics (returns the re-read, whose leaf stats are the real file
    size).

    Why this exists: ``Dataset.localCheckpoint`` copies the source plan's
    estimated ``sizeInBytes`` into the new ``LogicalRDD`` leaf
    (``LogicalRDD.rewriteStatsAndConstraints``), and Catalyst's non-CBO
    join estimate is the BigInt PRODUCT of the children. An iterative job
    whose superstep joins the previous state leaf m>1 times (min-label +
    pointer jump: m=4) therefore multiplies the estimate's DIGIT COUNT by
    m every round — measured as exponential driver-side planning time
    (4096-chain CC: per-round wall 0.9s → 5.7s over the last 5 of 13
    rounds, jstack pinned in ``BigInteger.multiplyToomCook3`` under
    ``SizeInBytesOnlyStatsPlanVisitor``). Durable-checkpoint runs never
    see this (CheckpointManager state is parquet-backed); in-memory runs
    call this every few supersteps to keep digit growth bounded. At
    cluster scale the write goes to ``SPARK_GRAFT_SCRATCH_DIR`` shared
    storage; locally it lands on the RAM-backed spill dir."""
    spark = df.sparkSession
    path = scratch_dir(prefix)
    df.write.mode("overwrite").parquet(path)
    out = spark.read.parquet(path)
    _ITER_SPILLS.append(path)
    while len(_ITER_SPILLS) > ITER_SPILL_KEEP:
        old = _ITER_SPILLS.popleft()
        try:
            fs_delete(spark, old)
        except Exception:
            pass
        release_spill_dir(old)
    return out


# supersteps between stat resets in the in-memory iterative loops: digits
# grow ≤4× per round, so 6 rounds from a parquet leaf (~6 digits) stays
# ≤ ~25k digits — cheap BigInt territory
STATS_RESET_EVERY = 6


def spill_df(df: DataFrame, prefix: str = "hipporag_spill_") -> DataFrame:
    """Materialize ``df`` to parquet under the scratch root, return the
    re-read. The result is plan-truncated and stays valid after the blocks
    / caches backing ``df`` are released — the durable replacement for the
    round-2 pattern of deferring ``free_local_checkpoint`` of a returned
    result to the NEXT run (which broke any caller still holding the
    previous result). Only the last :data:`SPILL_KEEP` spills are retained."""
    spark = df.sparkSession
    path = scratch_dir(prefix)
    df.write.mode("overwrite").parquet(path)
    out = spark.read.parquet(path)
    _RANK_SPILLS.append(path)
    while len(_RANK_SPILLS) > SPILL_KEEP:
        old = _RANK_SPILLS.popleft()
        try:
            fs_delete(spark, old)  # works for remote URIs and local paths
        except Exception:
            pass
        release_spill_dir(old)  # rmtree no-op if already gone; deregisters
    return out
