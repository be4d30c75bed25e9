"""SparkSession construction tuned for the link-graph workload.

Local mode stands in for a multi-executor cluster in this sandbox; all
partitioning decisions below are made as if each of the N threads were a
separate executor (no reliance on shared driver memory beyond broadcast
variables, no ``collect()`` of large data).

The driver heap (``spark.driver.memory``) defaults to half of the memory
this process may use: the smaller of the host's physical RAM and the memory
cgroup limit, rounded down to whole GiB, at least ``1g``. The other half is
left for what the heap cap does not cover: JVM overhead above the heap, the
Python workers ``local[p]`` forks, and the shuffle/spill dirs this module
puts on ``/dev/shm`` (tmpfs, charged to the same RAM). A heap cap above the
usable memory lets G1 grow the heap until the kernel's OOM killer takes the
JVM. ``SPARK_GRAFT_DRIVER_MEM`` overrides the default and is passed to Spark
as given; a value larger than the usable memory is logged as a warning.

Python workers start from :mod:`hipporag_spark.pyworker` as the daemon module
(``spark.python.daemon.module``). Spark's own daemon makes every Python task
re-read the central directories of ``pyspark.zip``, the py4j zip and the
spark-core jar, about half the fixed cost of a pandas stage on a 4-core host;
the package's daemon re-reads an archive only when it has changed. Spark runs
the daemon as ``python -m`` in the driver's working directory with the
driver's ``PYTHONPATH``, so :func:`get_spark` sets it only when one of those
holds this package. Sessions started by ``spark-submit --py-files``
(``scripts/run_job.py``) do not use it: there the package reaches a worker's
``sys.path`` per task, after the daemon has started. ``extra_conf`` can
override the setting like any other.
"""

from __future__ import annotations

import logging
import os
import re
import tempfile

from pyspark.sql import SparkSession


log = logging.getLogger(__name__)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


_CGROUP_LIMIT_FILES = (
    "/sys/fs/cgroup/memory.max",  # cgroup v2
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
)


def usable_memory_bytes() -> int:
    """Memory this process may use: the smaller of physical RAM and the
    memory cgroup limit, where one is set ("max" or v1's near-2^63 sentinel
    both lose the min)."""
    limit = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in _CGROUP_LIMIT_FILES:
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            limit = min(limit, int(raw))
    return limit


_UNIT_SHIFT = {"": 20, "b": 0, "k": 10, "m": 20, "g": 30, "t": 40, "p": 50}


def _memory_string_bytes(value: str) -> int | None:
    """Bytes in a Spark memory string ("7g", "512m", "2048" = MiB, Spark's
    default unit for ``spark.driver.memory``); None if it does not parse."""
    m = re.fullmatch(r"(\d+)\s*([bkmgtp]?)b?", value.strip().lower())
    return int(m.group(1)) << _UNIT_SHIFT[m.group(2)] if m else None


def driver_memory() -> str:
    """``spark.driver.memory`` for :func:`get_spark`: ``SPARK_GRAFT_DRIVER_MEM``
    as given (warning when it exceeds the usable memory), else half of the
    usable memory in whole GiB, at least ``1g``."""
    usable = usable_memory_bytes()
    explicit = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if explicit:
        requested = _memory_string_bytes(explicit)
        if requested is not None and requested > usable:
            log.warning(
                "SPARK_GRAFT_DRIVER_MEM=%s exceeds the %.1f GiB of memory this "
                "process may use; the JVM may be OOM-killed once its heap grows",
                explicit,
                usable / 2**30,
            )
        return explicit
    return f"{max(1, (usable // 2) >> 30)}g"


# RAM-backed shuffle dirs are only safe while tmpfs has real headroom: a
# large shuffle landing in a nearly-full /dev/shm fails jobs with ENOSPC
# instead of spilling to disk. Below this much free space, fall back to disk
# and say so in a warning.
_SHM_MIN_FREE_BYTES = 8 << 30


def _local_dir() -> str:
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override:
        return override
    if os.path.isdir("/dev/shm"):
        st = os.statvfs("/dev/shm")
        free = st.f_bavail * st.f_frsize
        if free >= _SHM_MIN_FREE_BYTES:
            # per-pid subdir: concurrent sessions must not share (or
            # cross-delete) shuffle dirs; dead owners' dirs are swept like
            # the numpy spill dirs (atexit never runs on SIGKILL)
            from .nputil import _register_spill_dir, _sweep_orphans

            _sweep_orphans("/dev/shm", "spark_local_")
            path = f"/dev/shm/spark_local_{os.getpid()}_0"
            os.makedirs(path, exist_ok=True)
            _register_spill_dir(path)  # atexit removal on clean shutdown
            return path
        log.warning(
            "/dev/shm has %.1f GiB free, below the %d GiB headroom for "
            "RAM-backed shuffle dirs; spark.local.dir falls back to %s (disk)",
            free / 2**30,
            _SHM_MIN_FREE_BYTES >> 30,
            tempfile.gettempdir(),
        )
    return tempfile.gettempdir()


_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _daemon_conf() -> dict[str, str]:
    """``spark.python.daemon.module`` for :func:`get_spark`, when the daemon's
    ``python -m`` can import this package: the working directory or a
    ``PYTHONPATH`` entry is the package's parent."""
    roots = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    if any(os.path.isdir(p) and os.path.samefile(p, _PACKAGE_ROOT) for p in roots):
        return {"spark.python.daemon.module": "hipporag_spark.pyworker"}
    return {}


def get_spark(
    parallelism: int | None = None,
    app_name: str = "hipporag_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession on ``local[parallelism]``.

    ``shuffle_partitions`` defaults to the parallelism level: at 100 TB
    scale the equivalent knob is #executors × cores × 2-3; here we keep
    partition count == core count so local benchmarking reflects
    per-core throughput honestly.
    """
    p = parallelism or default_parallelism()
    sp = shuffle_partitions or p
    builder = (
        SparkSession.builder.master(f"local[{p}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.default.parallelism", str(p))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # small inputs arrive as one file = one partition; without a lower
        # split size every compute-heavy map stage runs on ONE core
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        # shuffle/spill local dirs: on a real cluster these are
        # executor-local NVMe; this sandbox's /tmp sits on one shared
        # virtual disk whose bandwidth serializes every core's shuffle
        # writes, so RAM-backed dirs are the representative stand-in
        .config("spark.local.dir", _local_dir())
    )
    # NOTE (negative result, measured): -Xms$MEM -XX:+AlwaysPreTouch was
    # tried here to absorb this host's intermittent 10-100× first-touch
    # stalls at session startup. It made things WORSE: every pre-touch run
    # (12g/24g/48g) degraded the first ~4 minutes of queries 3-9×
    # (graph_build 19s → 139-178s) while a same-window control without it
    # was clean — consistent with the hypervisor KSM-merging the freshly
    # zeroed heap and re-breaking the pages under load. Don't re-add it.
    for k, v in {**_daemon_conf(), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
