#!/usr/bin/env python
"""N vs 4N EXECUTOR scaling on a real standalone cluster (same box).

The local[N] vs local[4N] runs in :mod:`scaling_bench` vary thread count
inside ONE JVM. This harness varies the thing the north rule names — the
number of EXECUTORS — on a real multi-process Spark standalone topology:

    master JVM  +  N worker JVMs (1 core, own executor JVM each)
                vs 4N worker JVMs

with the SAME job submitted via ``spark-submit --py-files`` (the rule's
execution contract), identical input (deterministic synthetic edge table,
block count data-derived), and every Spark conf pinned identically across
the pair, so the only variable is executor count. Per-trial /proc/stat
steal%% is recorded like every other bench in this repo.

Workload: batch PPR through the packed block (shuffle) engine — the
beyond-memory 100 TB path, where each superstep moves Q·E multiply-adds
through a real inter-JVM shuffle (in local mode the "shuffle" never
crosses a process boundary; here it serializes through the block manager
between executor processes, which is exactly what a 1000-executor cluster
does per-node).

Caveat recorded with the numbers: all executor JVMs share one box's DRAM
channels, so the hardware ceiling measured by ``ppr_scale_worker``'s bare
-process calibration (same process counts) still applies; on a real
cluster each added node brings its own memory system.

Env: CLUSTER_SCALE_N (default 2 → pair is 2 vs 8 executors),
SCALE_E/V/Q (default 8M/500k/8 — the blocked_shuffle workload),
SCALE_TRIALS (default 3), CLUSTER_SCALE_WORKLOADS (csv, default
"blocked").  Prints ONE JSON line and writes it to
BENCH/cluster_scaling.json.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import socket
import subprocess
import sys
import time
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _spark_bin(name: str) -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", name)


def _wait_for(path: str, needle: str, timeout: float = 90.0) -> None:
    t0 = time.time()
    while time.time() - t0 < timeout:
        if os.path.exists(path) and needle in open(path, errors="replace").read():
            return
        time.sleep(0.5)
    tail = open(path, errors="replace").read()[-2000:] if os.path.exists(path) else "<no log>"
    raise TimeoutError(f"'{needle}' not seen in {path} within {timeout}s:\n{tail}")


class Cluster:
    def __init__(self, base: str):
        self.base = base
        self.env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        self.env["PYSPARK_PYTHON"] = sys.executable
        self.env["PYSPARK_DRIVER_PYTHON"] = sys.executable
        self.env["SPARK_LOG_DIR"] = base
        # executor shuffle/spill dirs: RAM-backed like get_spark's
        # _local_dir (this box's /tmp is one shared virtual disk)
        self.local_dirs = os.path.join("/dev/shm", f"cluster_scale_{os.getpid()}")
        os.makedirs(self.local_dirs, exist_ok=True)
        self.env["SPARK_LOCAL_DIRS"] = self.local_dirs
        port = _free_port()
        self.master_url = f"spark://127.0.0.1:{port}"
        mlog = os.path.join(base, "master.log")
        self.procs = [
            subprocess.Popen(
                [
                    _spark_bin("spark-class"), "org.apache.spark.deploy.master.Master",
                    "-h", "127.0.0.1", "-p", str(port), "--webui-port", str(_free_port()),
                ],
                stdout=open(mlog, "w"), stderr=subprocess.STDOUT, env=self.env,
            )
        ]
        _wait_for(mlog, f"Starting Spark master at {self.master_url}")
        self.workers: list[subprocess.Popen] = []

        zpath = os.path.join(base, "hipporag_spark.zip")
        pkg = os.path.join(REPO, "hipporag_spark")
        with zipfile.ZipFile(zpath, "w") as z:
            for root, _dirs, fnames in os.walk(pkg):
                for fn in fnames:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        z.write(full, os.path.relpath(full, REPO))
        self.zip = zpath

    def set_workers(self, n: int) -> None:
        self.stop_workers()
        for i in range(n):
            log = os.path.join(self.base, f"worker_{n}_{i}.log")
            p = subprocess.Popen(
                [
                    _spark_bin("spark-class"), "org.apache.spark.deploy.worker.Worker",
                    self.master_url, "-h", "127.0.0.1", "-c", "1", "-m", "4g",
                    "--webui-port", str(_free_port()),
                ],
                stdout=open(log, "w"), stderr=subprocess.STDOUT, env=self.env,
            )
            self.workers.append(p)
            _wait_for(log, "Successfully registered with master")

    def stop_workers(self) -> None:
        for p in self.workers:
            try:
                p.send_signal(signal.SIGKILL)
                p.wait(timeout=10)
            except Exception:
                pass
        self.workers = []

    def close(self) -> None:
        self.stop_workers()
        for p in self.procs:
            try:
                p.send_signal(signal.SIGKILL)
                p.wait(timeout=10)
            except Exception:
                pass
        shutil.rmtree(self.local_dirs, ignore_errors=True)

    def submit_worker(self, workload: str, n_exec: int, scale_env: dict) -> dict:
        env = dict(self.env)
        env.update(
            SCALE_CLUSTER_MODE="1",
            SCALE_WORKLOAD=workload,
            # blocks≫cores regime pin — same rationale as scaling_bench's
            # blocked_shuffle workload (the only regime at 10^12 edges)
            SPARK_GRAFT_EDGES_PER_BLOCK=os.environ.get(
                "SPARK_GRAFT_EDGES_PER_BLOCK", "250000"
            ),
            OPENBLAS_NUM_THREADS="1",
            OMP_NUM_THREADS="1",
            MKL_NUM_THREADS="1",
            # shared-scratch root for packed-block spills: file:// through
            # the Hadoop-FS path (the cluster story), but RAM-backed like
            # SPARK_LOCAL_DIRS — every executor JVM on this box shares
            # /dev/shm exactly as cluster nodes share their scratch FS,
            # and the local[k] runs this pair is compared against spill to
            # RAM too (disk-backed /tmp taxed every superstep's mmap ~1.5s
            # that local mode never paid). CLUSTER_SCALE_SCRATCH overrides
            # for A/B probes.
            SPARK_GRAFT_SCRATCH_DIR=os.environ.get(
                "CLUSTER_SCALE_SCRATCH", f"file://{self.local_dirs}/scratch"
            ),
            **scale_env,
        )
        # every conf PINNED identically across the N / 4N pair — executor
        # count is the only variable
        cmd = [
            _spark_bin("spark-submit"),
            "--master", self.master_url,
            "--driver-memory", "8g",
            "--conf", "spark.executor.cores=1",
            "--conf", "spark.executor.memory=3g",
            "--conf", "spark.sql.shuffle.partitions=32",
            "--conf", "spark.default.parallelism=32",
            "--conf", "spark.sql.adaptive.enabled=true",
            "--conf", "spark.sql.adaptive.coalescePartitions.enabled=true",
            "--conf", "spark.sql.execution.arrow.pyspark.enabled=true",
            "--conf", "spark.sql.execution.arrow.maxRecordsPerBatch=65536",
            "--conf", "spark.sql.autoBroadcastJoinThreshold=67108864",
            "--conf", "spark.ui.enabled=false",
            "--py-files", self.zip,
            os.path.join(REPO, "scripts", "ppr_scale_worker.py"),
        ]
        out = subprocess.run(
            cmd, cwd=self.base, env=env, capture_output=True, text=True, timeout=3600,
        )
        if out.returncode != 0:
            raise RuntimeError(f"submit failed:\n{out.stderr[-4000:]}")
        for line in reversed(out.stdout.strip().splitlines()):
            line = line.strip()
            if line.startswith("{"):
                res = json.loads(line)
                if res.get("executors") != n_exec:
                    raise RuntimeError(
                        f"expected {n_exec} executors, job saw {res.get('executors')}"
                    )
                return res
        raise RuntimeError(f"no JSON in submit stdout:\n{out.stdout[-2000:]}")


def main() -> None:
    n_low = int(os.environ.get("CLUSTER_SCALE_N", "2"))
    n_high = 4 * n_low
    workloads = os.environ.get("CLUSTER_SCALE_WORKLOADS", "blocked").split(",")
    scale_env = {
        "SCALE_E": os.environ.get("SCALE_E", "8000000"),
        "SCALE_V": os.environ.get("SCALE_V", "500000"),
        "SCALE_Q": os.environ.get("SCALE_Q", "8"),
        "SCALE_NP": os.environ.get("SCALE_NP", "32"),
        "SCALE_TRIALS": os.environ.get("SCALE_TRIALS", "3"),
    }
    base = os.path.join("/tmp", f"cluster_scaling_{os.getpid()}")
    os.makedirs(base, exist_ok=True)
    cluster = Cluster(base)
    result = {
        "topology": "standalone master + K worker JVMs (1 core / own executor JVM each), one box",
        "pair": [n_low, n_high],
        "workloads": {},
    }
    try:
        for wl in workloads:
            per = {}
            for n in (n_low, n_high):
                cluster.set_workers(n)
                per[str(n)] = cluster.submit_worker(wl, n, scale_env)
                print(
                    f"# {wl} @ {n} executors: wall={per[str(n)]['wall_sec']}s "
                    f"tput={per[str(n)]['query_edges_per_sec']:.3e} q·e/s",
                    file=sys.stderr,
                )
            lo, hi = per[str(n_low)], per[str(n_high)]
            per["wall_efficiency"] = round(
                (lo["wall_sec"] / hi["wall_sec"]) / (n_high / n_low), 3
            )
            result["workloads"][wl] = per
    finally:
        cluster.close()

    line = json.dumps(result)
    with open(os.path.join(REPO, "BENCH", "cluster_scaling.json"), "w") as fh:
        fh.write(line + "\n")
    print(line, flush=True)


if __name__ == "__main__":
    main()
