"""True multi-executor execution: a localhost Spark STANDALONE cluster.

Everything else in the suite runs ``local[k]`` — one JVM, where broadcast,
shuffle serde, and the shared-scratch spill path are exercised only
logically. This module stands up a real cluster topology (1 master + 2
worker JVMs, 1 core each, launched via the distribution's ``spark-class``)
and submits jobs with ``spark-submit --master spark://... --py-files
<zip>`` — the north rule's exact execution contract (BASELINE.json:
"run via spark-submit --py-files on a multi-executor cluster").

Covered end-to-end:

- packed-block PPR with ``SPARK_GRAFT_SCRATCH_DIR`` on a shared
  ``file://`` dir (the cluster stand-in for HDFS/S3 scratch), budget-killed
  mid-iteration, then RESUMED AFTER A WORKER JVM IS KILLED AND REPLACED —
  the resumed result matches an uninterrupted single-JVM run to 1e-9;
- one driver correctness-gate query (iterative generic-graph CC) run on
  the cluster and value-compared against the DuckDB oracle — the same
  rows+values check the driver applies, but executed across executors;
- every submission asserts ≥2 REGISTERED EXECUTORS, so a silent fallback
  to a degraded topology cannot pass.

The daemons bind driver-chosen free ports and are torn down unconditionally.
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

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _spark_class() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-class")


def _wait_for(path: str, needle: str, timeout: float = 90.0) -> None:
    t0 = time.time()
    while time.time() - t0 < timeout:
        if os.path.exists(path) and needle in open(path, errors="replace").read():
            return
        time.sleep(0.5)
    tail = open(path, errors="replace").read()[-2000:] if os.path.exists(path) else "<no log>"
    raise TimeoutError(f"'{needle}' not seen in {path} within {timeout}s:\n{tail}")


def _start_worker(cluster: dict, tag: str) -> subprocess.Popen:
    log = os.path.join(cluster["dir"], f"worker_{tag}.log")
    proc = subprocess.Popen(
        [
            _spark_class(), "org.apache.spark.deploy.worker.Worker",
            cluster["master_url"], "-h", "127.0.0.1", "-c", "1", "-m", "1500m",
            "--webui-port", str(_free_port()),
        ],
        stdout=open(log, "w"), stderr=subprocess.STDOUT, env=cluster["env"],
    )
    _wait_for(log, "Successfully registered with master")
    return proc


@pytest.fixture(scope="module")
def cluster(tmp_path_factory):
    base = str(tmp_path_factory.mktemp("standalone"))
    port = _free_port()
    master_url = f"spark://127.0.0.1:{port}"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["SPARK_LOG_DIR"] = base
    info = {"dir": base, "master_url": master_url, "env": env}

    mlog = os.path.join(base, "master.log")
    master = subprocess.Popen(
        [
            _spark_class(), "org.apache.spark.deploy.master.Master",
            "-h", "127.0.0.1", "-p", str(port), "--webui-port", str(_free_port()),
        ],
        stdout=open(mlog, "w"), stderr=subprocess.STDOUT, env=env,
    )
    # tests may replace a worker in this list; teardown kills what it holds
    info["workers"] = []
    try:
        _wait_for(mlog, f"Starting Spark master at {master_url}")
        for tag in ("a", "b"):
            info["workers"].append(_start_worker(info, tag))

        zpath = os.path.join(base, "hipporag_spark.zip")
        pkg = os.path.join(REPO, "hipporag_spark")
        with zipfile.ZipFile(zpath, "w") as z:
            for root, _dirs, fnames in os.walk(pkg):
                for fn in fnames:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        z.write(full, os.path.relpath(full, REPO))
        info["zip"] = zpath
        yield info
    finally:
        procs = [master] + info["workers"]
        for p in procs:
            try:
                p.send_signal(signal.SIGKILL)
            except Exception:
                pass
        for p in procs:
            try:
                p.wait(timeout=10)
            except Exception:
                pass


def _submit(cluster: dict, script: str, args: list[str], extra_env: dict | None = None,
            timeout: int = 420) -> subprocess.CompletedProcess:
    spark_submit = os.path.join(os.path.dirname(_spark_class()), "spark-submit")
    env = dict(cluster["env"])
    if extra_env:
        env.update(extra_env)
    # scripts are copied OUT of the repo by callers; with PYTHONPATH
    # stripped, the package can only arrive through --py-files — the real
    # cluster-submission import path
    return subprocess.run(
        [
            spark_submit, "--master", cluster["master_url"],
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.executor.cores=1",
            "--conf", "spark.executor.memory=900m",
            "--py-files", cluster["zip"],
            script, *args,
        ],
        cwd=cluster["dir"], env=env, capture_output=True, text=True, timeout=timeout,
    )


def _last_json(stdout: str) -> dict:
    for line in reversed(stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    raise AssertionError(f"no JSON line in stdout:\n{stdout[-2000:]}")


def test_ppr_resume_across_worker_restart(cluster, tmp_path):
    """Packed-block PPR on 2 executors with shared file:// scratch: a
    budget-exhausted run leaves durable superstep checkpoints; one worker
    JVM is killed and replaced; the resumed submission converges and
    matches an uninterrupted local[2] reference run within the north
    rule's allclose(1e-6) (different parallelism ⇒ different float
    accumulation order; measured cross-topology spread ~1e-8)."""
    job = str(tmp_path / "run_job.py")
    shutil.copy(os.path.join(REPO, "scripts", "run_job.py"), job)
    scratch = {"SPARK_GRAFT_SCRATCH_DIR": f"file://{cluster['dir']}/scratch"}
    ckdir = os.path.join(cluster["dir"], "ck_ppr")
    out1 = os.path.join(cluster["dir"], "out_ppr_part")

    proc = _submit(
        cluster, job,
        ["--algorithm", "ppr", "--n-files", "300", "--max-iter", "3",
         "--checkpoint-dir", ckdir, "--run-id", "w1", "--output", out1],
        extra_env=scratch,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    part = _last_json(proc.stdout)
    assert part["supersteps"] == 3

    # kill worker "a" mid-lifecycle and stand up a replacement JVM
    cluster["workers"][0].send_signal(signal.SIGKILL)
    cluster["workers"][0].wait(timeout=15)
    cluster["workers"][0] = _start_worker(cluster, "a2")

    out2 = os.path.join(cluster["dir"], "out_ppr_full")
    proc = _submit(
        cluster, job,
        ["--algorithm", "ppr", "--n-files", "300",
         "--checkpoint-dir", ckdir, "--run-id", "w1", "--output", out2],
        extra_env=scratch,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lineage = json.load(open(os.path.join(out2, "lineage.json")))
    assert lineage[-1]["converged"]
    assert len(lineage) > 3  # genuinely resumed past the killed run's budget

    # uninterrupted single-JVM reference at a DIFFERENT parallelism
    ref_out = str(tmp_path / "ref_out")
    env = dict(cluster["env"])
    ref = subprocess.run(
        [
            os.path.join(os.path.dirname(_spark_class()), "spark-submit"),
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", cluster["zip"],
            job, "--algorithm", "ppr", "--n-files", "300", "--output", ref_out,
        ],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=420,
    )
    assert ref.returncode == 0, ref.stderr[-3000:]

    con = duckdb.connect()
    diff = con.execute(
        f"""SELECT max(abs(a.value - b.value)) FROM '{out2}/result/*.parquet' a
            JOIN '{ref_out}/result/*.parquet' b USING (id)""",
    ).fetchone()[0]
    n_a = con.execute(f"SELECT count(*) FROM '{out2}/result/*.parquet'").fetchone()[0]
    n_b = con.execute(f"SELECT count(*) FROM '{ref_out}/result/*.parquet'").fetchone()[0]
    assert n_a == n_b and n_a > 0
    assert diff < 1e-6, diff


def test_driver_query_on_cluster_matches_oracle(cluster, tmp_path):
    """The generic-graph CC driver-gate query executed across 2 executors
    matches the DuckDB oracle value-for-value (the driver's own check,
    on a real topology)."""
    job = str(tmp_path / "run_driver_query.py")
    shutil.copy(os.path.join(REPO, "scripts", "run_driver_query.py"), job)
    out = os.path.join(cluster["dir"], "out_ccw")

    proc = _submit(
        cluster, job,
        ["--query", "connected_components_words",
         "--sf-dir", "/root/testdata/sf0.001", "--output", out],
        extra_env={"SPARK_GRAFT_SCRATCH_DIR": f"file://{cluster['dir']}/scratch"},
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = _last_json(proc.stdout)
    assert summary["executors"] >= 2, summary  # really ran multi-executor

    sys.path.insert(0, REPO)
    from hipporag_spark import driver_queries as dq

    con = duckdb.connect()
    for t in ["documents"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '/root/testdata/sf0.001/{t}.parquet'"
        )
    want = sorted(con.execute(dq.all_oracles()["connected_components_words"]).fetchall())
    got = sorted(con.execute(f"SELECT * FROM '{out}/*.parquet'").fetchall())
    assert got == want
