#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload serve|analytics --seed N --seconds S --trace 0|1

Run from the repository root. Prints a report line, then as the last line
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HERE = Path(__file__).resolve().parent

# variables the benchmark sets itself; any other SPARK_GRAFT_* changes the
# program under test (block sizes, spill retention, kernel grouping, ...)
PINNED = ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_LOCAL_DIR", "SPARK_GRAFT_SCRATCH_DIR")
DRIVER_MEM_GIB = 2
SHM_MIN_FREE = 1 << 30  # compiled blocks spill to /dev/shm (hipporag_spark.nputil)


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def pin_environment(run_dir: Path) -> dict:
    stray = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_") and k not in PINNED)
    if stray:
        fail(f"refusing to run with tuning variables set: {', '.join(stray)}")
    mem_kib = int(next(l for l in open("/proc/meminfo") if l.startswith("MemTotal")).split()[1])
    if mem_kib < 2 * DRIVER_MEM_GIB << 20:
        fail(f"needs {2 * DRIVER_MEM_GIB} GiB of RAM, host has {mem_kib >> 20} GiB")
    shm = os.statvfs("/dev/shm")
    shm_free = shm.f_bavail * shm.f_frsize
    if shm_free < SHM_MIN_FREE:
        fail(f"/dev/shm has {shm_free >> 20} MiB free, needs {SHM_MIN_FREE >> 20} MiB")
    cpus = len(os.sched_getaffinity(0))
    for sub in ("local", "scratch", "tmp"):
        (run_dir / sub).mkdir(parents=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{DRIVER_MEM_GIB}g",
        SPARK_GRAFT_LOCAL_DIR=str(run_dir / "local"),
        SPARK_GRAFT_SCRATCH_DIR=str(run_dir / "scratch"),
        SPARK_LOCAL_DIRS=str(run_dir / "local"),
        TMPDIR=str(run_dir / "tmp"),
        OPENBLAS_NUM_THREADS="1",
        PYTHONPATH=os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    )
    return {"cpus": cpus, "driver_mem_gib": DRIVER_MEM_GIB, "shm_free_gib": round(shm_free / 2**30, 2)}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                stat = open(f"/proc/{d}/stat").read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.extend(kids.get(p, []))
        todo.extend(kids.get(p, []))
    return out


def tree_hwm_mb() -> float:
    """Summed peak RSS (VmHWM) of this process and its descendants: the
    driver, the JVM and the Python workers."""
    total = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            for line in open(f"/proc/{pid}/status"):
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024


def p_high(xs: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n <= 10:
        return None
    p = int(100 * (n - 10) / n)
    return {"p": p, "value": sorted(xs)[min(n - 1, int(p / 100 * n))]}


class Run:
    """State one workload run records into."""

    def __init__(self, spark, args, run_dir: Path, tracer):
        self.spark, self.tracer, self.run_dir = spark, tracer, run_dir
        self.trace = bool(args.trace)
        self.seconds = args.seconds
        self.rng = random.Random(args.seed)
        self.samples: dict[str, list[float]] = {}
        self.steps: dict[str, float] = {}
        self.cycles: list[float] = []
        self.setup_times: list[float] = []
        self.layer: dict[str, float] = {}
        self.inputs: dict = {"seed": args.seed}
        self.counts: dict = {}
        self.attempted = self.failed = 0
        self.failed_checks: list[str] = []
        self.peak_mb = 0.0
        self.t_start = time.perf_counter()

    def log(self, msg: str) -> None:
        print(f"perfbench: {time.perf_counter() - self.t_start:7.2f}s {msg}", file=sys.stderr, flush=True)

    def sample_rss(self) -> None:
        self.peak_mb = max(self.peak_mb, tree_hwm_mb())

    def call(self, fn, traced=True):
        """Run ``fn``, recording spans when this is a traced run. Checks
        and warm-up calls pass ``traced=False``."""
        self.tracer.enabled = self.trace and traced
        try:
            return fn()
        finally:
            self.tracer.enabled = False

    def timed(self, name, fn, traced=True):
        """A set-up step: timed once, not part of the loop."""
        t0 = time.perf_counter()
        out = self.call(fn, traced)
        self.steps[name] = time.perf_counter() - t0
        self.sample_rss()
        self.log(f"{name} {self.steps[name]:.2f}s")
        return out

    def op(self, name, fn):
        """One loop operation; its result is consumed inside ``fn``."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = self.call(fn)
        except Exception:
            self.failed += 1
            raise
        self.samples.setdefault(name, []).append(time.perf_counter() - t0)
        self.sample_rss()
        self.log(f"{name} {self.samples[name][-1]:.2f}s")
        return out

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        self.log(f"check {name}: {'ok' if ok else 'FAILED'}")
        if not ok:
            self.failed += 1
            self.failed_checks.append(name)

    def more_cycles(self, t_loop: float) -> bool:
        return not self.cycles or time.perf_counter() - t_loop < self.seconds


def stat(xs: list[float], unit: str) -> dict:
    return {"value": statistics.median(xs), "unit": unit, "n": len(xs), "p_high": p_high(xs)}


def report(run: Run, workload: str, spark_start: float) -> dict:
    s = run.samples
    named = {
        "setup_s": stat(run.setup_times, "s"),
        "cycle_p50_s": stat(run.cycles, "s"),
        "peak_rss_mb": {"value": run.peak_mb, "unit": "MB"},
        "error_rate": {"value": run.failed / run.attempted, "unit": "failed/attempted"},
        "spark_start_s": {"value": spark_start, "unit": "s"},
    }
    if workload == "serve":
        named["retrieve_1q_p50_s"] = stat(s["retrieve_1q"], "s")
        named["retrieve_8q_p50_s"] = stat(s["retrieve_8q"], "s")
        busy = sum(s["retrieve_1q"]) + sum(s["retrieve_8q"]) + sum(s["retrieve_after_write"])
        named["retrieve_qps"] = {"value": run.counts["queries"] / busy, "unit": "1/s"}
        named["delete_p50_s"] = stat(s["delete"], "s")
        named["retrieve_after_write_p50_s"] = stat(s["retrieve_after_write"], "s")
    else:
        for key, op in (("ppr_s", "ppr"), ("cc_s", "cc"), ("lp_s", "lp"), ("triangles_s", "triangles")):
            named[key] = stat(s[op], "s")
        if "ppr_durable" in run.steps:  # traced runs only
            named["ppr_durable_s"] = {"value": run.steps["ppr_durable"], "unit": "s"}
    return named


def layer_metrics(run: Run, agg: dict) -> dict:
    """The per-layer metrics listed in BENCHMARK.json; 0 where the
    workload does not run the layer."""
    def get(name, key="s"):
        return agg.get(name, {}).get(key, 0.0)

    def per(x, d):
        return x / d if d else 0.0

    def mean(name, key="s"):  # per call of the span itself
        return per(get(name, key), get(name, "calls"))

    retrieves = get("engine.retrieve", "calls")
    writes = get("engine.index", "calls") + get("engine.delete", "calls")
    m = {
        "engine.retrieve.self_s": per(get("engine.retrieve", "self_s"), retrieves),
        "engine.retrieve.jobs": per(get("engine.retrieve", "jobs"), retrieves),
        "engine.retrieve.tasks": per(get("engine.retrieve", "tasks"), retrieves),
        "engine.graph_coo.s": per(get("engine.graph_coo"), retrieves),
        "engine.graph_coo.builds_per_retrieve": per(get("engine.graph_coo", "builds"), retrieves),
        "engine.index.s": mean("engine.index"),
        "engine.index.new_chunks": run.layer.get("engine.index.new_chunks", 0),
        "engine.delete.s": mean("engine.delete"),
        "engine.delete.removed_chunks": run.layer.get("engine.delete.removed_chunks", 0),
        "extract.s": per(get("extract"), writes),
        "extract.chunks": mean("extract", "rows"),
        "retrieval.embeddings.store_s": per(get("retrieval.embeddings.store"), writes),
        "graph.build.s": per(sum(v["s"] for k, v in agg.items() if k.startswith("graph.build.")),
                             writes),
        "graph.build.vertices": mean("graph.build.vertices", "rows"),
        "graph.build.adj_rows": mean("graph.build.adjacency", "rows"),
        "graph.ids.s": per(get("graph.ids"), writes),
        "retrieval.embeddings.query_s": per(get("retrieval.embeddings.query"), retrieves),
        "retrieval.scoring.score_store_s": per(get("retrieval.scoring.score_store"), retrieves),
        "retrieval.scoring.top_facts_s": per(get("retrieval.scoring.top_facts"), retrieves),
        "retrieval.scoring.reset_s": per(
            get("retrieval.scoring.phrase_weights") + get("retrieval.scoring.passage_weights")
            + get("retrieval.scoring.build_reset"), retrieves),
        "retrieval.scoring.reset_rows": per(get("retrieval.scoring.build_reset", "rows"), retrieves),
        "retrieval.scoring.rank_docs_s": per(get("retrieval.scoring.rank_docs"), retrieves),
    }
    adj_rows = run.inputs.get("adj_rows", 0)
    bc, bl = "algo.ppr.broadcast", "algo.ppr.blocked"
    m["algo.ppr.broadcast_s"] = mean(bc)
    m["algo.ppr.broadcast_iterations"] = mean(bc, "iterations")
    m["algo.ppr.broadcast_query_edges_per_s"] = per(get(bc, "iterations") * adj_rows, get(bc))
    steps = get(bl, "supersteps")
    superstep_ms = agg.get(bl, {}).get("superstep_ms")
    m["algo.ppr.supersteps"] = mean(bl, "supersteps")
    m["algo.ppr.superstep_p50_ms"] = statistics.median(superstep_ms) if superstep_ms else 0.0
    m["algo.ppr.jobs_per_superstep"] = per(get(bl, "jobs"), steps)
    m["algo.ppr.shuffle_bytes_per_superstep"] = per(get(bl, "shuffle_bytes"), steps)
    m["algo.ppr.edges_per_s"] = per(steps * adj_rows, get(bl))
    m["graph.blocked.compile_s"] = mean("graph.blocked.compile")
    m["graph.blocked.num_blocks"] = run.inputs.get("num_blocks", 0)
    m["checkpointing.overhead_s"] = run.layer.get("checkpointing.overhead_s", 0.0)
    m["checkpointing.bytes_written"] = run.layer.get("checkpointing.bytes_written", 0)
    for job, count_key, count_name in (
        ("algo.components", "supersteps", "supersteps"),
        ("algo.labelprop", "supersteps", "rounds"),
        ("algo.triangles", "count", "count"),
    ):
        m[f"{job}.{count_name}"] = mean(job, count_key)
        for k in ("jobs", "shuffle_bytes", "executor_busy_s"):
            m[f"{job}.{k}"] = mean(job, k)
    for span in ("engine.index", "engine.delete", "engine.retrieve", "algo.ppr.blocked",
                 "algo.components", "algo.labelprop", "algo.triangles"):
        m[f"{span}.failed_tasks"] = get(span, "failed_tasks")
        m[f"{span}.gc_s"] = get(span, "gc_s")
    m["oracle.ppr_s"] = run.layer.get("oracle.ppr_s", 0.0)
    m["trace.overhead_frac"] = run.layer.get("trace.overhead_frac", 0.0)
    return m


def stop_spark(spark) -> None:
    """Stop the context and the gateway JVM, and wait until every process
    this run started (JVM, Python workers) has ended."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def measure(args, spec: dict, run_dir: Path, env: dict) -> tuple[Run, dict, dict]:
    """Start Spark, run the workload, stop Spark; returns (run, report
    info, last-line metrics)."""
    import spans
    import workloads

    from hipporag_spark.session import get_spark

    # fixed heap (-Xms = -Xmx): heap growth would make peak RSS jump between runs
    java_opts = f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData -Xms{DRIVER_MEM_GIB}g"
    conf = {"spark.driver.extraJavaOptions": java_opts}
    if args.trace:  # keep every job's stages for span attribution
        conf.update({"spark.ui.retainedJobs": "1000000", "spark.ui.retainedStages": "1000000"})
    t0 = time.perf_counter()
    spark = get_spark(parallelism=env["cpus"], app_name="perfbench", extra_conf=conf)
    spark_start = time.perf_counter() - t0
    try:
        tracer = spans.Tracer(spark)
        if args.trace:
            spans.install(tracer)
        run = Run(spark, args, run_dir, tracer)
        workloads.WORKLOADS[args.workload](run)
        run.sample_rss()
        run.log("workload done")
        named = report(run, args.workload, spark_start)
        info = {"workload": args.workload, "trace": args.trace, "env": env, "inputs": run.inputs,
                "counts": run.counts, "steps": run.steps, "samples": run.samples,
                "setup_times": run.setup_times, "failed_checks": run.failed_checks,
                "metrics": named}
        if not args.trace:
            return run, info, {m["name"]: {"value": named[m["name"]]["value"], "unit": m["unit"]}
                               for m in spec["end_to_end"]}
        agg = tracer.summarize()
        layers = layer_metrics(run, agg)
        out = ROOT / ".perfbench" / f"trace-{args.workload}-{args.seed}.json"
        out.write_text(json.dumps({**info, "spans": agg}, indent=1, default=str))
        return run, info, {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                           for m in spec["per_layer"]}
    finally:
        t1 = time.perf_counter()
        stop_spark(spark)
        print(f"perfbench: stopped Spark in {time.perf_counter() - t1:.2f}s", file=sys.stderr)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1].strip())
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "hipporag_spark").is_dir() or not (ROOT / "tests" / "oracles.py").is_file():
        fail(f"{ROOT} does not hold hipporag_spark/ and tests/oracles.py")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    run_dir = ROOT / ".perfbench" / f"run-{os.getpid()}"
    try:
        env = pin_environment(run_dir)  # before numpy loads: OPENBLAS_NUM_THREADS
        sys.path[:0] = [str(ROOT), str(ROOT / "tests"), str(HERE)]
        import workloads

        if args.workload not in workloads.WORKLOADS:
            fail(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
        run, info, metrics = measure(args, spec, run_dir, env)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print("report " + json.dumps(info, default=str))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
