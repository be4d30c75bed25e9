#!/usr/bin/env python
"""Two-parallelism scaling run (the sandbox stand-in for N vs 4N executors).

Runs, in fresh JVMs on IDENTICAL inputs at local[N] and local[4N]:

1. three PPR scaling workloads (``ppr_scale_worker.py``, steady-state
   min-of-trials):
   - broadcast engine, CACHE-RESIDENT graph (E=2M, V=50k, Q=256): the src
     stream fits shared L3, so the box is not bandwidth-limited — this is
     the closest single-box analog of a real N→4N executor scale-out,
     where each added node brings its own memory channels;
   - broadcast engine, DRAM-BOUND graph (E=8M): quantifies the single-box
     memory ceiling, with a bare-process HARDWARE CALIBRATION of the
     identical kernel at 1, N and 4N processes;
   - packed block (shuffle) engine (E=8M, V=500k, Q=8): the beyond-memory
     scale path — per-superstep work is Q·E multiply-adds through a real
     shuffle (at sf0.1 the blocked engine is a single block, i.e. serial,
     so only this sized workload says anything about its scaling).
2. the full bench.py suite (headline table; note small fixed inputs —
   several queries are sub-second or single-block at sf0.1).

Efficiency definitions appended to BENCH/BASELINE.md:

- wall efficiency      (T_N / T_4N) / 4      — the raw number
- hardware efficiency  same ratio for the bare (Spark-free) kernel between
  the SAME two process counts. A single box shares ONE memory system
  across every core; a DRAM-bound kernel cannot scale 4× here no matter
  the framework; on a real cluster each executor brings its own channels.
- harness efficiency   wall ÷ hardware: ≥1 means the Spark engine adds no
  scaling loss beyond what the shared-DRAM box itself imposes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

N = int(os.environ.get("SCALING_N", "8"))
N4 = 4 * N
# skip the full bench.py suite (slow at low parallelism) and report only the
# dedicated PPR scale workloads — used for the local[2]→local[8] pair where
# the box can genuinely deliver 4× resources (cores AND bandwidth per core)
SKIP_BENCH = os.environ.get("SCALING_SKIP_BENCH", "") == "1"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = {
    "broadcast_cache": {
        "SCALE_WORKLOAD": "broadcast", "SCALE_E": "2000000", "SCALE_V": "50000",
        "SCALE_Q": "256", "SCALE_NP": "32", "SCALE_TRIALS": "3",
    },
    "broadcast_dram": {
        "SCALE_WORKLOAD": "broadcast", "SCALE_E": "8000000", "SCALE_V": "50000",
        "SCALE_Q": "256", "SCALE_NP": "32", "SCALE_TRIALS": "3",
    },
    "blocked_shuffle": {
        "SCALE_WORKLOAD": "blocked", "SCALE_E": "8000000", "SCALE_V": "500000",
        "SCALE_Q": "8", "SCALE_TRIALS": "3",
        # pin the blocks≫cores regime (P=32 over ≤32 cores): the scaling
        # RATIO is only meaningful where stages wave-average, which is the
        # only regime that exists at 10^12 edges (P ≈ 10^6 ≫ any cluster).
        # With P ≈ cores the high side is gated by its single wave's max
        # task — measured 0.63–0.70 at P=8 vs 0.804 at P=32 on identical
        # input, while ABSOLUTE throughput moves the other way (1M-edge
        # blocks are 1.85× faster; see blocked_shuffle_bigblocks).
        "SPARK_GRAFT_EDGES_PER_BLOCK": "250000",
    },
    "blocked_shuffle_bigblocks": {
        # the absolute-throughput operating point (default 1M-edge blocks,
        # P=8): reported for the edges/sec record, not the ratio
        "SCALE_WORKLOAD": "blocked", "SCALE_E": "8000000", "SCALE_V": "500000",
        "SCALE_Q": "8", "SCALE_TRIALS": "2",
    },
}


def run(script: str, cpus: int, extra_env: dict | None = None) -> dict:
    # pin BLAS/OMP to one thread per task: otherwise numpy grabs every
    # machine core and the local[N] vs local[4N] comparison measures nothing
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        OPENBLAS_NUM_THREADS="1",
        OMP_NUM_THREADS="1",
        MKL_NUM_THREADS="1",
        **(extra_env or {}),
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, script)],
        env=env, capture_output=True, text=True, timeout=5400,
    )
    for line in reversed(out.stdout.strip().splitlines()):
        try:
            return json.loads(line)
        except json.JSONDecodeError:
            continue
    raise RuntimeError(
        f"no JSON from {script} at cpus={cpus}:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}"
    )


def main() -> None:
    res: dict[str, dict[int, dict]] = {}
    for name, conf in WORKLOADS.items():
        res[name] = {}
        for cpus in (N, N4):
            extra = dict(conf)
            if name == "broadcast_dram" and cpus == N4:
                extra["CALIBRATE_PROCS"] = f"1,{N},{N4}"
            res[name][cpus] = run("scripts/ppr_scale_worker.py", cpus, extra)
    bench_low = run("bench.py", N) if not SKIP_BENCH else None
    bench_high = run("bench.py", N4) if not SKIP_BENCH else None

    def wall_eff(name):
        return round(res[name][N]["wall_sec"] / res[name][N4]["wall_sec"] / (N4 / N), 3)

    hw = res["broadcast_dram"][N4].get("hw_calibration", {})
    hw_eff = None
    harness_eff = None
    if str(N4) in hw and str(N) in hw:
        hw_eff = round(
            hw[str(N4)]["aggregate_edges_per_sec"]
            / (N4 / N) / hw[str(N)]["aggregate_edges_per_sec"], 3,
        )
        harness_eff = round(wall_eff("broadcast_dram") / hw_eff, 3) if hw_eff else None

    def eff(key):
        return round((bench_low["queries"][key] / bench_high["queries"][key]) / (N4 / N), 3)

    report = {
        "n_low": N,
        "n_high": N4,
        "efficiency_broadcast_cache": wall_eff("broadcast_cache"),
        "efficiency_broadcast_dram": wall_eff("broadcast_dram"),
        "efficiency_blocked_shuffle": wall_eff("blocked_shuffle"),
        "efficiency_blocked_bigblocks": wall_eff("blocked_shuffle_bigblocks"),
        "hw_efficiency_dram": hw_eff,
        "harness_efficiency_dram": harness_eff,
        "throughput_query_edges_per_sec": {
            name: [res[name][N]["query_edges_per_sec"], res[name][N4]["query_edges_per_sec"]]
            for name in WORKLOADS
        },
    }
    if not SKIP_BENCH:
        report.update({
            "efficiency_bench_ppr_single": eff("ppr"),
            "efficiency_bench_ppr_batch_broadcast": eff("ppr_batch"),
            "efficiency_bench_knn": eff("knn_all_pairs"),
            "efficiency_bench_triangles": eff("triangle_count"),
            "efficiency_bench_total": round(
                (bench_low["value"] / bench_high["value"]) / (N4 / N), 3
            ),
        })
    print(json.dumps(report))

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "a") as f:
        f.write(
            f"\n## Scaling run (local[{N}] vs local[{N4}], sandbox stand-in for N vs 4N executors)\n\n"
            f"### PPR scaling workloads (steady-state min of trials, identical input per pair)\n\n"
            f"| workload | graph | local[{N}] wall | local[{N4}] wall | "
            f"query·edges/sec {N}→{N4} | wall efficiency |\n|---|---|---|---|---|---|\n"
        )
        for name, conf in WORKLOADS.items():
            lo, hi = res[name][N], res[name][N4]
            f.write(
                f"| {name} | E={conf['SCALE_E']} V={conf['SCALE_V']} Q={conf['SCALE_Q']} "
                f"| {lo['wall_sec']} | {hi['wall_sec']} "
                f"| {lo['query_edges_per_sec']:.3e} → {hi['query_edges_per_sec']:.3e} "
                f"| **{wall_eff(name)}** |\n"
            )
        f.write(
            f"\n- hardware efficiency {N}→{N4} procs (identical kernel, bare processes, no "
            f"Spark, DRAM-bound graph): **{hw_eff}** — the single-box memory-system ceiling\n"
            f"- harness efficiency (engine ÷ hardware, DRAM-bound): **{harness_eff}** — ≥1 "
            f"means the Spark engine loses nothing beyond what the shared-DRAM box imposes; "
            f"on a multi-executor cluster (per-node memory channels) hardware efficiency "
            f"returns to ~1 and wall efficiency tracks the cache-resident number\n"
            f"- raw calibration: `{json.dumps(hw)}`\n\n"
        )
        if not SKIP_BENCH:
            f.write(
                f"### Full bench suite (sf0.1 snapshot; small fixed inputs — ppr single is ONE "
                f"block = serial at this SF, sub-second queries are overhead-dominated)\n\n"
                f"| metric | local[{N}] | local[{N4}] | efficiency |\n|---|---|---|---|\n"
            )
            for label, key in [
                ("PPR single query (blocked engine, 1 block at sf0.1)", "ppr"),
                ("PPR batch 32q (broadcast engine)", "ppr_batch"),
                ("PPR batch 32q (blocked engine, 1 block)", "ppr_batch_blocked"),
                ("exact KNN all-pairs", "knn_all_pairs"),
                ("triangle count", "triangle_count"),
            ]:
                f.write(
                    f"| {label} | {bench_low['queries'][key]} | {bench_high['queries'][key]} "
                    f"| {eff(key)} |\n"
                )
            f.write(
                f"| PPR supersteps/min | {bench_low['ppr_supersteps_per_min']} | "
                f"{bench_high['ppr_supersteps_per_min']} | — |\n"
                f"| headline total sec | {bench_low['value']} | {bench_high['value']} | "
                f"{report['efficiency_bench_total']} |\n\n"
            )
        for name in WORKLOADS:
            f.write(f"raw {name} low: `{json.dumps(res[name][N])}`\n\n")
            f.write(f"raw {name} high: `{json.dumps(res[name][N4])}`\n\n")
        if not SKIP_BENCH:
            f.write(
                f"raw bench low: `{json.dumps(bench_low)}`\n\n"
                f"raw bench high: `{json.dumps(bench_high)}`\n"
            )


if __name__ == "__main__":
    main()
