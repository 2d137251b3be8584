"""Executor-topology scaling evidence (north rule: throughput efficiency
≥ 0.8 from N → 4N EXECUTORS).

tools/bench_scaling.py stands the criterion in with local[8] → local[32]
thread counts inside one JVM.  This sweep runs the REAL topology the rule
names: Spark local-cluster mode spawns separate executor JVM processes
(own heap, own shuffle files, own Python workers, network-ish RPC to the
driver), and the legs are

    N  = local-cluster[2,4,6144]   (2 executors × 4 cores =  8 cores)
    4N = local-cluster[8,4,6144]   (8 executors × 4 cores = 32 cores)

so executor count quadruples at fixed per-executor shape — exactly the
scale-out the rule describes, minus the hardware: on this single box the
DRAM channels, L3 and hypervisor are shared across all executors, so the
calibrated hardware ceiling from tools/calibrate_box.py applies unchanged
(a real 4N-executor cluster quadruples memory bandwidth too).

Method inherited from bench_scaling.py: low leg pinned with taskset,
alternating fresh-JVM sessions, pooled samples, hypervisor-steal-burst
samples dropped (threshold anchored to the fastest sample).

Usage: python tools/bench_executors.py [replicas] [sessions_per_leg]
Env:   SCALE_QUERIES / BENCH_TIMED_RUNS as in bench_scaling.py
Writes BENCH_executors.json and rewrites the BASELINE.md
'## 3b. Executor-topology scaling' section.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LEGS = {
    8: ("local-cluster[2,4,6144]", 2),
    32: ("local-cluster[8,4,6144]", 8),
}
DEFAULT_QUERIES = "pt_pipeline,minhash_dedup,exact_dedup,stream_pipeline"


def run_bench(cores: int, replicas: int, queries: str, timed_runs: int) -> dict:
    master, _ = LEGS[cores]
    env = dict(os.environ)
    env["SPARK_GRAFT_MASTER"] = master
    env["SPARK_GRAFT_CPUS"] = str(cores)
    env["BENCH_REPLICAS"] = str(replicas)
    env["BENCH_QUERIES"] = queries
    env["BENCH_TIMED_RUNS"] = str(timed_runs)
    cmd = [sys.executable, os.path.join(ROOT, "bench.py")]
    if cores < (os.cpu_count() or 32):
        cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
    out = subprocess.run(
        cmd, capture_output=True, text=True, env=env, cwd=ROOT, timeout=3600
    )
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(f"bench produced no JSON at {master}: {out.stderr[-2000:]}")
    return json.loads(lines[-1])


def main():
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 400
    sessions = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    queries = os.environ.get("SCALE_QUERIES", DEFAULT_QUERIES)
    timed_runs = int(os.environ.get("BENCH_TIMED_RUNS", "2"))

    pool: dict[int, dict[str, list[float]]] = {8: {}, 32: {}}
    dropped = 0
    tokens = None
    for s in range(sessions):
        for cores in (8, 32):
            r = run_bench(cores, replicas, queries, timed_runs)
            tokens = r["input_tokens"]
            steal = r.get("steal_s", {})
            ncpu = os.cpu_count() or 1
            for q, ts in r["samples"].items():
                st = steal.get(q, [0.0] * len(ts))
                clean = [t for t, sv in zip(ts, st) if sv < 0.05 * min(ts) * ncpu]
                if clean:
                    dropped += len(ts) - len(clean)
                    ts = clean
                pool[cores].setdefault(q, []).extend(ts)
            print(
                f"session {s} {LEGS[cores][0]}: "
                + " ".join(f"{q}={r['queries'][q]}" for q in sorted(r["queries"])),
                flush=True,
            )

    per_q = {}
    for q in sorted(set(pool[8]) & set(pool[32])):
        lo, hi = pool[8][q], pool[32][q]
        per_q[q] = {
            "median_s_2exec": round(statistics.median(lo), 3),
            "median_s_8exec": round(statistics.median(hi), 3),
            "min_s_2exec": round(min(lo), 3),
            "min_s_8exec": round(min(hi), 3),
            "efficiency_median": round(statistics.median(lo) / statistics.median(hi) / 4, 3),
            "efficiency_min": round(min(lo) / min(hi) / 4, 3),
            "samples_low_leg": len(lo),
            "samples_high_leg": len(hi),
        }

    calib = None
    calib_path = os.path.join(ROOT, "BENCH_calibration.json")
    if os.path.exists(calib_path):
        with open(calib_path) as f:
            calib = json.load(f)
        ceiling = min(
            v["hardware_scaling_efficiency"]
            for v in calib.values()
            if isinstance(v, dict)
        )
        for q in per_q:
            per_q[q]["efficiency_vs_hw_ceiling"] = round(
                per_q[q]["efficiency_min"] / ceiling, 3
            )

    result = {
        "topology_low": LEGS[8][0],
        "topology_high": LEGS[32][0],
        "executors_low": 2,
        "executors_high": 8,
        "replicas": replicas,
        "sessions_per_leg": sessions,
        "input_tokens": tokens,
        "method": "separate executor JVMs (local-cluster), pinned low leg, "
        "alternating fresh sessions, pooled samples, steal bursts dropped",
        "samples_dropped_for_steal": dropped,
        "hardware_calibration": calib,
        "per_query": per_q,
    }
    out_path = os.environ.get("SCALE_OUT", os.path.join(ROOT, "BENCH_executors.json"))
    with open(out_path, "w") as f:
        json.dump(result, f, indent=2)
    if "SCALE_OUT" not in os.environ:
        update_baseline_md(result)
    print(json.dumps(result))


def update_baseline_md(res: dict):
    path = os.path.join(ROOT, "BASELINE.md")
    header = "## 3b. Executor-topology scaling (2 → 8 real executor JVMs)"
    lines = [
        header,
        "",
        f"Same corpus and method as §3, but the legs are **separate executor "
        f"processes** via Spark local-cluster mode: `{res['topology_low']}` "
        f"(2 executors × 4 cores) → `{res['topology_high']}` (8 executors × "
        "4 cores) — executor count quadruples at fixed per-executor shape, "
        "the literal N → 4N of the north rule. Each executor owns its heap, "
        "shuffle files and Python workers; state and shuffle cross process "
        "boundaries. The single-box hardware ceiling (shared DRAM/L3/"
        "hypervisor, BENCH_calibration.json) applies unchanged.",
        "",
        "| job | med s@2ex | med s@8ex | min s@2ex | min s@8ex | eff (med) | eff (min) | eff / hw ceiling |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for q, d in res["per_query"].items():
        lines.append(
            f"| {q} | {d['median_s_2exec']} | {d['median_s_8exec']} | "
            f"{d['min_s_2exec']} | {d['min_s_8exec']} | "
            f"{d['efficiency_median']} | {d['efficiency_min']} | "
            f"{d.get('efficiency_vs_hw_ceiling', '—')} |"
        )
    lines.append("")
    block = "\n".join(lines)

    with open(path) as f:
        src = f.read()
    if header in src:
        start = src.index(header)
        nxt = src.find("\n## ", start + 1)
        src = src[:start] + block + (src[nxt + 1 :] if nxt != -1 else "")
    else:
        anchor = "\n## 4."
        if anchor in src:
            i = src.index(anchor)
            src = src[: i + 1] + block + "\n" + src[i + 1 :]
        else:
            src = src.rstrip() + "\n\n" + block + "\n"
    with open(path, "w") as f:
        f.write(src)


if __name__ == "__main__":
    main()
