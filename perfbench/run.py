"""Benchmark entry point: one workload, one seed, one fresh engine process.

    python3 perfbench/run.py --workload batch_chain --seed 1 --seconds 6 --trace 0

Run from the repository root.  The inputs are generated from ``--seed``
(cached under ``.perfbench_work/inputs``), the engine runs in a fresh
process (worker.py) at ``local[nproc]``, and the last stdout line is the
result: ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
The line before it holds the box-drift sentinels, every layer value the run
measured and any check errors.  See DESIGN.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CHILD_TIMEOUT_S = 165
KEEP_INPUTS = 16


def metric_units(kind: str) -> dict[str, str]:
    """Metric name -> unit for ``end_to_end`` or ``per_layer``, as declared
    in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                if os.getpgid(int(d)) == pgid:
                    return True
            except OSError:
                continue
    return False


def _kill_group(pgid: int) -> None:
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    end = time.time() + 10
    while _group_alive(pgid) and time.time() < end:
        time.sleep(0.05)


def run_child(workload: str, corpus: str, seconds: float, trace: int, seed: int, deadline: float) -> dict:
    """Start worker.py in a new session, wait for it, kill what it leaves."""
    import measure

    run_dir = os.path.join(WORK, "runs", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub))
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_MASTER", None)
    env.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, HERE, env.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    cpus = len(os.sched_getaffinity(0))
    result = os.path.join(run_dir, "result.json")
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    spans = os.path.join(WORK, "traces", f"{workload}-s{seed}.spans.jsonl")
    box = {"calib_before_s": measure.calibration_s(), "steal_before": measure.steal_seconds()}
    log_path = os.path.join(run_dir, "worker.log")
    t_spawn = time.time()
    with open(log_path, "w") as log:
        p = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"),
             "--workload", workload, "--corpus", corpus, "--run-dir", run_dir,
             "--seconds", str(seconds), "--trace", str(trace), "--cpus", str(cpus),
             "--t-spawn", repr(t_spawn), "--result", result, "--spans", spans if trace else ""],
            cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _kill_group(p.pid)
            p.wait()
    box["steal_s"] = measure.steal_seconds() - box.pop("steal_before")
    box["calib_after_s"] = measure.calibration_s()
    rec = None
    if code == 0 and os.path.exists(result):
        with open(result) as f:
            rec = json.load(f)
        rec["box"] = box
    else:
        with open(log_path, errors="replace") as f:
            tail = f.read()[-4000:]
        sys.stderr.write(f"worker failed (exit {code}):\n{tail}\n")
    if rec is not None and not rec["errors"]:
        shutil.rmtree(run_dir, ignore_errors=True)
    else:
        sys.stderr.write(f"run directory kept for inspection: {run_dir}\n")
    return rec


def _evict_inputs(root: str, keep: int) -> None:
    entries = sorted(
        (os.path.getmtime(os.path.join(root, d)), d) for d in os.listdir(root)
    )
    for _, d in entries[:-keep]:
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    deadline = time.time() + CHILD_TIMEOUT_S

    if not os.path.isfile(os.path.join(ROOT, "dataflow_spark", "session.py")):
        sys.stderr.write(f"no dataflow_spark package under {ROOT}: run from a full checkout\n")
        return 2

    import gen

    w = WORKLOADS[a.workload]
    inputs = os.path.join(WORK, "inputs")
    os.makedirs(inputs, exist_ok=True)
    corpus = gen.materialize(w.spec, a.seed, inputs)
    os.utime(corpus)
    _evict_inputs(inputs, KEEP_INPUTS)

    # A traced run reports its overhead against an untraced run of the same
    # code, seed and inputs, which it makes first; that run must end 90 s
    # before the deadline, which leaves the traced run its usual time.
    if a.trace:
        ref = run_child(a.workload, corpus, a.seconds, 0, a.seed, deadline - 90)
        if ref is None:
            return 1

    rec = run_child(a.workload, corpus, a.seconds, a.trace, a.seed, deadline)
    if rec is None:
        return 1
    e2e = dict(rec["e2e"], setup_s=rec["setup_s"])
    box = rec["box"]
    box_line = {
        "box.steal_s": box["steal_s"],
        "box.calib_s": (box["calib_before_s"] + box["calib_after_s"]) / 2,
        "box.calib_before_s": box["calib_before_s"],
        "box.calib_after_s": box["calib_after_s"],
        "layer": rec["layer"],
        "errors": rec["errors"],
    }
    if a.trace:
        layer = dict(rec["layer"])
        layer["box.steal_s"] = box_line["box.steal_s"]
        layer["box.calib_s"] = box_line["box.calib_s"]
        layer["trace.overhead_ratio"] = ref["e2e"]["tokens_per_s"] / e2e["tokens_per_s"]
        metrics = {
            k: {"value": float(layer.get(k, 0.0)), "unit": u}
            for k, u in metric_units("per_layer").items()
        }
    else:
        metrics = {
            k: {"value": float(e2e[k]), "unit": u}
            for k, u in metric_units("end_to_end").items()
        }
    print(json.dumps(box_line))
    print(json.dumps({
        "correct": rec["failed"] == 0 and not rec["errors"],
        "attempted": int(rec["attempted"]),
        "failed": int(rec["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
