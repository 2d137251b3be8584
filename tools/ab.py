"""Interleaved A/B runs of one command on two legs.

Usage: python3 tools/ab.py LEG_A LEG_B [--pairs N] -- CMD...

A leg is ``REF[:K=V,...]``.  REF is a git ref of the repository in the
current directory, or ``.`` for that checkout as it stands, uncommitted edits
included.  Each other ref is checked out once, detached, in a temporary git
worktree that is removed on exit.  The ``K=V`` pairs override the inherited
environment for that leg; a value may contain commas
(``.:SPARK_GRAFT_MASTER=local-cluster[2,4,6144]``).  When the leg's
environment sets ``SPARK_GRAFT_CPUS=n`` below the CPUs this process may use,
the command runs under ``taskset`` on the first n of them, so a low-core leg
cannot spill its JVM and Python threads onto the others.

Pair p runs A then B when p is even and B then A when it is odd, each run a
fresh process with its cwd at the leg's tree, so box drift hits both legs
alike.  A run's result is the last stdout line that parses as a JSON object,
flattened to its dotted numeric leaves, a bool read as 0/1 (lists are
skipped): this reads ``perfbench/run.py`` and ``bench.py`` alike.  A run that
exits non-zero, prints no JSON object, or reports ``correct`` false (as
``perfbench/run.py`` does when its output check fails) fails: its pair is left
out of the summary, the loop goes on, and the exit status is 1.

The last stdout line is one JSON report: the legs with their resolved SHAs,
the command, every run, and for each metric present in every complete pair
the median and interquartile range per leg and the number of pairs in which
B reads lower or higher than A.  Redirect stdout to keep it.

Examples:
    python3 tools/ab.py HEAD . --pairs 5 -- python3 perfbench/run.py \\
        --workload stream_builtin --seed 7 --seconds 6
    BENCH_QUERIES=pt_pipeline python3 tools/ab.py .:SPARK_GRAFT_CPUS=8 \\
        .:SPARK_GRAFT_CPUS=32 -- python3 bench.py
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile


def git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], check=True, capture_output=True, text=True
    ).stdout.strip()


def parse_leg(spec: str) -> dict:
    ref, _, pairs = spec.partition(":")
    # split only at commas that start the next KEY=, so values keep theirs
    env = dict(
        p.split("=", 1) for p in re.split(r",(?=[A-Za-z_]\w*=)", pairs) if p
    )
    return {"ref": ref, "env": env}


def last_json(stdout: str) -> dict | None:
    for line in reversed(stdout.splitlines()):
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict):
            return obj
    return None


def flatten(obj: dict, prefix: str = "") -> dict:
    out = {}
    for k, v in obj.items():
        if isinstance(v, dict):
            out.update(flatten(v, f"{prefix}{k}."))
        elif isinstance(v, (int, float)):
            out[f"{prefix}{k}"] = int(v) if isinstance(v, bool) else v
    return out


def iqr(xs: list) -> float:
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q3 - q1


def run(cmd: list, leg_env: dict, cwd: str) -> dict:
    env = {**os.environ, **leg_env}
    cpus = sorted(os.sched_getaffinity(0))
    n = int(env.get("SPARK_GRAFT_CPUS", len(cpus)))
    if n < len(cpus):
        cmd = ["taskset", "-c", ",".join(map(str, cpus[:n])), *cmd]
    p = subprocess.run(cmd, cwd=cwd, env=env, capture_output=True, text=True)
    result = last_json(p.stdout)
    rec = {"rc": p.returncode}
    if result is not None:
        rec["metrics"] = flatten(result)
    if p.returncode != 0 or result is None or rec["metrics"].get("correct") == 0:
        rec["stderr_tail"] = p.stderr.splitlines()[-20:]
    return rec


def summarize(runs: list) -> dict:
    pairs = {}
    for r in runs:
        if "stderr_tail" not in r:
            pairs.setdefault(r["pair"], {})[r["leg"]] = r["metrics"]
    complete = [p for p in pairs.values() if len(p) == 2]
    names = set.intersection(*(set(p["a"]) & set(p["b"]) for p in complete)) if complete else set()
    out = {}
    for m in sorted(names):
        a = [p["a"][m] for p in complete]
        b = [p["b"][m] for p in complete]
        out[m] = {
            "median_a": statistics.median(a),
            "median_b": statistics.median(b),
            "iqr_a": iqr(a),
            "iqr_b": iqr(b),
            "b_lower": sum(y < x for x, y in zip(a, b)),
            "b_higher": sum(y > x for x, y in zip(a, b)),
        }
    return out


def main(argv: list) -> int:
    split = argv.index("--") if "--" in argv else len(argv)
    ap = argparse.ArgumentParser(usage="ab.py LEG_A LEG_B [--pairs N] -- CMD...")
    ap.add_argument("leg_a")
    ap.add_argument("leg_b")
    ap.add_argument("--pairs", type=int, default=5)
    args = ap.parse_args(argv[:split])
    cmd = argv[split + 1:]
    if not cmd or args.pairs < 1:
        ap.error("need --pairs >= 1 and a command after --")
    top = git("rev-parse", "--show-toplevel")
    legs = {"a": parse_leg(args.leg_a), "b": parse_leg(args.leg_b)}
    for leg in legs.values():
        ref = "HEAD" if leg["ref"] == "." else leg["ref"]
        try:
            leg["sha"] = git("rev-parse", "--verify", "--quiet", ref + "^{commit}")
        except subprocess.CalledProcessError:
            ap.error(f"unknown git ref {leg['ref']!r}")

    tmp = tempfile.mkdtemp(prefix="ab-")
    trees = {".": top}  # "." or a leg's sha -> its checkout
    runs = []
    try:
        for leg in legs.values():
            if leg["ref"] != "." and leg["sha"] not in trees:
                trees[leg["sha"]] = os.path.join(tmp, leg["sha"][:12])
                git("worktree", "add", "--detach", trees[leg["sha"]], leg["sha"])
        for p in range(args.pairs):
            for name in ("ab" if p % 2 == 0 else "ba"):
                leg = legs[name]
                tree = trees["." if leg["ref"] == "." else leg["sha"]]
                rec = {"pair": p, "leg": name, **run(cmd, leg["env"], tree)}
                print(f"ab: pair {p} leg {name} rc={rec['rc']}", file=sys.stderr, flush=True)
                runs.append(rec)
    finally:
        for key, tree in trees.items():
            if key != ".":
                subprocess.run(["git", "worktree", "remove", "--force", tree], capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)

    failed = sum("stderr_tail" in r for r in runs)
    print(json.dumps({
        "legs": legs, "cmd": cmd, "pairs": args.pairs, "failed_runs": failed,
        "runs": runs, "metrics": summarize(runs),
    }))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
