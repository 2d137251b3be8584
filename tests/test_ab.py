"""tools/ab.py: interleaved A/B runs over two git trees (no Spark)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

AB = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "ab.py")
SCRIPT = """import json, os
with open(os.environ["AB_LOG"], "a") as f:
    f.write(os.environ.get("AB_LEG", "?") + "\\n")
print("not json")
print(json.dumps({{"m": {m}, "n": {{"x": int(os.environ.get("X", 0))}}, "ok": True, "l": [1]}}))
print("trailing noise")
"""


def _git(repo, *args):
    return subprocess.run(
        ["git", "-C", str(repo), *args], check=True, capture_output=True, text=True
    ).stdout


@pytest.fixture
def repo(tmp_path):
    repo = tmp_path / "repo"
    repo.mkdir()
    _git(repo, "init", "-q")
    for m in (1, 2):
        (repo / "s.py").write_text(SCRIPT.format(m=m))
        _git(repo, "add", "s.py")
        _git(repo, "-c", "user.name=t", "-c", "user.email=t@t", "commit", "-qm", f"m={m}")
    return repo


def _ab(repo, tmp_path, *args):
    tmpdir = tmp_path / "abtmp"
    tmpdir.mkdir(exist_ok=True)
    env = dict(os.environ, TMPDIR=str(tmpdir), AB_LOG=str(tmp_path / "log"))
    p = subprocess.run(
        [sys.executable, AB, *args], cwd=repo, env=env, capture_output=True, text=True, timeout=60
    )
    log = tmp_path / "log"
    order = log.read_text().split() if log.exists() else []
    return p, order, tmpdir


def test_ab_interleaves_and_summarizes(repo, tmp_path):
    p, order, tmpdir = _ab(
        repo, tmp_path, "HEAD~1:AB_LEG=a", "HEAD:X=3,AB_LEG=b", "--pairs", "3",
        "--", sys.executable, "s.py",
    )
    assert p.returncode == 0, p.stderr
    rep = json.loads(p.stdout.splitlines()[-1])
    assert order == ["a", "b", "b", "a", "a", "b"]
    assert [(r["pair"], r["leg"]) for r in rep["runs"]] == [
        (0, "a"), (0, "b"), (1, "b"), (1, "a"), (2, "a"), (2, "b")
    ]
    assert rep["legs"]["a"]["sha"] == _git(repo, "rev-parse", "HEAD~1").strip()
    assert rep["legs"]["b"]["sha"] == _git(repo, "rev-parse", "HEAD").strip()
    # a bool leaf reads 0/1; a list is skipped
    assert set(rep["metrics"]) == {"m", "n.x", "ok"}
    assert rep["metrics"]["ok"]["median_a"] == 1
    m, x = rep["metrics"]["m"], rep["metrics"]["n.x"]
    assert (m["median_a"], m["median_b"]) == (1, 2)
    assert (x["median_a"], x["median_b"]) == (0, 3)
    assert m["b_higher"] == 3 and m["b_lower"] == 0 and m["iqr_a"] == 0
    assert rep["failed_runs"] == 0
    # worktrees and their temp dir are gone
    assert _git(repo, "worktree", "list").strip().count("\n") == 0
    assert list(tmpdir.iterdir()) == []


def test_ab_run_without_json_fails(repo, tmp_path):
    p, order, _ = _ab(
        repo, tmp_path, ".:AB_LEG=a", ".:AB_LEG=b", "--pairs", "1",
        "--", sys.executable, "-c", "print('no json here')",
    )
    assert p.returncode != 0
    rep = json.loads(p.stdout.splitlines()[-1])
    assert rep["failed_runs"] == 2
    assert all(r["rc"] == 0 and "metrics" not in r and "stderr_tail" in r for r in rep["runs"])
    assert rep["metrics"] == {}


def test_ab_unknown_ref_fails_before_any_run(repo, tmp_path):
    p, order, tmpdir = _ab(
        repo, tmp_path, "no-such-ref", ".", "--", sys.executable, "s.py"
    )
    assert p.returncode != 0
    assert "no-such-ref" in p.stderr
    assert order == [] and p.stdout == ""
    assert list(tmpdir.iterdir()) == []


def test_ab_env_value_keeps_commas(repo, tmp_path):
    p, _, _ = _ab(
        repo, tmp_path, ".:K=local-cluster[2,4,6144],AB_LEG=a", ".:AB_LEG=b",
        "--pairs", "1", "--", sys.executable, "-c",
        "import json, os; open(os.environ['AB_LOG'], 'a').write('r\\n');"
        " print(json.dumps({'k': len(os.environ.get('K', ''))}))",
    )
    assert p.returncode == 0, p.stderr
    rep = json.loads(p.stdout.splitlines()[-1])
    assert rep["legs"]["a"]["env"] == {"K": "local-cluster[2,4,6144]", "AB_LEG": "a"}
    assert rep["metrics"]["k"]["median_a"] == len("local-cluster[2,4,6144]")
    assert rep["metrics"]["k"]["median_b"] == 0


def test_ab_incorrect_run_fails_its_pair(repo, tmp_path):
    """A run that reports ``"correct": false`` fails like a crash: its pair
    leaves the summary and the exit status is 1."""
    p, _, _ = _ab(
        repo, tmp_path, ".:C=1", ".:C=0", "--pairs", "2", "--", sys.executable, "-c",
        "import json, os; open(os.environ['AB_LOG'], 'a').write('r\\n');"
        " print(json.dumps({'correct': os.environ['C'] == '1', 'm': 1.5}))",
    )
    assert p.returncode == 1
    rep = json.loads(p.stdout.splitlines()[-1])
    assert rep["failed_runs"] == 2
    assert [(r["leg"], r["metrics"]["correct"], "stderr_tail" in r) for r in rep["runs"]] == [
        ("a", 1, False), ("b", 0, True), ("b", 0, True), ("a", 1, False)
    ]
    assert rep["metrics"] == {}
