"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from dataclasses import replace

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import measure as M  # noqa: E402
from workloads import MAX_TOK, MIN_TOK, MIN_UNIQUE, WORKLOADS  # noqa: E402

SMALL = replace(
    WORKLOADS["batch_chain"].spec, files=3, rows_per_file=400, warmup_rows_per_file=50,
)
STREAM_SMALL = replace(
    WORKLOADS["stream_builtin"].spec, files=6, rows_per_file=100, late_after_file=2,
    warmup_rows_per_file=50,
)


def _digests(corpus_dir: str) -> dict[str, str]:
    out = {}
    for d, _, names in os.walk(corpus_dir):
        for n in names:
            with open(os.path.join(d, n), "rb") as f:
                out[os.path.relpath(os.path.join(d, n), corpus_dir)] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_same_seed_same_bytes_new_seed_new_bytes(tmp_path):
    a = gen.materialize(SMALL, 5, str(tmp_path / "a"))
    b = gen.materialize(SMALL, 5, str(tmp_path / "b"))
    c = gen.materialize(SMALL, 6, str(tmp_path / "c"))
    da, db, dc = _digests(a), _digests(b), _digests(c)
    assert da == db
    assert set(da) == set(dc)
    data = [k for k in da if k.startswith("data")]
    assert data and all(da[k] != dc[k] for k in data)


def test_cache_hit_reuses_files(tmp_path):
    a = gen.materialize(SMALL, 5, str(tmp_path))
    mtime = os.path.getmtime(os.path.join(a, "meta.json"))
    assert gen.materialize(SMALL, 5, str(tmp_path)) == a
    assert os.path.getmtime(os.path.join(a, "meta.json")) == mtime


def test_schema_matches_engine_corpus_schema():
    pytest.importorskip("pyspark")
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from dataflow_spark.corpus import CORPUS_SCHEMA

    assert gen.SCHEMA.names == [f.name for f in CORPUS_SCHEMA.fields]
    spark_types = {
        "string": "string", "int64": "bigint", "int32": "int",
        "list<element: int32 not null>": "array<int>",
        "timestamp[us, tz=UTC]": "timestamp",
    }
    for af, sf in zip(gen.SCHEMA, CORPUS_SCHEMA.fields):
        assert spark_types[str(af.type)] == sf.dataType.simpleString(), af.name


def test_planted_shares_and_truth():
    cols, truth = gen.generate(SMALL, 1)
    kind, content = truth["kind"], truth["content"]
    n = len(kind)
    assert abs((kind == gen.EXACT).mean() - SMALL.exact_share) < 0.05
    # an EXACT row's content class is its parent's; a NEAR row is fresh
    ex = np.flatnonzero(kind == gen.EXACT)
    assert (content[ex] == truth["parent"][ex]).all()
    nr = np.flatnonzero(kind == gen.NEAR)
    assert (content[nr] == nr).all()
    lens = np.diff(cols["offsets"])
    ratio = gen.unique_token_ratio(cols["flat"], cols["offsets"])
    assert (ratio[kind == gen.DEGEN] <= MIN_UNIQUE).all()
    assert (lens[kind == gen.SHORT] < MIN_TOK).all()
    assert len(lens) == n


# --------------------------------------------------------------- latency


def _write_log(path, lines):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("v1\n" + "\n".join(json.dumps(x) for x in lines) + "\n")


def test_latency_from_synthetic_checkpoint(tmp_path):
    ck = str(tmp_path)
    # source log: entries 0 and 1; query batch 1 is a no-data batch
    _write_log(os.path.join(ck, "sources", "0", "0"), [
        {"path": "file:///w/a.parquet", "batchId": 0},
        {"path": "file:///w/b.parquet", "batchId": 0},
    ])
    _write_log(os.path.join(ck, "sources", "0", "1"), [{"path": "file:///w/c.parquet", "batchId": 1}])
    meta = {"batchWatermarkMs": 0}
    _write_log(os.path.join(ck, "offsets", "0"), [meta, {"logOffset": 0}])
    _write_log(os.path.join(ck, "offsets", "1"), [meta, {"logOffset": 0}])
    _write_log(os.path.join(ck, "offsets", "2"), [meta, {"logOffset": 1}])
    os.makedirs(os.path.join(ck, "commits"))
    for b, t in ((0, 1000.5), (1, 1001.0), (2, 1003.25)):
        p = os.path.join(ck, "commits", str(b))
        open(p, "w").close()
        os.utime(p, (t, t))
    fb = M.read_file_batches(ck)
    assert fb == {"a.parquet": 0, "b.parquet": 0, "c.parquet": 2}
    commits = M.read_commit_times(ck)
    sched = {"a.parquet": 1000.0, "b.parquet": 1000.25, "c.parquet": 1001.5, "d.parquet": 1002.0}
    lat = M.file_latencies(sched, fb, commits)
    assert lat["a.parquet"] == pytest.approx(0.5)
    assert lat["b.parquet"] == pytest.approx(0.25)
    assert lat["c.parquet"] == pytest.approx(1.75)
    assert lat["d.parquet"] is None
    vals = [0.5, 0.25, 1.75]
    assert M.median(vals) == pytest.approx(0.5)
    # linear interpolation: rank 0.9 * 2 = 1.8 -> 0.5 + 0.8 * (1.75 - 0.5)
    assert M.pct(vals, 90) == pytest.approx(1.5)
    # at t=1002: a, b committed (1000.5); c fed at 1001.6, batch 2 commits at 1003.25
    fed = {"a.parquet": 1000.0, "b.parquet": 1000.3, "c.parquet": 1001.6}
    assert M.backlog_at(1002.0, fed, fb, commits) == 1


def test_event_log_fold(tmp_path):
    log = tmp_path / "eventlog_v2_app" / "events_1_app"
    log.parent.mkdir()
    ev = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [3, 4], "Properties": {"spark.jobGroup.id": "exact#0"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}, "Disk Bytes Spilled": 7}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 4, "Task Metrics": {
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 5}, "Disk Bytes Spilled": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 9, "Task Metrics": {
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 1000}}},
    ]
    log.write_text("\n".join(json.dumps(e) for e in ev) + "\n")
    assert M.fold_event_log(str(tmp_path)) == {"exact#0": {"shuffle_write_bytes": 105, "spill_bytes": 7}}


def test_tracer_records_parent_links():
    tr = M.Tracer("r1", enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [s["name"] for s in tr.spans] == ["outer", "inner"]
    assert tr.spans[1]["parent"] == tr.spans[0]["id"]
    assert all(s["run"] == "r1" and s["end"] >= s["start"] for s in tr.spans)
    off = M.Tracer("r2", enabled=False)
    with off.span("x") as s:
        pass
    assert off.spans == [] and s["end"] >= s["start"]


# ------------------------------------------------------------------ checks


def _chain_truth():
    cols, truth = gen.generate(SMALL, 3)
    lens = np.diff(cols["offsets"])
    kept = (lens >= MIN_TOK) & (lens < MAX_TOK) & (gen.unique_token_ratio(cols["flat"], cols["offsets"]) > MIN_UNIQUE)
    return cols["seq"], truth, kept


def test_chain_check_accepts_truth_and_rejects_undeduplicated():
    seq, truth, kept = _chain_truth()
    good = M.first_seen(truth["content"], kept)
    good = good[truth["kind"][good] != gen.NEAR]
    errs, stats = M.check_chain(seq[good], seq, truth["kind"], truth["content"], kept)
    assert errs == [] and stats["near_recall"] == 1.0 and stats["false_drop"] == 0.0
    # no dedup at all: every row survives
    errs, _ = M.check_chain(seq, seq, truth["kind"], truth["content"], kept)
    assert any("not first-seen" in e for e in errs)
    # exact dedup only: near copies survive
    only_exact = M.first_seen(truth["content"], kept)
    errs, _ = M.check_chain(seq[only_exact], seq, truth["kind"], truth["content"], kept)
    assert any("recall" in e for e in errs)


def test_exact_check_rejects_undeduplicated():
    _, truth = gen.generate(STREAM_SMALL, 4)
    n = len(truth["content"])
    expected = M.first_seen(truth["content"], np.ones(n, bool))
    assert len(expected) < n
    assert M.check_exact(expected, expected) == []
    assert M.check_exact(np.arange(n), expected)
    assert M.check_exact(expected[1:], expected)


def test_builtin_check_rejects_undeduplicated_and_late():
    _, truth = gen.generate(STREAM_SMALL, 4)
    content, late = truth["content"], truth["late"]
    n = len(content)
    assert late.any() and not late[: 2 * STREAM_SMALL.rows_per_file].any()
    row_batch = np.arange(n) // STREAM_SMALL.rows_per_file
    ids = [f"d{i}" for i in range(n)]
    good = M.first_seen(content, ~late)
    assert M.check_builtin(good, [ids[i] for i in good], row_batch[good], content, late, row_batch) == []
    errs = M.check_builtin(np.arange(n), ids, row_batch, content, late, row_batch)
    assert any("late" in e for e in errs) and any("twice" in e for e in errs)
    # the same doc emitted twice
    dup = np.concatenate([good, good[:1]])
    errs = M.check_builtin(dup, [ids[i] for i in dup], row_batch[dup], content, late, row_batch)
    assert any("doc_id" in e for e in errs)
