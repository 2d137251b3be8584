"""Streaming-semantics tests (SURVEY.md §5.3 / north rule).

* stream output == batch output for the same input + watermark (exact dedup);
* checkpoint kill-and-restart: state (seen hashes) survives, no dupes/drops;
* exactly-once sink: replayed batchIds are no-ops; lineage + metrics present;
* watermark semantics: windows emit on watermark advance, late rows dropped;
* session windows per source;
* stateful stream-stream self-join emits near-dup candidate pairs.

The reference's streaming analogue is StreamBatchedPipelineABC resume
(dataflow/pipeline/Pipeline.py:613-697) — these tests hold the new engine to
the stronger Structured Streaming contract.
"""

from __future__ import annotations

import json
import os
import time
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from dataflow_spark.corpus import CORPUS_SCHEMA
from dataflow_spark.operators import dedup
from dataflow_spark.streaming.pipeline import (
    file_stream_source,
    idempotent_parquet_sink,
    near_dup_candidates_stream,
    run_dedup_filter_stream,
    session_windows_per_source,
    windowed_source_stats,
)
from dataflow_spark.streaming.indexed import run_exact_dedup_stream_indexed

BASE_TS = "2026-01-01 00:00:00"

# the keys of every tier's per-batch _metrics.jsonl record (v 1)
V1_KEYS = {
    "v", "batch_id", "tier", "rows", "tokens", "phases",
    "state_bytes_read", "state_batches_scanned", "state_batches_total",
}


def make_rows(spec):
    """spec: list of (doc_seq, tokens, source, offset_seconds)."""
    import datetime as dt

    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = []
    for seq, tokens, source, off in spec:
        rows.append(
            (
                f"d{seq:06d}",
                seq,
                " ".join(str(t) for t in tokens),
                tokens,
                len(tokens),
                source,
                base + dt.timedelta(seconds=off),
            )
        )
    return rows


def write_file(spark, rows, corpus_dir):
    """Append one parquet file to the stream directory; mtime-ordered."""
    df = spark.createDataFrame(rows, CORPUS_SCHEMA)
    df.coalesce(1).write.mode("append").parquet(corpus_dir)
    time.sleep(1.05)  # distinct file mtimes => deterministic stream order


def read_sink(spark, out_dir):
    return spark.read.parquet(out_dir)


def toks(*xs):
    return list(xs)


@pytest.fixture()
def dirs(tmp_path):
    return (
        str(tmp_path / "corpus"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )


def survivors_by_content(spark, out_dir):
    """{token tuple: [doc_seq, ...]} over the sink's rows."""
    got: dict = {}
    for r in spark.read.parquet(out_dir).select("doc_seq", "tokens").collect():
        got.setdefault(tuple(r.tokens), []).append(r.doc_seq)
    return got


def test_stream_matches_batch_dedup(spark, dirs):
    corpus_dir, out_dir, ckpt = dirs
    # dups within a file (2==1), across files (11==1, 13==12), uniques
    f1 = make_rows(
        [
            (1, toks(1, 2, 3), "cc", 0),
            (2, toks(1, 2, 3), "cc", 1),
            (3, toks(4, 5), "web", 2),
            (4, toks(6), "book", 3),
        ]
    )
    f2 = make_rows(
        [
            (11, toks(1, 2, 3), "cc", 10),
            (12, toks(7, 8), "web", 11),
            (13, toks(7, 8), "web", 12),
            (14, toks(9), "cc", 13),
        ]
    )
    write_file(spark, f1, corpus_dir)
    write_file(spark, f2, corpus_dir)

    q = run_dedup_filter_stream(
        spark, corpus_dir, out_dir, ckpt, max_files_per_trigger=1
    )
    q.processAllAvailable()
    q.stop()

    batch = spark.createDataFrame(f1 + f2, CORPUS_SCHEMA)
    expect = {
        tuple(r.tokens)
        for r in dedup.exact_dedup(
            batch.withColumn("_th", dedup.token_hash()), hash_col="_th"
        )
        .select("tokens")
        .collect()
    }
    got = survivors_by_content(spark, out_dir)
    # one survivor per content class, same classes as batch; each from the
    # batch where its content first arrived (which row of that batch is
    # Spark's choice: d1/d2 share f1, d12/d13 share f2)
    assert set(got) == expect
    assert got[(1, 2, 3)] in ([1], [2])
    assert got[(4, 5)] == [3] and got[(6,)] == [4] and got[(9,)] == [14]
    assert got[(7, 8)] in ([12], [13])


def test_checkpoint_resume_preserves_state(spark, dirs):
    corpus_dir, out_dir, ckpt = dirs
    f1 = make_rows(
        [
            (1, toks(1, 2, 3), "cc", 0),
            (2, toks(4, 5), "web", 1),
        ]
    )
    write_file(spark, f1, corpus_dir)
    q = run_dedup_filter_stream(spark, corpus_dir, out_dir, ckpt)
    q.processAllAvailable()
    q.stop()  # "kill"

    # arrives after restart: d11 duplicates d1 (state must remember d1),
    # d12 is new
    f2 = make_rows(
        [
            (11, toks(1, 2, 3), "cc", 5),
            (12, toks(6, 7), "book", 6),
        ]
    )
    write_file(spark, f2, corpus_dir)
    q2 = run_dedup_filter_stream(spark, corpus_dir, out_dir, ckpt)
    q2.processAllAvailable()
    q2.stop()

    out = read_sink(spark, out_dir)
    got = {r.doc_id for r in out.select("doc_id").collect()}
    assert got == {"d000001", "d000002", "d000012"}  # no dupes, no drops
    # per-partition lineage columns present
    assert {"part_id", "batch_id"} <= set(out.columns)
    # per-batch metrics written
    metrics = os.path.join(out_dir, "_metrics.jsonl")
    assert os.path.exists(metrics)
    import json

    recs = [json.loads(l) for l in open(metrics)]
    assert sum(r["rows"] for r in recs) == 3
    assert all(set(r) == V1_KEYS and r["v"] == 1 for r in recs), recs


def _state_partitions(q):
    """The ``numShufflePartitions`` every state operator of every progress
    event of ``q`` reported."""
    return {
        s["numShufflePartitions"]
        for p in q.recentProgress
        for s in p["stateOperators"]
    }


@pytest.mark.parametrize("first", [8, 4])
def test_builtin_resume_keeps_first_state_partitions(spark, tmp_path, first):
    """A builtin stream keeps the state partition count of its first start:
    started under ``spark.sql.shuffle.partitions=first`` and resumed on the
    same checkpoint under 4, the resumed batches still report ``first``.
    The output equals an uninterrupted run over the same files, and each
    written batch has exactly one v1 ``_metrics.jsonl`` record."""
    corpus_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("c", "o", "k"))
    # 16 contents in file 1; file 2 repeats 8 of them and adds 8 new ones,
    # so the state must carry file 1's keys across the restart
    f1 = make_rows([(i, toks(i, i + 1), "cc", i) for i in range(1, 17)])
    f2 = make_rows(
        [(100 + i, toks(i, i + 1), "cc", 20 + i) for i in range(1, 9)]
        + [(100 + i, toks(i, i + 1), "web", 20 + i) for i in range(17, 25)]
    )
    conf = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(first))
        write_file(spark, f1, corpus_dir)
        q = run_dedup_filter_stream(spark, corpus_dir, out_dir, ckpt)
        q.processAllAvailable()
        q.stop()
        assert _state_partitions(q) == {first}

        spark.conf.set("spark.sql.shuffle.partitions", "4")
        write_file(spark, f2, corpus_dir)
        q2 = run_dedup_filter_stream(spark, corpus_dir, out_dir, ckpt)
        q2.processAllAvailable()
        q2.stop()
        assert _state_partitions(q2) == {first}

        once_out = str(tmp_path / "once_o")
        once = run_dedup_filter_stream(
            spark, corpus_dir, once_out, str(tmp_path / "once_k")
        )
        once.processAllAvailable()
        once.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", conf)

    def rows(d):
        return sorted(
            (r.doc_id, tuple(r.tokens))
            for r in read_sink(spark, d).select("doc_id", "tokens").collect()
        )

    got = rows(out_dir)
    assert got == rows(once_out)
    assert [d for d, _ in got] == [f"d{s:06d}" for s in [*range(1, 17), *range(117, 125)]]
    with open(os.path.join(out_dir, "_metrics.jsonl")) as fh:
        recs = [json.loads(line) for line in fh]
    written = sorted(
        int(d[len("batch_id="):]) for d in os.listdir(out_dir)
        if d.startswith("batch_id=")
    )
    assert [r["batch_id"] for r in recs] == written
    assert all(set(r) == V1_KEYS and r["v"] == 1 for r in recs), recs
    assert sum(r["rows"] for r in recs) == len(got)


def test_get_spark_defaults_to_one_partition_per_usable_cpu(monkeypatch):
    """With no ``SPARK_GRAFT_CPUS``, ``get_spark`` runs ``local[n]`` with n
    shuffle partitions, n the CPUs this process may use; an explicit
    ``cpus`` sizes both the same way.  A recording stand-in for
    ``SparkSession.builder`` keeps a second session from starting."""
    from dataflow_spark import session

    class Builder:
        def __init__(self):
            self.conf = {}

        def appName(self, name):
            return self

        def master(self, master):
            self.conf["master"] = master
            return self

        def config(self, key, value):
            self.conf[key] = value
            return self

        def getOrCreate(self):
            return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda level: None))

    def conf_of(**kw):
        b = Builder()
        monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=b))
        session.get_spark(**kw)
        return b.conf

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    n = len(os.sched_getaffinity(0))
    got = conf_of()
    assert got["master"] == f"local[{n}]"
    assert got["spark.sql.shuffle.partitions"] == str(n)
    assert got["spark.default.parallelism"] == str(n)
    got = conf_of(cpus=2)
    assert (got["master"], got["spark.sql.shuffle.partitions"]) == ("local[2]", "2")
    assert conf_of(cpus=2, shuffle_partitions=8)["spark.sql.shuffle.partitions"] == "8"


def test_sink_replay_is_noop(spark, tmp_path):
    out_dir = str(tmp_path / "sink")
    sink = idempotent_parquet_sink(out_dir)
    df = spark.createDataFrame(
        make_rows([(1, toks(1), "cc", 0), (2, toks(2), "cc", 1)]), CORPUS_SCHEMA
    )
    sink(df, 7)
    sink(df, 7)  # replayed batch after restart
    out = spark.read.parquet(out_dir)
    assert out.count() == 2
    assert out.select("batch_id").distinct().collect()[0][0] == 7
    with open(os.path.join(out_dir, "_metrics.jsonl")) as fh:
        recs = [json.loads(line) for line in fh]
    # the replay adds no second record
    assert [(r["batch_id"], r["rows"]) for r in recs] == [(7, 2)]


@pytest.mark.parametrize("crash", ["before_record", "before_marker"])
def test_sink_crash_then_replay_writes_once(spark, tmp_path, monkeypatch, crash):
    """A sink that dies once after its rows are written, either before the
    ``_metrics.jsonl`` record is appended or after it but before
    ``_SUCCESS``, leaves a batch that its replay completes: 2 rows and
    exactly one record, ``(7, 2)``."""
    from dataflow_spark.streaming import pipeline

    out_dir = str(tmp_path / "sink")
    real = pipeline._append_record

    def append_then_die(path, rec):
        monkeypatch.setattr(pipeline, "_append_record", real)  # dies once
        if crash == "before_marker":
            real(path, rec)
        raise OSError("process died")

    monkeypatch.setattr(pipeline, "_append_record", append_then_die)
    sink = idempotent_parquet_sink(out_dir)
    df = spark.createDataFrame(
        make_rows([(1, toks(1), "cc", 0), (2, toks(2), "cc", 1)]), CORPUS_SCHEMA
    )
    with pytest.raises(OSError, match="process died"):
        sink(df, 7)
    assert not os.path.exists(os.path.join(out_dir, "batch_id=7", "_SUCCESS"))
    sink(df, 7)  # the replay after restart
    sink(df, 7)  # a second replay is a no-op
    out = spark.read.parquet(out_dir)
    assert out.count() == 2
    assert out.select("batch_id").distinct().collect()[0][0] == 7
    with open(os.path.join(out_dir, "_metrics.jsonl")) as fh:
        recs = [json.loads(line) for line in fh]
    assert [(r["batch_id"], r["rows"]) for r in recs] == [(7, 2)]


def test_windowed_agg_watermark_and_late_drop(spark, dirs):
    corpus_dir, _, ckpt = dirs
    # trigger 1: hour-0 and hour-1 events -> watermark after = 01:30 - 10min
    f1 = make_rows(
        [
            (1, toks(1), "cc", 0),  # 00:00 window [00:00,01:00)
            (2, toks(2, 3), "cc", 600),  # 00:10 same window
            (3, toks(4), "web", 5400),  # 01:30 window [01:00,02:00)
        ]
    )
    # trigger 2: sentinel far ahead — advances the watermark past all windows,
    # so trigger 2's END evicts + emits them (late-data dropping in Spark uses
    # the PREVIOUS batch's watermark: a row is dropped only once its window's
    # state has been evicted)
    f2 = make_rows([(4, toks(5), "cc", 4 * 3600)])  # 04:00 sentinel
    # trigger 3: one LATE row in hour-0, far below the watermark -> dropped
    f3 = make_rows([(5, toks(6, 7, 8), "cc", 60)])  # 00:01 LATE
    write_file(spark, f1, corpus_dir)
    write_file(spark, f2, corpus_dir)
    write_file(spark, f3, corpus_dir)

    stream = file_stream_source(spark, corpus_dir, max_files_per_trigger=1)
    agg = windowed_source_stats(stream, window="1 hour", watermark_delay="10 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_agg")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    dropped = sum(
        s.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for s in p.get("stateOperators", [])
    )
    q.stop()

    rows = {
        (r.window_start.isoformat(), r.source): (r.n_docs, r.n_tokens)
        for r in spark.sql("select * from win_agg").collect()
    }
    # hour-0 cc window: docs 1,2 only (late doc 5 dropped by watermark)
    assert rows[("2026-01-01T00:00:00", "cc")] == (2, 3)
    assert rows[("2026-01-01T01:00:00", "web")] == (1, 1)
    assert dropped >= 1  # the late row was counted as watermark-dropped


def test_session_windows(spark):
    # two sessions for cc (gap > 30 min), one for web
    rows = make_rows(
        [
            (1, toks(1), "cc", 0),
            (2, toks(2), "cc", 60),
            (3, toks(3), "cc", 4000),  # > 30 min after doc 2 -> new session
            (4, toks(4, 5), "web", 100),
        ]
    )
    df = spark.createDataFrame(rows, CORPUS_SCHEMA)
    out = session_windows_per_source(df, gap="30 minutes")
    got = sorted(
        (r.source, r.n_docs, r.n_tokens) for r in out.collect()
    )
    assert got == [("cc", 1, 1), ("cc", 2, 2), ("web", 1, 2)]


def test_stream_stream_join_candidate_pairs(spark, dirs):
    corpus_dir, _, ckpt = dirs
    # d1 and d2 share all token 3-grams (near-dup); d3 unrelated
    shared = toks(*range(100, 130))
    f1 = make_rows([(1, shared, "cc", 0), (3, toks(*range(500, 520)), "web", 1)])
    f2 = make_rows([(2, shared + [999], "cc", 30)])
    write_file(spark, f1, corpus_dir)
    write_file(spark, f2, corpus_dir)

    stream = file_stream_source(spark, corpus_dir, max_files_per_trigger=1)
    pairs = near_dup_candidates_stream(
        stream, watermark_delay="5 minutes", join_horizon="1 hour", bands=8
    )
    q = (
        pairs.writeStream.format("memory")
        .queryName("cand_pairs")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.doc_a, r.doc_b)
        for r in spark.sql("select doc_a, doc_b from cand_pairs").collect()
    }
    assert ("d000001", "d000002") in got
    assert all(a != "d000003" and b != "d000003" for a, b in got)


def test_streaming_exact_dedup_first_seen_within_batch(spark, dirs):
    corpus_dir, out_dir, ckpt = dirs
    # same hash three times in ONE batch: only min doc_seq survives (the
    # indexed tier runs the batch exact_dedup kernel on each micro-batch;
    # the builtin tier leaves the in-batch pick to Spark)
    rows = make_rows(
        [
            (5, toks(1, 1), "cc", 2),
            (3, toks(1, 1), "cc", 0),
            (4, toks(1, 1), "cc", 1),
        ]
    )
    write_file(spark, rows, corpus_dir)
    q = run_exact_dedup_stream_indexed(spark, corpus_dir, out_dir, ckpt)
    q.processAllAvailable()
    q.stop()
    got = [r.doc_id for r in read_sink(spark, out_dir).select("doc_id").collect()]
    assert got == ["d000003"]
