"""Exact streaming dedup over the generation-segment index
(streaming/indexed.py) — one sorted int64 key file per generation, probed
on the driver: stream==batch parity, kill/resume idempotence, O(batch)
state WRITE (generations hold only first-seen hashes), O(duplicates) state
handed to Spark, format pinning, crash-safe seal and compaction, offline
compaction/expiry maintenance, and the per-batch Spark-job budget."""

from __future__ import annotations

import glob
import json
import os
import re
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from dataflow_spark.operators.dedup import exact_dedup
from dataflow_spark.streaming.indexed import (
    SEEN_STATE_DIRNAME,
    compact_seen_index,
    expire_seen_index,
    run_exact_dedup_stream_indexed,
)
from dataflow_spark.streaming.pipeline import (
    run_dedup_filter_stream,
    run_near_dedup_stream_exact,
)
from tests.test_streaming import make_rows, write_file


def _metrics(out_dir, kind="seen_state_scan"):
    path = os.path.join(out_dir, "_metrics.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [
            json.loads(line) for line in fh if json.loads(line).get("kind") == kind
        ]


def test_indexed_dedup_matches_batch(spark, tmp_path):
    """Survivors == batch exact_dedup on the same corpus, with token-array
    equality; in-batch AND cross-batch exact dups dropped.  The last batch
    holds its dup pair with the LARGER doc_seq first in file order: the
    survivor is still the min-doc_seq row, not the first one read."""
    corpus_dir, out_dir, ckpt = (
        str(tmp_path / "c"), str(tmp_path / "o"), str(tmp_path / "k"),
    )
    a, b, c = list(range(100, 160)), list(range(500, 560)), list(range(900, 960))
    d = list(range(1300, 1360))
    write_file(spark, make_rows([(1, a, "cc", 0), (2, a, "cc", 1)]), corpus_dir)
    write_file(spark, make_rows([(11, a, "cc", 30), (12, b, "web", 31)]), corpus_dir)
    write_file(spark, make_rows([(21, b, "web", 60), (22, c, "book", 61)]), corpus_dir)
    write_file(spark, make_rows([(32, d, "cc", 90), (31, d, "cc", 91)]), corpus_dir)
    last = max(glob.glob(os.path.join(corpus_dir, "*.parquet")), key=os.path.getmtime)
    assert pq.read_table(last).column("doc_seq").to_pylist() == [32, 31]

    q = run_exact_dedup_stream_indexed(spark, corpus_dir, out_dir, ckpt)
    q.processAllAvailable()
    q.stop()

    got = {
        r.doc_seq: list(r.tokens)
        for r in spark.read.parquet(out_dir).select("doc_seq", "tokens").collect()
    }
    import pyspark.sql.functions as F

    batch = exact_dedup(
        spark.read.parquet(corpus_dir).withColumn("_th", F.xxhash64("tokens")),
        hash_col="_th",
    )
    want = {
        r.doc_seq: list(r.tokens)
        for r in batch.select("doc_seq", "tokens").collect()
    }
    assert got == want
    assert set(got) == {1, 12, 22, 31}


def test_indexed_dedup_resume_and_idempotent_replay(spark, tmp_path):
    """Kill/restart: the index persists, the replayed batch re-derives the
    same survivors without duplicating output, and post-restart dups of
    pre-restart docs are still dropped."""
    corpus_dir, out_dir, ckpt = (
        str(tmp_path / "c"), str(tmp_path / "o"), str(tmp_path / "k"),
    )
    base = list(range(300, 360))
    write_file(spark, make_rows([(1, base, "cc", 0)]), corpus_dir)
    q = run_exact_dedup_stream_indexed(spark, corpus_dir, out_dir, ckpt)
    q.processAllAvailable()
    q.stop()
    write_file(
        spark,
        make_rows([(31, base, "cc", 40), (32, list(range(700, 760)), "web", 41)]),
        corpus_dir,
    )
    q2 = run_exact_dedup_stream_indexed(spark, corpus_dir, out_dir, ckpt)
    q2.processAllAvailable()
    q2.stop()
    rows = spark.read.parquet(out_dir).select("doc_seq").collect()
    got = sorted(r.doc_seq for r in rows)
    assert got == [1, 32]  # no replay duplicates, dup 31 dropped


def test_indexed_dedup_state_io_is_o_batch(spark, tmp_path):
    """The delta-log property: (a) WRITE — each generation holds only that
    batch's first-seen hashes (key count == new hashes, not cumulative
    history); (b) READ — a batch whose hashes were never seen hits no prior
    generation, so no state bytes go to Spark while history keeps
    growing."""
    corpus_dir, out_dir, ckpt = (
        str(tmp_path / "c"), str(tmp_path / "o"), str(tmp_path / "k"),
    )
    # three batches of DISJOINT token streams -> disjoint hashes
    write_file(
        spark,
        make_rows([(i, list(range(i * 100, i * 100 + 40)), "cc", i) for i in range(1, 5)]),
        corpus_dir,
    )
    write_file(
        spark,
        make_rows([(i, list(range(i * 100, i * 100 + 40)), "cc", i) for i in range(11, 15)]),
        corpus_dir,
    )
    write_file(
        spark,
        make_rows([(i, list(range(i * 100, i * 100 + 40)), "cc", i) for i in range(21, 25)]),
        corpus_dir,
    )
    q = run_exact_dedup_stream_indexed(spark, corpus_dir, out_dir, ckpt)
    q.processAllAvailable()
    q.stop()

    # (a) O(batch) write: every generation has exactly that batch's 4 new
    # hashes — NOT the cumulative count
    state_dir = os.path.join(out_dir, SEEN_STATE_DIRNAME)
    gens = sorted(n for n in os.listdir(state_dir) if n.startswith("batch_id="))
    assert gens == ["batch_id=0.npy", "batch_id=1.npy", "batch_id=2.npy"]
    for gen in gens:
        n = len(np.load(os.path.join(state_dir, gen)))
        assert n == 4, (gen, n)

    # (b) bounded read: no hits -> later batches hit 0 prior generations
    # despite history having 1..2 generations available
    scans = sorted(_metrics(out_dir), key=lambda m: m["batch_id"])
    assert [m["state_batches_total"] for m in scans] == [0, 1, 2]
    assert all(m["state_batches_scanned"] == 0 for m in scans), scans
    assert all(m["state_bytes_read"] == 0 for m in scans), scans


def test_indexed_dedup_compact_and_expire(spark, tmp_path):
    """Offline maintenance: compaction merges generations without changing
    probe results (a post-compaction dup is still dropped); expiry forgets
    pre-cutoff history (the same doc then passes again)."""
    corpus_dir, out_dir, ckpt = (
        str(tmp_path / "c"), str(tmp_path / "o"), str(tmp_path / "k"),
    )
    a, b = list(range(100, 150)), list(range(500, 550))
    write_file(spark, make_rows([(1, a, "cc", 0)]), corpus_dir)
    write_file(spark, make_rows([(2, b, "web", 30)]), corpus_dir)
    q = run_exact_dedup_stream_indexed(spark, corpus_dir, out_dir, ckpt)
    q.processAllAvailable()
    q.stop()

    merged_away = compact_seen_index(out_dir)
    assert merged_away == 1
    state_dir = os.path.join(out_dir, SEEN_STATE_DIRNAME)
    gens = [d for d in os.listdir(state_dir) if d.startswith("batch_id=")]
    assert len(gens) == 1

    # dups of BOTH pre-compaction batches are still caught
    write_file(spark, make_rows([(11, a, "cc", 60), (12, b, "web", 61)]), corpus_dir)
    q2 = run_exact_dedup_stream_indexed(spark, corpus_dir, out_dir, ckpt)
    q2.processAllAvailable()
    q2.stop()
    got = sorted(r.doc_seq for r in spark.read.parquet(out_dir).select("doc_seq").collect())
    assert got == [1, 2]

    # expire everything -> the same tokens pass again (horizon forgotten)
    dropped = expire_seen_index(out_dir, keep_from_batch=10**9)
    assert dropped >= 1
    write_file(spark, make_rows([(21, a, "cc", 90)]), corpus_dir)
    q3 = run_exact_dedup_stream_indexed(spark, corpus_dir, out_dir, ckpt)
    q3.processAllAvailable()
    q3.stop()
    got = sorted(r.doc_seq for r in spark.read.parquet(out_dir).select("doc_seq").collect())
    assert got == [1, 2, 21]


def _run_two_generations(spark, tmp_path):
    corpus_dir, out_dir, ckpt = (
        str(tmp_path / "c"), str(tmp_path / "o"), str(tmp_path / "k"),
    )
    a, b = list(range(100, 150)), list(range(500, 550))
    write_file(spark, make_rows([(1, a, "cc", 0)]), corpus_dir)
    write_file(spark, make_rows([(2, b, "web", 30)]), corpus_dir)
    q = run_exact_dedup_stream_indexed(spark, corpus_dir, out_dir, ckpt)
    q.processAllAvailable()
    q.stop()
    return corpus_dir, out_dir, ckpt, a, b


@pytest.mark.parametrize("crash_at", [0, 1])
def test_compaction_crash_keeps_union(spark, tmp_path, monkeypatch, crash_at):
    """Compacting two generations makes two filesystem calls: the
    ``os.replace`` that lands the union on the oldest generation, then one
    ``os.remove``.  Whichever of them raises, the reopened index still
    drops dups of BOTH pre-compaction batches: the union is durable before
    anything is deleted, and a key held twice changes no probe answer."""
    corpus_dir, out_dir, ckpt, a, b = _run_two_generations(spark, tmp_path)
    calls = []

    def crashing(real):
        def call(*args):
            calls.append(real.__name__)
            if len(calls) - 1 == crash_at:
                raise OSError("simulated crash inside compaction")
            return real(*args)

        return call

    monkeypatch.setattr(os, "replace", crashing(os.replace))
    monkeypatch.setattr(os, "remove", crashing(os.remove))
    with pytest.raises(OSError, match="simulated crash"):
        compact_seen_index(out_dir)
    monkeypatch.undo()
    assert calls == ["replace", "remove"][: crash_at + 1]

    write_file(spark, make_rows([(11, a, "cc", 60), (12, b, "web", 61)]), corpus_dir)
    q2 = run_exact_dedup_stream_indexed(spark, corpus_dir, out_dir, ckpt)
    q2.processAllAvailable()
    q2.stop()
    got = sorted(
        r.doc_seq for r in spark.read.parquet(out_dir).select("doc_seq").collect()
    )
    assert got == [1, 2]


def test_torn_seal_ignored_and_resealed_on_replay(spark, tmp_path):
    """A crash inside a seal leaves at most a partial tmp file beside a
    missing ``batch_id=N.npy``: it is never read as a generation, and a
    fresh-checkpoint replay seals batch 0 again with the same keys, so its
    dups are still dropped."""
    from dataflow_spark.streaming import indexed

    corpus_dir, out_dir, ckpt, a, b = _run_two_generations(spark, tmp_path)
    state_dir = os.path.join(out_dir, SEEN_STATE_DIRNAME)
    gen0 = os.path.join(state_dir, "batch_id=0.npy")
    keys0 = np.load(gen0)
    os.replace(gen0, gen0 + ".tmp")
    with open(gen0 + ".tmp", "r+b") as fh:
        fh.truncate(20)
    assert indexed._list_sealed_batches(state_dir) == [1]

    # a fresh checkpoint reprocesses the whole corpus; output replay is
    # idempotent
    write_file(spark, make_rows([(11, a, "cc", 60), (12, b, "web", 61)]), corpus_dir)
    q2 = run_exact_dedup_stream_indexed(
        spark, corpus_dir, out_dir, str(tmp_path / "k2")
    )
    q2.processAllAvailable()
    q2.stop()
    assert np.array_equal(np.load(gen0), keys0)
    got = sorted(
        r.doc_seq for r in spark.read.parquet(out_dir).select("doc_seq").collect()
    )
    assert got == [1, 2]


def test_v1_index_layout_refused(spark, tmp_path):
    """A v1 index (bucketed parquet segments, bucket-geometry meta) must be
    refused with a ValueError naming its state dir — by the stream and by
    both maintenance calls — and nothing may be written to it.  Each v1
    signal is refused on its own too."""
    corpus_dir = str(tmp_path / "c")
    write_file(spark, make_rows([(1, list(range(100, 150)), "cc", 0)]), corpus_dir)
    v1_meta = {"n_state_buckets": 16, "summary_prefix_bits": 20}
    for layout in ("meta+segments", "meta", "segments"):
        out_dir = str(tmp_path / layout)
        state_dir = os.path.join(out_dir, SEEN_STATE_DIRNAME)
        os.makedirs(state_dir)
        if "meta" in layout:
            with open(os.path.join(state_dir, "_index_meta.json"), "w") as fh:
                json.dump(v1_meta, fh)
        if "segments" in layout:
            os.makedirs(os.path.join(state_dir, "batch_id=0", "bucket=3"))
            open(os.path.join(state_dir, "batch_id=0", "_SUCCESS"), "w").close()
        before = sorted(os.walk(out_dir))
        with pytest.raises(ValueError, match=re.escape(state_dir)):
            run_exact_dedup_stream_indexed(
                spark, corpus_dir, out_dir, str(tmp_path / f"k-{layout}")
            )
        with pytest.raises(ValueError, match=re.escape(state_dir)):
            compact_seen_index(out_dir)
        with pytest.raises(ValueError, match=re.escape(state_dir)):
            expire_seen_index(out_dir, keep_from_batch=10**9)
        assert sorted(os.walk(out_dir)) == before, layout


@pytest.mark.parametrize(
    "run, state_name",
    [
        (run_exact_dedup_stream_indexed, SEEN_STATE_DIRNAME),
        (run_near_dedup_stream_exact, "_band_state"),
    ],
    ids=["exact", "near"],
)
def test_missing_index_meta_with_sealed_segments_raises(
    spark, tmp_path, run, state_name
):
    """Sealed generations without _index_meta.json have an unknown format:
    a restart must refuse rather than record the current one over them.
    Both streams share the index, so both refuse."""
    corpus_dir, out_dir, ckpt = (
        str(tmp_path / "c"), str(tmp_path / "o"), str(tmp_path / "k"),
    )
    write_file(spark, make_rows([(1, list(range(100, 150)), "cc", 0)]), corpus_dir)
    q = run(spark, corpus_dir, out_dir, ckpt)
    q.processAllAvailable()
    q.stop()
    state_dir = os.path.join(out_dir, state_name)
    os.remove(os.path.join(state_dir, "_index_meta.json"))

    with pytest.raises(ValueError, match=re.escape(state_dir)):
        run(spark, corpus_dir, out_dir, ckpt)
    assert not os.path.exists(os.path.join(state_dir, "_index_meta.json"))


@pytest.mark.parametrize(
    "run, kind",
    [
        (run_exact_dedup_stream_indexed, "seen_state_scan"),
        (run_near_dedup_stream_exact, "state_scan"),
    ],
    ids=["exact", "near"],
)
def test_phase_timings_are_disjoint(spark, tmp_path, monkeypatch, run, kind):
    """Each phase window starts where the previous one ended: a rows sink
    slowed by 0.5 s shows up in rows_sink_s only, not in the seal_s window
    before it, and the phases never sum past the batch's addBatch.  Both
    index streams record the same phases in the same order, and the slow
    sink patched into ``indexed`` slows both: they write through one
    body."""
    from dataflow_spark.streaming import indexed

    real_sink = indexed.idempotent_parquet_sink

    def slow_sink(*args, **kwargs):
        write = real_sink(*args, **kwargs)

        def slow_write(df, batch_id):
            time.sleep(0.5)
            write(df, batch_id)

        return slow_write

    monkeypatch.setattr(indexed, "idempotent_parquet_sink", slow_sink)
    corpus_dir, out_dir, ckpt = (
        str(tmp_path / "c"), str(tmp_path / "o"), str(tmp_path / "k"),
    )
    a = list(range(100, 150))
    write_file(spark, make_rows([(1, a, "cc", 0), (2, a, "cc", 1)]), corpus_dir)
    write_file(spark, make_rows([(11, a, "cc", 30)]), corpus_dir)
    q = run(spark, corpus_dir, out_dir, ckpt)
    q.processAllAvailable()
    add_batch_s = {
        p["batchId"]: p["durationMs"]["addBatch"] / 1000
        for p in q.recentProgress
    }
    q.stop()
    recs = _metrics(out_dir, kind)
    assert [m["batch_id"] for m in recs] == [0, 1]
    for m in recs:
        ph = m["phases"]
        assert list(ph) == ["probe_s", "dedup_s", "seal_s", "rows_sink_s"], ph
        assert ph["rows_sink_s"] >= 0.5, ph
        assert ph["seal_s"] < 0.5, ph
        assert sum(ph.values()) <= add_batch_s[m["batch_id"]], (ph, add_batch_s)


def _tag_batches(spark, monkeypatch, group):
    """Set a job group ``<group><batch_id>`` where each foreachBatch
    function is entered, so every job a micro-batch's sink runs carries
    its batch id.  Returns the list the tagged batch ids are appended to."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    sc = spark.sparkContext
    batches = []
    real = DataStreamWriter.foreachBatch

    def foreach_batch(self, func):
        def tagged(df, batch_id):
            sc.setJobGroup(f"{group}{batch_id}", "stream job budget")
            batches.append(batch_id)
            return func(df, batch_id)

        return real(self, tagged)

    monkeypatch.setattr(DataStreamWriter, "foreachBatch", foreach_batch)
    return batches


def _count_jobs(spark, run, group, batches, *args, **kwargs):
    """Run the query to completion; return the jobs of each tagged batch
    and the jobs the query ran in total."""
    sc = spark.sparkContext
    dag = sc._jsc.sc().dagScheduler()
    jobs_before = dag.numTotalJobs()
    q = run(spark, *args, **kwargs)
    q.processAllAvailable()
    q.stop()
    tracker = sc.statusTracker()
    got = [len(tracker.getJobIdsForGroup(f"{group}{i}")) for i in batches]
    return got, dag.numTotalJobs() - jobs_before


@pytest.mark.parametrize(
    "run, budget",
    [
        (run_exact_dedup_stream_indexed, [3, 3, 3]),
        (run_near_dedup_stream_exact, [2, 2, 2]),
        (run_dedup_filter_stream, [1, 1, 1, 1]),
    ],
    ids=["exact", "near", "builtin"],
)
def test_index_streams_spark_job_budget(spark, tmp_path, monkeypatch, run, budget):
    """Spark jobs per micro-batch of both index streams and the builtin
    tier, pinned exactly: a job added to the hot path (a second fetch, a
    re-materialized batch, a Spark job back inside the probe or the seal)
    fails here instead of in a bench row.  Each batch's jobs are tagged
    with a job group set where its foreachBatch function is entered and
    counted through the status tracker.  Both index streams run one body:
    the ``(doc_seq, key)`` fetch and the row write.  The exact stream's
    third job is the broadcast of its losers' ``doc_seq``, kept on
    purpose: every batch here has losers (an in-batch dup in batch 0, one
    cross-batch dup in batches 1 and 2), and the sorted-array UDF that
    would save the job measured slower on that stream, where it would be
    the first Python UDF (NOTES.md).  At the previous probe (a Spark
    distinct of the keys, then exact_dedup's shuffle) it ran [5, 6, 6].
    The near stream ran [14, 18, 18] while each batch called
    ``minhash_dedup`` and semi/anti-joined the index hits and survivors
    in Spark.
    The builtin tier runs one job per batch, the sink's write with the
    state store inside its stages, also in the no-data batch 3 that
    follows the last file to advance the watermark."""
    group = f"jobs-{os.path.basename(tmp_path)}-b"
    batches = _tag_batches(spark, monkeypatch, group)
    corpus_dir, out_dir, ckpt = (
        str(tmp_path / "c"), str(tmp_path / "o"), str(tmp_path / "k"),
    )
    a, b, c = list(range(100, 160)), list(range(500, 560)), list(range(900, 960))
    write_file(spark, make_rows([(1, a, "cc", 0), (2, a, "cc", 1)]), corpus_dir)
    write_file(spark, make_rows([(11, a, "cc", 30), (12, b, "web", 31)]), corpus_dir)
    write_file(spark, make_rows([(21, b, "web", 60), (22, c, "book", 61)]), corpus_dir)
    got, total = _count_jobs(
        spark, run, group, batches, corpus_dir, out_dir, ckpt
    )
    assert batches == list(range(len(budget)))
    assert got == budget
    # every job the query ran is in a batch's group: none escaped the count
    # on another thread (a job group does not follow a job into one)
    assert total == sum(got)


def test_trigger_over_32_files_runs_no_listing_job(spark, tmp_path, monkeypatch):
    """One trigger over 40 files runs no job outside its batch groups.  At
    Spark's default parallel-listing threshold (32 paths) the file
    source's getBatch lists a trigger of more files with a Spark job of
    its own, on the stream thread; ``get_spark`` raises the threshold so
    the driver lists them."""
    corpus_dir, out_dir, ckpt = (
        str(tmp_path / "c"), str(tmp_path / "o"), str(tmp_path / "k"),
    )
    os.makedirs(corpus_dir)
    schema = pa.schema([
        ("doc_id", pa.string()), ("doc_seq", pa.int64()), ("text", pa.string()),
        ("tokens", pa.list_(pa.int32())), ("n_tok", pa.int32()),
        ("source", pa.string()), ("event_time", pa.timestamp("us", tz="UTC")),
    ])
    for i in range(40):
        (row,) = make_rows([(i, list(range(100 * i, 100 * i + 20)), "cc", i)])
        pq.write_table(
            pa.Table.from_pylist([dict(zip(schema.names, row))], schema),
            os.path.join(corpus_dir, f"part-{i:03d}.parquet"),
        )
    group = f"jobs-{os.path.basename(tmp_path)}-b"
    batches = _tag_batches(spark, monkeypatch, group)
    got, total = _count_jobs(
        spark, run_dedup_filter_stream, group, batches, corpus_dir, out_dir,
        ckpt, max_files_per_trigger=40,
    )
    assert spark.read.parquet(out_dir).count() == 40
    assert batches[0] == 0 and got[0] == 1
    assert total == sum(got)
