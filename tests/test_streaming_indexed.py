"""Exact streaming dedup over the generation-segment parquet index
(streaming/indexed.py) — a delta-log design on foreachBatch: stream==batch
parity, kill/resume idempotence, O(batch) state WRITE
(segments hold only first-seen hashes), pruned bounded state READ, and
offline compaction/expiry maintenance."""

from __future__ import annotations

import json
import os
import re
import shutil
import time

import pytest

from dataflow_spark.operators.dedup import exact_dedup
from dataflow_spark.streaming.indexed import (
    SEEN_STATE_DIRNAME,
    compact_seen_index,
    expire_seen_index,
    run_exact_dedup_stream_indexed,
)
from dataflow_spark.streaming.pipeline import run_near_dedup_stream_exact
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
    equality; in-batch AND cross-batch exact dups dropped."""
    corpus_dir, out_dir, ckpt = (
        str(tmp_path / "c"), str(tmp_path / "o"), str(tmp_path / "k"),
    )
    a, b, c = list(range(100, 160)), list(range(500, 560)), list(range(900, 960))
    write_file(spark, make_rows([(1, a, "cc", 0), (2, a, "cc", 1)]), corpus_dir)
    write_file(spark, make_rows([(11, a, "cc", 30), (12, b, "web", 31)]), corpus_dir)
    write_file(spark, make_rows([(21, b, "web", 60), (22, c, "book", 61)]), corpus_dir)

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
    assert set(got) == {1, 12, 22}


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
    """The delta-log property: (a) WRITE — each generation's segment holds
    only that batch's first-seen hashes (segment row count == new hashes,
    not cumulative history); (b) READ — a batch whose hash prefixes overlap
    nothing skips every prior generation (prefix pruning), so state read
    bytes are 0 while history keeps growing."""
    corpus_dir, out_dir, ckpt = (
        str(tmp_path / "c"), str(tmp_path / "o"), str(tmp_path / "k"),
    )
    # three batches of DISJOINT token streams -> disjoint hash prefixes
    # (with overwhelming probability over xxhash64 at 20-bit prefixes)
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

    # (a) O(batch) write: every generation's segment has exactly that
    # batch's 4 new hashes — NOT the cumulative count
    state_dir = os.path.join(out_dir, SEEN_STATE_DIRNAME)
    for gen_dir in sorted(os.listdir(state_dir)):
        if not gen_dir.startswith("batch_id="):
            continue
        n = spark.read.parquet(os.path.join(state_dir, gen_dir)).count()
        assert n == 4, (gen_dir, n)

    # (b) bounded read: disjoint prefixes -> later batches scanned 0 prior
    # generations despite history having 1..2 generations available
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

    merged_away = compact_seen_index(spark, out_dir)
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


def test_compaction_crash_rolls_forward(spark, tmp_path, monkeypatch):
    """ADVICE r4 #1: a crash AFTER the merged tmp segment commits but
    mid-swap (old generations partially deleted) must not lose the seen
    state — recovery rolls the committed compaction forward and every
    pre-compaction dup is still dropped."""
    import shutil

    from dataflow_spark.streaming import indexed

    corpus_dir, out_dir, ckpt, a, b = _run_two_generations(spark, tmp_path)
    state_dir = os.path.join(out_dir, SEEN_STATE_DIRNAME)
    summary_dir = os.path.join(out_dir, indexed.SEEN_SUMMARY_DIRNAME)

    def crash_mid_swap(sd, smd, base):
        # simulate the worst pre-fix window: one superseded generation and
        # the base summary already deleted, then the process dies
        gens = sorted(
            d for d in os.listdir(sd) if d.startswith("batch_id=")
        )
        shutil.rmtree(os.path.join(sd, gens[-1]))
        bs = os.path.join(smd, f"batch_id={base}")
        if os.path.isdir(bs):
            shutil.rmtree(bs)
        raise RuntimeError("simulated crash mid-compaction-swap")

    monkeypatch.setattr(indexed, "_finish_compaction", crash_mid_swap)
    try:
        compact_seen_index(spark, out_dir)
    except RuntimeError:
        pass
    monkeypatch.undo()

    # manifest + committed tmps left behind -> next stream start recovers
    assert any(
        n.startswith("_compact_manifest_") for n in os.listdir(state_dir)
    )
    assert indexed.recover_compaction(state_dir, summary_dir) == "forward"
    gens = [d for d in os.listdir(state_dir) if d.startswith("batch_id=")]
    assert len(gens) == 1
    assert not any(
        n.startswith("_compact") for n in os.listdir(state_dir)
    )

    # dedup history intact: dups of BOTH original batches still dropped
    write_file(spark, make_rows([(11, a, "cc", 60), (12, b, "web", 61)]), corpus_dir)
    q2 = run_exact_dedup_stream_indexed(spark, corpus_dir, out_dir, ckpt)
    q2.processAllAvailable()
    q2.stop()
    got = sorted(
        r.doc_seq for r in spark.read.parquet(out_dir).select("doc_seq").collect()
    )
    assert got == [1, 2]


def test_compaction_crash_rolls_back(spark, tmp_path):
    """A crash BEFORE both tmp dirs commit (no generation touched yet) is
    rolled back: tmps + manifest discarded, original generations intact."""
    from dataflow_spark.streaming import indexed

    corpus_dir, out_dir, ckpt, a, b = _run_two_generations(spark, tmp_path)
    state_dir = os.path.join(out_dir, SEEN_STATE_DIRNAME)
    summary_dir = os.path.join(out_dir, indexed.SEEN_SUMMARY_DIRNAME)
    manifest, tmp_seg, _ = indexed._compaction_paths(state_dir, summary_dir, 0)
    with open(manifest, "w") as fh:
        json.dump({"merged": [0, 1]}, fh)
    os.makedirs(tmp_seg)  # partial write: no _SUCCESS

    assert indexed.recover_compaction(state_dir, summary_dir) == "back"
    assert not os.path.exists(manifest) and not os.path.exists(tmp_seg)
    gens = [d for d in os.listdir(state_dir) if d.startswith("batch_id=")]
    assert len(gens) == 2

    write_file(spark, make_rows([(11, a, "cc", 60), (12, b, "web", 61)]), corpus_dir)
    q2 = run_exact_dedup_stream_indexed(spark, corpus_dir, out_dir, ckpt)
    q2.processAllAvailable()
    q2.stop()
    got = sorted(
        r.doc_seq for r in spark.read.parquet(out_dir).select("doc_seq").collect()
    )
    assert got == [1, 2]


def test_missing_summary_backfilled_on_replay(spark, tmp_path):
    """ADVICE r4 #2: a generation whose segment sealed but whose prefix
    summary never wrote (crash window) gets its summary BACKFILLED by a
    later stream run instead of being scanned forever."""
    import shutil

    from dataflow_spark.streaming import indexed

    corpus_dir, out_dir, ckpt, a, b = _run_two_generations(spark, tmp_path)
    summary_dir = os.path.join(out_dir, indexed.SEEN_SUMMARY_DIRNAME)
    victim = os.path.join(summary_dir, "batch_id=0")
    assert os.path.exists(os.path.join(victim, "_SUCCESS"))
    shutil.rmtree(victim)

    # restart + replay batch 0 (fresh checkpoint forces reprocessing of the
    # whole corpus; output replay is idempotent) -> summary reappears
    q2 = run_exact_dedup_stream_indexed(
        spark, corpus_dir, out_dir, str(tmp_path / "k2")
    )
    q2.processAllAvailable()
    q2.stop()
    assert os.path.exists(os.path.join(victim, "_SUCCESS"))
    got = sorted(
        r.doc_seq for r in spark.read.parquet(out_dir).select("doc_seq").collect()
    )
    assert got == [1, 2]


def test_index_geometry_pinned_across_resume(spark, tmp_path):
    """Segments are bucketed by pmod(_th, n) at WRITE time, so a resume
    with a different n_state_buckets would prune the wrong buckets and
    re-emit dups.  _index_meta.json pins the geometry: the first writer
    records it and later runs use the recorded value, so the dup below
    is still dropped."""
    corpus_dir, out_dir, ckpt = (
        str(tmp_path / "c"), str(tmp_path / "o"), str(tmp_path / "k"),
    )
    a = list(range(100, 150))
    write_file(spark, make_rows([(1, a, "cc", 0)]), corpus_dir)
    q = run_exact_dedup_stream_indexed(
        spark, corpus_dir, out_dir, ckpt, n_state_buckets=4
    )
    q.processAllAvailable()
    q.stop()

    write_file(spark, make_rows([(11, a, "cc", 40)]), corpus_dir)
    q2 = run_exact_dedup_stream_indexed(
        spark, corpus_dir, out_dir, ckpt, n_state_buckets=32
    )
    q2.processAllAvailable()
    q2.stop()
    got = sorted(
        r.doc_seq for r in spark.read.parquet(out_dir).select("doc_seq").collect()
    )
    assert got == [1]


@pytest.mark.parametrize(
    "run, state_name, first_kw, second_kw",
    [
        (
            run_exact_dedup_stream_indexed, SEEN_STATE_DIRNAME,
            {"n_state_buckets": 4}, {"n_state_buckets": 32},
        ),
        (run_near_dedup_stream_exact, "_band_state", {}, {}),
    ],
    ids=["exact", "near"],
)
def test_missing_index_meta_with_sealed_segments_raises(
    spark, tmp_path, run, state_name, first_kw, second_kw
):
    """Sealed segments without _index_meta.json have an unknown geometry:
    a restart must refuse rather than record its own (different) defaults
    and prune the wrong buckets.  Both streams share the index, so both
    refuse — including a near-dedup band index written before it carried
    a meta file."""
    corpus_dir, out_dir, ckpt = (
        str(tmp_path / "c"), str(tmp_path / "o"), str(tmp_path / "k"),
    )
    write_file(spark, make_rows([(1, list(range(100, 150)), "cc", 0)]), corpus_dir)
    q = run(spark, corpus_dir, out_dir, ckpt, **first_kw)
    q.processAllAvailable()
    q.stop()
    state_dir = os.path.join(out_dir, state_name)
    os.remove(os.path.join(state_dir, "_index_meta.json"))

    with pytest.raises(ValueError, match=re.escape(state_dir)):
        run(spark, corpus_dir, out_dir, ckpt, **second_kw)
    assert not os.path.exists(os.path.join(state_dir, "_index_meta.json"))


def test_phase_timings_are_disjoint(spark, tmp_path, monkeypatch):
    """Each phase window starts where the previous one ended: a rows sink
    slowed by 0.5 s shows up in rows_sink_s only, not again in
    segment_join_s, and the phases never sum past the batch's addBatch."""
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
    q = run_exact_dedup_stream_indexed(spark, corpus_dir, out_dir, ckpt)
    q.processAllAvailable()
    add_batch_s = {
        p["batchId"]: p["durationMs"]["addBatch"] / 1000
        for p in q.recentProgress
    }
    q.stop()
    recs = _metrics(out_dir)
    assert [m["batch_id"] for m in recs] == [0, 1]
    for m in recs:
        ph = m["phases"]
        assert ph["rows_sink_s"] >= 0.5, ph
        assert ph["segment_join_s"] < 0.5, ph
        assert sum(ph.values()) <= add_batch_s[m["batch_id"]], (ph, add_batch_s)


def test_near_dedup_missing_summary_backfilled_and_prunes(spark, tmp_path):
    """Near-dedup on the shared index: a crash-orphaned generation (segment
    sealed, summary missing) is scanned while summary-less — so its near
    dup is still dropped — and its summary is backfilled from the segment,
    after which it prunes exactly: it holds the prefixes of exactly the
    segment's keys, and a batch of fresh docs scans no generation."""
    corpus_dir, out_dir, ckpt = (
        str(tmp_path / "c"), str(tmp_path / "o"), str(tmp_path / "k"),
    )
    a = [1000 + 7 * k for k in range(60)]
    b = [50_000 + 11 * k for k in range(60)]
    write_file(spark, make_rows([(1, a, "cc", 0)]), corpus_dir)
    write_file(spark, make_rows([(2, b, "web", 30)]), corpus_dir)
    q = run_near_dedup_stream_exact(spark, corpus_dir, out_dir, ckpt)
    q.processAllAvailable()
    q.stop()
    summary_dir = os.path.join(out_dir, "_band_state_summary")
    victim = os.path.join(summary_dir, "batch_id=0")
    shutil.rmtree(victim)

    near_a = list(a)
    near_a[0], near_a[30] = 7, 9
    write_file(
        spark,
        make_rows([(3, near_a, "cc", 60), (4, [90_000 + 13 * k for k in range(60)], "cc", 61)]),
        corpus_dir,
    )
    q2 = run_near_dedup_stream_exact(spark, corpus_dir, out_dir, ckpt)
    q2.processAllAvailable()
    write_file(
        spark,
        make_rows([(5, [200_000 + 17 * k for k in range(60)], "book", 90)]),
        corpus_dir,
    )
    q2.processAllAvailable()
    q2.stop()

    got = sorted(
        r.doc_seq for r in spark.read.parquet(out_dir).select("doc_seq").collect()
    )
    assert got == [1, 2, 4, 5]
    scans = {m["batch_id"]: m for m in _metrics(out_dir, kind="state_scan")}
    assert scans[2]["state_batches_scanned"] >= 1, scans[2]
    assert os.path.exists(os.path.join(victim, "_SUCCESS"))
    seg_pfx = {
        r.p for r in spark.read.parquet(
            os.path.join(out_dir, "_band_state", "batch_id=0")
        ).selectExpr("shiftright(_th, 44) AS p").distinct().collect()
    }
    summary_pfx = {r.p for r in spark.read.parquet(victim).collect()}
    assert summary_pfx == seg_pfx
    assert scans[3]["state_batches_total"] == 3
    assert scans[3]["state_batches_scanned"] == 0, scans[3]
