"""Streaming near-dedup (band-key generation-segment index) + source routing
tests."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from dataflow_spark.streaming.pipeline import (
    file_stream_source,
    route_by_source,
)
from tests.test_streaming import make_rows, toks, write_file


def test_near_dedup_stream_exact_matches_batch(spark, tmp_path):
    """Exact mode (insert-only-survivor-bands) must equal the batch
    minhash_dedup survivor set on the same corpus — the stream==batch
    contract — and the sink must emit FULL rows (token-array equality)."""
    from dataflow_spark.operators.dedup import minhash_dedup
    from dataflow_spark.streaming.pipeline import run_near_dedup_stream_exact

    corpus_dir = str(tmp_path / "c")
    out_dir = str(tmp_path / "o")
    ckpt = str(tmp_path / "k")
    a = list(range(100, 160))
    near_a = list(a)
    near_a[0], near_a[30] = 7, 9  # ~3% edits
    b = list(range(500, 560))
    # batch 1: a + in-batch exact dup of a; batch 2: cross-batch near-dup of
    # a + fresh b; batch 3: exact dup of b + fresh c
    write_file(spark, make_rows([(1, a, "cc", 0), (2, a, "cc", 1)]), corpus_dir)
    write_file(spark, make_rows([(11, near_a, "cc", 30), (12, b, "web", 31)]), corpus_dir)
    write_file(
        spark,
        make_rows([(21, b, "web", 60), (22, list(range(900, 960)), "book", 61)]),
        corpus_dir,
    )
    q = run_near_dedup_stream_exact(spark, corpus_dir, out_dir, ckpt, bands=16)
    q.processAllAvailable()
    q.stop()
    out = spark.read.parquet(out_dir)
    got = {r.doc_seq: list(r.tokens) for r in out.select("doc_seq", "tokens").collect()}
    batch = minhash_dedup(
        spark.read.parquet(corpus_dir), use_tokens=True, token_ngram=3, bands=16
    )
    want = {r.doc_seq: list(r.tokens) for r in batch.select("doc_seq", "tokens").collect()}
    assert got == want  # same survivors AND token-array equality
    assert set(got) == {1, 12, 22}


def test_near_dedup_stream_exact_resume(spark, tmp_path):
    """Kill/restart: the parquet band index persists, replayed batches are
    no-ops, and new near-dups of pre-restart survivors are still caught."""
    from dataflow_spark.streaming.pipeline import run_near_dedup_stream_exact

    corpus_dir = str(tmp_path / "c")
    out_dir = str(tmp_path / "o")
    ckpt = str(tmp_path / "k")
    base = list(range(300, 360))
    write_file(spark, make_rows([(1, base, "cc", 0)]), corpus_dir)
    q = run_near_dedup_stream_exact(spark, corpus_dir, out_dir, ckpt, bands=8)
    q.processAllAvailable()
    q.stop()
    write_file(spark, make_rows([(31, base, "cc", 40), (32, list(range(700, 760)), "web", 41)]), corpus_dir)
    q2 = run_near_dedup_stream_exact(spark, corpus_dir, out_dir, ckpt, bands=8)
    q2.processAllAvailable()
    q2.stop()
    got = sorted(
        r.doc_seq for r in spark.read.parquet(out_dir).select("doc_seq").collect()
    )
    assert got == [1, 32]


def test_route_by_source(spark, tmp_path):
    corpus_dir = str(tmp_path / "c")
    out_dir = str(tmp_path / "o")
    ckpt = str(tmp_path / "k")
    rows = make_rows(
        [
            (1, toks(1, 2, 3, 4, 5), "cc", 0),
            (2, toks(1), "cc", 1),  # fails cc's n_tok >= 3 predicate
            (3, toks(7, 8), "web", 2),
            (4, toks(9), "book", 3),  # unrouted -> _default
        ]
    )
    write_file(spark, rows, corpus_dir)
    stream = file_stream_source(spark, corpus_dir, max_files_per_trigger=10)
    q = route_by_source(
        spark,
        stream,
        routes={
            "cc": [F.col("n_tok") >= 3],
            "web": [],
        },
        out_dir=out_dir,
        checkpoint_dir=ckpt,
    )
    q.processAllAvailable()
    q.stop()
    out = spark.read.parquet(out_dir)  # source=... dirs are Hive partitions
    by_src = {
        r.source: r.n
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert by_src == {"cc": 1, "web": 1, "_default": 1}
    got_cc = out.where(F.col("source") == "cc").select("doc_id").first().doc_id
    assert got_cc == "d000001"


def test_near_dedup_stream_exact_bounded_state_read(spark, tmp_path):
    """VERDICT r2 #5: per-batch band-index read bytes must stay ~flat as
    batch count grows.  8 batches of mutually fresh docs: summary-prefix
    skipping keeps state_batches_scanned near zero, so scan bytes do NOT
    accumulate with history.  A 9th batch carrying a dup of batch-0's doc
    must still be dropped (pruning is exact), scanning only candidate
    batches."""
    import json

    from dataflow_spark.streaming.pipeline import run_near_dedup_stream_exact

    corpus_dir = str(tmp_path / "c")
    out_dir = str(tmp_path / "o")
    ckpt = str(tmp_path / "k")
    first = [1000 * 1 + k * 7 for k in range(60)]
    write_file(spark, make_rows([(0, first, "cc", 0)]), corpus_dir)
    for i in range(1, 8):
        toks_i = [1000 * (i + 1) + k * (7 + i) for k in range(60)]
        write_file(spark, make_rows([(i, toks_i, "cc", i)]), corpus_dir)
    # batch 8: exact dup of batch 0's doc + one fresh doc
    write_file(
        spark,
        make_rows([(100, first, "cc", 90), (101, [777_000 + 3 * k for k in range(60)], "cc", 91)]),
        corpus_dir,
    )
    q = run_near_dedup_stream_exact(spark, corpus_dir, out_dir, ckpt, bands=16)
    q.processAllAvailable()
    q.stop()

    survivors = sorted(r.doc_seq for r in spark.read.parquet(out_dir).select("doc_seq").collect())
    assert survivors == [0, 1, 2, 3, 4, 5, 6, 7, 101]  # dup 100 dropped

    scans = [
        json.loads(l)
        for l in open(os.path.join(out_dir, "_metrics.jsonl"))
        if json.loads(l).get("tier") == "near"
    ]
    by_batch = {s["batch_id"]: s for s in scans}
    # history grows 1..8 batches, but the scan stays bounded: fresh batches
    # scan only accidental prefix collisions (binomial, ~10%/pair), never
    # the full history
    for b in range(2, 8):
        assert by_batch[b]["state_batches_scanned"] <= max(
            2, by_batch[b]["state_batches_total"] // 2
        ), by_batch[b]
    # the dup batch must have found its match while scanning a bounded
    # candidate set (batch 0 + collisions), not everything
    last = by_batch[8]
    assert last["state_batches_total"] == 8
    assert 1 <= last["state_batches_scanned"] <= 4, last
    # read bytes stay far below the full index size
    full = 0
    for root, _d, files in os.walk(os.path.join(out_dir, "_band_state")):
        full += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    assert last["state_bytes_read"] < full / 2, (last["state_bytes_read"], full)
