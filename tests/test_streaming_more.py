"""Sliding-window streaming agg + dropDuplicatesWithinWatermark path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataflow_spark.corpus import CORPUS_SCHEMA
from dataflow_spark.streaming.pipeline import (
    file_stream_source,
    streaming_builtin_dedup,
    windowed_source_stats,
)
from tests.test_streaming import (
    make_rows,
    survivors_by_content,
    toks,
    write_file,
)


def test_sliding_window_stream_matches_batch(spark, tmp_path):
    corpus_dir = str(tmp_path / "c")
    ckpt = str(tmp_path / "k")
    rows = make_rows(
        [
            (1, toks(1, 2), "cc", 0),        # 00:00
            (2, toks(3), "cc", 2700),        # 00:45
            (3, toks(4, 5, 6), "web", 3900), # 01:05
        ]
    )
    sentinel = make_rows([(9, toks(9), "cc", 6 * 3600)])
    write_file(spark, rows, corpus_dir)
    write_file(spark, sentinel, corpus_dir)

    stream = file_stream_source(spark, corpus_dir, max_files_per_trigger=1)
    agg = windowed_source_stats(
        stream, window="1 hour", slide="30 minutes", watermark_delay="5 minutes"
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("slide_agg")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.window_start.isoformat(), r.source): (r.n_docs, r.n_tokens)
        for r in spark.sql("select * from slide_agg").collect()
        if r.source != "cc" or r.n_docs  # sentinel excluded below
    }
    # batch truth: every event in exactly two 1h/30m windows
    batch = spark.createDataFrame(rows, stream.schema)
    expect = {
        (r["w"]["start"].isoformat(), r.source): (r.n, r.t)
        for r in batch.groupBy(
            F.window("event_time", "1 hour", "30 minutes").alias("w"), "source"
        )
        .agg(F.count("*").alias("n"), F.sum("n_tok").alias("t"))
        .collect()
    }
    for k, v in expect.items():
        assert got[k] == v, k
    # doc 1 (00:00) appears in windows starting 23:30 and 00:00
    assert got[("2025-12-31T23:30:00", "cc")] == (1, 2)
    assert got[("2026-01-01T00:00:00", "cc")][0] >= 1


def test_builtin_dedup_within_watermark(spark, tmp_path):
    corpus_dir = str(tmp_path / "c")
    ckpt = str(tmp_path / "k")
    write_file(
        spark,
        make_rows(
            [
                (1, toks(1, 2, 3), "cc", 0),
                (2, toks(1, 2, 3), "cc", 5),   # dup within watermark
                (3, toks(4), "web", 10),
            ]
        ),
        corpus_dir,
    )
    stream = file_stream_source(spark, corpus_dir)
    out = streaming_builtin_dedup(stream, watermark_delay="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("builtin_dd")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(r.doc_id for r in spark.sql("select doc_id from builtin_dd").collect())
    assert got == ["d000001", "d000003"]


def test_rocksdb_state_store_provider(spark, tmp_path):
    """The 'RocksDB in prod' claim holds on a local session too: the builtin
    dedup stream runs under RocksDBStateStoreProvider (bundled with Spark)
    and checkpoints RocksDB snapshots.  Provider is a runtime SQL conf read
    at query start, so it applies to the shared session's next query."""
    import glob
    import os

    from dataflow_spark.corpus import synthetic_corpus
    from dataflow_spark.streaming.pipeline import run_dedup_filter_stream

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        corpus_dir = str(tmp_path / "corpus")
        synthetic_corpus(spark, 800).repartition(4).write.parquet(corpus_dir)
        q = run_dedup_filter_stream(
            spark, corpus_dir, str(tmp_path / "out"), str(tmp_path / "ckpt"),
            max_files_per_trigger=2,
        )
        q.processAllAvailable()
        q.stop()
        out = spark.read.parquet(str(tmp_path / "out"))
        # one survivor per content class (which row of a batch is Spark's)
        assert out.count() == out.select(F.xxhash64("tokens")).distinct().count() > 0
        snaps = glob.glob(str(tmp_path / "ckpt" / "state" / "**" / "*.zip"), recursive=True)
        assert snaps, "no RocksDB snapshot zips under the state checkpoint"
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_dedup_mode_builtin_matches_batch(spark, tmp_path):
    """run_dedup_filter_stream (builtin tier) keeps the same content classes
    as the batch exact_dedup oracle: one survivor per token-array hash, from
    the micro-batch where that hash first arrived; multi-file source so the
    state actually spans micro-batches."""
    from dataflow_spark.operators.dedup import exact_dedup
    from dataflow_spark.streaming.pipeline import run_dedup_filter_stream

    corpus_dir = str(tmp_path / "c")
    f1 = make_rows(
        [
            (1, toks(1, 2, 3), "cc", 0),
            (2, toks(1, 2, 3), "cc", 5),  # dup of 1, same batch
            (3, toks(4), "web", 10),
        ]
    )
    f2 = make_rows(
        [
            (4, toks(1, 2, 3), "cc", 20),  # dup of 1, later batch
            (5, toks(7, 8), "web", 30),
        ]
    )
    write_file(spark, f1, corpus_dir)
    write_file(spark, f2, corpus_dir)

    out = str(tmp_path / "out")
    q = run_dedup_filter_stream(
        spark, corpus_dir, out, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    q.processAllAvailable()
    q.stop()
    got = survivors_by_content(spark, out)

    batch = spark.createDataFrame(f1 + f2, CORPUS_SCHEMA)
    oracle = {
        tuple(r.tokens): [r.doc_seq]
        for r in exact_dedup(
            batch.withColumn("_th", F.xxhash64("tokens")), hash_col="_th"
        ).collect()
    }
    assert oracle == {(1, 2, 3): [1], (4,): [3], (7, 8): [5]}
    assert set(got) == set(oracle)
    assert got[(1, 2, 3)] in ([1], [2])  # first-seen batch; row is Spark's pick
    assert got[(4,)] == [3] and got[(7, 8)] == [5]


def test_dedup_mode_rejects_removed_tiers(spark, tmp_path):
    from dataflow_spark.streaming.pipeline import run_dedup_filter_stream

    for mode in ("custom", "tws", "indexed"):
        with pytest.raises(ValueError, match="run_exact_dedup_stream_indexed"):
            run_dedup_filter_stream(
                spark, str(tmp_path / "c"), str(tmp_path / "o"),
                str(tmp_path / "k"), dedup_mode=mode,
            )


@pytest.mark.parametrize("tier", ["builtin", "indexed", "near_exact"])
def test_stream_tiers_leave_no_persisted_rdds(spark, tmp_path, tier):
    """Nothing persisted inside a tier's micro-batches outlives the query.
    Compared with the ids persisted before the run: the session is shared,
    and earlier tests' minhash/CC localCheckpoint RDDs stay registered
    until the JVM collects them."""
    from dataflow_spark.streaming.indexed import run_exact_dedup_stream_indexed
    from dataflow_spark.streaming.pipeline import (
        run_dedup_filter_stream,
        run_near_dedup_stream_exact,
    )

    corpus_dir = str(tmp_path / "c")
    write_file(
        spark,
        make_rows([(1, toks(1, 2), "cc", 0), (2, toks(1, 2), "cc", 1)]),
        corpus_dir,
    )
    write_file(spark, make_rows([(3, toks(1, 2), "cc", 5)]), corpus_dir)
    run = {
        "builtin": run_dedup_filter_stream,
        "indexed": run_exact_dedup_stream_indexed,
        "near_exact": run_near_dedup_stream_exact,
    }[tier]
    jsc = spark.sparkContext._jsc
    before = set(dict(jsc.getPersistentRDDs()))
    q = run(spark, corpus_dir, str(tmp_path / "o"), str(tmp_path / "k"))
    q.processAllAvailable()
    q.stop()
    assert set(dict(jsc.getPersistentRDDs())) - before == set()
