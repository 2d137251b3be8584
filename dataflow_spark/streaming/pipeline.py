"""Structured-Streaming pipeline — the north-rule core.

Re-expresses the reference's StreamBatchedPipelineABC (micro-batch chunking +
resume, dataflow/pipeline/Pipeline.py:613-697 and
StreamBatchedFileStorage.iter_chunks, dataflow/utils/storage.py:1169-1184) as
a real Structured Streaming job:

* source: file-stream over the tokenized-corpus directory (parquet).  On a
  production cluster this is ``spark.readStream.format("iceberg")`` — the
  Iceberg connector jars are not in this sandbox, so the source is stubbed
  behind an import-try (``iceberg_source``) with the file stream as the
  drop-in stand-in (identical schema and semantics downstream);
* event-time watermark (``withWatermark``) bounds all state;
* exact dedup: ``dropDuplicatesWithinWatermark`` on the token-array hash —
  the streaming analogue of the reference's in-memory ``seen`` set
  (hash_deduplicate_filter.py:75-89), exact within the watermark horizon;
  streaming/indexed.py is the durable, unbounded-horizon tier;
* rule filters: the same Catalyst predicates as batch (stateless, fuse);
* windowed aggregation: tumbling window keyed by (skew-salted) source;
* sink: ``write_batch_once``, the one ``foreachBatch`` writer of every
  tier — exactly-once via write-once batch directories + per-partition
  lineage columns (batch_id, part_id), and one metrics record per written
  batch in ``out_dir/_metrics.jsonl``, the same keys on every tier::

    {"v": 1, "batch_id": 3, "tier": "builtin" | "indexed" | "near",
     "rows": 812, "tokens": 95391,
     "phases": {"probe_s": .., "dedup_s": .., "seal_s": .., "rows_sink_s": ..},
     "state_bytes_read": 64, "state_batches_scanned": 1,
     "state_batches_total": 3}

  ``rows``/``tokens`` are the rows written and their ``n_tok`` sum.
  ``phases`` are disjoint wall-clock windows; the builtin tier has only
  ``rows_sink_s`` and ``null`` for the three ``state_*`` keys (its state
  lives in Spark's state store).
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataflow_spark.corpus import CORPUS_SCHEMA

# Sink parquet encoding for the token-array payload, measured on the 110M-token
# amplified corpus (NOTES.md "Sink encoding", median of 5):
#   snappy+dict (parquet default)  10.6 s   49.4 MB
#   zstd+dict                      12.3 s   12.4 MB
#   zstd, dictionary OFF            9.3 s   11.8 MB   <- default here
#   snappy, dictionary OFF          8.9 s   83.2 MB
# Dictionary encoding is the encode-time cost (every int32 token gets
# dict-indexed against a ~50k-entry page); PLAIN int32 + zstd compresses the
# low-entropy high bytes 4.2x better than snappy at equal speed.  At the
# 100 TB design point the 4.2x bytes reduction is also the downstream scan
# win; zstd is Iceberg's recommended table codec.
SINK_PARQUET_OPTIONS = {
    "compression": "zstd",
    "parquet.enable.dictionary": "false",
}


def _sink_writer(df: DataFrame):
    w = df.write.mode("overwrite")
    for k, v in SINK_PARQUET_OPTIONS.items():
        w = w.option(k, v)
    return w


def iceberg_source(spark: SparkSession, table: str) -> DataFrame:
    """Iceberg streaming source — requires iceberg-spark-runtime jars (not in
    this sandbox image).  Raises with guidance; file_stream_source is the
    sandbox stand-in."""
    try:
        return spark.readStream.format("iceberg").load(table)
    except Exception as e:  # pragma: no cover - jars absent in sandbox
        raise NotImplementedError(
            "Iceberg runtime jars not on classpath; use file_stream_source() "
            "(same schema/semantics) or add "
            "org.apache.iceberg:iceberg-spark-runtime to spark.jars.packages"
        ) from e


def file_stream_source(
    spark: SparkSession, corpus_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Parquet file stream over the corpus directory (micro-batch = files)."""
    return (
        spark.readStream.schema(CORPUS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(corpus_dir)
    )


# ---------------------------------------------------------------------------
# stateful exact dedup
# ---------------------------------------------------------------------------


def streaming_builtin_dedup(
    stream: DataFrame, watermark_delay: str = "10 minutes"
) -> DataFrame:
    """Production-default path: dropDuplicatesWithinWatermark on the token
    hash (state store managed by Spark; RocksDB-backed on a real cluster)."""
    tagged = stream.withColumn("_th", F.xxhash64(F.col("tokens")))
    return tagged.withWatermark("event_time", watermark_delay).dropDuplicatesWithinWatermark(
        ["_th"]
    ).drop("_th")


# ---------------------------------------------------------------------------
# windowed aggregation with skew salting
# ---------------------------------------------------------------------------


def windowed_source_stats(
    stream: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark_delay: str = "10 minutes",
    n_salt: int = 8,
) -> DataFrame:
    """Tumbling/sliding window token stats per source with two-phase skew
    salting: partial agg on (window, source, salt) — spreads the ~70%-hot
    'cc' key over n_salt reducers — then final agg on (window, source).
    Identical results to the direct agg; the hot key never lands on one task."""
    win = F.window("event_time", window, slide) if slide else F.window("event_time", window)
    salted = stream.withWatermark("event_time", watermark_delay).withColumn(
        "_salt", F.pmod(F.xxhash64("doc_id"), F.lit(n_salt)).cast("int")
    )
    partial = salted.groupBy(win.alias("w"), "source", "_salt").agg(
        F.count("*").alias("_n"), F.sum("n_tok").alias("_tok")
    )
    return partial.groupBy("w", "source").agg(
        F.sum("_n").alias("n_docs"), F.sum("_tok").alias("n_tokens")
    ).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "source",
        "n_docs",
        "n_tokens",
    )


def session_windows(
    stream: DataFrame,
    key_col: str = "source",
    gap: str = "30 minutes",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Session windows per arbitrary key (doc batches separated by quiet
    gaps): key by ``source`` for per-shard batch sessions, or by a doc-id
    prefix (e.g. ``F.substring('doc_id', 1, 8)`` pre-projected) for per
    doc_id-batch sessions (north rule)."""
    return (
        stream.withWatermark("event_time", watermark_delay)
        .groupBy(F.session_window("event_time", gap).alias("sw"), key_col)
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            key_col,
            "n_docs",
            "n_tokens",
        )
    )


def session_windows_per_source(
    stream: DataFrame, gap: str = "30 minutes", watermark_delay: str = "10 minutes"
) -> DataFrame:
    return session_windows(stream, "source", gap, watermark_delay)


# ---------------------------------------------------------------------------
# stream-stream self-join for cross-shard near-dup candidate pairs
# ---------------------------------------------------------------------------


def near_dup_candidates_stream(
    stream: DataFrame,
    watermark_delay: str = "10 minutes",
    join_horizon: str = "1 hour",
    bands: int = 16,
    num_perm: int = 128,
) -> DataFrame:
    """Stateful stream-stream self-join on MinHash band hashes: emits
    (band_hash, doc_a, doc_b) candidate pairs where doc_a arrived earlier
    (event-time bounded by ``join_horizon``).  Downstream either drops doc_b
    (first-seen near-dedup) or feeds a clustering job."""
    from dataflow_spark.operators.dedup import minhash_bands_from_tokens_udf

    band_udf = minhash_bands_from_tokens_udf(num_perm, bands, 3)
    banded = (
        stream.withColumn("_bands", band_udf(F.col("tokens")))
        .select(
            "doc_id",
            "doc_seq",
            "event_time",
            # outer + null-drop: avoids the inferred size(_bands)>0 filter
            # that would plan the signature UDF twice (dedup.py rationale)
            F.posexplode_outer("_bands").alias("band_id", "band_hash"),
        )
        .where(F.col("band_id").isNotNull())
        .withWatermark("event_time", watermark_delay)
    )
    left = banded.select(
        F.col("band_id").alias("l_band_id"),
        F.col("band_hash").alias("l_band_hash"),
        F.col("doc_id").alias("doc_a"),
        F.col("doc_seq").alias("seq_a"),
        F.col("event_time").alias("time_a"),
    )
    right = banded.select(
        F.col("band_id").alias("r_band_id"),
        F.col("band_hash").alias("r_band_hash"),
        F.col("doc_id").alias("doc_b"),
        F.col("doc_seq").alias("seq_b"),
        F.col("event_time").alias("time_b"),
    )
    return (
        left.join(
            right,
            F.expr(
                f"""
                l_band_id = r_band_id AND l_band_hash = r_band_hash
                AND seq_a < seq_b
                AND time_b BETWEEN time_a AND time_a + INTERVAL {join_horizon}
                """
            ),
        )
        .select(
            F.col("l_band_hash").alias("band_hash"),
            "doc_a",
            "doc_b",
            "seq_a",
            "seq_b",
            F.col("time_b").alias("event_time"),
        )
        # plain dropDuplicates on a stream keeps pair-state FOREVER; the
        # within-watermark variant bounds it to the horizon (same contract as
        # the dedup state everywhere else in this engine).  The watermark is
        # inherited from the join inputs — re-declaring it here is an error
        # ("Redefining watermark is disallowed").
        .dropDuplicatesWithinWatermark(["doc_a", "doc_b"])
    )


# ---------------------------------------------------------------------------
# exactly-once sink + lineage
# ---------------------------------------------------------------------------


def write_batch_once(
    df: DataFrame,
    out_dir: str,
    batch_id: int,
    tier: str | None = None,
    phases: dict[str, float] | None = None,
    state: tuple = (None, None, None),
) -> None:
    """The one writer of a micro-batch's rows and of its ``_metrics.jsonl``
    record.  Writes ``df`` under ``out_dir/batch_id=N`` with the lineage
    column ``part_id``, unless that dir's ``_SUCCESS`` exists: a replayed
    batch writes no rows and no record (exactly-once on top of Spark's
    at-least-once).  With a ``tier`` it then appends one record to
    ``out_dir/_metrics.jsonl``; ``route_by_source`` passes none and writes
    no record.

    Every tier's record has the same keys: ``v`` (1), ``batch_id``,
    ``tier`` (``builtin | indexed | near``), ``rows`` and ``tokens``
    written, ``phases`` (the caller's disjoint wall-clock windows, then
    ``rows_sink_s``, this write's own window) and ``state_bytes_read`` /
    ``state_batches_scanned`` / ``state_batches_total`` from ``state``
    (``null`` on the builtin tier).

    On a real cluster the same pattern targets an Iceberg table where the
    batchId is recorded as a snapshot property (commit-level idempotence)."""
    # Hive-style batch_id=N dir: the lineage column materializes from the
    # partition path on read, and _SUCCESS is the idempotence marker.
    batch_dir = os.path.join(out_dir, f"batch_id={batch_id}")
    if os.path.exists(os.path.join(batch_dir, "_SUCCESS")):
        return  # replayed batch — already durable
    t0 = time.monotonic()
    out = df.withColumn("part_id", F.spark_partition_id())
    if tier:
        # totals ride the write job itself as observation metrics — no
        # persist of the micro-batch, no second agg job, and the upstream
        # stateful plan is never re-run.
        from pyspark.sql import Observation

        obs = Observation(f"sink_batch_{batch_id}")
        tok = (F.sum("n_tok") if "n_tok" in out.columns else F.lit(0)).alias("tokens")
        out = out.observe(obs, F.count(F.lit(1)).alias("rows"), tok)
    _sink_writer(out).parquet(batch_dir)
    if not tier:
        return
    got = obs.get
    rec = {
        "v": 1,
        "batch_id": batch_id,
        "tier": tier,
        "rows": int(got["rows"] or 0),
        "tokens": int(got["tokens"] or 0),
        "phases": {**(phases or {}), "rows_sink_s": round(time.monotonic() - t0, 3)},
        **dict(zip(
            ("state_bytes_read", "state_batches_scanned", "state_batches_total"),
            state,
        )),
    }
    with open(os.path.join(out_dir, "_metrics.jsonl"), "a") as fh:
        fh.write(json.dumps(rec) + "\n")


def idempotent_parquet_sink(out_dir: str):
    """The builtin tier's ``foreachBatch`` writer: ``write_batch_once``
    with ``tier='builtin'``."""
    return lambda df, batch_id: write_batch_once(df, out_dir, batch_id, "builtin")


def run_dedup_filter_stream(
    spark: SparkSession,
    corpus_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark_delay: str = "10 minutes",
    max_files_per_trigger: int = 1,
    stages: Callable[[DataFrame], DataFrame] | None = None,
    dedup_mode: str = "builtin",
):
    """The full streaming pipeline: source -> watermark -> exact dedup
    (``streaming_builtin_dedup``) -> ``n_tok >= 1`` -> ``stages`` (a
    DataFrame -> DataFrame chain such as a ``core.stage.Pipeline``) ->
    exactly-once sink.  Returns the started query; caller drives it
    (processAllAvailable in tests) and can kill/restart with the same
    checkpoint_dir to prove resume.

    Dedup keeps one survivor per token-array hash, taken from the
    micro-batch where that hash first arrived; which row of that batch
    survives is Spark's choice.  ``dedup_mode`` accepts only ``'builtin'``;
    for durable, unbounded-horizon dedup with min-``doc_seq`` survivors use
    ``streaming.indexed.run_exact_dedup_stream_indexed``."""
    from dataflow_spark.operators.filters import keep_n_tok_range

    if dedup_mode != "builtin":
        raise ValueError(
            f"dedup_mode {dedup_mode!r}: only 'builtin' is supported (the "
            "'custom' and 'tws' tiers were removed); use "
            "streaming.indexed.run_exact_dedup_stream_indexed for the "
            "durable-index tier"
        )
    stream = file_stream_source(spark, corpus_dir, max_files_per_trigger)
    deduped = streaming_builtin_dedup(stream, watermark_delay)
    filtered = deduped.where(keep_n_tok_range(1, 10**9))
    if stages:
        filtered = stages(filtered)
    return (
        filtered.writeStream.foreachBatch(idempotent_parquet_sink(out_dir))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


# ---------------------------------------------------------------------------
# exact MinHash-LSH near-dedup on the generation-segment index
# ---------------------------------------------------------------------------


def run_near_dedup_stream_exact(
    spark: SparkSession,
    corpus_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    bands: int = 16,
    num_perm: int = 128,
    token_ngram: int = 3,
    stages: Callable[[DataFrame], DataFrame] | None = None,
):
    """Streaming near-dedup with the reference's sequential
    query-then-insert LSH semantics (minhash_deduplicate_filter.py:66-83):
    only survivors' bands enter the index, a dropped doc's never do.

    Runs ``streaming.indexed._run_index_stream`` with its index under
    ``out_dir/_band_state`` (``tier: near`` records), keyed on the
    packed band key ``xxhash64(band_id, band_hash)``
    (``dedup.packed_band_keys`` over the band UDF, its only pass), at
    ``dedup.MINHASH_BUCKET_CAP`` — the batch ``minhash_dedup`` decision,
    which coincides with the sequential loop on chain-free clusters.  The
    losers leave the batch through the sorted-array ``_not_in_sorted_udf``
    filter on ``doc_seq``; ``stages`` then runs on the survivors before
    their rows are written.

    The fetch ceiling is 16 B × ``bands`` per doc on the driver (256 B/doc
    at 16 bands: ~0.6 MB for a 2,400-doc trigger, 256 MB at 1M docs per
    trigger), so size ``max_files_per_trigger`` to keep a trigger's pairs
    well inside driver memory."""
    from dataflow_spark.operators.dedup import (
        MINHASH_BUCKET_CAP,
        _not_in_sorted_udf,
        minhash_bands_from_tokens_udf,
        packed_band_keys,
    )
    from dataflow_spark.streaming.indexed import _run_index_stream

    band_udf = minhash_bands_from_tokens_udf(num_perm, bands, token_ngram)
    return _run_index_stream(
        spark, corpus_dir, out_dir, checkpoint_dir, max_files_per_trigger,
        lambda df: packed_band_keys(
            df.select("doc_seq", band_udf(F.col("tokens")).alias("_bands")),
            "doc_seq", "_bands", "_th",
        ),
        MINHASH_BUCKET_CAP,
        lambda df, losers: df.where(_not_in_sorted_udf(losers)(F.col("doc_seq"))),
        tier="near",
        stages=stages,
    )


# ---------------------------------------------------------------------------
# source-conditioned routing
# ---------------------------------------------------------------------------


def route_by_source(
    spark: SparkSession,
    stream: DataFrame,
    routes: dict[str, list],
    out_dir: str,
    checkpoint_dir: str,
    default_route: str | None = "_default",
):
    """Source-conditioned routing (north star): one streaming query whose
    foreachBatch applies each route's predicate chain to its source slice and
    appends to ``out_dir/source=<name>/batch_id=N`` — Hive layout, so
    downstream readers partition-prune by source.  A single query (not one
    per route) keeps one checkpoint/offset log and one pass over the data."""

    def sink(df: DataFrame, batch_id: int):
        df.persist()
        try:
            for src, preds in routes.items():
                part = df.where(F.col("source") == src)
                for p in preds:
                    part = part.where(p)
                write_batch_once(part, os.path.join(out_dir, f"source={src}"), batch_id)
            if default_route is not None:
                rest = df.where(~F.col("source").isin(list(routes)))
                write_batch_once(
                    rest, os.path.join(out_dir, f"source={default_route}"), batch_id
                )
        finally:
            df.unpersist()

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )
