"""The generation-segment index: a durable, append-only set of int64 keys
that a ``foreachBatch`` stream probes and extends once per micro-batch with
O(batch) state IO, and the one ``foreachBatch`` body both index streams run
on it.

Why (VERDICT r3 #3): ``applyInPandasWithState`` exposes ONE value per group
key, so a Python-side seen-set must be rewritten wholesale every
micro-batch — per-batch durable-state IO is O(history) no matter how the
buffer is laid out.  ``SegmentIndex`` is the durable form of the
reference's seen-set (hash_deduplicate_filter.py:75-89, and the band-key
query-then-insert of minhash_deduplicate_filter.py:66-83) as an append-only
log of sorted key arrays, one per generation.  Both durable dedup streams
run on it through one ``foreachBatch`` body, each passing its key:

- ``run_exact_dedup_stream_indexed`` (here) keys it on the token-array hash
  ``_th = xxhash64(tokens)``;
- ``pipeline.run_near_dedup_stream_exact`` keys it on the packed MinHash
  band key ``xxhash64(band_id, band_hash)`` (``dedup.packed_band_keys``).

Design:

- **Generation = micro-batch id.**  Batch N seals ONE file
  ``<name>/batch_id=N.npy``: the sorted, unique int64 keys its survivors
  add.  The driver writes it (tmp file, fsync, atomic rename) before the
  batch's rows; nothing is ever rewritten, so per-batch state WRITE is
  O(new keys), not O(history).
- **Driver-side probe.**  ``SegmentIndex.probe`` takes the batch's
  sorted distinct keys as a numpy array and runs ``np.searchsorted`` over
  each sealed generation opened as a read-only memory map — the OS page
  cache, not the heap, bounds RAM.  No Spark job reads or writes the
  index; each stream fetches its batch's keys itself.
- **One-fetch decision, one body.**  Both streams run ``_run_index_stream``:
  persist the batch, one Arrow fetch of its ``(doc_seq, _th)`` pairs
  (O(batch) longs, the keys the probe needs anyway), probe, then docs
  holding a sealed key lose and ``dedup.cluster_min_losers`` picks the
  min-``doc_seq`` survivors among the rest (no bucket cap for exact keys,
  ``MINHASH_BUCKET_CAP`` for band keys).  The survivors' keys are sealed
  without a Spark job and their rows written, through the optional
  post-dedup ``stages`` chain (``core.spec.run_stream_spec``), by
  ``pipeline.write_batch_once``, the one writer of every tier.  Each
  stream passes its own loser filter, the form that measured faster for
  it (NOTES.md, "One driver-decided sink"): the exact stream a broadcast
  left-anti join on ``doc_seq``, since ``_not_in_sorted_udf`` would be
  the first Python UDF it runs; the near stream ``_not_in_sorted_udf``,
  since it runs the band UDF anyway and a broadcast was slower there.
- **Format pin.**  ``<name>/_index_meta.json`` records ``{"format": 2}``.
  A v1 index (bucketed parquet segments, geometry meta) or sealed
  generations without the meta file are refused, never misread.
- **Compaction** is offline table maintenance: ``SegmentIndex.compact``
  replaces the oldest generation with the union of all and deletes the
  rest.  A key held twice never changes a probe answer, so every crash
  point leaves the union intact and no recovery step exists.
- **Horizon/TTL**: ``SegmentIndex.expire`` deletes generations older than a
  cutoff — the dedup horizon becomes "since expiry", the same
  bounded-state contract as the watermark horizon of the builtin tier.
- **Exactly-once / replay**: a generation file and a row output are each
  written once (the file's existence, the output's ``_SUCCESS``) and the
  probe reads only generations < N, so a replayed batch recomputes
  identical survivors and re-writes nothing: no rows, no generation, no
  record.
- **Metrics**: each written batch gets one ``v: 1`` record in
  ``out_dir/_metrics.jsonl`` (keys in ``pipeline.write_batch_once``) with
  ``tier`` ``indexed`` or ``near``; ``phases`` holds the disjoint windows
  ``probe_s`` (persist, key fetch and probe), ``dedup_s``, ``seal_s`` and
  ``rows_sink_s``; ``state_bytes_read`` is 8 B per key hit,
  ``state_batches_scanned`` the generations holding a hit and
  ``state_batches_total`` the generations probed.

Reference semantics mirrored by the exact stream: first-seen exact dedup by
token-array hash, identical survivors to batch ``dedup.exact_dedup``
(reference hash_deduplicate_filter.py:10-91) — stream==batch parity pinned
in tests.
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataflow_spark.operators.dedup import _sorted_member, cluster_min_losers
from dataflow_spark.streaming.pipeline import file_stream_source, write_batch_once

SEEN_STATE_DIRNAME = "_seen_state"
INDEX_FORMAT = 2


def _list_sealed_batches(state_dir: str, upto: int | None = None) -> list[int]:
    if not os.path.isdir(state_dir):
        return []
    ids = []
    for name in os.listdir(state_dir):
        if name.startswith("batch_id=") and name.endswith(".npy"):
            b = int(name[len("batch_id="):-len(".npy")])
            if upto is None or b < upto:
                ids.append(b)
    return sorted(ids)


def _write_keys(path: str, keys: np.ndarray) -> None:
    """Durable atomic write: a crash leaves either no file or the whole one
    (a stray ``.tmp`` is never listed as a generation)."""
    tmp = path + ".tmp"
    with open(tmp, "wb") as fh:
        np.save(fh, keys)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


def _check_format(state_dir: str) -> None:
    """Pin the on-disk format to the index: the first writer records it,
    every later entry point checks it before touching anything.  A v1
    index (``batch_id=N/bucket=K`` parquet dirs, bucket-geometry meta) or
    sealed generations without the meta file raise a ``ValueError`` naming
    the state dir."""
    path = os.path.join(state_dir, "_index_meta.json")
    meta = None
    if os.path.exists(path):
        with open(path) as fh:
            meta = json.load(fh)
    v1_dirs = os.path.isdir(state_dir) and any(
        name.startswith("batch_id=") and os.path.isdir(os.path.join(state_dir, name))
        for name in os.listdir(state_dir)
    )
    if v1_dirs or (meta is not None and meta.get("format") != INDEX_FORMAT):
        raise ValueError(
            f"{state_dir} holds a v1 generation-segment index (bucketed "
            f"parquet segments); this version reads format {INDEX_FORMAT} "
            "only: rebuild it by replaying the stream into a fresh output dir"
        )
    if meta is not None:
        return
    if _list_sealed_batches(state_dir):
        raise ValueError(
            f"{state_dir} holds sealed generations but no _index_meta.json: "
            "their format is unknown; restore the meta file or rebuild the "
            "index"
        )
    os.makedirs(state_dir, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"format": INDEX_FORMAT}, fh)
    os.replace(tmp, path)


class SegmentIndex:
    """One generation-segment index over an int64 key column ``_th``, kept
    beside a stream's row output: one sorted, unique ``.npy`` key file per
    sealed generation under ``out_dir/<name>``.  Opening it checks (or, for
    a new index, records) the format in ``_index_meta.json``.

    Per micro-batch: ``probe`` the batch's keys, then ``seal`` the
    generation with the keys its survivors add."""

    def __init__(self, out_dir: str, name: str = SEEN_STATE_DIRNAME):
        self.state_dir = os.path.join(out_dir, name)
        _check_format(self.state_dir)

    def _path(self, b: int) -> str:
        return os.path.join(self.state_dir, f"batch_id={b}.npy")

    def probe(self, keys: np.ndarray, batch_id: int) -> tuple[np.ndarray, int, int]:
        """Probe the generations sealed before ``batch_id`` for ``keys``
        (the batch's sorted, unique int64 keys).  Returns the keys already
        sealed, the number of generations holding any of them and the
        number of generations probed."""
        prior = _list_sealed_batches(self.state_dir, upto=batch_id)
        hit = np.zeros(len(keys), dtype=bool)
        scanned = 0
        for b in prior:
            member = _sorted_member(np.load(self._path(b), mmap_mode="r"), keys)
            scanned += bool(member.any())
            hit |= member
        return keys[hit], scanned, len(prior)

    def seal(self, batch_id: int, keys: np.ndarray) -> None:
        """Seal ``keys`` (int64, the keys this batch's survivors add) as
        generation ``batch_id``, durably, before the caller writes the
        batch's rows.  A generation already sealed (a replayed batch) is
        not rewritten."""
        if not os.path.exists(self._path(batch_id)):
            _write_keys(self._path(batch_id), np.unique(np.asarray(keys, np.int64)))

    def compact(self) -> int:
        """Offline compaction (Iceberg ``rewrite_data_files`` in prod):
        replace the oldest sealed generation with the sorted union of all
        of them and delete the rest.  Run while the stream is STOPPED
        (table maintenance).  Returns the number of generations merged
        away.  Probe answers never change: the union lands durably before
        any generation is deleted, and until then every key is held twice
        at most."""
        sealed = _list_sealed_batches(self.state_dir)
        if len(sealed) < 2:
            return 0
        merged = np.unique(np.concatenate([np.load(self._path(b)) for b in sealed]))
        _write_keys(self._path(sealed[0]), merged)
        for b in sealed[1:]:
            os.remove(self._path(b))
        return len(sealed) - 1

    def expire(self, keep_from_batch: int) -> int:
        """Horizon maintenance: drop generations < ``keep_from_batch``
        (Iceberg ``expire_snapshots``/partition drop in prod).  Key history
        before the cutoff is forgotten — the same bounded-state contract as
        a watermark TTL.  Returns the number of generations dropped."""
        old = [b for b in _list_sealed_batches(self.state_dir) if b < keep_from_batch]
        for b in old:
            os.remove(self._path(b))
        return len(old)


def _run_index_stream(
    spark: SparkSession,
    corpus_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int,
    keys: Callable[[DataFrame], DataFrame],
    cap: int | None,
    drop_losers: Callable[[DataFrame, np.ndarray], DataFrame],
    tier: str = "indexed",
    stages: Callable[[DataFrame], DataFrame] | None = None,
):
    """Start the file stream with the one ``foreachBatch`` body of both
    index streams, over the ``SegmentIndex`` of ``tier`` (``indexed``:
    ``_seen_state``, ``near``: ``_band_state``).  Per batch: persist it,
    fetch ``keys(df)`` (one ``(doc_seq, _th)`` row per doc and key) in one
    Arrow fetch, probe the distinct keys; docs holding a sealed key lose,
    ``cluster_min_losers`` at ``cap`` decides among the rest;
    ``drop_losers(df, losers)`` (sorted int64 ``doc_seq``) builds the
    survivors, whose keys are sealed before ``stages(survivors)`` (the
    post-dedup chain, when given) goes to ``pipeline.write_batch_once``
    with the batch's ``probe_s`` (the fetch and the probe), ``dedup_s``
    and ``seal_s`` windows."""
    index = SegmentIndex(
        out_dir, SEEN_STATE_DIRNAME if tier == "indexed" else "_band_state"
    )

    def sink(df: DataFrame, batch_id: int):
        ts = [time.monotonic()]
        df = df.persist()
        try:
            pairs = keys(df).toPandas()
            seq = pairs["doc_seq"].to_numpy(np.int64)
            key = pairs["_th"].to_numpy(np.int64)
            hits, scanned, total = index.probe(np.unique(key), batch_id)
            ts.append(time.monotonic())
            hit = np.unique(seq[_sorted_member(hits, key)])
            rest = ~_sorted_member(hit, seq)
            losers = np.union1d(hit, cluster_min_losers(seq[rest], key[rest], cap))
            ts.append(time.monotonic())
            survivors = drop_losers(df, losers) if len(losers) else df
            if stages:
                survivors = stages(survivors)
            index.seal(batch_id, key[~_sorted_member(losers, seq)])
            ts.append(time.monotonic())
            phases = {
                name: round(b - a, 3)
                for name, a, b in zip(("probe_s", "dedup_s", "seal_s"), ts, ts[1:])
            }
            write_batch_once(
                survivors, out_dir, batch_id, tier, phases,
                (8 * len(hits), scanned, total),
            )
        finally:
            df.unpersist()

    stream = file_stream_source(spark, corpus_dir, max_files_per_trigger)
    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def run_exact_dedup_stream_indexed(
    spark: SparkSession,
    corpus_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    stages: Callable[[DataFrame], DataFrame] | None = None,
):
    """First-seen exact dedup over the stream with the generation-segment
    index keyed on the token-array hash ``_th = xxhash64(tokens)``.  Emits
    FULL survivor rows (token-array equality, min ``doc_seq`` per hash, as
    batch ``dedup.exact_dedup``) exactly-once under ``out_dir/batch_id=N``.

    Runs ``_run_index_stream`` with no bucket cap; the losers leave the
    batch through one broadcast left-anti join on ``doc_seq``; ``stages``
    then runs on the survivors before their rows are written.  ``doc_seq``
    must be unique per row, as the corpus assigns it."""

    def drop_losers(df: DataFrame, losers: np.ndarray) -> DataFrame:
        lose = spark.createDataFrame(
            pd.DataFrame({"doc_seq": losers}), "doc_seq BIGINT"
        )
        # the join moves doc_seq first; the sink writes df's column order
        return df.join(F.broadcast(lose), "doc_seq", "left_anti").select(df.columns)

    return _run_index_stream(
        spark, corpus_dir, out_dir, checkpoint_dir, max_files_per_trigger,
        lambda df: df.select("doc_seq", F.xxhash64("tokens").alias("_th")),
        None,
        drop_losers,
        stages=stages,
    )

