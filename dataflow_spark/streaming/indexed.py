"""The generation-segment index: a durable, append-only set of int64 keys
that a ``foreachBatch`` stream probes and extends once per micro-batch with
O(batch) state IO, and the exact-dedup stream built on it.

Why (VERDICT r3 #3): ``applyInPandasWithState`` exposes ONE value per group
key, so a Python-side seen-set must be rewritten wholesale every
micro-batch — per-batch durable-state IO is O(history) no matter how the
buffer is laid out.  ``SegmentIndex`` is the durable form of the
reference's seen-set (hash_deduplicate_filter.py:75-89, and the band-key
query-then-insert of minhash_deduplicate_filter.py:66-83) as an append-only
log of sorted key arrays, one per generation.  Both durable dedup streams
run on it, each a thin ``foreachBatch`` body:

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
- **One-fetch decision (exact stream).**  One Arrow fetch of the batch's
  ``(_th, doc_seq)`` pairs — O(batch) longs on the driver, the same order
  as the keys the probe needs anyway.  ``np.lexsort`` by (key, seq) puts
  each key's min-``doc_seq`` row first in its run; the losers are every
  other row of a run plus the first rows whose key a sealed generation
  holds.  Only the losers' pairs go back into Spark, as one broadcast
  left-anti join, so the state handed to Spark is O(duplicates) and the
  row write is the batch's only data job.
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
  identical survivors and re-writes nothing.

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

from dataflow_spark.operators.dedup import _sorted_member
from dataflow_spark.streaming.pipeline import (
    file_stream_source,
    idempotent_parquet_sink,
)

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
    sealed generation under ``out_dir/<name>``, one ``kind`` record per
    batch in ``out_dir/_metrics.jsonl``.  Opening it checks (or, for a new
    index, records) the format in ``_index_meta.json``.

    Per micro-batch: ``probe`` the batch's keys, then ``seal`` the
    generation with the keys its survivors add."""

    def __init__(
        self,
        out_dir: str,
        name: str = SEEN_STATE_DIRNAME,
        kind: str = "seen_state_scan",
    ):
        self.out_dir = out_dir
        self.state_dir = os.path.join(out_dir, name)
        self.kind = kind
        _check_format(self.state_dir)

    def probe(self, keys: np.ndarray, batch_id: int, t0: float) -> "_Generation":
        """Probe the generations sealed before ``batch_id`` for ``keys``
        (the batch's sorted, unique int64 keys).  The result's ``hit``
        marks the keys already sealed and ``hits`` holds them.  ``t0`` is
        the ``time.monotonic()`` reading taken before the caller fetched
        the keys: the ``probe_s`` window opens there, so it covers the
        fetch."""
        return _Generation(self, keys, batch_id, t0)

    def _path(self, b: int) -> str:
        return os.path.join(self.state_dir, f"batch_id={b}.npy")

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


class _Generation:
    """One micro-batch's pass over a ``SegmentIndex``: the probe runs at
    construction (``hit`` = which of the batch's sorted distinct keys are
    already sealed, ``hits`` = those keys), ``seal`` appends the generation.
    ``phases`` holds disjoint wall-clock windows — each ``mark`` closes
    the window the previous one opened."""

    def __init__(
        self, index: SegmentIndex, keys: np.ndarray, batch_id: int, t0: float
    ):
        self.index, self.batch_id = index, batch_id
        self.phases: dict[str, float] = {}
        self._t = t0
        self.prior = _list_sealed_batches(index.state_dir, upto=batch_id)
        self.hit = np.zeros(len(keys), dtype=bool)
        self.scanned = 0
        for b in self.prior:
            member = _sorted_member(np.load(index._path(b), mmap_mode="r"), keys)
            self.scanned += bool(member.any())
            self.hit |= member
        self.hits = keys[self.hit]
        self.mark("probe_s")

    def mark(self, name: str) -> None:
        t = time.monotonic()
        self.phases[name] = round(t - self._t, 3)
        self._t = t

    def seal(self, new_keys: np.ndarray, write_rows: Callable[[], None]) -> None:
        """Seal ``new_keys`` (int64, the keys this batch's survivors add)
        as this batch's generation, then run ``write_rows()``, the caller's
        row sink — the generation is durable before the batch can commit.
        A generation already sealed (a replayed batch) is not rewritten,
        and the scan record is written only with a fresh row output."""
        ix, b = self.index, self.batch_id
        if not os.path.exists(ix._path(b)):
            _write_keys(ix._path(b), np.unique(np.asarray(new_keys, np.int64)))
        self.mark("seal_s")
        fresh_output = not os.path.exists(
            os.path.join(ix.out_dir, f"batch_id={b}", "_SUCCESS")
        )
        write_rows()
        self.mark("rows_sink_s")
        if fresh_output:
            with open(os.path.join(ix.out_dir, "_metrics.jsonl"), "a") as fh:
                fh.write(json.dumps({
                    "batch_id": b,
                    "kind": ix.kind,
                    "state_bytes_read": 8 * len(self.hits),
                    "state_batches_scanned": self.scanned,
                    "state_batches_total": len(self.prior),
                    "phases": self.phases,
                }) + "\n")


def run_exact_dedup_stream_indexed(
    spark: SparkSession,
    corpus_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
):
    """First-seen exact dedup over the stream with the generation-segment
    index keyed on the token-array hash.  Emits FULL survivor rows
    (token-array equality, min ``doc_seq`` per hash, as batch
    ``dedup.exact_dedup``) exactly-once under ``out_dir/batch_id=N``.

    Per batch the driver decides from one Arrow fetch of the persisted
    batch's ``(_th, doc_seq)`` pairs, O(batch) longs: ``np.lexsort`` by
    (hash, seq) makes the first row of each hash's run its batch-local
    survivor, the run heads' hashes are probed against the index, and the
    losers — the rest of each run plus the heads whose hash is sealed —
    leave the batch through one broadcast left-anti join on their pairs.
    The fresh heads' hashes, exactly the survivors', are sealed without a
    Spark job, and the row write is the batch's only data job.  ``doc_seq``
    must be unique per row, as the corpus assigns it."""
    index = SegmentIndex(out_dir)
    rows_sink = idempotent_parquet_sink(
        out_dir, metrics_path=os.path.join(out_dir, "_metrics.jsonl")
    )

    def sink(df: DataFrame, batch_id: int):
        t0 = time.monotonic()
        tagged = df.withColumn("_th", F.xxhash64(F.col("tokens"))).persist()
        try:
            pairs = tagged.select("_th", "doc_seq").toPandas()
            th = pairs["_th"].to_numpy(np.int64)
            seq = pairs["doc_seq"].to_numpy(np.int64)
            order = np.lexsort((seq, th))
            th, seq = th[order], seq[order]
            head = np.ones(len(th), dtype=bool)
            head[1:] = th[1:] != th[:-1]
            heads = th[head]
            gen = index.probe(heads, batch_id, t0)
            lose = ~head
            lose[np.flatnonzero(head)[gen.hit]] = True
            survivors = tagged
            if lose.any():
                losers = spark.createDataFrame(
                    pd.DataFrame({"_th": th[lose], "doc_seq": seq[lose]}),
                    "_th BIGINT, doc_seq BIGINT",
                )
                survivors = tagged.join(
                    F.broadcast(losers), ["_th", "doc_seq"], "left_anti"
                )
            gen.seal(
                heads[~gen.hit],
                lambda: rows_sink(survivors.select(df.columns), batch_id),
            )
        finally:
            tagged.unpersist()

    stream = file_stream_source(spark, corpus_dir, max_files_per_trigger)
    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def compact_seen_index(out_dir: str) -> int:
    """``SegmentIndex.compact`` on the exact stream's index under
    ``out_dir``."""
    return SegmentIndex(out_dir).compact()


def expire_seen_index(out_dir: str, keep_from_batch: int) -> int:
    """``SegmentIndex.expire`` on the exact stream's index under
    ``out_dir``."""
    return SegmentIndex(out_dir).expire(keep_from_batch)
