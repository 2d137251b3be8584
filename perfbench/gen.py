"""Seeded corpus generator for the benchmark workloads, with planted truth.

numpy + pyarrow only, single process, no Spark: the inputs must not change
when the engine changes, so nothing from ``dataflow_spark`` is used to make
them.  Files follow ``dataflow_spark.corpus.CORPUS_SCHEMA`` (checked by the
benchmark's tests).

Every row is one of five kinds:

* ``CANON``  fresh random tokens;
* ``EXACT``  a copy of an earlier CANON row's tokens;
* ``NEAR``   a copy of an earlier CANON row with a few positions replaced;
* ``DEGEN``  one token repeated (fails the unique-token filter);
* ``SHORT``  fewer tokens than the length filter's minimum.

The truth written next to the files is derived from the token bytes
themselves (first-seen class per row), so a check never rests on a number
produced by the engine.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 1
VOCAB = 50257
SOURCES = ("cc", "wiki", "code", "books", "forum")
EPOCH_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z
LATE_US = 3_600_000_000  # late rows arrive with event_time one hour back
SHORT_BELOW = 16  # SHORT rows have fewer tokens; the length filter's minimum
SPAN_S = 1000.0  # event-time span of a whole corpus
WARMUP_FILES = 2  # separate small files for the untimed warm-up

CANON, EXACT, NEAR, DEGEN, SHORT = range(5)

SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("doc_seq", pa.int64(), nullable=False),
        pa.field("text", pa.string()),
        pa.field("tokens", pa.list_(pa.field("element", pa.int32(), nullable=False))),
        pa.field("n_tok", pa.int32()),
        pa.field("source", pa.string()),
        pa.field("event_time", pa.timestamp("us", tz="UTC")),
    ]
)


@dataclass(frozen=True)
class CorpusSpec:
    """Input shape of one workload.  Shares are of all rows."""

    files: int
    rows_per_file: int
    len_lo: int
    len_hi: int
    len_alpha: float  # Pareto tail index; large = near-uniform short docs
    exact_share: float
    near_share: float = 0.0
    near_rate: float = 0.02  # share of a NEAR row's positions replaced
    degen_share: float = 0.0
    short_share: float = 0.0
    late_share: float = 0.0
    late_after_file: int = 0  # no late rows in the first N files
    source_probs: tuple = (0.70, 0.10, 0.10, 0.05, 0.05)
    warmup_rows_per_file: int = 100

    def key(self, seed: int) -> str:
        blob = json.dumps([GEN_VERSION, seed, asdict(self)], sort_keys=True)
        return hashlib.sha256(blob.encode()).hexdigest()[:12]


def _lengths(rng, n: int, spec: CorpusSpec) -> np.ndarray:
    u = rng.random(n)
    raw = spec.len_lo * (1.0 - u) ** (-1.0 / spec.len_alpha)
    return np.minimum(raw, spec.len_hi).astype(np.int64)


def _ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenated ``arange(s, s + l)`` for every (s, l) pair."""
    total = int(lens.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    first = np.repeat(starts - np.concatenate(([0], np.cumsum(lens)[:-1])), lens)
    return first + np.arange(total, dtype=np.int64)


def generate(spec: CorpusSpec, seed: int, n_rows: int | None = None, seq0: int = 0):
    """Return ``(columns, truth)`` for ``n_rows`` rows (default: the spec's).

    ``columns`` holds flat numpy arrays plus per-row offsets; ``truth`` holds
    the per-row kind, late flag and first-seen content class."""
    rng = np.random.default_rng(seed)
    n = spec.files * spec.rows_per_file if n_rows is None else n_rows
    u = rng.random(n)
    edges = np.cumsum(
        [spec.exact_share, spec.near_share, spec.degen_share, spec.short_share]
    )
    kind = np.searchsorted(edges, u, side="right").astype(np.int8)
    kind = np.where(kind == 4, CANON, kind + 1).astype(np.int8)
    kind[:16] = CANON  # copies need earlier CANON parents

    lens = _lengths(rng, n, spec)
    short = kind == SHORT
    lens[short] = rng.integers(1, SHORT_BELOW, short.sum())

    canon_idx = np.flatnonzero(kind == CANON)
    copies = np.flatnonzero((kind == EXACT) | (kind == NEAR))
    n_before = np.searchsorted(canon_idx, copies)
    parent = np.full(n, -1, dtype=np.int64)
    parent[copies] = canon_idx[(rng.random(len(copies)) * n_before).astype(np.int64)]
    lens[copies] = lens[parent[copies]]
    near = kind == NEAR
    # a NEAR row below 64 tokens would sit under the LSH knee too often
    lens[near & (lens < 64)] = 64
    lens[parent[near]] = np.maximum(lens[parent[near]], 64)
    lens[copies] = lens[parent[copies]]

    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    flat = rng.integers(0, VOCAB, int(offsets[-1]), dtype=np.int32)

    # copies take their parent's tokens
    src = _ranges(offsets[parent[copies]], lens[copies])
    dst = _ranges(offsets[copies], lens[copies])
    flat[dst] = flat[src]
    # NEAR: replace ~near_rate of positions (at least one) with new tokens
    near_rows = np.flatnonzero(near)
    pos = _ranges(offsets[near_rows], lens[near_rows])
    hit = rng.random(len(pos)) < spec.near_rate
    row_start = np.concatenate(([0], np.cumsum(lens[near_rows])[:-1])).astype(np.int64)
    hit[row_start + (rng.random(len(near_rows)) * lens[near_rows]).astype(np.int64)] = True
    sel = pos[hit]
    flat[sel] = (flat[sel] + 1 + rng.integers(0, VOCAB - 1, len(sel))) % VOCAB
    # DEGEN: one token repeated
    degen_rows = np.flatnonzero(kind == DEGEN)
    flat[_ranges(offsets[degen_rows], lens[degen_rows])] = np.repeat(
        rng.integers(0, VOCAB, len(degen_rows), dtype=np.int32), lens[degen_rows]
    )

    rows_per_file = spec.rows_per_file if n_rows is None else n_rows
    late = rng.random(n) < spec.late_share
    late[: spec.late_after_file * rows_per_file] = False
    seq = np.arange(seq0, seq0 + n, dtype=np.int64)
    spacing_us = int(SPAN_S * 1e6) // max(n, 1)
    event_us = EPOCH_US + (seq - seq0) * spacing_us - late * LATE_US
    src_id = np.searchsorted(np.cumsum(spec.source_probs), rng.random(n), side="right")
    src_id = np.minimum(src_id, len(SOURCES) - 1)

    cols = {
        "seq": seq,
        "offsets": offsets,
        "flat": flat,
        "lens": lens,
        "source": src_id.astype(np.int8),
        "event_us": event_us,
    }
    truth = {"kind": kind, "late": late, "parent": parent, "content": content_classes(flat, offsets)}
    return cols, truth


def content_classes(flat: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Per row, the index of the first row with byte-identical tokens."""
    buf = flat.tobytes()
    first: dict[bytes, int] = {}
    out = np.empty(len(offsets) - 1, dtype=np.int64)
    for i in range(len(offsets) - 1):
        out[i] = first.setdefault(buf[offsets[i] * 4 : offsets[i + 1] * 4], i)
    return out


def unique_token_ratio(flat: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """distinct(tokens) / n_tok per row (the unique-token filter's score)."""
    lens = np.diff(offsets)
    row = np.repeat(np.arange(len(lens), dtype=np.int64), lens)
    keys = np.unique(row * VOCAB + flat)
    distinct = np.bincount(keys // VOCAB, minlength=len(lens))
    return np.divide(distinct, lens, out=np.zeros(len(lens)), where=lens > 0)


def _table(cols, lo: int, hi: int) -> pa.Table:
    off = cols["offsets"][lo : hi + 1]
    values = pa.array(cols["flat"][off[0] : off[-1]], type=pa.int32())
    tokens = pa.ListArray.from_arrays(
        pa.array(off - off[0], type=pa.int32()), values,
        type=SCHEMA.field("tokens").type,
    )
    seq = cols["seq"][lo:hi]
    src = cols["source"][lo:hi]
    names = [SOURCES[s] for s in src]
    return pa.Table.from_arrays(
        [
            pa.array([f"{s}-{q:012d}" for s, q in zip(names, seq.tolist())], pa.string()),
            pa.array(seq, pa.int64()),
            pa.nulls(hi - lo, pa.string()),
            tokens,
            pa.array(cols["lens"][lo:hi].astype(np.int32), pa.int32()),
            pa.array(names, pa.string()),
            pa.array(cols["event_us"][lo:hi], pa.timestamp("us", tz="UTC")),
        ],
        schema=SCHEMA,
    )


def write_files(cols, out_dir: str, n_files: int, rows_per_file: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for i in range(n_files):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(_table(cols, i * rows_per_file, (i + 1) * rows_per_file), path)


def materialize(spec: CorpusSpec, seed: int, cache_root: str) -> str:
    """Write the corpus for (spec, seed) once; return its directory.

    Layout: ``data/`` (the measured files, in arrival order), ``warmup/``
    (separate small files for the untimed warm-up), ``truth.npz`` and
    ``meta.json``.  Written to a temp dir and renamed, so a cache entry is
    either whole or absent."""
    final = os.path.join(cache_root, f"{spec.key(seed)}-s{seed}")
    if os.path.exists(os.path.join(final, "meta.json")):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    cols, truth = generate(spec, seed)
    write_files(cols, os.path.join(tmp, "data"), spec.files, spec.rows_per_file)
    # warm-up rows: another seed stream and a disjoint doc_seq range
    wn = WARMUP_FILES * spec.warmup_rows_per_file
    wcols, _ = generate(spec, seed + 1_000_003, n_rows=wn, seq0=10**7)
    write_files(wcols, os.path.join(tmp, "warmup"), WARMUP_FILES, spec.warmup_rows_per_file)
    np.savez(
        os.path.join(tmp, "truth.npz"),
        seq=cols["seq"], lens=cols["lens"], kind=truth["kind"], late=truth["late"],
        content=truth["content"],
        unique_ratio=unique_token_ratio(cols["flat"], cols["offsets"]),
    )
    meta = {
        "seed": seed,
        "spec": asdict(spec),
        "rows": int(len(cols["seq"])),
        "tokens": int(cols["lens"].sum()),
        "files": spec.files,
        "bytes": sum(
            os.path.getsize(os.path.join(tmp, "data", f))
            for f in os.listdir(os.path.join(tmp, "data"))
        ),
    }
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    try:
        os.rename(tmp, final)
    except OSError:  # another process won the race; keep its copy
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def load_truth(corpus_dir: str) -> dict:
    with np.load(os.path.join(corpus_dir, "truth.npz")) as z:
        return {k: z[k] for k in z.files}
