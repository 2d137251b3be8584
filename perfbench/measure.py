"""Measurement helpers that need no Spark: percentiles, stream latency from
the checkpoint, spans, event-log folding, process-tree RSS, box sentinels
and the correctness checks against planted truth."""

from __future__ import annotations

import glob
import json
import os
import threading
import time

import numpy as np


def pct(values, q: float) -> float:
    """q-th percentile, linear interpolation between closest ranks."""
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


def median(values) -> float:
    return pct(values, 50)


# --------------------------------------------------------------------------
# stream latency: scheduled arrival -> commit of the batch that read the file
# --------------------------------------------------------------------------


def _log_lines(path: str) -> list[str]:
    with open(path) as f:
        return [ln.strip() for ln in f if ln.strip().startswith("{")]


def read_file_batches(checkpoint_dir: str) -> dict[str, int]:
    """File name -> id of the query batch that read it.

    The file source numbers its own log (``sources/0/<n>``, plus
    ``.compact`` files; one JSON entry per file, ``batchId`` = n).  The
    query's offsets log (``offsets/<batch>``: version line, metadata line,
    then ``{"logOffset": n}``) says which source entries each query batch
    read; no-data batches repeat the previous offset."""
    source_of: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint_dir, "sources", "0", "*")):
        if not os.path.basename(path).startswith("."):
            for line in _log_lines(path):
                e = json.loads(line)
                source_of[os.path.basename(e["path"])] = int(e["batchId"])
    batch_of_offset: dict[int, int] = {}
    prev = -1
    offsets_dir = os.path.join(checkpoint_dir, "offsets")
    names = os.listdir(offsets_dir) if os.path.isdir(offsets_dir) else []
    for batch in sorted(int(n) for n in names if n.isdigit()):
        lines = _log_lines(os.path.join(offsets_dir, str(batch)))
        if len(lines) < 2:
            continue
        cur = int(json.loads(lines[1])["logOffset"])
        for n in range(prev + 1, cur + 1):
            batch_of_offset[n] = batch
        prev = max(prev, cur)
    return {
        name: batch_of_offset[n] for name, n in source_of.items() if n in batch_of_offset
    }


def read_commit_times(checkpoint_dir: str) -> dict[int, float]:
    """Batch id -> wall time its commit log entry was written."""
    out = {}
    for path in glob.glob(os.path.join(checkpoint_dir, "commits", "*")):
        name = os.path.basename(path)
        if name.isdigit():
            out[int(name)] = os.stat(path).st_mtime
    return out


def file_latencies(
    scheduled: dict[str, float],
    file_batch: dict[str, int],
    commit_time: dict[int, float],
) -> dict[str, float | None]:
    """Per file: commit time of its batch minus its scheduled arrival; None
    for a file that no committed batch read."""
    out: dict[str, float | None] = {}
    for name, t in scheduled.items():
        b = file_batch.get(name)
        out[name] = commit_time[b] - t if b in commit_time else None
    return out


def backlog_at(t: float, fed_at: dict[str, float], file_batch, commit_time) -> int:
    """Files fed by time ``t`` whose batch had not committed by ``t``."""
    n = 0
    for name, ft in fed_at.items():
        if ft <= t:
            b = file_batch.get(name)
            if b not in commit_time or commit_time[b] > t:
                n += 1
    return n


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written at the end.
    ``enabled=False`` keeps the call sites but records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    class _Span:
        def __init__(self, tracer, name):
            self.tracer, self.name = tracer, name

        def __enter__(self):
            t = self.tracer
            self.rec = {
                "name": self.name, "start": time.perf_counter(), "end": None,
                "parent": t._stack[-1] if t._stack else None, "run": t.run_id,
                "id": len(t.spans),
            }
            if t.enabled:
                t.spans.append(self.rec)
                t._stack.append(self.rec["id"])
            return self.rec

        def __exit__(self, *exc):
            self.rec["end"] = time.perf_counter()
            if self.tracer.enabled:
                self.tracer._stack.pop()
            return False

    def span(self, name: str):
        return Tracer._Span(self, name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# --------------------------------------------------------------------------
# Spark event log: shuffle/spill bytes per job group
# --------------------------------------------------------------------------


def fold_event_log(log_dir: str) -> dict[str, dict[str, int]]:
    """Job group id -> summed task shuffle-write and spill bytes, over every
    event file under ``log_dir`` (Spark 4 writes rolling logs in a subdir)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, int]] = {}
    paths = sorted(
        os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    e = json.loads(line)
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        for s in e.get("Stage IDs", []):
                            stage_group[int(s)] = g
                elif '"SparkListenerTaskEnd"' in line:
                    e = json.loads(line)
                    g = stage_group.get(int(e["Stage ID"]))
                    m = e.get("Task Metrics") or {}
                    if g is None or not m:
                        continue
                    acc = out.setdefault(g, {"shuffle_write_bytes": 0, "spill_bytes": 0})
                    acc["shuffle_write_bytes"] += int(
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    acc["spill_bytes"] += int(m.get("Disk Bytes Spilled", 0))
    return out


# --------------------------------------------------------------------------
# process-tree resident memory
# --------------------------------------------------------------------------


def tree_rss_bytes(root_pid: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        fields = st[st.rfind(")") + 2 :].split()
        pid = int(d)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * page
    total, todo = 0, [root_pid]
    while todo:
        p = todo.pop()
        total += rss.get(p, 0)
        todo.extend(children.get(p, []))
    return total


class RssSampler:
    """Peak summed RSS of a process tree, sampled on a background thread."""

    def __init__(self, root_pid: int, interval: float = 0.25):
        self.root_pid, self.interval = root_pid, interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root_pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(self.root_pid))
        return False


# --------------------------------------------------------------------------
# box-drift sentinels (recorded beside the metrics, never used to scale them)
# --------------------------------------------------------------------------


def steal_seconds() -> float:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def calibration_s() -> float:
    """A fixed numpy kernel: sort 2M seeded floats and a 384^2 matmul."""
    rng = np.random.default_rng(0)
    a = rng.random(2_000_000)
    m = rng.random((384, 384))
    t = time.perf_counter()
    np.sort(a)
    m @ m
    return time.perf_counter() - t


# --------------------------------------------------------------------------
# correctness checks against the generator's truth
# --------------------------------------------------------------------------


def first_seen(content: np.ndarray, keep: np.ndarray) -> np.ndarray:
    """Row indices of the first kept row of each content class among the
    kept rows (rows are in arrival order)."""
    idx = np.flatnonzero(keep)
    _, first = np.unique(content[idx], return_index=True)
    return np.sort(idx[first])


def check_exact(got_seq: np.ndarray, expected_seq: np.ndarray) -> list[str]:
    """Survivors must be exactly the expected rows, each once."""
    errs = []
    got = np.sort(np.asarray(got_seq, dtype=np.int64))
    if len(np.unique(got)) != len(got):
        errs.append(f"{len(got) - len(np.unique(got))} repeated survivors")
    missing = np.setdiff1d(expected_seq, got)
    extra = np.setdiff1d(got, expected_seq)
    if len(missing):
        errs.append(f"{len(missing)} expected survivors missing, e.g. {missing[:3].tolist()}")
    if len(extra):
        errs.append(f"{len(extra)} unexpected survivors, e.g. {extra[:3].tolist()}")
    return errs


def check_builtin(
    got_seq: np.ndarray,
    got_doc_id: list,
    got_batch: np.ndarray,
    content: np.ndarray,
    late: np.ndarray,
    row_batch: np.ndarray,
) -> list[str]:
    """Watermark dedup: no late row survives; each on-time content class
    survives exactly once, from the micro-batch where it first arrived
    (which row of that batch is the engine's choice); no doc_id repeats."""
    errs = []
    got_seq = np.asarray(got_seq, dtype=np.int64)
    if len(set(got_doc_id)) != len(got_doc_id):
        errs.append(f"{len(got_doc_id) - len(set(got_doc_id))} repeated doc_id")
    if len(got_seq) and (got_seq.min() < 0 or got_seq.max() >= len(content)):
        return errs + ["survivor doc_seq outside the delivered rows"]
    if late[got_seq].any():
        errs.append(f"{int(late[got_seq].sum())} late rows survived")
    expected = first_seen(content, ~late)
    got_cls = content[got_seq]
    cls, counts = np.unique(got_cls, return_counts=True)
    if (counts > 1).any():
        errs.append(f"{int((counts > 1).sum())} content classes survived twice")
    missing = np.setdiff1d(content[expected], cls)
    if len(missing):
        errs.append(f"{len(missing)} content classes lost")
    want_batch = dict(zip(content[expected].tolist(), row_batch[expected].tolist()))
    wrong = sum(
        1 for c, b in zip(got_cls.tolist(), np.asarray(got_batch).tolist())
        if want_batch.get(c, -1) != b
    )
    if wrong:
        errs.append(f"{wrong} survivors not from their first-seen batch")
    return errs


def check_chain(
    got_seq: np.ndarray, seq: np.ndarray, kind: np.ndarray, content: np.ndarray, kept: np.ndarray
) -> tuple[list[str], dict]:
    """filters -> exact dedup -> MinHash dedup.  Survivors must be
    first-seen rows among those the filters keep (exact stage); planted
    NEAR copies must go at the stated recall; fresh rows may be dropped by
    MinHash only up to the stated share."""
    from gen import CANON, NEAR
    from workloads import FALSE_DROP_MAX, NEAR_RECALL_MIN

    errs = []
    got = np.asarray(got_seq, dtype=np.int64)
    pos = np.searchsorted(seq, got)
    if len(got) and (pos.max() >= len(seq) or (seq[np.minimum(pos, len(seq) - 1)] != got).any()):
        return ["survivors outside the input rows"], {}
    if len(np.unique(got)) != len(got):
        errs.append(f"{len(got) - len(np.unique(got))} repeated survivors")
    survived = np.zeros(len(seq), dtype=bool)
    survived[pos] = True
    exact_keep = np.zeros(len(seq), dtype=bool)
    exact_keep[first_seen(content, kept)] = True
    wrong = survived & ~exact_keep
    if wrong.any():
        errs.append(f"{int(wrong.sum())} survivors filtered out or not first-seen")
    near = exact_keep & (kind == NEAR)
    fresh = exact_keep & (kind == CANON)
    recall = float((near & ~survived).sum() / max(int(near.sum()), 1))
    false_drop = float((fresh & ~survived).sum() / max(int(fresh.sum()), 1))
    if recall < NEAR_RECALL_MIN:
        errs.append(f"near-copy recall {recall:.4f} < {NEAR_RECALL_MIN}")
    if false_drop > FALSE_DROP_MAX:
        errs.append(f"false-drop share {false_drop:.5f} > {FALSE_DROP_MAX}")
    return errs, {"near_recall": recall, "false_drop": false_drop}
