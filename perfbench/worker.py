"""One benchmark run in a fresh process: set-up, warm-up, the timed phase,
the correctness check, and (traced runs) the per-layer decomposition.

Started by run.py; writes its record as JSON to ``--result``.  The engine is
driven only through public functions of ``dataflow_spark.session``,
``operators.filters``, ``operators.dedup``, ``streaming.pipeline`` and
``streaming.indexed``.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import sys
import threading
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from dataflow_spark.operators.dedup import (
    exact_dedup,
    keep_cluster_min,
    minhash_bands_from_tokens_udf,
    minhash_candidate_edges,
    minhash_dedup,
    token_hash,
)
from dataflow_spark.operators.filters import keep_n_tok_range, keep_unique_tokens
from dataflow_spark.session import get_spark
from dataflow_spark.streaming.indexed import run_exact_dedup_stream_indexed
from dataflow_spark.streaming.pipeline import run_dedup_filter_stream

import gen
import measure as M
from workloads import (
    MAX_TOK,
    MIN_TOK,
    MIN_UNIQUE,
    MINHASH,
    WATERMARK,
    WORKLOADS,
)

DECOMPOSE_ROUNDS = 2


def _fingerprint(df):
    """Order-free digest of a survivor set: count, token sum, seq moments."""
    seq = F.col("doc_seq")
    r = df.agg(
        F.count(F.lit(1)), F.sum("n_tok"), F.sum(seq), F.sum(seq * seq)
    ).collect()[0]
    return tuple(int(v or 0) for v in r)


def _expected_fingerprint(truth, rows):
    seq = truth["seq"][rows].astype(object)
    return (
        len(rows), int(truth["lens"][rows].sum()), int(seq.sum()), int((seq * seq).sum())
    )


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


class Run:
    def __init__(self, a):
        self.a = a
        self.w = WORKLOADS[a.workload]
        self.tracer = M.Tracer(os.path.basename(a.run_dir), bool(a.trace))
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        with open(os.path.join(a.corpus, "meta.json")) as f:
            self.meta = json.load(f)
        self.truth = gen.load_truth(a.corpus)

    def rss_sampler(self):
        """Peak RSS is a traced-run metric: its sampler thread would compete
        with the engine's Python side for the interpreter lock, so untraced
        runs go without it."""
        return M.RssSampler(os.getpid()) if self.a.trace else contextlib.nullcontext()

    # ---------------------------------------------------------------- set-up
    def setup(self):
        """Spawn (timed by run.py) -> imports -> session -> warm-up."""
        conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}"}
        if self.a.trace:
            log_dir = os.path.join(self.a.run_dir, "eventlog")
            os.makedirs(log_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark("perfbench", cpus=self.a.cpus, extra_conf=conf)
        t0 = time.time()
        self.warmup()
        t1 = time.time()
        self.layer["session.start_s"] = t0 - self.a.t_spawn
        self.layer["session.warmup_s"] = t1 - t0
        self.setup_s = t1 - self.a.t_spawn

    def warmup(self):
        wdir = os.path.join(self.a.corpus, "warmup")
        if self.w.kind == "batch":
            _fingerprint(self.chain(self.spark.read.parquet(wdir)))
        else:
            d = os.path.join(self.a.run_dir, "warmup")
            q = self.start_stream(wdir, os.path.join(d, "out"), os.path.join(d, "ckpt"))
            try:
                q.processAllAvailable()
            finally:
                q.stop()

    # ----------------------------------------------------------------- batch
    def stages(self, df):
        """The batch chain as successive prefixes: filters, exact dedup."""
        kept = df.where(keep_n_tok_range(MIN_TOK, MAX_TOK) & keep_unique_tokens(MIN_UNIQUE))
        exact = exact_dedup(kept.withColumn("_th", token_hash()), seq_col="doc_seq", hash_col="_th")
        return kept, exact

    def chain(self, df):
        return minhash_dedup(self.stages(df)[1], seq_col="doc_seq", **MINHASH)

    def run_batch(self):
        t = self.truth
        data = os.path.join(self.a.corpus, "data")
        sc = self.spark.sparkContext
        # untimed first full pass: the check against planted truth
        sc.setJobGroup("verify", "verify")
        got = self.chain(self.spark.read.parquet(data)).select("doc_seq").toPandas()["doc_seq"].to_numpy()
        self.attempted += 1
        kept = (t["lens"] >= MIN_TOK) & (t["lens"] < MAX_TOK) & (t["unique_ratio"] > MIN_UNIQUE)
        errs, stats = M.check_chain(got, t["seq"], t["kind"], t["content"], kept)
        self.layer.update({f"check.{k}": v for k, v in stats.items()})
        if errs:
            self.failed += 1
            self.errors += errs
        # the engine is deterministic: every timed pass must reproduce the
        # checked survivor set, compared by its digest
        want = _expected_fingerprint(t, np.searchsorted(t["seq"], np.sort(got)))
        walls = []
        deadline = time.perf_counter() + self.a.seconds
        sc.setJobGroup("pass", "pass")
        with self.rss_sampler() as rss:
            while len(walls) < 3 or time.perf_counter() < deadline:
                with self.tracer.span("pass") as s:
                    try:
                        fp = _fingerprint(self.chain(self.spark.read.parquet(data)))
                    except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
                        fp = repr(e)
                self.attempted += 1
                if fp != want:
                    self.failed += 1
                    self.errors.append(f"pass {len(walls)}: {fp} != {want}")
                walls.append(s["end"] - s["start"])
        tokens = self.meta["tokens"]
        self.e2e = {"tokens_per_s": tokens / M.median(walls)}
        if rss is not None:
            self.layer["mem.peak_rss_mb"] = rss.peak / 2**20
        self.layer["pass_p50_s"] = M.median(walls)
        self.layer["pass_p90_s"] = M.pct(walls, 90)
        self.layer["sources.input_tokens"] = tokens
        self.layer["sources.input_bytes"] = self.meta["bytes"]
        self.layer["timed_passes"] = len(walls)
        if self.a.trace:
            self.decompose(data)

    def _timed(self, group: str, fn):
        self.spark.sparkContext.setJobGroup(group, group)
        with self.tracer.span(group.split("#")[0]) as s:
            out = fn()
        return s["end"] - s["start"], out

    def decompose(self, data):
        """Per-layer self times from successive prefix actions of the chain:
        scan, +filters, +exact dedup, +MinHash signature, +candidate edges,
        and the survivor filter over the exact-dedup output."""
        read = lambda: self.spark.read.parquet(data)  # noqa: E731
        size_agg = lambda df: df.agg(F.count(F.lit(1)), F.sum(F.size("tokens"))).collect()[0]  # noqa: E731
        bands = lambda: minhash_bands_from_tokens_udf(  # noqa: E731
            MINHASH["num_perm"], MINHASH["bands"], MINHASH["token_ngram"], MINHASH["seed"]
        )(F.col("tokens"))
        rounds = []
        for r in range(DECOMPOSE_ROUNDS):
            row = {}
            row["scan"], (row["n_in"], _) = self._timed(f"scan#{r}", lambda: size_agg(read()))
            row["filters"], (row["n_f"], _) = self._timed(
                f"filters#{r}", lambda: size_agg(self.stages(read())[0]))
            row["exact"], (row["n_x"], _) = self._timed(
                f"exact#{r}", lambda: size_agg(self.stages(read())[1]))
            row["signature"], _ = self._timed(
                f"signature#{r}",
                lambda: self.stages(read())[1].select(bands().alias("b")).agg(F.count("b")).collect(),
            )
            exact = self.stages(read())[1]
            row["edges"], edges = self._timed(
                f"edges#{r}",
                lambda: minhash_candidate_edges(
                    exact, None, "doc_seq", MINHASH["num_perm"], MINHASH["bands"], MINHASH["seed"],
                    bands_expr=bands(),
                ),
            )
            row["n_edges"] = edges.count()
            row["survivors"], fp = self._timed(
                f"survivors#{r}",
                lambda: _fingerprint(keep_cluster_min(exact, edges, "doc_seq", edges_materialized=True)),
            )
            row["n_out"] = fp[0]
            rounds.append(row)
        med = lambda k: M.median([r[k] for r in rounds])  # noqa: E731
        first = rounds[0]
        self.layer.update({
            "sources.scan_s": med("scan"),
            "filters.self_s": med("filters") - med("scan"),
            "filters.keep_ratio": first["n_f"] / first["n_in"],
            "dedup.exact.self_s": med("exact") - med("filters"),
            "dedup.exact.keep_ratio": first["n_x"] / first["n_f"],
            "dedup.minhash.signature_s": med("signature") - med("exact"),
            "dedup.minhash.edges_s": med("edges") - med("signature"),
            "dedup.minhash.survivors_s": med("survivors") - med("exact"),
            "dedup.minhash.candidate_edges": first["n_edges"],
            "dedup.minhash.keep_ratio": first["n_out"] / first["n_x"],
        })

    def fold_event_log(self):
        if self.w.kind != "batch":
            return
        groups = M.fold_event_log(os.path.join(self.a.run_dir, "eventlog"))

        def per_round(name, key):
            return M.median([groups.get(f"{name}#{r}", {}).get(key, 0) for r in range(DECOMPOSE_ROUNDS)])

        for key in ("shuffle_write_bytes", "spill_bytes"):
            self.layer[f"dedup.exact.{key}"] = per_round("exact", key) - per_round("filters", key)
        self.layer["dedup.minhash.shuffle_write_bytes"] = (
            per_round("edges", "shuffle_write_bytes") - per_round("exact", "shuffle_write_bytes")
        )

    # ---------------------------------------------------------------- stream
    def start_stream(self, corpus_dir, out_dir, ckpt_dir):
        if self.w.name == "stream_builtin":
            return run_dedup_filter_stream(
                self.spark, corpus_dir, out_dir, ckpt_dir,
                watermark_delay=WATERMARK,
                max_files_per_trigger=self.w.max_files_per_trigger,
                dedup_mode="builtin",
            )
        return run_exact_dedup_stream_indexed(
            self.spark, corpus_dir, out_dir, ckpt_dir,
            max_files_per_trigger=self.w.max_files_per_trigger,
        )

    def run_stream(self):
        w, a, t = self.w, self.a, self.truth
        rpf = w.spec.rows_per_file
        files = sorted(os.listdir(os.path.join(a.corpus, "data")))
        n_feed = min(len(files) - w.backlog_files, round(w.feed_rate * a.seconds))
        backlog, feed = files[: w.backlog_files], files[w.backlog_files : w.backlog_files + n_feed]
        watch, stage = os.path.join(a.run_dir, "watch"), os.path.join(a.run_dir, "stage")
        out, ckpt = os.path.join(a.run_dir, "out"), os.path.join(a.run_dir, "ckpt")
        os.makedirs(watch)
        os.makedirs(stage)
        now = time.time()
        for i, f in enumerate(backlog):
            os.link(os.path.join(a.corpus, "data", f), os.path.join(watch, f))
            os.utime(os.path.join(watch, f), (now - len(backlog) + i,) * 2)
        for f in feed:
            os.link(os.path.join(a.corpus, "data", f), os.path.join(stage, f))

        def committed_batch(name):
            b = M.read_file_batches(ckpt).get(name)
            return b if b is not None and os.path.exists(os.path.join(ckpt, "commits", str(b))) else None

        def wait_for(name, limit):
            # re-read the logs only when a commit appears: the foreachBatch
            # sinks run as Python callbacks in this process, so a busy poll
            # would compete with them for the interpreter lock
            end, seen = time.time() + limit, None
            commits_dir = os.path.join(ckpt, "commits")
            while time.time() < end:
                # names, not a count: a commit lands as a temp file renamed
                # into place, which leaves the count unchanged
                names = set(os.listdir(commits_dir)) if os.path.isdir(commits_dir) else set()
                if names != seen:
                    seen = names
                    b = committed_batch(name)
                    if b is not None:
                        return b
                time.sleep(0.1)
            return None

        scheduled, fed_at = {}, {}

        def feeder(t0):
            for k, f in enumerate(feed):
                due = t0 + k / w.feed_rate
                scheduled[f] = due
                time.sleep(max(0.0, due - time.time()))
                dst = os.path.join(watch, f)
                os.utime(os.path.join(stage, f))
                os.rename(os.path.join(stage, f), dst)
                fed_at[f] = time.time()

        with self.rss_sampler() as rss:
            with self.tracer.span("stream.drain"):
                q = self.start_stream(watch, out, ckpt)
                try:
                    b_drain = wait_for(backlog[-1], 120)
                    if b_drain is None:
                        raise RuntimeError("backlog not drained within 120 s")
                    with self.tracer.span("stream.open_loop"):
                        th = threading.Thread(target=feeder, args=(time.time() + 0.05,), daemon=True)
                        th.start()
                        th.join()
                        wait_for(feed[-1], 60)
                    progress = [json.loads(p.json) for p in q.recentProgress]
                finally:
                    q.stop()
        file_batch = M.read_file_batches(ckpt)
        commits = M.read_commit_times(ckpt)
        lat = M.file_latencies(scheduled, file_batch, commits)
        delivered = backlog + feed
        uncommitted = [f for f in delivered if file_batch.get(f) not in commits]
        self.attempted += len(delivered)
        self.failed += len(uncommitted)
        if uncommitted:
            self.errors.append(f"{len(uncommitted)} files never committed")
        lats = [v for v in lat.values() if v is not None]
        if not lats:
            raise RuntimeError("no fed file was committed")

        # correctness over the delivered rows
        n_rows = len(delivered) * rpf
        got_seq, got_id, got_batch = [], [], []
        for path in glob.glob(os.path.join(out, "batch_id=*", "*.parquet")):
            tb = pq.read_table(path, columns=["doc_seq", "doc_id"])
            got_seq.append(tb.column("doc_seq").to_numpy())
            got_id += tb.column("doc_id").to_pylist()
            got_batch.append(np.full(tb.num_rows, int(path.split("batch_id=")[1].split("/")[0])))
        got_seq = np.concatenate(got_seq) if got_seq else np.zeros(0, np.int64)
        got_batch = np.concatenate(got_batch) if got_batch else np.zeros(0, np.int64)
        content, late = t["content"][:n_rows], t["late"][:n_rows]
        if w.name == "stream_indexed":
            errs = M.check_exact(got_seq, M.first_seen(content, np.ones(n_rows, bool)))
        else:
            row_batch = np.repeat([file_batch.get(f, -1) for f in delivered], rpf)
            errs = M.check_builtin(got_seq, got_id, got_batch, content, late, row_batch)
        if errs:
            self.failed = len(delivered)
            self.errors += errs

        L = self.layer
        # drain throughput over the backlog batches after the first: the
        # first one also pays query start, which the warm-up already showed
        file_tokens = t["lens"][: n_rows].reshape(len(delivered), rpf).sum(axis=1)
        b_first = file_batch[backlog[0]]
        drain_tokens = sum(
            int(n) for f, n in zip(backlog, file_tokens) if file_batch[f] != b_first
        )
        drain_s = commits[b_drain] - commits[b_first]
        self.e2e = {"tokens_per_s": drain_tokens / drain_s}
        L["stream.latency_p50_s"] = M.median(lats)
        L["stream.latency_p90_s"] = M.pct(lats, 90)
        if rss is not None:
            L["mem.peak_rss_mb"] = rss.peak / 2**20
        L["open_loop_files"] = len(lats)
        L["sources.input_tokens"] = int(t["lens"][:n_rows].sum())
        L["sources.input_bytes"] = sum(
            os.path.getsize(os.path.join(a.corpus, "data", f)) for f in delivered
        )
        data = sorted((p for p in progress if p.get("numInputRows", 0) > 0), key=lambda p: p["batchId"])
        dur = lambda k: [p["durationMs"].get(k, 0) / 1000 for p in data]  # noqa: E731
        L["sources.scan_s"] = sum(dur("latestOffset")) + sum(dur("getBatch"))
        L["stream.latest_offset_p50_s"] = M.median(dur("latestOffset"))
        L["stream.query_planning_p50_s"] = M.median(dur("queryPlanning"))
        L["stream.wal_commit_p50_s"] = M.median(dur("walCommit"))
        L["stream.commit_offsets_p50_s"] = M.median(dur("commitOffsets"))
        L["stream.trigger_p50_s"] = M.median(dur("triggerExecution"))
        L["stream.add_batch_s"] = sum(dur("addBatch"))
        L["stream.batches"] = len(data)
        L["stream.rows_per_batch_p50"] = M.median([p["numInputRows"] for p in data])
        ops = [p["stateOperators"][0] for p in data if p.get("stateOperators")]
        if ops:
            L["state.rows_total"] = ops[-1]["numRowsTotal"]
            L["state.memory_bytes"] = ops[-1]["memoryUsedBytes"]
            L["state.commit_p50_s"] = M.median([o["commitTimeMs"] / 1000 for o in ops])
            L["state.rows_dropped_late"] = sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)
        L["sink.rows_written"] = len(got_seq)
        L["sink.bytes_written"] = sum(
            os.path.getsize(p) for p in glob.glob(os.path.join(out, "batch_id=*", "*.parquet"))
        )
        if w.name == "stream_indexed":
            L["indexed.state_bytes"] = _dir_bytes(os.path.join(out, "_seen_state")) + _dir_bytes(
                os.path.join(out, "_seen_state_summary")
            )
            # growth of addBatch per 100 batches, over the open-loop batches
            # (the drain batches are larger, so they would mask the trend)
            add = [p["durationMs"].get("addBatch", 0) / 1000 for p in data if p["batchId"] > b_drain]
            if len(add) >= 2:
                L["indexed.add_batch_slope_s"] = float(np.polyfit(np.arange(len(add)), add, 1)[0]) * 100
        lags = [fed_at[f] - scheduled[f] for f in fed_at]
        L["feed.lag_p90_s"] = M.pct(lags, 90)
        L["feed.backlog_files_end"] = M.backlog_at(max(fed_at.values()), fed_at, file_batch, commits)

    # ------------------------------------------------------------------ main
    def record(self) -> dict:
        return {
            "setup_s": self.setup_s,
            "e2e": self.e2e,
            "layer": self.layer,
            "attempted": self.attempted,
            "failed": self.failed,
            "errors": self.errors[:20],
        }


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--corpus", required=True)
    p.add_argument("--run-dir", required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--cpus", type=int, required=True)
    p.add_argument("--t-spawn", type=float, required=True)
    p.add_argument("--result", required=True)
    p.add_argument("--spans", default="")
    a = p.parse_args()
    run = Run(a)
    run.setup()
    try:
        run.run_batch() if run.w.kind == "batch" else run.run_stream()
    finally:
        run.spark.stop()
    if a.trace:
        run.fold_event_log()
        if a.spans:
            run.tracer.write(a.spans)
    with open(a.result, "w") as f:
        json.dump(run.record(), f)


if __name__ == "__main__":
    sys.exit(main())
