"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS] (default: the CPUs this process may use); prints
ONE JSON line.

Headline metric: tokens/sec through the full dedup+filter pipeline over the
north-star tokenized corpus (BASELINE.json).  The sf documents table is small
(5k rows at sf0.1), so the corpus is deterministically amplified (replication
with planted exact-dup replicas and near-dup perturbations, pure Catalyst
expressions) and materialized to parquet once — the timed pipeline then reads
parquet like it would read the Iceberg table.

Scaling evidence (N vs 4N): `python3 tools/ab.py .:SPARK_GRAFT_CPUS=8
.:SPARK_GRAFT_CPUS=32 -- python3 bench.py` runs this same pipeline at local[8]
and local[32], interleaved, and reports both legs' medians.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
REPLICAS = int(os.environ.get("BENCH_REPLICAS", "40"))
_CODEC = os.environ.get("BENCH_CORPUS_CODEC", "snappy")
CORPUS_DIR = os.environ.get(
    "BENCH_CORPUS_DIR",
    f"/tmp/bench_corpus_{os.path.basename(SF_DIR.rstrip('/'))}_r{REPLICAS}"
    + ("" if _CODEC == "snappy" else f"_{_CODEC}")
)


def amplified_corpus(spark, sf_dir: str, replicas: int):
    """Deterministic corpus amplification: each document appears ``replicas``
    times; 30% of replicas keep identical tokens (exact dups for dedup work),
    the rest get a replica-specific token prepended (near-dups).  All JVM
    expressions — this is itself a distributed job at 100 TB."""
    from dataflow_spark.corpus import tokenized_corpus

    base = tokenized_corpus(spark, sf_dir)
    reps = spark.range(replicas).select(F.col("id").alias("rep"))
    n_docs = base.count()
    df = base.crossJoin(reps)
    perturb = F.pmod(F.xxhash64("doc_id") + F.col("rep") * 31, F.lit(50257)).cast("int")
    tokens = F.when(F.pmod(F.col("rep"), F.lit(10)) < 3, F.col("tokens")).otherwise(
        F.concat(F.array(perturb), F.col("tokens"))
    )
    return df.select(
        F.concat(F.col("doc_id"), F.lit("-r"), F.col("rep").cast("string")).alias("doc_id"),
        (F.col("rep") * n_docs + F.col("doc_seq")).alias("doc_seq"),
        "text",
        tokens.alias("tokens"),
        F.size(tokens).cast("int").alias("n_tok"),
        "source",
        (F.col("event_time") + F.make_interval(secs=F.col("rep").cast("double"))).alias("event_time"),
    )


def ensure_corpus(spark) -> str:
    if not os.path.exists(os.path.join(CORPUS_DIR, "_SUCCESS")):
        shutil.rmtree(CORPUS_DIR, ignore_errors=True)
        # Fixed 256 output files regardless of this run's core count: the
        # corpus is shared across bench runs at different parallelism; a
        # low-core run must not write fat files that starve a high-core run
        # of input splits, and 256 splits give 8 balanced waves at 32 cores
        # (64 files left a 2-wave straggler tail).
        # INPUT corpus codec stays snappy (BENCH_CORPUS_CODEC to override):
        # the corpus models the upstream source table and rounds 1-2
        # benchmarked against snappy, so changing it breaks cross-round
        # comparability.  A measured zstd-input A/B on this box (r1600,
        # interleaved legs): zstd's 4.2x smaller files help the IO-bound
        # 8-core leg ~10% but cost the CPU-bound 32-core leg 15-50%
        # (decode on the critical path), compressing measured scaling —
        # an input-side tradeoff for the table owner, not this engine.
        # SINK outputs (what the engine writes) remain zstd+plain
        # (streaming/pipeline.py SINK_PARQUET_OPTIONS), where the 4.2x
        # bytes win costs no encode wall.
        codec = _CODEC
        amplified_corpus(spark, SF_DIR, REPLICAS).repartition(256).write.mode(
            "overwrite"
        ).option("compression", codec).parquet(CORPUS_DIR)
    return CORPUS_DIR


def pt_pipeline(spark, corpus_dir: str):
    """The headline job: scan -> exact dedup -> rule filters (token + text) ->
    quality/ngram scores -> aggregate survivors + surviving tokens."""
    from dataflow_spark.core.stage import get_operator
    from dataflow_spark.operators import dedup
    from dataflow_spark.operators.filters import keep_n_tok_range, keep_unique_tokens
    from dataflow_spark.operators.evaluators import quality_score
    from dataflow_spark.functions.text import ngram_unique_ratio

    df = spark.read.parquet(corpus_dir)
    # Filters precede the dedup shuffle: every predicate below depends only on
    # (text, tokens, n_tok) — the same content the dedup hash keys on — so
    # within any duplicate cluster all members pass or fail together and the
    # min-seq survivor is unchanged.  The reference runs dedup first
    # (text_pt_filter.py order); this reorder is result-identical and pushes
    # the predicates into the scan, shrinking the shuffle by the filter
    # selectivity (~40% here).
    df = df.where(keep_n_tok_range(5, 100000)).where(keep_unique_tokens(0.1))
    for name, kw in (
        ("ContentNullFilter", {}),
        ("WordNumberFilter", {"min_words": 5, "max_words": 100000}),
        ("ColonEndFilter", {}),
        ("LoremIpsumFilter", {}),
        ("WatermarkFilter", {}),
        ("CurlyBracketFilter", {}),
        ("MeanWordLengthFilter", {"min_len": 2.0, "max_len": 12.0}),
        ("UniqueWordsFilter", {"threshold": 0.1}),
        ("CapitalWordsFilter", {"threshold": 0.4}),
        ("SymbolWordRatioFilter", {}),
    ):
        df = get_operator(name, input_key="text", **kw).apply(df)
    df = df.withColumn("_th", dedup.token_hash())
    df = dedup.exact_dedup(df, hash_col="_th").drop("_th")
    df = df.withColumn("QualityScore", quality_score("text")).withColumn(
        "NgramScore", ngram_unique_ratio(F.col("tokens"), 3)
    )
    return df.agg(
        F.count("*").alias("rows"), F.sum("n_tok").alias("tokens")
    ).collect()[0]


def run_benchmarks(spark) -> tuple[dict[str, float], dict[str, float]]:
    from dataflow_spark.operators import dedup
    from dataflow_spark.operators.similarity import brute_force_topk, lsh_topk

    corpus_dir = ensure_corpus(spark)
    # Size input splits to the core count (the 100 TB rule: split bytes are a
    # function of parallelism, not a constant).  The zstd corpus is 4.2x
    # smaller on disk than snappy was; under the default 128 MB
    # maxPartitionBytes the whole r1600 corpus collapsed to 32 scan
    # partitions — ONE task wave at 32 cores, so any straggler idled the
    # box while the pinned 8-core leg (4 balanced waves) was unaffected,
    # and measured "scaling" reflected split geometry, not the engine.
    # Target ~8 waves per core; floor 4 MB keeps tiny corpora sane.
    corpus_bytes = sum(
        os.path.getsize(os.path.join(corpus_dir, f))
        for f in os.listdir(corpus_dir)
        if f.endswith(".parquet")
    )
    split = max(4 * 1024 * 1024, corpus_bytes // (8 * CPUS))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    spark.conf.set("spark.sql.files.openCostInBytes", str(1024 * 1024))
    corpus = spark.read.parquet(corpus_dir)
    total_tokens = corpus.agg(F.sum("n_tok")).collect()[0][0]
    total_rows = corpus.count()

    timings: dict[str, float] = {}
    extras: dict[str, float] = {
        "input_rows": float(total_rows),
        "input_tokens": float(total_tokens),
    }

    warmup = int(os.environ.get("BENCH_WARMUP", "1"))
    timed_runs = int(os.environ.get("BENCH_TIMED_RUNS", "5"))
    # BENCH_QUERIES=a,b,c limits the run to a subset (scaling sweeps re-run
    # the suite many times; the untimed queries don't need to pay)
    only = os.environ.get("BENCH_QUERIES")
    only_set = {q.strip() for q in only.split(",")} if only else None
    samples: dict[str, list[float]] = {}
    steals: dict[str, list[float]] = {}
    extras["samples"] = samples
    extras["steal_s"] = steals

    def _steal_jiffies() -> int:
        # /proc/stat cpu line field 8 = steal: jiffies the hypervisor ran
        # someone else while this VM wanted the CPU.  This sandbox measures
        # ~5% average steal arriving in BURSTS — a burst mid-sample turns a
        # 4 s job into a 50-90 s wall-time reading (diagnosed: all 32 tasks
        # of one stage crawl uniformly while JVM GC time stays <0.2 s).
        try:
            with open("/proc/stat") as f:
                return int(f.readline().split()[8])
        except Exception:
            return 0

    def bench(name, fn):
        if only_set is not None and name not in only_set:
            return
        # BASELINE.json's metric is SUSTAINED throughput: run once untimed to
        # absorb one-time costs (whole-stage codegen compile, Python worker
        # fork+import, parquet footer cache), then time the steady state.
        # This box shows heavy run-to-run variance (the same stream job
        # measured 8.8s-32s across repeats, 2.5x even between adjacent
        # runs), so the reported time is the MEDIAN of `timed_runs` (>=5)
        # repeats, with the raw samples + IQR spread published alongside —
        # a single sample (or a min-of-few) conflates engine throughput
        # with ambient load (VERDICT r2 #9).  Samples that overlapped a
        # hypervisor CPU-steal burst (steal > 5% of sample wall across the
        # box) measure the neighbor, not the engine: the headline median is
        # taken over steal-clean samples when >=2 exist, and every sample's
        # steal seconds are published alongside.
        import statistics

        hz = os.sysconf("SC_CLK_TCK")

        def _reclaim():
            # free leaked storage between samples: localCheckpoint blocks
            # (contraction's `m`, the materialized edge sets) are only
            # dropped when the ContextCleaner sees their RDDs GC'd, which
            # under back-to-back heap-heavy runs in ONE JVM lags far enough
            # behind that the 3rd r3200 minhash repeat at 8 cores OOMs
            # (round-5 sweep failure).  A steady-state engine never holds
            # blocks across runs, so reclaiming between samples measures
            # the engine, not the bench harness's accumulation.
            try:
                spark.catalog.clearCache()
                # localCheckpoint blocks sit in getPersistentRDDs until the
                # ContextCleaner asynchronously notices their RDDs are
                # GC'd — under back-to-back runs that lag still OOM'd an
                # 8 GiB 8-core leg (r1600 session 1); unpersist them
                # SYNCHRONOUSLY instead of hoping a System.gc() gets there
                # in time
                jmap = spark.sparkContext._jsc.getPersistentRDDs()
                for jrdd in list(jmap.values()):
                    jrdd.unpersist()
                spark._jvm.System.gc()
            except Exception:
                pass

        for _ in range(warmup):
            fn()
        ts, st = [], []
        for _ in range(max(1, timed_runs)):
            _reclaim()
            s0, t0 = _steal_jiffies(), time.time()
            fn()
            wall = time.time() - t0
            ts.append(round(wall, 3))
            st.append(round((_steal_jiffies() - s0) / hz, 3))
        samples[name] = ts
        steals[name] = st
        ncpu = os.cpu_count() or 1
        # threshold anchored to the FASTEST sample: steal inflates wall, so
        # a per-sample `0.05 * t` bound self-defeats on exactly the samples
        # it should reject (an 87 cpu-sec-steal sample passed it once)
        clean = [t for t, s in zip(ts, st) if s < 0.05 * min(ts) * ncpu]
        timings[name] = round(statistics.median(clean if len(clean) >= 2 else ts), 3)
        # permanent estimator pair (VERDICT r3 #7): `queries` carries the
        # median (the headline statistic), `queries_min` the min of the same
        # samples — cross-round comparisons must be estimator-consistent
        # (median-to-median or min-to-min; see NOTES.md round-4 rule)
        extras.setdefault("queries_min", {})[name] = round(min(ts), 3)

    bench("pt_pipeline", lambda: pt_pipeline(spark, corpus_dir))
    if "pt_pipeline" in timings:
        extras["tokens_per_sec"] = round(total_tokens / timings["pt_pipeline"], 1)

    bench(
        "minhash_dedup",
        lambda: dedup.minhash_dedup(corpus, use_tokens=True, token_ngram=3, bands=16)
        .agg(F.count("*"), F.sum("n_tok"))
        .collect(),
    )
    bench(
        "exact_dedup",
        lambda: dedup.exact_dedup(
            corpus.withColumn("_th", dedup.token_hash()), hash_col="_th"
        )
        .agg(F.count("*"))
        .collect(),
    )

    # streaming pipeline throughput (the north-star metric surface): file
    # stream over the same corpus -> watermark -> exact dedup
    # (dropDuplicatesWithinWatermark) -> token filters -> exactly-once sink;
    # tokens/sec of the full run
    def stream_pipeline():
        import tempfile

        from dataflow_spark.streaming.pipeline import run_dedup_filter_stream

        with tempfile.TemporaryDirectory() as tmp:
            q = run_dedup_filter_stream(
                spark,
                corpus_dir,
                os.path.join(tmp, "out"),
                os.path.join(tmp, "ckpt"),
                max_files_per_trigger=64,
            )
            q.processAllAvailable()
            q.stop()

    bench("stream_pipeline", stream_pipeline)
    if "stream_pipeline" in timings:
        extras["stream_tokens_per_sec"] = round(
            total_tokens / timings["stream_pipeline"], 1
        )

    # round-4 O(batch)-state-IO path: exact dedup over the generation-
    # segment index (streaming/indexed.py — one sorted key file per
    # micro-batch, probed on the driver, on foreachBatch).  Dedup-only (no
    # filter chain), so the tok/s is comparable to the dedup stage of the
    # pipelines above, not to their full chains.
    def stream_pipeline_indexed():
        import tempfile

        from dataflow_spark.streaming.indexed import (
            run_exact_dedup_stream_indexed,
        )

        with tempfile.TemporaryDirectory() as tmp:
            q = run_exact_dedup_stream_indexed(
                spark,
                corpus_dir,
                os.path.join(tmp, "out"),
                os.path.join(tmp, "ckpt"),
                max_files_per_trigger=64,
            )
            q.processAllAvailable()
            q.stop()

    bench("stream_pipeline_indexed", stream_pipeline_indexed)
    if "stream_pipeline_indexed" in timings:
        extras["stream_indexed_tokens_per_sec"] = round(
            total_tokens / timings["stream_pipeline_indexed"], 1
        )

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    bench(
        "window_agg",
        lambda: events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*"), F.sum("value"))
        .collect(),
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bench("ann_brute_force", lambda: brute_force_topk(emb, qs, k=10).collect())
    dim = len(emb.select("embedding").first()[0])
    bench("ann_lsh", lambda: lsh_topk(emb, qs, dim=dim, k=10, n_bits=8).collect())

    return timings, extras


def main():
    from dataflow_spark.session import get_spark

    spark = get_spark(app_name="dataflow_spark_bench", cpus=CPUS)
    t0 = time.time()
    timings, extras = run_benchmarks(spark)
    total = round(time.time() - t0, 3)
    # per-query dispersion: IQR (p75-p25) and p75/p25 spread over the raw
    # repeat samples — regression detection is only meaningful when the
    # spread is small relative to the claimed delta
    spread = {}
    for name, ts in extras.get("samples", {}).items():
        s = sorted(ts)
        p25 = s[max(0, (len(s) - 1) // 4)]
        p75 = s[min(len(s) - 1, (3 * (len(s) - 1) + 3) // 4)]
        spread[name] = {
            "iqr_s": round(p75 - p25, 3),
            "p75_over_p25": round(p75 / p25, 3) if p25 > 0 else None,
        }
    result = {
        "metric": "dedup+filter pipeline wall time (headline: tokens/sec over amplified tokenized corpus)",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR,
        "cpus": CPUS,
        "total_wall_s": total,
        "timed_runs": int(os.environ.get("BENCH_TIMED_RUNS", "5")),
        "stat": "median",
        "spread": spread,
        **extras,
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
