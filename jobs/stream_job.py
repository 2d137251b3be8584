"""spark-submit entrypoint for the streaming dedup+filter pipeline.

Launch (multi-executor cluster, north rule):

    python tools/build_pyfiles.py       # -> dist/dataflow_spark.zip
    spark-submit \
      --master yarn --deploy-mode cluster \
      --num-executors $N --executor-cores 4 --executor-memory 8g \
      --conf spark.sql.shuffle.partitions=$((N*8)) \
      --conf spark.sql.adaptive.enabled=true \
      --conf spark.sql.sources.parallelPartitionDiscovery.threshold=100000 \
      --py-files dist/dataflow_spark.zip \
      jobs/stream_job.py \
      --corpus /data/tokenized_corpus --out /data/clean --checkpoint /ckpt/clean \
      --watermark "10 minutes"

The listing threshold keeps the file source from running a parallel-listing
job in every trigger of more than 32 files; ``dataflow_spark.session.get_spark``
sets the same value, but this entry point builds its own session.

Run the same job at N and 4N executors to evidence the scaling rule; on one
box, `python3 tools/ab.py .:SPARK_GRAFT_CPUS=8 .:SPARK_GRAFT_CPUS=32 --
python3 bench.py` does this with local[8]/local[32].

Sandbox smoke run (local mode):

    python jobs/stream_job.py --corpus /tmp/corpus --out /tmp/out \
        --checkpoint /tmp/ckpt --once
"""

from __future__ import annotations

import argparse


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True, help="tokenized-corpus dir / Iceberg table")
    ap.add_argument("--out", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--watermark", default="10 minutes")
    ap.add_argument("--max-files-per-trigger", type=int, default=8)
    ap.add_argument(
        "--mode", choices=["exact", "near"], default="exact",
        help="exact: watermark dedup + n_tok filter; near: MinHash near-dedup "
        "on the durable band index (--watermark/--min-tok/--max-tok: exact only)",
    )
    ap.add_argument("--min-tok", type=int, default=8)
    ap.add_argument("--max-tok", type=int, default=100000)
    ap.add_argument("--once", action="store_true", help="process available data then exit")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("dataflow_spark_stream").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from dataflow_spark.operators.filters import keep_n_tok_range
    from dataflow_spark.streaming.pipeline import (
        run_dedup_filter_stream,
        run_near_dedup_stream_exact,
    )

    if args.mode == "exact":
        q = run_dedup_filter_stream(
            spark,
            args.corpus,
            args.out,
            args.checkpoint,
            watermark_delay=args.watermark,
            max_files_per_trigger=args.max_files_per_trigger,
            filters=[keep_n_tok_range(args.min_tok, args.max_tok)],
        )
    else:
        q = run_near_dedup_stream_exact(
            spark,
            args.corpus,
            args.out,
            args.checkpoint,
            max_files_per_trigger=args.max_files_per_trigger,
        )
    if args.once:
        q.processAllAvailable()
        q.stop()
    else:
        q.awaitTermination()


if __name__ == "__main__":
    main()
