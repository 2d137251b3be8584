"""spark-submit entrypoint for the streaming dedup+filter pipeline.

Launch (multi-executor cluster, north rule):

    python tools/build_pyfiles.py       # -> dist/dataflow_spark.zip
    spark-submit \
      --master yarn --deploy-mode cluster \
      --num-executors $N --executor-cores 4 --executor-memory 8g \
      --conf spark.sql.shuffle.partitions=$((N*4)) \
      --conf spark.sql.adaptive.enabled=true \
      --conf spark.sql.sources.parallelPartitionDiscovery.threshold=100000 \
      --py-files dist/dataflow_spark.zip \
      jobs/stream_job.py \
      --corpus /data/tokenized_corpus --out /data/clean --checkpoint /ckpt/clean \
      --watermark "10 minutes"

The flags build a streaming spec and ``core.spec.run_stream_spec`` runs it
on this job's session: ``--mode exact`` is the ``builtin`` tier, ``--mode
near`` the ``near`` tier; ``--min-tok``/``--max-tok`` become a
``GeneralFilter`` stage ``n_tok >= MIN AND n_tok < MAX`` on both;
``--watermark`` enters the spec only when given, so ``--mode near
--watermark ...`` is rejected like the spec key.

One shuffle partition per executor core: the builtin tier's state partition
count is fixed at the stream's first start, and every state partition pays a
fixed commit per micro-batch, so more partitions than cores add task waves.

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


def main(argv: list[str] | None = None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True, help="tokenized-corpus dir / Iceberg table")
    ap.add_argument("--out", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument(
        "--watermark", help="builtin dedup horizon (exact mode only; default 10 minutes)"
    )
    ap.add_argument("--max-files-per-trigger", type=int, default=8)
    ap.add_argument(
        "--mode", choices=["exact", "near"], default="exact",
        help="exact: watermark exact dedup (builtin tier); near: MinHash "
        "near-dedup on the durable band index",
    )
    ap.add_argument("--min-tok", type=int, default=8, help="keep n_tok >= MIN-TOK")
    ap.add_argument("--max-tok", type=int, default=100000, help="keep n_tok < MAX-TOK")
    ap.add_argument("--once", action="store_true", help="process available data then exit")
    args = ap.parse_args(argv)

    stream = {
        "dedup": {"exact": "builtin", "near": "near"}[args.mode],
        "max_files_per_trigger": args.max_files_per_trigger,
    }
    if args.watermark is not None:
        stream["watermark"] = args.watermark
    spec = {
        "name": "stream_job",
        "stream": stream,
        "stages": [{
            "operator": "GeneralFilter",
            "params": {"predicates": [
                f"n_tok >= {args.min_tok} AND n_tok < {args.max_tok}"
            ]},
        }],
    }

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("dataflow_spark_stream").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from dataflow_spark.core.spec import run_stream_spec

    q = run_stream_spec(spark, spec, args.corpus, args.out, args.checkpoint)
    if args.once:
        q.processAllAvailable()
        q.stop()
    else:
        q.awaitTermination()


if __name__ == "__main__":
    main()
