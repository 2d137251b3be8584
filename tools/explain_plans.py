"""Dump physical plans of the headline operators to PLANS.md — the plan-audit
artifact: shows filter pushdown, column pruning (ReadSchema), single-shuffle
dedup, broadcast joins, and whole-stage codegen spans."""

from __future__ import annotations

import contextlib
import io
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"


def cap(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    from pyspark.sql import functions as F

    from dataflow_spark.corpus import tokenized_corpus
    from dataflow_spark.operators import dedup
    from dataflow_spark.operators.filters import keep_n_tok_range, keep_unique_tokens
    from dataflow_spark.session import get_spark

    spark = get_spark(app_name="explain", cpus=4, shuffle_partitions=8)
    sections = []

    corpus = tokenized_corpus(spark, SF)

    filtered = corpus.where(keep_n_tok_range(5, 100000)).where(
        keep_unique_tokens(0.1)
    ).select("doc_id", "n_tok")
    sections.append(
        (
            "Filter chain + projection over the tokenized corpus",
            "Expected: predicates and pruned ReadSchema at the parquet scan; "
            "one WholeStageCodegen span, zero shuffles.",
            cap(filtered),
        )
    )

    deduped = dedup.exact_dedup(
        corpus.withColumn("_th", dedup.token_hash()), hash_col="_th"
    )
    sections.append(
        (
            "Exact dedup (min_by)",
            "Expected: ONE Exchange (hash on content hash) with partial "
            "aggregation before it (map-side combine collapses duplicates "
            "pre-shuffle).",
            cap(deduped),
        )
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    from dataflow_spark.operators.similarity import brute_force_topk

    sections.append(
        (
            "Brute-force cosine top-k",
            "Expected: BroadcastNestedLoopJoin (small query side broadcast), "
            "corpus scanned once; window only over the tiny scored set.",
            cap(brute_force_topk(emb, qs, k=5)),
        )
    )

    # minhash candidate-edge pipeline: everything up to (and including) the
    # bucket shuffles -- minhash_dedup's rung above CC_LOCAL_EDGE_THRESHOLD
    # band keys (below it the driver decides from one band-key fetch, and no
    # edge plan runs).  Explained over a
    # MATERIALIZED parquet corpus: production inputs are tables, and the lazy
    # synthetic-corpus expression would smear generator CASE/transform
    # expressions (and a spurious re-evaluation) all over the audit.
    # removed after spark.stop(), or at interpreter exit if main() raises
    tmp = tempfile.TemporaryDirectory()
    mat_dir = os.path.join(tmp.name, "explain_corpus")
    corpus.write.parquet(mat_dir)
    mat = spark.read.parquet(mat_dir)

    sig = dedup._signature(
        mat, "doc_seq", dedup.minhash_bands_from_tokens_udf(128, 16, 3, 1)(F.col("tokens"))
    )
    edges = dedup._star_edges(
        dedup.packed_band_keys(sig, "_seq", "_bands", "_bkey"), dedup.MINHASH_BUCKET_CAP
    )
    sections.append(
        (
            "MinHash-LSH candidate edges (signature -> (min,count) roots agg "
            "-> join -> star edges), tokens fast path",
            "minhash_dedup runs this plan only above CC_LOCAL_EDGE_THRESHOLD "
            "band keys (n_docs x bands; ~250k docs at 16 bands); below it "
            "the band keys are fetched once from the signature checkpoint "
            "and dedup.cluster_min_losers decides on the driver.  "
            "Expected: ONE ArrowEvalPython per signature consumer (eval "
            "type 250: an arrow_udf, no pandas conversion), reading "
            "only (doc_seq, tokens) — the token n-gram hashing AND the numpy "
            "signature both run inside the Arrow batch, so 4 bytes/token "
            "cross the JVM-Python boundary and no JVM HOF materializes "
            "per-gram arrays (posexplode_outer keeps InferFiltersFromGenerate "
            "from planning the UDF a second time).  Then: one Exchange into "
            "the (min, count) per-bucket aggregation — FIXED 16-byte agg "
            "buffers, partial agg map-side, no collect_list anywhere — a "
            "join of the banded rows back against the kept roots (AQE "
            "broadcasts the root table when small), and the final edge "
            "distinct.  Never B^2 pairs.  Audited as the lazy dedup._star_edges "
            "plan over an unmaterialized signature, so both consumers (roots "
            "agg and join) show the UDF: minhash_dedup first checkpoints the "
            "signature (dedup._checkpoint, the one job that runs the UDF, its "
            "row count observed on that job), which would hide this plan "
            "behind a Scan ExistingRDD.",
            cap(edges),
        )
    )

    from dataflow_spark.operators.chunking import chunk_tokens

    chunked = chunk_tokens(mat, chunk_size=64, chunk_overlap=8)
    sections.append(
        (
            "Token-window chunking (KBCChunkGenerator shape)",
            "Expected: a single narrow stage — scan -> Project building the "
            "window slices -> Generate (posexplode) -> Project. ZERO "
            "Exchanges and zero Python: chunk rows multiply in place and "
            "flow into downstream dedup/filters without a shuffle.",
            cap(chunked),
        )
    )

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey")
        .agg(F.sum("l_extendedprice").alias("rev"))
    )
    sections.append(
        (
            "Join + agg (TPC-H Q3 shape)",
            "Expected: BroadcastHashJoin for the customer dim (filter pushed "
            "to its scan), shuffle join for lineitem-orders, partial agg "
            "before the final exchange.",
            cap(j),
        )
    )

    out = ["# PLANS — physical-plan audit (generated by tools/explain_plans.py)", ""]
    for title, expect, plan in sections:
        plan = plan.replace(tmp.name, "<tmp>")  # the scan node names the random dir
        out += [f"## {title}", "", expect, "", "```", plan.rstrip(), "```", ""]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")
    spark.stop()
    tmp.cleanup()


if __name__ == "__main__":
    main()
