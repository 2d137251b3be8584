"""Plan-shape regression tests — the PLANS.md audit, enforced.

Each test pins a physical-plan property the 100 TB story depends on
(pushdown at the scan, single-shuffle dedup, ONE ArrowEvalPython per
signature pass, broadcast equi-join for ANN); a regression here is invisible
to the value-level gate (results stay correct, cost explodes at scale).
Plans are inspected, never executed, so these are cheap.

The ArrowEvalPython count test guards the round-2 find: Catalyst's
InferFiltersFromGenerate + ExtractPythonUDFs planned the signature UDF TWICE
under a non-outer posexplode (NOTES.md round-2 log; fixed engine-wide with
posexplode_outer + null-drop).
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_nodes(df) -> list[str]:
    """Node names from the formatted-explain detail section — '(n) Name'
    lines appear exactly once per physical node (the tree above would
    double-count reused subtrees)."""
    return [
        m.strip()
        for m in re.findall(r"^\(\d+\) ([A-Za-z][A-Za-z0-9 ]*)", plan_text(df), re.M)
    ]


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    """The north-rule input table MATERIALIZED as parquet (doc_id, tokens,
    n_tok, source, ...) and read back — pushdown/pruning assertions need the
    real scan-relation columns, exactly like the bench corpus and the
    production Iceberg table, not derived expressions."""
    from dataflow_spark.corpus import tokenized_corpus

    path = str(tmp_path_factory.mktemp("plans") / "corpus.parquet")
    tokenized_corpus(spark, SF).write.parquet(path)
    return spark.read.parquet(path)


def test_filter_chain_pushdown_no_shuffle(corpus):
    from dataflow_spark.operators.filters import keep_n_tok_range, keep_unique_tokens

    df = (
        corpus.where(keep_n_tok_range(5, 100000))
        .where(keep_unique_tokens(0.1))
        .select("doc_id", "n_tok")
    )
    text = plan_text(df)
    nodes = plan_nodes(df)
    assert nodes.count("Exchange") == 0, nodes
    # the n_tok range must reach the parquet scan as a pushed filter
    m = re.search(r"PushedFilters: \[([^\]]*)\]", text)
    assert m and "n_tok" in m.group(1), text[:2000]


def test_exact_dedup_single_shuffle_partial_agg(corpus):
    from dataflow_spark.operators import dedup

    df = dedup.exact_dedup(corpus.withColumn("_th", dedup.token_hash()), hash_col="_th")
    nodes = plan_nodes(df)
    assert nodes.count("Exchange") == 1, nodes
    # map-side partial aggregation: an aggregate both below and above the
    # exchange (partial + final; the struct min_by buffer plans as
    # SortAggregate / ObjectHashAggregate depending on version)
    n_aggs = sum(
        nodes.count(a)
        for a in ("HashAggregate", "SortAggregate", "ObjectHashAggregate")
    )
    assert n_aggs >= 2, nodes


@pytest.mark.parametrize("path", ["text", "tokens"])
def test_minhash_signature_udf_planned_once(corpus, path):
    from dataflow_spark.operators import dedup

    if path == "tokens":
        bands_expr = dedup.minhash_bands_from_tokens_udf(32, 8, 3, 1)(F.col("tokens"))
    else:
        key, n = "text_rep" if "text_rep" in corpus.columns else "text", 5
        s = F.col(key)
        shingles = F.when(
            F.length(s) >= n,
            F.expr(
                f"transform(sequence(1, length({key}) - {n} + 1), "
                f"i -> substring({key}, i, {n}))"
            ),
        ).otherwise(F.array(s))
        bands_expr = dedup.minhash_band_udf(32, 8, 1)(
            F.transform(shingles, lambda g: F.xxhash64(g))
        )
    sig = dedup._signature(corpus, "doc_seq", bands_expr)
    edges = dedup._star_edges(
        dedup.packed_band_keys(sig, "_seq", "_bands", "_bkey"), dedup.MINHASH_BUCKET_CAP
    )
    nodes = plan_nodes(edges)
    # The lazy star-edge plan over an unmaterialized signature has exactly
    # TWO signature consumers (the (min,count) roots agg and the join-back
    # for star edges) -> the UDF is planned once per consumer; in production
    # the signature is checkpointed first and the UDF runs once (PLANS.md
    # §MinHash).  The InferFiltersFromGenerate trap (NOTES round-2) would
    # plan an EXTRA copy per consumer -> 3-4.
    assert nodes.count("ArrowEvalPython") == 2, nodes
    assert "CartesianProduct" not in nodes and "BroadcastNestedLoopJoin" not in nodes


def test_ann_lsh_broadcast_equijoin(spark):
    from dataflow_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.lsh_topk(emb, queries, dim=dim, k=5)
    nodes = plan_nodes(out)
    assert "BroadcastHashJoin" in nodes, nodes
    assert "CartesianProduct" not in nodes and "BroadcastNestedLoopJoin" not in nodes
    assert "SortMergeJoin" not in nodes, nodes


def test_pt_pipeline_filters_before_single_shuffle(corpus):
    """The bench pt_pipeline shape (PLANS.md §1): rule filters commute AHEAD
    of the dedup shuffle (predicates at the parquet scan), and the whole
    chain pays exactly ONE Exchange (the dedup hash shuffle)."""
    from dataflow_spark.operators import dedup
    from dataflow_spark.operators.filters import keep_n_tok_range, keep_unique_tokens

    filtered = corpus.where(keep_n_tok_range(5, 100000)).where(
        keep_unique_tokens(0.05)
    )
    df = dedup.exact_dedup(
        filtered.withColumn("_th", dedup.token_hash()), hash_col="_th"
    )
    text = plan_text(df)
    nodes = plan_nodes(df)
    assert nodes.count("Exchange") == 1, nodes
    m = re.search(r"PushedFilters: \[([^\]]*)\]", text)
    assert m and "n_tok" in m.group(1), text[:2000]


def test_minhash_degenerate_bucket_hard_bound(spark):
    """VERDICT r3 #8: the skew story MEASURED — and the measurement
    falsified the round-3 comment.  Spark's OptimizeSkewedJoin only
    pattern-matches SMJ(Sort(Shuffle), Sort(Shuffle)); the banded⋈roots
    join has the bucket aggregate between the roots shuffle and the join,
    so AQE never splits the hot reducer partition a dropped degenerate
    bucket piles onto (verified on a planted 500k-row hot cluster: the
    final adaptive plan carries no skew=true, while an isomorphic join
    WITHOUT the mid-stage aggregate does get split — NOTES.md round-4).
    A dropped over-cap bucket's rows therefore cost one bounded-memory
    external-sort straggler on the join's hot reducer, paid only when a
    degenerate bucket exists.  Pinned here: a hot bucket exactly AT the cap
    boundary (the worst KEPT case) is still correct — the whole cluster
    collapses to its min doc_seq, and the join's per-key reducer rows are
    bounded by the cap outright."""
    from dataflow_spark.operators import dedup

    n_hot, n_normal = 60_000, 1_000
    hot = spark.range(n_hot).select(
        F.col("id").alias("doc_seq"),
        F.expr("transform(sequence(0, 49), j -> cast(j * 7 as int))").alias("tokens"),
    )
    normal = spark.range(n_normal).select(
        (F.col("id") + 1_000_000).alias("doc_seq"),
        F.expr(
            "transform(sequence(0, 49), j -> cast((id * 131 + j * 17 + id) % 50021 as int))"
        ).alias("tokens"),
    )
    corpus = hot.unionByName(normal).localCheckpoint(eager=True)
    # at-cap bucket (kept): cluster collapses to min seq end to end
    out = dedup.minhash_dedup(
        corpus.withColumn("doc_id", F.col("doc_seq").cast("string"))
        .withColumn("n_tok", F.size("tokens"))
        .withColumn("source", F.lit("s")),
        use_tokens=True, num_perm=64, bands=8, bucket_cap=n_hot,
    )
    survivors = out.where(F.col("doc_seq") < n_hot).count()
    assert survivors == 1
    assert out.where(F.col("doc_seq") == 0).count() == 1
