"""Dedup parity: exact first-seen, CCNet bit-truncated, MinHash-LSH cluster,
SimHash, n-gram segment — vs independent oracles; token-array equality on
survivors (the north-star invariant)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataflow_spark.operators import dedup
from tests.fixtures import make_docs, make_token_docs
from tests.oracle import dedup_oracle

TOKEN_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("doc_seq", T.LongType()),
    T.StructField("tokens", T.ArrayType(T.IntegerType())),
    T.StructField("n_tok", T.IntegerType()),
    T.StructField("source", T.StringType()),
])


def test_exact_dedup_first_seen(spark):
    rows = make_docs(n=200, dup_frac=0.3)
    df = spark.createDataFrame(rows, "doc_id string, doc_seq long, text string, source string")
    out = dedup.exact_dedup(df, keys=("text",))
    got = sorted(r["doc_seq"] for r in out.select("doc_seq").collect())
    want = dedup_oracle.exact_dedup_first_seen(rows)
    assert got == want


def test_exact_dedup_token_equality(spark):
    """Survivors' token arrays are byte-identical to the oracle's —
    token-array equality invariant (BASELINE.json input_hint)."""
    rows = make_token_docs(n=300, dup_frac=0.25, near_frac=0.0)
    tagged = spark.createDataFrame(rows, TOKEN_SCHEMA).withColumn("_th", dedup.token_hash())
    survivors = dedup.exact_dedup(tagged, hash_col="_th").drop("_th")
    got = {r["doc_seq"]: list(r["tokens"]) for r in survivors.collect()}
    seen, want = set(), {}
    for (_, seq, toks, _, _) in rows:
        key = tuple(toks)
        if key not in seen:
            seen.add(key)
            want[seq] = list(toks)
    assert got == want


def test_exact_dedup_multi_key(spark):
    """Multi-key dedup joins '{k}:\\n{v}' with '\\n' — reference parity
    (hash_deduplicate_filter.py:79-80)."""
    rows = [("a", 0, "x", "y"), ("b", 1, "x", "y"), ("c", 2, "x", "z")]
    df = spark.createDataFrame(rows, "doc_id string, doc_seq long, instruction string, output string")
    out = dedup.exact_dedup(df, keys=("instruction", "output"))
    assert sorted(r["doc_seq"] for r in out.collect()) == [0, 2]


def test_ccnet_dedup_bits(spark):
    rows = make_docs(n=150, dup_frac=0.3)
    df = spark.createDataFrame(rows, "doc_id string, doc_seq long, text string, source string")
    out = dedup.ccnet_dedup(df, key="text", bits=64)
    got = sorted(r["doc_seq"] for r in out.select("doc_seq").collect())
    # 64-bit sha1 prefix: no collisions at this scale, equals exact dedup
    import hashlib
    seen, want = set(), []
    for (_, seq, text, _) in rows:
        h = hashlib.sha1(text.encode()).hexdigest()[:16]
        if h not in seen:
            seen.add(h)
            want.append(seq)
    assert got == want


@pytest.mark.parametrize("rung", ["driver", "edges"])
def test_minhash_dedup_cluster_parity(spark, monkeypatch, rung):
    """MinHash-LSH survivors == oracle union-find on identical band hashes,
    on both rungs of minhash_dedup: the driver decision (n_docs × bands
    within CC_LOCAL_EDGE_THRESHOLD) and the star-edge pipeline, forced
    here by a bound one below n_docs × bands."""
    rows = make_token_docs(n=250, dup_frac=0.1, near_frac=0.1)
    df = spark.createDataFrame(rows, TOKEN_SCHEMA)
    if rung == "edges":
        monkeypatch.setattr(dedup, "CC_LOCAL_EDGE_THRESHOLD", len(rows) * 16 - 1)
    edge_calls = []
    real_edges = dedup._star_edges
    monkeypatch.setattr(
        dedup, "_star_edges",
        lambda *a, **kw: edge_calls.append(1) or real_edges(*a, **kw),
    )
    out = dedup.minhash_dedup(df, use_tokens=True, token_ngram=3, bands=16, num_perm=128)
    assert len(edge_calls) == (rung == "edges")
    got = sorted(r["doc_seq"] for r in out.select("doc_seq").collect())

    # oracle: same shingle hashing pulled from the JVM, independent clustering
    from dataflow_spark.functions.text import token_shingle_hashes
    sh = df.select(
        "doc_seq",
        token_shingle_hashes(F.col("tokens"), 3).alias("sh"),
    ).collect()
    seqs = [r["doc_seq"] for r in sh]
    hashes = [r["sh"] for r in sh]
    want = dedup_oracle.minhash_cluster_survivors(seqs, hashes, num_perm=128, bands=16)
    assert got == want
    # sanity: planted exact+near dups actually got removed
    assert len(got) < len(rows)


def _cluster_min_losers_oracle(seq, key, cap):
    """Union-find over each bucket's distinct docs, buckets over ``cap``
    skipped (none when ``cap`` is None) — independent of the numpy
    kernels."""
    buckets = {}
    for s_, k in zip(seq, key):
        buckets.setdefault(k, set()).add(s_)
    edges = []
    for docs in buckets.values():
        if 1 < len(docs) and (cap is None or len(docs) <= cap):
            ordered = sorted(docs)
            edges += [(ordered[0], d) for d in ordered[1:]]
    return sorted(n for n, c in _uf_oracle(edges).items() if n != c)


def test_cluster_min_losers_matches_union_find():
    """The driver MinHash decision against a union-find oracle: a chain
    across buckets, the bucket cap at exactly ``cap`` docs (kept) and
    ``cap + 1`` (dropped), docs with no band rows, repeated (seq, key)
    rows, then random bucket graphs, then the exact stream's shape (one
    key per doc) against a min-``doc_seq``-per-key oracle."""
    import random

    import numpy as np

    cap = 4
    rows = [
        # chain: 40-41 share key 1, 41-42 key 2, 42-30 key 3 -> {30, 40, 41, 42}
        (40, 1), (41, 1), (41, 2), (42, 2), (42, 3), (30, 3),
        # exactly cap docs (kept), listed twice: repeats count once
        *[(100 + d, 10) for d in range(cap)] * 2,
        # cap + 1 docs: no links, so 200..204 all survive
        *[(200 + d, 11) for d in range(cap + 1)],
        # singleton buckets link nothing
        (300, 20), (301, 21),
    ]
    rng = random.Random(5)
    rng.shuffle(rows)
    seq = np.array([r[0] for r in rows], np.int64)
    key = np.array([r[1] for r in rows], np.int64)
    got = dedup.cluster_min_losers(seq, key, cap)
    assert got.dtype == np.int64
    assert got.tolist() == [40, 41, 42, 101, 102, 103]
    assert got.tolist() == _cluster_min_losers_oracle(seq, key, cap)
    # docs 500 and 501 have no band rows: nothing links or drops them
    assert not np.isin([500, 501], got).any()
    assert dedup.cluster_min_losers(seq[:0], key[:0], cap).tolist() == []
    for trial in range(30):
        n = rng.randrange(1, 300)
        seq = np.array([rng.randrange(0, 120) for _ in range(n)], np.int64)
        key = np.array([rng.randrange(-40, 40) for _ in range(n)], np.int64)
        c = rng.choice([1, 2, 3, 5, 1000, None])
        got = dedup.cluster_min_losers(seq, key, c).tolist()
        assert got == _cluster_min_losers_oracle(seq.tolist(), key.tolist(), c), trial
    # one key per doc; key 7 is held by 100,001 docs, one over MINHASH_BUCKET_CAP
    big = 100_001
    seq = np.arange(big + 600, dtype=np.int64)
    key = np.r_[np.full(big, 7), [rng.randrange(100, 200) for _ in range(600)]]
    perm = np.array(rng.sample(range(len(seq)), len(seq)))
    seq, key = seq[perm], key[perm].astype(np.int64)
    first = {}
    for s_, k in zip(seq.tolist(), key.tolist()):
        first[k] = min(s_, first.get(k, s_))
    want = sorted(set(seq.tolist()) - set(first.values()))
    assert dedup.cluster_min_losers(seq, key, None).tolist() == want
    # at the cap none of key 7's docs lose; the small keys still decide
    held = set(seq[key == 7].tolist())
    got = dedup.cluster_min_losers(seq, key, dedup.MINHASH_BUCKET_CAP).tolist()
    assert got == [s_ for s_ in want if s_ not in held]


@pytest.mark.parametrize("rung", ["driver", "edges"])
def test_minhash_dedup_job_budget(spark, monkeypatch, rung):
    """The Spark jobs a minhash_dedup call runs before it returns.  Both
    rungs start with the signature checkpoint, the one job that runs the
    band UDF; its row count, which picks the rung, is observed on that job.
    The driver rung then runs the band-key fetch: 2 jobs.  The edge rung
    (forced by a bound one below n_docs × bands) runs the edge
    checkpoint — under AQE one job per query stage: the roots
    aggregation's shuffle, the banded side's shuffle, that side's
    broadcast (AQE turns the join into a broadcast join), the distinct's
    shuffle and the result stage (5 jobs) — then the edge fetch of the
    local CC solve: 7 jobs."""
    rows = make_token_docs(n=250, dup_frac=0.1, near_frac=0.1)
    df = spark.createDataFrame(rows, TOKEN_SCHEMA)
    if rung == "edges":
        monkeypatch.setattr(dedup, "CC_LOCAL_EDGE_THRESHOLD", len(rows) * 16 - 1)
    sc = spark.sparkContext
    group = f"minhash-{rung}-rung-budget"
    sc.setJobGroup(group, group)
    try:
        out = dedup.minhash_dedup(df, use_tokens=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == (2 if rung == "driver" else 7)
    assert out.count() < 250


def test_minhash_near_dups_detected(spark):
    """A doc with 5% token edits of another must land in the same cluster."""
    base = list(range(100, 400))
    near = list(base)
    near[5] = 7
    near[100] = 9
    rows = [
        ("a", 0, base, len(base), "cc"),
        ("b", 1, near, len(near), "cc"),
        ("c", 2, list(range(1000, 1200)), 200, "cc"),
    ]
    df = spark.createDataFrame(rows, TOKEN_SCHEMA)
    out = dedup.minhash_dedup(df, use_tokens=True, token_ngram=3, bands=16)
    got = sorted(r["doc_seq"] for r in out.select("doc_seq").collect())
    assert got == [0, 2]


def test_minhash_bucket_cap(spark):
    """Degenerate buckets above bucket_cap are dropped from pairing (no
    unbounded agg buffer, no edges), the audit query reports them, and the
    default (generous) cap leaves normal-corpus recall unchanged."""
    # 60 identical docs => every band bucket holds all 60
    rows = [(f"d{i}", i, "the same text repeated here for everyone", "cc") for i in range(60)]
    rows.append(("u", 99, "a completely different unrelated document body", "cc"))
    df = spark.createDataFrame(rows, "doc_id string, doc_seq long, text string, source string")
    capped = dedup.minhash_dedup(df, key="text", bucket_cap=10)
    assert capped.count() == 61  # oversized buckets dropped -> no dedup edges
    audit = dedup.minhash_dropped_buckets(df, key="text", bucket_cap=10)
    reported = audit.collect()
    assert len(reported) >= 16 and all(r["size"] == 60 for r in reported)
    # generous default cap: behaves as uncapped
    normal = dedup.minhash_dedup(df, key="text")
    assert sorted(r["doc_seq"] for r in normal.collect()) == [0, 99]


def test_minhash_bucket_cap_tokens_audit(spark):
    """The audit query mirrors the tokens fast path: identical token rows
    land every band in one bucket; use_tokens=True reports them."""
    rows = [(f"d{i}", i, list(range(50)), 50, "cc") for i in range(30)]
    rows.append(("u", 99, list(range(500, 560)), 60, "cc"))
    df = spark.createDataFrame(rows, TOKEN_SCHEMA)
    audit = dedup.minhash_dropped_buckets(df, use_tokens=True, bucket_cap=10)
    reported = audit.collect()
    assert len(reported) >= 16 and all(r["size"] == 30 for r in reported)
    capped = dedup.minhash_dedup(df, use_tokens=True, bucket_cap=10)
    assert capped.count() == 31


def test_simhash_dedup_parity(spark):
    rows = make_docs(n=120, dup_frac=0.25)
    df = spark.createDataFrame(rows, "doc_id string, doc_seq long, text string, source string")
    out = dedup.simhash_dedup(df, key="text", threshold=0.9)
    got = sorted(r["doc_seq"] for r in out.select("doc_seq").collect())

    wh = df.select(
        "doc_seq",
        F.transform(
            F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda w: w != ""),
            lambda w: F.xxhash64(w),
        ).alias("wh"),
    ).collect()
    want = dedup_oracle.simhash_cluster_survivors(
        [r["doc_seq"] for r in wh], [r["wh"] for r in wh], threshold=0.9
    )
    assert got == want


def test_ngramhash_dedup(spark):
    rows = make_docs(n=150, dup_frac=0.3)
    df = spark.createDataFrame(rows, "doc_id string, doc_seq long, text string, source string")
    out = dedup.ngramhash_dedup(df, key="text", n_gram=3, diff_size=3)
    got = sorted(r["doc_seq"] for r in out.select("doc_seq").collect())
    # exact duplicates share all 3 segments -> must be collapsed
    texts = {}
    expect_drop = set()
    for (_, seq, text, _) in rows:
        if text in texts and len(text) >= 3:
            expect_drop.add(seq)
        else:
            texts.setdefault(text, seq)
    assert expect_drop.isdisjoint(got)
    assert set(texts.values()) <= set(got) | expect_drop


def test_cc_local_vs_distributed_parity(spark, monkeypatch):
    """The numpy local CC kernel and the distributed contraction ladder
    (threshold 0: contract -> contract -> driver solve) agree on a
    random graph with chains, stars, and singleton-free components."""
    import random

    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(0, 40, 1)]            # one long chain
    edges += [(100, m) for m in range(101, 110)]              # star
    edges += [(rng.randrange(200, 260), rng.randrange(200, 260)) for _ in range(80)]
    df = spark.createDataFrame(edges, "a long, b long")
    local = {
        (r["node"], r["component"])
        for r in dedup.connected_components_min(df).collect()
    }
    monkeypatch.setattr(dedup, "CC_LOCAL_EDGE_THRESHOLD", 0)
    dist = {
        (r["node"], r["component"])
        for r in dedup.connected_components_min(df).collect()
    }
    assert local == dist
    # the chain must collapse to a single component rooted at 0
    assert {(n, c) for (n, c) in local if n <= 40} == {(n, 0) for n in range(41)}


def _uf_oracle(edges):
    """Pure-python union-find — independent of every engine kernel."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_cc_contract_single_level_parity(spark, monkeypatch):
    """Round-4 contraction CC (partition-local numpy solves + residual
    graph, residual solved locally) == the driver-local kernel, on the
    contraction worst case: long chains (every hop can straddle a
    partition, so the residual is nearly chain-sized), stars, random
    clutter, and two chains merging through one late bridge."""
    import random

    rng = random.Random(23)
    edges = [(i, i + 1) for i in range(0, 60)]                    # chain A
    edges += [(1000 + i, 1000 + i + 1) for i in range(0, 60)]     # chain B
    edges += [(30, 1030)]                                         # late merge
    edges += [(5000, m) for m in range(5001, 5040)]               # star
    edges += [(rng.randrange(9000, 9100), rng.randrange(9000, 9100))
              for _ in range(150)]
    df = spark.createDataFrame(edges, "a long, b long").localCheckpoint(
        eager=True
    )
    want = _uf_oracle(edges)
    monkeypatch.setattr(dedup, "CC_LOCAL_EDGE_THRESHOLD", 10**9)
    got = {
        r["node"]: r["component"]
        for r in dedup._cc_distributed_contract(df).collect()
    }
    assert got == want
    # merged chains collapse to one component rooted at 0
    assert all(want[n] == 0 for n in range(1000, 1061))


def test_cc_contract_two_level_parity(spark, monkeypatch):
    """Same graph, but CC_LOCAL_EDGE_THRESHOLD sits BETWEEN the residual size and
    the input size, so the top level runs distributed contraction and the
    residual recursion exercises the local hand-off — the production shape
    (residual ≪ input ≤ threshold)."""
    import random

    rng = random.Random(23)
    edges = [(i, i + 1) for i in range(0, 60)]
    edges += [(1000 + i, 1000 + i + 1) for i in range(0, 60)]
    edges += [(30, 1030)]
    edges += [(5000, m) for m in range(5001, 5040)]
    edges += [(rng.randrange(9000, 9100), rng.randrange(9000, 9100))
              for _ in range(150)]
    df = spark.createDataFrame(edges, "a long, b long")
    monkeypatch.setattr(dedup, "CC_LOCAL_EDGE_THRESHOLD", len(edges) - 1)
    got = {
        r["node"]: r["component"]
        for r in dedup.connected_components_min(df).collect()
    }
    assert got == _uf_oracle(edges)


def test_cc_contract_property_random_graphs(spark, monkeypatch):
    """Property sweep: random Erdos-Renyi-ish graphs of varying density,
    forced through FULL multi-level recursion (threshold 0: contract
    -> contract -> driver solve at depth 2) — contraction labels == the
    union-find oracle.  Graphs kept small: with threshold 0 both levels
    above depth 2 run distributed."""
    import random

    rng = random.Random(99)
    monkeypatch.setattr(dedup, "CC_LOCAL_EDGE_THRESHOLD", 0)
    for trial, (n_nodes, n_edges) in enumerate([(30, 40), (20, 10), (40, 60)]):
        edges = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        df = spark.createDataFrame(edges, "a long, b long")
        got = {
            r["node"]: r["component"]
            for r in dedup.connected_components_min(df).collect()
        }
        assert got == _uf_oracle(edges), f"trial {trial}"


def test_minhash_degenerate_bucket_bounded_memory(spark):
    """VERDICT r2 #8: a single degenerate LSH bucket (every row identical)
    must complete with bounded agg buffers.  300k identical texts -> all 16
    band buckets hold 300k members; the (min, count) roots aggregation has
    FIXED 16-byte buffers regardless of bucket size, the bucket is dropped
    (count > cap) -> no edges -> all rows survive minhash (exact dedup
    upstream is what collapses identical text)."""
    from dataflow_spark.operators import dedup

    n = 300_000
    df = (
        spark.range(n)
        .select(
            F.col("id").alias("doc_seq"),
            F.lit("identical degenerate text for every row").alias("text"),
        )
        .localCheckpoint(eager=True)
    )
    out = dedup.minhash_dedup(df, key="text", bucket_cap=1000)
    assert out.count() == n


def test_minhash_cap_exact_for_kept_buckets(spark):
    """The bucket cap must NOT drop members of buckets whose true size is
    <= bucket_cap: plant a 20-member duplicate cluster with bucket_cap=25 —
    every member must still collapse."""
    from dataflow_spark.operators import dedup

    import hashlib

    rows = [(i, "shared duplicate content padded for shingling zzzz") for i in range(20)]
    # pairwise-distant texts: md5-hex word soup (digit-suffix variants would
    # be REAL near-dups at char-5-gram Jaccard ~0.9 and legitimately merge)
    rows += [
        (100 + i, " ".join(hashlib.md5(f"{i}-{k}".encode()).hexdigest() for k in range(6)))
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_seq long, text string")
    out = dedup.minhash_dedup(df, key="text", bucket_cap=25)
    seqs = sorted(r["doc_seq"] for r in out.collect())
    assert seqs == [0] + [100 + i for i in range(30)]


def test_tokens_band_udf_parity_with_jvm_shingles(spark):
    """minhash_bands_from_tokens_udf (grams hashed in numpy) must be
    byte-identical to minhash_band_udf ∘ token_shingle_hashes (JVM HOF) —
    including short rows (< n tokens -> null), empty and null arrays."""
    import random

    from dataflow_spark.functions.text import token_shingle_hashes
    from dataflow_spark.operators.dedup import (
        minhash_band_udf,
        minhash_bands_from_tokens_udf,
    )

    rng = random.Random(7)
    rows = []
    for i in range(200):
        ln = rng.choice([0, 1, 2, 3, 4, 10, 63, 200])
        rows.append((i, [rng.randrange(0, 50257) for _ in range(ln)]))
    rows.append((998, None))
    # out-of-vocab tokens (>= 2^20, negative): exercises the stepwise-mod
    # fallback path — must still match the JVM pmod chain exactly
    rows.append((999, [2**31 - 1, -5, 123456789, 0, -(2**31), 42, 7, 7]))
    df = spark.createDataFrame(rows, "doc_seq long, tokens array<int>")

    old = df.select(
        "doc_seq",
        minhash_band_udf(128, 16, 1)(token_shingle_hashes(F.col("tokens"), 3)).alias("b"),
    )
    new = df.select(
        "doc_seq", minhash_bands_from_tokens_udf(128, 16, 3, 1)(F.col("tokens")).alias("b")
    )
    got_old = {r["doc_seq"]: r["b"] for r in old.collect()}
    got_new = {r["doc_seq"]: r["b"] for r in new.collect()}
    assert got_old == got_new
    # sanity: long rows produced real bands, short rows are null
    assert got_new[998] is None and any(v is not None for v in got_new.values())


def _numpy_labels(edges_pdf):
    import numpy as np

    nodes, lbl = dedup._cc_min_numpy(
        edges_pdf["a"].to_numpy(np.int64), edges_pdf["b"].to_numpy(np.int64)
    )
    return dict(zip(nodes.tolist(), lbl.tolist()))


def _spy_solve(monkeypatch):
    """Wrap ``dedup._solve`` (the residual recursion calls it through the
    module, so every CC level passes the spy): one ``{"depth", "edges",
    "strategy"}`` row per level, in entry order — depth>0 rows are the
    residual-graph sizes, the quantity the contraction design's "tiny
    residual" claim rests on."""
    from pyspark.sql import DataFrame

    rows = []
    real = dedup._solve

    def solve(edges, n, _depth=0):
        row = {"depth": _depth, "edges": n}
        rows.append(row)
        out = real(edges, n, _depth)
        row["strategy"] = "contract" if isinstance(out, DataFrame) else "local"
        return out

    monkeypatch.setattr(dedup, "_solve", solve)
    return rows


def test_cc_chain_graph_contracts_via_range_partitioning(spark, monkeypatch):
    """Adversarial shape (VERDICT r4 #5): a single long CHAIN spanning
    partitions.  Under hash partitioning the residual barely shrank
    (measured: 500k-edge chain -> 484k residual at BOTH depths, all work
    landing on the depth-2 terminator); range partitioning on `a`
    colocates consecutive links, so the residual collapses to ~n_parts
    edges in ONE contraction.  Pin the ladder shape and label parity."""
    n = 60_000
    edges = spark.range(n).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    monkeypatch.setattr(dedup, "CC_LOCAL_EDGE_THRESHOLD", 2000)
    depths = _spy_solve(monkeypatch)
    out = dedup.connected_components_min(edges).collect()
    assert all(r.component == 0 for r in out) and len(out) == n + 1
    assert depths[0]["strategy"] == "contract"
    # one contraction collapses the chain to the cross-partition links
    assert depths[1]["edges"] < 1000, depths
    assert depths[1]["strategy"] == "local"


def test_cc_depth2_residual_solved_on_driver(spark, monkeypatch):
    """A residual still above CC_LOCAL_EDGE_THRESHOLD after two contractions
    (an expander: hash-scattered links keep every partition
    cross-connected) is solved on the driver at depth 2 — labels stay
    exactly right."""
    n = 3000
    edges = spark.range(2 * n).select(
        F.pmod(F.col("id"), F.lit(n)).alias("a"),
        F.pmod(F.xxhash64("id"), F.lit(n)).alias("b"),
    ).where(F.col("a") != F.col("b")).localCheckpoint(eager=True)
    want = _numpy_labels(edges.toPandas())

    monkeypatch.setattr(dedup, "CC_LOCAL_EDGE_THRESHOLD", 50)
    depths = _spy_solve(monkeypatch)
    got = {
        r.node: r.component
        for r in dedup.connected_components_min(edges).collect()
    }
    assert got == want
    deep = [d for d in depths if d["depth"] >= 2]
    assert deep and all(d["strategy"] == "local" for d in deep), depths


def test_cc_min_numpy_and_keep_cluster_min_total_on_no_edges(spark):
    """No edges is an ordinary input: ``_cc_min_numpy`` returns two empty
    int64 arrays, and ``keep_cluster_min`` over an empty edge set returns
    the input plan with no Python UDF (no ``ArrowEvalPython``) in it."""
    import numpy as np

    empty = np.empty(0, dtype=np.int64)
    nodes, lbl = dedup._cc_min_numpy(empty, empty)
    assert nodes.dtype == lbl.dtype == np.int64
    assert len(nodes) == len(lbl) == 0
    docs = spark.range(10).withColumnRenamed("id", "doc_seq")
    out = dedup.keep_cluster_min(docs, spark.createDataFrame([], "a long, b long"))
    assert "ArrowEvalPython" not in out._jdf.queryExecution().executedPlan().toString()
    assert sorted(r.doc_seq for r in out.collect()) == list(range(10))


@pytest.mark.parametrize(
    "path", ["local", "contract", "keep_cluster_min", "minhash", "minhash_edges"]
)
def test_cc_releases_checkpoints(spark, monkeypatch, path):
    """CC leaves no checkpoint behind in getPersistentRDDs: the local path
    adds none; the contract path (one contraction, residual solved on the
    driver) keeps only the materialized local roots, which the returned
    lazy plan still reads — the input and residual checkpoints are
    released once solved.  keep_cluster_min's distributed branch is the
    contract path behind the same threshold; minhash_dedup adds none on
    either rung — the driver rung (signature checkpoint, band-key fetch)
    and the edge rung, forced by a bound one below n_docs × bands
    (signature checkpoint, edge checkpoint, local CC)."""
    edges = [(i, i + 1) for i in range(0, 60)]
    edges += [(1000 + i, 1000 + i + 1) for i in range(0, 60)]
    edges += [(30, 1030)]
    edges += [(5000, m) for m in range(5001, 5040)]
    df = spark.createDataFrame(edges, "a long, b long")
    threshold = len(edges) if path == "local" else len(edges) - 1
    jsc = spark.sparkContext._jsc
    before = set(dict(jsc.getPersistentRDDs()))
    if path.startswith("minhash"):
        if path == "minhash_edges":
            monkeypatch.setattr(dedup, "CC_LOCAL_EDGE_THRESHOLD", 250 * 16 - 1)
        docs = spark.createDataFrame(
            make_token_docs(n=250, dup_frac=0.1, near_frac=0.1), TOKEN_SCHEMA
        )
        assert dedup.minhash_dedup(docs, use_tokens=True).count() < 250
    elif path == "keep_cluster_min":
        monkeypatch.setattr(dedup, "CC_LOCAL_EDGE_THRESHOLD", threshold)
        docs = spark.range(6000).withColumnRenamed("id", "doc_seq")
        got = {r.doc_seq for r in dedup.keep_cluster_min(docs, df).collect()}
        assert len(got) == 6000 - (len(_uf_oracle(edges)) - 2)
    else:
        monkeypatch.setattr(dedup, "CC_LOCAL_EDGE_THRESHOLD", threshold)
        depths = _spy_solve(monkeypatch)
        got = {
            r.node: r.component
            for r in dedup.connected_components_min(df).collect()
        }
        assert got == _uf_oracle(edges)
        want_ladder = ["local"] if path == "local" else ["contract", "local"]
        assert [d["strategy"] for d in depths] == want_ladder
    added = set(dict(jsc.getPersistentRDDs())) - before
    assert len(added) == (1 if path in ("contract", "keep_cluster_min") else 0), added


@pytest.mark.parametrize("rung", ["local", "contract"])
def test_keep_cluster_min_counts_edges_once(spark, monkeypatch, rung):
    """keep_cluster_min runs no ``DataFrame.count`` on lazy edges on either
    rung: the count that picks the rung is observed on the job that
    checkpoints them, and the contraction's residual is counted the same
    way.  A materialized edge set (``edges_materialized=True``) is counted
    exactly once, and the contraction is entered without counting the same
    edges again."""
    pairs = [(i, i + 1) for i in range(0, 60)] + [(500, m) for m in range(501, 520)]
    lazy = spark.createDataFrame(pairs, "a long, b long")
    edges = lazy.localCheckpoint(eager=True)
    threshold = len(pairs) if rung == "local" else len(pairs) - 1
    monkeypatch.setattr(dedup, "CC_LOCAL_EDGE_THRESHOLD", threshold)
    counted = []
    frame_cls = type(edges)
    real_count = frame_cls.count

    def count(self):
        counted.append(self)
        return real_count(self)

    monkeypatch.setattr(frame_cls, "count", count)
    docs = spark.range(1000).withColumnRenamed("id", "doc_seq")
    got_lazy = {r.doc_seq for r in dedup.keep_cluster_min(docs, lazy).collect()}
    assert counted == []
    got = {
        r.doc_seq
        for r in dedup.keep_cluster_min(docs, edges, edges_materialized=True).collect()
    }
    monkeypatch.undo()
    labels = _uf_oracle(pairs)
    want = set(range(1000)) - {n for n, c in labels.items() if n != c}
    assert got_lazy == want
    assert got == want
    assert sum(c is edges for c in counted) == 1, counted
