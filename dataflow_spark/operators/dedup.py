"""Deduplication operators — exact, MinHash-LSH, SimHash, n-gram-segment.

Reference semantics (SURVEY.md §2.1): sequential scan with an in-memory
seen-set / LSH index, first occurrence in file order wins
(hash_deduplicate_filter.py:75-89, minhash_deduplicate_filter.py:66-83).
A distributed engine carries the arrival order explicitly (``doc_seq``) and
defines the canonical survivor of a duplicate cluster as the row with the
MINIMUM arrival sequence.  For exact dedup this is identical to the
reference's output.  For near-dedup (MinHash/SimHash/n-gram) we compute
duplicate CLUSTERS (connected components over candidate pairs) and keep the
min-seq row per cluster — the scan-order-independent closure of the
reference's query-then-insert loop; on chain-free data (the common case at
threshold 0.9) the outputs coincide, and the pytest oracle implements the
same cluster semantics in pandas for row-for-row verification.

Scale notes (100 TB):
* exact dedup = ONE hash shuffle with map-side partial ``min_by`` aggregation
  — no window sort, no skew (hash keys are uniform);
* MinHash = vectorized numpy signatures over JVM-prehashed shingles (Arrow
  batches, no per-row Python), banded into (band_id, band_hash) buckets;
  candidate edges are star edges to each bucket's min-seq root, so a
  degenerate bucket of B rows costs B edges, never B².  Two rungs, chosen
  by the doc count: up to n_docs × bands = CC_LOCAL_EDGE_THRESHOLD band
  keys (~250k docs at 16 bands) the keys are fetched once and the whole
  decision runs on the driver (cluster_min_losers); above it the star
  edges are built in Spark (_star_edges) and solved by the CC ladder
  below.  Either way the signature is materialized once, by ``_checkpoint``,
  whose observed row count picks the rung;
* SimHash/n-gram verification needs true pairwise checks — bucket sizes are
  capped (cap param) to bound the self-join blow-up on degenerate buckets;
* connected components: ``_solve`` is the one place the rung is picked,
  from the edge count that ``_checkpoint`` observes on the job that
  materializes the edges (no count job) — one driver-local numpy solve
  up to CC_LOCAL_EDGE_THRESHOLD edges, otherwise partition-local solves
  plus edge contraction (Kiveris et al., SoCC 2014) whose residual goes
  back through ``_solve`` — a fixed number of jobs, no per-round loop.
  ``connected_components_min``, ``keep_cluster_min`` and the contraction's
  residual all enter it; every driver-decided loser set leaves the frame
  through ``drop_sorted``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.functions import pandas_udf

from dataflow_spark.core.stage import Stage, register
from dataflow_spark.functions.arrow import lists, ragged
from dataflow_spark.functions.text import ngram_strings

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def content_hash(keys: tuple[str, ...], algo: str = "md5"):
    """Canonical content hash over one or more columns.  Multi-key rows are
    joined as '{k}:\\n{v}' with '\\n' separators — exact parity with
    hash_deduplicate_filter.py:79-80."""
    if len(keys) == 1:
        payload = F.col(keys[0]).cast("string")
    else:
        payload = F.concat_ws(
            "\n", *[F.concat(F.lit(f"{k}:\n"), F.col(k).cast("string")) for k in keys]
        )
    if algo == "md5":
        return F.md5(payload.cast("binary"))
    if algo == "sha256":
        return F.sha2(payload.cast("binary"), 256)
    if algo == "sha1":
        return F.sha1(payload.cast("binary"))
    if algo == "xxh3":  # reference offers xxh3_128; xxhash64 is the JVM native
        return F.xxhash64(payload).cast("string")
    raise ValueError(f"unknown hash algo {algo}")


def token_hash():
    """Content hash of a token array: xxhash64 applied to the array column
    directly (Spark's HashExpression folds elements in sequence) — the dedup
    key for token-array equality.  No string materialization: the earlier
    array_join encoding built ~5 bytes of string per token before hashing."""
    return F.xxhash64(F.col("tokens"))


def exact_dedup(
    df: DataFrame,
    keys: tuple[str, ...] = ("text",),
    seq_col: str = "doc_seq",
    algo: str = "md5",
    hash_col: str | None = None,
) -> DataFrame:
    """First-seen-wins exact dedup (HashDeduplicateFilter,
    hash_deduplicate_filter.py:10-91).  Survivor = min arrival seq per hash.

    groupBy(hash).agg(min_by(struct(*cols), seq)) — ONE shuffle whose
    map-side partial aggregation collapses duplicates before the wire; the
    struct agg buffer forces SortAggregate, but the sorts are
    partition-local over bounded (~128 MB) partitions.  Measured 2x faster
    than a min(seq) aggregate joined back on (hash, seq) at bench scale.
    """
    h = F.col(hash_col) if hash_col else content_hash(keys, algo)
    return (
        df.withColumn("_content_hash", h)
        .groupBy("_content_hash")
        .agg(F.min_by(F.struct(*df.columns), F.col(seq_col)).alias("_row"))
        .select("_row.*")
    )


@register("HashDeduplicateFilter")
def hash_dedup_stage(input_keys: tuple[str, ...] = ("text",), seq_col: str = "doc_seq", algo: str = "md5") -> Stage:
    return Stage(
        "HashDeduplicateFilter",
        lambda df: exact_dedup(df, tuple(input_keys), seq_col, algo),
        tuple(input_keys) + (seq_col,),
        (),
        "filter",
    )


def ccnet_dedup(df: DataFrame, key: str = "text", bits: int = 64, seq_col: str = "doc_seq") -> DataFrame:
    """CCNetDeduplicateFilter (ccnet_deduplicate_filter.py:42-109): exact
    dedup on the first ``bits`` of SHA-1 — substring of the hex digest."""
    h = F.substring(F.sha1(F.col(key).cast("binary")), 1, bits // 4)
    return exact_dedup(df.withColumn("_ccnet_h", h), seq_col=seq_col, hash_col="_ccnet_h").drop("_ccnet_h")


@register("CCNetDeduplicateFilter")
def ccnet_dedup_stage(input_key: str = "text", bits: int = 64, seq_col: str = "doc_seq") -> Stage:
    return Stage(
        "CCNetDeduplicateFilter",
        lambda df: ccnet_dedup(df, input_key, bits, seq_col),
        (input_key, seq_col),
        (),
        "filter",
    )


# ---------------------------------------------------------------------------
# connected components (min-label) — shared by all near-dedup ops
# ---------------------------------------------------------------------------


def _cc_min_numpy(a: "np.ndarray", b: "np.ndarray") -> tuple:
    """Min-label connected components over edge arrays, fully vectorized.
    Works in INDEX space (labels are positions into the sorted node array;
    node ids are ascending so min-index == min-id): per round, pull each
    endpoint's label across the symmetrized edges with a segment-min
    (argsort once up front — the edge order never changes — then one
    ``np.minimum.reduceat`` per round), then pointer-jump ``lbl = lbl[lbl]``
    to a within-round fixpoint so chains collapse in O(log n) rounds.
    2.8x faster than the previous ``np.minimum.at`` scatter (which is an
    unbuffered scalar loop) + per-round ``searchsorted`` on the r400 bench
    edge set (2.08M edges: 1.0s vs 2.9s); this solve is the serial Amdahl
    term of the whole minhash job, so it is worth the fuss.
    Returns (nodes, labels) with labels as node ids."""
    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    n = len(nodes)
    src = inv.copy()
    dst = np.concatenate([inv[len(a):], inv[: len(a)]])
    order = np.argsort(dst, kind="stable")
    dsts = dst[order]
    srcs = src[order]
    head = np.ones(len(dsts), dtype=bool)
    head[1:] = dsts[1:] != dsts[:-1]
    seg = np.flatnonzero(head)
    seg_dst = dsts[seg]
    lbl = np.arange(n, dtype=np.int64)
    while True:
        m = np.minimum.reduceat(lbl[srcs], seg)
        new = lbl.copy()
        new[seg_dst] = np.minimum(new[seg_dst], m)
        while True:
            nn = new[new]
            if np.array_equal(nn, new):
                break
            new = nn
        if np.array_equal(new, lbl):
            return nodes, nodes[lbl]
        lbl = new


def cluster_min_losers(
    seq: np.ndarray, key: np.ndarray, cap: int | None
) -> np.ndarray:
    """The whole MinHash-LSH decision on the driver, from flat
    ``(doc_seq, packed band key)`` arrays (one row per doc and band, as
    ``packed_band_keys`` emits them): every bucket (rows sharing a key)
    links its docs to its min ``doc_seq`` root, a bucket of more than
    ``cap`` docs makes no links (_star_edges' bucket cap;
    ``None`` drops no bucket, as exact keys need), and ``_cc_min_numpy``
    solves the star edges.  Returns the sorted ``doc_seq`` values that are
    not the min of their cluster.  A repeated ``(seq, key)`` row counts
    once; docs without rows never lose.

    Docs are renumbered densely in seq order first, so a star edge packs
    into one int64 and the up-to-``bands``-fold copies of a (member, root)
    pair collapse in one ``np.unique`` before the solve (3.2M pairs of a
    200k-doc, 16-band corpus with 97% of docs in clusters: 0.9 s, against
    2.9 s solving the raw edges)."""
    docs, doc = np.unique(np.asarray(seq, np.int64), return_inverse=True)
    key = np.asarray(key, np.int64)
    order = np.argsort(key)
    key, doc = key[order], doc[order]
    head = np.ones(len(key), dtype=bool)
    head[1:] = key[1:] != key[:-1]
    starts = np.flatnonzero(head)
    bucket = np.cumsum(head) - 1
    root = np.minimum.reduceat(doc, starts)[bucket] if len(starts) else doc
    member = doc != root
    if cap is not None:
        size = np.diff(np.r_[starts, len(key)])
        # only a bucket with more rows than cap can hold repeats that decide it
        for b in np.flatnonzero(size > cap):
            size[b] = len(np.unique(doc[starts[b]:starts[b] + size[b]]))
        member &= (size <= cap)[bucket]
    n = np.int64(len(docs))
    edge = np.unique(doc[member] * n + root[member])
    nodes, lbl = _cc_min_numpy(edge // n, edge % n)
    return docs[nodes[nodes != lbl]]


# Below this many candidate edges the min-label solve is pulled to the
# driver and solved in one vectorized numpy pass; above it, it stays
# distributed.  (After LSH bucketing, star edges are ~dup_count, not
# pair_count, so the local case is overwhelmingly common.)  Same design as
# Spark's own broadcast threshold: a driver round-trip beat the old
# propagation loop's O(rounds) shuffle jobs, whose fixed cost (checkpoint +
# convergence count per round) is serial and does not parallelize — that
# fixed cost is what held 8->32-core scaling at 0.56 in round 2.  The 4M value is MEASURED, both
# directions, at r1600 (8,339,450 edges — 2.1x the cutoff):
#
# * the driver-local solve WINS below it: the r400 edge set (2.08M) solves
#   in ~1 s and removed the per-round checkpoint+count serial barrier that
#   held 8->32-core efficiency at 0.56 (round-2 ledger);
# * it LOSES above it, on BOTH topologies: at local-cluster[8,4] a
#   back-to-back A/B read local 95.9-121.8 s vs distributed 72.2-118.1 s
#   (edge collect over executor RPC + shipping the ~3.2M-long loser array
#   to every Python worker); at local[8]/local[32] a heap-scaled variant
#   improved the pinned 8-core leg (~173 -> ~120 s, the distributed
#   rounds are join-heavy at few cores) but DEGRADED the 32-core leg
#   (61 -> 78-98 s) — the single-threaded driver solve is a
#   core-count-independent Amdahl term that costs the fast leg exactly
#   what the well-parallelized rounds no longer do.
CC_LOCAL_EDGE_THRESHOLD = 4_000_000

# MinHash LSH buckets of more than this many docs make no candidate links
# (audited by minhash_dropped_buckets); shared by batch minhash_dedup and
# the near-dedup stream.
MINHASH_BUCKET_CAP = 100_000

# per-worker byte budget for the minhash signature intermediate (see
# minhash_band_udf)
SIG_CHUNK_BYTES = 512 * 1024


def _release_checkpoint(df: DataFrame) -> None:
    """Free a ``localCheckpoint``-ed frame's blocks now: otherwise they stay
    registered in ``getPersistentRDDs`` until the JVM garbage-collects the
    frame (one leaked edge set per CC call).  A no-op for frames that are
    not checkpoints."""
    jdf = getattr(df, "_jdf", None)
    if jdf is None:
        return
    plan = jdf.queryExecution().logical()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def _checkpoint(df: DataFrame) -> tuple[DataFrame, int]:
    """``df`` materialized by an eager ``localCheckpoint``, and its row
    count.  The count is an ``Observation`` on the checkpoint's own job, so
    it costs no second job (the way ``write_batch_once`` takes its totals
    from the write).  Release the frame with ``_release_checkpoint``."""
    obs = Observation()
    frame = df.observe(obs, F.count(F.lit(1)).alias("rows")).localCheckpoint(eager=True)
    return frame, obs.get["rows"]


def _solve(edges: DataFrame, n: int, _depth: int = 0):
    """The one CC rung decision, over a materialized ``(a, b)`` edge set of
    ``n`` edges that it consumes (its blocks are released once read); it
    runs no count of its own:

    - **local** (at most CC_LOCAL_EDGE_THRESHOLD edges, or recursion depth
      >= 2): one Arrow fetch of the two long columns and the numpy
      min-label kernel — one job, no per-round serial barrier.  Returns
      numpy ``(nodes, labels)``.  At 10% dup rate the threshold covers
      corpora of ~40M docs per dedup invocation.  A residual still above
      the threshold after two contractions (every partition stays
      cross-connected, as in an expander) goes to the driver too: a third
      contraction would barely shrink it.
    - **contract** (otherwise): _cc_distributed_contract — one shuffle of
      the edges, a partition-local numpy CC inside mapInPandas, then a
      CONTRACTED residual graph solved through this function at the next
      depth; it collapses under the threshold in one step on every real
      near-dup graph, so the whole solve is a FIXED number of data-heavy
      jobs (VERDICT r3 #1).  Returns the lazy ``(node, component)`` frame,
      which reads the materialized local roots."""
    if _depth >= 2 or n <= CC_LOCAL_EDGE_THRESHOLD:
        pdf = edges.select(F.col("a").cast("long"), F.col("b").cast("long")).toPandas()
        _release_checkpoint(edges)
        return _cc_min_numpy(pdf["a"].to_numpy(np.int64), pdf["b"].to_numpy(np.int64))
    return _cc_distributed_contract(edges, _depth)


def _as_frame(spark, solved) -> DataFrame:
    """``_solve``'s result as a ``(node, component)`` frame."""
    if isinstance(solved, DataFrame):
        return solved
    nodes, lbl = solved
    return spark.createDataFrame(
        pd.DataFrame({"node": nodes, "component": lbl}), "node long, component long"
    )


def _cc_distributed_contract(edges: DataFrame, _depth: int = 0) -> DataFrame:
    """Distributed CC by partition-local solve + edge contraction (VERDICT
    r3 task #1; the two-phase scheme behind CC-MR / Kiveris et al.'s
    MapReduce CC family, chosen over alternating large-star/small-star
    because the numpy kernel already solves megaedge graphs in ~1 s, so one
    shuffle + parallel local solves + a TINY residual beats even 2-3
    star rounds):

    1. range-shuffle edges on ``a`` into spark.sql.shuffle.partitions
       partitions (bucket stars have constant ``a``, so a whole LSH star
       lands in one partition, and consecutive chain links colocate);
    2. per partition, run the vectorized numpy min-label kernel on that
       partition's edge set -> (node, local_root) rows — the root is the
       min node id of the node's PARTITION-LOCAL component;
    3. a node seen in k>1 partitions has up to k distinct local roots; all
       of those roots belong to one global component, so emit the residual
       star (min_root, other_root) per such node.  The residual graph has
       one node per local root and collapses to the cross-partition
       adjacency only — orders of magnitude smaller than the input (at
       r1600, 8.3M edges -> residual well under the 4M local threshold);
    4. solve the residual through ``_solve`` at ``_depth + 1`` (in
       practice: one driver-local numpy pass), then map every node through
       root -> global component.

    Correctness: two nodes are globally connected iff their local roots are
    linked by a chain of shared-node residual stars; the global min label
    survives because the component-wide min node m is a local root wherever
    it appears (its local component contains m, and roots are local minima,
    so root <= m and root >= min = m).  Parity with the numpy kernel and a
    union-find oracle is pinned in tests/test_dedup.py.

    Scale shape: a FIXED pipeline of one repartition shuffle, one narrow
    mapInPandas, one groupBy shuffle, one join + final min-agg — no
    O(rounds) driver barrier, every stage fully parallel.  Partition-local
    memory is the partition's edge list (~16 B/edge + kernel overhead), so
    size spark.sql.shuffle.partitions to fit executor memory — 1B edges
    over 2048 partitions is ~8 MB/task.  ``edges`` is consumed: its
    checkpoint is released once the local roots are materialized."""
    n_parts = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))

    def solve(it):
        cas, cbs = [], []
        for pdf in it:
            cas.append(pdf["a"].to_numpy(np.int64))
            cbs.append(pdf["b"].to_numpy(np.int64))
        if not cas:
            return
        nodes, lbl = _cc_min_numpy(np.concatenate(cas), np.concatenate(cbs))
        yield pd.DataFrame({"node": nodes, "local_root": lbl})

    m = (
        edges.select(F.col("a").cast("long"), F.col("b").cast("long"))
        .repartitionByRange(n_parts, "a")
        .mapInPandas(solve, "node long, local_root long")
        .localCheckpoint(eager=True)  # reused: residual build + final map
    )
    _release_checkpoint(edges)
    residual = (
        m.groupBy("node")
        .agg(
            F.min("local_root").alias("_r0"),
            F.collect_set("local_root").alias("_rs"),
        )
        .select(F.col("_r0").alias("a"), F.explode("_rs").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    roots = _as_frame(
        m.sparkSession, _solve(*_checkpoint(residual), _depth + 1)
    ).withColumnRenamed("node", "local_root")
    # every multi-root node's roots share one residual component, so the
    # min-agg only dedupes the per-partition copies (values are equal);
    # single-root nodes whose root never entered the residual keep it
    return (
        m.join(roots, "local_root", "left")
        .select(
            "node",
            F.coalesce("component", "local_root").alias("component"),
        )
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )


def connected_components_min(edges: DataFrame) -> DataFrame:
    """Edges (a:long, b:long) -> (node:long, component:long) where component
    is the min node id reachable.  Checkpoints ``edges`` and hands the
    checkpoint and its observed count to ``_solve``, which picks the local
    or the contract rung.  The returned frame of the contract rung reads
    the materialized local roots, which stay registered until the JVM
    collects them."""
    return _as_frame(edges.sparkSession, _solve(*_checkpoint(edges)))


def _sorted_member(sorted_arr: np.ndarray, values: np.ndarray) -> np.ndarray:
    """Vectorized membership of ``values`` in a SORTED int64 array (also a
    read-only memory map: only the probed pages are touched)."""
    if not len(sorted_arr):
        return np.zeros(len(values), dtype=bool)
    pos = np.searchsorted(sorted_arr, values)
    pos_c = np.minimum(pos, len(sorted_arr) - 1)
    return (pos < len(sorted_arr)) & (sorted_arr[pos_c] == values)


def drop_sorted(df: DataFrame, seq_col: str, losers: np.ndarray) -> DataFrame:
    """``df`` without the rows whose ``seq_col`` is in ``losers``, a sorted
    int64 array; no losers returns ``df`` itself (no Python UDF in the
    plan).  The filter is a vectorized binary-search pandas UDF: the array
    ships once per worker in the task closure (TorrentBroadcast) and the
    probe runs fully parallel.  It replaced a broadcast anti-join whose
    BroadcastExchange built the 2M-row loser hash table on the DRIVER
    (serial, measured ~6s at r400, against ~0.9s warm here) — serial
    driver time is the Amdahl term of the whole minhash job
    (BENCH_scaling.json).  Requires non-null seq ids, which the engine
    assigns (monotonically_increasing_id / source doc_seq)."""
    if not len(losers):
        return df

    @pandas_udf(T.BooleanType())
    def not_in_sorted(s: pd.Series) -> pd.Series:
        return pd.Series(~_sorted_member(losers, s.to_numpy(np.int64)))

    return df.where(not_in_sorted(F.col(seq_col)))


def keep_cluster_min(
    df: DataFrame,
    edges: DataFrame,
    seq_col: str = "doc_seq",
    edges_materialized: bool = False,
) -> DataFrame:
    """Drop every row whose seq appears in a duplicate cluster with a smaller
    min-seq; annotate nothing (reference drops silently).  The lazy
    ``edges`` are checkpointed and counted by one job (``_checkpoint``).
    ``edges_materialized=True`` takes an already materialized edge set
    (minhash_candidate_edges) instead and counts it — the one ``count()``
    job left in this module, reached only by a caller that times the edge
    set on its own.  Either way the edge set is consumed: its blocks are
    released once read, so do not reuse it after the call."""
    solved = (
        _solve(edges, edges.count()) if edges_materialized else _solve(*_checkpoint(edges))
    )
    if isinstance(solved, DataFrame):
        losers = solved.where(F.col("node") != F.col("component")).select(
            F.col("node").alias(seq_col)
        )
        # left_anti shuffle join; AQE converts it to broadcast when losers
        # is small (the usual case — dup fraction ~10%), and handles skew
        # otherwise.
        return df.join(losers, seq_col, "left_anti")
    # the local rung's losers: <= duplicate-node count <=
    # CC_LOCAL_EDGE_THRESHOLD longs (32 MB), sorted because nodes ascend
    nodes, lbl = solved
    return drop_sorted(df, seq_col, nodes[nodes != lbl])


# ---------------------------------------------------------------------------
# MinHash-LSH near-dedup
# ---------------------------------------------------------------------------

_MERSENNE = np.uint64((1 << 61) - 1)
_MAX32 = np.uint64((1 << 32) - 1)


def _perms(num_perm: int, seed: int = 1):
    """Deterministic (a, b) permutation params for multiply-shift universal
    hashing (Dietzfelbinger et al.): h_i(x) = (a_i * x + b_i) >> 32 over
    uint64 wrap-around arithmetic, a_i odd.  Division-free — the earlier
    mod-Mersenne variant spent ~90% of signature time in scalar uint64
    division, which also killed multi-core scaling (memory/divider bound).
    The pytest oracle (tests/oracle/dedup_oracle.py) implements the same
    scheme independently at equal seeds."""
    gen = np.random.RandomState(seed)
    a = gen.randint(1, _MERSENNE, size=num_perm, dtype=np.uint64) | np.uint64(1)
    b = gen.randint(0, _MERSENNE, size=num_perm, dtype=np.uint64)
    return a, b


def minhash_band_udf(num_perm: int = 128, bands: int = 16, seed: int = 1):
    """arrow_udf: array<long> shingle hashes -> array<long> band hashes,
    null for a row with no shingle.

    The expensive inner loop (multiply-shift permutation, min over shingles)
    runs over the whole Arrow batch at once (``_band_hashes_from_flat``) —
    no per-row Python.  Band hash = polynomial combine of the band's r
    signature values.
    """
    assert num_perm % bands == 0
    a, b = _perms(num_perm, seed)

    @arrow_udf(T.ArrayType(T.LongType()))
    def udf(hashes: pa.Array) -> pa.Array:
        flat, lens = ragged(hashes)
        keep = lens > 0
        bh = _band_hashes_from_flat(flat.astype(np.uint64), lens[keep], a, b, num_perm, bands)
        return lists(bh.ravel(), bands * keep, keep)

    return udf


def _row_chunks(lens: np.ndarray, budget: int):
    """Walk non-empty rows in consecutive runs whose values span at most
    ``budget`` (a longer row runs alone): yields (row slice, value slice,
    each row's start within the value slice) — the ``reduceat`` indices."""
    ends = np.cumsum(lens)
    starts = ends - lens
    r0 = 0
    while r0 < len(lens):
        c0 = starts[r0]
        r1 = max(int(np.searchsorted(ends, c0 + budget, side="right")), r0 + 1)
        yield slice(r0, r1), slice(c0, ends[r1 - 1]), starts[r0:r1] - c0
        r0 = r1


def _band_hashes_from_flat(
    flat: np.ndarray, lens_ne: np.ndarray, a, b, num_perm: int, bands: int
) -> np.ndarray:
    """uint64 shingle hashes (flat, non-empty row lengths) -> (n_rows, bands)
    int64 band hashes.  multiply-shift (no division): (a*x + b) >> 32, uint64
    wrap-around.  Chunk along the SHINGLE axis so the (num_perm x chunk)
    matrix stays cache-resident: a full-width matrix makes the kernel pure
    DRAM traffic, which saturates at ~8 cores and flatlines scaling —
    measured 50s at local[8] == 52s at local[32] before chunking.  The
    budget is per-WORKER (SIG_CHUNK_BYTES, 512 KiB): with 32
    concurrent workers the combined working set must fit the shared L3."""
    sig = np.empty((num_perm, len(lens_ne)), dtype=np.uint64)
    shift = np.uint64(32)
    for rows, vals, idx in _row_chunks(lens_ne, max(256, SIG_CHUNK_BYTES // (num_perm * 8))):
        phv = (a[:, None] * flat[None, vals] + b[:, None]) >> shift
        sig[:, rows] = np.minimum.reduceat(phv, idx, axis=1)
    bandsig = sig.reshape(bands, num_perm // bands, -1)
    bh = np.zeros((bands, bandsig.shape[2]), dtype=np.uint64)
    for j in range(bandsig.shape[1]):
        bh = bh * np.uint64(1000003) + bandsig[:, j, :]
    return bh.astype(np.int64).T  # (n_nonempty, bands)


def minhash_bands_from_tokens_udf(
    num_perm: int = 128, bands: int = 16, token_ngram: int = 3, seed: int = 1
):
    """arrow_udf: tokens array<int> -> array<long> band hashes (null for a
    row with no full gram), with the token n-gram shingle hashing done IN
    NUMPY instead of a JVM HOF.

    Same outputs, very different memory profile: the JVM
    ``token_shingle_hashes`` transform materializes one long per gram as a
    GenericArrayData (allocation + GC churn) and then ships |grams| longs
    per row through Arrow — ~8x the byte volume of the raw tokens.  Both the
    HOF and the fat transfer are DRAM-bandwidth bound, which is exactly the
    axis this box stops scaling on past ~8 cores (BENCH_scaling.json
    calibration).  Hashing the grams from the raw int32 tokens inside the
    Arrow batch removes the HOF entirely and cuts the transfer to 4 bytes
    per token.

    Parity: identical rolling polynomial (h*B + t) mod M over int64 (numpy
    ``%`` matches Spark pmod for a positive modulus), then the shared
    multiply-shift kernel — signatures are byte-identical to
    minhash_band_udf ∘ token_shingle_hashes (tests/test_dedup.py)."""
    from dataflow_spark.functions.text import _SHINGLE_BASE, _SHINGLE_MOD

    assert num_perm % bands == 0
    a, b = _perms(num_perm, seed)
    B = np.int64(_SHINGLE_BASE)
    M = np.int64(_SHINGLE_MOD)
    n_g = token_ngram

    @arrow_udf(T.ArrayType(T.LongType()))
    def udf(tokens: pa.Array) -> pa.Array:
        flat, lens = ragged(tokens)
        flat = flat.astype(np.int64)
        # a row pairs only if it has >= 1 full n-gram (token_shingle_hashes
        # emits an empty array below n tokens — same contract)
        keep = lens >= n_g
        if not keep.any():
            return pa.nulls(len(lens), pa.list_(pa.int64()))
        # rolling hash over the flat token stream: h_p = gram hash starting
        # at p, computed for ALL positions then compacted to in-row grams.
        # Congruence lets the mod run ONCE per gram instead of per step when
        # the unreduced polynomial fits int64 (tokens < 2^20 = the base, so
        # the gram value is < 2^(20n); n <= 3 fits), and the mod itself uses
        # a float-reciprocal quotient + fixup — x86 has no SIMD integer
        # division, so numpy's % is a scalar loop ~10x slower.
        n_pos = len(flat) - n_g + 1
        if n_g * 20 <= 62 and 0 <= int(flat.min()) and int(flat.max()) < (1 << 20):
            h = flat[:n_pos].copy()
            for j in range(1, n_g):
                h = (h << np.int64(20)) + flat[j : n_pos + j]
            q = (h.astype(np.float64) * (1.0 / float(M))).astype(np.int64)
            h -= q * M
            h[h < 0] += M
            h[h >= M] -= M
        else:  # long grams: stepwise reduction keeps intermediates < 2^61
            h = flat[:n_pos] % M
            for j in range(1, n_g):
                h = (h * B + flat[j : n_pos + j]) % M
        # valid gram positions: the first len-n+1 of each kept row, marked
        # [row start, row start + g_len) via the diff trick
        g_lens = lens[keep] - n_g + 1
        row_off = (np.cumsum(lens) - lens)[keep]
        marks = np.zeros(n_pos + 1, dtype=np.int64)
        np.add.at(marks, row_off, 1)
        np.add.at(marks, row_off + g_lens, -1)
        grams = h[np.cumsum(marks[:-1]) > 0].astype(np.uint64)
        bh = _band_hashes_from_flat(grams, g_lens, a, b, num_perm, bands)
        return lists(bh.ravel(), bands * keep, keep)

    return udf


def _bands_expr(
    key: str,
    num_perm: int,
    bands: int,
    shingle_n: int,
    use_tokens: bool,
    token_ngram: int,
    seed: int,
):
    """The array<long> band-hash column of MinHash-LSH: the tokens fast path
    (minhash_bands_from_tokens_udf: grams hashed inside the Arrow batch), or
    char ``shingle_n``-grams — a sliding substring window as a JVM-side HOF
    (dynamic start position needs the SQL expr form of substring), xxhash64
    per shingle, then the numpy band UDF."""
    if use_tokens:
        return minhash_bands_from_tokens_udf(num_perm, bands, token_ngram, seed)(
            F.col("tokens")
        )
    s = F.col(key)
    shingles = F.when(
        F.length(s) >= shingle_n,
        F.expr(
            f"transform(sequence(1, length({key}) - {shingle_n} + 1), "
            f"i -> substring({key}, i, {shingle_n}))"
        ),
    ).otherwise(F.array(s))
    shingle_hashes = F.transform(shingles, lambda g: F.xxhash64(g))
    return minhash_band_udf(num_perm, bands, seed)(shingle_hashes)


def minhash_dedup(
    df: DataFrame,
    key: str = "text",
    seq_col: str = "doc_seq",
    num_perm: int = 128,
    bands: int = 16,
    shingle_n: int = 5,
    use_tokens: bool = False,
    token_ngram: int = 3,
    seed: int = 1,
    bucket_cap: int = MINHASH_BUCKET_CAP,
) -> DataFrame:
    """MinHashDeduplicateFilter (minhash_deduplicate_filter.py:9-89): char
    5-gram MinHash(num_perm=128) + LSH at threshold≈0.9; survivor = min-seq
    per near-dup cluster (see module docstring for the semantics contract).
    Buckets larger than ``bucket_cap`` are dropped from pairing (see
    _star_edges; audit via minhash_dropped_buckets).

    bands=16 × r=8 gives LSH threshold (1/b)^(1/r) ≈ 0.707 band-collision
    knee; the reference's 0.9 threshold maps to bands=8/r=16 — configurable.

    Plan shape: scan -> (tokens: ONE Arrow UDF hashing grams + signing from
    raw int32 tokens | text: HOF shingling -> xxhash64 (JVM) -> Arrow batch
    numpy signature) -> one eager checkpoint of the signature, the one job
    that runs the band UDF, whose row count is observed on that same job
    (``_checkpoint``) -> one of two rungs, chosen by that count:

    - **driver** (``n_docs × bands <= CC_LOCAL_EDGE_THRESHOLD``, the
      ~64 MB of longs the CC local rung already collects; ~250k docs at 16
      bands): one Arrow fetch of the ``packed_band_keys`` pairs from the
      checkpoint, ``cluster_min_losers`` on the driver, then the
      ``drop_sorted`` survivor filter — no band-key shuffle and no edge
      checkpoint;
    - **edges** (above the bound): ``_star_edges`` over the same
      checkpoint — (min, count) bucket roots agg -> join back for star
      edges -> keep_cluster_min's CC ladder -> survivor filter.

    Both rungs give identical survivors.  No B² bucket blow-up anywhere,
    no unbounded agg buffers.  The signature checkpoint is released before
    the call returns and no other checkpoint is left registered.
    """
    bands_expr = _bands_expr(
        key, num_perm, bands, shingle_n, use_tokens, token_ngram, seed
    )
    sig, n_docs = _checkpoint(_signature(df, seq_col, bands_expr))
    try:
        banded = packed_band_keys(sig, "_seq", "_bands", "_bkey")
        if n_docs * bands > CC_LOCAL_EDGE_THRESHOLD:
            return keep_cluster_min(df, _star_edges(banded, bucket_cap), seq_col)
        pairs = banded.toPandas()
    finally:
        _release_checkpoint(sig)
    return drop_sorted(df, seq_col, cluster_min_losers(
        pairs["_seq"].to_numpy(np.int64), pairs["_bkey"].to_numpy(np.int64), bucket_cap
    ))


def _signature(df: DataFrame, seq_col: str, bands_expr) -> DataFrame:
    """(``_seq``, ``_bands``): the one frame every MinHash path bands — one
    row per doc, null ``_bands`` for a doc too short to shingle."""
    return df.select(F.col(seq_col).alias("_seq"), bands_expr.alias("_bands"))


def packed_band_keys(
    df: DataFrame, seq_col: str, bands_col: str, key_col: str
) -> DataFrame:
    """(seq, array<long> band hashes) -> one (seq, key) row per band, where
    key = ``xxhash64(band_id, band_hash)`` packs the LSH bucket identity
    into ONE 64-bit column.  The single band-key format of the engine: the
    bucket key batch MinHash shuffles on (_star_edges) and the
    key of the exact near-dedup stream's band index
    (pipeline.run_near_dedup_stream_exact).

    posexplode_OUTER, then drop the null rows ourselves: a plain posexplode
    makes InferFiltersFromGenerate add ``size(bands) > 0`` BELOW the
    generate, and ExtractPythonUDFs then plans a band UDF twice — once for
    the inferred filter, once for the generate (verified in PLANS.md; the
    outer variant is exempt from that inference).  Cost: one null row per
    empty doc instead of a full second UDF pass.

    Packing (round-5, VERDICT r4 #1): an agg or join on the key then
    shuffles/hashes/compares a single long instead of an (int, long) pair —
    12.3% fewer physical shuffle bytes in batch MinHash
    (BENCH_minhash_pack_ab.json).  xxhash64 keeps the full 64-bit collision
    space (a truncation to 32 bits would birthday-collide at ~10^5
    docs/band and manufacture false candidate edges between unrelated
    docs); results are unchanged modulo 2^-64-scale key collisions."""
    return (
        df.select(
            seq_col, F.posexplode_outer(bands_col).alias("band_id", "band_hash")
        )
        .where(F.col("band_id").isNotNull())
        .select(seq_col, F.xxhash64("band_id", "band_hash").alias(key_col))
    )


def _star_edges(banded: DataFrame, bucket_cap: int) -> DataFrame:
    """Lazy star edges ``(a, b)`` from ``packed_band_keys`` rows ``(_seq,
    _bkey)``: each bucket of at most ``bucket_cap`` docs links its members
    to its min-seq root.

    Shape: a (min, count) aggregation per bucket — FIXED 16-byte buffers,
    so a degenerate hot bucket can never blow an executor no matter its
    size, with no salting machinery needed; an inner join of the banded
    rows against the kept roots (AQE turns it into a broadcast join when a
    side is small); star edges; distinct.  A dropped over-cap bucket's rows still cross
    that join's shuffle as one bounded-memory external-sort straggler —
    round-4 measurement falsified the earlier assumption that AQE skew-join
    splits it (OptimizeSkewedJoin only matches SMJ(Sort(Shuffle),
    Sort(Shuffle)); the roots side aggregates between its shuffle and the
    join — NOTES.md round-4), paid only when a degenerate bucket exists.
    AQE picks a broadcast only after both join sides' shuffles have run,
    so the banded rows cross one shuffle either way (on the 250-doc test
    input AQE broadcasts the banded side itself); distinct's map-side
    combine collapses the up-to-``bands``x duplicate (member, root) pairs.
    ``banded`` is read twice (roots agg and join), so callers hand in rows
    over a materialized signature.

    This replaced a collect_list-based salted two-level aggregation: the
    member-array build (collect_list + sort + slice + flatten + explode) was
    pure JVM allocation/GC churn — 17 s of the 26 s edge phase at 32 cores
    on the r400 bench corpus, and almost none of it parallelized (22.5 s@8c
    -> 20.5 s@32c).

    Buckets whose size exceeds ``bucket_cap`` are dropped from pairing
    (same contract as simhash/ngram): at 100 TB a hot LSH bucket means a
    degenerate band value, and its near-dup content is already collapsed by
    exact dedup upstream.  The drop is not silent — minhash_dropped_buckets
    reports (band_id, band_hash, size) for any cap audit."""
    roots = banded.groupBy("_bkey").agg(
        F.min("_seq").alias("_root"), F.count("*").alias("_n")
    )
    return (
        banded.join(roots.where(F.col("_n") <= bucket_cap), "_bkey")
        .where(F.col("_seq") != F.col("_root"))
        .select(F.col("_seq").alias("a"), F.col("_root").alias("b"))
        .distinct()
    )


def minhash_candidate_edges(
    df: DataFrame,
    shingle_hashes,
    seq_col: str,
    num_perm: int,
    bands: int,
    seed: int,
    bucket_cap: int = MINHASH_BUCKET_CAP,
    bands_expr=None,
) -> DataFrame:
    """MinHash-LSH star edges (a, b), returned MATERIALIZED (eager
    localCheckpoint), for a caller that times the edge set on its own and
    hands it to ``keep_cluster_min(..., edges_materialized=True)``.
    ``minhash_dedup`` builds the same edges inside its edge rung.  The
    signature is checkpointed first, so the band UDF runs once, then the
    ``_star_edges`` plan is checkpointed and the signature released.

    ``bands_expr`` (Column -> array<long> band hashes) overrides the
    shingle_hashes + band-UDF pair — the tokens fast path hashes grams
    inside the Arrow batch (minhash_bands_from_tokens_udf)."""
    if bands_expr is None:
        bands_expr = minhash_band_udf(num_perm, bands, seed)(shingle_hashes)
    sig, _ = _checkpoint(_signature(df, seq_col, bands_expr))
    try:
        banded = packed_band_keys(sig, "_seq", "_bands", "_bkey")
        return _star_edges(banded, bucket_cap).localCheckpoint(eager=True)
    finally:
        _release_checkpoint(sig)


def minhash_dropped_buckets(
    df: DataFrame,
    key: str = "text",
    seq_col: str = "doc_seq",
    num_perm: int = 128,
    bands: int = 16,
    shingle_n: int = 5,
    seed: int = 1,
    bucket_cap: int = MINHASH_BUCKET_CAP,
    use_tokens: bool = False,
    token_ngram: int = 3,
) -> DataFrame:
    """Audit companion to minhash_dedup's bucket_cap ("no silent caps"):
    returns (band_id, band_hash, size) for every bucket the cap would drop.
    Runs the same signature chain (``use_tokens`` mirrors minhash_dedup's
    tokens fast path); intended for pipeline health checks, not the hot
    path."""
    sig = _signature(
        df, seq_col,
        _bands_expr(key, num_perm, bands, shingle_n, use_tokens, token_ngram, seed),
    )
    return (
        # outer + null-drop: same double-UDF-eval avoidance as
        # packed_band_keys
        sig.select(F.posexplode_outer("_bands").alias("band_id", "band_hash"))
        .where(F.col("band_id").isNotNull())
        .groupBy("band_id", "band_hash")
        .agg(F.count("*").alias("size"))
        .where(F.col("size") > bucket_cap)
    )


@register("MinHashDeduplicateFilter")
def minhash_dedup_stage(input_key: str = "text", seq_col: str = "doc_seq", **kw) -> Stage:
    return Stage(
        "MinHashDeduplicateFilter",
        lambda df: minhash_dedup(df, input_key, seq_col, **kw),
        (input_key, seq_col),
        (),
        "filter",
    )


# ---------------------------------------------------------------------------
# SimHash near-dedup
# ---------------------------------------------------------------------------


def simhash_udf():
    """arrow_udf: array<long> word hashes -> 64-bit simhash fingerprint, 0
    for a row with no word.  Vectorized per Arrow batch: bit-unpack each
    hash, ±1 sum, sign."""
    shifts = np.arange(64, dtype=np.uint64)

    @arrow_udf(T.LongType())
    def udf(hashes: pa.Array) -> pa.Array:
        # same cache-chunked whole-batch shape as the MinHash kernel:
        # bit-unpack a (64 x chunk) slab while it is cache-resident, per-row
        # popcounts via add.reduceat
        flat, lens = ragged(hashes)
        flat = flat.astype(np.uint64)
        keep = lens > 0
        lens_ne = lens[keep]
        fps = np.zeros(len(lens_ne), dtype=np.uint64)
        for rows, vals, idx in _row_chunks(lens_ne, 4096):
            bits = ((flat[None, vals] >> shifts[:, None]) & np.uint64(1)).astype(np.int64)
            ones = np.add.reduceat(bits, idx, axis=1)  # (64, rows)
            fp_bits = (2 * ones - lens_ne[None, rows] > 0).astype(np.uint64)
            fps[rows] = (fp_bits << shifts[:, None]).sum(axis=0, dtype=np.uint64)
        out = np.zeros(len(lens), dtype=np.int64)
        out[keep] = fps.astype(np.int64)
        return pa.array(out)

    return udf


def simhash_dedup(
    df: DataFrame,
    key: str = "text",
    seq_col: str = "doc_seq",
    threshold: float = 0.9,
    n_chunks: int = 8,
    bucket_cap: int = 1000,
    use_tokens: bool = False,
) -> DataFrame:
    """SimHashDeduplicateFilter (simhash_deduplicate_filter.py:14-85):
    64-bit simhash, similarity 1 - hamming/64 >= threshold ⇒ duplicate.
    The reference's O(n²) scan becomes: pigeonhole-block on 8×8-bit chunks
    (hamming <= 6 guarantees ≥1 identical chunk), self-join per (chunk, value)
    bucket, exact Hamming verify via bit_count(xor), CC, min-seq survivor.
    Buckets above ``bucket_cap`` are dropped from pairing (logged upstream) to
    bound the quadratic verify — at 100 TB a hot bucket means a degenerate
    fingerprint, which exact-dedup already collapsed."""
    max_dist = int(round((1 - threshold) * 64))
    src = F.col("tokens") if use_tokens else F.filter(
        F.split(F.lower(F.col(key)), r"\s+"), lambda w: w != ""
    )
    word_hashes = F.transform(src, lambda w: F.xxhash64(w.cast("string")))
    fp_df = df.select(
        F.col(seq_col).alias("_seq"), simhash_udf()(word_hashes).alias("_fp")
    )
    chunk_bits = 64 // n_chunks
    chunks = fp_df.select(
        "_seq",
        "_fp",
        F.posexplode(
            F.array(*[
                F.shiftrightunsigned(F.col("_fp"), i * chunk_bits)
                .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                for i in range(n_chunks)
            ])
        ).alias("chunk_id", "chunk_val"),
    )
    # cap degenerate buckets
    sizes = chunks.groupBy("chunk_id", "chunk_val").agg(F.count("*").alias("_n"))
    chunks = chunks.join(
        sizes.where(F.col("_n") <= bucket_cap), ["chunk_id", "chunk_val"]
    )
    a = chunks.select(
        F.col("chunk_id"), F.col("chunk_val"),
        F.col("_seq").alias("a"), F.col("_fp").alias("fp_a"),
    )
    b = chunks.select(
        F.col("chunk_id"), F.col("chunk_val"),
        F.col("_seq").alias("b"), F.col("_fp").alias("fp_b"),
    )
    pairs = (
        a.join(b, ["chunk_id", "chunk_val"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b", "fp_a", "fp_b")
        .distinct()
    )
    edges = pairs.where(
        F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))) <= max_dist
    ).select("a", "b")
    return keep_cluster_min(df, edges, seq_col)


@register("SimHashDeduplicateFilter")
def simhash_dedup_stage(input_key: str = "text", seq_col: str = "doc_seq", **kw) -> Stage:
    return Stage(
        "SimHashDeduplicateFilter",
        lambda df: simhash_dedup(df, input_key, seq_col, **kw),
        (input_key, seq_col),
        (),
        "filter",
    )


# ---------------------------------------------------------------------------
# n-gram segment-hash near-dedup
# ---------------------------------------------------------------------------


def ngramhash_dedup(
    df: DataFrame,
    key: str = "text",
    seq_col: str = "doc_seq",
    n_gram: int = 3,
    diff_size: int = 1,
    bucket_cap: int = 1000,
) -> DataFrame:
    """NgramHashDeduplicateFilter (ngramhash_deduplicate_filter.py:10-85):
    split text into ``n_gram`` equal segments, hash each; two docs are dups if
    they share >= ``diff_size`` segment hashes.  Distributed: explode
    (doc, seg_hash) -> self-join on seg_hash -> overlap count >= diff_size ->
    CC -> min-seq survivor."""
    s = F.col(key)
    seg_len = (F.length(s) / n_gram).cast("int")
    segs = F.when(
        (F.length(s) >= n_gram) & (seg_len > 0),
        F.transform(
            F.sequence(F.lit(0), F.lit(n_gram - 1)),
            lambda i: F.xxhash64(F.substring(s, F.lit(1) + i * seg_len, seg_len)),
        ),
    ).otherwise(F.array(F.xxhash64(s)))
    seg_df = (
        df.select(F.col(seq_col).alias("_seq"), F.explode(segs).alias("seg_hash"))
        .distinct()
    )
    sizes = seg_df.groupBy("seg_hash").agg(F.count("*").alias("_n"))
    seg_df = seg_df.join(sizes.where(F.col("_n") <= bucket_cap), "seg_hash")
    a = seg_df.select(F.col("seg_hash"), F.col("_seq").alias("a"))
    b = seg_df.select(F.col("seg_hash"), F.col("_seq").alias("b"))
    overlap = (
        a.join(b, "seg_hash")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("shared"))
    )
    edges = overlap.where(F.col("shared") >= diff_size).select("a", "b")
    return keep_cluster_min(df, edges, seq_col)


@register("NgramHashDeduplicateFilter")
def ngramhash_dedup_stage(input_key: str = "text", seq_col: str = "doc_seq", **kw) -> Stage:
    return Stage(
        "NgramHashDeduplicateFilter",
        lambda df: ngramhash_dedup(df, input_key, seq_col, **kw),
        (input_key, seq_col),
        (),
        "filter",
    )
