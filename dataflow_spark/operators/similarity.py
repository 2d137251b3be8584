"""Similarity search over embedding columns (array<float>).

Reference analogue: SemDeduplicateFilter's embedding+cosine near-dup
(sem_deduplicate_filter.py:47-59 builds a full cosine matrix) and the
EmbeddingGenerator / RAG retrieval shape (core_text/generate).  At 100 TB a
full matrix is impossible — we ship:

* brute-force cosine top-k (exact baseline): broadcast the (small) query set,
  score JVM-side with zip_with/aggregate HOFs, rank with a window — one scan;
* random-hyperplane LSH buckets (scale path): 16-bit sign sketch per vector,
  candidates only within matching buckets (optionally multi-probe), exact
  cosine re-rank inside buckets;
* embedding near-dup: LSH bucket join + exact cosine >= 1-eps -> cluster ->
  min-id survivor (SemDeduplicateFilter semantics without the O(n²) matrix).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf

from dataflow_spark.core.stage import Stage, register
from dataflow_spark.functions.arrow import lists, matrix
from dataflow_spark.operators.dedup import keep_cluster_min


def dot(a: Column, b: Column) -> Column:
    """JVM-side dot product: aggregate(zip_with(a, b, *), sum).  Inputs are
    cast to double so float32 embeddings accumulate in f64 (and match any
    f64 oracle bit-for-bit)."""
    return F.aggregate(
        F.zip_with(a.cast("array<double>"), b.cast("array<double>"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a.cast("array<double>"), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query: broadcast the query set (small side),
    score every (corpus, query) pair JVM-side, window-rank within query.
    Plan: one corpus scan, broadcast-nested-loop join, no corpus shuffle
    except the final per-query top-k (tiny)."""
    q = queries.select(
        F.col(query_id_col).alias("_qid"), F.col(vec_col).alias("_qvec")
    )
    scored = corpus.join(F.broadcast(q)).select(
        F.col("_qid").alias(query_id_col),
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col("_qvec")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine_sim"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _hyperplanes(dim: int, n_bits: int = 16, seed: int = 7) -> list[list[float]]:
    gen = np.random.RandomState(seed)
    return gen.normal(size=(n_bits, dim)).astype(float).tolist()


def lsh_bucket_expr(vec_col: str, planes: list[list[float]]) -> Column:
    """Sign sketch as an int bucket id: bit i = (v · plane_i) >= 0 — pure
    Catalyst (aggregate HOF per plane), no UDF."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        d = F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.array(*[F.lit(x) for x in plane]),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(d >= 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
    return bucket


def lsh_bucket_udf(planes: list[list[float]]):
    """arrow_udf: embedding -> LSH sign bucket (same bits as
    ``lsh_bucket_expr``) as ONE numpy matmul per Arrow batch.  Preferred
    over the Catalyst HOF expression when n_bits × dim is large: the HOF
    form builds an (n_bits × dim)-literal expression tree whose per-run
    analysis/codegen cost dominates small scans and whose lambda evaluation
    is interpreted per element, while this is a single vectorized matmul
    (diagnosed round 5: the 8×64 HOF tree cost ~1.2 s/run on a 2k-row scan,
    nearly all driver-side planning)."""
    P = np.asarray(planes, dtype=np.float64)  # (n_bits, dim)
    weights = np.int64(1) << np.arange(P.shape[0], dtype=np.int64)

    @arrow_udf(T.LongType())
    def udf(vecs: pa.Array) -> pa.Array:
        return pa.array(((matrix(vecs) @ P.T >= 0) * weights).sum(axis=1))

    return udf


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_bits: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 7,
) -> DataFrame:
    """ANN top-k: equi-join corpus and queries on the LSH sign bucket, exact
    cosine re-rank inside buckets.  At 10^12 vectors the bucket join replaces
    the broadcast-nested-loop full scan with a hash-partitioned equi-join;
    recall is tunable via n_bits (fewer bits = bigger buckets = higher
    recall).  Returns (query_id, vec_id, cosine_sim, rank)."""
    planes = _hyperplanes(dim, n_bits, seed)
    bucket = lsh_bucket_udf(planes)
    cb = corpus.withColumn("_bucket", bucket(F.col(vec_col)))
    qb = queries.select(
        F.col(query_id_col).alias("_qid"),
        F.col(vec_col).alias("_qvec"),
    ).withColumn("_bucket", bucket(F.col("_qvec")))
    scored = cb.join(F.broadcast(qb), "_bucket").select(
        F.col("_qid").alias(query_id_col),
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col("_qvec")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def lsh_probe_buckets_udf(planes: list[list[float]], n_probe: int = 4):
    """arrow_udf: embedding -> array of multi-probe LSH buckets: the exact
    sign bucket plus single-bit flips of the ``n_probe`` lowest-|margin|
    planes (Lv et al., multi-probe LSH).  A vector whose true near-neighbor
    sits just across a hyperplane has a tiny margin at exactly that plane, so
    probing those flips recovers pairs the exact bucket split apart — recall
    goes up ~(1+n_probe)x in candidate volume, never candidate-pair^2.
    One numpy matmul per Arrow batch."""
    P = np.asarray(planes, dtype=np.float64)  # (n_bits, dim)
    weights = np.int64(1) << np.arange(P.shape[0], dtype=np.int64)
    m = min(n_probe, P.shape[0])

    @arrow_udf(T.ArrayType(T.LongType()))
    def udf(vecs: pa.Array) -> pa.Array:
        D = matrix(vecs) @ P.T  # (n, n_bits) signed margins
        base = ((D >= 0) * weights).sum(axis=1)
        order = np.argsort(np.abs(D), axis=1)[:, :m]  # lowest-margin planes
        out = np.column_stack([base, base[:, None] ^ (np.int64(1) << order)])
        return lists(out.ravel(), np.full(len(out), 1 + m))

    return udf


def embedding_near_dup(
    df: DataFrame,
    eps: float = 0.05,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_bits: int = 12,
    n_probe: int = 4,
    bucket_cap: int = 2000,
    seed: int = 7,
) -> DataFrame:
    """SemDeduplicateFilter (sem_deduplicate_filter.py:62-155) at scale:
    multi-probe LSH sign-bucket candidate pairs -> exact cosine >= 1-eps ->
    connected components -> min-id survivor.  Verified against a from-scratch
    numpy all-pairs + union-find oracle in tests/test_similarity_oracle.py."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    planes = _hyperplanes(dim, n_bits, seed)
    probe_udf = lsh_probe_buckets_udf(planes, n_probe)
    b = df.select(
        F.col(id_col).alias("_seq"), F.col(vec_col).alias("_v")
    ).select(
        # explode_outer + null-drop: plain explode makes
        # InferFiltersFromGenerate add size(udf(..))>0 below the generate and
        # the probe UDF gets planned twice (see dedup.py:packed_band_keys)
        "_seq", "_v", F.explode_outer(probe_udf(F.col("_v"))).alias("_bucket")
    ).where(F.col("_bucket").isNotNull())
    sizes = b.groupBy("_bucket").agg(F.count("*").alias("_n"))
    b = b.join(sizes.where(F.col("_n") <= bucket_cap), "_bucket")
    left = b.select("_bucket", F.col("_seq").alias("a"), F.col("_v").alias("va"))
    right = b.select("_bucket", F.col("_seq").alias("b"), F.col("_v").alias("vb"))
    pairs = (
        left.join(right, "_bucket")
        .where(F.col("a") < F.col("b"))
        .select("a", "b", F.col("va"), F.col("vb"))
        .dropDuplicates(["a", "b"])
        .select("a", "b", cosine(F.col("va"), F.col("vb")).alias("sim"))
    )
    edges = pairs.where(F.col("sim") >= 1.0 - eps).select("a", "b")
    return keep_cluster_min(df, edges, seq_col=id_col)


@register("SemDeduplicateFilter")
def sem_dedup_stage(id_col: str = "vec_id", vec_col: str = "embedding", eps: float = 0.05, **kw) -> Stage:
    return Stage(
        "SemDeduplicateFilter",
        lambda df: embedding_near_dup(df, eps, id_col, vec_col, **kw),
        (id_col, vec_col),
        (),
        "filter",
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the scale path beyond sign-LSH
# ---------------------------------------------------------------------------

def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    lloyd_iters: int = 2,
    sample_fraction: float | None = None,
    seed: int = 11,
) -> list[list[float]]:
    """Deterministic IVF coarse quantizer: seed centroids are a hash-ordered
    sample of corpus vectors, refined by ``lloyd_iters`` distributed k-means
    steps (assign via the same Arrow-UDF matmul as search, re-center via
    groupBy mean over exploded dimensions — both single-shuffle jobs).  At
    10^12 vectors train on a sample (``sample_fraction``); the assignment
    scan is the only full pass."""
    src = corpus
    if sample_fraction:
        src = corpus.sample(sample_fraction, seed=seed)
    seeds = (
        src.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.pmod(F.xxhash64(F.col(id_col).cast("string")) + seed, F.lit(1 << 31)))
        .limit(n_centroids)
        .collect()
    )
    cents = np.array([r[1] for r in seeds], dtype=np.float64)
    for _ in range(lloyd_iters):
        assigned = src.withColumn(
            "_c", ivf_assign_udf(cents.tolist())(F.col(vec_col))
        )
        sums = (
            assigned.select("_c", F.posexplode(F.col(vec_col).cast("array<double>")).alias("_d", "_x"))
            .groupBy("_c", "_d")
            .agg(F.sum("_x").alias("_s"), F.count("*").alias("_n"))
            .collect()
        )
        new = cents.copy()
        by_c: dict[int, dict[int, tuple[float, int]]] = {}
        for r in sums:
            by_c.setdefault(r["_c"], {})[r["_d"]] = (r["_s"], r["_n"])
        for c, dims in by_c.items():
            for d, (s, n) in dims.items():
                new[c, d] = s / n
        cents = new
    return cents.tolist()


def ivf_assign_udf(centroids: list[list[float]], nprobe: int = 1):
    """arrow_udf: embedding -> nearest-centroid id (nprobe=1) or the
    ``nprobe`` nearest centroid ids.  One numpy matmul per Arrow batch."""
    C = np.asarray(centroids, dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    def sims(vecs: pa.Array) -> np.ndarray:
        X = matrix(vecs)
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        return Xn @ Cn.T

    if nprobe == 1:

        @arrow_udf(T.IntegerType())
        def udf(vecs: pa.Array) -> pa.Array:
            return pa.array(np.argmax(sims(vecs), axis=1).astype(np.int32))

        return udf

    @arrow_udf(T.ArrayType(T.IntegerType()))
    def udf_multi(vecs: pa.Array) -> pa.Array:
        idx = np.argsort(-sims(vecs), axis=1)[:, :nprobe].astype(np.int32)
        return lists(idx.ravel(), np.full(len(idx), idx.shape[1]))

    return udf_multi


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF search: corpus rows carry their coarse cell; queries probe their
    ``nprobe`` nearest cells; exact cosine re-rank inside probed cells.
    The corpus-side assignment is computed once (in production: stored as a
    partition column of the Iceberg table, so a probe prunes partitions)."""
    cb = corpus.withColumn("_cell", ivf_assign_udf(centroids)(F.col(vec_col)))
    qb = (
        queries.select(F.col(query_id_col).alias("_qid"), F.col(vec_col).alias("_qvec"))
        .withColumn("_cells", ivf_assign_udf(centroids, nprobe=nprobe)(F.col("_qvec")))
        .select("_qid", "_qvec", F.explode("_cells").alias("_cell"))
    )
    scored = cb.join(F.broadcast(qb), "_cell").select(
        F.col("_qid").alias(query_id_col),
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col("_qvec")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# k-center greedy coreset (KCenterGreedyFilter)
# ---------------------------------------------------------------------------


def _dist_to_center_udf(center: list[float]):
    c = np.asarray(center, dtype=np.float64)

    @arrow_udf(T.DoubleType())
    def udf(vecs: pa.Array) -> pa.Array:
        return pa.array(np.linalg.norm(matrix(vecs) - c, axis=1))

    return udf


def kcenter_greedy(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    start_id=None,
) -> list:
    """KCenterGreedyFilter (core_text/filter/kcentergreedy_filter.py:14-40):
    greedy k-center selection.  The reference runs sklearn on an in-memory
    matrix; here each round is one distributed pass: update min-distance to
    the newest center (vectorized UDF), ``max_by`` to pick the farthest row.
    k rounds => k scans — fine for coreset-scale k (hundreds); the selected
    ids then drive a semi-join filter.  Returns the selected id list."""
    first = (
        df.select(id_col).orderBy(F.asc(id_col)).first()[0]
        if start_id is None
        else start_id
    )
    chosen = [first]
    center = df.where(F.col(id_col) == first).select(vec_col).first()[0]
    cur = df.select(
        id_col, vec_col, _dist_to_center_udf(list(center))(F.col(vec_col)).alias("_mind")
    ).localCheckpoint(eager=True)
    for _ in range(k - 1):
        far = cur.select(F.max_by(F.struct(id_col, vec_col), "_mind").alias("s")).first()["s"]
        chosen.append(far[0])
        cur = cur.select(
            id_col,
            vec_col,
            F.least(
                F.col("_mind"), _dist_to_center_udf(list(far[1]))(F.col(vec_col))
            ).alias("_mind"),
        ).localCheckpoint(eager=True)
    return chosen


KCENTER_MAX_K = 1000


def kcenter_filter(
    df: DataFrame,
    sampling_ratio: float = 0.1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_k: int = KCENTER_MAX_K,
) -> DataFrame:
    """Greedy k-center coreset selection.  COST MODEL: each selected row is
    one driver round-trip (a max_by pass + localCheckpoint over the corpus),
    so wall-clock is k full scans — the algorithm is a CORESET selector
    (k in the hundreds), not a percentage sampler.  ``sampling_ratio`` keeps
    the reference's API (kcentergreedy_filter.py:14-40, sklearn in-memory),
    but k = ratio*n is hard-capped at ``max_k``: at 10^9 rows a 10% ratio
    would mean 10^8 sequential scans — raise max_k explicitly only if you
    accept k scans of the corpus."""
    n = df.count()
    k = max(1, int(n * sampling_ratio))
    if k > max_k:
        raise ValueError(
            f"kcenter_filter: k={k} (= {sampling_ratio} * {n} rows) exceeds "
            f"max_k={max_k}; greedy k-center costs one full corpus scan PER "
            "selected row. Pass a smaller sampling_ratio or raise max_k "
            "explicitly if k sequential scans is the intent."
        )
    chosen = kcenter_greedy(df, k, id_col, vec_col)
    sel = df.sparkSession.createDataFrame([(c,) for c in chosen], [id_col])
    return df.join(F.broadcast(sel), id_col, "left_semi")


@register("KCenterGreedyFilter")
def kcenter_stage(sampling_ratio: float = 0.1, id_col: str = "vec_id", vec_col: str = "embedding") -> Stage:
    return Stage(
        "KCenterGreedyFilter",
        lambda df: kcenter_filter(df, sampling_ratio, id_col, vec_col),
        (id_col, vec_col),
        (),
        "filter",
    )
