"""The Arrow <-> numpy boundary (dataflow_spark/functions/arrow.py) and the
kernels that read array columns through it."""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from dataflow_spark.functions.arrow import lists, matrix, ragged
from dataflow_spark.operators.dedup import (
    _row_chunks,
    minhash_band_udf,
    minhash_bands_from_tokens_udf,
    simhash_udf,
)
from dataflow_spark.operators.evaluators import perplexity_proxy_udf, rolling_fingerprint_udf
from dataflow_spark.operators.similarity import lsh_bucket_udf


def _backed_null_rows():
    """[[0, 1], None, [], [4, 5, 6], [7, 8]] where the null row still backs
    the values [2, 3] — what ``.values``/``.offsets`` would wrongly read."""
    return pa.ListArray.from_arrays(
        pa.array([0, 2, 4, 4, 7, 9], pa.int32()),
        pa.array(range(9), pa.int64()),
        mask=pa.array([False, True, False, False, False]),
    )


def test_ragged_reads_a_sliced_array_with_null_and_empty_rows():
    arr = _backed_null_rows().slice(1)
    assert arr.to_pylist() == [None, [], [4, 5, 6], [7, 8]]
    flat, lens = ragged(arr)
    assert flat.tolist() == [4, 5, 6, 7, 8]
    assert lens.dtype == np.int64 and lens.tolist() == [0, 0, 3, 2]
    flat, lens = ragged(arr.slice(2, 1))
    assert flat.tolist() == [4, 5, 6] and lens.tolist() == [3]


def test_matrix_reads_a_sliced_array_and_refuses_unequal_rows():
    arr = pa.array([[9.0], [1.0, 2.0], [3.0, 4.0], [5.0]], pa.list_(pa.float32()))
    X = matrix(arr.slice(1, 2))
    assert X.dtype == np.float64 and X.tolist() == [[1.0, 2.0], [3.0, 4.0]]
    with pytest.raises(ValueError, match="unequal width"):
        matrix(arr.slice(1))
    with pytest.raises(ValueError, match="unequal width"):
        matrix(pa.array([[1.0, 2.0], None, [3.0, 4.0]], pa.list_(pa.float64())))
    assert matrix(pa.array([], pa.list_(pa.float64()))).shape == (0, 0)


def test_lists_builds_null_and_empty_rows_from_lengths():
    out = lists(np.arange(5, dtype=np.int64), np.array([2, 0, 3, 0]), np.array([1, 1, 1, 0], bool))
    assert out.type == pa.list_(pa.int64())
    assert out.to_pylist() == [[0, 1], [], [2, 3, 4], None]
    flat, lens = ragged(out.slice(1))
    assert flat.tolist() == [2, 3, 4] and lens.tolist() == [0, 3, 0]
    assert lists(np.arange(2, dtype=np.int32), [1, 1]).to_pylist() == [[0], [1]]


def test_row_chunks_cover_every_row_within_the_budget():
    """Runs of whole rows, each spanning at most the budget unless one row
    alone is longer; the reduceat indices are the rows' starts in the run."""
    lens = np.array([3, 600, 1, 1, 2000, 5, 5])
    got = [(r.start, r.stop, v.start, v.stop, i.tolist()) for r, v, i in _row_chunks(lens, 512)]
    assert got == [
        (0, 1, 0, 3, [0]),
        (1, 2, 3, 603, [0]),
        (2, 4, 603, 605, [0, 1]),
        (4, 5, 605, 2605, [0]),
        (5, 7, 2605, 2615, [0, 5]),
    ]
    assert list(_row_chunks(np.zeros(0, np.int64), 512)) == []


# Outputs pinned from the pandas-UDF kernels these replaced, over one batch
# of (null, []) rows and one of (2 tokens, 20 tokens) rows: MinHash is null
# without a shingle or gram, SimHash 0, the rolling fingerprint [] and
# perplexity null (never NaN).
_LONG = [(i * 40503) % 50257 for i in range(1, 21)]
_LPS = {1: -1.0, 7: -2.0, 40503: -3.0, 1487: -4.0}
_KERNELS = {
    "minhash_band": (
        lambda t: minhash_band_udf(32, 8, 1)(t.cast("array<long>")),
        [
            4406594649426225775, 8028867121352169246, -6272561965996709911,
            -5588220488604958321, -2689967025373221396, -632986305507735346,
            -8308017753904604374, -6963894820949537072,
        ],
        [
            3765284880870590957, 937912317622201025, 8035690319340848407,
            -123694838737798602, 6667892425952359548, 6080067159179218782,
            960658229196560310, 1721901466013492941,
        ],
        None,
    ),
    "minhash_tokens": (
        lambda t: minhash_bands_from_tokens_udf(32, 8, 3, 1)(t),
        None,
        [
            -7367718016200016031, -3260298084476401755, 4073740845644961008,
            -7291882577274609772, -2361784164670669741, 2331630007016822906,
            -4248779681051991541, 8040937768394006991,
        ],
        None,
    ),
    "simhash": (lambda t: simhash_udf()(t.cast("array<long>")), 1, 4484, 0),
    "rolling_fingerprint": (
        lambda t: rolling_fingerprint_udf(window=16)(t),
        [],
        [
            2371234488826779233, -8756789840415056718, -4090118063931309798,
            -1088364266271430027, -501490511860479370,
        ],
        [],
    ),
    "perplexity": (
        lambda t: perplexity_proxy_udf(_LPS)(t),
        pytest.approx(609.3864064482877, rel=1e-12),
        pytest.approx(24159.056707719414, rel=1e-12),
        None,
    ),
}


@pytest.mark.parametrize("kernel", sorted(_KERNELS))
def test_ragged_kernels_pin_null_empty_and_short_rows(spark, kernel):
    expr, short, long_, empty = _KERNELS[kernel]
    rows = [(0, None), (1, []), (2, [7, 9]), (3, _LONG)]
    rdd = spark.sparkContext.parallelize(rows, 2)  # an all-empty batch, then the rest
    df = spark.createDataFrame(rdd, "id long, tokens array<int>")
    got = {r.id: r.v for r in df.select("id", expr(F.col("tokens")).alias("v")).collect()}
    assert got == {0: empty, 1: empty, 2: short, 3: long_}


def test_embedding_of_the_wrong_width_is_refused(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<float>"
    ).coalesce(1)
    bucket = lsh_bucket_udf([[1.0, 1.0, 1.0]])(F.col("embedding"))
    with pytest.raises(Exception, match="unequal width"):
        df.select(bucket).collect()
