"""Property-based tests (hypothesis): each property generates a batch of rows
host-side, runs ONE Spark job over the whole batch, and compares against an
independent Python oracle row-for-row."""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataflow_spark.functions.text import (
    _SHINGLE_BASE,
    _SHINGLE_MOD,
    ngram_unique_ratio,
    token_shingle_hashes,
)
from dataflow_spark.operators import dedup
from dataflow_spark.operators.refiners import remove_extra_spaces

TOKENS = st.lists(st.integers(min_value=0, max_value=50256), min_size=0, max_size=20)


@settings(max_examples=5, deadline=None)
@given(st.lists(TOKENS, min_size=1, max_size=30))
def test_exact_dedup_matches_first_seen(spark, rows):
    data = [(i, toks) for i, toks in enumerate(rows)]
    df = spark.createDataFrame(
        data,
        T.StructType(
            [
                T.StructField("doc_seq", T.LongType()),
                T.StructField("tokens", T.ArrayType(T.IntegerType())),
            ]
        ),
    )
    got = sorted(
        r.doc_seq
        for r in dedup.exact_dedup(
            df.withColumn("_th", dedup.token_hash()), hash_col="_th"
        ).collect()
    )
    seen, expect = set(), []
    for i, toks in data:
        k = tuple(toks)
        if k not in seen:
            seen.add(k)
            expect.append(i)
    assert got == sorted(expect)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.text(alphabet=" \t\nabcXYZ.,!", min_size=0, max_size=60),
        min_size=1,
        max_size=40,
    )
)
def test_remove_extra_spaces_matches_python(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["id", "text"])
    got = {
        r.id: r.out
        for r in df.select("id", remove_extra_spaces("text").alias("out")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == " ".join(t.split()), repr(t)


@settings(max_examples=5, deadline=None)
@given(st.lists(TOKENS, min_size=1, max_size=30))
def test_token_shingle_hash_matches_python(spark, rows):
    n = 3
    df = spark.createDataFrame(
        [(i, toks) for i, toks in enumerate(rows)],
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("tokens", T.ArrayType(T.IntegerType())),
            ]
        ),
    )
    got = {
        r.id: r.sh
        for r in df.select(
            "id", token_shingle_hashes(F.col("tokens"), n).alias("sh")
        ).collect()
    }
    for i, toks in enumerate(rows):
        if len(toks) < n:
            expect = []
        else:
            expect = []
            for s in range(len(toks) - n + 1):
                h = 0
                for t in toks[s : s + n]:
                    h = (h * _SHINGLE_BASE + t) % _SHINGLE_MOD
                expect.append(h)
        assert got[i] == expect, (i, toks)


@settings(max_examples=5, deadline=None)
@given(st.lists(TOKENS, min_size=1, max_size=25))
def test_ngram_unique_ratio_matches_python(spark, rows):
    n = 2
    df = spark.createDataFrame(
        [(i, toks) for i, toks in enumerate(rows)],
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("tokens", T.ArrayType(T.IntegerType())),
            ]
        ),
    )
    got = {
        r.id: r.s
        for r in df.select(
            "id", ngram_unique_ratio(F.col("tokens"), n).alias("s")
        ).collect()
    }
    for i, toks in enumerate(rows):
        grams = [tuple(toks[j : j + n]) for j in range(len(toks) - n + 1)]
        if not grams:
            assert got[i] is None
        else:
            assert got[i] == pytest.approx(len(set(grams)) / len(grams))
