"""Independent-oracle tests for the pandas-UDF evaluators (MTLD/HD-D,
unigram-perplexity proxy, BLEU, rolling fingerprint)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from dataflow_spark.operators.evaluators import (
    bleu_udf,
    fit_unigram_lm,
    mtld_hdd_udf,
    perplexity_proxy_udf,
    rolling_fingerprint_udf,
)


# --- independent MTLD/HD-D oracle (separate implementation) -----------------


def mtld_oracle(words, thr=0.72):
    def one_dir(ws):
        factors = 0.0
        seen, cnt = set(), 0
        for w in ws:
            cnt += 1
            seen.add(w)
            if len(seen) / cnt <= thr:
                factors += 1
                seen, cnt = set(), 0
        if cnt:
            ttr = len(seen) / cnt
            factors += 1.0 if ttr == 1.0 else (1 - ttr) / (1 - thr)
        return len(ws) / factors if factors else float("nan")

    f, b = one_dir(words), one_dir(list(reversed(words)))
    vals = [v for v in (f, b) if not math.isnan(v)]
    return sum(vals) / len(vals) if vals else float("nan")


def hdd_oracle(words, draws=42):
    n = len(words)
    if n < draws:
        return float("nan")
    from collections import Counter

    total = 0.0
    for freq in Counter(words).values():
        p_absent = (
            math.comb(n - freq, draws) / math.comb(n, draws)
            if n - freq >= draws
            else 0.0
        )
        total += (1 - p_absent) / draws
    return total


TEXTS = [
    "the cat sat on the mat and the dog sat on the log " * 5,
    " ".join(f"w{i % 7}" for i in range(100)),
    " ".join(f"u{i}" for i in range(60)),  # all unique
]


def test_mtld_hdd_parity(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(TEXTS)], ["id", "text"])
    udf = mtld_hdd_udf()
    got = {
        r.id: (r.s.mtld, r.s.hdd)
        for r in df.select("id", udf(F.col("text")).alias("s")).collect()
    }
    for i, t in enumerate(TEXTS):
        ws = t.split()
        em, eh = mtld_oracle(ws), hdd_oracle(ws)
        gm, gh = got[i]
        for e, g in ((em, gm), (eh, gh)):
            if math.isnan(e):
                assert g is None or math.isnan(g)
            else:
                assert g == pytest.approx(e, rel=1e-9)


def test_perplexity_unigram_exact(spark):
    rows = [(1, [0, 0, 1]), (2, [0, 1]), (3, [])]
    df = spark.createDataFrame(rows, ["id", "tokens"])
    # token 0 appears 3x, token 1 2x; total 5 tokens + vocab 10 = 15;
    # add-one smoothing => lp = ln((n+1)/15)
    lp = fit_unigram_lm(df, vocab=10)
    assert lp[0] == pytest.approx(math.log(4 / 15))
    assert lp[1] == pytest.approx(math.log(3 / 15))
    got = {
        r.id: r.ppl
        for r in df.select(
            "id", perplexity_proxy_udf(lp, vocab=10)(F.col("tokens")).alias("ppl")
        ).collect()
    }
    assert got[2] == pytest.approx(math.exp(-(lp[0] + lp[1]) / 2))
    assert got[3] is None or math.isnan(got[3])


def test_perplexity_out_of_range_token_scores_as_unseen(spark):
    """A token id >= vocab or < 0 scores like an unseen in-range id (7)
    in the same position: it neither fails the task nor reads the LUT from
    its end (id vocab - 1 has its own log-prob here)."""
    vocab = 50257
    lp = {3: math.log(0.25), vocab - 1: math.log(0.5)}
    udf = perplexity_proxy_udf(lp)
    pairs = [([3, 60000], [3, 7]), ([-1, 3], [7, 3])]
    for bad, unseen in pairs:
        got = [
            spark.createDataFrame([(t,)], "tokens array<bigint>")
            .select(udf(F.col("tokens")).alias("ppl"))
            .first()
            .ppl
            for t in (bad, unseen)
        ]
        assert got[0] == pytest.approx(got[1], rel=1e-12), (bad, got)
    assert got[1] == pytest.approx(math.exp(-(math.log(1 / vocab) + lp[3]) / 2))


def test_bleu_bounds(spark):
    rows = [
        (1, "a b c d e", "a b c d e"),
        (2, "a b c d e", "v w x y z"),
        (3, "a b c d e f", "a b c x y z"),
    ]
    df = spark.createDataFrame(rows, ["id", "hyp", "ref"])
    got = {
        r.id: r.b
        for r in df.select("id", bleu_udf()(F.col("hyp"), F.col("ref")).alias("b")).collect()
    }
    assert got[1] == pytest.approx(1.0)
    assert got[2] == 0.0
    assert 0.0 < got[3] < 1.0


def test_rolling_fingerprint_oracle(spark):
    toks = list(range(1, 30))
    df = spark.createDataFrame([(1, toks)], ["id", "tokens"])
    got = df.select(rolling_fingerprint_udf(window=16)(F.col("tokens")).alias("fp")).first().fp
    # independent oracle: mod-2^64 polynomial hash per 16-token window,
    # sorted in uint64 order, first 8, then reinterpreted as int64
    M, B = 1 << 64, 1000003
    hs = []
    for i in range(len(toks) - 16 + 1):
        h = 0
        for t in toks[i : i + 16]:
            h = (h * B + t) % M
        hs.append(h)
    expect = [v - M if v >= 1 << 63 else v for v in sorted(hs)[:8]]
    assert got == expect
