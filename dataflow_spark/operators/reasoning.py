"""Reasoning-pipeline CPU operators (reference operators/reasoning/filter,
composed by statics/pipelines/cpu_pipelines/reasoning_pipeline.py):

* ReasoningAnswerFormatterFilter — faithful reproduction INCLUDING the fact
  that the reference's ``\\boxed`` check is commented out
  (reasoning_answer_formatter_filter.py:15-19), i.e. the shipped operator
  keeps every row; pass ``require_boxed=True`` for the documented intent.
* ReasoningAnswerGroundTruthFilter (exact mode) — extract the final answer
  (AnswerExtraction.py:154-211 branch structure: "final answer is $..$. I
  hope", last ``boxed`` with balanced braces, "he answer is", last-number
  fallback; full strip_string normalization including clean_units and a
  from-scratch w2n-compatible convert_word_number) and string-compare to
  the gold answer.  The ``math_verify`` mode needs the math_verify package
  (absent here — non-goal, same external-lib class as GPU scorers).
* ReasoningAnswerNgramFilter — repetition score = unique/total n-grams;
  char n-grams for CJK-bearing text, word n-grams otherwise
  (reasoning_answer_ngram_filter.py:94-175), pure Catalyst HOFs.

Unicode note: the word path keeps ``\\w`` characters; Spark uses ``(?U)\\w``
(Python-re parity), the DuckDB oracle RE2 ``\\w`` is ASCII — CJK routes to
the char path on both engines, so divergence is limited to non-ASCII
letters in non-CJK text (absent from the corpus and the reference's
example data).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from dataflow_spark.core.stage import Stage, register
from dataflow_spark.functions.text import c


# ---------------------------------------------------------------------------
# answer extraction (AnswerExtraction.py:114-211)
# ---------------------------------------------------------------------------


def _extract_bracketed(ans: str) -> str:
    stack, out = 1, []
    for ch in ans[1:]:
        if ch == "{":
            stack += 1
        elif ch == "}":
            stack -= 1
            if stack == 0:
                break
        out.append(ch)
    return "".join(out)


# The unit-text table the reference strips in exact mode
# (AnswerExtraction.py:79-91, UnitTextManager).  Entries are used UNESCAPED
# as regex fragments, exactly like the reference — so "q ." matches "q x"
# too; faithfulness beats tidiness here.  Plural forms are appended the same
# way the reference does.
_UNIT_TEXTS_BASE = [
    "east", "degree", "mph", "kmph", "ft", "m sqaure", "m east", "sq m",
    "deg", "mile", "q .", "monkey", "prime", "ratio", "profit of rs", "rd",
    "o", "gm", "p . m", "lb", "tile", "per", "dm", "lt", "gain", "ab", "way",
    "west", "a .", "b .", "c .", "d .", "e .", "f .", "g .", "h .", "t", "a",
    "h", "no change", "men", "soldier", "pie", "bc", "excess", "st",
    "inches", "noon", "percent", "by", "gal", "kmh", "c", "acre", "rise",
    "a . m", "th", "\u03c0 r 2", "sq", "mark", "l", "toy", "coin", "sq . m",
    "gallon", "\u00b0 f", "profit", "minw", "yr", "women", "feet", "am",
    "pm", "hr", "cu cm", "square", "v \u00e2 \u20ac \u2122", "are", "rupee",
    "rounds", "cubic", "cc", "mtr", "s", "ohm", "number", "kmph", "day",
    "hour", "minute", "min", "second", "man", "woman", "sec", "cube", "mt",
    "sq inch", "mp", "\u220f cm \u00b3", "hectare", "more", "sec", "unit",
    "cu . m", "cm 2", "rs .", "rs", "kg", "g", "month", "km", "m", "cm",
    "mm", "apple", "liter", "loss", "yard", "pure", "year", "increase",
    "decrease", "d", "less", "Surface", "litre", "pi sq m", "s .", "metre",
    "meter", "inch",
]
_UNIT_TEXTS = _UNIT_TEXTS_BASE + [t + "s" for t in _UNIT_TEXTS_BASE]


def _clean_units(s: str) -> str:
    for unit in _UNIT_TEXTS:
        s = re.sub(r"(^|\W)" + unit + r"($|\W)", r"\1\2", s)
    return s


# w2n-compatible word→number conversion (the public word2number algorithm;
# the reference wraps w2n.word_to_num in try/except and keeps the text
# unchanged on failure — AnswerExtraction.py:59-66).
_W2N_ONES = {
    "zero": 0, "one": 1, "two": 2, "three": 3, "four": 4, "five": 5,
    "six": 6, "seven": 7, "eight": 8, "nine": 9, "ten": 10, "eleven": 11,
    "twelve": 12, "thirteen": 13, "fourteen": 14, "fifteen": 15,
    "sixteen": 16, "seventeen": 17, "eighteen": 18, "nineteen": 19,
}
_W2N_TENS = {
    "twenty": 20, "thirty": 30, "forty": 40, "fifty": 50, "sixty": 60,
    "seventy": 70, "eighty": 80, "ninety": 90,
}
_W2N_SCALES = {"hundred": 100, "thousand": 1_000, "million": 10**6,
               "billion": 10**9}
_W2N_WORDS = set(_W2N_ONES) | set(_W2N_TENS) | set(_W2N_SCALES) | {"point"}


def _w2n_group(words: list[str]) -> int:
    """Value of a <1000 group like ['nine', 'hundred', 'twelve']."""
    total = 0
    for w in words:
        if w == "hundred":
            total = (total or 1) * 100
        else:
            total += _W2N_ONES.get(w, 0) + _W2N_TENS.get(w, 0)
    return total


def _word_to_num(text: str):
    """word2number's word_to_num semantics: lowercase, '-'→' ', digit
    strings pass through, unknown words are FILTERED (not an error) as long
    as at least one number word remains; repeated scale words or a bad
    decimal tail raise ValueError (caught by the caller)."""
    s = str(text).replace("-", " ").lower()
    if s.strip().isdigit():
        return int(s.strip())
    words = [w for w in s.strip().split() if w in _W2N_WORDS]
    if not words:
        raise ValueError("no number words")
    for scale in ("thousand", "million", "billion", "point"):
        if words.count(scale) > 1:
            raise ValueError(f"repeated {scale}")
    if words and words[-1] == "point":
        raise ValueError("dangling point")
    if "point" in words:
        idx = words.index("point")
        int_words, dec_words = words[:idx], words[idx + 1:]
        if not all(w in _W2N_ONES and _W2N_ONES[w] < 10 for w in dec_words):
            raise ValueError("bad decimal part")
        dec = "".join(str(_W2N_ONES[w]) for w in dec_words)
    else:
        int_words, dec = words, None
    total, group = 0, []
    for w in int_words:
        if w in ("thousand", "million", "billion"):
            total += _w2n_group(group) * _W2N_SCALES[w]
            group = []
        else:
            group.append(w)
    total += _w2n_group(group)
    if dec is not None:
        return float(f"{total}.{dec}")
    return total


def _convert_word_number(text: str) -> str:
    try:
        return str(_word_to_num(text))
    except Exception:
        return text


def _strip_string(s: str, skip_unit: bool = False) -> str:
    """strip_string (AnswerExtraction.py:114-139) including clean_units and
    convert_word_number at their exact positions; ``skip_unit`` mirrors the
    reference's carp_en/minerva_math bypass (exact mode passes False)."""
    s = str(s).strip().replace("\n", "").rstrip(".").replace("\\!", "")
    s = re.sub(r"\\begin\{array\}\{.*?\}", r"\\begin{pmatrix}", s)
    s = re.sub(r"\\end\{array\}", r"\\end{pmatrix}", s).replace("bmatrix", "pmatrix")
    s = (s.replace("tfrac", "frac").replace("dfrac", "frac")
         .replace("\\neq", "\\ne").replace("\\leq", "\\le").replace("\\geq", "\\ge"))
    s = (s.replace("\\left", "").replace("\\right", "")
         .replace("\\{", "{").replace("\\}", "}"))
    if not skip_unit:
        s = _clean_units(s)
    s = (s.replace("^{\\circ}", "").replace("^\\circ", "")
         .replace("\\$", "").replace("$", "").replace("\\(", "").replace("\\)", ""))
    s = _convert_word_number(s)
    s = re.sub(r"\\text\{(.*?)\}", r"\1", s)
    for key in ("x=", "y=", "z=", "x\\in", "y\\in", "z\\in", "x\\to", "y\\to", "z\\to"):
        s = s.replace(key, "")
    s = s.replace("\\emptyset", r"{}").replace("(-\\infty,\\infty)", "\\mathbb{R}")
    s = s.replace("%", "").replace(" .", " 0.").replace("{.", "{0.")
    return s


def extract_answer(pred: str, use_last_number: bool = True,
                   skip_unit: bool = False) -> str:
    """Faithful extract_answer branch structure (data_name=None in the
    reference's exact mode ⇒ skip_unit=False)."""
    if not pred:
        pred = ""
    pred = str(pred).replace("\u043a\u0438", "")
    if "final answer is $" in pred and "$. I hope" in pred:
        out = pred.split("final answer is $", 1)[1].split("$. I hope", 1)[0].strip()
    elif "boxed" in pred:
        ans = pred.split("boxed")[-1]
        out = _extract_bracketed(ans) if ans.startswith("{") else ans.split("$")[0].strip()
    elif "he answer is" in pred:
        out = pred.split("he answer is")[-1].strip()
    else:
        if use_last_number:
            nums = re.findall(r"-?\d*\.?\d+", pred.replace(",", ""))
            out = nums[-1] if nums else ""
        else:
            out = ""
    return _strip_string(out, skip_unit=skip_unit)


def extract_answer_udf():
    @pandas_udf(T.StringType())
    def udf(preds: pd.Series) -> pd.Series:
        return pd.Series([extract_answer(p) for p in preds])

    return udf


def keep_answer_format(col, require_boxed: bool = False) -> Column:
    """ReasoningAnswerFormatterFilter: the shipped is_valid_answer always
    returns True (its boxed regex is commented out) — reproduced; opt into
    the documented intent with require_boxed."""
    if not require_boxed:
        return c(col).isNotNull() | c(col).isNull()  # keep-all, like the reference
    return c(col).rlike(r"\\boxed\{.*\}")


def keep_answer_groundtruth(answer_col, gt_col) -> Column:
    """exact-mode compare of the EXTRACTED answer
    (reasoning_answer_groundtruth_filter.py:26-27,77-80)."""
    return extract_answer_udf()(c(answer_col)) == c(gt_col).cast("string")


# ---------------------------------------------------------------------------
# repetition (n-gram uniqueness) score
# ---------------------------------------------------------------------------

_CJK_RE = "[\u4e00-\u9fff]"


def _word_ngram_score(col, n: int) -> Column:
    cleaned = F.regexp_replace(F.lower(c(col)), r"(?U)[^\w\s]", " ")
    ws = F.filter(F.split(cleaned, r"\s+"), lambda w: w != "")
    grams = F.when(
        F.size(ws) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(ws) - n),
            lambda i: F.array_join(F.slice(ws, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.when(
        F.size(grams) == 0, 0.0
    ).otherwise(F.size(F.array_distinct(grams)).cast("double") / F.size(grams))


def repetition_score(col, n: int = 5) -> Column:
    """unique n-grams / total n-grams; char n-grams when the text contains
    CJK, word n-grams otherwise; 0.0 when too short for any n-gram."""
    t = c(col)
    word = _word_ngram_score(t, n)
    cleaned = F.regexp_replace(F.lower(t), "[^\u4e00-\u9fff0-9a-z]", "")
    char_grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(cleaned) - n + 1, F.lit(1))),
        lambda i: cleaned.substr(i, F.lit(n)),
    )
    char_score = F.when(F.length(cleaned) < n, 0.0).otherwise(
        F.size(F.array_distinct(char_grams)).cast("double") / F.size(char_grams)
    )
    return F.when(t.isNull(), 0.0).when(t.rlike(_CJK_RE), char_score).otherwise(word)


def keep_answer_ngram(col, min_score: float = 0.1, max_score: float = 1.0, n: int = 5) -> Column:
    s = repetition_score(col, n)
    return (s >= min_score) & (s <= max_score)


# ---------------------------------------------------------------------------
# registry stages
# ---------------------------------------------------------------------------


@register("ReasoningAnswerFormatterFilter")
def answer_formatter_filter(input_key: str = "output", require_boxed: bool = False) -> Stage:
    def fn(df: DataFrame) -> DataFrame:
        return df.where(keep_answer_format(input_key, require_boxed))

    return Stage("ReasoningAnswerFormatterFilter", fn, (input_key,), (), "filter")


@register("ReasoningAnswerGroundTruthFilter")
def answer_groundtruth_filter(
    input_test_answer_key: str = "output", input_gt_answer_key: str = "golden_answer"
) -> Stage:
    def fn(df: DataFrame) -> DataFrame:
        return df.where(keep_answer_groundtruth(input_test_answer_key, input_gt_answer_key))

    return Stage(
        "ReasoningAnswerGroundTruthFilter", fn,
        (input_test_answer_key, input_gt_answer_key), (), "filter",
    )


@register("ReasoningAnswerNgramFilter")
def answer_ngram_filter(
    input_answer_key: str = "output", min_score: float = 0.1,
    max_score: float = 1.0, ngrams: int = 5,
) -> Stage:
    def fn(df: DataFrame) -> DataFrame:
        return df.where(keep_answer_ngram(input_answer_key, min_score, max_score, ngrams))

    return Stage("ReasoningAnswerNgramFilter", fn, (input_answer_key,), (), "filter")


# ---------------------------------------------------------------------------
# dataset-level reasoning ops (round-3 close-out)
# ---------------------------------------------------------------------------


def pretrain_format_convert(
    df: DataFrame,
    question_col: str = "question",
    answer_col: str = "answer",
    output_key: str = "text",
) -> DataFrame:
    """ReasoningPretrainFormatConvertGenerator
    (reasoning_pretrain_format_convert_generator.py:13-38): SFT → PT format,
    ``text = question + '\\n' + answer`` with nulls as ''. The reference
    emits ONLY the text column (it writes a fresh record list) — reproduced."""
    q = F.coalesce(c(question_col).cast("string"), F.lit(""))
    a = F.coalesce(c(answer_col).cast("string"), F.lit(""))
    return df.select(F.concat(q, F.lit("\n"), a).alias(output_key))


def answer_pipeline_root(
    df: DataFrame, answer_key: str = "output", gt_key: str = "golden_answer"
) -> tuple[DataFrame, DataFrame]:
    """ReasoningAnswerPipelineRootFilter
    (reasoning_answer_pipeline_root_filter.py:43-94): backfill a missing
    ground truth by extracting it from the model answer
    (``extract_answer(answer, None, True)``), then split into the with-gt and
    without-gt branches (the reference writes two files; here two DataFrames
    off one lazy plan). Empty/null answers leave gt null."""
    gt = c(gt_key)
    ans = c(answer_key)
    backfilled = F.when(gt.isNotNull() & (gt != ""), gt).otherwise(
        F.when(ans.isNull() | (ans == ""), F.lit(None).cast("string")).otherwise(
            extract_answer_udf()(ans)
        )
    )
    out = df.withColumn(gt_key, backfilled)
    with_gt = out.where(F.col(gt_key).isNotNull() & (F.col(gt_key) != ""))
    without_gt = out.where(F.col(gt_key).isNull() | (F.col(gt_key) == "")).withColumn(
        gt_key, F.lit(None).cast("string")
    )
    return with_gt, without_gt


def difficulty_stats(df: DataFrame, difficulty_col: str = "difficulty_score") -> DataFrame:
    """ReasoningDifficultyDatasetEvaluator
    (reasoning_difficulty_dataset_evaluator.py:41-60): per-difficulty sample
    counts. pandas ``value_counts`` drops NaN — mirrored by the isNotNull
    filter (the ``.get(key,'null')`` default is unreachable: the column
    exists on every record once it exists in the frame)."""
    d = c(difficulty_col)
    return (
        df.where(d.isNotNull())
        .groupBy(d.cast("string").alias("difficulty"))
        .agg(F.count(F.lit(1)).alias("count"))
    )


def category_stats(
    df: DataFrame,
    primary_col: str = "primary_category",
    secondary_col: str = "secondary_category",
) -> DataFrame:
    """ReasoningCategoryDatasetEvaluator — the documented intent
    (reasoning_category_dataset_evaluator.py:47-65): per-primary sample
    counts plus the secondary-category breakdown. The shipped reference
    cannot complete as written — ``self.category_list`` is never initialized
    (AttributeError) and the accumulator is a LIST indexed by category
    string (``output = []; output[primary] = js`` → TypeError) — so this
    implements the get_desc contract: one row per (primary, secondary) with
    the pair count and the primary total."""
    from pyspark.sql.window import Window

    out = df.groupBy(
        c(primary_col).alias("primary_category"),
        c(secondary_col).alias("secondary_category"),
    ).agg(F.count(F.lit(1)).alias("secondary_num"))
    w = Window.partitionBy("primary_category")
    return out.select(
        "primary_category",
        "secondary_category",
        "secondary_num",
        F.sum("secondary_num").over(w).alias("primary_num"),
    )


def token_stats(
    df: DataFrame,
    question_col: str = "instruction",
    answer_col: str = "output",
    token_len=None,
) -> DataFrame:
    """ReasoningTokenDatasetEvaluator
    (reasoning_token_dataset_evaluator.py:48-96): dataset-level token-length
    stats for question and answer columns — zero count, min, max, mean, and
    the reference's ``sorted(xs)[n//2]`` median — as ONE output row.

    ``token_len`` is a Column-builder (col -> token count); default is the
    engine's BPE-ish GPT-2 pre-tokenizer proxy
    (evaluators.token_count_bpe) standing in for the reference's
    ``AutoTokenizer.encode`` length (model download — external non-goal).
    Missing/null values count as '' (0 tokens), matching the reference's
    ``sample.get(key, '') or ''``.

    Shape at scale: ONE pass over the data.  Every statistic — including the
    exact ``sorted(xs)[n//2]`` median, an order statistic — derives from the
    token-length HISTOGRAM, whose size is bounded by the max token count, not
    the corpus size: melt (q,a) lengths to (which, len) pairs, one
    groupBy(which, len) with map-side partial aggregation (the only shuffle,
    and it moves histogram-sized data), then zeros/min/max/mean/median all
    read off the tiny histogram (median = first length whose cumulative
    count reaches rank ``n//2 + 1``).  No full sort, no collect; the
    single-partition window runs over the histogram only.

    Empty input returns zero rows (the reference's all-zero dict is a
    degenerate guard for an empty dataframe its pipelines never produce)."""
    from pyspark.sql.window import Window

    from dataflow_spark.operators.evaluators import token_count_bpe

    tl = token_len or token_count_bpe
    zlen = lambda col: F.coalesce(tl(F.coalesce(c(col), F.lit(""))), F.lit(0))  # noqa: E731
    pairs = df.select(
        F.explode(
            F.create_map(
                F.lit("q"), zlen(question_col).cast("long"),
                F.lit("a"), zlen(answer_col).cast("long"),
            )
        ).alias("which", "v")
    )
    hist = pairs.groupBy("which", "v").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("which").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy("which")
    cum = hist.select(
        "which", "v", "c",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    per = cum.groupBy("which").agg(
        F.sum(F.when(F.col("v") == 0, F.col("c")).otherwise(0)).alias("zeros"),
        F.min("v").alias("vmin"),
        F.max("v").alias("vmax"),
        (F.sum(F.col("v") * F.col("c")) / F.first("n")).alias("vmean"),
        F.min(
            F.when(F.col("cum") >= F.floor(F.col("n") / 2) + 1, F.col("v"))
        ).alias("vmedian"),
    )
    qrow = per.where(F.col("which") == "q")
    arow = per.where(F.col("which") == "a")
    out = F.broadcast(
        qrow.select(
            F.col("zeros").alias("questions_zeros_count"),
            F.col("vmin").alias("questions_min"),
            F.col("vmax").alias("questions_max"),
            F.col("vmean").alias("questions_mean"),
            F.col("vmedian").alias("questions_median"),
        )
    ).crossJoin(
        F.broadcast(
            arow.select(
                F.col("zeros").alias("answers_zeros_count"),
                F.col("vmin").alias("answers_min"),
                F.col("vmax").alias("answers_max"),
                F.col("vmean").alias("answers_mean"),
                F.col("vmedian").alias("answers_median"),
            )
        )
    )
    return out.select(
        "questions_zeros_count",
        "answers_zeros_count",
        "questions_min",
        "questions_max",
        "questions_mean",
        "questions_median",
        "answers_min",
        "answers_max",
        "answers_mean",
        "answers_median",
    )


@register("ReasoningPretrainFormatConvertGenerator")
def pretrain_convert_stage(
    input_read_key_question: str = "question",
    input_read_key_answer: str = "answer",
    output_key: str = "text",
) -> Stage:
    return Stage(
        name="ReasoningPretrainFormatConvertGenerator",
        fn=lambda df: pretrain_format_convert(
            df, input_read_key_question, input_read_key_answer, output_key
        ),
        input_cols=(input_read_key_question, input_read_key_answer),
        output_cols=(output_key,),
        kind="generate",
    )


@register("ReasoningDifficultyDatasetEvaluator")
def difficulty_stats_stage(input_diffulty_key: str = "difficulty_score") -> Stage:
    return Stage(
        name="ReasoningDifficultyDatasetEvaluator",
        fn=lambda df: difficulty_stats(df, input_diffulty_key),
        input_cols=(input_diffulty_key,),
        output_cols=("difficulty", "count"),
        kind="eval",
    )


@register("ReasoningCategoryDatasetEvaluator")
def category_stats_stage(
    input_primary_category_key: str = "primary_category",
    input_secondary_category_key: str = "secondary_category",
) -> Stage:
    return Stage(
        name="ReasoningCategoryDatasetEvaluator",
        fn=lambda df: category_stats(
            df, input_primary_category_key, input_secondary_category_key
        ),
        input_cols=(input_primary_category_key, input_secondary_category_key),
        output_cols=("primary_category", "secondary_category", "secondary_num", "primary_num"),
        kind="eval",
    )


@register("ReasoningTokenDatasetEvaluator")
def token_stats_stage(
    input_question_key: str = "instruction",
    input_answer_key: str = "output",
) -> Stage:
    return Stage(
        name="ReasoningTokenDatasetEvaluator",
        fn=lambda df: token_stats(df, input_question_key, input_answer_key),
        input_cols=(input_question_key, input_answer_key),
        output_cols=(
            "questions_zeros_count", "answers_zeros_count",
            "questions_min", "questions_max", "questions_mean",
            "questions_median",
            "answers_min", "answers_max", "answers_mean", "answers_median",
        ),
        kind="eval",
    )


# ---------------------------------------------------------------------------
# ReasoningQuestionCategorySampleEvaluator — the CPU normalization half
# (utils/reasoning/CategoryFuzz.py; the LLM categorization call is the
# non-goal half, its raw label output is this operator's input)
# ---------------------------------------------------------------------------


def _cf_normalize_text(s: str) -> str:
    """CategoryFuzz.normalize_text (CategoryFuzz.py:60-65): lowercase, strip
    digits/./-/_/()/[]/,&//, collapse whitespace."""
    s = (s or "").lower()
    s = re.sub(r"[0-9\.\-\_\(\)\[\],&/]", " ", s)
    return re.sub(r"\s+", " ", s).strip()


def _normalize_categories_py(raw_primary: str, raw_secondary: str):
    """CategoryFuzz.normalize_categories (CategoryFuzz.py:79-133):
    1) 'X.Y' numeric code in the secondary label wins outright;
    2) else 'X' numeric code in the primary label;
    3) else WRatio fuzzy match of the primary (threshold 50);
    4) secondary fuzzy-matched within the chosen primary's list
       (threshold 50, '' when below).
    Unmatched primary -> ('', '')."""
    from dataflow_spark.operators import _fuzz
    from dataflow_spark.operators._category_data import (
        PRIMARY_CATEGORIES,
        SECONDARY_CATEGORIES,
    )

    raw_primary = raw_primary or ""
    raw_secondary = raw_secondary or ""
    m = re.match(r"^\s*(\d+)\s*\.\s*(\d+)\s*\.?\s*$", raw_secondary)
    if m:
        pi, si = int(m.group(1)), int(m.group(2))
        if 1 <= pi <= len(PRIMARY_CATEGORIES):
            primary = PRIMARY_CATEGORIES[pi - 1]
            secs = SECONDARY_CATEGORIES.get(primary, [])
            if 1 <= si <= len(secs):
                return primary, secs[si - 1]
    m = re.match(r"^\s*(\d+)\s*\.?\s*$", raw_primary)
    primary = None
    if m:
        pi = int(m.group(1))
        if 1 <= pi <= len(PRIMARY_CATEGORIES):
            primary = PRIMARY_CATEGORIES[pi - 1]
    if primary is None:
        best, score = _fuzz.extract_one(
            _cf_normalize_text(raw_primary), tuple(PRIMARY_CATEGORIES)
        )
        primary = best if score >= 50 else None
    if not primary:
        return "", ""
    secs = SECONDARY_CATEGORIES.get(primary, [])
    best, score = _fuzz.extract_one(_cf_normalize_text(raw_secondary), tuple(secs))
    return primary, (best if score >= 50 else "")


def category_normalize(
    df: DataFrame,
    primary_col: str = "primary_category",
    secondary_col: str = "secondary_category",
    out_primary: str = "primary_category",
    out_secondary: str = "secondary_category",
) -> DataFrame:
    """Normalize raw (LLM-emitted) category labels onto the reference's
    fixed math taxonomy — numeric-code fast paths + WRatio fuzzy matching
    (from-scratch kernels, operators/_fuzz.py).  One Arrow-batched pandas
    UDF; the taxonomy is module data on every worker and the scorer result
    is LRU-cached per distinct raw label, so the per-row cost is a dict hit
    for the overwhelmingly-repetitive label streams this op sees."""
    out_schema = T.StructType(
        [
            T.StructField("p", T.StringType()),
            T.StructField("s", T.StringType()),
        ]
    )

    @pandas_udf(out_schema)
    def norm(p: pd.Series, s: pd.Series) -> pd.DataFrame:
        cache: dict[tuple, tuple] = {}
        outp, outs = [], []
        for a, b in zip(p, s):
            key = (a, b)
            if key not in cache:
                cache[key] = _normalize_categories_py(a, b)
            r = cache[key]
            outp.append(r[0])
            outs.append(r[1])
        return pd.DataFrame({"p": outp, "s": outs})

    tmp = norm(F.col(primary_col).cast("string"), F.col(secondary_col).cast("string"))
    return (
        df.withColumn("_cn", tmp)
        .withColumn(out_primary, F.col("_cn.p"))
        .withColumn(out_secondary, F.col("_cn.s"))
        .drop("_cn")
    )


def category_hash(primary_col, secondary_col) -> Column:
    """CategoryFuzz.category_hasher (CategoryFuzz.py:135-142): k*8+m over
    taxonomy indices, 170.0 on the reference's except path (unknown pair) —
    pure Catalyst over the broadcast taxonomy literals."""
    from dataflow_spark.operators._category_data import (
        PRIMARY_CATEGORIES,
        SECONDARY_CATEGORIES,
    )

    p, s = c(primary_col), c(secondary_col)
    expr = F.lit(170.0)
    for k, prim in enumerate(PRIMARY_CATEGORIES):
        for m, sec in enumerate(SECONDARY_CATEGORIES[prim]):
            expr = F.when((p == prim) & (s == sec), F.lit(float(k * 8 + m))).otherwise(expr)
    return expr


@register("ReasoningCategoryNormalizer")
def category_normalize_stage(
    input_primary_key: str = "primary_category",
    input_secondary_key: str = "secondary_category",
) -> Stage:
    return Stage(
        name="ReasoningCategoryNormalizer",
        fn=lambda df: category_normalize(df, input_primary_key, input_secondary_key),
        input_cols=(input_primary_key, input_secondary_key),
        output_cols=(input_primary_key, input_secondary_key),
        kind="eval",
    )
