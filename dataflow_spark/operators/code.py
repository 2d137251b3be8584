"""Code-corpus operators — the reference's `code` CPU family re-expressed
Spark-first (dataflow/operators/code/{eval,filter}, composed by
statics/pipelines/cpu_pipelines/code_pt_filter.py).

Every rule-based evaluator/filter here is a pure Catalyst expression over a
code-text column (plus metadata columns where the reference requires them);
only CodeDocumentQualityEvaluator's bag-of-counts metrics (duplicate-line /
duplicate-n-gram fractions, unigram entropy) use an Arrow-batched pandas UDF
— the honest mapping for per-row multiset statistics.

Unicode note: the reference counts str.isalpha()/isalnum() (Unicode) and
``\\w+`` words (Unicode).  This engine uses ``\\p{L}``/``\\p{N}`` classes for
alpha/alnum (Unicode-equivalent, RE2+Java portable) and the explicit ASCII
class ``[0-9A-Za-z_]`` for words so the DuckDB oracle (RE2, ASCII ``\\w``)
runs the identical expression; divergence only on non-ASCII word characters.

Out of scope (documented): CodeSandboxSampleEvaluator / python_executor
(arbitrary code execution — external-sandbox shape, like the LLM operators)
and CodeQualityScoreFilter's model-scored variant.
"""

from __future__ import annotations

import math
from collections import Counter

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from dataflow_spark.core.stage import Stage, register
from dataflow_spark.functions.text import c


# ---------------------------------------------------------------------------
# CodeAutoGeneratedSampleEvaluator / CodeAutoGeneratedFilter
# ---------------------------------------------------------------------------

AUTOGEN_PATTERNS = (
    "auto-generated",
    "autogenerated",
    "automatically generated",
    "generated automatically",
    "this file is generated",
)


def autogen_marker_count(col) -> Column:
    """Number of AUTOGEN_PATTERNS present in the lowercased first 5 lines
    (code_auto_generated_sample_evaluator.py:18-88: presence per pattern,
    not occurrences)."""
    first5 = F.lower(
        F.array_join(F.slice(F.split(c(col), "\n"), 1, 5), "\n")
    )
    cnt = F.lit(0)
    for p in AUTOGEN_PATTERNS:
        cnt = cnt + F.when(F.contains(first5, F.lit(p)), 1).otherwise(0)
    return cnt


def autogen_score(col) -> Column:
    """1.0 iff no marker found, else 0.0."""
    return F.when(autogen_marker_count(col) == 0, 1.0).otherwise(0.0)


# ---------------------------------------------------------------------------
# CodeLengthSampleEvaluator / CodeLengthSampleFilter
# ---------------------------------------------------------------------------

LENGTH_EXCLUDED_LANGS = (
    "HTML", "JSON", "Markdown", "Roff", "Roff Manpage", "SMT", "TeX",
    "Text", "XML",
)


def length_metrics(col) -> tuple[Column, Column, Column]:
    """(n_lines, avg_line_len, max_line_len) over ``splitlines`` semantics
    (code_length_sample_evaluator.py:80-86)."""
    lines = F.split(c(col), "\n")
    lens = F.transform(lines, lambda l: F.length(l))
    n = F.size(lines)
    avg = (
        F.coalesce(F.aggregate(lens, F.lit(0).cast("long"), lambda a, x: a + x), F.lit(0))
        .cast("double")
        / F.greatest(F.lit(1), n)
    )
    mx = F.coalesce(F.array_max(lens), F.lit(0))
    return n, avg, mx


def length_score(col, language) -> Column:
    """code_length_sample_evaluator.py:89-101 scoring rules."""
    n, avg, mx = length_metrics(col)
    lang = c(language)
    excluded = lang.isin(*LENGTH_EXCLUDED_LANGS)
    return (
        F.when(n > 100_000, 0.0)
        .when(~excluded & ((avg > 100) | (mx > 1000)), 0.0)
        .when(excluded & (mx > 100_000), 0.0)
        .otherwise(1.0)
    )


# ---------------------------------------------------------------------------
# CodeTextCompositionSampleEvaluator / CodeTextCompositionFilter
# ---------------------------------------------------------------------------

COMPOSITION_SPECIAL_LANGS = ("Motorola 68K Assembly", "WebAssembly")


def composition_ratios(col) -> tuple[Column, Column]:
    """(alpha_ratio, alnum_ratio) — Unicode letter / letter+number classes
    (reference: str.isalpha()/isalnum(),
    code_text_composition_sample_evaluator.py:76-77)."""
    t = c(col)
    total = F.greatest(F.lit(1), F.length(t))
    alpha = F.length(t) - F.length(F.regexp_replace(t, r"\p{L}", ""))
    alnum = F.length(t) - F.length(F.regexp_replace(t, r"[\p{L}\p{N}]", ""))
    return alpha.cast("double") / total, alnum.cast("double") / total


def composition_score(col, language) -> Column:
    alpha, alnum = composition_ratios(col)
    special = c(language).isin(*COMPOSITION_SPECIAL_LANGS)
    return (
        F.when(special & (alnum < 0.25), 0.0)
        .when(~special & (alpha < 0.25), 0.0)
        .otherwise(1.0)
    )


# ---------------------------------------------------------------------------
# CodeEncodedDataSampleEvaluator / CodeEncodedDataFilter
# ---------------------------------------------------------------------------

ENCODED_PATTERNS = (
    ("base64", r"[a-zA-Z0-9+/=\n]{64,}"),
    ("hex", r"(?:\b(?:0x|\\x)?[0-9a-fA-F]{2}(?:,|\b\s*)){8,}"),
    ("unicode", r"(?:\\u[0-9a-fA-F]{4}){8,}"),
)


def encoded_ratio(col, pattern: str) -> Column:
    """Total matched length of ``pattern`` / text length
    (code_encoded_data_sample_evaluator.py:79-103)."""
    t = c(col)
    matches = F.regexp_extract_all(t, F.lit(pattern), 0)
    matched = F.coalesce(
        F.aggregate(
            F.transform(matches, lambda m: F.length(m)),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ),
        F.lit(0),
    )
    return matched.cast("double") / F.greatest(F.lit(1), F.length(t))


def encoded_score(col, threshold: float = 0.5) -> Column:
    cond = F.lit(False)
    for _, pat in ENCODED_PATTERNS:
        cond = cond | (encoded_ratio(col, pat) > threshold)
    return F.when(cond, 0.0).otherwise(1.0)


# ---------------------------------------------------------------------------
# CodeDocumentQualitySampleEvaluator / CodeDocumentQualityFilter
# ---------------------------------------------------------------------------

DOC_QUALITY_DEFAULTS = {
    "min_num_chars": 1,
    "max_num_chars": 100_000,
    "min_num_words": 1,
    "max_num_words": 100_000,
    "max_frac_duplicate_lines": 1.0,
    "max_frac_duplicate_2gram": 1.0,
    "max_frac_duplicate_3gram": 1.0,
    "max_frac_duplicate_4gram": 1.0,
    "max_frac_duplicate_5gram": 1.0,
    "max_frac_duplicate_6gram": 1.0,
    "max_frac_duplicate_7gram": 1.0,
    "max_frac_duplicate_8gram": 1.0,
    "max_frac_duplicate_9gram": 1.0,
    "max_frac_duplicate_10gram": 1.0,
    "max_frac_curly_bracket": 1.0,
    "max_frac_all_caps_words": 1.0,
    "min_entropy_unigram": 0.0,
}

# the parameters code_pt_filter.py passes to CodeDocumentQualityFilter
DOC_QUALITY_PIPELINE = {
    **DOC_QUALITY_DEFAULTS,
    "min_num_chars": 100,
    "max_num_chars": 100_000,
    "min_num_words": 10,
    "max_num_words": 50_000,
    "max_frac_duplicate_lines": 0.3,
    "max_frac_duplicate_2gram": 0.3,
    "max_frac_duplicate_3gram": 0.3,
    "max_frac_duplicate_4gram": 0.3,
    "max_frac_duplicate_5gram": 0.3,
    "max_frac_curly_bracket": 0.1,
    "max_frac_all_caps_words": 0.3,
    "min_entropy_unigram": 2.0,
}

_WORD_RE = r"[0-9A-Za-z_]+"  # ASCII \w+, identical in Java and RE2

DOC_QUALITY_SCHEMA = T.StructType(
    [
        T.StructField("num_chars", T.LongType()),
        T.StructField("num_words", T.LongType()),
        T.StructField("frac_dup_lines", T.DoubleType()),
        T.StructField("frac_curly", T.DoubleType()),
        T.StructField("frac_caps", T.DoubleType()),
        T.StructField("entropy", T.DoubleType()),
        T.StructField("frac_dup_2gram", T.DoubleType()),
        T.StructField("frac_dup_3gram", T.DoubleType()),
        T.StructField("frac_dup_4gram", T.DoubleType()),
        T.StructField("frac_dup_5gram", T.DoubleType()),
        T.StructField("score", T.DoubleType()),
    ]
)


def _doc_quality_row(text: str, thr: dict) -> tuple:
    import re

    words = re.findall(_WORD_RE, text)
    lines = [l.strip() for l in text.splitlines() if l.strip()]
    n_chars, n_words = len(text), len(words)

    def dup_frac(items):
        if not items:
            return 0.0
        counts = Counter(items)
        total = sum(counts.values())
        dup = sum(v for v in counts.values() if v != 1)
        return dup / total

    def ngram_frac(n):
        if len(words) < n:
            return 0.0
        return dup_frac([" ".join(words[i : i + n]) for i in range(len(words) - n + 1)])

    frac_lines = dup_frac(lines)
    frac_curly = (text.count("{") + text.count("}")) / len(text) if text else 0.0
    caps = [w for w in words if w.isupper() and len(w) > 1]
    frac_caps = len(caps) / len(words) if words else 0.0
    if words:
        counts = Counter(words)
        total = sum(counts.values())
        entropy = -sum((c / total) * math.log2(c / total) for c in counts.values())
    else:
        entropy = 0.0
    grams = {n: ngram_frac(n) for n in (2, 3, 4, 5)}
    score = 1.0
    if not (thr["min_num_chars"] <= n_chars <= thr["max_num_chars"]):
        score = 0.0
    elif not (thr["min_num_words"] <= n_words <= thr["max_num_words"]):
        score = 0.0
    elif frac_lines > thr["max_frac_duplicate_lines"]:
        score = 0.0
    elif frac_curly > thr["max_frac_curly_bracket"]:
        score = 0.0
    elif frac_caps > thr["max_frac_all_caps_words"]:
        score = 0.0
    elif entropy < thr["min_entropy_unigram"]:
        score = 0.0
    else:
        # the reference checks n=2..10 (code_document_quality_sample_evaluator
        # .py:99-205); 6-10grams are computed lazily, only when a caller set a
        # binding threshold, to keep the hot path at the reported 2-5 range.
        for n in range(2, 11):
            limit = thr[f"max_frac_duplicate_{n}gram"]
            frac = grams[n] if n in grams else (ngram_frac(n) if limit < 1.0 else 0.0)
            if frac > limit:
                score = 0.0
                break
    return (
        n_chars, n_words, frac_lines, frac_curly, frac_caps, entropy,
        grams[2], grams[3], grams[4], grams[5], score,
    )


def doc_quality_udf(thresholds: dict | None = None):
    """Arrow-batched struct evaluator for the multiset metrics
    (code_document_quality_sample_evaluator.py:99-205).  Thresholds default
    to the evaluator's own no-op defaults; pass DOC_QUALITY_PIPELINE for the
    shipped pipeline's configuration.

    The reference's exclusive bound checks are ``<`` / ``>`` on both ends
    (lines 184-187), i.e. the kept range is inclusive — mirrored here."""
    thr = {**DOC_QUALITY_DEFAULTS, **(thresholds or {})}

    @pandas_udf(DOC_QUALITY_SCHEMA)
    def udf(texts: pd.Series) -> pd.DataFrame:
        rows = [_doc_quality_row(t or "", thr) for t in texts]
        return pd.DataFrame(rows, columns=[f.name for f in DOC_QUALITY_SCHEMA.fields])

    return udf


# ---------------------------------------------------------------------------
# CodeFileTypeContentFilter (pure predicate over metadata columns)
# ---------------------------------------------------------------------------

SIZE_CHECK_TYPES = ("text", "json", "yaml", "web ontology language", "graphviz", "dot")
VALID_TEXT_NAMES = ("readme", "notes", "todo", "description", "cmakelists")


def keep_file_type_content(
    filetype, filename, line_count, visible_text_length=None, total_code_length=None
) -> Column:
    """code_file_type_content_filter.py:83-137: size cap for list-ish types,
    visible-text floor for HTML, documentation-filename rule for Text.

    Faithful to the reference INCLUDING its dead branch: ``"text"`` is a
    member of SIZE_CHECK_TYPES, and filter_row checks size first, so the
    documented Text-filename rule is unreachable in the reference — small
    text files pass regardless of filename.  Reproduced as-is (the
    filename predicate stays available here for callers that want the
    documented intent)."""
    ft = F.lower(c(filetype))
    fn = F.lower(c(filename))
    lc = c(line_count)
    vt = c(visible_text_length) if visible_text_length is not None else F.lit(0)
    tc = c(total_code_length) if total_code_length is not None else F.lit(1)
    name_no_ext = F.regexp_replace(fn, r"\.[^.]*$", "")
    text_name_ok = F.contains(fn, F.lit("requirement")) | name_no_ext.isin(*VALID_TEXT_NAMES)
    html_ok = (vt >= 100) & (
        vt.cast("double") / F.greatest(tc, F.lit(1)) >= 0.2
    )
    return (
        F.when(ft.isin(*SIZE_CHECK_TYPES), lc <= 512)
        .when(ft == "html", html_ok)
        .when(ft == "text", text_name_ok)
        .otherwise(F.lit(True))
    )


def keep_generic_score(score_col, threshold: float = 8, method: str = "greater_equal") -> Column:
    """CodeGenericScoreFilter (code_score_filter.py:25): comparison-method
    threshold filter over a numeric score column."""
    s = c(score_col)
    ops = {
        "greater": s > threshold,
        "greater_equal": s >= threshold,
        "less": s < threshold,
        "less_equal": s <= threshold,
        "equal": s == threshold,
    }
    try:
        return ops[method]
    except KeyError:
        raise ValueError(f"unknown filter_method {method!r}; one of {sorted(ops)}")


# ---------------------------------------------------------------------------
# registry stages (score-in-range filter contract, like the reference's
# min_score/max_score pairs)
# ---------------------------------------------------------------------------


def _score_filter(name: str, score_builder, needs_language: bool = False):
    def stage(input_key: str = "text", language_key: str | None = None,
              min_score: float = 1.0, max_score: float = 1.0, **kw) -> Stage:
        def fn(df: DataFrame) -> DataFrame:
            if needs_language:
                # the reference defaults language to 'unknown' when absent
                # (code_length_sample_evaluator.py); mirror that fallback so
                # an omitted language_key doesn't crash at plan-build time.
                lang = (
                    F.col(language_key) if language_key is not None
                    else (F.col("language") if "language" in df.columns
                          else F.lit("unknown"))
                )
                s = score_builder(input_key, lang, **kw)
            elif language_key is not None:
                s = score_builder(input_key, language_key, **kw)
            else:
                s = score_builder(input_key, **kw)
            return df.withColumn("_s", s).where(
                (F.col("_s") >= min_score) & (F.col("_s") <= max_score)
            ).drop("_s")

        return Stage(name, fn, (input_key,), (), "filter")

    return stage


register("CodeAutoGeneratedFilter")(_score_filter("CodeAutoGeneratedFilter", autogen_score))
register("CodeLengthSampleFilter")(
    _score_filter("CodeLengthSampleFilter", lambda c, l: length_score(c, l),
                  needs_language=True)
)
register("CodeTextCompositionFilter")(
    _score_filter("CodeTextCompositionFilter", lambda c, l: composition_score(c, l),
                  needs_language=True)
)
register("CodeEncodedDataFilter")(_score_filter("CodeEncodedDataFilter", encoded_score))


@register("CodeDocumentQualityFilter")
def code_doc_quality_filter(
    input_key: str = "text", min_score: float = 1.0, max_score: float = 1.0,
    thresholds: dict | None = None,
) -> Stage:
    def fn(df: DataFrame) -> DataFrame:
        s = doc_quality_udf(thresholds)(F.col(input_key)).getField("score")
        return df.withColumn("_s", s).where(
            (F.col("_s") >= min_score) & (F.col("_s") <= max_score)
        ).drop("_s")

    return Stage("CodeDocumentQualityFilter", fn, (input_key,), (), "filter")


@register("CodeFileTypeContentFilter")
def code_file_type_filter(**kw) -> Stage:
    def fn(df: DataFrame) -> DataFrame:
        cols = {c for c in ("visible_text_length", "total_code_length") if c in df.columns}
        return df.where(
            keep_file_type_content(
                "filetype", "filename", "line_count",
                "visible_text_length" if "visible_text_length" in cols else None,
                "total_code_length" if "total_code_length" in cols else None,
            )
        )

    return Stage(
        "CodeFileTypeContentFilter", fn, ("filetype", "filename", "line_count"), (), "filter"
    )


@register("CodeGenericScoreFilter")
def code_generic_score_filter(
    input_key: str = "score", score_threshold: float = 8,
    filter_method: str = "greater_equal",
) -> Stage:
    def fn(df: DataFrame) -> DataFrame:
        return df.where(keep_generic_score(input_key, score_threshold, filter_method))

    return Stage("CodeGenericScoreFilter", fn, (input_key,), (), "filter")
