"""Agentic-RAG CPU operator: QA token-F1 evaluation.

Reference: AgenticRAGQAF1SampleEvaluator
(dataflow/operators/agentic_rag/eval/agenticrag_qaf1_sample_evaluator.py:56-131):

* ``normalize_answer`` — lower → strip ``string.punctuation`` chars → replace
  article words (a/an/the) with a space → whitespace-fix (split/join)
  (reference lines 56-70, applied in exactly that order at line 88-89);
* per ground truth: if either normalized side is one of
  ``yes/no/noanswer`` they must be equal, else that reference scores 0
  (lines 91-93);
* token-multiset F1: ``common = Counter(pred) & Counter(gold)``;
  ``num_same == 0`` → 0, else 2PR/(P+R) (lines 95-105);
* multi-reference: max over the ground-truth list; None/empty → 0.0
  (lines 72-83).

Engine shape: the whole scorer is **pure Catalyst** — normalization is a
regexp chain and the multiset intersection is a higher-order-function
aggregate over the distinct prediction tokens, so the hot path stays inside
whole-stage codegen with no Python worker at all (the reference iterates
rows in Python, line 108-118).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataflow_spark.core.stage import Stage, register
from dataflow_spark.functions.text import c


# string.punctuation, as a Java/RE2 character class (same byte set the
# reference strips via ``set(string.punctuation)``).
_PUNCT_CLASS = "[!\"#$%&'()*+,\\-./:;<=>?@\\[\\\\\\]^_`{|}~]"

# normalized answers that must match exactly (reference line 91).
_SPECIAL = ("yes", "no", "noanswer")


def normalize_answer(col) -> Column:
    """``normalize_answer`` (reference lines 56-70): lower, drop punctuation,
    blank article words, collapse whitespace."""
    s = F.lower(c(col))
    s = F.regexp_replace(s, _PUNCT_CLASS, "")
    s = F.regexp_replace(s, r"\b(a|an|the)\b", " ")
    return F.array_join(F.filter(F.split(s, r"\s+"), lambda x: x != ""), " ")


def _tokens(norm: Column) -> Column:
    return F.filter(F.split(norm, " "), lambda x: x != "")


def _f1_one(pred_norm: Column, gold_norm: Column) -> Column:
    """F1 against ONE normalized ground truth (reference lines 86-105)."""
    pred = _tokens(pred_norm)
    gold = _tokens(gold_norm)
    # multiset intersection size: sum over distinct pred tokens of
    # min(count in pred, count in gold) == sum((Counter & Counter).values())
    num_same = F.aggregate(
        F.array_distinct(pred),
        F.lit(0),
        lambda acc, t: acc
        + F.least(
            F.size(F.filter(pred, lambda x: x == t)),
            F.size(F.filter(gold, lambda x: x == t)),
        ),
    )
    special = pred_norm.isin(*_SPECIAL) | gold_norm.isin(*_SPECIAL)
    precision = num_same.cast("double") / F.size(pred)
    recall = num_same.cast("double") / F.size(gold)
    f1 = (2 * precision * recall) / (precision + recall)
    return (
        F.when(special & (pred_norm != gold_norm), F.lit(0.0))
        .when(num_same == 0, F.lit(0.0))
        .otherwise(f1)
    )


def qa_f1(prediction, ground_truths) -> Column:
    """Max token-F1 of ``prediction`` against an ``array<string>`` of ground
    truths (reference ``compute_f1``, lines 72-105). Null prediction, null
    list, or all-null references → 0.0."""
    pred_norm = normalize_answer(prediction)
    gts = c(ground_truths)
    scores = F.transform(
        gts,
        lambda g: F.when(g.isNull(), F.lit(0.0)).otherwise(
            _f1_one(pred_norm, normalize_answer(g))
        ),
    )
    out = F.coalesce(F.array_max(scores), F.lit(0.0))
    return F.when(c(prediction).isNull() | gts.isNull(), F.lit(0.0)).otherwise(out)


def qa_f1_single(prediction, ground_truth) -> Column:
    """Scalar-reference form (the reference wraps a bare string into a
    one-element list, line 75-76)."""
    return qa_f1(prediction, F.array(c(ground_truth)))


@register("AgenticRAGQAF1SampleEvaluator")
def qa_f1_stage(
    input_prediction_key: str = "refined_answer",
    input_ground_truth_key: str = "golden_doc_answer",
    output_key: str = "F1Score",
) -> Stage:
    def fn(df: DataFrame) -> DataFrame:
        dt = dict(df.dtypes)[input_ground_truth_key]
        col = (
            qa_f1(input_prediction_key, input_ground_truth_key)
            if dt.startswith("array")
            else qa_f1_single(input_prediction_key, input_ground_truth_key)
        )
        return df.withColumn(output_key, col)

    return Stage(
        name="AgenticRAGQAF1SampleEvaluator",
        fn=fn,
        input_cols=(input_prediction_key, input_ground_truth_key),
        output_cols=(output_key,),
        kind="eval",
    )
