"""dataflow_spark — a PySpark-native, Spark-first re-expression of the
wongzhenhao/DataFlow LLM-data-prep engine.

The reference (/root/reference, pkg ``open-dataflow``) is a single-process
pandas engine: every operator reads the whole table from disk, loops over rows
in Python, and writes the whole table back (``dataflow/utils/storage.py``,
``dataflow/pipeline/Pipeline.py``).  This package re-expresses the same
operator semantics as lazy Spark DataFrame transformations:

* rule-based filters/refiners  -> pure Catalyst Column expressions (whole-stage
  codegen, predicate pushdown, zero Python in the hot path)
* dedup (exact / MinHash-LSH / SimHash / n-gram)  -> hash aggregates and banded
  self-joins, vectorized signatures via Arrow pandas UDFs
* evaluators (scores)          -> expression or pandas_udf stages
* streaming                    -> Structured Streaming with watermarks, two
  exact-dedup tiers (builtin ``dropDuplicatesWithinWatermark`` state and the
  generation-segment index) and an idempotent exactly-once sink
* Python workers               -> ``_worker`` makes ``zipimporter`` cache
  invalidation stat-checked, so a reused worker stops re-reading pyspark.zip's
  directory on every task (CPython < 3.13; NOTES.md "Python task floor")

Nothing is copied from the reference; reference files are cited as
``path:line`` in docstrings for semantic parity only.
"""

from dataflow_spark import _worker  # noqa: F401  (installs itself in workers only)
from dataflow_spark.core.stage import Stage, Pipeline, OPERATOR_REGISTRY, register

__all__ = ["Stage", "Pipeline", "OPERATOR_REGISTRY", "register"]
