"""Config-driven pipeline runner — the last lifecycle surface of the
reference's CLI/agent layer (SURVEY.md §3.3): the reference composes
pipelines by instantiating registry operators BY NAME in generated pipeline
files (dataflow/cli.py:231-264 scaffolding, dataflow/core/operator.py:17-28
``get_operator(name, args)``, dataflow/utils/registry.py:34-259 name->class
resolution).  Here the same composition is a declarative JSON/YAML spec:

.. code-block:: yaml

    name: text_pt_filter
    stages:
      - operator: RemoveEmojiRefiner
        params: {input_key: text}
      - operator: WordNumberFilter
        params: {input_key: text, min_words: 5, max_words: 100000}

``pipeline_from_spec`` resolves every stage through the operator registry
and returns a :class:`~dataflow_spark.core.stage.Pipeline`; ``run_spec``
validates the column DAG compile-time (the reference's Pipeline.py:103-135
key check) and composes ONE lazy DataFrame — a spec'd chain of 20 filters
is still a single Catalyst stage with zero intermediate I/O.

CLI (spark-submit friendly)::

    spark-submit --py-files dist/dataflow_spark.zip -m ... OR
    python -m dataflow_spark.core.spec SPEC.yaml \
        --input /data/docs.parquet --output /data/out.parquet
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame

from dataflow_spark.core.stage import Pipeline, get_operator


def load_spec(path: str) -> dict:
    """Read a pipeline spec from a ``.json`` / ``.yaml`` / ``.yml`` file.
    YAML support is import-gated (PyYAML is present on this image; JSON
    always works)."""
    with open(path, encoding="utf-8") as fh:
        text = fh.read()
    if path.endswith((".yaml", ".yml")):
        try:
            import yaml
        except ImportError as e:  # pragma: no cover - yaml is on the image
            raise NotImplementedError(
                f"YAML spec {path!r} needs PyYAML; install it or use JSON"
            ) from e
        spec = yaml.safe_load(text)
    else:
        spec = json.loads(text)
    if not isinstance(spec, dict):
        raise ValueError(f"spec root must be a mapping, got {type(spec).__name__}")
    return spec


def _refuse_unknown_keys(spec: dict, *extra: str) -> None:
    """A top-level key no runner reads (``stage`` for ``stages``, or
    ``stream`` given to a batch runner) raises, naming it, before
    anything is written."""
    allowed = {"name", "stages", *extra}
    unknown = set(spec) - allowed
    if unknown:
        raise ValueError(
            f"spec: unknown top-level key(s) {sorted(unknown)}; "
            f"allowed: {sorted(allowed)}"
        )


def pipeline_from_spec(spec: dict) -> Pipeline:
    """Resolve ``spec['stages']`` through the operator registry into a
    Pipeline.  Fails fast with the offending stage index/name on an unknown
    operator (KeyError, listing known names — get_operator's contract) or
    bad params (TypeError from the factory signature)."""
    stages_cfg = spec.get("stages")
    if not isinstance(stages_cfg, list) or not stages_cfg:
        raise ValueError("spec needs a non-empty 'stages' list")
    pipe = Pipeline()
    for i, st in enumerate(stages_cfg):
        if not isinstance(st, dict) or "operator" not in st:
            raise ValueError(f"stage #{i} must be a mapping with an 'operator' key")
        name = st["operator"]
        params: dict[str, Any] = st.get("params") or {}
        if not isinstance(params, dict):
            raise ValueError(f"stage #{i} ({name}): 'params' must be a mapping")
        unknown = set(st) - {"operator", "params"}
        if unknown:
            raise ValueError(f"stage #{i} ({name}): unknown key(s) {sorted(unknown)}")
        try:
            pipe.add(get_operator(name, **params))
        except TypeError as e:
            raise TypeError(f"stage #{i} ({name}): bad params {params}: {e}") from e
    return pipe


def run_spec(df: DataFrame, spec: dict | str) -> DataFrame:
    """Compose and run a spec'd pipeline over ``df`` (spec dict or file
    path; top-level keys ``name`` and ``stages`` only).  ``Pipeline.run``
    revalidates the column DAG against the real input schema before
    building the lazy expression."""
    if isinstance(spec, str):
        spec = load_spec(spec)
    _refuse_unknown_keys(spec)
    return pipeline_from_spec(spec).run(df)


def run_stream_spec(
    spark,
    spec: dict | str,
    corpus_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Launch a STREAMING pipeline declared by spec: the one place a stream
    tier is picked.  The spec's ``stream`` block declares the pipeline
    SHAPE (dedup tier, watermark, trigger sizing); the data paths are
    runtime arguments, the same split as spark-submit jobs.

    .. code-block:: yaml

        name: stream_exact_dedup
        stream:
          dedup: builtin          # builtin | indexed | near
          watermark: 10 minutes   # builtin only
          max_files_per_trigger: 1
        stages:                    # optional post-dedup operator chain
          - operator: ContentNullFilter
            params: {input_key: text}

    Each tier is its tested runner, so the spec inherits its exactly-once
    sink and resume semantics: ``builtin`` is ``run_dedup_filter_stream``
    (dropDuplicatesWithinWatermark, then ``n_tok >= 1``) for bounded
    horizons; ``indexed`` (``run_exact_dedup_stream_indexed``) and
    ``near`` (``run_near_dedup_stream_exact``, MinHash at 16 bands of 128
    permutations) dedup against a durable generation-segment index.  Every
    tier runs ``stages`` on its dedup survivors before the sink; the index
    tiers seal the keys of all survivors, the chain's rejects included.
    A key a tier would ignore is rejected, not dropped: a top-level key
    other than ``name``, ``stages`` and ``stream``, and ``watermark``
    outside ``builtin`` (the index tiers' horizon is ``expire``).
    ``max_files_per_trigger`` must be a positive int.  Every check runs
    before anything is written.  Returns the started StreamingQuery; the
    caller drives it."""
    from dataflow_spark.streaming.indexed import run_exact_dedup_stream_indexed
    from dataflow_spark.streaming.pipeline import (
        run_dedup_filter_stream,
        run_near_dedup_stream_exact,
    )

    if isinstance(spec, str):
        spec = load_spec(spec)
    _refuse_unknown_keys(spec, "stream")
    scfg = spec.get("stream")
    if not isinstance(scfg, dict):
        raise ValueError("streaming spec needs a 'stream' mapping")
    unknown = set(scfg) - {"dedup", "watermark", "max_files_per_trigger"}
    if unknown:
        raise ValueError(f"stream block: unknown key(s) {sorted(unknown)}")
    runs = {
        "builtin": run_dedup_filter_stream,
        "indexed": run_exact_dedup_stream_indexed,
        "near": run_near_dedup_stream_exact,
    }
    tier = scfg.get("dedup", "builtin")
    if tier not in runs:
        raise ValueError(f"stream.dedup {tier!r}: 'builtin', 'indexed' or 'near'")
    per_trigger = scfg.get("max_files_per_trigger", 1)
    if type(per_trigger) is not int or per_trigger < 1:  # bool is an int
        raise ValueError(
            f"stream.max_files_per_trigger {per_trigger!r}: a positive int"
        )
    kw = {"max_files_per_trigger": per_trigger}
    if "watermark" in scfg:
        if tier != "builtin":
            raise ValueError(
                f"stream.dedup={tier} keeps no watermark (its horizon is the "
                "index's expire); drop 'watermark' or pick 'builtin'"
            )
        kw["watermark_delay"] = scfg["watermark"]
    if spec.get("stages"):
        kw["stages"] = pipeline_from_spec(spec)
    return runs[tier](spark, corpus_dir, out_dir, checkpoint_dir, **kw)


def main(argv: list[str] | None = None) -> None:
    """``python -m dataflow_spark.core.spec SPEC --input IN --output OUT``:
    read parquet, run the spec'd pipeline, write parquet (mode=overwrite).
    Meant for spark-submit with dist/dataflow_spark.zip on --py-files."""
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("spec", help="pipeline spec (.json/.yaml)")
    ap.add_argument("--input", required=True, help="input parquet path")
    ap.add_argument("--output", required=True, help="output parquet path")
    ap.add_argument("--validate-only", action="store_true",
                    help="compile-time key check against the input schema, no run")
    args = ap.parse_args(argv)

    from dataflow_spark.session import get_spark

    spec = load_spec(args.spec)
    _refuse_unknown_keys(spec)
    pipe = pipeline_from_spec(spec)
    spark = get_spark(app_name=spec.get("name", "spec_pipeline"))
    df = spark.read.parquet(args.input)
    if args.validate_only:
        pipe.validate(df.columns)
        print(f"spec '{spec.get('name', args.spec)}' validates against {df.columns}")
        return
    pipe.run(df).write.mode("overwrite").parquet(args.output)


if __name__ == "__main__":
    main()
