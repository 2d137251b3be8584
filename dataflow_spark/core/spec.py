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
import os
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
    path).  ``Pipeline.run`` revalidates the column DAG against the real
    input schema before building the lazy expression."""
    if isinstance(spec, str):
        spec = load_spec(spec)
    return pipeline_from_spec(spec).run(df)


def run_stream_spec(
    spark,
    spec: dict | str,
    corpus_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Launch a STREAMING pipeline declared by spec (round 5, VERDICT r4
    #6): the compose-by-name surface now covers the north-rule path too.
    The spec's ``stream`` block declares the pipeline SHAPE (watermark,
    dedup tier, trigger sizing); the data paths are runtime arguments, the
    same split as spark-submit jobs.

    .. code-block:: yaml

        name: stream_exact_dedup
        stream:
          dedup: builtin          # builtin | indexed
          watermark: 10 minutes   # builtin only
          max_files_per_trigger: 1
        stages:                    # optional post-dedup operator chain
          - operator: ContentNullFilter
            params: {input_key: text}

    Two tiers reuse the tested kernels 1:1, so the spec runner inherits
    their exactly-once sink and resume semantics: ``builtin``
    (dropDuplicatesWithinWatermark, streaming/pipeline.py) for bounded
    horizons and ``indexed`` (the generation-segment index,
    streaming/indexed.py) for durable, unbounded ones.  ``dedup: indexed``
    owns its own sink and keeps no watermark, so a spec combining it with
    ``stages`` or ``watermark`` is rejected rather than silently ignored.
    Returns the started StreamingQuery; the caller drives it."""
    from dataflow_spark.streaming.pipeline import (
        file_stream_source,
        idempotent_parquet_sink,
        streaming_builtin_dedup,
    )

    if isinstance(spec, str):
        spec = load_spec(spec)
    scfg = spec.get("stream")
    if not isinstance(scfg, dict):
        raise ValueError("streaming spec needs a 'stream' mapping")
    unknown = set(scfg) - {"dedup", "watermark", "max_files_per_trigger"}
    if unknown:
        raise ValueError(f"stream block: unknown key(s) {sorted(unknown)}")
    tier = scfg.get("dedup", "builtin")
    if tier not in ("builtin", "indexed"):
        raise ValueError(f"stream.dedup {tier!r}: 'builtin' or 'indexed'")
    watermark = scfg.get("watermark", "10 minutes")
    per_trigger = int(scfg.get("max_files_per_trigger", 1))
    stages = spec.get("stages") or []

    if tier == "indexed":
        if stages:
            raise ValueError(
                "stream.dedup=indexed owns its sink and carries no operator "
                "chain; drop 'stages' or pick another tier"
            )
        if "watermark" in scfg:
            raise ValueError(
                "stream.dedup=indexed keeps no watermark (its horizon is "
                "expire_seen_index); drop 'watermark' or pick 'builtin'"
            )
        from dataflow_spark.streaming.indexed import (
            run_exact_dedup_stream_indexed,
        )

        return run_exact_dedup_stream_indexed(
            spark, corpus_dir, out_dir, checkpoint_dir,
            max_files_per_trigger=per_trigger,
        )

    stream = file_stream_source(spark, corpus_dir, per_trigger)
    deduped = streaming_builtin_dedup(stream, watermark)
    out = pipeline_from_spec(spec).run(deduped) if stages else deduped
    sink = idempotent_parquet_sink(
        out_dir, metrics_path=os.path.join(out_dir, "_metrics.jsonl")
    )
    return (
        out.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


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
