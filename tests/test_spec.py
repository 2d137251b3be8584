"""Config-driven pipeline runner (dataflow_spark/core/spec.py) — the
reference's compose-by-name surface (cli.py:231-264, core/operator.py:17-28)
run from a declarative spec file."""

import json

import pytest
from pyspark.sql import functions as F


def _docs(spark):
    rows = [
        (0, 0, "the quick brown fox jumps over the lazy dog near the bank", "a"),
        (1, 1, "the quick brown fox jumps over the lazy dog near the bank", "a"),
        (2, 2, "short", "b"),
        (3, 3, "an entirely different document with plenty of distinct words here", "b"),
        (4, 4, None, "c"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "doc_seq", "text", "source"])


def test_run_repo_spec_matches_hand_chain(spark):
    """specs/text_pt_filter.yaml == the same chain composed by hand through
    get_operator — and the dedup/filter semantics hold (dup dropped,
    short/null dropped)."""
    from dataflow_spark.core.spec import load_spec, run_spec
    from dataflow_spark.core.stage import get_operator

    spec = load_spec("specs/text_pt_filter.yaml")
    got = run_spec(_docs(spark), spec)

    df = _docs(spark)
    for name, kw in (
        ("RemoveEmojiRefiner", {}),
        ("HtmlUrlRemoverRefiner", {}),
        ("RemoveExtraSpacesRefiner", {}),
        ("HashDeduplicateFilter", {"input_keys": ("text",), "seq_col": "doc_seq"}),
        ("ContentNullFilter", {}),
        ("WordNumberFilter", {"min_words": 5, "max_words": 100000}),
        ("SentenceNumberFilter", {"min_sentences": 1}),
        ("UniqueWordsFilter", {"threshold": 0.1}),
        ("CharNumberFilter", {"threshold": 20}),
    ):
        kw = dict(kw)
        if "input_keys" not in kw and name != "HashDeduplicateFilter":
            kw["input_key"] = "text"
        df = get_operator(name, **kw).apply(df)

    assert sorted(r.doc_id for r in got.collect()) == sorted(
        r.doc_id for r in df.collect()
    ) == [0, 3]


def test_spec_json_roundtrip(spark, tmp_path):
    from dataflow_spark.core.spec import run_spec

    p = tmp_path / "mini.json"
    p.write_text(
        json.dumps(
            {
                "name": "mini",
                "stages": [
                    {"operator": "WordNumberFilter",
                     "params": {"input_key": "text", "min_words": 5,
                                "max_words": 100000}},
                ],
            }
        )
    )
    out = run_spec(_docs(spark).where(F.col("text").isNotNull()), str(p))
    assert sorted(r.doc_id for r in out.collect()) == [0, 1, 3]


def test_spec_unknown_operator_fails_fast():
    from dataflow_spark.core.spec import pipeline_from_spec

    with pytest.raises(KeyError, match="NopeOperator"):
        pipeline_from_spec({"stages": [{"operator": "NopeOperator"}]})


def test_spec_bad_params_name_stage():
    from dataflow_spark.core.spec import pipeline_from_spec

    with pytest.raises(TypeError, match="stage #0 \\(WordNumberFilter\\)"):
        pipeline_from_spec(
            {"stages": [{"operator": "WordNumberFilter",
                         "params": {"bogus_kw_xyz": 1}}]}
        )


def test_spec_missing_column_validates_before_run(spark):
    """Compile-time key validation (the reference Pipeline.py:103-135
    analogue): a stage needing a column the input lacks raises BEFORE any
    execution, naming the stage."""
    from dataflow_spark.core.spec import pipeline_from_spec

    pipe = pipeline_from_spec(
        {"stages": [{"operator": "QAExtractor"}]}  # needs QA_pairs
    )
    with pytest.raises(KeyError, match="QA_pairs"):
        pipe.run(_docs(spark))


def test_spec_shape_errors():
    from dataflow_spark.core.spec import pipeline_from_spec

    with pytest.raises(ValueError, match="non-empty 'stages'"):
        pipeline_from_spec({"stages": []})
    with pytest.raises(ValueError, match="stage #0"):
        pipeline_from_spec({"stages": ["WordNumberFilter"]})
    with pytest.raises(ValueError, match="unknown key"):
        pipeline_from_spec(
            {"stages": [{"operator": "ContentNullFilter", "oops": 1}]}
        )


def test_spec_cli_validate_only(tmp_path, capsys, spark):
    """The CLI --validate-only path (argparse main) against a real parquet."""
    from dataflow_spark.core import spec as specmod

    inp = tmp_path / "in.parquet"
    _docs(spark).write.parquet(str(inp))
    specmod.main(
        ["specs/text_pt_filter.yaml", "--input", str(inp), "--output",
         str(tmp_path / "out"), "--validate-only"]
    )
    assert "validates" in capsys.readouterr().out


def test_code_spec_matches_composed_pipeline(spark):
    """specs/code_pt_filter.yaml (the reference code_pt chain as a spec)
    keeps exactly the rows the hand-composed pipeline_code_pt_reference
    expression keeps, on the same synthetic code corpus."""
    import __spark_entry__ as m
    from dataflow_spark.core.spec import run_spec

    sf = "/root/testdata/sf0.001"
    composed = {
        r.doc_id for r in m.pipeline_code_pt_reference(spark, sf).collect()
    }
    d = m._code_docs(spark, sf)
    got = {r.doc_id for r in run_spec(d, "specs/code_pt_filter.yaml").collect()}
    assert got == composed and len(got) > 0


def test_stream_spec_matches_batch(spark, tmp_path):
    """specs/stream_exact_dedup.yaml (round-5 streaming spec surface):
    the spec-launched stream produces the same survivor set as the batch
    chain (exact dedup by token hash + the same registry filters), with
    in-batch AND cross-batch dups dropped and the filter chain applied."""
    from dataflow_spark.core.spec import load_spec, run_stream_spec
    from tests.test_streaming import make_rows, write_file

    corpus_dir, out_dir, ckpt = (
        str(tmp_path / "c"), str(tmp_path / "o"), str(tmp_path / "k"),
    )
    a, b, c = list(range(100, 140)), list(range(500, 540)), list(range(900, 940))
    write_file(spark, make_rows([(1, a, "cc", 0), (2, a, "cc", 1)]), corpus_dir)
    write_file(spark, make_rows([(11, a, "cc", 30), (12, b, "web", 31)]), corpus_dir)
    # (31, []) survives dedup but dies in the WordNumberFilter stage —
    # proves the post-dedup operator chain actually runs on the stream
    write_file(
        spark,
        make_rows([(21, b, "web", 60), (22, c, "book", 61), (31, [], "cc", 62)]),
        corpus_dir,
    )

    q = run_stream_spec(
        spark, load_spec("specs/stream_exact_dedup.yaml"),
        corpus_dir, out_dir, ckpt,
    )
    q.processAllAvailable()
    q.stop()

    got = {
        r._th for r in spark.read.parquet(out_dir)
        .select(F.xxhash64("tokens").alias("_th")).collect()
    }
    # batch equivalent: exact dedup by token hash + the same registry chain
    from dataflow_spark.core.stage import get_operator
    from dataflow_spark.operators.dedup import exact_dedup

    batch = exact_dedup(
        spark.read.parquet(corpus_dir).withColumn("_th", F.xxhash64("tokens")),
        hash_col="_th",
    )
    batch = get_operator("ContentNullFilter", input_key="text").apply(batch)
    batch = get_operator(
        "WordNumberFilter", input_key="text", min_words=1, max_words=100000
    ).apply(batch)
    want = {r._th for r in batch.select("_th").collect()}
    assert got == want
    assert spark.read.parquet(out_dir).count() == 3  # empty-token row filtered


def test_stream_spec_indexed_tier_and_rejections(spark, tmp_path):
    """The indexed tier delegates to the generation-segment operator; a
    spec combining it with stages or a watermark is rejected, as are an
    unknown tier and the removed n_shards key."""
    import pytest as _pytest

    from dataflow_spark.core.spec import run_stream_spec
    from tests.test_streaming import make_rows, write_file

    corpus_dir = str(tmp_path / "c")
    write_file(spark, make_rows([(1, [1, 2, 3], "cc", 0)]), corpus_dir)

    with _pytest.raises(ValueError, match="owns its sink"):
        run_stream_spec(
            spark,
            {"stream": {"dedup": "indexed"},
             "stages": [{"operator": "ContentNullFilter"}]},
            corpus_dir, str(tmp_path / "o1"), str(tmp_path / "k1"),
        )
    with _pytest.raises(ValueError, match="no watermark"):
        run_stream_spec(
            spark, {"stream": {"dedup": "indexed", "watermark": "1 hour"}},
            corpus_dir, str(tmp_path / "o1"), str(tmp_path / "k1"),
        )
    for tier in ("nope", "custom", "tws"):
        with _pytest.raises(ValueError, match="'builtin' or 'indexed'"):
            run_stream_spec(
                spark, {"stream": {"dedup": tier}},
                corpus_dir, str(tmp_path / "o2"), str(tmp_path / "k2"),
            )
    for tier in ("builtin", "indexed"):
        with _pytest.raises(ValueError, match="unknown key.*n_shards"):
            run_stream_spec(
                spark, {"stream": {"dedup": tier, "n_shards": 8}},
                corpus_dir, str(tmp_path / "o2"), str(tmp_path / "k2"),
            )
    q = run_stream_spec(
        spark, {"stream": {"dedup": "indexed"}},
        corpus_dir, str(tmp_path / "o3"), str(tmp_path / "k3"),
    )
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(str(tmp_path / "o3")).count() == 1
