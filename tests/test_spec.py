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


def _stream_corpus(spark, corpus_dir):
    """Three one-file triggers with in-batch and cross-batch exact dups of
    ``a`` and of ``b``, plus two rows that survive dedup and die in the
    specs' post-dedup chain: (31, []) in WordNumberFilter (the builtin
    tier's ``n_tok >= 1`` drops it first) and (32, null text) in
    ContentNullFilter."""
    from tests.test_streaming import make_rows, write_file

    a, b, c = list(range(100, 140)), list(range(500, 540)), list(range(900, 940))
    write_file(spark, make_rows([(1, a, "cc", 0), (2, a, "cc", 1)]), corpus_dir)
    write_file(spark, make_rows([(11, a, "cc", 30), (12, b, "web", 31)]), corpus_dir)
    null_text = make_rows([(32, list(range(1300, 1340)), "cc", 63)])
    null_text = [r[:2] + (None,) + r[3:] for r in null_text]
    write_file(
        spark,
        make_rows([(21, b, "web", 60), (22, c, "book", 61), (31, [], "cc", 62)])
        + null_text,
        corpus_dir,
    )


def _spec_chain(batch):
    from dataflow_spark.core.stage import get_operator

    batch = get_operator("ContentNullFilter", input_key="text").apply(batch)
    return get_operator(
        "WordNumberFilter", input_key="text", min_words=1, max_words=100000
    ).apply(batch)


@pytest.mark.parametrize("tier", ["builtin", "indexed"])
def test_stream_spec_matches_batch(spark, tmp_path, tier):
    """specs/stream_exact_dedup.yaml on each exact tier: the spec-launched
    stream produces the same survivor set as the batch chain (exact dedup
    by token hash + the same registry filters), with in-batch AND
    cross-batch dups dropped and the filter chain applied to the dedup
    survivors.  The indexed tier also keeps the batch's min-doc_seq row of
    each hash; on the builtin tier that row is Spark's pick."""
    from dataflow_spark.core.spec import load_spec, run_stream_spec
    from dataflow_spark.operators.dedup import exact_dedup

    corpus_dir, out_dir, ckpt = (
        str(tmp_path / "c"), str(tmp_path / "o"), str(tmp_path / "k"),
    )
    _stream_corpus(spark, corpus_dir)
    spec = load_spec("specs/stream_exact_dedup.yaml")
    if tier == "indexed":
        spec["stream"] = {"dedup": "indexed", "max_files_per_trigger": 1}

    q = run_stream_spec(spark, spec, corpus_dir, out_dir, ckpt)
    q.processAllAvailable()
    q.stop()

    out = spark.read.parquet(out_dir).withColumn("_th", F.xxhash64("tokens"))
    got = {(r._th, r.doc_seq) for r in out.select("_th", "doc_seq").collect()}
    batch = _spec_chain(exact_dedup(
        spark.read.parquet(corpus_dir).withColumn("_th", F.xxhash64("tokens")),
        hash_col="_th",
    ))
    want = {(r._th, r.doc_seq) for r in batch.select("_th", "doc_seq").collect()}
    assert {h for h, _ in got} == {h for h, _ in want}
    if tier == "indexed":
        assert got == want
    assert out.count() == 3  # empty-token and null-text rows filtered


def test_stream_spec_near_matches_batch(spark, tmp_path):
    """specs/stream_near_dedup.yaml through run_stream_spec keeps the same
    survivors as batch minhash_dedup at the near tier's bands/num_perm,
    then the same registry chain: the in-batch exact dup, the cross-batch
    near dup of ``b`` (one token of 40 edited) and both chain rejects are
    gone."""
    from dataflow_spark.core.spec import run_stream_spec
    from dataflow_spark.operators.dedup import minhash_dedup
    from tests.test_streaming import make_rows, write_file

    corpus_dir, out_dir, ckpt = (
        str(tmp_path / "c"), str(tmp_path / "o"), str(tmp_path / "k"),
    )
    _stream_corpus(spark, corpus_dir)
    near_b = [7] + list(range(501, 540))
    write_file(spark, make_rows([(41, near_b, "web", 90)]), corpus_dir)

    q = run_stream_spec(
        spark, "specs/stream_near_dedup.yaml", corpus_dir, out_dir, ckpt
    )
    q.processAllAvailable()
    q.stop()

    got = {r.doc_seq for r in spark.read.parquet(out_dir).select("doc_seq").collect()}
    batch = _spec_chain(minhash_dedup(
        spark.read.parquet(corpus_dir), use_tokens=True, token_ngram=3,
        bands=16, num_perm=128,
    ))
    assert got == {r.doc_seq for r in batch.select("doc_seq").collect()}
    assert got == {1, 12, 22}


def test_stream_spec_indexed_tier_and_rejections(spark, tmp_path):
    """The index tiers take a post-dedup chain; a watermark on either is
    rejected, as are an unknown tier and the removed n_shards key — all
    before anything is written."""
    from dataflow_spark.core.spec import run_stream_spec
    from tests.test_streaming import make_rows, write_file

    corpus_dir = str(tmp_path / "c")
    write_file(spark, make_rows([(1, [1, 2, 3], "cc", 0)]), corpus_dir)

    def rejects(match, stream):
        with pytest.raises(ValueError, match=match):
            run_stream_spec(
                spark, {"stream": stream},
                corpus_dir, str(tmp_path / "o1"), str(tmp_path / "k1"),
            )

    for tier in ("indexed", "near"):
        rejects("no watermark", {"dedup": tier, "watermark": "1 hour"})
    for tier in ("nope", "custom", "tws"):
        rejects("'builtin', 'indexed' or 'near'", {"dedup": tier})
    for tier in ("builtin", "indexed", "near"):
        rejects("unknown key.*n_shards", {"dedup": tier, "n_shards": 8})
    assert not (tmp_path / "o1").exists() and not (tmp_path / "k1").exists()
    q = run_stream_spec(
        spark,
        {"stream": {"dedup": "indexed"},
         "stages": [{"operator": "ContentNullFilter"}]},
        corpus_dir, str(tmp_path / "o3"), str(tmp_path / "k3"),
    )
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(str(tmp_path / "o3")).count() == 1


@pytest.mark.parametrize("value", [0, -1, True, 2.7], ids=str)
def test_stream_spec_rejects_bad_max_files_per_trigger(spark, tmp_path, value):
    """``max_files_per_trigger`` must be a positive int: 0 and -1 would
    fail only inside the started query, after its checkpoint dir exists,
    and True and 2.7 would run as 1 and 2.  Each is refused before
    anything is written."""
    from dataflow_spark.core.spec import run_stream_spec

    with pytest.raises(ValueError, match="max_files_per_trigger"):
        run_stream_spec(
            spark, {"stream": {"max_files_per_trigger": value}},
            str(tmp_path / "c"), str(tmp_path / "o"), str(tmp_path / "k"),
        )
    assert list(tmp_path.iterdir()) == []


def test_spec_unknown_top_level_key_refused(spark, tmp_path):
    """A spec that misspells ``stages`` as ``stage`` is refused by all
    three entry points with an error naming the key, before anything is
    written; so is a ``stream`` block given to a batch runner."""
    from dataflow_spark.core import spec as specmod

    stage = [{"operator": "ContentNullFilter"}]
    with pytest.raises(ValueError, match=r"\['stage'\]"):
        specmod.run_stream_spec(
            spark, {"stream": {"dedup": "indexed"}, "stage": stage},
            str(tmp_path / "c"), str(tmp_path / "o"), str(tmp_path / "k"),
        )
    assert list(tmp_path.iterdir()) == []

    with pytest.raises(ValueError, match=r"\['stage'\]"):
        specmod.run_spec(_docs(spark), {"stages": stage, "stage": stage})
    with pytest.raises(ValueError, match=r"\['stream'\]"):
        specmod.run_spec(_docs(spark), {"stages": stage, "stream": {}})

    path = tmp_path / "typo.json"
    path.write_text(json.dumps({"name": "typo", "stage": stage}))
    with pytest.raises(ValueError, match=r"\['stage'\]"):
        specmod.main(
            [str(path), "--input", str(tmp_path / "in"), "--output",
             str(tmp_path / "out")]
        )
    assert sorted(p.name for p in tmp_path.iterdir()) == ["typo.json"]
