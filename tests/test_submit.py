"""spark-submit --py-files launchability (north rule's launch path).

Builds the --py-files zip into the test's tmp dir (the committed
dist/dataflow_spark.zip is left alone), then runs jobs/stream_job.py under a
real ``spark-submit`` subprocess against a 3-row corpus, in both ``--mode``
values, and checks the exactly-once sink output and its one ``v: 1``
metrics record per output batch.  The flag-to-spec mapping
of the near mode is also driven in-process, through the job's ``main``.
"""

from __future__ import annotations

import json
import os
import runpy
import shutil
import subprocess
import sys

import pytest

from tests.test_streaming import V1_KEYS, make_rows, toks, write_file

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit")


def _submit_stream_job(spark, tmp_path, master, conf=(), mode="exact", timeout=420):
    """Run jobs/stream_job.py --once under spark-submit --py-files on the
    3-row corpus (d2 an exact dup of d1); returns the emitted doc_ids."""
    corpus_dir = str(tmp_path / "c")
    out_dir = str(tmp_path / "o")
    ckpt = str(tmp_path / "k")
    write_file(
        spark,
        make_rows(
            [
                (1, toks(1, 2, 3, 4, 5, 6, 7, 8), "cc", 0),
                (2, toks(1, 2, 3, 4, 5, 6, 7, 8), "cc", 1),  # exact dup
                (3, toks(9, 10, 11, 12, 13, 14, 15, 16), "web", 2),
            ]
        ),
        corpus_dir,
    )
    zip_path = subprocess.run(
        [
            sys.executable,
            os.path.join(ROOT, "tools", "build_pyfiles.py"),
            str(tmp_path / "dataflow_spark.zip"),
        ],
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    assert os.path.exists(zip_path)

    env = dict(os.environ)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env.pop("PYSPARK_GATEWAY_SECRET", None)
    conf_args = []
    for c in ("spark.sql.shuffle.partitions=4", "spark.ui.enabled=false", *conf):
        conf_args += ["--conf", c]
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master",
            master,
            *conf_args,
            "--py-files",
            zip_path,
            os.path.join(ROOT, "jobs", "stream_job.py"),
            "--corpus",
            corpus_dir,
            "--out",
            out_dir,
            "--checkpoint",
            ckpt,
            "--mode",
            mode,
            "--min-tok",
            "1",
            "--once",
        ],
        capture_output=True,
        text=True,
        env=env,
        timeout=timeout,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    # the shipped zip carries the one writer: one v1 record per output batch
    with open(os.path.join(out_dir, "_metrics.jsonl")) as fh:
        recs = [json.loads(line) for line in fh]
    written = sorted(
        int(d[len("batch_id="):]) for d in os.listdir(out_dir)
        if d.startswith("batch_id=")
    )
    assert [r["batch_id"] for r in recs] == written, recs
    tier = {"exact": "builtin", "near": "near"}[mode]
    assert all(
        set(r) == V1_KEYS and r["v"] == 1 and r["tier"] == tier for r in recs
    ), recs
    return {r.doc_id for r in spark.read.parquet(out_dir).select("doc_id").collect()}


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_pyfiles_stream_job(spark, tmp_path):
    got = _submit_stream_job(spark, tmp_path, "local[4]")
    # d1/d2 share one batch: the builtin tier keeps one, Spark picks which
    assert got in ({"d000001", "d000003"}, {"d000002", "d000003"})


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_pyfiles_stream_job_near(spark, tmp_path):
    """--mode near launches the MinHash near-dedup stream on its durable
    band index; the min doc_seq of the d1/d2 cluster survives."""
    got = _submit_stream_job(spark, tmp_path, "local[4]", mode="near")
    assert got == {"d000001", "d000003"}


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_pyfiles_multi_executor(spark, tmp_path):
    """The north rule's literal launch path: spark-submit --py-files on a
    MULTI-EXECUTOR cluster — local-cluster[2,2,2048] spawns two separate
    executor JVMs (own heap/shuffle/Python workers); the zip ships the
    engine to them, exactly like --py-files on a real cluster."""
    got = _submit_stream_job(
        spark, tmp_path, "local-cluster[2,2,2048]",
        conf=("spark.executor.memory=1g",), timeout=600,
    )
    # d1/d2 share one batch: the builtin tier keeps one, Spark picks which
    assert got in ({"d000001", "d000003"}, {"d000002", "d000003"})


def test_stream_job_near_flags(spark, tmp_path):
    """``--mode near`` rejects ``--watermark`` before anything is written,
    and its survivors pass ``--min-tok``/``--max-tok`` (n_tok in [5, 8)):
    d1 (8 tokens) and its exact dup d2 are out, d3 (4) is too short, d4
    (6) stays."""
    main = runpy.run_path(os.path.join(ROOT, "jobs", "stream_job.py"))["main"]
    corpus_dir, out_dir, ckpt = (
        str(tmp_path / "c"), str(tmp_path / "o"), str(tmp_path / "k"),
    )
    write_file(
        spark,
        make_rows(
            [
                (1, toks(1, 2, 3, 4, 5, 6, 7, 8), "cc", 0),
                (2, toks(1, 2, 3, 4, 5, 6, 7, 8), "cc", 1),
                (3, toks(9, 10, 11, 12), "web", 2),
                (4, toks(20, 21, 22, 23, 24, 25), "web", 3),
            ]
        ),
        corpus_dir,
    )
    argv = ["--corpus", corpus_dir, "--out", out_dir, "--checkpoint", ckpt,
            "--mode", "near", "--once"]
    with pytest.raises(ValueError, match="no watermark"):
        main(argv + ["--watermark", "1 hour"])
    assert not os.path.exists(out_dir) and not os.path.exists(ckpt)
    main(argv + ["--min-tok", "5", "--max-tok", "8"])
    got = {r.doc_id for r in spark.read.parquet(out_dir).select("doc_id").collect()}
    assert got == {"d000004"}
