"""SparkSession factory tuned for the dedup+filter pipeline.

Defaults are chosen for one box (local[N], N = the CPUs this process may
use) but every knob is the one you would set on a 1000-executor cluster too:
AQE on (runtime re-plan + skew-join splitting), Arrow for every pandas UDF
boundary, UTC so results compare bit-for-bit against the DuckDB oracle, and
one shuffle partition per core.  Batch shuffles are AQE-coalesced whatever the
count; a stream's state partition count is fixed at its first start (Spark
records it in the offset log) and every state partition pays a fixed commit
per micro-batch, so more partitions than cores only adds task waves.

Class-data archive.  Class loading is most of a short driver JVM's warm-up
(Lion et al., OSDI 2016), and JDK 13+ can map the classes an earlier run
loaded from a dynamic archive (JEP 350).  When ``get_spark`` launches the
driver JVM it passes ``-XX:SharedArchiveFile=<archive> -Xshare:auto``:

* The archive is keyed by the ``java`` binary (``$JAVA_HOME/bin/java``, else
  the one on ``PATH``: the launcher's pick), the name, size and mtime of
  every ``$SPARK_HOME/jars`` entry, and the driver heap (above 32 GiB the
  JVM drops compressed oops).  It lives in
  ``${XDG_CACHE_HOME:-~/.cache}/dataflow_spark/cds/<key>.jsa``, beside a
  ``<key>.json`` record of its published size.
* When it is missing, a trainer child builds it once, and the launch waits:
  the child runs a tiny synthetic corpus through the batch chain and one
  trigger of each exact stream under ``-XX:ArchiveClassesAtExit``, closes
  the gateway's stdin, and publishes the archive with ``os.replace`` only
  after the JVM exits 0.  On a 4-core box that costs 41-56 s once and
  writes a 184 MB archive; session start then falls from about 9 s to
  about 4 s (NOTES.md, "Class-data archive").  A failed or timed-out trainer leaves ``<key>.failed``, an
  unwritable cache trains nothing, and neither retries, so no later
  ``setup_s`` pays for a trainer again.  Clear the cache to retrain.
* An archive whose size differs from its record is never mapped: the JVM
  dies with SIGBUS on a truncated one even under ``-Xshare:auto``.  One
  built for another classpath only warns and falls back.
* The flags go in ``spark.driver.defaultJavaOptions``, which Spark prepends
  to ``extraJavaOptions``: a caller setting the latter (perfbench sets its
  tmpdir there) would otherwise replace them.
* The JVM refuses to dump with a non-empty directory on the classpath, and
  Spark always puts its conf dir there.  So for the launch only,
  ``SPARK_CONF_DIR`` points at an empty ``conf`` dir in the cache.  That
  hides nothing only when the effective conf dir holds nothing but
  ``*.template`` files and ``HADOOP_CONF_DIR``/``YARN_CONF_DIR`` are unset;
  otherwise the session starts without the archive.
"""

from __future__ import annotations

import contextlib
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# A trainer that has not published by then is killed and its key marked failed.
TRAIN_TIMEOUT_S = 300


def get_spark(
    app_name: str = "dataflow_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master, conf = _conf(cpus, shuffle_partitions, extra_conf)
    with _class_data_archive(conf["spark.driver.memory"]) as options:
        if options:
            key = "spark.driver.defaultJavaOptions"
            conf[key] = " ".join(filter(None, (conf.get(key), options)))
        return _start(app_name, master, conf)


def _conf(
    cpus: int | None, shuffle_partitions: int | None, extra_conf: dict[str, str] | None
) -> tuple[str, dict[str, str]]:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    # SPARK_GRAFT_MASTER overrides the master verbatim — a tools/ab.py leg
    # such as `.:SPARK_GRAFT_MASTER=local-cluster[2,4,6144]` runs the engine
    # on local-cluster[N,c,mem] (real separate executor JVMs, each with its
    # own shuffle/state/Python workers): the honest single-box stand-in for
    # the north rule's "N and 4N executors" criterion.  Executors are separate processes, so
    # they need the repo on their workers' PYTHONPATH (on a real cluster:
    # spark-submit --py-files dist/dataflow_spark.zip, see tests/test_submit).
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.default.parallelism": str(cpus),
        "spark.sql.session.timeZone": "UTC",
        # AQE: runtime coalescing of shuffle partitions + skew-join splitting —
        # at 100 TB this is what absorbs the 70%-hot `cc` source key.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Arrow everywhere a pandas UDF runs; big batches amortize transfer.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # Parquet scan sizing: 128 MiB splits keep 100 TB ~ 800k tasks, fine.
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.sql.parquet.filterPushdown": "true",
        # File-stream triggers list their files on the driver: above this
        # many paths (default 32) FileStreamSource's InMemoryFileIndex runs
        # a parallel-listing Spark job in every getBatch.  On a 4-core box
        # at 96 files per trigger, getBatch p50 was 0.73-0.92 s with that
        # job and 40-50 ms listed serially (NOTES.md, "Stream micro-batch
        # floor").  The value sits above any sane maxFilesPerTrigger.  The
        # production Iceberg source reads its file list from table metadata
        # and lists no files.
        "spark.sql.sources.parallelPartitionDiscovery.threshold": "100000",
        "spark.ui.enabled": "false",
        # Local mode: driver.memory IS the whole JVM, and per-task working
        # memory (shuffle/Arrow/agg buffers) scales with CONCURRENT tasks —
        # a fixed 8g that survives 8 threads heap-OOMs at 32 threads on a
        # 4x corpus (measured: minhash r3200 died in the bucket shuffle).
        # 1 GiB/core mirrors a typical executor sizing (4-8 cores, 4-8 GiB).
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", f"{max(8, cpus)}g"),
        # Broadcast joins up to 64 MiB — dimension tables / blocklists.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    }
    if master.startswith("local-cluster"):
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        conf.update({
            "spark.executor.memory": os.environ.get("SPARK_EXECUTOR_MEM", "5g"),
            # driver no longer hosts the tasks — shrink it back down
            "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "8g"),
            "spark.executorEnv.PYTHONPATH": repo_root,
        })
    conf.update(extra_conf or {})
    return master, conf


def _start(app_name: str, master: str, conf: dict[str, str]) -> SparkSession:
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# --------------------------------------------------------------------------
# class-data archive
# --------------------------------------------------------------------------


@contextlib.contextmanager
def _class_data_archive(heap: str):
    """Yield the driver java options that map this JDK's, jar set's and
    heap's archive, or None.  While the caller launches, ``SPARK_CONF_DIR``
    is the cache's empty conf dir: the classpath the archive was dumped
    with."""
    cache = _cache_dir()
    # pyspark launches a JVM only when none is up in this process and none
    # handed its port down (a spark-submit'd driver)
    launches = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    archive = _archive(cache, heap) if launches and _conf_dir_holds_only_templates() else None
    if archive is None:
        yield None
        return
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = os.path.join(cache, "conf")
    try:
        yield f"-XX:SharedArchiveFile={archive} -Xshare:auto"
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def _cache_dir() -> str:
    root = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(root, "dataflow_spark", "cds")


def _conf_dir_holds_only_templates() -> bool:
    """True when swapping Spark's conf dir for an empty one hides nothing."""
    if os.environ.get("HADOOP_CONF_DIR") or os.environ.get("YARN_CONF_DIR"):
        return False
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")
    try:
        names = os.listdir(conf_dir)
    except FileNotFoundError:
        names = []
    return all(n.endswith(".template") for n in names)


def _java() -> str | None:
    """The ``java`` that Spark's launcher runs."""
    java_home = os.environ.get("JAVA_HOME")
    return os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")


def _archive_key(heap: str) -> str:
    """Raises OSError when there is no ``java`` or jars dir to key on."""
    java = _java()
    if java is None:
        raise FileNotFoundError("no java on PATH and JAVA_HOME unset")
    java = os.path.realpath(java)
    st = os.stat(java)
    h = hashlib.sha256(f"{java} {st.st_size} {st.st_mtime_ns} {heap}\n".encode())
    jars = os.path.join(_find_spark_home(), "jars")
    for e in sorted(os.scandir(jars), key=lambda e: e.name):
        st = e.stat()
        h.update(f"{e.name} {st.st_size} {st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:20]


def _published(path: str) -> bool:
    """``path.jsa`` exists at the size its trainer recorded."""
    try:
        with open(path + ".json") as f:
            size = json.load(f)["bytes"]
        return os.path.getsize(path + ".jsa") == size
    except (OSError, ValueError, KeyError):
        return False


def _archive(cache: str, heap: str) -> str | None:
    """The published archive for this JDK, jar set and heap, trained first
    when this key has neither a record nor a failure marker; None when
    there is none to map."""
    try:
        path = os.path.join(cache, _archive_key(heap))
    except OSError:
        return None

    def untried() -> bool:
        return not os.path.exists(path + ".json") and not os.path.exists(path + ".failed")

    if untried():
        try:
            os.makedirs(os.path.join(cache, "conf"), exist_ok=True)
            lock = open(path + ".lock", "a")
        except OSError:
            return None  # an unwritable cache: no archive and no trainer
        with lock:
            # one trainer per key: a concurrent session waits, then maps its archive
            fcntl.flock(lock, fcntl.LOCK_EX)
            if untried():
                _train(path, heap)
    try:
        conf_empty = not os.listdir(os.path.join(cache, "conf"))
    except OSError:
        conf_empty = False
    return path + ".jsa" if conf_empty and _published(path) else None


def _train(path: str, heap: str) -> None:
    """Run the trainer child for ``path``; on failure or timeout kill its
    process group, drop its partial archive and mark the key failed."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # the driver's classes in local mode are a superset of local-cluster's
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_MASTER"}
    env["SPARK_CONF_DIR"] = os.path.join(os.path.dirname(path), "conf")
    env["PYTHONPATH"] = os.pathsep.join(filter(None, (root, env.get("PYTHONPATH"))))
    rc = None
    with open(path + ".log", "w") as log:
        child = subprocess.Popen(
            [sys.executable, "-m", "dataflow_spark.session", path, heap],
            stdin=subprocess.DEVNULL, stdout=log, stderr=subprocess.STDOUT,
            env=env, start_new_session=True,
        )
        try:
            rc = child.wait(TRAIN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            if rc != 0:
                # the child's JVM shares its process group and may outlive it
                with contextlib.suppress(ProcessLookupError):
                    os.killpg(child.pid, signal.SIGKILL)
                child.wait()
    if rc != 0:
        with contextlib.suppress(FileNotFoundError):
            os.remove(path + ".jsa.tmp")
        with open(path + ".failed", "w") as f:
            why = f"timed out after {TRAIN_TIMEOUT_S} s" if rc is None else f"exited {rc}"
            f.write(f"trainer {why}; see {path}.log\n")


def _dump(path: str, heap: str) -> None:
    """The trainer child: run the engine's jobs under
    ``-XX:ArchiveClassesAtExit``, let the JVM exit, and publish
    ``path.jsa`` and its size record once it has exited 0."""
    t0 = time.monotonic()
    tmp = path + ".jsa.tmp"
    master, conf = _conf(None, None, {
        "spark.driver.memory": heap,
        "spark.driver.defaultJavaOptions": f"-XX:ArchiveClassesAtExit={tmp}",
    })
    spark = _start("dataflow_spark_cds", master, conf)
    with tempfile.TemporaryDirectory(prefix="dataflow_spark_cds-") as d:
        _exercise(spark, d)
    spark.stop()
    jvm = SparkContext._gateway.proc
    jvm.stdin.close()  # the gateway JVM exits at EOF on its stdin, and dumps then
    rc = jvm.wait()
    if rc != 0:
        sys.exit(f"driver JVM exited {rc}: no archive published")
    size = os.path.getsize(tmp)
    os.replace(tmp, path + ".jsa")
    with open(path + ".json.tmp", "w") as f:
        json.dump({"bytes": size, "train_s": round(time.monotonic() - t0, 1)}, f)
    os.replace(path + ".json.tmp", path + ".json")


def _exercise(spark: SparkSession, d: str) -> None:
    """Load the classes a cold run needs: the batch chain (filters, exact and
    MinHash dedup, an Arrow fetch) and one trigger of each exact stream."""
    from dataflow_spark.corpus import synthetic_corpus
    from dataflow_spark.operators.dedup import exact_dedup, minhash_dedup, token_hash
    from dataflow_spark.operators.filters import keep_n_tok_range, keep_unique_tokens
    from dataflow_spark.streaming.indexed import run_exact_dedup_stream_indexed
    from dataflow_spark.streaming.pipeline import run_dedup_filter_stream

    data = os.path.join(d, "data")
    synthetic_corpus(spark, 400).repartition(4).write.parquet(data)
    kept = spark.read.parquet(data).where(keep_n_tok_range(8, 100_000) & keep_unique_tokens(0.1))
    exact = exact_dedup(kept.withColumn("_th", token_hash()), seq_col="doc_seq", hash_col="_th")
    minhash_dedup(exact, seq_col="doc_seq", use_tokens=True, token_ngram=3).select("doc_seq").toPandas()
    for name, run in (("builtin", run_dedup_filter_stream), ("indexed", run_exact_dedup_stream_indexed)):
        q = run(spark, data, os.path.join(d, name, "out"), os.path.join(d, name, "ckpt"),
                max_files_per_trigger=4)
        try:
            q.processAllAvailable()
        finally:
            q.stop()


if __name__ == "__main__":
    _dump(*sys.argv[1:])
