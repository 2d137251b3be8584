"""text2sql executable-filter + component-classifier tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from dataflow_spark.core.stage import get_operator
from dataflow_spark.operators.text2sql import (
    sql_difficulty,
    sql_executability_filter,
)

STMTS = [
    ("a", "SELECT 1 AS x"),
    ("b", "SELECT count(*) FROM t WHERE v > 3"),
    ("c", "SELEC 1"),  # typo -> parse error
    ("d", "SELECT * FROM missing_table"),  # binder error (no such table)
    ("e", "SELECT t.v, count(*) FROM t JOIN t AS u ON t.v = u.v GROUP BY t.v ORDER BY 2"),
]
SETUP = "CREATE TABLE t (v INTEGER)"


def test_sql_executability_filter(spark):
    df = spark.createDataFrame(STMTS, ["id", "sql"])
    kept = {r.id for r in sql_executability_filter(df, setup_sql=SETUP).collect()}
    assert kept == {"a", "b", "e"}


def test_sql_injection_rejected(spark):
    # Multi-statement payloads must label 0 (never execute the tail), and the
    # shared per-partition connection must stay intact for later rows.
    rows = [
        ("ok1", "SELECT count(*) FROM t"),
        ("inj", "SELECT 1; DROP TABLE t"),
        ("ok2", "SELECT v FROM t"),  # would fail if the DROP had executed
        ("ext", "COPY (SELECT 1) TO '/tmp/_sqlinj_probe.csv'"),
    ]
    df = spark.createDataFrame(rows, ["id", "sql"]).coalesce(1)
    kept = {r.id for r in sql_executability_filter(df, setup_sql=SETUP).collect()}
    assert kept == {"ok1", "ok2"}
    import os

    assert not os.path.exists("/tmp/_sqlinj_probe.csv")


def test_sql_executability_stage_labels(spark):
    df = spark.createDataFrame(STMTS, ["id", "sql"])
    out = get_operator("SQLExecutabilityFilter", setup_sql=SETUP).apply(df)
    assert set(out.columns) >= {"id", "sql", "sql_ok"}
    assert out.where(F.col("sql_ok") != 1).count() == 0  # survivors all labeled 1


def test_sql_component_classifier(spark):
    df = spark.createDataFrame(STMTS, ["id", "sql"])
    out = {r.id: r for r in get_operator("SQLComponentClassifier").apply(df).collect()}
    assert out["e"].n_joins == 1
    assert out["e"].n_group_by == 1
    assert out["e"].n_order_by == 1
    assert out["e"].n_aggs == 1
    assert out["a"].sql_difficulty == "easy"
    assert out["e"].sql_difficulty == "hard"
    assert out["b"].sql_difficulty == "medium"


def test_difficulty_expression_matches_stage(spark):
    df = spark.createDataFrame(STMTS, ["id", "sql"])
    a = {r.id: r.d for r in df.select("id", sql_difficulty("sql").alias("d")).collect()}
    b = {
        r.id: r.sql_difficulty
        for r in get_operator("SQLComponentClassifier").apply(df).collect()
    }
    assert a == b


# ---------------------------------------------------------------------------
# SQLExecutionFilter (multi-database sqlite execution)
# ---------------------------------------------------------------------------


def _make_dbs(tmp_path):
    import sqlite3

    root = tmp_path / "dbs"
    root.mkdir()
    con = sqlite3.connect(root / "school.sqlite")
    con.execute("CREATE TABLE student (id INTEGER, name TEXT)")
    con.executemany("INSERT INTO student VALUES (?, ?)", [(1, "a"), (2, "b")])
    con.commit()
    con.close()
    # Spider-style nested layout for the second db
    (root / "shop").mkdir()
    con = sqlite3.connect(root / "shop" / "shop.sqlite")
    con.execute("CREATE TABLE item (sku TEXT, price REAL)")
    con.execute("INSERT INTO item VALUES ('x', 1.5)")
    con.commit()
    con.close()
    return str(root)


EXEC_ROWS = [
    # (id, db_id, sql, expect_kept) — expectation mirrors the reference flow:
    # phase-1 SELECT/WITH gate, then real execution success.
    ("flat_ok", "school", "SELECT count(*) FROM student", True),
    ("nested_ok", "shop", "SELECT sku FROM item WHERE price > 1", True),
    ("cte_ok", "school", "WITH c AS (SELECT id FROM student) SELECT * FROM c", True),
    ("comment_ok", "school", "/* hi */ -- lead\nSELECT id FROM student", True),
    ("bad_col", "school", "SELECT nope FROM student", False),
    ("bad_table", "shop", "SELECT * FROM student", False),
    ("syntax", "school", "SELEC 1", False),
    ("insert", "school", "INSERT INTO student VALUES (3, 'c')", False),
    ("multi", "school", "SELECT 1; DROP TABLE student", False),
    ("missing_db", "nowhere", "SELECT 1", False),
    ("write_attempt", "shop", "DELETE FROM item", False),
]


def test_sql_execution_filter(spark, tmp_path):
    from dataflow_spark.operators.text2sql import sql_execution_filter

    root = _make_dbs(tmp_path)
    df = spark.createDataFrame(
        [(i, d, s) for i, d, s, _ in EXEC_ROWS], ["id", "db_id", "sql"]
    )
    kept = {r.id for r in sql_execution_filter(df, root, "sql", "db_id").collect()}
    assert kept == {i for i, _, _, k in EXEC_ROWS if k}


def test_sql_execution_readonly_and_state(spark, tmp_path):
    # The injection row must not mutate the db for later rows in the same
    # partition, and the file on disk stays untouched (read-only connections).
    import sqlite3

    from dataflow_spark.operators.text2sql import sql_execution_filter

    root = _make_dbs(tmp_path)
    rows = [
        ("inj", "school", "SELECT 1; DELETE FROM student"),
        ("after", "school", "SELECT count(*) FROM student"),
    ]
    df = spark.createDataFrame(rows, ["id", "db_id", "sql"]).coalesce(1)
    kept = {r.id for r in sql_execution_filter(df, root, "sql", "db_id").collect()}
    assert kept == {"after"}
    con = sqlite3.connect(f"{root}/school.sqlite")
    assert con.execute("SELECT count(*) FROM student").fetchone()[0] == 2
    con.close()


def test_sql_execution_oracle_parity(spark, tmp_path):
    """Independent oracle: replay the reference's two-phase flow (comment
    strip + SELECT/WITH prefix, then direct sqlite execution) in plain Python
    and require identical survivors on a generated corpus."""
    import re
    import sqlite3

    from dataflow_spark.operators.text2sql import sql_execution_filter

    root = _make_dbs(tmp_path)
    corpus = []
    shapes = [
        "SELECT count(*) FROM student",
        "WITH c AS (SELECT id FROM student) SELECT count(*) FROM c",
        "SELECT missing FROM student",
        "UPDATE student SET name = 'z'",
        "SELECT id FROM student; SELECT 1",
        "-- only a comment",
    ]
    for i in range(60):
        corpus.append((f"r{i}", ["school", "shop", "ghost"][i % 3], shapes[i % 6]))

    def ref_keep(db_id, sql):
        s = re.sub(r"/\*.*?\*/", "", sql, flags=re.DOTALL)
        s = re.sub(r"--.*", "", s).strip()
        if not (s.lower().startswith("select") or s.lower().startswith("with")):
            return False
        for cand in (f"{root}/{db_id}.sqlite", f"{root}/{db_id}/{db_id}.sqlite"):
            import os

            if os.path.exists(cand):
                con = sqlite3.connect(f"file:{cand}?mode=ro", uri=True)
                try:
                    con.execute(sql).fetchall()
                    return True
                except Exception:
                    return False
                finally:
                    con.close()
        return False

    expected = {i for i, d, s in corpus if ref_keep(d, s)}
    df = spark.createDataFrame(corpus, ["id", "db_id", "sql"])
    kept = {r.id for r in sql_execution_filter(df, root, "sql", "db_id").collect()}
    assert kept == expected
    assert expected  # the corpus must actually keep something


# ---------------------------------------------------------------------------
# Text2SQLPromptGenerator (M-Schema introspection + template)
# ---------------------------------------------------------------------------


def test_text2sql_prompt_byte_parity(spark, tmp_path):
    """Hand-written expected prompt (no shared code with the engine): pins
    the M-Schema rendering — header glyphs, field lines, Primary Key flag,
    example truncation, email suppression, foreign-key lines — and the full
    task template with and without evidence."""
    import sqlite3

    from dataflow_spark.operators.text2sql import _PROMPT_TEMPLATE, text2sql_prompt

    root = tmp_path / "dbs"
    root.mkdir()
    con = sqlite3.connect(root / "petdb.sqlite")
    con.executescript(
        """
        CREATE TABLE pets (id INTEGER PRIMARY KEY, name TEXT);
        INSERT INTO pets VALUES (1, 'alpha'), (2, 'beta');
        CREATE TABLE toys (tid INTEGER, owner INTEGER REFERENCES pets(id),
                           contact TEXT);
        INSERT INTO toys VALUES (7, 1, 'a@b.com');
        """
    )
    con.commit()
    con.close()

    expected_details = (
        "【DB_ID】 petdb\n"
        "【Schema】\n"
        "# Table: pets\n"
        "[\n"
        "(id:INTEGER, Primary Key, Examples: [1, 2]),\n"
        "(name:TEXT, Examples: [alpha, beta])\n"
        "]\n"
        "# Table: toys\n"
        "[\n"
        "(tid:INTEGER, Examples: [7]),\n"
        "(owner:INTEGER, Examples: [1]),\n"
        "(contact:TEXT)\n"  # email examples suppressed
        "]\n"
        "【Foreign keys】\n"
        "toys.owner=pets.id"
    )
    rows = [
        ("r1", "petdb", "How many pets?", ""),
        ("r2", "petdb", "Which toys?", "toys belong to pets"),
    ]
    df = spark.createDataFrame(rows, ["id", "db_id", "question", "evidence"])
    out = {r.id: r.prompt for r in text2sql_prompt(df, str(root)).collect()}
    exp1 = _PROMPT_TEMPLATE.replace("{db_engine}", "sqlite").replace(
        "{db_details}", expected_details
    ).replace("{question_and_evidence}", "How many pets?")
    exp2 = _PROMPT_TEMPLATE.replace("{db_engine}", "sqlite").replace(
        "{db_details}", expected_details
    ).replace(
        "{question_and_evidence}", "toys belong to pets\nWhich toys?"
    )
    assert out["r1"] == exp1
    assert out["r2"] == exp2


def test_text2sql_prompt_missing_db_raises(spark, tmp_path):
    import pytest as _pytest

    from dataflow_spark.operators.text2sql import text2sql_prompt

    root = tmp_path / "empty"
    root.mkdir()
    df = spark.createDataFrame([("a", "ghost", "q?")], ["id", "db_id", "question"])
    with _pytest.raises(ValueError, match="ghost"):
        text2sql_prompt(df, str(root))


def test_text2sql_prompt_persists_nothing(spark, tmp_path):
    """The (db_id -> db_details) map is collected and broadcast, never
    cached: neither a successful call nor a missing-db failure leaves a
    persisted RDD behind (ids compared with those persisted before — the
    session is shared, and earlier tests' checkpoints may be collected
    meanwhile)."""
    import sqlite3

    import pytest as _pytest

    from dataflow_spark.operators.text2sql import text2sql_prompt

    root = tmp_path / "dbs"
    root.mkdir()
    con = sqlite3.connect(root / "petdb.sqlite")
    con.executescript(
        "CREATE TABLE pets (id INTEGER PRIMARY KEY, name TEXT);"
        "INSERT INTO pets VALUES (1, 'alpha');"
    )
    con.commit()
    con.close()
    jsc = spark.sparkContext._jsc
    before = set(dict(jsc.getPersistentRDDs()))
    df = spark.createDataFrame(
        [("r1", "petdb", "How many pets?", "")],
        ["id", "db_id", "question", "evidence"],
    )
    prompt = text2sql_prompt(df, str(root)).collect()[0].prompt
    assert "【DB_ID】 petdb" in prompt and prompt.endswith(
        "find the correct SQL query."
    )
    ghost = spark.createDataFrame([("a", "ghost", "q?")], ["id", "db_id", "question"])
    with _pytest.raises(ValueError, match="ghost"):
        text2sql_prompt(ghost, str(root))
    assert set(dict(jsc.getPersistentRDDs())) - before == set()


def test_resolve_db_path_recursive_glob(tmp_path):
    """discover_databases globs root/**/pattern recursively with db_id taken
    from the top-level directory name (sqlite_connector.py:330-353) — so a
    nested db whose FILE name differs from its directory, or one nested
    deeper than one level, must still resolve."""
    import sqlite3

    from dataflow_spark.operators.text2sql import _resolve_db_path

    root = tmp_path / "dbs"
    (root / "weird").mkdir(parents=True)
    sqlite3.connect(root / "weird" / "data.sqlite").close()
    (root / "deepdb" / "sub").mkdir(parents=True)
    sqlite3.connect(root / "deepdb" / "sub" / "x.db").close()

    assert _resolve_db_path(str(root), "weird") == str(root / "weird" / "data.sqlite")
    assert _resolve_db_path(str(root), "deepdb") == str(
        root / "deepdb" / "sub" / "x.db"
    )
    assert _resolve_db_path(str(root), "ghost") is None


def test_sql_execution_nested_mismatched_db(spark, tmp_path):
    """End-to-end: the execution filter keeps rows whose db lives at
    '<id>/data.sqlite' (file name != directory name)."""
    import sqlite3

    from dataflow_spark.operators.text2sql import sql_execution_filter

    root = tmp_path / "dbs"
    (root / "weird").mkdir(parents=True)
    con = sqlite3.connect(root / "weird" / "data.sqlite")
    con.execute("CREATE TABLE t (a INTEGER)")
    con.execute("INSERT INTO t VALUES (1)")
    con.commit()
    con.close()
    df = spark.createDataFrame(
        [("ok", "weird", "SELECT a FROM t"), ("bad", "weird", "SELECT z FROM t")],
        ["id", "db_id", "sql"],
    )
    kept = {r.id for r in sql_execution_filter(df, str(root), "sql", "db_id").collect()}
    assert kept == {"ok"}


def test_prompt_date_type_case_sensitive(spark, tmp_path):
    """The example-truncation rule compares the RAW declared type string
    case-sensitively (sqlite_connector.py:224): a lowercase 'date' column
    with >50-char examples drops them entirely (generic branch), while an
    uppercase DATE column keeps exactly one."""
    import sqlite3

    from dataflow_spark.operators.text2sql import text2sql_prompt

    long_val = "x" * 60
    root = tmp_path / "dbs"
    root.mkdir()
    con = sqlite3.connect(root / "caldb.sqlite")
    con.execute('CREATE TABLE cal (d1 date, d2 DATE)')
    con.execute("INSERT INTO cal VALUES (?, ?)", (long_val, long_val))
    con.commit()
    con.close()
    df = spark.createDataFrame([("r", "caldb", "q?")], ["id", "db_id", "question"])
    prompt = text2sql_prompt(df, str(root)).collect()[0].prompt
    assert "(d1:DATE)" in prompt  # lowercase decl: >50-char examples dropped
    assert f"(d2:DATE, Examples: [{long_val}])" in prompt  # DATE: keep one


def test_prompt_db_id_explosion_fails_fast(spark, tmp_path):
    """Registry-explosion guard: a 10^6-distinct-db_id input must fail fast
    (one LIMIT-capped probe job, no unbounded driver collect, no sqlite
    work).  Since round 5 the introspection itself is executor-side; the
    cap now bounds the broadcast (db_id -> details) map."""
    import pytest as _pytest

    from dataflow_spark.operators.text2sql import text2sql_prompt

    root = tmp_path / "dbs"
    root.mkdir()
    big = spark.range(1_000_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("db_"), F.col("id").cast("string")).alias("db_id"),
        F.lit("q?").alias("question"),
    )
    with _pytest.raises(ValueError, match="broadcast-sized"):
        text2sql_prompt(big, str(root), max_distinct_db_ids=1000)
