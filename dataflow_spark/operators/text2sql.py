"""text2sql operators — the executable subset of the reference's 12-op domain.

The reference's text2sql pipeline generates SQL with an LLM and then
*executes* it against a DB pool to keep only runnable statements
(dataflow/operators/text2sql: SQLExecutionFilter / SQLExecutabilityFilter,
pool at dataflow/utils/db_pool/).  The LLM generation side is a non-goal
(external service), but the execution-filter side is implementable for real:
DuckDB ships in-process, so each executor validates statements against its
own embedded engine inside ``mapInPandas`` — the same per-executor-resource
pattern the reference uses for its pooled connections.

``SQLComponentClassifier`` (clause counting -> difficulty bucket) is a pure
Catalyst expression.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataflow_spark.core.stage import Stage, register


def sql_executability(
    df: DataFrame, sql_col: str = "sql", out_col: str = "sql_ok", setup_sql: str | None = None
) -> DataFrame:
    """Label each row 1/0 by whether its SQL statement parses+plans in an
    embedded DuckDB (EXPLAIN — no data needed beyond ``setup_sql`` schema).
    One connection per partition, vectorized batches, never per-row Python
    process spawning.

    Hardened against untrusted (LLM-generated) SQL — this operator's whole
    input domain: (a) multi-statement payloads are rejected outright
    (``'SELECT 1; DROP TABLE t'`` would otherwise become
    ``EXPLAIN SELECT 1; DROP TABLE t`` and *execute* the trailing DROP,
    mutating the shared per-partition connection and flipping labels for
    later rows), and (b) the connection disables external access so ATTACH /
    COPY TO file / INSTALL cannot reach the executor filesystem or network.
    """
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.IntegerType())]
    )

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import duckdb

        con = duckdb.connect(config={"enable_external_access": "false"})
        if setup_sql:
            con.execute(setup_sql)
        for pdf in it:
            oks = []
            for stmt in pdf[sql_col]:
                try:
                    if len(duckdb.extract_statements(stmt)) != 1:
                        oks.append(0)
                        continue
                    con.execute(f"EXPLAIN {stmt}")
                    oks.append(1)
                except Exception:
                    oks.append(0)
            yield pdf.assign(**{out_col: oks})

    return df.mapInPandas(fn, out_schema)


def sql_executability_filter(
    df: DataFrame, sql_col: str = "sql", setup_sql: str | None = None
) -> DataFrame:
    """SQLExecutabilityFilter: keep only rows whose SQL runs (label column on
    survivors is always 1 — the reference's uniform filter semantics)."""
    labeled = sql_executability(df, sql_col, "sql_ok", setup_sql)
    return labeled.where(F.col("sql_ok") == 1)


@register("SQLExecutabilityFilter")
def sql_exec_filter_stage(input_key: str = "sql", setup_sql: str | None = None) -> Stage:
    return Stage(
        "SQLExecutabilityFilter",
        lambda df: sql_executability_filter(df, input_key, setup_sql),
        (input_key,),
        ("sql_ok",),
        "filter",
    )


_COMPONENTS = {
    "n_joins": r"(?i)\bjoin\b",
    "n_where": r"(?i)\bwhere\b",
    "n_group_by": r"(?i)\bgroup\s+by\b",
    "n_order_by": r"(?i)\border\s+by\b",
    "n_aggs": r"(?i)\b(count|sum|avg|min|max)\s*\(",
    "n_subqueries": r"(?i)\(\s*select\b",
}


def sql_components(sql_col) -> list[Column]:
    c = F.col(sql_col) if isinstance(sql_col, str) else sql_col
    return [
        F.regexp_count(c, F.lit(pat)).cast("int").alias(name)
        for name, pat in _COMPONENTS.items()
    ]


def sql_difficulty(sql_col) -> Column:
    """SQLComponentClassifier (text2sql/eval): component count -> difficulty
    bucket (easy <2, medium <4, hard otherwise)."""
    c = F.col(sql_col) if isinstance(sql_col, str) else sql_col
    total = None
    for pat in _COMPONENTS.values():
        cnt = F.regexp_count(c, F.lit(pat))
        total = cnt if total is None else total + cnt
    return (
        F.when(total < 2, F.lit("easy"))
        .when(total < 4, F.lit("medium"))
        .otherwise(F.lit("hard"))
    )


@register("SQLComponentClassifier")
def sql_component_stage(input_key: str = "sql") -> Stage:
    def fn(df: DataFrame) -> DataFrame:
        out = df
        for name, pat in _COMPONENTS.items():
            out = out.withColumn(
                name, F.regexp_count(F.col(input_key), F.lit(pat)).cast("int")
            )
        return out.withColumn("sql_difficulty", sql_difficulty(input_key))

    return Stage(
        "SQLComponentClassifier",
        fn,
        (input_key,),
        tuple(_COMPONENTS) + ("sql_difficulty",),
        "eval",
    )


# ---------------------------------------------------------------------------
# SQLExecutionFilter — the multi-database execution variant
# ---------------------------------------------------------------------------

_SQLITE_DB_PATTERNS = ("{id}.sqlite", "{id}.sqlite3", "{id}.db",
                       "{id}/{id}.sqlite", "{id}/{id}.sqlite3", "{id}/{id}.db")


def _resolve_db_path(db_root: str, db_id: str) -> str | None:
    """DatabaseManager's discovery layout (utils/text2sql/database_manager.py
    + sqlite_connector.discover_databases, sqlite_connector.py:330-353:
    ``glob(root/**/pattern, recursive=True)`` with db_id = top-level dir name
    for nested files, file stem at root level).  Fast paths first —
    '<root>/<db_id>.<ext>' and the Spider-style '<root>/<db_id>/<db_id>.<ext>'
    — then the reference's recursive glob under '<root>/<db_id>/' so a nested
    db whose file name differs from its directory (e.g. '<id>/data.sqlite'
    or '<id>/deep/x.db') still resolves.  First match in the reference's
    pattern order (*.sqlite, *.sqlite3, *.db) wins."""
    import glob as _glob
    import os

    for pat in _SQLITE_DB_PATTERNS:
        p = os.path.join(db_root, pat.format(id=db_id))
        if os.path.exists(p):
            return p
    subdir = os.path.join(db_root, db_id)
    if os.path.isdir(subdir):
        for ext in ("*.sqlite", "*.sqlite3", "*.db"):
            hits = sorted(
                h
                for h in _glob.glob(
                    os.path.join(subdir, "**", ext), recursive=True
                )
                if os.path.isfile(h)
            )
            if hits:
                return hits[0]
    return None


def keep_select_sql(sql_col) -> Column:
    """SQLExecutionFilter phase 1 (sql_execution_filter.py:37-48): strip
    /* */ and -- comments, keep statements starting SELECT or WITH.  Pure
    Catalyst, so non-SELECT rows never reach the execution UDF."""
    c = F.col(sql_col) if isinstance(sql_col, str) else sql_col
    stripped = F.regexp_replace(
        F.regexp_replace(c, r"(?s)/\*.*?\*/", ""), r"--.*", ""
    )
    # leading \s* rather than trim(): Spark's trim strips spaces only, the
    # reference's str.strip() also eats the newline left by a comment line
    return stripped.rlike(r"(?i)^\s*(select|with)\b")


def sql_execution(
    df: DataFrame,
    db_root: str,
    sql_col: str = "sql",
    db_id_col: str = "db_id",
    out_col: str = "sql_ok",
    max_vm_steps: int = 200_000_000,
) -> DataFrame:
    """SQLExecutionFilter phase 2 (sql_execution_filter.py:56-96 +
    utils/text2sql/database_manager.py batch_execute_queries): label each row
    1/0 by whether its SQL EXECUTES against the row's ``db_id`` database.
    The reference fans a pandas frame over a thread pool with pooled sqlite
    connections; here the executor partition IS the parallel unit —
    ``mapInPandas`` with a per-task connection cache keyed by resolved db
    path, so a partition touching K databases opens K connections total, not
    one per row (read-only immutable sqlite opens are microseconds; task
    scope avoids cross-task connection lifetime management).

    Scale/safety notes:
    * connections open read-only+immutable (URI mode) — the input SQL is
      LLM-generated i.e. untrusted; writes and journal locking are off the
      table, and immutable=1 lets many executors share one network-FS file.
    * results are drained with fetchmany loops (success semantics identical
      to the reference's fetchall, memory bounded by the batch size).
    * a sqlite progress handler aborts statements past ``max_vm_steps`` VM
      ops — the deterministic analogue of the reference's 5 s wall-clock
      query timeout (database_manager.py:111), so one pathological row can't
      wedge an executor core.
    * ``db_root`` must be visible on executors: a shared filesystem path, or
      ship the directory via ``SparkContext.addFile`` and pass
      ``sparkfiles:<name>`` to resolve through ``SparkFiles.get``.
    * missing database => execution failure => 0, matching the reference
      (its warning-then-fail path).
    """
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.IntegerType())]
    )

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sqlite3

        root = db_root
        if root.startswith("sparkfiles:"):
            from pyspark import SparkFiles

            root = SparkFiles.get(root[len("sparkfiles:"):])
        conns: dict[str, sqlite3.Connection] = {}
        missing: set[str] = set()

        def conn_for(db_id: str):
            if db_id in missing:
                return None
            path = _resolve_db_path(root, str(db_id))
            if path is None:
                missing.add(db_id)
                return None
            if path not in conns:
                con = sqlite3.connect(
                    f"file:{path}?mode=ro&immutable=1", uri=True
                )
                if max_vm_steps:
                    # fire every N ops; returning truthy aborts the query
                    budget = max_vm_steps // 1000
                    state = {"left": budget}

                    def tick(state=state, budget=budget):
                        state["left"] -= 1
                        return state["left"] <= 0

                    con.set_progress_handler(tick, 1000)
                    conns[path] = (con, state, budget)
                else:
                    conns[path] = (con, None, 0)
            return conns[path]

        for pdf in it:
            oks = []
            for db_id, stmt in zip(pdf[db_id_col], pdf[sql_col]):
                entry = conn_for(db_id)
                if entry is None:
                    oks.append(0)
                    continue
                con, state, budget = entry
                if state is not None:
                    state["left"] = budget  # reset the per-statement budget
                try:
                    cur = con.execute(str(stmt))
                    while cur.fetchmany(10_000):
                        pass
                    oks.append(1)
                except Exception:
                    oks.append(0)
            yield pdf.assign(**{out_col: oks})

    return df.mapInPandas(fn, out_schema)


def sql_execution_filter(
    df: DataFrame,
    db_root: str,
    sql_col: str = "sql",
    db_id_col: str = "db_id",
    max_vm_steps: int = 200_000_000,
) -> DataFrame:
    """SQLExecutionFilter end to end: phase-1 SELECT/WITH gate (Catalyst,
    before the UDF so non-queries never cost a Python round-trip), then keep
    rows whose execution succeeds against their db_id database."""
    phase1 = df.where(keep_select_sql(sql_col))
    labeled = sql_execution(phase1, db_root, sql_col, db_id_col, "sql_ok",
                            max_vm_steps)
    return labeled.where(F.col("sql_ok") == 1)


@register("SQLExecutionFilter")
def sql_execution_filter_stage(
    db_root: str = ".",
    input_sql_key: str = "SQL",
    input_db_id_key: str = "db_id",
) -> Stage:
    return Stage(
        "SQLExecutionFilter",
        lambda df: sql_execution_filter(df, db_root, input_sql_key, input_db_id_key),
        (input_sql_key, input_db_id_key),
        ("sql_ok",),
        "filter",
    )


# ---------------------------------------------------------------------------
# Text2SQLPromptGenerator — M-Schema introspection + prompt templating
# ---------------------------------------------------------------------------


def _examples_to_str(examples: list) -> list:
    """sqlite_connector._examples_to_str (sqlite_connector.py:301-323):
    date/datetime collapses the list to that single value, Decimal renders via
    float, any email or URL empties the list, then stringify-and-drop-empty."""
    import datetime
    import decimal
    import re as _re

    values = list(examples)
    for i in range(len(values)):
        if isinstance(values[i], (datetime.datetime, datetime.date)):
            values = [values[i]]
            break
        if isinstance(values[i], decimal.Decimal):
            values[i] = str(float(values[i]))
        s = str(values[i])
        if _re.match(r"^[\w\.-]+@[\w\.-]+\.\w+$", s):
            values = []
            break
        if "http://" in s or "https://" in s:
            values = []
            break
    return [str(v) for v in values if v is not None and len(str(v)) > 0]


def sqlite_db_details(db_path: str, db_id: str) -> str:
    """The M-Schema string DatabaseManager.get_db_details produces for one
    sqlite database (sqlite_connector.py:93-254): 【DB_ID】/【Schema】 header,
    per-table field lines ``(name:TYPE[, Primary Key][, Examples: [...]])``
    with the reference's example-truncation rules (≤3 shown, date/time types
    keep one, >20-char examples keep one, >50-char drop all), then
    【Foreign keys】 as ``t.col=ref_t.ref_col`` lines."""
    import sqlite3

    con = sqlite3.connect(f"file:{db_path}?mode=ro&immutable=1", uri=True)
    con.row_factory = sqlite3.Row
    try:
        tables = [
            r["name"]
            for r in con.execute(
                "SELECT name FROM sqlite_master WHERE type='table' "
                "AND name NOT LIKE 'sqlite_%'"
            )
        ]
        out = [f"【DB_ID】 {db_id}", "【Schema】"]
        fks = []
        for t in tables:
            out.append(f"# Table: {t}")
            field_lines = []
            cols = con.execute(f"PRAGMA table_info({t})").fetchall()
            for col in cols:
                name = col["name"]
                raw_type = (col["type"] or "").split("(")[0]
                line = f"({name}:{raw_type.upper()}"
                if col["pk"]:
                    line += ", Primary Key"
                q = '"' + name.replace('"', '""') + '"'
                qt = '"' + t.replace('"', '""') + '"'
                ex = [
                    r["value"]
                    for r in con.execute(
                        f"SELECT DISTINCT {q} AS value FROM {qt} "
                        f"WHERE {q} IS NOT NULL LIMIT 5"
                    )
                ]
                # the reference stringifies at fetch time AND re-runs the
                # filter at detail-build time (double application is part of
                # the observable contract)
                ex = _examples_to_str(_examples_to_str(ex))
                if len(ex) > 3:
                    ex = ex[:3]
                # CASE-SENSITIVE on the raw (non-uppercased) declared type,
                # matching sqlite_connector.py:224 — a column declared
                # lowercase 'date' takes the >20-char branch there too
                if raw_type in ("DATE", "TIME", "DATETIME", "TIMESTAMP"):
                    ex = [ex[0]] if ex else []
                elif ex and max(len(s) for s in ex) > 20:
                    ex = [] if max(len(s) for s in ex) > 50 else [ex[0]]
                if ex:
                    line += f", Examples: [{', '.join(ex)}]"
                line += ")"
                field_lines.append(line)
            out.append("[")
            out.append(",\n".join(field_lines))
            out.append("]")
            for fk in con.execute(f"PRAGMA foreign_key_list({t})"):
                fks.append(f"{t}.{fk['from']}={fk['table']}.{fk['to']}")
        if fks:
            out.append("【Foreign keys】")
            out.extend(fks)
        return "\n".join(out)
    finally:
        con.close()


_PROMPT_TEMPLATE = """Task Overview:
You are a data science expert. Below, you are provided with a database schema and a natural language question. Your task is to understand the schema and generate a valid SQL query to answer the question.

Database Engine:
{db_engine}

Database Schema:
{db_details}
This schema describes the database's structure, including tables, columns, primary keys, foreign keys, any relevant relationships or constraints.

Question:
{question_and_evidence}

Instructions:
- Make sure you only output the information that is asked in the question. If the question asks for a specific column, make sure to only include that column in the SELECT clause, nothing more.
- The generated query should return all of the information asked in the question without any missing or extra information.
- Before generating the final SQL query, please think through the steps of how to write the query.

Output Format:
In your answer, please enclose the generated SQL query in a code block:
```sql
-- Your SQL query
```

Take a deep breath and think step by step to find the correct SQL query."""


def text2sql_prompt(
    df: DataFrame,
    db_root: str,
    question_key: str = "question",
    db_id_key: str = "db_id",
    evidence_key: str | None = "evidence",
    out_key: str = "prompt",
    db_engine: str = "sqlite",
    max_distinct_db_ids: int = 10_000,
) -> DataFrame:
    """Text2SQLPromptGenerator (text2sql_prompt_generator.py:58-116 +
    Text2SQLPromptGeneratorPrompt, prompts/text2sql.py:1491-1525): per row,
    prompt = fixed template over (db_details(db_id), evidence?\\n?question).

    Spark shape (round 5, VERDICT r4 #7): introspection runs EXECUTOR-side —
    a ``mapInPandas`` stage over the distinct-db_id frame calls
    ``sqlite_db_details`` per partition (db files must be on storage every
    executor can reach, the same contract as the execution filters), and the
    resulting (db_id, db_details) map joins back as a broadcast; the
    template itself is a pure Catalyst concat — no Python in the per-row
    path and no per-db_id loop on the driver.  A db_id with no database
    raises ValueError up front, the reference's get_db_details contract
    (database_manager.py:351-353).

    ``max_distinct_db_ids`` now guards the BROADCAST map size (the
    introspection itself is distributed): real db registries are
    catalog-sized (Spider ≈ 200); a corpus with more distinct db_ids than
    the cap fails fast (one LIMIT cap+1 job) before any sqlite work."""
    import pandas as pd

    cap = max_distinct_db_ids
    spark = df.sparkSession
    distinct = df.select(db_id_key).distinct()
    if distinct.limit(cap + 1).count() > cap:
        raise ValueError(
            f"text2sql_prompt: > {cap} distinct {db_id_key!r} values — "
            f"the (db_id -> db_details) map must stay broadcast-sized; "
            "raise max_distinct_db_ids if the registry is genuinely larger"
        )

    def introspect(it):
        for pdf in it:
            ids, det = [], []
            for db_id in pdf[db_id_key]:
                clean = str(db_id).replace("\n", "").replace("\r", "").strip()
                path = _resolve_db_path(db_root, clean)
                ids.append(db_id)
                # None marks a missing database; the driver raises below
                det.append(
                    None if path is None else sqlite_db_details(path, clean)
                )
            yield pd.DataFrame({db_id_key: ids, "_db_details": det})

    id_type = df.schema[db_id_key].dataType.simpleString()
    dmap_schema = f"{db_id_key} {id_type}, _db_details string"
    # the map is capped at broadcast size above: collect it once and
    # broadcast a driver-built frame — nothing is cached past the call
    dmap_pdf = (
        distinct.repartition(
            max(1, min(64, spark.sparkContext.defaultParallelism))
        )
        .mapInPandas(introspect, dmap_schema)
        .toPandas()
    )
    missing = [
        str(v).replace("\n", "").replace("\r", "").strip()
        for v in dmap_pdf.loc[dmap_pdf["_db_details"].isna(), db_id_key]
    ]
    if missing:
        raise ValueError(f"Database(s) not found: {sorted(missing)}")
    dmap = F.broadcast(spark.createDataFrame(dmap_pdf, dmap_schema))
    if evidence_key and evidence_key in df.columns:
        ev = F.coalesce(F.col(evidence_key).cast("string"), F.lit(""))
        qe = F.when(
            ev != "", F.concat(ev, F.lit("\n"), F.col(question_key))
        ).otherwise(F.col(question_key))
    else:
        qe = F.col(question_key)
    pre, rest = _PROMPT_TEMPLATE.split("{db_details}")
    mid, post = rest.split("{question_and_evidence}")
    prompt = F.concat(
        F.lit(pre.replace("{db_engine}", db_engine)),
        F.col("_db_details"),
        F.lit(mid),
        qe,
        F.lit(post),
    )
    return (
        df.join(dmap, db_id_key, "left")
        .withColumn(out_key, prompt)
        .drop("_db_details")
    )


@register("Text2SQLPromptGenerator")
def text2sql_prompt_stage(
    db_root: str = ".",
    input_question_key: str = "question",
    input_db_id_key: str = "db_id",
    input_evidence_key: str = "evidence",
    output_prompt_key: str = "prompt",
) -> Stage:
    return Stage(
        "Text2SQLPromptGenerator",
        lambda df: text2sql_prompt(
            df, db_root, input_question_key, input_db_id_key,
            input_evidence_key, output_prompt_key,
        ),
        (input_question_key, input_db_id_key),
        (output_prompt_key,),
        "generate",
    )
