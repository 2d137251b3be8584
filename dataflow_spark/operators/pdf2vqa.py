"""pdf2vqa CPU operators — the reference's PDF→VQA extraction pipeline
re-expressed over DataFrames (the five ops under
dataflow/operators/pdf2vqa/generate/ are registered "generate" operators but
are pure-CPU parsing/merging/formatting; only the upstream MinerU/VLM calls
are external services).

Reference files (citations into /root/reference):

* ``MinerU2LLMInputOperator`` (mineru_to_llm_input_operator.py:28-52) —
  flatten a MinerU content-list: drop bbox/page_idx, explode text-lists into
  per-item text entries, drop non-text lists, re-index ``id`` consecutively.
* ``LLMOutputParser`` (llm_output_parser.py:38-104) — parse the tagged
  ``<chapter>/<qa_pair>/<question>/<answer>/<solution>/<label>`` response
  format and resolve comma-separated layout-item ids back to text
  (``_id_to_text``: text / table_body / img_path markdown / list-pop
  branches).
* ``QA_Merger`` + ``merge_qa_pair`` (qa_merger.py:36-84,
  dataflow/utils/pdf2vqa/format_utils.py:4-124) — sequential chapter
  carry-forward, complete-question passthrough, (refined_title, label)
  question↔answer matching with dynamic answer/solution update, and the
  ``![alt](path)`` → ``![alt](name/path)`` image-path rewrite.
* ``jsonl_to_md`` (format_utils.py:126-134) — markdown rendering.
* ``VQAFormatter`` (vqa_formatter.py:93-183) — ShareGPT formatting: extract
  markdown image refs, strip image tags, ``<image>`` placeholder prefixing,
  answer/solution combination, skip empty rows.
* ``PDF_Merger`` (pdf_merger.py:35-83) — pypdf concatenation; pypdf is absent
  from this sandbox so the kernel is gated (same env-blocked class as the
  Iceberg jars), the path/column contract is real.

Engine shapes: flatten / image-fix / markdown / ShareGPT formatting are pure
Catalyst (the reference iterates rows in Python); response parsing is one
``mapInPandas`` over (response, layout-items) pairs; the QA merge is
``applyInPandas`` per document — the carry-forward state is sequential
*within* one PDF but documents are independent, so the operator partitions
by document and scales with the corpus, not with document count × rows.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataflow_spark.core.stage import Stage, register
from dataflow_spark.functions.text import c


# ---------------------------------------------------------------------------
# refine_title (format_utils.py:4-19)
# ---------------------------------------------------------------------------

_ARABIC_RE = r"\d+\.\d+|\d+"
_CJK_NUM_RE = "[一二三四五六七八九零十百]+"


def refine_title(col, strict_title_match: bool = False) -> Column:
    """Strip all whitespace; unless strict, reduce to the first arabic
    (``1.2``/``3``) or CJK-numeral chapter number, falling back to the
    cleaned title (format_utils.py:4-19)."""
    cleaned = F.regexp_replace(c(col), r"\s+", "")
    if strict_title_match:
        return cleaned
    arabic = F.regexp_extract(cleaned, f"({_ARABIC_RE})", 1)
    cjk = F.regexp_extract(cleaned, f"({_CJK_NUM_RE})", 1)
    return F.when(arabic != "", arabic).when(cjk != "", cjk).otherwise(cleaned)


def _refine_title_py(title: str, strict_title_match: bool = False) -> str:
    """Row-kernel twin of :func:`refine_title` for the merge kernel."""
    title = re.sub(r"\s+", "", title or "")
    if strict_title_match:
        return title
    m = re.search(_ARABIC_RE, title)
    if m:
        return m.group()
    m = re.search(_CJK_NUM_RE, title)
    if m:
        return m.group()
    return title


# ---------------------------------------------------------------------------
# MinerU2LLMInputOperator → flatten_layout
# ---------------------------------------------------------------------------

LAYOUT_ITEM_SCHEMA = T.StructType(
    [
        T.StructField("type", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("table_body", T.StringType()),
        T.StructField("img_path", T.StringType()),
        T.StructField("image_caption", T.ArrayType(T.StringType())),
    ]
)


def flatten_layout(df: DataFrame, doc_col: str = "doc", seq_col: str = "seq") -> DataFrame:
    """MinerU content-list → LLM-input layout
    (mineru_to_llm_input_operator.py:28-52).

    Input columns: ``doc, seq, type, sub_type, text, table_body, img_path,
    image_caption, list_items``. Output: one row per flattened item with a
    consecutive per-document ``id`` (0-based, in ``seq`` order) — exactly the
    reference's re-indexing, where text-lists explode into per-item text
    entries and non-text lists vanish without advancing the counter.
    Pure Catalyst: conditional item array + posexplode + one per-doc window.
    """
    from pyspark.sql.window import Window

    item = F.struct(
        F.col("type").alias("type"),
        F.col("text").alias("text"),
        F.col("table_body").alias("table_body"),
        F.col("img_path").alias("img_path"),
        F.col("image_caption").alias("image_caption"),
    )
    text_items = F.transform(
        F.coalesce(F.col("list_items"), F.array().cast("array<string>")),
        lambda li: F.struct(
            F.lit("text").alias("type"),
            li.alias("text"),
            F.lit(None).cast("string").alias("table_body"),
            F.lit(None).cast("string").alias("img_path"),
            F.lit(None).cast("array<string>").alias("image_caption"),
        ),
    )
    is_list = F.col("type") == "list"
    is_text_list = is_list & (F.col("sub_type") == "text")
    arr = (
        F.when(is_text_list, text_items)
        .when(is_list, F.array().cast(T.ArrayType(LAYOUT_ITEM_SCHEMA)))
        .otherwise(F.array(item))
    )
    exploded = df.select(
        F.col(doc_col).alias("doc"), F.col(seq_col).alias("seq"), F.posexplode(arr).alias("pos", "item")
    )
    w = Window.partitionBy("doc").orderBy("seq", "pos")
    return exploded.select(
        "doc",
        (F.row_number().over(w) - 1).alias("id"),
        F.col("item.type").alias("type"),
        F.col("item.text").alias("text"),
        F.col("item.table_body").alias("table_body"),
        F.col("item.img_path").alias("img_path"),
        F.col("item.image_caption").alias("image_caption"),
    )


# ---------------------------------------------------------------------------
# LLMOutputParser → parse_vqa_responses
# ---------------------------------------------------------------------------


def _id_to_text(input_ids: str, items: list, image_prefix: str = "vqa_images") -> str:
    """llm_output_parser.py:38-69, over an id-ordered item list instead of
    the raw layout JSON. Branches reproduced faithfully, including:

    * image caption join ``' '.join(item.get('image_caption', 'image'))`` —
      when the caption is absent the reference joins the *characters* of the
      default string (``'i m a g e'``); reproduced as-is;
    * the ``list``-type branch pops items off a mutable ``list_items`` —
      only reachable on *unflattened* layouts (flatten_layout drops raw
      lists), kept for parity when the parser is run on raw content lists.
    """
    import os

    texts = []
    for sid in (input_ids or "").replace(" ", "").split(","):
        try:
            idx = int(sid)
        except ValueError:
            continue
        if idx >= len(items) or idx < 0:
            continue
        item = items[idx]
        if item.get("text") is not None:
            texts.append(item["text"])
        elif item.get("table_body") is not None:
            texts.append(item["table_body"])
        elif item.get("img_path") is not None:
            img_name = os.path.basename(item["img_path"] or "")
            caption = item.get("image_caption")
            if caption is None:
                caption = "image"
            texts.append(f"![{' '.join(caption)}]({image_prefix}/{img_name})")
        elif item.get("type", "") == "list" and item.get("sub_type") == "text":
            li = item.get("list_items")
            if li:
                texts.append(li.pop(0))
    return "\n".join(texts)


def _parse_response(response: str, items: list, image_prefix: str = "vqa_images") -> list[dict]:
    """``_convert_response`` (llm_output_parser.py:71-104): nested
    chapter → qa_pair tag scan; a pair needs a label plus at least one of
    question/answer/solution; question/solution resolve ids, answer is
    verbatim text."""
    out = []
    for chapter_block in re.findall(r"<chapter>(.*?)</chapter>", response or "", flags=re.DOTALL):
        title = re.search(r"<title>(.*?)</title>", chapter_block, flags=re.DOTALL)
        chapter_title = (
            _id_to_text(title.group(1).strip(), items, image_prefix) if title else ""
        )
        for pair in re.findall(r"<qa_pair>(.*?)</qa_pair>", chapter_block, flags=re.DOTALL):
            q = re.search(r"<question>(.*?)</question>", pair, flags=re.DOTALL)
            a = re.search(r"<answer>(.*?)</answer>", pair, flags=re.DOTALL)
            s = re.search(r"<solution>(.*?)</solution>", pair, flags=re.DOTALL)
            label = re.search(r"<label>(.*?)</label>", pair, flags=re.DOTALL)
            if not ((q and label) or (a and label) or (s and label)):
                continue
            out.append(
                {
                    "question": _id_to_text(q.group(1).strip(), items, image_prefix) if q else "",
                    "answer": a.group(1).strip() if a else "",
                    "solution": _id_to_text(s.group(1).strip(), items, image_prefix) if s else "",
                    "label": label.group(1).strip(),
                    "chapter_title": chapter_title,
                }
            )
    return out


PARSED_QA_SCHEMA = T.StructType(
    [
        T.StructField("doc", T.StringType()),
        T.StructField("seq", T.IntegerType()),
        T.StructField("chapter_title", T.StringType()),
        T.StructField("label", T.StringType()),
        T.StructField("question", T.StringType()),
        T.StructField("answer", T.StringType()),
        T.StructField("solution", T.StringType()),
    ]
)


def parse_vqa_responses(
    responses: DataFrame,
    layout: DataFrame,
    image_prefix: str = "vqa_images",
) -> DataFrame:
    """LLMOutputParser.run (llm_output_parser.py:106-137) as one
    ``mapInPandas`` over (response, id-ordered layout items) pairs.

    ``responses``: (doc, response). ``layout``: flattened layout rows
    (output of :func:`flatten_layout`). The layout side is collapsed to one
    id-sorted array per doc and joined — documents are small (one PDF's
    blocks), so the per-doc array is bounded; the parse itself is
    regex-per-response, batched by Arrow. Output ``seq`` is the qa position
    within the response (the reference's jsonl write order,
    llm_output_parser.py:124-128)."""
    items_per_doc = layout.groupBy("doc").agg(
        F.sort_array(
            F.collect_list(
                F.struct("id", "type", "text", "table_body", "img_path", "image_caption")
            )
        ).alias("_items")
    )
    joined = responses.join(items_per_doc, "doc", "left")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc, resp, items in zip(pdf["doc"], pdf["response"], pdf["_items"]):
                item_dicts = (
                    [
                        {
                            "type": it["type"],
                            "text": it["text"],
                            "table_body": it["table_body"],
                            "img_path": it["img_path"],
                            "image_caption": None
                            if it["image_caption"] is None
                            else list(it["image_caption"]),
                        }
                        for it in items
                    ]
                    if items is not None and len(items)
                    else []
                )
                for i, qa in enumerate(_parse_response(resp, item_dicts, image_prefix)):
                    rows.append(
                        (doc, i, qa["chapter_title"], qa["label"], qa["question"], qa["answer"], qa["solution"])
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in PARSED_QA_SCHEMA.fields])

    return joined.mapInPandas(gen, PARSED_QA_SCHEMA)


# ---------------------------------------------------------------------------
# merge_qa_pair → merge_qa_pairs (applyInPandas per doc)
# ---------------------------------------------------------------------------

MERGED_QA_SCHEMA = T.StructType(
    [
        T.StructField("doc", T.StringType()),
        T.StructField("out_seq", T.IntegerType()),
        T.StructField("question_chapter_title", T.StringType()),
        T.StructField("answer_chapter_title", T.StringType()),
        T.StructField("label", T.IntegerType()),
        T.StructField("question", T.StringType()),
        T.StructField("answer", T.StringType()),
        T.StructField("solution", T.StringType()),
    ]
)


def _carry_forward(rows: list[dict], strict: bool) -> Iterator[dict]:
    """The shared chapter/label carry-forward scan (format_utils.py:38-60 and
    its verbatim twin at 80-102): blank titles inherit the running chapter;
    a title change only takes when the label drops (otherwise it's a
    mis-extracted subtitle and the running chapter is kept); non-numeric
    labels are skipped; titles are refined after the comparison."""
    chapter_title = ""
    label = float("inf")
    for data in rows:
        d = dict(data)
        m = re.search(r"\d+", d["label"] or "")
        if m:
            d["label"] = m.group()
        if not d["chapter_title"]:
            d["chapter_title"] = chapter_title
        try:
            d["label"] = int(d["label"])
        except (TypeError, ValueError):
            continue
        if d["chapter_title"] != "" and d["chapter_title"] != chapter_title:
            if d["label"] < label:
                chapter_title = d["chapter_title"]
            else:
                d["chapter_title"] = chapter_title
        label = d["label"]
        d["chapter_title"] = _refine_title_py(d["chapter_title"], strict)
        yield d


def _merge_doc(pdf: pd.DataFrame, strict: bool) -> pd.DataFrame:
    doc = pdf["doc"].iloc[0]
    pdf = pdf.sort_values("seq")
    recs = pdf.to_dict(orient="records")
    question_rows = [r for r in recs if (r["question"] or "") != ""]
    answer_rows = [r for r in recs if (r["question"] or "") == ""]

    out = []
    questions: dict = {}
    for d in _carry_forward(question_rows, strict):
        if d["label"] > 0:
            if d["answer"] or d["solution"]:
                # already-complete question: write through immediately
                out.append(
                    (doc, len(out), d["chapter_title"], d["chapter_title"], d["label"],
                     d["question"], d["answer"], d.get("solution") or "")
                )
            else:
                questions[(d["chapter_title"], d["label"])] = d

    answers: dict = {}
    for d in _carry_forward(answer_rows, strict):
        if d["label"] > 0:
            key = (d["chapter_title"], d["label"])
            if not answers.get(key):
                answers[key] = d
            else:
                # dynamic update: don't let a duplicate label clobber an
                # already-captured answer/solution (format_utils.py:104-108)
                if not answers[key].get("solution") and d.get("solution"):
                    answers[key]["solution"] = d["solution"]
                if not answers[key].get("answer") and d.get("answer"):
                    answers[key]["answer"] = d["answer"]

    for key, qd in questions.items():
        if key in answers:
            ad = answers[key]
            out.append(
                (doc, len(out), qd["chapter_title"], ad["chapter_title"], key[1],
                 qd["question"], ad["answer"], ad.get("solution") or "")
            )
    return pd.DataFrame(out, columns=[f.name for f in MERGED_QA_SCHEMA.fields])


def merge_qa_pairs(df: DataFrame, strict_title_match: bool = False) -> DataFrame:
    """``merge_qa_pair`` (format_utils.py:21-124) per document.

    Input: parsed qa rows (doc, seq, chapter_title, label, question, answer,
    solution); rows with empty question are answer entries (answer-section
    PDFs). Output preserves the reference's jsonl insertion order via
    ``out_seq`` (complete questions first, then matched pairs in question
    capture order). One shuffle on doc; each group is one PDF's QA list."""
    strict = bool(strict_title_match)
    return df.groupBy("doc").applyInPandas(
        lambda pdf: _merge_doc(pdf, strict), MERGED_QA_SCHEMA
    )


# ---------------------------------------------------------------------------
# image-path rewrite + markdown rendering (qa_merger.py:66-83,
# format_utils.py:126-134)
# ---------------------------------------------------------------------------

_MD_IMG = r"!\[(.*?)\]\((.*?)\)"


def fix_image_paths(col, name_col) -> Column:
    """``![alt](path)`` → ``![alt](<name>/path)`` (qa_merger.py:66-80) —
    pure Catalyst: column-valued replacement with backrefs."""
    return F.regexp_replace(
        c(col), F.lit(_MD_IMG), F.concat(F.lit("![$1]("), c(name_col), F.lit("/$2)"))
    )


def qa_markdown(label, question, answer, solution) -> Column:
    """One merged QA pair → its markdown block (format_utils.py:126-134)."""
    head = F.concat(
        F.lit("### Question "), c(label).cast("string"), F.lit("\n\n"),
        c(question), F.lit("\n\n**Answer:** "), c(answer), F.lit("\n\n"),
    )
    sol = c(solution)
    return F.when(
        sol.isNotNull() & (sol != ""), F.concat(head, F.lit("**Solution:**\n\n"), sol, F.lit("\n\n"))
    ).otherwise(head)


def merged_markdown(df: DataFrame) -> DataFrame:
    """Per-document markdown file body: the reference streams merged pairs to
    ``merged_qa_pairs.md`` in jsonl order — here one sorted aggregation."""
    md = qa_markdown("label", "question", "answer", "solution")
    return (
        df.select("doc", "out_seq", md.alias("md"))
        .groupBy("doc")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("out_seq", "md"))), lambda s: s["md"]
                ),
                "",
            ).alias("markdown")
        )
    )


# ---------------------------------------------------------------------------
# VQAFormatter → ShareGPT formatting (vqa_formatter.py:93-183)
# ---------------------------------------------------------------------------

_MD_IMG_PATH = r"!\[.*?\]\((.*?)\)"


def extract_images(col) -> Column:
    """All markdown image paths in order (vqa_formatter.py:93-99)."""
    return F.regexp_extract_all(c(col), F.lit(_MD_IMG_PATH), F.lit(1))


def strip_image_tags(col) -> Column:
    """Remove image tags, collapse 3+ newlines, strip (vqa_formatter.py:101-106)."""
    s = F.regexp_replace(c(col), _MD_IMG_PATH, "")
    s = F.regexp_replace(s, r"\n{3,}", "\n\n")
    return F.regexp_replace(s, r"^\s+|\s+$", "")


def vqa_format(
    df: DataFrame,
    question_col: str = "question",
    answer_col: str = "answer",
    solution_col: str = "solution",
    image_placeholder: str = "<image>",
    image_base: Column | str | None = None,
) -> DataFrame:
    """ShareGPT rows: ``user_content`` (one placeholder per image, then the
    tag-stripped question), ``assistant_content`` (answer, then stripped
    solution, double-newline joined), ``images`` (question+solution refs, in
    that order). Rows with an empty question or empty assistant content are
    skipped (vqa_formatter.py:141-183).

    The reference resolves image paths through a cwd-glob filename index —
    a single-process filesystem affordance; here paths stay as written,
    optionally prefixed with ``image_base`` (its normpath-join fallback)."""
    q = F.coalesce(c(question_col), F.lit(""))
    a = F.coalesce(c(answer_col), F.lit(""))
    s = F.coalesce(c(solution_col), F.lit(""))
    q, a, s = (F.regexp_replace(x, r"^\s+|\s+$", "") for x in (q, a, s))

    images = F.concat(extract_images(q), extract_images(s))
    if image_base is not None:
        base = c(image_base) if isinstance(image_base, (Column, str)) else F.lit(str(image_base))
        images = F.transform(images, lambda p: F.concat(base, F.lit("/"), p))
    ans_text = a
    sol_text = strip_image_tags(s)
    assistant = (
        F.when((ans_text != "") & (sol_text != ""), F.concat(ans_text, F.lit("\n\n"), sol_text))
        .when(ans_text != "", ans_text)
        .otherwise(sol_text)
    )
    prefix = F.array_join(
        F.transform(images, lambda _: F.lit(image_placeholder)), ""
    )
    user = F.concat(prefix, strip_image_tags(q))
    out = df.withColumn("_q", q).where((F.col("_q") != ""))
    out = out.select(
        *df.columns,
        user.alias("user_content"),
        assistant.alias("assistant_content"),
        images.alias("images"),
    ).where(F.col("assistant_content") != "")
    return out


def sharegpt_json(df: DataFrame, messages_key: str = "messages", images_key: str = "images") -> DataFrame:
    """Nest formatted rows into the ShareGPT record shape
    (vqa_formatter.py:186-196): messages = [user, assistant] role/content
    structs + the images array, plus a to_json rendering for file sinks."""
    messages = F.array(
        F.struct(F.lit("user").alias("role"), F.col("user_content").alias("content")),
        F.struct(F.lit("assistant").alias("role"), F.col("assistant_content").alias("content")),
    )
    rec = F.struct(messages.alias(messages_key), F.col("images").alias(images_key))
    return df.select(
        messages.alias(messages_key), F.col("images").alias(images_key), F.to_json(rec).alias("json")
    )


# ---------------------------------------------------------------------------
# PDF_Merger (pdf_merger.py:35-83) — pypdf-gated kernel
# ---------------------------------------------------------------------------


def merge_pdfs(pdf_paths: list[str], output_path: str) -> int:
    """Concatenate PDFs in order, skipping missing paths; returns the number
    merged (0 → nothing written). Driver-side utility like the reference
    (per-row file IO is not a distributed concern); the parse/write kernel
    needs pypdf, absent from this sandbox."""
    try:
        from pypdf import PdfWriter  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "PDF merging needs the 'pypdf' package (pip install pypdf), which "
            "is not available in this environment. The operator contract "
            "(path list in, merged path out, missing inputs skipped) is "
            "tested via the path-planning helper."
        ) from e
    import os

    writer = PdfWriter()
    valid = 0
    for p in pdf_paths:
        if os.path.exists(p):
            writer.append(p)
            valid += 1
    if valid:
        with open(output_path, "wb") as f:
            writer.write(f)
    return valid


def plan_merged_pdf_paths(df: DataFrame, output_dir: str, name_col: str = "name") -> DataFrame:
    """The deterministic half of PDF_Merger.run (pdf_merger.py:57-60):
    output path = ``<output_dir>/<name>/<name>_merged.pdf``."""
    n = c(name_col).cast("string")
    return df.withColumn(
        "merged_pdf_path",
        F.concat(F.lit(str(output_dir).rstrip("/") + "/"), n, F.lit("/"), n, F.lit("_merged.pdf")),
    )


# ---------------------------------------------------------------------------
# registry stages
# ---------------------------------------------------------------------------


@register("MinerU2LLMInputOperator")
def flatten_layout_stage(doc_col: str = "doc", seq_col: str = "seq") -> Stage:
    return Stage(
        name="MinerU2LLMInputOperator",
        fn=lambda df: flatten_layout(df, doc_col, seq_col),
        input_cols=(doc_col, seq_col, "type", "sub_type", "list_items"),
        output_cols=("id",),
        kind="generate",
    )


@register("QA_Merger")
def merge_qa_stage(strict_title_match: bool = False) -> Stage:
    return Stage(
        name="QA_Merger",
        fn=lambda df: merge_qa_pairs(df, strict_title_match),
        input_cols=("doc", "seq", "chapter_title", "label", "question", "answer", "solution"),
        output_cols=("question_chapter_title", "answer_chapter_title", "out_seq"),
        kind="generate",
    )


@register("VQAFormatter")
def vqa_format_stage(image_placeholder: str = "<image>") -> Stage:
    return Stage(
        name="VQAFormatter",
        fn=lambda df: vqa_format(df, image_placeholder=image_placeholder),
        input_cols=("question", "answer", "solution"),
        output_cols=("user_content", "assistant_content", "images"),
        kind="generate",
    )
