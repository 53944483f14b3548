"""Stage 5 — CHUNK: document text -> (url, span_start, span_end,
chunk_text) rows (the north_star RAG-chunking stage).

Re-expresses the reference's RecursiveCharacterTextSplitter usage
(build_vector_db.py:369-373,399-403) as exact substring spans.  One
Arrow pass (operators/arrow_rows.py) computes each text's spans with
``text_pure.chunk_spans`` and emits the chunk rows directly, slicing
``text[start:end]`` in Python: no span array, no explode, and the full
text is not carried through every chunk row.  Python slices and Spark's
``substring`` both index code points, so
``chunk_text == substring(text, start+1, end-start)`` holds (tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from ..functions.text_pure import chunk_spans
from .arrow_rows import map_rows


def _split(df: DataFrame, keys: list[str], text_col: str) -> DataFrame:
    """keys + text -> keys + (chunk_id, span_start, span_end, chunk_text),
    one row per span of ``text_col``; chunk_id is the span's position."""
    schema = T.StructType(
        [df.schema[k] for k in keys]
        + [
            T.StructField("chunk_id", T.LongType(), False),
            T.StructField("span_start", T.IntegerType()),
            T.StructField("span_end", T.IntegerType()),
            T.StructField("chunk_text", T.StringType()),
        ]
    )

    def fn(rows):
        for r in rows:
            text = r[text_col] or ""
            for i, (s, e) in enumerate(chunk_spans(text)):
                out = {k: r[k] for k in keys}
                out.update(chunk_id=i, span_start=s, span_end=e, chunk_text=text[s:e])
                yield out

    return map_rows(df.select(*keys, text_col), fn, schema)


def assemble_documents(page_text: DataFrame) -> DataFrame:
    """pages -> (url, extracted_text): non-empty page texts joined with
    a blank line, page order (oracle spec step 8)."""
    return (
        page_text.filter(F.length(F.coalesce("page_text", F.lit(""))) > 0)
        .groupBy("url")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("page_no", "page_text"))),
                    lambda s: s["page_text"],
                ),
                "\n\n",
            ).alias("extracted_text")
        )
    )


def chunk_stage(documents: DataFrame) -> DataFrame:
    """(url, extracted_text) -> chunk rows."""
    return _split(documents, ["url"], "extracted_text").select(
        "url", "span_start", "span_end", "chunk_text"
    )


def typed_chunk_stage(page_text: DataFrame, pages: DataFrame) -> DataFrame:
    """The reference vector DB's THREE chunk sources, tagged
    ``source_type`` with doc/page/region ids (build_vector_db.py:473-527,
    metadata at :354-366):

    * page_text — the separator-aware splitter over each page's
      stripped text (chunk_id is the span's position);
    * table     — title + row-major cell text per detected table;
    * figure    — caption + description per detected figure.

    -> (url, page_no, chunk_id, source_type, chunk_text).  chunk_id is
    unique within (url, page_no, source_type); region chunks offset by
    region_index.  Table/figure text is pure Catalyst over the nested
    page structs (no Python, no shuffle); only the page splitter runs
    Python, the same Arrow pass as chunk_stage.
    """
    pg = _split(
        page_text.filter(F.length(F.coalesce("page_text", F.lit(""))) > 0),
        ["url", "page_no"],
        "page_text",
    ).select(
        "url", "page_no", "chunk_id",
        F.lit("page_text").alias("source_type"),
        "chunk_text",
    )
    body = pages.filter(F.col("page_no") > 0)
    tables = (
        body.select("url", "page_no", F.explode("tables").alias("t"))
        .select(
            "url",
            "page_no",
            F.col("t.table_index").cast("long").alias("chunk_id"),
            F.lit("table").alias("source_type"),
            F.trim(
                F.concat_ws(
                    " ",
                    F.coalesce(F.col("t.title"), F.lit("")),
                    F.array_join(
                        F.transform("t.cells", lambda c: c["text"]), " "
                    ),
                )
            ).alias("chunk_text"),
        )
        .filter(F.length("chunk_text") > 0)
    )
    figures = (
        body.select("url", "page_no", F.explode("figures").alias("f"))
        .select(
            "url",
            "page_no",
            F.col("f.figure_index").cast("long").alias("chunk_id"),
            F.lit("figure").alias("source_type"),
            F.trim(
                F.concat_ws(
                    " ",
                    F.coalesce(F.col("f.caption"), F.lit("")),
                    F.coalesce(F.col("f.description"), F.lit("")),
                )
            ).alias("chunk_text"),
        )
        .filter(F.length("chunk_text") > 0)
    )
    return pg.unionByName(tables).unionByName(figures)
