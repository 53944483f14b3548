"""Stage 3 — OCR FALLBACK: batched pass over OCR-flagged pages only.

Mirrors the dataflow shape of the reference's RapidOCR stage
(table_ocr.py:125-133, run over flagged artifacts with model init
amortized per batch): filter the tiny ocr_triggered subset, decode in
a batched Arrow pass (operators/arrow_rows.py; a real deployment hosts
the OCR model per executor and runs it per batch), and join the text
back.

The character-recognition step itself is the deterministic stand-in
mandated by the sandbox (north_rule allows a rule-based OCR pass): the
scan payload carries an ``OCRTEXT:`` marker the decoder reads.  The
Spark-side plumbing — subset routing, Arrow batching, schema, rejoin —
is the real thing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..schemas import OCR_TEXT
from .arrow_rows import map_rows


def _decode(rows):
    # per-batch heavyweight work would happen here (model inference);
    # the stand-in decoder reads the marker text.
    for r in rows:
        raw = r["ocr_payload"] or b""
        text = ""
        if raw.startswith(b"OCRTEXT:"):
            text = raw[len(b"OCRTEXT:"):].decode("utf-8", errors="replace")
        yield {"url": r["url"], "page_no": r["page_no"], "ocr_text": text.strip()}


def ocr_stage(pages: DataFrame) -> DataFrame:
    """pages -> (url, page_no, ocr_text) for the flagged subset only."""
    flagged = pages.filter(F.col("ocr_triggered")).select(
        "url", "page_no", "ocr_payload"
    )
    return map_rows(flagged, _decode, OCR_TEXT)


def merge_ocr(page_text: DataFrame, ocr_text: DataFrame) -> DataFrame:
    """Combine the (disjoint) stripped-text rows and OCR-text rows —
    a union, not a join: the two subsets partition the page set, so no
    shuffle is needed (OCR output is never boilerplate-stripped,
    matching the reference where the OCR stage writes its own artifacts,
    table_ocr.py:125-133)."""
    ocr_rows = ocr_text.select(
        "url",
        "page_no",
        F.coalesce("ocr_text", F.lit("")).alias("page_text"),
        F.lit(True).alias("ocr_triggered"),
    )
    return page_text.unionByName(ocr_rows)
