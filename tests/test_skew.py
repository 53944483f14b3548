"""Skew defense: a giant document's page units must scatter across
partitions (north_star salted repartitioning), while small documents
take the shuffle-free path."""

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from pdf_extraction_spark.constants import SPLIT_BYTES_THRESHOLD
from pdf_extraction_spark.functions.html_extract import extract_html
from pdf_extraction_spark.operators.extract import extract_stage
from pdf_extraction_spark.sources.corpus import corpus_df, generate_row


def test_giant_doc_pages_scatter(spark):
    giant = generate_row(7)  # the 60-page skew probe
    assert len(giant["html"]) > SPLIT_BYTES_THRESHOLD, "probe must exceed the gate"
    pages = extract_stage(corpus_df(spark, 30), n_partitions=16)
    dist = (
        pages.filter(F.col("url") == giant["url"])
        .groupBy("partition_id")
        .count()
        .collect()
    )
    assert sum(r["count"] for r in dist) == 60
    assert len(dist) >= 8, f"giant doc stuck in {len(dist)} partitions"
    # no partition holds more than a quarter of the giant doc
    assert max(r["count"] for r in dist) <= 15


def test_small_docs_single_python_stage(spark):
    """The small-doc path must not shuffle payloads: its physical plan
    has no Exchange between the parquet scan and the layout UDF."""
    import os
    import tempfile

    with tempfile.TemporaryDirectory(dir="/root/repo/.work" if os.path.isdir("/root/repo/.work") else None) as d:
        corpus_df(spark, 20).write.parquet(f"{d}/c")
        inp = spark.read.parquet(f"{d}/c")
        plan = extract_stage(inp)._jdf.queryExecution().executedPlan().toString()
    # exactly one exchange: the big-doc scatter; the small branch reads
    # scan -> filter -> project -> mapInArrow with no shuffle
    assert plan.count("Exchange") == 1


@settings(max_examples=150, deadline=None)
@given(st.text(max_size=400))
def test_html_extract_never_crashes(payload):
    page = extract_html(payload.encode("utf-8", errors="ignore"))
    assert page["page_no"] == 1
    for line in page["md_lines"]:
        assert "\n" not in line
        assert line == " ".join(line.split()) or line == "[IMAGE]"
