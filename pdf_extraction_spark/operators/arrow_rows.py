"""The one way rows cross the JVM/Python boundary: ``mapInArrow`` over
row dicts.

Every Python operator in the package (layout, OCR, chunk, multimodal)
says only what one batch of rows becomes: ``fn(rows)`` takes the input
``RecordBatch`` as ``rb.to_pylist()`` and returns an iterable of output
row dicts.  Arrow builds the output batches directly from those dicts
(``RecordBatch.from_pylist``), so nested structs convert in C++ and no
pandas object columns are built in either direction — the conversion
around a Python UDF, not its body, is where its cost sits (CIDR 2022,
"Accelerating Python UDFs in Vectorized Query Execution").
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from itertools import islice

from pyspark.sql import DataFrame, types as T

from ..constants import ARROW_MAX_RECORDS_PER_BATCH


def map_rows(
    df: DataFrame, fn: Callable[[list[dict]], Iterable[dict]], schema: T.StructType
) -> DataFrame:
    """``df`` -> the rows ``fn`` emits per input batch, typed ``schema``.

    The pyarrow schema is converted once, on the driver, and shipped
    with the task.  Output batches are cut at
    ARROW_MAX_RECORDS_PER_BATCH rows, so a 1->N operator that yields
    its rows (a document's chunks or pages, a video's frames) holds at
    most one output batch in Python memory.
    """
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)

    def run(batches):
        import pyarrow as pa

        for rb in batches:
            out = iter(fn(rb.to_pylist()))
            while rows := list(islice(out, ARROW_MAX_RECORDS_PER_BATCH)):
                yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    return df.mapInArrow(run, schema)
