"""One Python transport: every Python operator in the package crosses
the JVM/Python boundary through operators/arrow_rows.py (mapInArrow
over row dicts).  A pandas UDF, a ``...InPandas`` call or a direct
``.mapInArrow(`` anywhere else fails here, so a second transport idiom
cannot creep back in."""

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "pdf_extraction_spark"
HELPER = PKG / "operators" / "arrow_rows.py"
# stateful streaming needs applyInPandasWithState: no Arrow-native
# stateful counterpart exists
ALLOWED_PANDAS = {PKG / "streaming" / "ingest.py"}

PANDAS_CALL = re.compile(r"\bpandas_udf\b|\.\w*InPandas\w*\(")
ARROW_CALL = re.compile(r"\.mapInArrow\(")


def test_python_operators_use_the_arrow_rows_helper():
    bad = []
    for path in sorted(PKG.rglob("*.py")):
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if PANDAS_CALL.search(line) and path not in ALLOWED_PANDAS:
                bad.append(f"{path.relative_to(PKG)}:{no}: {line.strip()}")
            if ARROW_CALL.search(line) and path != HELPER:
                bad.append(f"{path.relative_to(PKG)}:{no}: {line.strip()}")
    assert bad == []
    assert ARROW_CALL.search(HELPER.read_text())
