"""One batch format at the Python boundary: every map operator and vectorized
UDF under ``zerox_spark/`` takes and yields Arrow. The one exception is the
streaming fold, because ``applyInPandasWithState`` has no Arrow form."""

from __future__ import annotations

import pathlib

import zerox_spark

PANDAS_ONLY = {"streaming.py"}
MARKERS = ("import pandas", "pandas_udf", "mapInPandas")


def test_no_pandas_boundary_outside_streaming():
    root = pathlib.Path(zerox_spark.__file__).parent
    hits = [
        f"{path.relative_to(root)}: {marker}"
        for path in sorted(root.rglob("*.py"))
        if path.name not in PANDAS_ONLY
        for marker in MARKERS
        if marker in path.read_text(encoding="utf-8")
    ]
    assert not hits, hits
