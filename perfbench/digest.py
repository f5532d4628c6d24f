"""Result digests: a collected result reduced to one hash that Spark and the
DuckDB oracle agree on.

Rows are first normalised exactly as ``compare.normalize`` does (columns by
name, cells canonicalised, rows sorted).  Numbers are then put on one footing:
Decimal, int and float all become a float rounded to ``SIG_DIGITS``
significant digits, written as an int when integral.  That absorbs the
summation-order noise of parallel aggregates (~1e-13 relative) and the
int-vs-float and decimal-scale renderings the two engines differ on, while any
real change in a value still changes the digest.
"""

from __future__ import annotations

import decimal
import hashlib
import json
import math
from typing import Any

import pandas as pd

from native_sql_engine_spark.compare import normalize

SIG_DIGITS = 10


def _canon(v: Any) -> Any:
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        x = float(v)
        if math.isnan(x):
            return "NaN"
        if math.isinf(x):
            return "inf" if x > 0 else "-inf"
        x = float(f"{x:.{SIG_DIGITS}g}")
        return int(x) if x.is_integer() else x
    if isinstance(v, tuple):
        return [_canon(x) for x in v]
    return str(v)


def canonical_rows(pdf: pd.DataFrame) -> list[list[Any]]:
    rows = [[_canon(c) for c in row] for row in normalize(pdf)]
    # coarser numbers can reorder rows that differed only in noise
    return sorted(rows, key=lambda r: json.dumps(r, default=str))


def digest(pdf: pd.DataFrame) -> str:
    payload = {"columns": sorted(map(str, pdf.columns)), "rows": canonical_rows(pdf)}
    return hashlib.sha256(json.dumps(payload, default=str).encode()).hexdigest()[:32]
