"""Driver-assembled result rows → a job-free LocalRelation.

``spark.createDataFrame(list)`` parallelizes a Python RDD, so even a
``collect()`` of a k-row result pays a 1-task job plus a Py4J round-trip
(~0.3-0.4 s measured warm). ``spark.createDataFrame(pa.Table)`` hands the
columns over as one Arrow stream and plans as a LocalRelation for any row
count: it collects job-free, and downstream projections constant-fold
through ConvertToLocalRelation.

Every value is converted from its declared type, never inferred: ints must
be ints, and doubles keep every IEEE-754 bit, NaN and ±inf included.
"""

from __future__ import annotations

import numbers
from typing import Sequence

import pyarrow as pa

_ARROW = {"long": pa.int64(), "int": pa.int32(), "double": pa.float64()}


def _int(v) -> int:
    if isinstance(v, bool) or not isinstance(v, numbers.Integral):
        raise TypeError(f"expected an int, got {type(v).__name__}: {v!r}")
    return int(v)


_CONVERT = {"long": _int, "int": _int, "double": float}


def values_frame(spark, rows: Sequence[tuple],
                 schema: Sequence[tuple[str, str]]):
    """``rows`` (one tuple per row, in ``schema`` order) → DataFrame with
    columns ``schema`` = [(name, "long" | "int" | "double"), ...], as a
    LocalRelation."""
    cols = list(zip(*rows)) if rows else [()] * len(schema)
    return spark.createDataFrame(pa.table({
        name: pa.array([_CONVERT[typ](v) for v in col], _ARROW[typ])
        for (name, typ), col in zip(schema, cols)}))
