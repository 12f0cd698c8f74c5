"""Driver-assembled result rows → a job-free LocalRelation.

``spark.createDataFrame(list)`` parallelizes a Python RDD, so even a
``collect()`` of a k-row result pays a 1-task job plus a Py4J round-trip
(~0.3-0.4 s measured warm). A SQL ``VALUES`` literal plans as a
LocalRelation that collects job-free, and downstream projections
constant-fold through ConvertToLocalRelation.

Every value is rendered from its declared type, never interpolated as
text: ints must be ints, and doubles go through ``repr``, whose shortest
round-trip decimal parses back to the identical IEEE-754 double. NaN and
±inf have no numeric literal (``CAST(nan AS DOUBLE)`` would parse ``nan``
as a column name), so they are cast from Spark's string spellings.
"""

from __future__ import annotations

import math
import numbers
from typing import Sequence

# VALUES-literal ceiling: the SQL parse is ~linear in tuples (measured
# ~1.5 s at 20k), so beyond a few thousand rows createDataFrame's RDD job
# (~0.3-0.4 s flat) is the cheaper handoff. Typical results are ≤ k ≤ 100
# rows — far under it either way.
VALUES_MAX_ROWS = 2000

_NON_FINITE = {"nan": "'NaN'", "inf": "'Infinity'", "-inf": "'-Infinity'"}


def _int_sql(v) -> str:
    if isinstance(v, bool) or not isinstance(v, numbers.Integral):
        raise TypeError(f"expected an int, got {type(v).__name__}: {v!r}")
    return str(int(v))


def _double_sql(v) -> str:
    x = float(v)
    lit = repr(x) if math.isfinite(x) else _NON_FINITE[repr(x)]
    return f"CAST({lit} AS DOUBLE)"


_RENDER = {
    "long": lambda v: _int_sql(v) + "L",
    "int": _int_sql,
    "double": _double_sql,
}


def values_frame(spark, rows: Sequence[tuple],
                 schema: Sequence[tuple[str, str]]):
    """``rows`` (one tuple per row, in ``schema`` order) → DataFrame with
    columns ``schema`` = [(name, "long" | "int" | "double"), ...]. Empty or
    over-long row lists go through ``createDataFrame``."""
    ddl = ", ".join(f"{name} {typ}" for name, typ in schema)
    if not rows or len(rows) > VALUES_MAX_ROWS:
        return spark.createDataFrame(list(rows), ddl)
    render = [_RENDER[typ] for _, typ in schema]
    vals = ", ".join(
        "(" + ", ".join(f(v) for f, v in zip(render, row)) + ")"
        for row in rows)
    cols = ", ".join(f"col{i + 1} AS {name}"
                     for i, (name, _) in enumerate(schema))
    return spark.sql(f"SELECT {cols} FROM VALUES {vals}")
