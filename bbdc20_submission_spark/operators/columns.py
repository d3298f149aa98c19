"""Adding columns with parsed-SQL fragments.

``df.selectExpr("*", "<sql> AS c")`` is the cheap way to add a column
(one py4j round trip for the whole projection), but unlike
``withColumn`` it appends a second ``c`` when ``df`` already has one,
and the next reference to ``c`` fails with AMBIGUOUS_REFERENCE.
``add_sql_columns`` keeps the cheap form and ``withColumn``'s replace
semantics; ``double_sql`` writes a Python float into a fragment.
"""

from __future__ import annotations

import math
from collections.abc import Mapping

from pyspark.sql import DataFrame


def double_sql(value: float) -> str:
    """``value`` as a SQL DOUBLE literal, exact (``repr`` round-trips);
    a bare ``0.5`` would parse as a DECIMAL."""
    value = float(value)
    if math.isfinite(value):
        return f"({value!r}D)"
    return f"CAST('{value}' AS DOUBLE)"


def add_sql_columns(df: DataFrame, columns: Mapping[str, str]) -> DataFrame:
    """``df`` with one column per ``name: sql`` item, in one projection.

    A name that is already a column of ``df`` (case-insensitively, as
    Spark resolves names) is replaced in place, like ``withColumn``;
    the others are appended in ``columns`` order. Every fragment reads
    ``df``'s columns as they were before the call."""
    by_lower = {name.lower(): name for name in columns}
    replaced = set()
    out = []
    for c in df.columns:
        name = by_lower.get(c.lower())
        if name is None:
            out.append(f"`{c}`")
        else:
            out.append(f"{columns[name]} AS `{name}`")
            replaced.add(name)
    out += [f"{sql} AS `{name}`" for name, sql in columns.items() if name not in replaced]
    return df.selectExpr(*out)
