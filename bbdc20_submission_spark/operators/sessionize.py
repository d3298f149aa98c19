"""Gaps-and-islands run-length encoding (sessionization).

Re-expresses the reference's RLE-of-predictions sink stage
(``/root/reference/generate_submission.py:522-562``: scan ts-ordered
rows per key, emit a segment each time the action changes) as the
classic lag-flag -> running-sum -> groupBy sessionization, which is a
single shuffle on the partition key and stays fully distributed.

Scale notes: one shuffle on ``keys``; window + groupBy share the same
hash partitioning so Catalyst reuses the exchange. Partition count is
`spark.sql.shuffle.partitions` / AQE-coalesced; skewed keys are handled
by AQE skew-split since the window itself is per-key sequential (a key's
run must be contiguous — salting is not applicable, but per-user
cardinality is bounded in practice).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bbdc20_submission_spark.operators.columns import add_sql_columns


def rle_islands(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    value_col: str,
) -> DataFrame:
    """Tag each row with an island id: consecutive (in ``order_by`` order,
    per ``keys`` group) rows with equal ``value_col`` share an island.

    Null-safe: a change from null to non-null (or vice versa) starts a
    new island; consecutive nulls share one.
    """
    part = ", ".join(f"`{k}`" for k in keys)
    order = ", ".join(f"`{o}`" for o in order_by)
    v = f"`{value_col}`"
    prev = f"lag({v}) OVER (PARTITION BY {part} ORDER BY {order})"
    island = (
        f"sum(CAST(NOT ({v} <=> {prev}) AS INT)) OVER (PARTITION BY {part} "
        f"ORDER BY {order} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    return add_sql_columns(df, {"island": island})


def sessionize(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    order_by: Sequence[str] | None = None,
) -> DataFrame:
    """Collapse runs of equal ``value_col`` into one row per run.

    Output columns: ``*keys, island, <value_col>, start_ts, end_ts,
    n_rows`` where start/end are the min/max ``ts_col`` inside the run
    (closed interval over observed rows; see ``rle_intervals`` for the
    reference's half-open variant).
    """
    order_by = list(order_by) if order_by is not None else [ts_col]
    tagged = rle_islands(df, keys, order_by, value_col)
    return (
        tagged.groupBy(*keys, "island", value_col)
        .agg(
            F.min(ts_col).alias("start_ts"),
            F.max(ts_col).alias("end_ts"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def rle_intervals(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    order_by: Sequence[str] | None = None,
) -> DataFrame:
    """Reference-exact half-open RLE (generate_submission.py:522-562).

    Segment end = the ts where the *next* run starts; the final run of
    each key is emitted only if its span is non-empty (the reference
    drops a trailing run whose segment would end exactly at its start —
    i.e. a run that begins at the key's last timestamp contributes no
    interval beyond it, `generate_submission.py:561-562`).

    Output: ``*keys, <value_col>, start, end`` with start/end in the
    units of ``ts_col``.
    """
    order_by = list(order_by) if order_by is not None else [ts_col]
    tagged = rle_islands(df, keys, order_by, value_col)
    # carry each run's max ts through the SAME aggregation, then the
    # key's max is a window max over the tiny runs frame — no second
    # scan of df, no join back (one shuffle on keys total)
    runs = tagged.groupBy(*keys, "island", value_col).agg(
        F.expr(f"min(`{ts_col}`) AS `start`"), F.expr(f"max(`{ts_col}`) AS _run_max")
    )
    part = ", ".join(f"`{k}`" for k in keys)
    # Final open segment closes at the key's max ts; dropped when empty.
    end = (
        f"coalesce(lead(`start`) OVER (PARTITION BY {part} ORDER BY island), "
        f"max(_run_max) OVER (PARTITION BY {part}))"
    )
    return runs.selectExpr(
        *[f"`{k}`" for k in keys], f"`{value_col}`", "`start`", f"{end} AS `end`"
    ).filter("`end` > `start`")
