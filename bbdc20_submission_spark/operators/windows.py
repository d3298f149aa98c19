"""Window / time-series operators (SURVEY.md §2.5).

All single-shuffle designs: every operator partitions by the trial key
once; window specs over the same partitioning share the exchange, so a
multi-stat pass (e.g. the W9 context features) is one shuffle total.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def tumbling_window_key(ts: Column | str, step_ms: int = 200) -> Column:
    """Event-time tumbling-window start key in ms (SURVEY W1/P8).

    Ref: ``int(ts*1000) // step * step`` at ``load_data.py:122-123``
    (ts in float seconds; ``int()`` truncates toward zero, ``//``
    FLOORS). For TimestampType input use ``F.window(ts, ...)``
    instead; this is the exact integer-key form the reference uses.
    The quotient uses F.floor, not a long cast — a cast truncates
    toward zero, bucketing negative (pre-epoch/relative) timestamps
    one window too high.
    """
    t = F.col(ts) if isinstance(ts, str) else ts
    ms = (t * 1000).cast("long")
    return (F.floor(ms / F.lit(step_ms)) * step_ms).cast("long")


def frame_id(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    win_size: int,
    shift: int | None = None,
    cut: int = 0,
    out_col: str = "frame",
) -> DataFrame:
    """Frame ids over row position, overlapping or strided (SURVEY W2).

    Ref: ``get_windows`` at ``utils.py:10-16`` — frames of ``win_size``
    rows starting every ``shift`` rows; ``cut=k`` drops the last k
    frames, ``cut=0`` keeps the ragged tail. The reference main path
    uses win_size == shift (non-overlapping,
    ``generate_submission.py:374``) — a plain integer-division key;
    shift != win_size frames come from a bounded explode(sequence)
    (each row lands in at most ceil(win/shift) frames, a query-time
    constant, so the op stays narrow at any scale).
    """
    shift = win_size if shift is None else shift
    w = Window.partitionBy(*keys).orderBy(*order_by)
    nmax = Window.partitionBy(*keys)
    pos = F.row_number().over(w) - 1
    # frame count per reference: one frame per start in range(0, n, shift)
    keep_below = F.ceil(F.count(F.lit(1)).over(nmax) / F.lit(shift)) - cut
    tagged = df.withColumn("_pos", pos).withColumn("_keep_below", keep_below)
    if shift == win_size:
        out = tagged.withColumn(
            out_col, F.floor(F.col("_pos") / F.lit(shift)).cast("long")
        )
    else:
        # row p belongs to every frame f with f*shift <= p < f*shift+win
        lo = F.greatest(
            F.ceil((F.col("_pos") - win_size + 1) / F.lit(shift)), F.lit(0)
        ).cast("long")
        hi = F.floor(F.col("_pos") / F.lit(shift)).cast("long")
        # lo > hi means the row falls in a gap (shift > win) — sequence()
        # would auto-step DOWNWARD there, so emit an empty list instead
        # (explode then drops the row, matching the reference)
        frames = F.when(lo <= hi, F.sequence(lo, hi)).otherwise(
            F.array().cast("array<long>")
        )
        out = tagged.withColumn(out_col, F.explode(frames))
    if cut > 0:
        out = out.filter(F.col(out_col) < F.col("_keep_below"))
    return out.drop("_pos", "_keep_below")


def trailing_moving_average(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    value_col: str,
    n: int,
    out_col: str = "mavg",
    valid_only: bool = True,
) -> DataFrame:
    """Trailing moving average of the last n rows (SURVEY W3).

    Ref: cumsum-trick ``moving_average`` at ``utils.py:4-7`` with
    numpy 'valid' semantics (first n-1 positions dropped when
    ``valid_only``). The built-in window agg is already incremental —
    the cumsum trick is the engine's job, not the query's.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    out = df.withColumn(
        out_col, F.avg(value_col).over(w.rowsBetween(-(n - 1), 0))
    )
    if valid_only:
        out = out.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") >= n
        ).drop("_rn")
    return out


def context_gather_stats(
    df: DataFrame,
    keys: Sequence[str],
    range_col: str,
    value_col: str,
    offsets: Sequence[tuple[int, int]],
    prefix: str = "ctx",
) -> DataFrame:
    """Multi-resolution context-frame statistics (SURVEY J3/W9).

    For each row, and for each (lo, hi) half-open offset pair over the
    ``range_col`` ordering (units of range_col), computes mean/min/max
    of ``value_col`` across all rows of the key group whose range_col
    falls in ``[t+lo, t+hi)`` — the reference's ``get_context_frames``
    gathers (``utils.py:56-76``) followed by per-frame stats
    (``generate_submission.py:20-27``).

    One shuffle: all rangeBetween windows share the same
    partitionBy/orderBy, so Catalyst evaluates them in a single Window
    physical operator chain. Empty frames yield null (the reference
    pads with NaN -> stats NaN; normalize downstream like P7).

    INTEGER range_col required: the half-open [t+lo, t+hi) is emulated
    as the closed frame [lo, hi-1], exact only when range_col values
    are integral (the reference's ms grid keys). Non-integer range
    values in (t+hi-1, t+hi) would be silently excluded — pre-scale
    fractional ranges to integers (e.g. seconds -> ms) first.
    """
    w = Window.partitionBy(*keys).orderBy(range_col)
    out_cols = list(df.columns)
    v = F.col(value_col)
    for lo, hi in offsets:
        frame = w.rangeBetween(lo, hi - 1)  # half-open [lo, hi)
        tag = f"{prefix}_{lo}_{hi}".replace("-", "m")
        out_cols += [
            F.avg(v).over(frame).alias(f"{tag}_mean"),
            F.min(v).over(frame).alias(f"{tag}_min"),
            F.max(v).over(frame).alias(f"{tag}_max"),
        ]
    return df.select(*out_cols)


def dense_grid(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    step: Column,
    out_col: str = "grid_ts",
) -> DataFrame:
    """Per-key dense grid from min(ts) to max(ts) (SURVEY W8 support).

    Generator-based (sequence + explode): one agg shuffle to find the
    span, then narrow row generation — no join against a global grid.
    """
    spans = df.groupBy(*keys).agg(
        F.min(ts_col).alias("_lo"), F.max(ts_col).alias("_hi")
    )
    return spans.withColumn(
        out_col, F.explode(F.sequence(F.col("_lo"), F.col("_hi"), step))
    ).drop("_lo", "_hi")


def grid_pad(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    step: Column,
    value_cols: Sequence[str],
    pad_value: float | None = None,
) -> DataFrame:
    """Missing-window padding (SURVEY W8): left-join the dense grid to
    the data; ABSENT SLOTS become ``pad_value`` (None keeps null —
    the reference's NaN block for mocap, 0.0 for EMG,
    ``utils.py:66-73``). Only grid-added rows are padded: a null
    observed in a REAL data row passes through untouched (a blanket
    na.fill would silently zero genuine null observations, making
    them indistinguishable from padding)."""
    grid = dense_grid(df, keys, ts_col, step, out_col=ts_col)
    marked = df.withColumn("_obs", F.lit(1))
    joined = grid.join(marked, [*keys, ts_col], "left")
    if pad_value is not None:
        pad = F.col("_obs").isNull()
        for c in value_cols:
            joined = joined.withColumn(
                c, F.when(pad, F.lit(pad_value)).otherwise(F.col(c))
            )
    return joined.drop("_obs")
