"""Structured Streaming variants of the windowed operators (SURVEY
§2.5 note: the reference is batch, but its tumbling windows (W1),
session/RLE (W6) and grid semantics map 1:1 onto Structured Streaming
— these are those mappings, fed by any streaming source).

All operators take/return streaming DataFrames; tests drive them with
a parquet file source and a memory sink (processAllAvailable), which
is also the local smoke pattern for a Kafka-backed deployment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_tumbling_agg(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """W1 as a streaming tumbling-window aggregation with a watermark
    bounding state for late data. Append-able after watermark close."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), key_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg(value_col), 6).alias("avg_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            key_col,
            "n_events",
            "avg_value",
        )
    )


def stream_session_windows(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """W6's sessionization as native ``session_window`` (gap-based):
    a session closes when no event arrives for ``gap``. State is
    bounded by the watermark."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("sess"), key_col)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key_col,
            F.col("sess.start").alias("sess_start"),
            F.col("sess.end").alias("sess_end"),
            "n_events",
        )
    )


def stream_rle_islands(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "event_type",
    watermark: str | None = None,
    idle_flush: str | None = None,
) -> DataFrame:
    """W6's value-change RLE as a custom stateful streaming operator
    (``applyInPandasWithState``): per key, carry (current value, run
    start, run count) across micro-batches; emit a finished run row
    whenever the value changes. With BOTH ``watermark`` and
    ``idle_flush`` set (the production form), an open run is FLUSHED
    as final once the watermark passes ``idle_flush`` beyond its last
    event — every run is eventually emitted and idle keys' state is
    evicted. The default (both None) is the strict stream==batch
    shape the equivalence tests certify: only value-change-closed
    runs are emitted, and each key's final open run stays in state
    forever (unbounded keys -> unbounded state; long-running
    deployments should set the flush).

    Correctness notes baked in: all Arrow chunks of a key's
    micro-batch are concatenated BEFORE the single sort (chunk order
    is not guaranteed — a per-chunk sort mis-segments runs that span
    chunks; the buffer is bounded by one key's micro-batch volume),
    and run-state existence is a separate flag, not a None sentinel
    (a NULL value is a legal run value).

    This is the applyInPandasWithState pattern the reference's island
    scan (generate_submission.py:522-562) would need as a stream.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # output/state schemas follow the ACTUAL key and value column types
    # (a long key + string value is only the default harness shape)
    field_types = {f.name: f.dataType.simpleString() for f in events.schema.fields}
    key_type = field_types[key_col]
    value_type = field_types[value_col]
    out_schema = (
        f"{key_col} {key_type}, {value_col} {value_type}, start_ts timestamp, "
        "end_ts timestamp, n_rows long"
    )
    state_schema = (
        f"value {value_type}, start_ts timestamp, last_ts timestamp, n long"
    )
    use_timeout = watermark is not None and idle_flush is not None
    idle_ms = _interval_ms(idle_flush) if use_timeout else 0

    def _same(a, b) -> bool:
        # pd.isna raises TypeError/ValueError on non-scalar inputs
        # (list/array-valued run columns) by its documented contract —
        # those can't be NaN, so fall through to plain equality
        try:
            if pd.isna(a) and pd.isna(b):
                return True
        except (TypeError, ValueError):
            pass
        return a == b

    def fn(key, pdf_iter, state: GroupState):
        (k,) = key
        if use_timeout and state.hasTimedOut:
            # watermark passed last_ts + idle_flush: the open run is
            # final — emit it and evict the key's state
            cur_val, cur_start, cur_last, cur_n = state.get
            state.remove()
            yield pd.DataFrame(
                [(k, cur_val, cur_start, cur_last, cur_n)],
                columns=[key_col, value_col, "start_ts", "end_ts", "n_rows"],
            )
            return
        has_run = state.exists
        if has_run:
            cur_val, cur_start, cur_last, cur_n = state.get
        else:
            cur_val, cur_start, cur_last, cur_n = None, None, None, 0
        finished = []
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        rows = (
            pd.concat(chunks, ignore_index=True).sort_values(
                [ts_col], kind="mergesort"  # stable: ties keep arrival order
            )
            if chunks
            else pd.DataFrame(columns=[ts_col, value_col])
        )
        for _, row in rows.iterrows():
            v, t = row[value_col], row[ts_col]
            if not has_run:
                has_run = True
                cur_val, cur_start, cur_last, cur_n = v, t, t, 1
            elif _same(v, cur_val):
                cur_last, cur_n = t, cur_n + 1
            else:
                finished.append((k, cur_val, cur_start, cur_last, cur_n))
                cur_val, cur_start, cur_last, cur_n = v, t, t, 1
        if has_run:
            state.update((cur_val, cur_start, cur_last, cur_n))
            if use_timeout:
                state.setTimeoutTimestamp(
                    int(pd.Timestamp(cur_last).timestamp() * 1000) + idle_ms
                )
        if finished:
            yield pd.DataFrame(
                finished,
                columns=[key_col, value_col, "start_ts", "end_ts", "n_rows"],
            )

    src = events.withWatermark(ts_col, watermark) if use_timeout else events
    return src.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if use_timeout
            else GroupStateTimeout.NoTimeout
        ),
    )


def _interval_ms(interval: str) -> int:
    """Parse an interval string to milliseconds. Accepts the compound
    forms Spark does elsewhere: '1 hour', '30 minutes',
    '1 hour 30 minutes', '1 day 2 hours 3 seconds'."""
    per = {"second": 1000, "minute": 60_000, "hour": 3_600_000,
           "day": 86_400_000, "millisecond": 1}
    parts = interval.split()
    if not parts or len(parts) % 2 != 0:
        raise ValueError(
            f"bad interval {interval!r}: expected 'N unit [N unit ...]'"
            f" with units in {sorted(per)}"
        )
    total = 0
    for n, unit in zip(parts[::2], parts[1::2]):
        key = unit.rstrip("s").lower()
        if key not in per or not n.lstrip("-").isdigit():
            raise ValueError(
                f"bad interval part {n + ' ' + unit!r} in {interval!r}:"
                f" expected 'N unit' with unit in {sorted(per)}"
            )
        total += int(n) * per[key]
    return total


def stream_dedup(
    events: DataFrame,
    keys: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: ``dropDuplicatesWithinWatermark`` over
    the key columns — the streaming form of the exact-dedup operator
    with state ACTUALLY bounded by the watermark (plain
    ``dropDuplicates(keys)`` without the event-time column in the
    subset keeps one state entry per distinct key forever; the
    WithinWatermark variant evicts entries once the watermark passes,
    guaranteeing dedup for duplicates arriving within the watermark
    delay of each other — the standard bounded-state contract)."""
    keys = keys or ["user_id", "event_type"]
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )
