"""Time-series / windowed declared queries (SURVEY.md §2.5) over `events`.

`events` (event_id bigint, ts timestamp, user_id bigint, event_type
string, value double, props json-string) stands in for the reference's
sensor streams: user_id ~ (subject, trial), ts ~ sample time, value ~
channel, event_type ~ action label (FIXTURES.md §2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bbdc20_submission_spark.operators.interpolate import interpolate_linear
from bbdc20_submission_spark.operators.joins import asof_join, interval_grid_expand
from bbdc20_submission_spark.operators.sessionize import sessionize
from bbdc20_submission_spark.operators.windows import (
    context_gather_stats,
    frame_id,
    grid_pad,
    trailing_moving_average,
)
from bbdc20_submission_spark.registry import query
from bbdc20_submission_spark.sources.harness import load_table

HOUR_MS = 3_600_000


# --- W6: gaps-and-islands RLE (flagship; ref generate_submission.py:522-562)
@query(
    "w6_sessionize_rle",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id, ts, event_type,
               CASE WHEN event_type IS DISTINCT FROM
                    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    THEN 1 ELSE 0 END AS chg
        FROM events
    ), islands AS (
        SELECT user_id, event_id, ts, event_type,
               CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
        FROM flagged
    )
    SELECT user_id,
           island,
           event_type,
           epoch_ms(min(ts)) AS start_ms,
           epoch_ms(max(ts)) AS end_ms,
           count(*) AS n_rows
    FROM islands
    GROUP BY user_id, island, event_type
    """,
)
def w6_sessionize_rle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse consecutive equal event_type per user into runs.

    Ties on ts broken by event_id (deterministic). Ref semantics:
    generate_submission.py:522-562 (SURVEY W6).
    """
    events = load_table(spark, "events", sf_dir)
    runs = sessionize(
        events,
        keys=["user_id"],
        ts_col="ts",
        value_col="event_type",
        order_by=["ts", "event_id"],
    )
    return runs.select(
        "user_id",
        F.col("island").cast("long").alias("island"),
        "event_type",
        F.unix_millis("start_ts").alias("start_ms"),
        F.unix_millis("end_ts").alias("end_ms"),
        F.col("n_rows").cast("long").alias("n_rows"),
    )


# --- W1: tumbling event-time window (ref load_data.py:122-129)
@query(
    "w1_tumbling_window",
    oracle="""
    SELECT (epoch_ms(ts) // 3600000) * 3600000 AS win_ms,
           event_type,
           count(*) AS n_events,
           round(avg(value), 6) AS avg_value
    FROM events
    GROUP BY win_ms, event_type
    """,
)
def w1_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/P8: floor-key tumbling window (1 h here; 200 ms in the
    reference) + per-window aggregation. Single shuffle on the window
    key; map-side partial aggregation halves shuffle volume."""
    e = load_table(spark, "events", sf_dir)
    win = (F.floor(F.unix_millis("ts") / HOUR_MS) * HOUR_MS).alias("win_ms")
    return e.groupBy(win, "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )


# --- J2: interval -> grid expansion (ref load_data.py:34-42)
@query(
    "j2_interval_grid",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id, ts, event_type,
               CASE WHEN event_type IS DISTINCT FROM
                    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    THEN 1 ELSE 0 END AS chg
        FROM events
    ), islands AS (
        SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
        FROM flagged
    ), runs AS (
        SELECT user_id, island, event_type,
               date_trunc('hour', min(ts)) AS run_start,
               date_trunc('hour', max(ts)) AS run_end
        FROM islands GROUP BY user_id, island, event_type
    )
    SELECT user_id, island, event_type,
           epoch_ms(unnest(generate_series(run_start, run_end, INTERVAL 1 HOUR))) AS grid_ms
    FROM runs
    """,
)
def j2_interval_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: expand each RLE run onto an hourly grid via
    explode(sequence(...)) — a narrow generator, no shuffle beyond the
    runs' own (ref: label-interval -> 200 ms grid expansion). Bounds
    inclusive on both engines."""
    e = load_table(spark, "events", sf_dir)
    runs = sessionize(
        e, keys=["user_id"], ts_col="ts", value_col="event_type",
        order_by=["ts", "event_id"],
    ).select(
        "user_id",
        F.col("island").cast("long").alias("island"),
        "event_type",
        F.date_trunc("hour", "start_ts").alias("run_start"),
        F.date_trunc("hour", "end_ts").alias("run_end"),
    )
    grid = interval_grid_expand(
        runs, "run_start", "run_end", F.expr("interval 1 hour"), out_col="grid_ts"
    )
    return grid.select(
        "user_id", "island", "event_type",
        F.unix_millis("grid_ts").alias("grid_ms"),
    )


# --- J3/W9: multi-resolution context gathers (ref utils.py:56-76 + stats)
@query(
    "w9_j3_context_stats",
    oracle="""
    SELECT event_id,
           round(avg(value) OVER past,  6) AS past_mean,
           round(min(value) OVER past,  6) AS past_min,
           round(max(value) OVER past,  6) AS past_max,
           round(avg(value) OVER fut,   6) AS fut_mean,
           round(min(value) OVER fut,   6) AS fut_min,
           round(max(value) OVER fut,   6) AS fut_max
    FROM (SELECT event_id, user_id, value, epoch_ms(ts) AS ms FROM events)
    WINDOW
      past AS (PARTITION BY user_id ORDER BY ms
               RANGE BETWEEN 7200000 PRECEDING AND 1 PRECEDING),
      fut  AS (PARTITION BY user_id ORDER BY ms
               RANGE BETWEEN CURRENT ROW AND 7199999 FOLLOWING)
    """,
)
def w9_j3_context_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/W9: per-anchor context-frame stats over value-range windows
    [t-2h, t) and [t, t+2h). All frames share one partitionBy/orderBy
    -> a single Window exchange (the reference's 8-resolution gather
    runs as one shuffle the same way). Empty frames -> null."""
    e = load_table(spark, "events", sf_dir).withColumn(
        "ms", F.unix_millis("ts")
    )
    out = context_gather_stats(
        e, keys=["user_id"], range_col="ms", value_col="value",
        offsets=[(-2 * HOUR_MS, 0), (0, 2 * HOUR_MS)], prefix="c",
    )
    lo, hi = -2 * HOUR_MS, 2 * HOUR_MS
    pt = f"c_{lo}_0".replace("-", "m")
    ft = f"c_0_{hi}"
    return out.select(
        "event_id",
        F.round(f"{pt}_mean", 6).alias("past_mean"),
        F.round(f"{pt}_min", 6).alias("past_min"),
        F.round(f"{pt}_max", 6).alias("past_max"),
        F.round(f"{ft}_mean", 6).alias("fut_mean"),
        F.round(f"{ft}_min", 6).alias("fut_min"),
        F.round(f"{ft}_max", 6).alias("fut_max"),
    )


# --- J5: as-of join (ref sample<->window-label alignment)
@query(
    "j5_asof_join",
    oracle="""
    SELECT c.event_id,
           epoch_ms(c.ts) AS ts_ms,
           epoch_ms(e.ts) AS err_ts_ms,
           round(e.value, 6) AS err_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
      ON c.user_id = e.user_id AND c.ts >= e.ts
    """,
)
def j5_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: as-of join — each click takes the latest error at ts <= its
    own, per user. Implemented as union + ordered last(ignorenulls)
    carry-forward: one shuffle, linear work; survives scale where a
    non-equi nested-loop join would not (SURVEY J5/J2)."""
    e = load_table(spark, "events", sf_dir)
    clicks = e.filter(F.col("event_type") == "click")
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("err_ts"), F.col("value").alias("err_value")
    )
    joined = asof_join(
        clicks, errors, keys=["user_id"], left_ts="ts", right_ts="err_ts",
        right_cols=["err_ts", "err_value"],
    )
    return joined.select(
        "event_id",
        F.unix_millis("ts").alias("ts_ms"),
        F.unix_millis("err_ts_asof").alias("err_ts_ms"),
        F.round("err_value_asof", 6).alias("err_value"),
    )


# --- W2: frame extraction (ref utils.py:10-16)
@query(
    "w2_w4_frames",
    oracle="""
    WITH tagged AS (
        SELECT user_id, value,
               CAST((row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1)
                    // 10 AS BIGINT) AS frame
        FROM events
    )
    SELECT user_id, frame,
           count(*) AS n_rows,
           round(avg(value), 6)                          AS mean_v,
           round(avg(abs(value - 100.0)), 6)             AS abs_mean_v,
           round(max(abs(value - 100.0)), 6)             AS abs_max_v,
           round(CASE WHEN -min(value - 100.0) > max(value - 100.0)
                      THEN min(value - 100.0) ELSE max(value - 100.0) END, 6)
               AS signed_abs_max_v
    FROM tagged GROUP BY user_id, frame
    """,
)
def w2_w4_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 framing + the W4 downsample-dispatch SUITE in one per-frame
    aggregate: non-overlapping 10-row frames per user (win=shift,
    cut=0 keeps the ragged tail — the main-path configuration at
    generate_submission.py:374), then every reference downsample mode
    per frame (utils.py:19-35): count, mean, abs-mean (A5), abs-max,
    and signed abs-max (A6, _abs_max_orig utils.py:38-45). Values
    centered at 100 so both signs occur. One window pass + one
    grouped aggregate — frame assignment and all aggregates share the
    same user_id partitioning, so certifying them together adds no
    extra shuffle."""
    from bbdc20_submission_spark.operators.aggregates import signed_abs_max

    e = load_table(spark, "events", sf_dir)
    framed = frame_id(
        e, keys=["user_id"], order_by=["ts", "event_id"], win_size=10, cut=0
    )
    centered = F.col("value") - 100.0
    return framed.groupBy("user_id", "frame").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.avg("value"), 6).alias("mean_v"),
        F.round(F.avg(F.abs(centered)), 6).alias("abs_mean_v"),
        F.round(F.max(F.abs(centered)), 6).alias("abs_max_v"),
        F.round(signed_abs_max(centered), 6).alias("signed_abs_max_v"),
    )


# --- W3 + W7: per-event value transforms (ref utils.py:4-7 +
# load_data.py:95) — both are windows over the SAME (user_id; ts,
# event_id) partitioning, so certifying them together reuses one sort.
@query(
    "w3_w7_event_values",
    oracle="""
    WITH base AS (
        SELECT event_id, user_id, ts, value,
               CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos,
               avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS mavg
        FROM events
    ), filled AS (
        SELECT event_id, v, pos, mavg,
               last_value(v IGNORE NULLS) OVER wp AS pv,
               last_value(CASE WHEN v IS NOT NULL THEN pos END IGNORE NULLS) OVER wp AS pp,
               first_value(v IGNORE NULLS) OVER wf AS nv,
               first_value(CASE WHEN v IS NOT NULL THEN pos END IGNORE NULLS) OVER wf AS np
        FROM base
        WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id,
           round(CASE WHEN v IS NOT NULL THEN v
                      WHEN pp IS NULL THEN 0.0
                      WHEN np IS NULL THEN pv
                      ELSE pv + (nv - pv) * (pos - pp) / (np - pp)
                 END, 6) AS value_interp,
           CASE WHEN pos >= 5 THEN round(mavg, 6) ELSE 0.0 END AS mavg,
           CAST(pos >= 5 AS BIGINT) AS has_mavg
    FROM filled
    """,
)
def w3_w7_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 + W7 per-event value-transform SUITE over one ordered
    partition scan:

    - ``value_interp`` (W7): pandas-1.0 ``interpolate(linear).
      fillna(0)`` semantics — interior nulls linear in row position,
      trailing nulls ffilled, leading nulls -> 0 (ref
      load_data.py:95). Nulls synthesized by masking 'error' rows.
      Pure window composition, no UDF.
    - ``mavg`` (W3): trailing 5-row moving average of the RAW value,
      numpy-'valid' semantics via has_mavg (warmup rows carry flag 0
      and a 0.0 sentinel — same arithmetic both engines; the
      reference's cumsum trick is the engine's job).

    All windows share the ``user_id`` partitioning, so Catalyst plans
    ONE hash exchange for the whole suite, plus two in-partition sorts:
    the (ts, event_id) order and the reversed row-number order that
    interpolation's "next valid" running frame reads — cheaper than
    certifying the two operators in separate queries. The moving
    average reads the raw value, so it runs first, on the forward
    sort; after interpolation it would need a third sort."""
    e = load_table(spark, "events", sf_dir).withColumn(
        "v", F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("value"))
    )
    m = trailing_moving_average(
        e, keys=["user_id"], order_by=["ts", "event_id"], value_col="value",
        n=5, valid_only=False,
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    i = interpolate_linear(
        m.withColumn("_rn", F.row_number().over(w)),
        keys=["user_id"], order_by=["ts", "event_id"], value_cols=["v"],
    )
    return (
        i.select(
            "event_id",
            F.round("v", 6).alias("value_interp"),
            F.when(F.col("_rn") >= 5, F.round("mavg", 6))
            .otherwise(F.lit(0.0))
            .alias("mavg"),
            (F.col("_rn") >= 5).cast("long").alias("has_mavg"),
        )
    )


# --- W8: dense grid + padding (ref utils.py:66-73)
@query(
    "w8_grid_pad",
    oracle="""
    WITH daily AS (
        SELECT user_id, date_trunc('day', ts) AS day,
               sum(value) AS total
        FROM events GROUP BY user_id, day
    ), spans AS (
        SELECT user_id, min(day) AS lo, max(day) AS hi FROM daily GROUP BY user_id
    ), grid AS (
        SELECT user_id,
               unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
        FROM spans
    )
    SELECT g.user_id, epoch_ms(g.day) AS day_ms,
           round(coalesce(d.total, 0.0), 6) AS total
    FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
    """,
)
def w8_grid_pad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8: per-key dense daily grid; missing slots padded with 0
    (ref missing-window padding). Grid generated per key from its own
    span (sequence+explode) — no global grid materialization."""
    e = load_table(spark, "events", sf_dir)
    daily = (
        e.groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(F.sum("value").alias("total"))
    )
    padded = grid_pad(
        daily, keys=["user_id"], ts_col="day",
        step=F.expr("interval 1 day"), value_cols=["total"], pad_value=0.0,
    )
    return padded.select(
        "user_id",
        F.unix_millis("day").alias("day_ms"),
        F.round("total", 6).alias("total"),
    )


# --- O3: first-k / last-k rows per group (ref seqs[:k], seqs[-k:])
@query(
    "o3_head_tail",
    oracle="""
    WITH tagged AS (
        SELECT user_id, event_id, value,
               row_number() OVER (PARTITION BY user_id ORDER BY ts ASC,  event_id ASC)  AS rn_a,
               row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events
    )
    SELECT user_id, event_id, round(value, 6) AS value,
           CASE WHEN rn_a <= 3 THEN 'head' ELSE 'tail' END AS part
    FROM tagged WHERE rn_a <= 3 OR rn_d <= 3
    """,
)
def o3_head_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: first-3/last-3 rows per key (generate_submission.py:18 head/
    tail slicing). A row in both sets (short groups) is tagged 'head'
    in both engines by the same CASE priority."""
    e = load_table(spark, "events", sf_dir)
    asc = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    desc = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    tagged = e.withColumn("rn_a", F.row_number().over(asc)).withColumn(
        "rn_d", F.row_number().over(desc)
    )
    return (
        tagged.filter((F.col("rn_a") <= 3) | (F.col("rn_d") <= 3))
        .select(
            "user_id",
            "event_id",
            F.round("value", 6).alias("value"),
            F.when(F.col("rn_a") <= 3, "head").otherwise("tail").alias("part"),
        )
    )


# --- A1/§2.6: dropDuplicates certification
@query(
    "a1_drop_duplicates",
    oracle="""
    SELECT user_id, event_type, min(event_id) AS first_event
    FROM events GROUP BY user_id, event_type
    """,
)
def a1_drop_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates with a deterministic representative: min event_id
    per (user, type) — the order-stable form of keep-first dedup."""
    e = load_table(spark, "events", sf_dir)
    return e.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("first_event")
    )


def _micro(col: str) -> Column:
    """Tie-free 6-decimal integerization: floor(x*1e6 + 0.5 + 1e-9) as
    BIGINT (micro-units). round(x, 6) lands on exact .5 ties at the 6th
    decimal for some inputs; when the two engines' aggregates differ in
    the last ulp (float summation order), the tie flips direction and
    the hash diverges. The 1e-9 nudge (far above ulp scale, far below
    data resolution) makes both engines land on the same side."""
    return F.floor(F.col(col) * 1e6 + 0.5 + 1e-9).cast("long")


# --- A7/A8: the four scaler modes in one query (load_data.py:98-114)
@query(
    "a8_scaler_modes",
    oracle="""
    WITH s AS (
        SELECT user_id, event_id, value,
               avg(value)        OVER (PARTITION BY user_id) AS mu,
               stddev_pop(value) OVER (PARTITION BY user_id) AS sigma,
               min(value)        OVER (PARTITION BY user_id) AS lo,
               max(value)        OVER (PARTITION BY user_id) AS hi,
               quantile_cont(value, 0.5)  OVER (PARTITION BY user_id) AS med,
               quantile_cont(value, 0.15) OVER (PARTITION BY user_id) AS q15,
               quantile_cont(value, 0.85) OVER (PARTITION BY user_id) AS q85
        FROM events
    )
    SELECT event_id,
           CAST(floor((value - mu) / (CASE WHEN sigma = 0 THEN 1 ELSE sigma END) * 1e6 + 0.5 + 1e-9) AS BIGINT)        AS standard,
           CAST(floor((value - mu) * 1e6 + 0.5 + 1e-9) AS BIGINT)                AS zero_mean,
           CAST(floor((value - lo) / (CASE WHEN hi = lo THEN 1 ELSE hi - lo END) * 1e6 + 0.5 + 1e-9) AS BIGINT)    AS minmax,
           CAST(floor((value - med) / (CASE WHEN q85 = q15 THEN 1 ELSE q85 - q15 END) * 1e6 + 0.5 + 1e-9) AS BIGINT) AS robust
    FROM s
    """,
)
def a8_scaler_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: per-trial standard/zero-mean/minmax/robust(15-85) scaling
    (load_data.py:98-114); one shared partition window, exact
    percentiles. Outputs are integerized micro-units (see _micro) so
    the cross-engine hash is immune to round-half ties on
    ulp-divergent aggregates."""
    from bbdc20_submission_spark.operators.scalers import scale_group

    e = load_table(spark, "events", sf_dir)
    out = scale_group(e, ["user_id"], ["value"], mode="standard", suffix="_std")
    out = scale_group(out, ["user_id"], ["value"], mode="zero_mean", suffix="_zm")
    out = scale_group(out, ["user_id"], ["value"], mode="minmax", suffix="_mm")
    out = scale_group(
        out, ["user_id"], ["value"], mode="robust", q_low=0.15, q_high=0.85, suffix="_rb"
    )
    return out.select(
        "event_id",
        _micro("value_std").alias("standard"),
        _micro("value_zm").alias("zero_mean"),
        _micro("value_mm").alias("minmax"),
        _micro("value_rb").alias("robust"),
    )
