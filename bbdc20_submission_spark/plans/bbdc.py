"""The BBDC pipeline recomposed as a lazy Spark job (SURVEY §7 M3).

Stage map (reference -> here):
- target expansion  generate_submission.py:146 / load_data.py:34-42 -> expand_targets
- slot labels       (both arms per grid slot)                    -> arm_labels
- label vocabulary  load_data.py:25-28 (A10)                     -> arm_label_classes
- sensor prep       load_data.py:95,122-129,202-212              -> prepare_emg / prepare_mocap
- channel repair    generate_submission.py:162-302 (L1)          -> repair_channels
- robust scaling    generate_submission.py:304-313 (A9)          -> subject_scaler_stats
- features          generate_submission.py:315-379, 421 (W9)     -> build_features
- train/predict     generate_submission.py:47-130, 479-502       -> plans.models
- decode+RLE+sink   generate_submission.py:505-569 (W6/S5)       -> predictions_to_intervals

The label vocabulary is read once, as two Python class lists; the
encode, one-hot and decode steps are literal SQL over them
(``label_code_sql``, the one-hot fragments, ``label_decode_sql``), so
no stage joins or re-reads a label dimension. One ``arm_labels`` frame
carries the grid labels to every consumer: the repair aligns it to the
EMG samples once, as one frame holding both of the reference's label
rules (fit and apply), and fits both repair models over that one
persisted frame. The robust scaler reads an IQR of 0 as 1 (sklearn's
``_handle_zeros_in_scale``). Window step, context widths and frame
sizes are the module constants below — the reference's values.

Scale design: every stage is a DataFrame graph. The feature stage does
NOT gather raw samples per anchor; it pre-aggregates per-window
partials (sum/cnt/min/max/first/last/head7/tail7 per channel) once,
then combines partials per (anchor, context-frame) — all five
reference statistics decompose over window blocks:
    mean            = sum(sums)/sum(cnts)
    mean(diff)      = (last sample of last block - first of first) / (n-1)
    start_end_diff  = tail7-sum of last block - head7-sum of first block
    min / max       = min/max of block minima/maxima
so shuffle volume is O(windows), independent of sample rate — the
property that makes the plan hold at 100 TB of sensor data (samples
shrink ~120x at the first aggregation).

Reference padding semantics preserved: a context frame that sticks out
below 0 or at/after the trial's max window key contains a NaN pad
block, which poisons every stat of that gather; nan_to_num then zeroes
them (generate_submission.py:36 + utils.py:66-73). We implement that
as: out-of-range gather -> all five stats 0. EMG frames pad with
0-VALUED samples instead (missing_value=0 at call site :370), which
DO flow through scaling — also preserved.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bbdc20_submission_spark.caching import managed_persist
from bbdc20_submission_spark.operators.aggregates import label_encode
from bbdc20_submission_spark.operators.columns import add_sql_columns, double_sql
from bbdc20_submission_spark.operators.interpolate import interpolate_linear
from bbdc20_submission_spark.operators.sessionize import rle_intervals
from bbdc20_submission_spark.operators.text import sql_str_lit
from bbdc20_submission_spark.plans.sensors_config import subtraction_pairs

STEP_MS = 200
# ``int(ts*1000) // step * step`` (load_data.py:122-123) — ``//``
# floors, so the quotient goes through floor (a long cast truncates
# toward zero, off by one window for negative timestamps)
WINDOW_KEY_SQL = f"CAST(floor(CAST(`ts` * 1000 AS BIGINT) / {STEP_MS}) * {STEP_MS} AS BIGINT)"
EMG_CHANNELS = [f"c{i}" for i in range(8)]
# EMG samples in one 200 ms window at 600 Hz: the repair's repeat-120
# label rule and the size of an EMG pad slot
NOMINAL_WIN_ROWS = 120
# EMG context: +-2 s of 200 ms slots around an anchor, cut into
# 200-sample frames (generate_submission.py:368-376)
EMG_CONTEXT_MS = 2000
EMG_FRAME_ROWS = 200
# (left_s, right_s) context gathers, reference order
# (generate_submission.py:344-366)
MOCAP_GATHERS = [
    (0.4, 0.0), (0.0, 0.4), (1.2, 0.0), (0.0, 1.2),
    (2.0, 0.0), (0.0, 2.0), (3.4, 0.0), (0.0, 3.4),
]
MOCAP_USE = [
    "LHand_Position_X", "LHand_Position_Y", "LHand_Position_Z",
    "RHand_Position_X", "RHand_Position_Y", "RHand_Position_Z",
    "Chest_Position_X", "Chest_Position_Z",
]
PIPELINE_USE_SENSORS = {
    "LHand": "position",
    "RHand": "position",
    "Chest": ["Position_X", "Position_Z"],
}


def expand_targets(labels: DataFrame) -> DataFrame:
    """Interval -> 200 ms grid expansion with the reference's running
    cursor (load_data.py:34-42): win_end starts at step and consumes
    every grid point strictly below end*1000 before moving to the next
    interval. Output: [subject, trial, arm, win_end, action].

    Spark form: per interval, hi = smallest grid >= end*1000 minus one
    step; lo = previous interval's hi + step (cursor continuity) via a
    running max; explode(sequence) generates the grid — no shuffle
    beyond the per-key window."""
    prev_hi = (
        "max(hi) OVER (PARTITION BY subject, trial, arm ORDER BY `start` "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    )
    return (
        labels.selectExpr(
            "subject", "trial", "arm", "`start`", "action",
            f"CAST(ceil(`end` * 1000 / {STEP_MS}) * {STEP_MS} - {STEP_MS} AS BIGINT) AS hi",
        )
        .selectExpr(
            "*", f"greatest(coalesce({prev_hi} + {STEP_MS}, {STEP_MS}), {STEP_MS}) AS lo"
        )
        .filter("hi >= lo")
        .selectExpr(
            "subject", "trial", "arm",
            f"explode(sequence(lo, hi, {STEP_MS})) AS win_end", "action",
        )
    )


def arm_label_dims(labels: DataFrame) -> tuple[DataFrame, DataFrame]:
    """A10: per-arm sorted-distinct label dimension tables
    [action, code] (sklearn LabelEncoder semantics)."""
    left = label_encode(labels.filter("arm = 'la'"), "action")
    right = label_encode(labels.filter("arm = 'ra'"), "action")
    return left, right


def arm_label_classes(labels: DataFrame) -> tuple[list[str], list[str]]:
    """Both arms' class lists in ``arm_label_dims`` code order, read in
    one action; the pipeline consumes the vocabulary only as these
    literals (``label_code_sql`` / ``label_decode_sql`` / one-hot)."""
    left, right = arm_label_dims(labels)
    rows = (
        left.selectExpr("'la' AS arm", "action", "code")
        .unionByName(right.selectExpr("'ra' AS arm", "action", "code"))
        .orderBy("arm", "code")
        .collect()
    )
    return tuple([r["action"] for r in rows if r["arm"] == arm] for arm in ("la", "ra"))


def _classes_sql(classes: Sequence[str]) -> str:
    return "array(%s)" % ", ".join(map(sql_str_lit, classes))


def label_code_sql(classes: Sequence[str], label_col: str) -> str:
    """SQL for the code of ``label_col`` (its 0-based class position)."""
    return f"array_position({_classes_sql(classes)}, `{label_col}`) - 1"


def label_decode_sql(classes: Sequence[str], code_col: str) -> str:
    """SQL for the class of code ``code_col`` (``label_code_sql`` inverse)."""
    return f"element_at({_classes_sql(classes)}, CAST(`{code_col}` AS INT) + 1)"


def prepare_emg(emg: DataFrame) -> DataFrame:
    """Interpolate nulls per trial (W7), add window key (W1).

    Expects [subject, trial, ts, c0..c7]. Sample order inside a trial
    is ts order (the reference's file order)."""
    out = interpolate_linear(
        emg, ["subject", "trial"], ["ts"], EMG_CHANNELS
    )
    return add_sql_columns(out, {"window": WINDOW_KEY_SQL})


def prepare_mocap(mocap: DataFrame) -> DataFrame:
    """Interpolate, make the pipeline's sensors reference-relative (P5),
    add window key. Expects wide [subject, trial, ts, <sensor cols>]."""
    value_cols = [c for c in mocap.columns if c not in ("subject", "trial", "ts")]
    out = interpolate_linear(mocap, ["subject", "trial"], ["ts"], value_cols)
    # in pair order, each subtraction reads the columns as the earlier
    # pairs left them (a finger minus the already hand-relative hand),
    # composed into one projection
    relative: dict[str, str] = {}
    for col, ref_col in subtraction_pairs(PIPELINE_USE_SENSORS):
        if col in value_cols and ref_col in value_cols:
            cur = relative.get(col, f"`{col}`")
            ref = relative.get(ref_col, f"`{ref_col}`")
            relative[col] = f"({cur}) - ({ref})"
    return add_sql_columns(out, {**relative, "window": WINDOW_KEY_SQL})


# --------------------------------------------------------------- L1 repair

# the subjects ``repair_channels`` fits on or rewrites: no test subject
REPAIR_SUBJECTS = ("s01", "s02", "s03", "s04", "s05")


def arm_labels(targets: DataFrame) -> DataFrame:
    """[subject, trial, win_end, la_action, ra_action]: both arms' label
    of each ``expand_targets`` grid slot (one per slot and arm, so max
    picks it; NULL where an arm has none)."""
    return targets.groupBy("subject", "trial", "win_end").agg(
        F.expr("max(CASE WHEN arm = 'la' THEN action END) AS la_action"),
        F.expr("max(CASE WHEN arm = 'ra' THEN action END) AS ra_action"),
    )


def _sample_label_alignment(emg: DataFrame, slot_labels: DataFrame) -> DataFrame:
    """J5: both of the repair's label rules, as columns of each EMG
    sample (``slot_labels`` is an ``arm_labels`` frame):

    - fit rule, ``la_fit``/``ra_fit`` (generate_submission.py:179-191):
      sample i of a trial takes the label of grid slot floor(i/120)+1,
      clamped to the last labeled slot (tail padded with last label);
    - apply rule, ``la_apply``/``ra_apply`` (:221-226): the label of
      slot window+200, '<arm>-nothing' when that slot has none."""
    slot = (
        "(floor((row_number() OVER (PARTITION BY subject, trial ORDER BY ts) - 1)"
        f" / {NOMINAL_WIN_ROWS}) + 1) * {STEP_MS}"
    )
    last = slot_labels.groupBy("subject", "trial").agg(F.expr("max(win_end) AS _max_we"))
    tagged = emg.selectExpr("*", f"{slot} AS _win_end").join(last, ["subject", "trial"], "left")
    aligned = (
        add_sql_columns(tagged, {"_win_end": "least(_win_end, _max_we)"})
        .join(slot_labels.selectExpr("subject", "trial", "win_end AS _win_end",
                                     "la_action AS la_fit", "ra_action AS ra_fit"),
              ["subject", "trial", "_win_end"], "left")
        .join(slot_labels.selectExpr("subject", "trial", f"win_end - {STEP_MS} AS `window`",
                                     "la_action AS la_apply", "ra_action AS ra_apply"),
              ["subject", "trial", "window"], "left")
    )
    return add_sql_columns(aligned, {
        "la_apply": "coalesce(la_apply, 'la-nothing')",
        "ra_apply": "coalesce(ra_apply, 'ra-nothing')",
    }).drop("_win_end", "_max_we")


def _onehot_label_sql(
    left_classes: list[str], right_classes: list[str], rule: str
) -> dict[str, str]:
    """12 one-hot columns ``oh_<rule>_l*``/``oh_<rule>_r*`` (6 left + 6
    right classes, code order) from ``la_<rule>``/``ra_<rule>``
    (LabelBinarizer semantics, :163-168), as ``add_sql_columns``
    fragments."""
    return {
        **{f"oh_{rule}_l{i}": f"CAST(la_{rule} = {sql_str_lit(c)} AS DOUBLE)"
           for i, c in enumerate(left_classes)},
        **{f"oh_{rule}_r{i}": f"CAST(ra_{rule} = {sql_str_lit(c)} AS DOUBLE)"
           for i, c in enumerate(right_classes)},
    }


def _fit_ols(df: DataFrame, feature_cols: list[str], target_col: str):
    """Exact least squares via the normal equations on Spark-computed
    X'X / X'y (one aggregation pass — distributed, collect is
    O(d^2)). Returns (intercept, coefs list). Mirrors sklearn
    LinearRegression (generate_submission.py:214).

    The d(d+3)/2 + 2 sums are one parsed projection (a global
    aggregate): as Column objects they cost ~13 py4j round trips each."""
    import numpy as np

    d = len(feature_cols)
    aggs = []
    for i in range(d):
        xi = f"`{feature_cols[i]}`"
        for j in range(i, d):
            aggs.append(f"sum({xi} * `{feature_cols[j]}`) AS xx_{i}_{j}")
        aggs.append(f"sum({xi} * `{target_col}`) AS xy_{i}")
        aggs.append(f"sum({xi}) AS xs_{i}")
    aggs.append(f"sum(`{target_col}`) AS ys")
    aggs.append("count(1) AS n")
    row = df.selectExpr(*aggs).collect()[0]

    n = row["n"]
    xs = np.array([row[f"xs_{i}"] for i in range(d)])
    xtx = np.zeros((d, d))
    for i in range(d):
        for j in range(i, d):
            xtx[i, j] = xtx[j, i] = row[f"xx_{i}_{j}"]
    xty = np.array([row[f"xy_{i}"] for i in range(d)])
    # centered normal equations == OLS with intercept
    xm = xs / n
    ym = row["ys"] / n
    cov = xtx - np.outer(xm, xs) - np.outer(xs, xm) + n * np.outer(xm, xm)
    rhs = xty - xs * ym - xm * row["ys"] + n * xm * ym
    coefs, *_ = np.linalg.lstsq(cov, rhs, rcond=None)
    intercept = ym - float(np.dot(coefs, xm))
    return float(intercept), [float(c) for c in coefs]


def _apply_linear(feature_cols: list[str], intercept: float, coefs: list[float]) -> str:
    terms = [double_sql(intercept)] + [
        f"`{c}` * {double_sql(w)}" for c, w in zip(feature_cols, coefs)
    ]
    return " + ".join(terms)


def repair_channels(
    emg: DataFrame,
    slot_labels: DataFrame,
    left_classes: list[str],
    right_classes: list[str],
) -> DataFrame:
    """L1: regression repair of EMG channels, bug-for-bug with the
    reference (generate_submission.py:162-302):

    - ch4 model: features = channels [0,1,2,3,5,6,7] ⊕ 12 one-hot
      labels, trained on s01/s03/s05; overwrites ch4 for s02 AND s04.
    - ch0 model: trained on s01/s02/s03/s05 with the ODD channel order
      [1,2,4,3,5,6,7] (:268) — s02's already-repaired ch4 feeds it;
      applied with the DIFFERENT order [1,2,3,4,5,6,7] (:296), and to
      s02+s04 (loop iterates emg_4_fix_subjects — the unused
      emg_0_fix_subjects list is :284). Both quirks preserved.
    - Both fits label a sample by the repeat-120 rule (``la_fit`` /
      ``ra_fit``); both applies label it by its window + 200, else
      '<arm>-nothing' (``la_apply`` / ``ra_apply``, :221-226).

    ``slot_labels`` is the ``arm_labels`` frame of the grid;
    ``left_classes``/``right_classes`` are the arm vocabularies in code
    order (``arm_label_classes``). One aligned frame carries both label
    rules and is persisted once: the ch0 fit reads the repaired c4
    through the same fragment that repairs it, so the fits need no
    second alignment or join.
    """
    fit_oh = _onehot_label_sql(left_classes, right_classes, "fit")
    apply_oh = _onehot_label_sql(left_classes, right_classes, "apply")
    aligned = add_sql_columns(
        managed_persist(_sample_label_alignment(emg, slot_labels)), {**fit_oh, **apply_oh}
    )
    fix = "CASE WHEN subject IN ('s02', 's04') THEN {} ELSE `{}` END"

    ch4_chans = [f"c{i}" for i in [0, 1, 2, 3, 5, 6, 7]]
    b0_4, coefs_4 = _fit_ols(
        aligned.filter("subject IN ('s01', 's03', 's05')"), ch4_chans + list(fit_oh), "c4"
    )
    repaired = add_sql_columns(aligned, {
        "c4": fix.format(_apply_linear(ch4_chans + list(apply_oh), b0_4, coefs_4), "c4"),
    })

    # ch0 model: trained on the ch4-REPAIRED data (order matters)
    b0_0, coefs_0 = _fit_ols(
        repaired.filter("subject IN ('s01', 's02', 's03', 's05')"),
        [f"c{i}" for i in [1, 2, 4, 3, 5, 6, 7]] + list(fit_oh),
        "c0",
    )
    ch0_apply = [f"c{i}" for i in range(1, 8)] + list(apply_oh)
    repaired = add_sql_columns(repaired, {
        "c0": fix.format(_apply_linear(ch0_apply, b0_0, coefs_0), "c0"),
    })
    return repaired.select("subject", "trial", "ts", "window", *EMG_CHANNELS)


# ------------------------------------------------------------- A9 scalers

def subject_scaler_stats(emg: DataFrame) -> DataFrame:
    """RobustScaler(25-75) stats per subject per channel
    (generate_submission.py:304-313): center = median, scale = IQR.
    Output: [subject, <c>_med, <c>_iqr ...]. Exact percentiles."""
    aggs = []
    for c in EMG_CHANNELS:
        aggs.append(F.expr(f"percentile(`{c}`, 0.5) AS `{c}_med`"))
        aggs.append(
            F.expr(f"percentile(`{c}`, 0.75) - percentile(`{c}`, 0.25) AS `{c}_iqr`")
        )
    return emg.groupBy("subject").agg(*aggs)


# ------------------------------------------------------------- W9 features

def _window_partials(df: DataFrame, value_cols: Sequence[str]) -> DataFrame:
    """Per (subject, trial, window) partial aggregates that all five
    reference stats decompose into. first/last/head7/tail7 are in
    ts order within the window."""
    w = "PARTITION BY subject, trial, `window`"
    tagged = df.selectExpr(
        "*",
        f"row_number() OVER ({w} ORDER BY ts) AS _ra",
        f"row_number() OVER ({w} ORDER BY ts DESC) AS _rd",
    )
    aggs = ["count(1) AS _cnt"]
    for c in value_cols:
        aggs += [
            f"sum(`{c}`) AS `{c}_sum`",
            f"min(`{c}`) AS `{c}_min`",
            f"max(`{c}`) AS `{c}_max`",
            f"min_by(`{c}`, _ra) AS `{c}_first`",
            f"max_by(`{c}`, _ra) AS `{c}_last`",
            f"sum(CASE WHEN _ra <= 7 THEN `{c}` ELSE 0.0D END) AS `{c}_head7`",
            f"sum(CASE WHEN _rd <= 7 THEN `{c}` ELSE 0.0D END) AS `{c}_tail7`",
        ]
    return tagged.groupBy("subject", "trial", "window").agg(*map(F.expr, aggs))


def mocap_gather_features(mocap: DataFrame, anchors: DataFrame) -> DataFrame:
    """The 8-gather x 5-stat x 8-channel mocap feature block
    (generate_submission.py:330-366), computed from window partials.

    anchors: [subject, trial, win_end]. Output: one row per anchor with
    columns g{gi}_{stat}_{ch} in reference order. A gather whose slot
    range leaves [0, max_window) is zeroed wholesale (NaN-pad +
    nan_to_num semantics)."""
    partials = _window_partials(mocap, MOCAP_USE)
    max_win = mocap.groupBy("subject", "trial").agg(F.expr("max(`window`) AS _max_win"))

    # anchor x gather x slot expansion (slot counts are small constants)
    slot_rows = []
    for gi, (left_s, right_s) in enumerate(MOCAP_GATHERS):
        lo_off = -int(left_s * 1000)
        hi_off = int(right_s * 1000)
        for slot_off in range(lo_off, hi_off, STEP_MS):
            slot_rows.append((gi, slot_off))
    slots = "array(%s)" % ", ".join(
        f"struct({gi} AS g, {off} AS off)" for gi, off in slot_rows
    )
    exploded = (
        anchors.join(max_win, ["subject", "trial"], "inner")
        .selectExpr("subject", "trial", "win_end", "_max_win", f"explode({slots}) AS _s")
        .selectExpr(
            "subject", "trial", "win_end", "_max_win", "_s.g AS g",
            "CAST(win_end + _s.off AS BIGINT) AS `window`",
        )
    )
    joined = exploded.join(partials, ["subject", "trial", "window"], "left")

    pad = "(`window` < 0 OR `window` >= _max_win)"
    aggs = [f"max(CAST({pad} AS INT)) AS _padded", "sum(_cnt) AS _n"]
    for c in MOCAP_USE:
        aggs += [
            f"sum(`{c}_sum`) AS `{c}_sum`",
            f"min(`{c}_min`) AS `{c}_min`",
            f"max(`{c}_max`) AS `{c}_max`",
            f"min_by(`{c}_first`, `window`) AS `{c}_first`",
            f"max_by(`{c}_last`, `window`) AS `{c}_last`",
            f"min_by(`{c}_head7`, `window`) AS `{c}_head7`",
            f"max_by(`{c}_tail7`, `window`) AS `{c}_tail7`",
        ]
    grp = joined.groupBy("subject", "trial", "win_end", "g").agg(*map(F.expr, aggs))

    # pack the 5x|channels| stats of a (anchor, gather) row into one
    # array, then ONE conditional aggregation per gather — no 8-way
    # self-join (which would recompute the upstream agg per branch).
    stat_exprs = []
    stat_names = []
    # reference stat order: mean, mean_diff, start_end_diff, max, min
    for stat in ("mean", "meandiff", "sediff", "max", "min"):
        for c in MOCAP_USE:
            e = {
                "mean": f"`{c}_sum` / _n",
                # try_divide: n = 1 gives NULL (-> 0) where ANSI raises
                "meandiff": f"try_divide(`{c}_last` - `{c}_first`, _n - 1)",
                "sediff": f"`{c}_tail7` - `{c}_head7`",
                "max": f"`{c}_max`",
                "min": f"`{c}_min`",
            }[stat]
            # NaN-pad + nan_to_num: zero the whole gather when padded or
            # when the stat itself is NaN/null (e.g. n=1 meandiff)
            stat_exprs.append(
                f"CASE WHEN _padded = 1 THEN 0.0D "
                f"ELSE coalesce(nanvl({e}, 0.0D), 0.0D) END"
            )
            stat_names.append(f"{stat}_{c}")

    packed = grp.selectExpr(
        "subject", "trial", "win_end", "g", "array(%s) AS _st" % ", ".join(stat_exprs)
    )
    agg = packed.groupBy("subject", "trial", "win_end").agg(
        *[
            F.expr(f"max(CASE WHEN g = {gi} THEN _st END) AS _st{gi}")
            for gi in range(len(MOCAP_GATHERS))
        ]
    )
    return agg.selectExpr(
        "subject", "trial", "win_end",
        *[
            f"element_at(_st{gi}, {j + 1}) AS `g{gi}_{n}`"
            for gi in range(len(MOCAP_GATHERS))
            for j, n in enumerate(stat_names)
        ],
    )


def emg_frame_features(emg: DataFrame, anchors: DataFrame, scaler_stats: DataFrame) -> DataFrame:
    """EMG context block -> robust scale -> 200-sample frames ->
    mean(|x|) per frame per channel (generate_submission.py:368-376).

    Pad slots (outside [0, max_window)) contribute ``NOMINAL_WIN_ROWS``
    zero-valued samples, which DO pass through the scaler — reference
    missing_value=0 semantics. A channel whose IQR is 0 is divided by
    1, as sklearn's RobustScaler does (``_handle_zeros_in_scale``, the
    rule of ``operators.scalers``), so the pad samples of a constant
    non-zero channel scale to minus its median. Output: [subject,
    trial, win_end, emg_feats array<double>] with frame-major layout
    (emg_win_means.reshape(-1))."""
    offsets = range(-EMG_CONTEXT_MS, EMG_CONTEXT_MS, STEP_MS)
    max_win = emg.groupBy("subject", "trial").agg(F.expr("max(`window`) AS _max_win"))

    slots = (
        anchors.join(max_win, ["subject", "trial"], "inner")
        .selectExpr(
            "subject", "trial", "win_end", "_max_win",
            "explode(array(%s)) AS _off" % ", ".join(map(str, offsets)),
        )
        .selectExpr(
            "subject", "trial", "win_end", "_max_win",
            "CAST(win_end + _off AS BIGINT) AS `window`", "_off AS _slot_off",
        )
    )
    pad = "(`window` < 0 OR `window` >= _max_win)"
    channels = [f"`{c}`" for c in EMG_CHANNELS]

    real = slots.filter(f"NOT {pad}").join(
        emg.selectExpr("subject", "trial", "`window`", "ts", *channels),
        ["subject", "trial", "window"],
        "inner",
    )
    pad_rows = (
        slots.filter(pad)
        .selectExpr(
            "subject", "trial", "win_end", "`window`", "_slot_off",
            f"explode(sequence(1, {NOMINAL_WIN_ROWS})) AS _i",
        )
        .selectExpr(
            "subject", "trial", "win_end", "`window`",
            "CAST(_i AS DOUBLE) / 1.0E9D + `window` / 1000.0D AS ts",
            *[f"0.0D AS {c}" for c in channels],
            "_slot_off",
        )
    )
    block = real.selectExpr(
        "subject", "trial", "win_end", "`window`", "ts", *channels, "_slot_off"
    ).unionByName(pad_rows)

    # robust scale (x - med) / iqr with an IQR of 0 read as 1, then
    # nan_to_num
    scaled = [
        f"coalesce(nanvl((`{c}` - `{c}_med`) / CASE WHEN `{c}_iqr` = 0 THEN 1.0D "
        f"ELSE `{c}_iqr` END, 0.0D), 0.0D) AS `{c}`"
        for c in EMG_CHANNELS
    ]
    frame = (
        f"floor((row_number() OVER (PARTITION BY subject, trial, win_end "
        f"ORDER BY _slot_off, ts) - 1) / {EMG_FRAME_ROWS}) AS _frame"
    )
    framed = (
        block.join(F.broadcast(scaler_stats), "subject", "left")
        .selectExpr("subject", "trial", "win_end", "_slot_off", "ts", *scaled)
        .selectExpr("*", frame)
    )
    frame_means = framed.groupBy("subject", "trial", "win_end", "_frame").agg(
        *[F.expr(f"avg(abs(`{c}`)) AS `m_{c}`") for c in EMG_CHANNELS]
    )
    # frame-major flatten: [f0c0..f0c7, f1c0, ...]
    per_frame = "array(%s)" % ", ".join(f"`m_{c}`" for c in EMG_CHANNELS)
    return frame_means.groupBy("subject", "trial", "win_end").agg(
        F.expr(
            "flatten(transform(array_sort(collect_list("
            f"struct(_frame, {per_frame} AS fm))), s -> s.fm)) AS emg_feats"
        )
    )


def build_features(
    mocap: DataFrame,
    emg: DataFrame,
    anchors: DataFrame,
    scaler_stats: DataFrame,
) -> DataFrame:
    """Full ~416-wide feature vector per anchor: 8 gathers x 5 stats x
    8 mocap channels (320) ++ EMG frame means (generate_submission.py:
    315-379). Output: [subject, trial, win_end, features array<double>]."""
    mg = mocap_gather_features(mocap, anchors)
    eg = emg_frame_features(emg, anchors, scaler_stats)
    mocap_cols = ", ".join(f"`{c}`" for c in mg.columns if c.startswith("g"))
    return mg.join(eg, ["subject", "trial", "win_end"], "inner").selectExpr(
        "subject", "trial", "win_end",
        f"concat(array({mocap_cols}), emg_feats) AS features",
    )


# --------------------------------------------------------- decode + sink

def predictions_to_intervals(preds: DataFrame) -> DataFrame:
    """W6/P9/P10: per (subject, trial, arm) RLE of window predictions
    into half-open second-unit intervals (generate_submission.py:
    505-562): segment end = next change's ts; final segment kept only
    if non-empty. Expects [subject, trial, arm, win_end, action]."""
    with_key = preds.selectExpr(
        "concat(subject, trial, '.', arm) AS key", "win_end", "action"
    )
    runs = rle_intervals(
        with_key, keys=["key"], ts_col="win_end", value_col="action"
    )
    return runs.selectExpr(
        "key", "`start` / 1000.0D AS `start`", "`end` / 1000.0D AS `end`", "action"
    )
