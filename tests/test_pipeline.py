"""M3 pipeline tests: stage-level golden checks against independent
pandas/numpy re-derivations of the reference semantics, plus
end-to-end invariants and determinism."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bbdc20_submission_spark.plans import bbdc
from bbdc20_submission_spark.plans.pipeline import run_pipeline
from tests.fixture_bbdc import MOCAP_COLS, fixture_dfs, make_fixture

STEP = 200


# ------------------------------------------------- golden: target expansion

def _expand_targets_golden(labels_rows):
    """Independent cursor re-derivation (semantics of
    load_data.py:34-42: win_end starts at 200; each interval consumes
    all grid points < end*1000)."""
    from collections import defaultdict

    by_key = defaultdict(list)
    for key, start, end, action in labels_rows:
        s, t, arm = key[:3], key[3:6], key.split(".")[1]
        by_key[(s, t, arm)].append((start, end, action))
    out = {}
    for (s, t, arm), ivs in by_key.items():
        win_end = STEP
        for start, end, action in sorted(ivs):
            while win_end < end * 1000:
                out[(s, t, arm, win_end)] = action
                win_end += STEP
    return out


def test_expand_targets_matches_cursor_semantics(spark):
    labels_rows, _, _ = make_fixture(subjects=("s01", "s02"))
    labels_df, _, _ = fixture_dfs(spark, subjects=("s01", "s02"))
    got = {
        (r["subject"], r["trial"], r["arm"], r["win_end"]): r["action"]
        for r in bbdc.expand_targets(labels_df).collect()
    }
    want = _expand_targets_golden(labels_rows)
    assert got == want


# ------------------------------------------------- golden: mocap features

def _prep_mocap_pandas(mocap_rows):
    """pandas re-derivation of load_mocap prep: interpolate + fillna(0),
    chest-relative hands (Y exempt), window key."""
    cols = ["subject", "trial", "ts", *MOCAP_COLS]
    pdf = pd.DataFrame(mocap_rows, columns=cols)
    out = {}
    for (s, t), grp in pdf.groupby(["subject", "trial"]):
        g = grp.sort_values("ts").reset_index(drop=True)
        g[MOCAP_COLS] = g[MOCAP_COLS].interpolate(method="linear", axis=0).fillna(0)
        for hand in ("LHand", "RHand"):
            for ax in ("X", "Z"):  # Y exempt (Chest_Position_Y rule)
                g[f"{hand}_Position_{ax}"] -= g[f"Chest_Position_{ax}"]
        g["window"] = (g["ts"] * 1000).astype(np.int64) // STEP * STEP
        use = bbdc.MOCAP_USE
        out[(s, t)] = {
            int(w): wg[use].to_numpy()
            for w, wg in g.groupby("window", sort=True)
        }
    return out


def _gather_stats_golden(win_dict, anchor, left_s, right_s):
    """Independent re-derivation of get_data_around_time_step +
    build_all_features (utils.py:56-76, generate_submission.py:29-36)."""
    lo = int(anchor - left_s * 1000)
    hi = int(anchor + right_s * 1000)
    max_key = max(win_dict)
    shape = win_dict[max_key - STEP].shape
    blocks = []
    for ix in range(lo, hi, STEP):
        if ix < 0 or ix >= max_key:
            pad = np.empty(shape)
            pad[:] = np.nan
            blocks.append(pad)
        else:
            blocks.append(win_dict[ix])
    block = np.concatenate(blocks, axis=0)
    k = 7
    feats = [
        block.mean(axis=0),
        np.diff(block, axis=0).mean(axis=0),
        block[-k:].sum(axis=0) - block[:k].sum(axis=0),
        block.max(axis=0),
        block.min(axis=0),
    ]
    return np.nan_to_num(np.concatenate(feats))


def test_mocap_gather_features_match_reference_math(spark):
    subjects = ("s01",)
    _, _, mocap_rows = make_fixture(subjects=subjects)
    labels_df, _, mocap_df = fixture_dfs(spark, subjects=subjects)
    mocap_p = bbdc.prepare_mocap(mocap_df)
    targets = bbdc.expand_targets(labels_df)
    anchors = targets.filter("arm = 'la'").select(
        "subject", "trial", "win_end"
    ).distinct()
    got_df = bbdc.mocap_gather_features(mocap_p, anchors).toPandas()

    win_dicts = _prep_mocap_pandas(mocap_rows)
    feat_cols = [c for c in got_df.columns if c.startswith("g")]
    # reference column order: per gather gi: stat-major then channel
    for _, row in got_df.sample(n=min(25, len(got_df)), random_state=0).iterrows():
        wd = win_dicts[(row["subject"], row["trial"])]
        expected = np.concatenate(
            [
                _gather_stats_golden(wd, row["win_end"], ls, rs)
                for (ls, rs) in bbdc.MOCAP_GATHERS
            ]
        )
        got = row[feat_cols].to_numpy(dtype=np.float64)
        np.testing.assert_allclose(got, expected, rtol=1e-9, atol=1e-9)


# ------------------------------------------------- golden: EMG frame features

def _emg_feats_golden(emg_rows, anchors, left_ms=2000, right_ms=2000,
                      frame_rows=200, pad_rows=120):
    """numpy re-derivation of generate_submission.py:368-376: the
    +-2 s block of 200 ms slots, pad slots of 120 zero samples at the
    trial edges, robust scaling per subject (then nan_to_num), 200-sample
    frames, mean |x| per frame and channel, frame-major flatten."""
    chans = bbdc.EMG_CHANNELS
    pdf = pd.DataFrame(emg_rows, columns=["subject", "trial", "ts", *chans])
    windows, samples = {}, {}
    for (s, t), grp in pdf.groupby(["subject", "trial"]):
        g = grp.sort_values("ts").reset_index(drop=True)
        g[chans] = g[chans].interpolate(method="linear", axis=0).fillna(0)
        g["window"] = (g["ts"] * 1000).astype(np.int64) // STEP * STEP
        windows[(s, t)] = {int(w): wg[chans].to_numpy() for w, wg in g.groupby("window")}
        samples.setdefault(s, []).append(g[chans].to_numpy())
    scaler = {}
    for s, parts in samples.items():
        x = np.concatenate(parts)
        q25, med, q75 = np.percentile(x, [25, 50, 75], axis=0)
        scaler[s] = (med, q75 - q25)
    out = {}
    for s, t, win_end in anchors:
        wd = windows[(s, t)]
        max_key = max(wd)
        block = np.concatenate([
            np.zeros((pad_rows, len(chans))) if ix < 0 or ix >= max_key else wd[ix]
            for ix in range(win_end - left_ms, win_end + right_ms, STEP)
        ])
        med, iqr = scaler[s]
        # sklearn's _handle_zeros_in_scale: an IQR of 0 divides by 1
        scaled = np.nan_to_num((block - med) / np.where(iqr == 0, 1.0, iqr))
        out[(s, t, win_end)] = np.concatenate([
            np.abs(scaled[i:i + frame_rows]).mean(axis=0)
            for i in range(0, len(scaled), frame_rows)
        ])
    return out


def test_emg_frame_features_match_reference_math(spark):
    """Includes a subject whose c3 is constant 0 and whose c5 is
    constant 2.5 (both IQR 0). Both divide by 1, as sklearn's
    RobustScaler does: c3 scales to 0 everywhere, while c5's real
    samples scale to 0 and its zero-valued pad samples to -2.5 (a
    NULL-then-0 rule would zero them)."""
    subjects = ("s01", "s02")
    labels_rows, emg_rows, _ = make_fixture(subjects=subjects, span_s=1.6)
    emg_rows = [
        (*r[:6], 0.0, r[7], 2.5, *r[9:]) if r[0] == "s02" else r for r in emg_rows
    ]
    labels_df, _, _ = fixture_dfs(spark, subjects=subjects, span_s=1.6)
    emg_df = spark.createDataFrame(
        emg_rows,
        "subject string, trial string, ts double, "
        + ", ".join(f"{c} double" for c in bbdc.EMG_CHANNELS),
    )
    emg = bbdc.prepare_emg(emg_df)
    anchors = bbdc.expand_targets(labels_df).filter("arm = 'la'").select(
        "subject", "trial", "win_end"
    )
    got = {
        (r["subject"], r["trial"], r["win_end"]): r["emg_feats"]
        for r in bbdc.emg_frame_features(
            emg, anchors, bbdc.subject_scaler_stats(emg)
        ).collect()
    }
    want = _emg_feats_golden(emg_rows, list(got))
    assert len(got) == len(_expand_targets_golden(labels_rows)) // 2
    assert {k[0] for k in got} == set(subjects)
    for key, feats in got.items():
        assert len(feats) == 12 * 8
        np.testing.assert_allclose(feats, want[key], rtol=1e-9, atol=1e-12, err_msg=str(key))
    s02 = [feats for key, feats in got.items() if key[0] == "s02"]
    assert all(feats[3::8] == [0.0] * 12 for feats in s02)
    # the constant non-zero channel's pad frames carry |0 - 2.5| / 1
    assert any(v > 0 for feats in s02 for v in feats[5::8])


# ------------------------------------------------- golden: channel repair

def _ols_golden(x, y):
    """sklearn LinearRegression: least squares with an intercept
    (minimum-norm lstsq on centered data)."""
    xm, ym = x.mean(axis=0), y.mean()
    coefs, *_ = np.linalg.lstsq(x - xm, y - ym, rcond=None)
    return ym - xm @ coefs, coefs


def _repair_golden(pdf, grid, classes):
    """numpy re-derivation of generate_submission.py:162-302 over
    prepared EMG [subject, trial, ts, window, c0..c7] sorted by
    (subject, trial, ts), with the expanded label grid."""
    keys = list(zip(pdf["subject"], pdf["trial"]))
    max_we = {}
    for s, t, _, win_end in grid:
        max_we[(s, t)] = max(max_we.get((s, t), 0), win_end)
    # fit rule: sample i takes slot floor(i/120)+1, clamped to the last
    # labeled slot; apply rule: slot window+200, else '<arm>-nothing'
    i = pdf.groupby(["subject", "trial"]).cumcount().to_numpy()
    fit_slot = np.minimum((i // 120 + 1) * STEP, [max_we[k] for k in keys])
    fit, apply = [], []
    for arm, cls in zip(("la", "ra"), classes):
        fit_lab = [grid.get((*k, arm, int(w))) for k, w in zip(keys, fit_slot)]
        apply_lab = [
            grid.get((*k, arm, int(w) + STEP), f"{arm}-nothing")
            for k, w in zip(keys, pdf["window"])
        ]
        # every fit slot is labeled here: Spark's one-hot of a NULL label
        # is NULL, which its sums skip and this re-derivation would not
        assert None not in fit_lab
        fit.append(np.array([[lab == c for c in cls] for lab in fit_lab], dtype=float))
        apply.append(np.array([[lab == c for c in cls] for lab in apply_lab], dtype=float))
    fit, apply = np.hstack(fit), np.hstack(apply)

    c = pdf[bbdc.EMG_CHANNELS].to_numpy()
    subject = pdf["subject"].to_numpy()
    fix = np.isin(subject, ["s02", "s04"])
    # ch4: channels [0,1,2,3,5,6,7] + one-hots, fit on s01/s03/s05
    order4 = [0, 1, 2, 3, 5, 6, 7]
    train = np.isin(subject, ["s01", "s03", "s05"])
    b, w = _ols_golden(np.hstack([c[:, order4], fit])[train], c[train, 4])
    out = c.copy()
    out[fix, 4] = (b + np.hstack([c[:, order4], apply]) @ w)[fix]
    # ch0: fit on s01/s02/s03/s05 after the ch4 repair with the order
    # [1,2,4,3,5,6,7], applied with [1..7]
    train = np.isin(subject, ["s01", "s02", "s03", "s05"])
    b, w = _ols_golden(np.hstack([out[:, [1, 2, 4, 3, 5, 6, 7]], fit])[train], c[train, 0])
    out[fix, 0] = (b + np.hstack([out[:, 1:8], apply]) @ w)[fix]
    return out


def test_repair_channels_match_reference_math(spark):
    """repair_channels against a numpy re-derivation of the L1 repair:
    the clamped repeat-120 fit labels, the window+200 apply labels with
    the '-nothing' fallback, the fit order [1,2,4,3,5,6,7] vs the apply
    order [1..7], s02 in the ch0 fit after its own c4 repair, and
    s02+s04 repaired by both models."""
    labels_rows, _, _ = make_fixture(**E2E_KW)
    _, emg_df, _ = fixture_dfs(spark, **E2E_KW)
    emg = bbdc.prepare_emg(emg_df).select(
        "subject", "trial", "ts", "window", *bbdc.EMG_CHANNELS
    )
    pdf = emg.toPandas().sort_values(["subject", "trial", "ts"]).reset_index(drop=True)
    grid = _expand_targets_golden(labels_rows)
    classes = [sorted({a for k, a in grid.items() if k[2] == arm}) for arm in ("la", "ra")]
    grid_df = spark.createDataFrame(
        [(*k, a) for k, a in grid.items()],
        "subject string, trial string, arm string, win_end long, action string",
    )
    got = (
        bbdc.repair_channels(
            spark.createDataFrame(pdf, emg.schema), bbdc.arm_labels(grid_df), *classes
        )
        .toPandas()
        .sort_values(["subject", "trial", "ts"])
        .reset_index(drop=True)
    )
    want = _repair_golden(pdf, grid, classes)
    keys = ["subject", "trial", "ts", "window"]
    assert got[keys].equals(pdf[keys])
    np.testing.assert_allclose(got[bbdc.EMG_CHANNELS].to_numpy(), want, rtol=1e-9, atol=1e-12)
    untouched = ~pdf["subject"].isin(["s02", "s04"]).to_numpy()
    assert (got[bbdc.EMG_CHANNELS].to_numpy()[untouched] == want[untouched]).all()
    fixed = ~untouched
    for ch in (0, 4):
        assert (want[fixed, ch] != pdf[f"c{ch}"].to_numpy()[fixed]).all()


# ------------------------------------------------- driver plan-assembly cost

def test_training_matrix_build_py4j_budget(spark, tmp_path):
    """Building the bbdc training-matrix plan (CSV ingest, EMG
    windowing, robust scaling, context-frame features, label join)
    sends at most a fixed number of py4j commands. The parsed-SQL
    plan builders need about 700 (the Column-API forms needed ~6 100);
    one stage rebuilt from Column objects (~13 round trips per call)
    adds hundreds to thousands."""
    import os

    from bbdc20_submission_spark.sources import native

    labels, emg, _ = make_fixture(subjects=("s01", "s02"), span_s=1.6)
    with open(tmp_path / "labels.csv", "w") as fh:
        fh.writelines(f"{k},{s},{e},{a}\n" for k, s, e, a in labels)
    os.makedirs(tmp_path / "emg")
    for s in ("s01", "s02"):
        with open(tmp_path / "emg" / f"{s}t01.csv", "w") as fh:
            fh.write(",".join(["ts", *bbdc.EMG_CHANNELS]) + "\n")
            fh.writelines(
                ",".join("" if v is None else repr(v) for v in r[2:]) + "\n"
                for r in emg if r[0] == s
            )

    def build():
        labels_df = native.load_labels(spark, str(tmp_path / "labels.csv"))
        emg_df = bbdc.prepare_emg(native.load_sensor_csv_dir(spark, str(tmp_path / "emg")))
        la = bbdc.expand_targets(labels_df).filter("arm = 'la'")
        left_dim, _ = bbdc.arm_label_dims(labels_df)
        feats = bbdc.emg_frame_features(
            emg_df, la.select("subject", "trial", "win_end"), bbdc.subject_scaler_stats(emg_df)
        )
        return (
            feats.join(la, ["subject", "trial", "win_end"])
            .join(F.broadcast(left_dim), "action")
            .select("emg_feats", "code")
        )

    build()  # first build fills the JVM-side caches
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = [0]

    def counting_send(*args, **kwargs):
        sent[0] += 1
        return send(*args, **kwargs)

    client.send_command = counting_send
    try:
        build()
    finally:
        client.send_command = send
    assert 0 < sent[0] <= 1000, f"{sent[0]} py4j commands to build the training matrix"


# ------------------------------------------------- end-to-end invariants

E2E_KW = dict(span_s=3.2)


@pytest.fixture(scope="module")
def pipeline_run(spark):
    """One run_pipeline build + collect on the E2E fixture, run under a
    job group: (submission rows, Spark jobs fired)."""
    labels_df, emg_df, mocap_df = fixture_dfs(spark, **E2E_KW)
    _, emg_t, mocap_t = fixture_dfs(spark, subjects=("s06",), seed=7, **E2E_KW)
    sc = spark.sparkContext
    group = "test-pipeline-e2e"
    sc.setJobGroup(group, "run_pipeline build + collect")
    try:
        rows = run_pipeline(
            labels_df, emg_df, mocap_df, emg_t, mocap_t, n_models=3
        ).collect()
        return rows, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@pytest.fixture(scope="module")
def submission(pipeline_run):
    return pipeline_run[0]


def test_pipeline_job_budget(pipeline_run):
    """The label vocabulary is read once and encoded, one-hot encoded
    and decoded as literal SQL; one persisted arm-label frame feeds
    the channel repair (one aligned frame for both fits), the training
    anchors and the training-label join; and train and test share one
    sensor, scaler and persisted feature plan: the run fires 42 jobs
    (4 cores). A second, test-side copy of the prepare, scaler and
    feature stages fired 53-55 (gate 60); two repair rounds with their
    own alignments, and per-arm label frames for training, 62-64;
    re-reading the label dims at each stage, 95-96."""
    assert pipeline_run[1] <= 45, f"{pipeline_run[1]} jobs for one run_pipeline"


def test_pipeline_rejects_a_repaired_test_subject(spark):
    """A test subject the channel repair fits on or rewrites would have
    its samples repaired and dropped from training: run_pipeline raises
    before it fires a Spark job."""
    labels_df, emg_df, mocap_df = fixture_dfs(spark, subjects=("s02",), span_s=0.4)
    sc = spark.sparkContext
    group = "test-pipeline-repaired-test-subject"
    sc.setJobGroup(group, "run_pipeline with a repaired test subject")
    try:
        with pytest.raises(ValueError, match="s02"):
            run_pipeline(labels_df, emg_df, mocap_df, emg_df, mocap_df, test_subject="s02")
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_label_vocabulary_literals_round_trip(spark):
    """The one-read class lists are arm_label_dims' code order, and the
    literal encode/decode fragments round-trip every class, a quoted
    one included."""
    labels = spark.createDataFrame(
        [
            ("s01", "t01", "la", 0.0, 1.0, "la-lift"),
            ("s01", "t01", "la", 1.0, 2.0, "la-don't"),
            ("s02", "t01", "la", 0.0, 2.0, "la-lift"),
            ("s01", "t01", "ra", 0.0, 2.0, "ra-stir"),
            ("s02", "t01", "ra", 0.0, 2.0, "ra-hold"),
        ],
        "subject string, trial string, arm string, start double, end double, action string",
    )
    classes = bbdc.arm_label_classes(labels)
    assert classes == (["la-don't", "la-lift"], ["ra-hold", "ra-stir"])
    for cls, dim in zip(classes, bbdc.arm_label_dims(labels)):
        assert sorted((r["code"], r["action"]) for r in dim.collect()) == list(enumerate(cls))
        got = (
            spark.createDataFrame([(c,) for c in cls], "action string")
            .selectExpr("action", f"{bbdc.label_code_sql(cls, 'action')} AS code")
            .selectExpr("action", "code", f"{bbdc.label_decode_sql(cls, 'code')} AS back")
            .collect()
        )
        assert [(r["code"], r["back"]) for r in got] == list(enumerate(cls))


def test_pipeline_runs_and_produces_intervals(submission):
    assert len(submission) > 0
    vocab = {
        a for arms in
        (["la-nothing", "la-lift", "la-pour"], ["ra-nothing", "ra-hold", "ra-stir"])
        for a in arms
    }
    keys = {r["key"] for r in submission}
    assert all(k.startswith("s06t01.") for k in keys)
    assert keys == {"s06t01.la", "s06t01.ra"}
    for r in submission:
        assert r["action"] in vocab
        assert r["end"] > r["start"]


def test_pipeline_segments_are_contiguous(submission):
    from collections import defaultdict

    by_key = defaultdict(list)
    for r in submission:
        by_key[r["key"]].append((r["start"], r["end"], r["action"]))
    for key, segs in by_key.items():
        segs.sort()
        for (s1, e1, a1), (s2, e2, a2) in zip(segs, segs[1:]):
            assert math.isclose(e1, s2), f"{key}: gap {e1} -> {s2}"
            assert a1 != a2, f"{key}: unmerged adjacent runs"


def test_pipeline_deterministic(spark, submission):
    labels_df, emg_df, mocap_df = fixture_dfs(spark, **E2E_KW)
    _, emg_t, mocap_t = fixture_dfs(spark, subjects=("s06",), seed=7, **E2E_KW)
    again = run_pipeline(
        labels_df, emg_df, mocap_df, emg_t, mocap_t, n_models=3
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, submission))


def test_pipeline_from_csv_sources(spark, tmp_path):
    """S1-S5 integration: fixture written as reference-native CSVs,
    loaded through sources/native.py, run through the pipeline, sunk
    as a headerless submission CSV."""
    import glob
    import os

    from bbdc20_submission_spark.sources.native import (
        load_labels,
        load_sensor_csv_dir,
        write_submission_csv,
    )
    from tests.fixture_bbdc import MOCAP_COLS, make_fixture

    def dump(rows, cols, d):
        os.makedirs(d, exist_ok=True)
        by_key = {}
        for row in rows:
            by_key.setdefault((row[0], row[1]), []).append(row[2:])
        for (s, t), rs in by_key.items():
            with open(os.path.join(d, f"{s}{t}.csv"), "w") as f:
                f.write(",".join(cols) + "\n")
                for r in rs:
                    f.write(",".join("" if v is None else repr(v) for v in r) + "\n")

    labels, emg, mocap = make_fixture(subjects=("s01", "s02", "s03", "s04", "s05"), span_s=1.6)
    with open(tmp_path / "labels.csv", "w") as f:
        for k, s, e, a in labels:
            f.write(f"{k},{s},{e},{a}\n")
    dump(emg, ["ts", *[f"c{i}" for i in range(8)]], str(tmp_path / "emg"))
    dump(mocap, ["ts", *MOCAP_COLS], str(tmp_path / "mocap"))
    _, emg_t, mocap_t = make_fixture(subjects=("s06",), seed=9, span_s=1.6)
    dump(emg_t, ["ts", *[f"c{i}" for i in range(8)]], str(tmp_path / "emg_t"))
    dump(mocap_t, ["ts", *MOCAP_COLS], str(tmp_path / "mocap_t"))

    labels_df = load_labels(spark, str(tmp_path / "labels.csv"))
    emg_df = load_sensor_csv_dir(spark, str(tmp_path / "emg"))
    mocap_df = load_sensor_csv_dir(spark, str(tmp_path / "mocap"))
    emg_t_df = load_sensor_csv_dir(spark, str(tmp_path / "emg_t"))
    mocap_t_df = load_sensor_csv_dir(spark, str(tmp_path / "mocap_t"))

    sub = run_pipeline(labels_df, emg_df, mocap_df, emg_t_df, mocap_t_df, n_models=2)
    out = str(tmp_path / "submission")
    write_submission_csv(sub, out)
    part = glob.glob(os.path.join(out, "part-*.csv"))
    assert len(part) == 1
    lines = open(part[0]).read().strip().splitlines()
    assert len(lines) > 0
    for line in lines:
        key, start, end, action = line.split(",")
        assert key.startswith("s06t01.")
        assert float(end) > float(start)


def test_fit_ols_matches_spark_ml_normal_solver(spark):
    """_fit_ols (distributed normal equations) == pyspark.ml
    LinearRegression(solver='normal', regParam=0) == sklearn OLS."""
    import random

    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression

    from bbdc20_submission_spark.plans.bbdc import _fit_ols

    rng = random.Random(3)
    rows = []
    true_w = [2.0, -1.5, 0.5]
    for _ in range(300):
        x = [rng.gauss(0, 1) for _ in range(3)]
        y = 4.0 + sum(w * v for w, v in zip(true_w, x)) + rng.gauss(0, 0.1)
        rows.append((*x, y))
    df = spark.createDataFrame(rows, "x1 double, x2 double, x3 double, y double")

    b0, coefs = _fit_ols(df, ["x1", "x2", "x3"], "y")

    assembled = VectorAssembler(
        inputCols=["x1", "x2", "x3"], outputCol="features"
    ).transform(df)
    model = LinearRegression(
        featuresCol="features", labelCol="y", solver="normal", regParam=0.0
    ).fit(assembled)
    assert b0 == pytest.approx(model.intercept, abs=1e-8)
    for got, want in zip(coefs, model.coefficients):
        assert got == pytest.approx(want, abs=1e-8)


@pytest.mark.skipif(
    not __import__(
        "bbdc20_submission_spark.plans.models", fromlist=["HAS_LIGHTGBM"]
    ).HAS_LIGHTGBM,
    reason="lightgbm not installed — booster branch is env-gated",
)
def test_lightgbm_ensemble_branch_deterministic(spark):
    """When lightgbm IS importable, the real booster path (reference
    param draws, seed 1337+i) must train, vote, and be run-to-run
    deterministic — so L2 isn't certified by the ridge fallback only."""
    from bbdc20_submission_spark.plans.models import predict_vote, train_ensemble

    rng = np.random.default_rng(0)
    x = rng.normal(size=(300, 20))
    y = (x[:, 0] + x[:, 1] > 0).astype(np.int64) + 2 * (x[:, 2] > 0).astype(np.int64)
    w = np.ones(len(y))
    models_a = train_ensemble(x, y, w, n_classes=4, n_models=3)
    models_b = train_ensemble(x, y, w, n_classes=4, n_models=3)
    feats = spark.createDataFrame(
        [(int(i), [float(v) for v in row]) for i, row in enumerate(x[:50])],
        "row_id long, features array<double>",
    )
    pa = {r["row_id"]: r["pred_code"] for r in predict_vote(feats, models_a).collect()}
    pb = {r["row_id"]: r["pred_code"] for r in predict_vote(feats, models_b).collect()}
    assert pa == pb
    # the ensemble must actually learn the separable structure
    acc = sum(1 for i, p in pa.items() if p == y[i]) / len(pa)
    assert acc >= 0.7, acc
