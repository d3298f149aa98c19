"""End-to-end BBDC pipeline driver (SURVEY §3.1 stages 1-11).

Accepts the three native tables as DataFrames (loaded by
sources/native.py from CSVs, or synthesized by tests), trains on the
train subjects, predicts the test subject, and emits the submission
interval table. The test subject's samples come from the test
tables, every other subject's from the train tables, and both splits
share one plan from sensor prep to features. Only the feature matrix
(thousands of rows x ~416 — SURVEY §7 M3 design rule) and the two arm
label vocabularies are ever collected; everything else stays
distributed.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from bbdc20_submission_spark.caching import managed_persist
from bbdc20_submission_spark.operators.text import sql_str_lit
from bbdc20_submission_spark.plans import bbdc
from bbdc20_submission_spark.plans.models import predict_vote, train_ensemble


def run_pipeline(
    labels: DataFrame,
    emg: DataFrame,
    mocap: DataFrame,
    emg_test: DataFrame,
    mocap_test: DataFrame,
    test_subject: str = "s06",
    n_models: int = 11,
    seed: int = 1337,
) -> DataFrame:
    """Returns the submission DataFrame [key, start, end, action]."""
    if test_subject in bbdc.REPAIR_SUBJECTS:
        raise ValueError(f"test_subject {test_subject!r}: the channel repair fits on or "
                         f"rewrites {', '.join(bbdc.REPAIR_SUBJECTS)}")
    from bbdc20_submission_spark.session import ensure_package_shipped

    ensure_package_shipped(labels.sparkSession)

    # stages 2-4: targets + sensor prep. Both arms' label of each grid
    # slot, cached: the one label frame of the repair, the training
    # anchors and the training-label join
    slot_labels = managed_persist(bbdc.arm_labels(bbdc.expand_targets(labels)))
    # the label vocabulary, read once; every later stage consumes it as
    # literal SQL (encode, one-hot, decode)
    left_classes, right_classes = bbdc.arm_label_classes(labels)
    # one sensor frame per kind for both splits, split by subject: every
    # later stage groups by subject or (subject, trial)
    is_test = f"subject = {sql_str_lit(test_subject)}"
    emg_p = bbdc.prepare_emg(emg.filter(f"NOT {is_test}").unionByName(emg_test.filter(is_test)))
    mocap_p = bbdc.prepare_mocap(
        mocap.filter(f"NOT {is_test}").unionByName(mocap_test.filter(is_test)))

    # stage 5: channel repair (test rows carry no label and pass through
    # unchanged); cached for the scaler fit and the feature stage
    emg_r = managed_persist(bbdc.repair_channels(emg_p, slot_labels, left_classes, right_classes))

    # stage 6: robust scaler stats per subject, the test subject's own
    scaler_stats = bbdc.subject_scaler_stats(emg_r)

    # stage 7: features of both splits in one cached frame. Anchors are
    # the train slots both arms label and the test subject's mocap
    # window keys (generate_submission.py:421)
    labeled = slot_labels.filter(
        f"la_action IS NOT NULL AND ra_action IS NOT NULL AND NOT {is_test}")
    anchors = labeled.select("subject", "trial", "win_end").unionByName(
        mocap_p.filter(is_test).selectExpr("subject", "trial", "`window` AS win_end").distinct())
    feats = managed_persist(bbdc.build_features(mocap_p, emg_r, anchors, scaler_stats))

    # stage 9: collect the small training matrix (J1 key-aligned join)
    train_rows = (
        feats.join(labeled, ["subject", "trial", "win_end"])
        .selectExpr(
            "subject", "features",
            f"{bbdc.label_code_sql(left_classes, 'la_action')} AS y_left",
            f"{bbdc.label_code_sql(right_classes, 'ra_action')} AS y_right",
        )
        .collect()
    )
    x = np.array([r["features"] for r in train_rows], dtype=np.float64)
    y_l = np.array([r["y_left"] for r in train_rows], dtype=np.int64)
    y_r = np.array([r["y_right"] for r in train_rows], dtype=np.int64)
    weight = np.array(
        [2.0 if r["subject"] == "s05" else 1.0 for r in train_rows]
    )
    left_models = train_ensemble(x, y_l, weight, n_classes=len(left_classes),
                                 n_models=n_models, seed=seed)
    right_models = train_ensemble(x, y_r, weight, n_classes=len(right_classes),
                                  n_models=n_models, seed=seed)

    # stages 10-11: predict, vote, decode, RLE, emit
    voted_l = predict_vote(feats.filter(is_test), left_models, "code_l")
    voted = predict_vote(voted_l, right_models, "code_r")
    preds = voted.selectExpr(
        "subject", "trial", "win_end",
        f"stack(2, 'la', {bbdc.label_decode_sql(left_classes, 'code_l')}, "
        f"'ra', {bbdc.label_decode_sql(right_classes, 'code_r')}) AS (arm, action)",
    )
    return bbdc.predictions_to_intervals(preds)
