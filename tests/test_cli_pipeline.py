"""CLI pipeline subcommand: native CSV layout on disk -> submission
CSV, exercising the S1-S5 loaders + the full pipeline through the
same entry a reference user would type."""

from __future__ import annotations

import csv
import glob

from tests.fixture_bbdc import MOCAP_COLS, make_fixture

from bbdc20_submission_spark.__main__ import main


def _stage_native(tmp_path, subjects, seed):
    labels, emg, mocap = make_fixture(subjects=subjects, seed=seed, span_s=3.2)
    (tmp_path / "emg").mkdir(exist_ok=True)
    (tmp_path / "mocap").mkdir(exist_ok=True)
    with open(tmp_path / "labels.csv", "a", newline="") as fh:
        csv.writer(fh).writerows(labels)

    def by_trial(rows):
        out = {}
        for r in rows:
            out.setdefault((r[0], r[1]), []).append(r[2:])
        return out

    for (s, t), rows in by_trial(emg).items():
        with open(tmp_path / "emg" / f"{s}{t}.csv", "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(["ts"] + [f"c{i}" for i in range(8)])
            w.writerows([["" if v is None else v for v in r] for r in rows])
    for (s, t), rows in by_trial(mocap).items():
        with open(tmp_path / "mocap" / f"{s}{t}.csv", "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(["ts"] + MOCAP_COLS)
            w.writerows([["" if v is None else v for v in r] for r in rows])


def test_cli_pipeline_native_csv_to_submission(spark, tmp_path):
    """S1-S5 end to end: reference-native CSVs (missing samples as empty
    cells) -> native loaders -> run_pipeline -> one headerless
    submission part file of the test subject's intervals."""
    train = tmp_path / "train"
    test = tmp_path / "test"
    train.mkdir()
    test.mkdir()
    _stage_native(train, ("s01", "s02", "s03", "s04", "s05"), seed=42)
    _stage_native(test, ("s06",), seed=7)
    empty_cells = 0  # the fixture's NULL samples, staged as empty fields
    for f in glob.glob(f"{tmp_path}/*/*/*.csv"):
        with open(f, newline="") as fh:
            empty_cells += sum(row.count("") for row in csv.reader(fh))
    assert empty_cells > 0
    out = str(tmp_path / "submission")
    rc = main(
        [
            "pipeline",
            "--labels", str(train / "labels.csv"),
            "--emg", str(train / "emg"),
            "--mocap", str(train / "mocap"),
            "--emg-test", str(test / "emg"),
            "--mocap-test", str(test / "mocap"),
            "--out", out,
            "--n-models", "2",
        ]
    )
    assert rc == 0
    parts = glob.glob(f"{out}/part-*.csv")
    assert len(parts) == 1  # single_file submission format
    with open(parts[0]) as fh:
        rows = list(csv.reader(fh))
    assert len(rows) > 0
    vocab = {"la-nothing", "la-lift", "la-pour", "ra-nothing", "ra-hold", "ra-stir"}
    for key, start, end, action in rows:
        assert key.startswith("s06t01.")
        assert float(end) > float(start) >= 0
        assert action in vocab
