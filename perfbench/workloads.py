"""Workload definitions: inputs, operations and output checks.

A workload is a list of operations. Each operation has a ``build``
step (public entry point calls that assemble the plan, including any
jobs the program fires while building), a ``force`` step (the action
that computes the result) and a ``verify`` step, run once per run in
an untimed pass, that raises ``AssertionError`` on a wrong output.

The query workloads read the harness tables at scale factor 0.01 in
``data/sf0.01`` (a copy of the tables the repository's tests and
``bench.py`` read); their ``--seed`` permutes the query order within
each pass. Their outputs are checked against ``expected.json``: row
count and order-insensitive digest of each query's result, recorded
from the DuckDB oracle by ``record_expected.py`` (which also requires
the Spark result to match the oracle exactly).

The BBDC workload draws its native CSV tree from ``--seed`` and checks
its outputs against references computed here from the generated rows.
That tree is made in a child process (``prepare``), so the generator
never shares the measured driver process or its memory high-water mark.
"""

from __future__ import annotations

import csv
import glob
import hashlib
import json
import math
import os
import pickle
from dataclasses import dataclass
from decimal import Decimal
from typing import Callable

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
EXPECTED_JSON = os.path.join(HERE, "expected.json")

# Relational and time-series queries: parquet scans, shuffles,
# aggregates, joins, window frames, JSON extraction.
RELATIONAL = (
    "a2_grouped_stats_q1",
    "j1_equi_join_revenue",
    "j_semi_anti",
    "o_topk_per_group",
    "p7_null_json",
    "q5_local_supplier",
    "w3_w7_event_values",
    "w6_sessionize_rle",
)
# LLM-data curation queries: dedup plans with eager build-time jobs,
# library persists and Arrow/Python worker crossings. d12 runs d8's
# MinHash LSH plan and adds the connected-components clustering on top,
# so d8 on its own would add time to every pass and no new code path.
CURATION = (
    "d12_dedup_clusters",
    "m_media_pipeline",
)
# Three subjects with one 1.6 s trial each. The EMG context-frame
# features cost grows with the subjects and with the rows around every
# window: on the test fixture's six subjects with 6.4 s trials a warm
# pass takes about a minute, on six subjects with 1.6 s trials 15 s.
BBDC_SUBJECTS = ("s01", "s02", "s03")
BBDC_TRIAL_S = 1.6
BBDC_OPS = ("ingest", "train", "submission")
N_MODELS = 11  # the reference's ensemble size
VOCAB = {"la-nothing", "la-lift", "la-pour", "ra-nothing", "ra-hold", "ra-stir"}
STEP_MS = 200

WORKLOADS = {
    "queries_sf0.01": ("tables", RELATIONAL + CURATION),
    "bbdc_train": ("bbdc", BBDC_OPS),
}


@dataclass
class Op:
    name: str
    build: Callable
    force: Callable
    verify: Callable


def noop_write(df) -> None:
    df.write.mode("overwrite").format("noop").save()


# ---------------------------------------------------------------- inputs

def table_sizes() -> dict:
    """``{table: {"rows": n, "bytes": file size}}`` of the query inputs."""
    import pyarrow.parquet as pq

    return {
        name[: -len(".parquet")]: {
            "rows": pq.ParquetFile(os.path.join(DATA_DIR, name)).metadata.num_rows,
            "bytes": os.path.getsize(os.path.join(DATA_DIR, name)),
        }
        for name in sorted(os.listdir(DATA_DIR))
    }


def prepare_bbdc(seed: int, work: str) -> dict:
    """Stage the native CSV tree drawn from ``seed`` under ``work`` and
    pickle the references its checks need; returns the input sizes.
    Runs in a child process."""
    from tests.fixture_bbdc import MOCAP_COLS, make_fixture

    data = os.path.join(work, "data")
    labels, emg, mocap = make_fixture(subjects=BBDC_SUBJECTS, span_s=BBDC_TRIAL_S, seed=seed)
    os.makedirs(data)
    with open(os.path.join(data, "labels.csv"), "w", newline="") as fh:
        csv.writer(fh).writerows(labels)
    for kind, rows, header in (
        ("emg", emg, [f"c{i}" for i in range(8)]),
        ("mocap", mocap, MOCAP_COLS),
    ):
        os.makedirs(os.path.join(data, kind))
        by_trial: dict[tuple[str, str], list] = {}
        for r in rows:
            by_trial.setdefault((r[0], r[1]), []).append(r[2:])
        for (s, t), trial_rows in by_trial.items():
            with open(os.path.join(data, kind, f"{s}{t}.csv"), "w", newline="") as fh:
                w = csv.writer(fh)
                w.writerow(["ts", *header])
                w.writerows([["" if v is None else v for v in r] for r in trial_rows])
    grid = reference_grid(labels)
    expected = {
        "rows": {"labels": len(labels), "emg": len(emg), "mocap": len(mocap)},
        "intervals": reference_intervals(grid),
        "train_rows": sum(1 for key, _, _ in grid if key.endswith(".la")),
    }
    with open(os.path.join(work, "expected.pkl"), "wb") as fh:
        pickle.dump(expected, fh)
    n_bytes = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(data) for f in files
    )
    return {**{k: {"rows": n} for k, n in expected["rows"].items()}, "csv_bytes": n_bytes}


# ---------------------------------------------------------------- checks

def oracle_frames(data: str, names) -> dict:
    """DuckDB oracle result of each named query on the tables in ``data``."""
    from bbdc20_submission_spark import registry
    from tests.oracle_check import duckdb_connection

    registry.load_all()
    con = duckdb_connection(data)
    try:
        return {n: con.execute(registry.ORACLE[n]).fetchdf() for n in names}
    finally:
        con.close()


def _cell(v, ndigits: int = 6) -> str:
    """Engine-neutral text of one result value: integral numbers print
    as integers, other floats rounded to ``ndigits`` (the oracle
    comparator's rounding; 5 inside arrays), NULL and NaN alike."""
    if v is None:
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x, 5) for x in v) + "]"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating, Decimal)):
        f = float(v)
        if math.isnan(f):
            return "null"
        f = round(f, ndigits)
        return str(int(f)) if f.is_integer() and abs(f) < 2**53 else repr(f)
    if v is pd.NaT:
        return "null"
    return str(v)


def frame_digest(pdf) -> dict:
    """Row count and order-insensitive SHA-256 of a result frame."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    text = "\x1e".join([",".join(cols), *rows])
    return {"rows": len(pdf), "digest": hashlib.sha256(text.encode()).hexdigest()}


def reference_grid(labels) -> list[tuple[str, int, str]]:
    """Labels -> (key, window end ms, action) on the 200 ms grid, written
    out from the reference's rules (``load_data.py`` grid cursor)."""
    by_key: dict[str, list] = {}
    for key, start, end, action in labels:
        by_key.setdefault(key, []).append((start, end, action))
    grid = []
    for key, rows in by_key.items():
        prev_hi = None
        for start, end, action in sorted(rows):
            hi = math.ceil(end * 1000 / STEP_MS) * STEP_MS - STEP_MS
            lo = max(STEP_MS if prev_hi is None else prev_hi + STEP_MS, STEP_MS)
            prev_hi = hi if prev_hi is None else max(prev_hi, hi)
            grid.extend((key, w, action) for w in range(lo, hi + 1, STEP_MS))
    return sorted(grid)


def reference_intervals(grid) -> list[tuple[str, float, float, str]]:
    """Grid -> run-length intervals by the reference's half-open rule
    (``generate_submission.py``): a run ends where the next one starts,
    the last one at the last window, and empty runs are dropped."""
    by_key: dict[str, list] = {}
    for key, w, action in grid:
        by_key.setdefault(key, []).append((w, action))
    out = []
    for key, windows in by_key.items():
        runs: list[list] = []
        for w, action in windows:
            if not runs or runs[-1][1] != action:
                runs.append([w, action])
        for i, (w, action) in enumerate(runs):
            end_ms = runs[i + 1][0] if i + 1 < len(runs) else windows[-1][0]
            if end_ms > w:
                out.append((key, w / 1000.0, end_ms / 1000.0, action))
    return sorted(out)


# -------------------------------------------------------------------- ops

def make_ops(workload: str, work: str) -> list[Op]:
    kind, names = WORKLOADS[workload]
    if kind == "tables":
        with open(EXPECTED_JSON) as fh:
            expected = json.load(fh)["queries"]
        return [_query_op(n, expected[n]) for n in names]
    with open(os.path.join(work, "expected.pkl"), "rb") as fh:
        expected = pickle.load(fh)
    return _bbdc_ops(os.path.join(work, "data"), os.path.join(work, "out"), expected)


def warm(spark, workload: str) -> None:
    """Set-up warm-up: fill the program's schema caches for every input
    table, then run one trivial job."""
    kind, _ = WORKLOADS[workload]
    if kind == "tables":
        from bbdc20_submission_spark.sources.harness import HARNESS_TABLES, load_table

        for t in HARNESS_TABLES:
            load_table(spark, t, DATA_DIR).schema
    spark.range(1).count()


def _query_op(name: str, want: dict) -> Op:
    from bbdc20_submission_spark import registry

    def build(spark):
        return registry.QUERIES[name](spark, DATA_DIR)

    def verify(spark):
        got = frame_digest(build(spark).toPandas())
        assert got == want, f"{name}: result {got} != recorded {want}"

    return Op(name, build, noop_write, verify)


def _bbdc_ops(data: str, out: str, expected: dict) -> list[Op]:
    from pyspark.sql import functions as F

    from bbdc20_submission_spark.plans import bbdc, models
    from bbdc20_submission_spark.sources import native

    labels_csv = os.path.join(data, "labels.csv")
    emg_dir, mocap_dir = os.path.join(data, "emg"), os.path.join(data, "mocap")

    def ingest_build(spark):
        return (
            native.load_labels(spark, labels_csv),
            native.load_sensor_csv_dir(spark, emg_dir),
            native.load_sensor_csv_dir(spark, mocap_dir),
        )

    def ingest_force(frames):
        for df in frames:
            noop_write(df)

    def ingest_verify(spark):
        labels, emg, mocap = ingest_build(spark)
        got = {"labels": labels.count(), "emg": emg.count(), "mocap": mocap.count()}
        assert got == expected["rows"], f"ingest: row counts {got} != {expected['rows']}"
        channels = [c for c in emg.columns if c.startswith("c")]
        assert channels == [f"c{i}" for i in range(8)], f"ingest: emg columns {emg.columns}"

    def train_build(spark):
        """Left-arm training matrix from the pipeline's EMG stages:
        200 ms windows, per-subject robust scaling, context-frame
        features on the label grid, joined to the encoded labels."""
        labels = native.load_labels(spark, labels_csv)
        emg = bbdc.prepare_emg(native.load_sensor_csv_dir(spark, emg_dir))
        la = bbdc.expand_targets(labels).filter(F.col("arm") == "la")
        left_dim, _ = bbdc.arm_label_dims(labels)
        feats = bbdc.emg_frame_features(
            emg, la.select("subject", "trial", "win_end"), bbdc.subject_scaler_stats(emg)
        )
        matrix = (
            feats.join(la, ["subject", "trial", "win_end"])
            .join(F.broadcast(left_dim), "action")
            .select("emg_feats", "code")
        )
        return matrix, left_dim

    def train_force(built):
        matrix, left_dim = built
        rows = matrix.collect()
        x = np.array([r["emg_feats"] for r in rows], dtype=np.float64)
        y = np.array([r["code"] for r in rows], dtype=np.int64)
        n_classes = left_dim.count()
        return x, y, models.train_ensemble(
            x, y, np.ones(len(y)), n_classes=n_classes, n_models=N_MODELS
        ), n_classes

    def train_verify(spark):
        x, y, ensemble, n_classes = train_force(train_build(spark))
        want = expected["train_rows"]
        assert len(x) == want, f"train: {len(x)} training rows != {want} grid windows"
        assert x.ndim == 2 and x.shape[1] > 0 and np.isfinite(x).all(), "train: bad features"
        assert set(y.tolist()) <= set(range(n_classes)), "train: label codes out of range"
        assert len(ensemble) == N_MODELS, f"train: {len(ensemble)} models != {N_MODELS}"

    def submission_build(spark):
        grid = bbdc.expand_targets(native.load_labels(spark, labels_csv))
        return bbdc.predictions_to_intervals(grid)

    def submission_force(df):
        native.write_submission_csv(df, out)

    def submission_verify(spark):
        submission_force(submission_build(spark))
        parts = glob.glob(os.path.join(out, "part-*.csv"))
        assert len(parts) == 1, f"submission: {len(parts)} part files, want 1"
        with open(parts[0]) as fh:
            rows = sorted(
                (k, float(s), float(e), a) for k, s, e, a in csv.reader(fh)
            )
        assert rows == expected["intervals"], "submission: intervals differ from the reference"
        keys = {k for k, *_ in rows}
        assert all(k[:3] in BBDC_SUBJECTS and k[6:7] == "." for k in keys), "submission: bad keys"
        assert {a for *_, a in rows} <= VOCAB, "submission: action outside the vocabulary"
        for key in keys:
            spans = sorted((s, e) for k, s, e, _ in rows if k == key)
            assert all(e > s for s, e in spans), f"submission: empty interval in {key}"
            assert all(a[1] == b[0] for a, b in zip(spans, spans[1:])), (
                f"submission: {key} intervals are not contiguous"
            )

    return [
        Op("ingest", ingest_build, ingest_force, ingest_verify),
        Op("train", train_build, train_force, train_verify),
        Op("submission", submission_build, submission_force, submission_verify),
    ]
