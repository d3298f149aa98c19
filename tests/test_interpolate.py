"""W7 interpolation must match pandas interpolate(linear).fillna(0)
(the reference's load_data.py:95 semantics) on random null patterns."""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
import pytest

from bbdc20_submission_spark.operators.interpolate import interpolate_linear


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_matches_pandas_reference(spark, seed):
    rng = random.Random(seed)
    rows = []
    for g in range(3):
        n = rng.randrange(5, 30)
        for i in range(n):
            v = None if rng.random() < 0.35 else round(rng.uniform(-10, 10), 3)
            rows.append((g, i, v))
    df = spark.createDataFrame(rows, "g long, pos long, v double")
    got = {
        (r["g"], r["pos"]): r["v"]
        for r in interpolate_linear(df, ["g"], ["pos"], ["v"]).collect()
    }
    pdf = pd.DataFrame(rows, columns=["g", "pos", "v"])
    for g, grp in pdf.groupby("g"):
        expected = (
            grp.sort_values("pos")["v"].interpolate(method="linear").fillna(0.0)
        )
        for pos, want in zip(grp.sort_values("pos")["pos"], expected):
            have = got[(g, pos)]
            assert have == pytest.approx(want, abs=1e-9), (g, pos, have, want)


def test_all_null_group_becomes_zero(spark):
    df = spark.createDataFrame(
        [(0, 0, None), (0, 1, None)], "g long, pos long, v double"
    )
    out = interpolate_linear(df, ["g"], ["pos"], ["v"]).collect()
    assert all(r["v"] == 0.0 for r in out)


ADVERSARIAL_PATTERNS = [
    # (name, value sequence) — the null shapes that break naive fills
    ("all_null", [None, None, None, None]),
    ("single_value", [None, 7.0, None, None]),
    ("leading_run", [None, None, None, 1.0, 2.0]),
    ("trailing_run", [1.0, 2.0, None, None, None]),
    ("alternating", [None, 1.0, None, 3.0, None, 5.0, None]),
    ("sandwich", [None, 4.0, None, None, None, -2.0, None]),
    ("no_nulls", [1.0, 2.0, 3.0]),
    ("one_row_null", [None]),
    ("one_row_value", [5.0]),
    ("huge_gap", [0.0] + [None] * 40 + [8.0]),
    ("negative_zero", [-0.0, None, 0.0]),
    ("tiny_values", [1e-300, None, 3e-300]),
    ("big_values", [1e300, None, -1e300]),
]


def test_window_form_matches_pandas_fallback_on_adversarial_patterns(spark):
    """SURVEY §5 escape hatch: the pure-window form and the
    applyInPandas exact-compat fallback must agree bit-for-bit with
    each other AND with a direct pandas re-derivation on every
    adversarial null pattern."""
    from bbdc20_submission_spark.operators.interpolate import (
        interpolate_linear_pandas,
    )

    rows = []
    for g, (_, seq) in enumerate(ADVERSARIAL_PATTERNS):
        rows.extend((g, i, v) for i, v in enumerate(seq))
    df = spark.createDataFrame(rows, "g long, pos long, v double")

    window_out = {
        (r["g"], r["pos"]): r["v"]
        for r in interpolate_linear(df, ["g"], ["pos"], ["v"]).collect()
    }
    pandas_out = {
        (r["g"], r["pos"]): r["v"]
        for r in interpolate_linear_pandas(df, ["g"], ["pos"], ["v"]).collect()
    }
    assert window_out.keys() == pandas_out.keys()

    pdf = pd.DataFrame(rows, columns=["g", "pos", "v"])
    for g, grp in pdf.groupby("g"):
        name = ADVERSARIAL_PATTERNS[g][0]
        expected = (
            grp.sort_values("pos")["v"].interpolate(method="linear").fillna(0.0)
        )
        for pos, want in zip(grp.sort_values("pos")["pos"], expected):
            wv, pv = window_out[(g, pos)], pandas_out[(g, pos)]
            # the fallback IS pandas -> exact equality expected
            assert pv == want or (np.isnan(want) and pv == 0.0), (name, pos, pv, want)
            assert wv == pytest.approx(want, abs=0.0, rel=1e-12) or wv == want, (
                name,
                pos,
                wv,
                want,
            )


def _long_groups():
    """Three long groups over two value columns: leading and trailing
    null runs, interior gaps of every length, one column all-null in
    one group, and duplicated rows (ties in ``t``). A duplicate repeats
    its values, so the output multiset per group does not depend on
    how the engine orders the tied rows."""
    n = 4000
    rng = random.Random(11)
    rows = []
    for g in range(3):
        gap = 0
        for t in range(n):
            edge = t < 25 or t >= n - 40  # leading/trailing run
            if rng.random() < 0.005:
                gap = rng.randrange(5, 80)  # a long interior null run
            gap = max(0, gap - 1)
            a = None if edge or gap or rng.random() < 0.3 else rng.uniform(-5, 5)
            b = None if g == 2 or rng.random() < 0.1 else rng.uniform(0, 100)
            rows.append((g, t, a, b))
            if rng.random() < 0.05:
                rows.append((g, t, a, b))
    return rows


def test_long_groups_match_pandas(spark):
    """Parity on groups of >=4 000 rows — long enough that a quadratic
    "next valid" frame would dominate the test's run time."""
    rows = _long_groups()
    df = spark.createDataFrame(rows, "g long, t long, a double, b double")
    got = sorted(
        tuple(r)
        for r in interpolate_linear(df, ["g"], ["t"], ["a", "b"]).collect()
    )

    pdf = pd.DataFrame(rows, columns=["g", "t", "a", "b"])
    want = []
    for _, grp in pdf.groupby("g"):
        grp = grp.sort_values("t", kind="mergesort").copy()
        for c in ("a", "b"):
            grp[c] = grp[c].interpolate(method="linear").fillna(0.0)
        want.extend(grp.itertuples(index=False, name=None))
    want.sort()

    assert len(got) == len(want) >= 3 * 4000
    for have, exp in zip(got, want):
        assert have[:2] == exp[:2]
        assert have[2:] == pytest.approx(exp[2:], abs=1e-9), (have, exp)
    # the all-null column of group 2 became the leading fill
    assert all(r[3] == 0.0 for r in got if r[0] == 2)


def test_plan_has_no_unbounded_following_and_one_exchange(spark):
    """Every frame is a running frame (no per-row recomputation of an
    UNBOUNDED FOLLOWING frame), and the forward and reversed orders
    share one hash exchange on the keys."""
    df = spark.createDataFrame(
        [(0, 1, None, 1.0), (0, 2, 2.0, None), (1, 1, 3.0, 4.0)],
        "g long, t long, a double, b double",
    )
    out = interpolate_linear(df, ["g"], ["t"], ["a", "b"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "unboundedfollowing" not in plan.lower(), plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_user_columns_named_like_internal_ones_pass_through(spark):
    """Internal columns take a prefix no input column starts with, so a
    caller's ``_ippos`` or ``_pos`` column is neither read nor shadowed."""
    df = spark.createDataFrame(
        [(0, 1, None, 7, "a"), (0, 2, 2.0, 8, "b"), (0, 3, None, 9, "c"), (0, 4, 4.0, 1, "d")],
        "g long, t long, v double, _ippos long, _pos string",
    )
    out = interpolate_linear(df, ["g"], ["t"], ["v"], leading_fill=-1.5)
    assert out.columns == df.columns
    assert [tuple(r) for r in out.orderBy("t").collect()] == [
        (0, 1, -1.5, 7, "a"), (0, 2, 2.0, 8, "b"), (0, 3, 3.0, 9, "c"), (0, 4, 4.0, 1, "d"),
    ]
