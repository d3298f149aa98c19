"""Aggregation operators (SURVEY.md §2.4).

Each re-expresses a reference computation as built-in Spark
aggregates — partial (map-side) + final aggregation comes free, which
is exactly the reference's hand-rolled ``partial_fit`` pattern
(``/root/reference/load_data.py:66-82``) done by the engine.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def telescoping_mean_diff(value: Column | str, order: Column) -> Column:
    """``mean(diff(x))`` over an ordered group == (last-first)/(n-1).

    Ref: ``generate_submission.py:14-15`` (np.diff().mean()); the
    telescoping identity avoids materializing the diffs (SURVEY A3).
    ``order`` must be a deterministic (tie-broken) sort key expression.
    Returns null for groups of size 1 (0/0), matching np.mean([]) NaN
    normalized to null — ``try_divide``, because ANSI mode (the Spark 4
    default) raises DIVIDE_BY_ZERO on a plain ``/``.
    """
    v = F.col(value) if isinstance(value, str) else value
    return F.try_divide(
        F.max_by(v, order) - F.min_by(v, order), F.count(v) - F.lit(1)
    )


def block_sum_diff(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    order_by: Sequence[str],
    k: int,
) -> DataFrame:
    """``sum(last k rows) - sum(first k rows)`` per group (SURVEY A4).

    Ref: ``generate_submission.py:17-18`` (start/end block-sum diff,
    k=7 at the call site). One ascending row_number plus a partition
    count; the 'last k' membership derives as rn > n - k — a second
    DESCENDING sort would double the per-partition sort work, and
    under non-unique order keys two independent sorts don't even
    guarantee the last-k set is the reversal of the first-k order
    (the derived form does). One shuffle, no self-join.
    """
    asc = Window.partitionBy(*keys).orderBy(*[F.col(c).asc() for c in order_by])
    keysw = Window.partitionBy(*keys)
    v = F.col(value_col)
    tagged = df.withColumn("_rn_asc", F.row_number().over(asc)).withColumn(
        "_n", F.count(F.lit(1)).over(keysw)
    )
    return tagged.groupBy(*keys).agg(
        (
            F.sum(
                F.when(F.col("_rn_asc") > F.col("_n") - k, v).otherwise(F.lit(0.0))
            )
            - F.sum(F.when(F.col("_rn_asc") <= k, v).otherwise(F.lit(0.0)))
        ).alias("block_sum_diff")
    )


def signed_abs_max(value: Column | str) -> Column:
    """Value with the largest absolute magnitude, sign preserved.

    Ref: ``utils.py:38-45`` (SURVEY A6) — literally
    ``np.where(-amin > amax, amin, amax)``, so a tie between +x and -x
    resolves to the POSITIVE value (``-amin > amax`` is false). The
    same closed form here: two plain min/max aggregates (cheaper than
    max_by's struct comparison) and deterministic on ties, matching
    the reference bit-for-bit.
    """
    v = F.col(value) if isinstance(value, str) else value
    amax = F.max(v)
    amin = F.min(v)
    return F.when(-amin > amax, amin).otherwise(amax)


def robust_scale(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    out_col: str = "scaled",
    q_low: float = 0.25,
    q_high: float = 0.75,
) -> DataFrame:
    """Per-group robust scaling: (x - median) / (quantile_high - quantile_low).

    Ref: per-subject RobustScaler(25-75) at
    ``generate_submission.py:304-313`` and per-trial 15-85 variant at
    ``load_data.py:109-111`` (SURVEY A8/A9). Thin delegate over
    ``scalers.scale_group(mode='robust')`` — one formula, one place
    to hold the sklearn parity rules (exact percentiles; zero-IQR
    groups scale by 1, sklearn's _handle_zeros_in_scale)."""
    from bbdc20_submission_spark.operators.scalers import scale_group

    out = scale_group(
        df, keys, [value_col], mode="robust", q_low=q_low, q_high=q_high,
        suffix="__rs",
    )
    return out.withColumnRenamed(f"{value_col}__rs", out_col)


def label_encode(df: DataFrame, label_col: str, code_col: str = "code") -> DataFrame:
    """sklearn-LabelEncoder semantics: code = rank in sorted distinct.

    Ref: ``load_data.py:25-28`` (SURVEY A10). Returns the dimension
    table ``[label_col, code_col]``; broadcast-join it back to encode.
    (Spark ML StringIndexer defaults to frequency order — wrong here.)
    The single-partition window is fine: cardinality == #distinct
    labels, tiny by construction.
    """
    return (
        df.selectExpr(f"`{label_col}`")
        .distinct()
        .selectExpr(
            f"`{label_col}`",
            f"CAST(dense_rank() OVER (ORDER BY `{label_col}`) - 1 AS BIGINT) AS `{code_col}`",
        )
    )


def one_hot(df: DataFrame, label_col: str, classes: Sequence[str]) -> DataFrame:
    """LabelBinarizer over a fixed class list -> 0/1 columns.

    Ref: ``generate_submission.py:163-168`` (SURVEY A11). Class list
    must be passed explicitly (deterministic column order), matching
    the reference's fit-then-transform with a known vocabulary.
    """
    cols = [
        (F.col(label_col) == F.lit(c)).cast("long").alias(f"is_{c}") for c in classes
    ]
    return df.select("*", *cols)


def mode_lowest(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    out_col: str = "mode",
) -> DataFrame:
    """Per-group mode; ties resolve to the LOWEST value.

    Ref: ``np.bincount(p).argmax()`` at ``generate_submission.py:496-502``
    (SURVEY A12) — bincount.argmax returns the first (lowest) index on
    ties. Implemented as count-per-value then max_by on
    (count desc, value asc) via an ordering struct.
    """
    counted = df.groupBy(*keys, value_col).agg(F.count(F.lit(1)).alias("_cnt"))
    w = Window.partitionBy(*keys).orderBy(
        F.col("_cnt").desc(), F.col(value_col).asc()
    )
    return (
        counted.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*keys, F.col(value_col).alias(out_col))
    )


def argmax_array(arr: Column | str) -> Column:
    """0-based index of the max element; ties -> first (np.argmax).

    Ref: ``probs.argmax(axis=1)`` at ``generate_submission.py:487``
    (SURVEY A13).
    """
    a = F.col(arr) if isinstance(arr, str) else arr
    return (F.array_position(a, F.array_max(a)) - F.lit(1)).cast("long")
