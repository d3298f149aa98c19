"""Distributed EXACT percentiles at scale (SURVEY A7-A9 support).

Spark's built-in exact ``percentile`` aggregate materializes a
value->count map per partition — fine at millions of rows, hostile at
100 TB. This operator computes the same linear-interpolated quantile
(quantile_cont semantics, bit-equal to the builtin) in two passes that
never hold more than a narrow bracket of values:

1. pass 1: total count + a high-accuracy ``percentile_approx`` sketch
   brackets the target order statistics;
2. pass 2: count rows strictly below the bracket, collect the (tiny)
   in-bracket value set, and pick the exact order statistics k and k+1
   locally, interpolating by the fractional rank.

Cost: two scans, shuffle of O(bracket) values. ``exact_percentile_frame``
is the operator (one lazy plan, the bracket containment proved from the
sketch accuracy); ``exact_percentile`` is its value on the driver, and
``exact_percentile_by`` the per-group form, which widens and retries a
group whose bracket missed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# percentile_approx accuracy of the pass-1 bracket: rank error
# <= n/_ACCURACY, inside the +-0.01*n bracket margin with 100x slack
_ACCURACY = 10_000


def exact_percentile(df: DataFrame, col: str, p: float) -> float | None:
    """Exact linear-interpolated percentile of a numeric column, as a
    driver value (None when the column has no non-NULL value).

    Returns the same value as ``F.expr(f"percentile({col}, {p})")``.
    Nulls are ignored (as the builtin does)."""
    return exact_percentile_frame(df, col, p).first()[0]


def exact_percentile_frame(
    df: DataFrame, col: str, p: float, out_col: str = "pct"
) -> DataFrame:
    """Exact percentile as a ONE-ROW DataFrame ``[out_col]`` whose
    execution (not construction) runs both bracket passes — pass 1
    rides a broadcast cross join into pass 2, and the order-statistic
    interpolation finishes as a scalar expression over the aggregated
    bracket. Callers that compose the result into a bigger plan (cross
    join with other aggregates) get the percentile recomputed per
    execution, with nothing evaluated at plan-build time.

    No bracket-miss retry is needed: ``percentile_approx``'s rank error
    is ≤ n/_ACCURACY, and the bracket margin is ±0.01·n ranks, so for
    n·(0.01 − 1/_ACCURACY) ≥ 1 (n ≥ ~102) the bracket provably contains
    the target order statistics; below a 10×-slack threshold of 1000
    rows the bracket widens to the full [min, max] range, where the
    in-bracket value list is trivially small. Result is bit-equal to
    ``percentile(col, p)`` (same interpolation evaluation order)."""
    if not 0.0 <= p <= 1.0:
        raise ValueError(f"p={p} outside [0, 1]")
    # parsed-SQL projections (r14): the bracket/interpolation Column
    # assembly cost ~50 py4j round trips per build
    base = df.selectExpr(f"CAST(`{col}` AS DOUBLE) AS _v").filter(
        "_v IS NOT NULL"
    )
    p_lo = f"{max(0.0, p - 0.01)!r}D"
    p_hi = f"{min(1.0, p + 0.01)!r}D"
    pass1 = base.agg(
        F.expr("count(_v)").alias("_n"),
        F.expr("min(_v)").alias("_lo_all"),
        F.expr("max(_v)").alias("_hi_all"),
        F.expr(
            f"percentile_approx(_v, array({p_lo}, {p_hi}), {_ACCURACY})"
        ).alias("_bracket"),
    ).selectExpr(
        "_n",
        "CASE WHEN _n <= 1000 THEN _lo_all "
        "ELSE element_at(_bracket, 1) END AS _lo",
        "CASE WHEN _n <= 1000 THEN _hi_all "
        "ELSE element_at(_bracket, 2) END AS _hi",
    )
    pass2 = (
        base.crossJoin(F.broadcast(pass1))
        .agg(
            F.expr(
                "sum(CASE WHEN _v < _lo THEN 1 ELSE 0 END)"
            ).alias("_below"),
            F.expr(
                "sort_array(collect_list("
                "CASE WHEN _v >= _lo AND _v <= _hi THEN _v END))"
            ).alias("_vals"),
            F.expr("first(_n)").alias("_n"),
        )
    )
    rank = f"((_n - 1) * {float(p)!r}D)"
    k = f"floor({rank})"
    frac = f"({rank} - {k})"
    vk = f"element_at(_vals, CAST({k} - _below + 1 AS INT))"
    vk1 = f"element_at(_vals, CAST({k} - _below + 2 AS INT))"
    # lower*(1-frac) + higher*frac — the exact evaluation order Spark's
    # Percentile and DuckDB's quantile_cont use (the algebraically-equal
    # lower+(higher-lower)*frac rounds differently in the last ulp).
    # Equal endpoints short-circuit to the exact value, as both engines
    # do: Spark's value->count map has one entry spanning both ranks,
    # while a*(1-frac) + a*frac re-rounds to a±1ulp.
    return pass2.selectExpr(
        "CASE WHEN _n IS NULL OR _n = 0 THEN CAST(NULL AS DOUBLE) "
        f"WHEN {frac} = 0 OR {vk1} = {vk} THEN {vk} "
        f"ELSE {vk} * (1.0D - {frac}) + {vk1} * {frac} END "
        f"AS `{out_col}`"
    )


def exact_percentile_by(
    df: DataFrame,
    keys: list[str],
    col: str,
    p: float,
    max_groups: int = 10_000,
) -> list[tuple]:
    """Bracketed two-pass EXACT percentile PER GROUP, bit-equal to
    ``percentile(col, p)`` within each group.

    The complement of the builtin grouped ``percentile`` (fine when
    per-group cardinality is bounded): this is for the
    low-cardinality analytic grouping over a huge fact table (return
    flags, status codes), where each group's value->count map is the
    scale hazard but the group COUNT is driver-trivial. Per-group
    state here is bounded by the sketch accuracy, and the whole pass
    structure is two jobs regardless of group count (all groups'
    brackets ride one broadcast dim; the rare bracket-miss retries
    only the missed groups). Raises above ``max_groups`` — by
    contract this is the few-groups/huge-groups shape.

    Returns driver-side rows ``[(key..., value), ...]`` (group count
    is bounded by contract); callers needing a DataFrame broadcast a
    local frame from them."""
    if not 0.0 <= p <= 1.0:
        raise ValueError(f"p={p} outside [0, 1]")
    spark = df.sparkSession
    base = df.select(*keys, F.col(col).alias("_v")).filter(
        F.col("_v").isNotNull()
    )
    first = (
        base.groupBy(*keys)
        .agg(
            F.count("_v").alias("n"),
            F.min("_v").alias("lo_all"),
            F.max("_v").alias("hi_all"),
            F.percentile_approx(
                "_v", [max(0.0, p - 0.01), min(1.0, p + 0.01)], _ACCURACY
            ).alias("bracket"),
        )
        .collect()
    )
    if len(first) > max_groups:
        raise ValueError(
            f"exact_percentile_by: {len(first)} groups exceeds "
            f"max_groups={max_groups}; use the builtin grouped "
            "percentile aggregate for high-cardinality keys"
        )
    pend: dict[tuple, tuple] = {}
    meta: dict[tuple, tuple] = {}
    res: dict[tuple, float] = {}
    for r in first:
        gk = tuple(r[k] for k in keys)
        n = r["n"]
        rank = (n - 1) * p
        k = int(rank)
        meta[gk] = (k, rank - k, r["lo_all"], r["hi_all"])
        pend[gk] = (r["bracket"][0], r["bracket"][1])
    while pend:
        bdim = spark.createDataFrame(
            [(*gk, lo, hi) for gk, (lo, hi) in pend.items()],
            schema=base.select(
                *keys, F.col("_v").alias("_lo"), F.col("_v").alias("_hi")
            ).schema,
        )
        got = (
            # null-safe equi-join: a NULL group key is a group like
            # any other (a plain equi-join never matches NULL=NULL
            # and would silently DROP the whole group from the result)
            base.join(
                F.broadcast(bdim),
                [base[k].eqNullSafe(bdim[k]) for k in keys],
            )
            .drop(*[bdim[k] for k in keys])
            .groupBy(*keys)
            .agg(
                F.sum(
                    F.when(F.col("_v") < F.col("_lo"), 1).otherwise(0)
                ).alias("below"),
                F.sort_array(
                    F.collect_list(
                        F.when(
                            (F.col("_v") >= F.col("_lo"))
                            & (F.col("_v") <= F.col("_hi")),
                            F.col("_v"),
                        )
                    )
                ).alias("vals"),
            )
            .collect()
        )
        nxt: dict[tuple, tuple] = {}
        for r in got:
            gk = tuple(r[k] for k in keys)
            k, frac, lo_all, hi_all = meta[gk]
            below, vals = r["below"], r["vals"]
            last_needed = k + (1 if frac > 0 else 0)
            if below <= k and last_needed < below + len(vals):
                vk = vals[k - below]
                vk1 = vals[last_needed - below]
                if frac == 0 or vk1 == vk:
                    # equal-endpoint short-circuit — see exact_percentile_frame
                    res[gk] = float(vk)
                else:
                    # same evaluation order as Spark Percentile /
                    # DuckDB quantile_cont (see exact_percentile_frame)
                    res[gk] = float(vk * (1 - frac) + vk1 * frac)
            else:  # sketch-violating corner: widen to the full range
                nxt[gk] = (lo_all, hi_all)
        pend = nxt
    # null-safe sort key: a NULL group key must not crash the sort
    return [
        (*gk, res[gk])
        for gk in sorted(res, key=lambda t: tuple((v is None, v) for v in t))
    ]
