"""Skew and co-location strategies for the 100 TB case.

AQE (enabled in session.py) already splits skewed shuffle partitions
at runtime; these operators are the explicit forms for when the skew
is known ahead of time (hot keys in a groupBy/join) or when repeated
joins justify pre-bucketing the storage.

- ``salted_aggregate``: two-phase aggregation — phase 1 groups on
  (key, salt) spreading a hot key over N partitions, phase 2 merges
  the partials. Works for any algebraic aggregate (sum/count/min/max
  and anything decomposable into them).
- ``salted_broadcast_left``: replicate the small side N times with a
  salt column so a skewed large side spreads its hot key across N
  tasks while still joining correctly.
- ``write_bucketed`` / co-located join: persist both sides bucketed by
  the join key so subsequent joins need no Exchange at all.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    partial_aggs: dict[str, Column],
    final_aggs: dict[str, Column],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase salted aggregation.

    partial_aggs: out_name -> agg over raw columns (phase 1).
    final_aggs:   out_name -> agg over the phase-1 out_names (phase 2).
    e.g. sum:  partial {s: sum(x)},        final {s: sum(s)}
         avg:  partial {s: sum(x), n: count(*)}, final sums, then s/n.
    """
    salt = (F.rand(seed=0) * n_salts).cast("int")
    phase1 = (
        df.withColumn("_salt", salt)
        .groupBy(*keys, "_salt")
        .agg(*[e.alias(n) for n, e in partial_aggs.items()])
    )
    return phase1.groupBy(*keys).agg(
        *[e.alias(n) for n, e in final_aggs.items()]
    )


def salted_broadcast_left(
    big: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Join a skewed big side to a small side: the small side is
    exploded n_salts times, the big side picks a random salt — each hot
    key's rows spread over n_salts tasks. Small side stays broadcast,
    so this is only needed when the join must shuffle anyway (e.g.
    because of a downstream requirement); kept for the pattern."""
    salted_small = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    salted_big = big.withColumn("_salt", (F.rand(seed=0) * n_salts).cast("int"))
    return salted_big.join(
        F.broadcast(salted_small), [*on, "_salt"], how
    ).drop("_salt")


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 16,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Persist bucketed (and optionally sorted) by the join key: two
    tables bucketed the same way equi-join with zero Exchange."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)
