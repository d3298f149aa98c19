"""Skew strategies for the 100 TB case.

AQE (enabled in session.py) already splits skewed shuffle partitions
at runtime; ``salted_aggregate`` is the explicit form for when the
skew is known ahead of time (hot keys in a groupBy): two-phase
aggregation — phase 1 groups on (key, salt) spreading a hot key over
N partitions, phase 2 merges the partials. Works for any algebraic
aggregate (sum/count/min/max and anything decomposable into them).
The salted join is ``joins.salted_join``; bucketed co-located storage
is ``sources.bucketed.write_bucketed``.
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
