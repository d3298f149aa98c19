"""Scale strategies verified at the plan level: salted aggregation
equivalence, bucketed co-located joins (no Exchange), and partition
pruning on partitioned parquet."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from bbdc20_submission_spark.operators.skew import salted_aggregate
from bbdc20_submission_spark.sources.harness import load_table


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_salted_aggregate_matches_plain(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir)
    plain = {
        (r["l_returnflag"],): (r["s"], r["n"])
        for r in li.groupBy("l_returnflag")
        .agg(F.round(F.sum("l_quantity"), 6).alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    salted = salted_aggregate(
        li,
        ["l_returnflag"],
        partial_aggs={"s": F.sum("l_quantity"), "n": F.count(F.lit(1))},
        final_aggs={"s": F.round(F.sum("s"), 6), "n": F.sum("n")},
    )
    got = {(r["l_returnflag"],): (r["s"], r["n"]) for r in salted.collect()}
    assert got == plain


def test_partition_pruning_on_partitioned_parquet(spark, sf_dir, tmp_path):
    li = load_table(spark, "lineitem", sf_dir)
    out = str(tmp_path / "li_part")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    df = spark.read.parquet(out).filter(F.col("l_returnflag") == "A")
    plan = _plan(df)
    assert "PartitionFilters: [isnotnull(l_returnflag" in plan.replace("#", "").replace(
        "l_returnflag", "l_returnflag"
    ) or "PartitionFilters" in plan
    # only the A partition is read
    n_a = df.count()
    n_all = li.filter(F.col("l_returnflag") == "A").count()
    assert n_a == n_all


def test_range_join_big_matches_nested_loop(spark):
    """The bucketized big-big range join must produce exactly the
    nested-loop result, and its plan must be a hash equi-join (no
    BroadcastNestedLoopJoin / CartesianProduct)."""
    import contextlib
    import io
    import random

    from bbdc20_submission_spark.operators.joins import (
        range_join_big,
        range_join_bucketed,
    )

    rng = random.Random(11)
    facts = spark.createDataFrame(
        [(i, round(rng.uniform(0, 100), 3)) for i in range(2000)],
        "fid long, v double",
    )
    ivs = spark.createDataFrame(
        [
            (j, lo, round(lo + rng.uniform(0.1, 12.0), 3))
            for j in range(150)
            for lo in [round(rng.uniform(0, 95), 3)]
        ],
        "iid long, lo double, hi double",
    )
    want = {
        (r["fid"], r["iid"])
        for r in range_join_bucketed(facts, ivs, "v", "lo", "hi").collect()
    }
    got_df = range_join_big(facts, ivs, "v", "lo", "hi", bucket_width=8.0)
    got = {(r["fid"], r["iid"]) for r in got_df.collect()}
    assert got == want and len(want) > 0

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got_df.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_join_elides_exchange(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key must equi-join with NO
    Exchange in the plan (the pay-shuffle-once co-location story),
    and the join result must match the plain-join result."""
    import contextlib
    import io

    from bbdc20_submission_spark.sources.bucketed import (
        read_bucketed,
        write_bucketed,
    )
    from bbdc20_submission_spark.sources.harness import load_table

    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey", "o_totalprice")
    lineitem = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_quantity")
    write_bucketed(orders, "t_orders_b", ["o_orderkey"], 8)
    write_bucketed(lineitem, "t_lineitem_b", ["l_orderkey"], 8)
    bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    abcast = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        # force the shuffle-join path: at test scale AQE would broadcast
        # the tiny side, which hides the layout property being pinned
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        ob, lb = read_bucketed(spark, "t_orders_b"), read_bucketed(spark, "t_lineitem_b")
        joined = ob.join(lb, ob.o_orderkey == lb.l_orderkey)

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        tree = buf.getvalue().split("\n\n")[0]
        assert "Exchange" not in tree, tree
        assert "SortMergeJoin" in tree, tree

        want = (
            orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey).count()
        )
        assert joined.count() == want > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", abcast)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_salted_join_matches_plain_join(spark):
    """Salted equi-join must equal the plain join on skewed data and
    actually join on (key, salt)."""
    import contextlib
    import io

    from bbdc20_submission_spark.operators.joins import salted_join

    # heavy-tailed: 90% of big rows share one key
    big = spark.createDataFrame(
        [(i, 1 if i % 10 else i, float(i)) for i in range(5000)],
        "rid long, k long, v double",
    )
    small = spark.createDataFrame(
        [(k, f"dim{k}") for k in range(0, 5000, 10)] + [(1, "dim1")],
        "k long, label string",
    )
    want = big.join(small, "k").count()
    out = salted_join(big, small, ["k"], n_salts=8)
    assert out.count() == want > 0

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    assert "_salt" in buf.getvalue()


def test_salted_join_rejects_right_and_full(spark):
    """right/full would replicate unmatched small-side rows n_salts
    times — the operator must refuse them up front."""
    import pytest

    from bbdc20_submission_spark.operators.joins import salted_join

    big = spark.createDataFrame([(1, "a")], "k long, v string")
    small = spark.createDataFrame([(1, "d")], "k long, label string")
    for how in ("right", "full", "full_outer", "right_outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(big, small, ["k"], n_salts=4, how=how)


def test_salted_join_left_keeps_unmatched_once(spark):
    """left join: unmatched big rows appear exactly once (each big row
    carries exactly one salt)."""
    from bbdc20_submission_spark.operators.joins import salted_join

    big = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(300)], "rid long, k long, v double"
    )
    small = spark.createDataFrame([(0, "zero")], "k long, label string")
    out = salted_join(big, small, ["k"], n_salts=8, how="left")
    assert out.count() == 300
    assert out.filter(F.col("label").isNull()).count() == 200


def test_row_salt_spreads_identical_rows(spark):
    """A hot key of fully IDENTICAL rows must still spread over the
    salt space (a content-hash salt gives them all the same salt —
    the regression this pins)."""
    from bbdc20_submission_spark.operators.joins import _row_salt

    dupes = spark.createDataFrame([(1, "same")] * 1000, "k long, v string")
    n = dupes.withColumn("_salt", _row_salt(8)).select("_salt").distinct().count()
    assert n == 8


def test_salted_join_duplicate_row_hot_key_matches_plain(spark):
    """Equivalence on the duplicate-row skew shape specifically."""
    from bbdc20_submission_spark.operators.joins import salted_join

    big = spark.createDataFrame(
        [(1, "hot")] * 2000 + [(k, f"r{k}") for k in range(2, 50)],
        "k long, v string",
    )
    small = spark.createDataFrame(
        [(k, f"dim{k}") for k in range(0, 50)], "k long, label string"
    )
    assert salted_join(big, small, ["k"], n_salts=8).count() == big.join(small, "k").count()


def test_range_join_big_hi_on_bucket_boundary(spark):
    """hi exactly on / within float-eps above a bucket boundary must
    not lose fact rows in [boundary, hi) — the epsilon-regression pin.
    Also exercises magnitudes ~2^41 where an absolute 1e-12 epsilon
    underflows to a no-op."""
    from bbdc20_submission_spark.operators.joins import range_join_big

    facts = spark.createDataFrame(
        [(1, 8.0), (2, 8.00000000000005), (3, 7.9), (4, 2.0**41)],
        "fid long, v double",
    )
    ivs = spark.createDataFrame(
        [(10, 0.0, 8.0000000000001), (11, 2.0**41 - 1.0, 2.0**41 + 1.0)],
        "iid long, lo double, hi double",
    )
    got = {
        (r["fid"], r["iid"])
        for r in range_join_big(facts, ivs, "v", "lo", "hi", bucket_width=8.0).collect()
    }
    assert got == {(1, 10), (2, 10), (3, 10), (4, 11)}


def test_write_training_shards_layout(spark, sf_dir, tmp_path):
    """The trainer sink: one file per pack bucket, rows inside each
    bucket file physically ordered by (seq_id, seq_pos), shard
    membership deterministic across rewrites."""
    import glob
    import os

    from bbdc20_submission_spark.plans.curation import curate
    from bbdc20_submission_spark.sources.harness import load_table
    from bbdc20_submission_spark.sources.layout import write_training_shards

    docs = load_table(spark, "documents", sf_dir)
    chunks, _ = curate(docs)
    out = str(tmp_path / "shards")
    write_training_shards(chunks, out, budget_tokens=256, n_buckets=8)

    bucket_dirs = sorted(glob.glob(os.path.join(out, "pack_bucket=*")))
    assert len(bucket_dirs) == 8
    total = 0
    for d in bucket_dirs:
        files = glob.glob(os.path.join(d, "*.parquet"))
        assert len(files) == 1, d  # one shard file per bucket
        pdf = spark.read.parquet(files[0]).toPandas()
        total += len(pdf)
        # physical row order inside the file is the training order
        key = list(zip(pdf["seq_id"], pdf["seq_pos"]))
        assert key == sorted(key), d
    assert total == chunks.count()

    # determinism: a rewrite yields identical shard membership
    out2 = str(tmp_path / "shards2")
    write_training_shards(chunks, out2, budget_tokens=256, n_buckets=8)
    a = spark.read.parquet(out).select(
        "doc_id", "chunk_id", "pack_bucket", "seq_id", "seq_pos"
    )
    b = spark.read.parquet(out2).select(
        "doc_id", "chunk_id", "pack_bucket", "seq_id", "seq_pos"
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_write_training_shards_epoch_layout(spark, sf_dir, tmp_path):
    """Epoch-shuffled shard layout: sequences stay WHOLE within a
    shard, in-file order follows (epoch_key, seq_pos), epochs 0 and 1
    place sequences differently, and re-materializing an epoch is
    byte-deterministic."""
    import glob
    import os

    from bbdc20_submission_spark.operators.chunking import chunk_by_tokens
    from bbdc20_submission_spark.sources.harness import load_table
    from bbdc20_submission_spark.sources.layout import write_training_shards

    docs = load_table(spark, "documents", sf_dir)
    chunks = chunk_by_tokens(docs, chunk_tokens=32)

    def layout(epoch, tag):
        out = str(tmp_path / tag)
        write_training_shards(
            chunks, out, budget_tokens=256, n_buckets=8, epoch=epoch
        )
        pdf = spark.read.parquet(out).toPandas()
        # sequences whole per shard: one epoch_shard per (bucket, seq)
        seq_shards = pdf.groupby(["pack_bucket", "seq_id"])[
            "epoch_shard"
        ].nunique()
        assert (seq_shards == 1).all()
        # in-file physical order per shard dir
        for d in sorted(glob.glob(os.path.join(out, "epoch_shard=*"))):
            f = glob.glob(os.path.join(d, "*.parquet"))
            assert len(f) == 1, d
            sdf = spark.read.parquet(f[0]).toPandas()
            key = list(zip(sdf["epoch_key"], sdf["seq_pos"]))
            assert key == sorted(key), d
        return {
            (r.pack_bucket, r.seq_id): r.epoch_shard
            for r in pdf[["pack_bucket", "seq_id", "epoch_shard"]]
            .drop_duplicates()
            .itertuples()
        }

    e0 = layout(0, "e0")
    e1 = layout(1, "e1")
    assert e0.keys() == e1.keys()      # same sequence population
    assert e0 != e1                    # reshuffled placement
    assert layout(0, "e0b") == e0      # resumable: epoch 0 reproduces


def test_scaler_zero_scale_matches_sklearn_rule(spark):
    """Constant groups (zero stddev/range/IQR): sklearn's
    _handle_zeros_in_scale divides by 1, so every scaled value is 0.0
    — never null."""
    from bbdc20_submission_spark.operators.aggregates import robust_scale
    from bbdc20_submission_spark.operators.scalers import scale_group

    df = spark.createDataFrame(
        [("a", 5.0), ("a", 5.0), ("a", 5.0), ("b", 1.0), ("b", 3.0)],
        "k string, v double",
    )
    for mode in ("standard", "minmax", "robust"):
        got = {
            (r["k"], r["v"]): r["v_scaled"]
            for r in scale_group(df, ["k"], ["v"], mode=mode).collect()
        }
        assert all(
            got[("a", 5.0)] == 0.0 for _ in range(1)
        ), (mode, got)
        assert all(v is not None for v in got.values()), (mode, got)
    rs = {
        r["k"]: r["scaled"]
        for r in robust_scale(df, ["k"], "v").filter("k = 'a'").collect()
    }
    assert rs["a"] == 0.0


def test_tumbling_window_key_floors_negative_ts(spark):
    """Reference semantics int(ts*1000) // step * step: // FLOORS, so
    ts=-0.05 s at step 200 ms buckets to -200, not 0."""
    from bbdc20_submission_spark.operators.windows import tumbling_window_key

    df = spark.createDataFrame(
        [(-0.05,), (-0.2,), (0.05,), (0.399,)], "ts double"
    )
    got = {
        r["ts"]: r["w"]
        for r in df.select(
            "ts", tumbling_window_key("ts", 200).alias("w")
        ).collect()
    }
    ref = {t: (int(t * 1000) // 200) * 200 for t in got}
    assert got == ref, (got, ref)


def test_grid_pad_preserves_observed_nulls(spark):
    """pad_value fills only grid-added slots; a null observed in a
    real data row passes through."""
    import datetime as dt

    from bbdc20_submission_spark.operators.windows import grid_pad

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 1.0),
        (1, t0 + dt.timedelta(days=1), None),  # observed null
        # day 2 missing -> padded
        (1, t0 + dt.timedelta(days=3), 4.0),
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v double")
    out = {
        r["ts"]: r["v"]
        for r in grid_pad(
            df, ["k"], "ts", __import__("pyspark").sql.functions.expr(
                "interval 1 day"
            ), ["v"], pad_value=0.0
        ).collect()
    }
    assert out[t0 + dt.timedelta(days=2)] == 0.0  # padded slot
    assert out[t0 + dt.timedelta(days=1)] is None  # observed null kept
    assert out[t0] == 1.0 and out[t0 + dt.timedelta(days=3)] == 4.0


def test_asof_join_carries_whole_rows(spark):
    """A null payload column in the LATEST right row must not be
    resurrected from an older row (whole-row ASOF semantics)."""
    from bbdc20_submission_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 3.0)], "k long, ts double")
    right = spark.createDataFrame(
        [(1, 1.0, 5.0, 1.0), (1, 2.0, None, 2.0)],
        "k long, rts double, a double, b double",
    )
    row = asof_join(
        left, right, keys=["k"], left_ts="ts", right_ts="rts",
        right_cols=["a", "b"],
    ).collect()[0]
    assert row["a_asof"] is None and row["b_asof"] == 2.0
