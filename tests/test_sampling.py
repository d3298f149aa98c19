"""Deterministic curation sampling: reproducibility, per-stratum rates,
exact-k reservoirs, partitioning invariance."""

from __future__ import annotations

from pyspark.sql import functions as F

from bbdc20_submission_spark.operators.sampling import (
    reservoir_per_stratum,
    stratified_sample,
)


def _corpus(spark, n=4000):
    langs = ["en", "de", "es", "fr"]
    rows = [(i, langs[i % 4]) for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, lang string")


def test_stratified_sample_rates_and_determinism(spark):
    df = _corpus(spark)
    fr = {"en": 0.5, "de": 0.1}
    a = {r["doc_id"] for r in stratified_sample(df, "lang", fr).collect()}
    b = {r["doc_id"] for r in stratified_sample(df, "lang", fr).collect()}
    assert a == b, "same data + seed must pick the same rows"
    by_lang = (
        stratified_sample(df, "lang", fr)
        .groupBy("lang")
        .count()
        .collect()
    )
    counts = {r["lang"]: r["count"] for r in by_lang}
    # 1000 docs per lang; hash-threshold keeps ~fraction of them
    assert 400 <= counts["en"] <= 600
    assert 50 <= counts.get("de", 0) <= 170
    assert "es" not in counts and "fr" not in counts  # default 0.0


def test_stratified_sample_partitioning_invariant(spark):
    df = _corpus(spark)
    fr = {"en": 0.25, "es": 0.75}
    one = {r["doc_id"] for r in stratified_sample(df.coalesce(1), "lang", fr).collect()}
    many = {r["doc_id"] for r in stratified_sample(df.repartition(13), "lang", fr).collect()}
    assert one == many, "membership must not depend on the physical layout"


def test_reservoir_exact_k_and_determinism(spark):
    df = _corpus(spark, n=1000)
    a = reservoir_per_stratum(df, ["lang"], k=25)
    counts = {r["lang"]: r["count"] for r in a.groupBy("lang").count().collect()}
    assert counts == {"en": 25, "de": 25, "es": 25, "fr": 25}
    ids_a = {r["doc_id"] for r in a.collect()}
    ids_b = {r["doc_id"] for r in reservoir_per_stratum(df.repartition(7), ["lang"], k=25).collect()}
    assert ids_a == ids_b


def test_reservoir_small_stratum_keeps_all(spark):
    rows = [(1, "en"), (2, "en"), (3, "zz")]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = reservoir_per_stratum(df, ["lang"], k=10)
    assert out.count() == 3


def test_seed_changes_selection(spark):
    df = _corpus(spark)
    a = {r["doc_id"] for r in stratified_sample(df, "lang", {"en": 0.5}, seed=1).collect()}
    b = {r["doc_id"] for r in stratified_sample(df, "lang", {"en": 0.5}, seed=2).collect()}
    assert a != b


def test_no_shuffle_in_stratified_sample(spark):
    """The Bernoulli form must stay a narrow filter (no Exchange)."""
    import contextlib
    import io

    df = _corpus(spark)
    out = stratified_sample(df, "lang", {"en": 0.5})
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue().split("\n\n")[0]
    assert "Exchange" not in plan


def test_mixture_sample_hits_target_mixture(spark):
    """Data mixing: the surviving set's stratum shares must approach
    the target weights, the total must approach total_fraction, the
    result must be deterministic, and undersized strata keep all rows
    (rate capped at 1)."""
    from bbdc20_submission_spark.operators.sampling import mixture_sample

    df = _corpus(spark, 8000)  # 2000 per lang
    out = mixture_sample(
        df, "lang", {"en": 0.6, "de": 0.3, "fr": 0.1}, total_fraction=0.5
    )
    counts = {r["lang"]: r["cnt"] for r in
              out.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    assert "es" not in counts  # weight 0 -> dropped
    # targets: en 0.5*8000*0.6=2400 > 2000 -> capped, keep all 2000;
    # de 1200 of 2000 (rate 0.6); fr 400 of 2000 (rate 0.2)
    assert counts["en"] == 2000
    assert abs(counts["de"] - 1200) < 120  # hash-threshold noise
    assert abs(counts["fr"] - 400) < 80
    again = mixture_sample(
        df, "lang", {"en": 0.6, "de": 0.3, "fr": 0.1}, total_fraction=0.5
    )
    assert sorted(r["doc_id"] for r in again.collect()) == sorted(
        r["doc_id"] for r in out.collect()
    )


def test_mixture_sample_caps_undersized_strata(spark):
    """A stratum whose target exceeds its size is kept whole, not
    oversampled."""
    from bbdc20_submission_spark.operators.sampling import mixture_sample

    rows = [(i, "en" if i < 3900 else "de") for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    # de target = 0.5 * 4000 * 0.9 = 1800 > 100 available -> keep all
    out = mixture_sample(
        df, "lang", {"en": 0.1, "de": 0.9}, total_fraction=0.5
    )
    counts = {r["lang"]: r["cnt"] for r in
              out.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    assert counts["de"] == 100


def test_mixture_sample_partitioning_invariant(spark):
    """Mixture membership is a pure function of the data — identical
    under any repartitioning (the 100-TB reproducibility property)."""
    from bbdc20_submission_spark.operators.sampling import mixture_sample

    df = _corpus(spark, 2000)
    base = sorted(
        r["doc_id"]
        for r in mixture_sample(
            df, "lang", {"en": 0.5, "de": 0.5}, total_fraction=0.3
        ).collect()
    )
    for parts in (1, 7, 64):
        again = sorted(
            r["doc_id"]
            for r in mixture_sample(
                df.repartition(parts),
                "lang",
                {"en": 0.5, "de": 0.5},
                total_fraction=0.3,
            ).collect()
        )
        assert again == base


def test_split_assign_total_disjoint_and_stable(spark):
    """Every row gets exactly one split; assignment is a pure function
    of (id, seed) — invariant under repartitioning and re-invocation —
    and approximates the requested weights."""
    from bbdc20_submission_spark.operators.sampling import split_assign

    df = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    out = split_assign(df, (0.8, 0.1, 0.1), ("train", "val", "test"))
    rows = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(rows) == 4000
    assert set(rows.values()) == {"train", "val", "test"}
    counts = {s: sum(1 for v in rows.values() if v == s) for s in set(rows.values())}
    assert abs(counts["train"] / 4000 - 0.8) < 0.03
    again = {
        r["doc_id"]: r["split"]
        for r in split_assign(
            df.repartition(13), (0.8, 0.1, 0.1), ("train", "val", "test")
        ).collect()
    }
    assert rows == again


def test_split_assign_portable_matches_duckdb(spark):
    """portable=True must reproduce the documented md5 formula with
    the exact integer edges (838860 / 943718 for 80/10/10)."""
    import duckdb

    from bbdc20_submission_spark.operators.sampling import split_assign

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    got = {
        r["doc_id"]: r["split"]
        for r in split_assign(df, portable=True, seed=7).collect()
    }
    want = dict(
        duckdb.sql("""
        SELECT i,
               CASE WHEN b < 838860 THEN 'train'
                    WHEN b < 943718 THEN 'val' ELSE 'test' END
        FROM (SELECT i,
                     CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':7'), 1, 8))
                          AS BIGINT) % 1048576 AS b
              FROM generate_series(0, 499) t(i))
        """).fetchall()
    )
    assert got == want


def test_split_assign_validates_inputs(spark):
    import pytest

    from bbdc20_submission_spark.operators.sampling import split_assign

    df = spark.range(3).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError, match="equal-length"):
        split_assign(df, (0.5, 0.5), ("a",))
    with pytest.raises(ValueError, match="non-negative"):
        split_assign(df, (-0.1, 1.1), ("a", "b"))


def _spec_token_budget(rows, budgets):
    """Reference spec: per stratum, order by (bucket, id), keep while
    cumulative tokens BEFORE the doc < budget."""
    import hashlib

    def bucket(doc_id):
        h = hashlib.md5(f"{doc_id}:7".encode()).hexdigest()[:8]
        return int(h, 16) % (1 << 20)

    by_stratum: dict = {}
    for doc_id, lang, toks in rows:
        by_stratum.setdefault(lang, []).append((bucket(doc_id), doc_id, toks))
    kept = set()
    for lang, docs in by_stratum.items():
        if isinstance(budgets, dict):
            b = budgets.get(lang, 0)
        else:
            b = budgets
        cum = 0
        for _, doc_id, toks in sorted(docs):
            if cum < b:
                kept.add(doc_id)
            cum += toks
    return kept


def test_token_budget_sample_matches_spec(spark):
    """Fuzz vs the one-window reference spec: mixed strata, zero-token
    docs, tiny/huge/zero budgets, mapping and scalar forms — and the
    coarse-bucket factorization must be invisible (n_coarse=16 equals
    n_coarse=4096)."""
    import random

    from bbdc20_submission_spark.operators.sampling import (
        token_budget_sample,
    )

    rng = random.Random(99)
    langs = ["en", "de", "es", "fr", "zh"]
    rows = [
        (i, rng.choice(langs), rng.choice([0, 1, 3, 7, 20, 120]))
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, toks long")

    for budgets in (
        {"en": 300, "de": 50, "es": 0, "fr": 10_000_000},
        137,
        0,
    ):
        want = _spec_token_budget(rows, budgets)
        got = {
            r["doc_id"]
            for r in token_budget_sample(
                df, "lang", budgets, "toks", portable=True
            ).collect()
        }
        assert got == want, (budgets, len(got), len(want))
        got16 = {
            r["doc_id"]
            for r in token_budget_sample(
                df, "lang", budgets, "toks", portable=True, n_coarse=16
            ).collect()
        }
        assert got16 == want, "coarse granularity changed membership"

    # a positive budget keeps at least one doc per stratum, and the
    # first doc to cross the budget is included
    tiny = token_budget_sample(df, "lang", 1, "toks", portable=True)
    per = {r["lang"]: r["count"] for r in tiny.groupBy("lang").count().collect()}
    assert set(per) == set(langs)
    assert {r["doc_id"] for r in tiny.collect()} == _spec_token_budget(rows, 1)


def test_token_budget_sample_null_stratum_and_reserved_cols(spark):
    """A NULL stratum is a group like any other under a scalar budget
    (null-safe join — a plain equi-join would silently drop it); under
    a mapping it counts as absent (budget 0). Reserved working-column
    names on the input must raise, not silently corrupt."""
    import pytest

    from pyspark.sql import functions as F

    from bbdc20_submission_spark.operators.sampling import (
        token_budget_sample,
    )

    rows = [(i, None if i % 3 == 0 else "en", 10) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, toks long")

    got = token_budget_sample(df, "lang", 45, "toks", portable=True)
    per = {
        r["lang"]: r["count"] for r in got.groupBy("lang").count().collect()
    }
    # budget 45 at 10 tokens/doc -> cum-before < 45 keeps exactly 5 docs
    assert per == {None: 5, "en": 5}

    mapped = token_budget_sample(df, "lang", {"en": 45}, "toks", portable=True)
    assert {r["lang"] for r in mapped.select("lang").distinct().collect()} == {
        "en"
    }

    with pytest.raises(ValueError, match="reserves working columns"):
        token_budget_sample(
            df.withColumn("_cb", F.lit(1)), "lang", 45, "toks"
        )


def test_mixture_sample_null_stratum_takes_weight_zero_path(spark):
    """r6 advice: NULL-stratum rows must flow through the weight-0
    path (dropped by rate) via eqNullSafe — matching
    token_budget_sample — rather than vanish by equi-join mechanics.
    Either way they are absent from the output, but the join must not
    error and listed strata must be unaffected by NULL rows."""
    from bbdc20_submission_spark.operators.sampling import mixture_sample

    rows = [(i, "en") for i in range(200)] + [(1000 + i, None) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = mixture_sample(
        df, "lang", {"en": 1.0}, total_fraction=0.5, seed=3, portable=True
    )
    got = {r["doc_id"] for r in out.collect()}
    assert got  # en rows sampled
    assert not any(i >= 1000 for i in got)  # NULL stratum: weight 0
    # the contract: NULL-stratum rows still count toward N, so en's
    # keep rate is total_fraction * N * w / n_en = 0.5 * 250 / 200;
    # membership is exactly the portable hash threshold
    from bbdc20_submission_spark.operators.sampling import (
        _BUCKETS,
        portable_hash_bucket,
    )

    thr = int(0.5 * 250 * 1.0 / 200 * _BUCKETS)
    want = {
        r["doc_id"]
        for r in df.filter("lang IS NOT NULL")
        .filter(portable_hash_bucket(F.col("doc_id"), 3) < F.lit(thr))
        .collect()
    }
    assert got == want


def test_int_strata_keys_match_string_keys(spark):
    """Non-string strata keys: an int stratum column sampled with int
    keys picks exactly the rows the same data picks as strings with
    the same keys as strings — for every sampler that takes a key
    mapping (int keys once crashed the SQL-literal formatting)."""
    from bbdc20_submission_spark.operators.sampling import (
        mixture_sample,
        token_budget_sample,
    )

    rows = [(i, i % 5, 1 + i % 7) for i in range(2000)]
    ints = spark.createDataFrame(rows, "doc_id long, q int, toks long")
    strs = ints.withColumn("q", F.col("q").cast("string"))

    def ids(df):
        return {r["doc_id"] for r in df.select("doc_id").collect()}

    def as_str(m):
        return {str(k): v for k, v in m.items()}

    fractions = {0: 0.5, 1: 0.1, 3: 1.0}
    weights = {0: 0.6, 2: 0.3, 4: 0.1}
    budgets = {1: 400, 2: 50, 4: 10_000}
    cases = [
        lambda df, m: stratified_sample(df, "q", m, seed=3),
        lambda df, m: mixture_sample(df, "q", m, total_fraction=0.3, seed=3),
        lambda df, m: token_budget_sample(df, "q", m, "toks", seed=3),
    ]
    for run, keys in zip(cases, (fractions, weights, budgets)):
        got = ids(run(ints, keys))
        assert got, keys
        assert got == ids(run(strs, as_str(keys))), keys
