"""SQL-callable function surface: registrations resolve, and every
sg_* function agrees exactly with its certified DataFrame-side twin."""

from __future__ import annotations

from pyspark.sql import functions as F

from bbdc20_submission_spark.functions.sqlfns import register_sql_functions
from bbdc20_submission_spark.sources.harness import load_table


def test_sql_functions_match_dataframe_twins(spark, sf_dir):
    names = register_sql_functions(spark)
    assert set(names) >= {
        "sg_ws_tokens", "sg_bpe_tokens", "sg_quality", "sg_fingerprint",
        "sg_cosine", "sg_hamming64", "sg_micro",
    }
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    # an empty document: its 0 chars divide the char-class ratios
    docs = docs.unionByName(spark.createDataFrame([(-1, "")], docs.schema))
    docs.createOrReplaceTempView("t_docs")

    from bbdc20_submission_spark.operators.text import (
        portable_fingerprint,
        quality_score,
        token_count,
        ws_tokens,
    )

    df_side = quality_score(docs).select(
        "doc_id",
        token_count("text", "ws").alias("nt"),
        token_count("text", "bpe").alias("nb"),
        F.col("quality"),
        portable_fingerprint(ws_tokens("text")).alias("fp"),
    )
    sql_side = spark.sql(
        """
        SELECT doc_id, sg_ws_tokens(text) AS nt, sg_bpe_tokens(text) AS nb,
               sg_quality(text) AS quality, sg_fingerprint(text) AS fp
        FROM t_docs
        """
    )
    a = {r["doc_id"]: (r["nt"], r["nb"], r["quality"], r["fp"]) for r in df_side.collect()}
    b = {r["doc_id"]: (r["nt"], r["nb"], r["quality"], r["fp"]) for r in sql_side.collect()}
    assert a == b and len(a) > 1
    assert a[-1][:3] == (1, 0, 0.3125)


def test_sql_similarity_scalars(spark):
    register_sql_functions(spark)
    row = spark.sql(
        """
        SELECT round(sg_cosine(array(1.0D, 0.0D, 2.0D), array(2.0D, 0.0D, 4.0D)), 9) AS c,
               sg_cosine(array(0.0D, 0.0D), array(1.0D, 2.0D)) AS z,
               sg_hamming64(11, 8) AS h,
               sg_micro(1.0000005) AS m,
               sg_micro(-33.2609375) AS mneg
        """
    ).collect()[0]
    assert row["c"] == 1.0
    assert row["z"] is None  # zero norm: undefined cosine, not DIVIDE_BY_ZERO
    assert row["h"] == 2  # 1011 ^ 1000 = 0011
    assert row["m"] == 1000001  # round-half-up at the tie
    assert row["mneg"] == -33260937  # floor(x*1e6 + 0.5): half rounds UP (toward +inf)


def test_arrow_udf_cosine_within_one_ulp(spark, sf_dir):
    """Spark 4.1 arrow-native UDF: arrow_cosine agrees with the
    expression-path cosine to 1 ulp on real embeddings (pairwise vs
    left-fold summation — documented contract), nulls pass through
    and a zero-norm vector yields NULL on both paths."""
    from pyspark.sql import functions as F

    from bbdc20_submission_spark.functions.arrowfns import arrow_cosine
    from bbdc20_submission_spark.operators.similarity import cosine_sql, l2_norm_sql
    from bbdc20_submission_spark.sources.harness import load_table

    cosine = F.expr(cosine_sql("a", "b", l2_norm_sql("a"), l2_norm_sql("b")))

    em = load_table(spark, "embeddings", sf_dir)
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    two = (
        em.select("vec_id", v.alias("a"))
        .limit(300)
        .withColumn("b", F.reverse(F.col("a")))
        .withColumn(
            "a", F.when(F.col("vec_id") % 97 == 0, F.lit(None)).otherwise(F.col("a"))
        )
    )
    # null ELEMENTS and length mismatches must also agree (the
    # expression path's zip_with/aggregate null propagation)
    two = two.withColumn(
        "a",
        F.when(
            F.col("vec_id") % 89 == 0,
            F.concat(F.slice("a", 1, 63), F.array(F.lit(None).cast("double"))),
        )
        .when(F.col("vec_id") % 83 == 0, F.slice("a", 1, 10))
        .when(F.col("vec_id") % 79 == 0, F.array_repeat(F.lit(0.0), 64))
        .otherwise(F.col("a")),
    )
    rows = two.select(
        "vec_id",
        cosine.alias("e"),
        arrow_cosine(F.col("a"), F.col("b")).alias("g"),
    ).collect()
    assert len(rows) == 300
    nulls = [r for r in rows if r["e"] is None]
    # whole-array nulls + null-element rows + short-array rows
    assert len(nulls) >= 6 and all(r["g"] is None for r in nulls)
    zero = [r for r in rows if r["vec_id"] % 79 == 0 and r["vec_id"] % 97
            and r["vec_id"] % 89 and r["vec_id"] % 83]
    assert zero and all(r["e"] is None for r in zero)
    diffs = [abs(r["e"] - r["g"]) for r in rows if r["e"] is not None]
    assert max(diffs) <= 5e-16, max(diffs)


def test_arrow_udf_cosine_fast_path_pure_batches(spark, sf_dir):
    """All-valid equal-length batches take the vectorized reduceat
    fast path — results must still match the expression twin,
    including NULL for a zero-norm vector (its own one-row batch)."""
    from pyspark.sql import functions as F

    from bbdc20_submission_spark.functions.arrowfns import arrow_cosine
    from bbdc20_submission_spark.operators.similarity import cosine_sql, l2_norm_sql
    from bbdc20_submission_spark.sources.harness import load_table

    cosine = F.expr(cosine_sql("a", "b", l2_norm_sql("a"), l2_norm_sql("b")))

    em = load_table(spark, "embeddings", sf_dir)
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    two = em.select(v.alias("a")).limit(500).withColumn("b", F.reverse("a"))
    zero = spark.createDataFrame(
        [([0.0] * 64, [1.0] * 64)], "a array<double>, b array<double>"
    )
    two = two.unionByName(zero)
    rows = two.select(
        cosine.alias("e"),
        arrow_cosine(F.col("a"), F.col("b")).alias("g"),
    ).collect()
    assert len(rows) == 501
    assert sum(r["e"] is None and r["g"] is None for r in rows) == 1
    rows = [r for r in rows if r["e"] is not None]
    assert all(r["g"] is not None for r in rows)
    assert max(abs(r["e"] - r["g"]) for r in rows) <= 5e-16
