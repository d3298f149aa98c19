"""SQL-callable engine functions (Spark SQL scalar UDFs, SPARK-28264).

``register_sql_functions(spark)`` creates temporary SQL functions so
pure-SQL users get the engine's scalar vocabulary without touching the
DataFrame API:

    SELECT doc_id, sg_quality(text) AS q
    FROM documents WHERE sg_ws_tokens(text) >= 8

Every function body is a SQL EXPRESSION (resolved to the same Catalyst
operators the DataFrame operators compile to) — no Python UDFs, so
calling these from SQL costs exactly what the DataFrame path costs and
stays inside whole-stage codegen. The token-count, stopword-ratio and
quality bodies are the ``operators.text`` fragments that
``quality_score`` parses, the cosine body is the zero-safe
``operators.similarity.cosine_sql`` fragment (NULL on a zero-norm
vector), and the other constants (token pattern, fingerprint
base/modulus) come from ``operators.text``, so the SQL surface cannot
drift from the certified DataFrame surface.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from bbdc20_submission_spark.operators.similarity import cosine_sql, l2_norm_sql
from bbdc20_submission_spark.operators.text import (
    STOPWORDS,
    TOKEN_PATTERN,
    _quality_sql,
    _raw_text_stats_sql,
    _stopword_hits_sql,
    _ws_tokens_sql,
)


def _definitions() -> dict[str, str]:
    # the text functions are the quality_score fragments over the
    # parameter t, so empty text scores as it does there
    toks = _ws_tokens_sql("t")
    raw = _raw_text_stats_sql("t", toks, _stopword_hits_sql(toks, STOPWORDS["en"]))
    return {
        # text analysis
        "sg_ws_tokens(t STRING) RETURNS INT": raw["n_tokens"],
        "sg_bpe_tokens(t STRING) RETURNS INT": (
            f"size(regexp_extract_all(t, '{TOKEN_PATTERN}', 0))"
        ),
        "sg_stopword_ratio(t STRING) RETURNS DOUBLE": raw["stopword_ratio"],
        "sg_quality(t STRING) RETURNS DOUBLE": f"round({_quality_sql(raw)}, 6)",
        # portable rolling fingerprint (md5-prefix token hash, the d5
        # cross-engine form: conv(substr(md5, 1, 8)) folded mod 1e9+7)
        "sg_fingerprint(t STRING) RETURNS BIGINT": (
            "aggregate(split(t, ' '), CAST(0 AS BIGINT), (acc, x) -> "
            "(acc * 257 + pmod(CAST(conv(substring(md5(x), 1, 8), 16, 10) "
            "AS BIGINT), 1000000007)) % 1000000007)"
        ),
        # similarity scalars
        "sg_cosine(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) RETURNS DOUBLE": cosine_sql(
            "a", "b", l2_norm_sql("a"), l2_norm_sql("b")
        ),
        "sg_hamming64(a BIGINT, b BIGINT) RETURNS INT": "CAST(bit_count(a ^ b) AS INT)",
        # hash-stable 6-decimal integerization (oracle authoring rule)
        "sg_micro(x DOUBLE) RETURNS BIGINT": (
            "CAST(floor(x * 1e6 + 0.5 + 1e-9) AS BIGINT)"
        ),
    }


def register_sql_functions(spark: SparkSession) -> list[str]:
    """Create the ``sg_*`` temporary SQL functions on this session;
    returns the registered names."""
    names = []
    for signature, body in _definitions().items():
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {signature} RETURN {body}"
        )
        names.append(signature.split("(", 1)[0])
    return names
