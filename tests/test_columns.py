"""Column-adding operators on a frame that already has their output
column: the column is replaced (``withColumn`` semantics), never
duplicated, and the values match a run on the frame without it."""

from __future__ import annotations

import pytest

from bbdc20_submission_spark.operators.chunking import pack_sequences
from bbdc20_submission_spark.operators.columns import add_sql_columns
from bbdc20_submission_spark.operators.sampling import split_assign
from bbdc20_submission_spark.operators.text import language_id

ROWS = [
    (1, 0, 5, "the cat is on the mat and it is happy"),
    (2, 0, 4, "le chat est sur la table et il est content"),
    (2, 1, 3, "der Hund ist in dem Haus und er ist froh"),
    (3, 0, 6, "el perro es de la casa y no es malo"),
]
SCHEMA = "doc_id long, chunk_id long, n_tokens long, text string"

OPERATORS = {
    "split_assign": (lambda df: split_assign(df), "split"),
    "pack_sequences": (lambda df: pack_sequences(df, budget_tokens=8, n_buckets=2), "pack_bucket"),
    "language_id": (lambda df: language_id(df), "lang_pred"),
}


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_existing_output_column_is_replaced(spark, name):
    op, out_col = OPERATORS[name]
    base = spark.createDataFrame(ROWS, SCHEMA)
    clashing = base.selectExpr("*", f"CAST(NULL AS STRING) AS `{out_col}`")
    want, got = op(base), op(clashing)
    assert got.columns.count(out_col) == 1, got.columns
    assert sorted(got.columns) == sorted(want.columns)
    assert _rows(got) == _rows(want)


def test_pack_sequences_rejects_its_working_column(spark):
    chunks = spark.createDataFrame(ROWS, SCHEMA).selectExpr("*", "0L AS _start")
    with pytest.raises(ValueError, match="_start"):
        pack_sequences(chunks)


def test_add_sql_columns_replaces_in_place_and_appends(spark):
    df = spark.createDataFrame([(1, 2)], "a long, B long")
    out = add_sql_columns(df, {"b": "a + B", "c": "a * 10"})
    assert out.columns == ["a", "b", "c"]
    assert tuple(out.collect()[0]) == (1, 3, 10)
